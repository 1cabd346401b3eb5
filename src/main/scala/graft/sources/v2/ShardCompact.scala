package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/**
 * Atomic small-file compaction for [[ShardSink]] directories — the
 * maintenance half every append-heavy table needs at scale: a streaming
 * ingest lands one shard per micro-batch, and a year of micro-batches
 * is hundreds of thousands of small files whose listing and per-file
 * open costs dominate reads long before data volume does.
 *
 * The rewrite is the store's one copy-on-write commit
 * ([[ShardRewrite.commit]], which states the crash contract): every
 * manifested row is rewritten as `targetShards` consolidated shards and
 * ONE atomic manifest publish switches readers from the old shard set
 * to the new one — a crash leaves the old table or the new one, never a
 * mix.
 *
 * Concurrency is the [[ShardLock]] structural guarantee — the sink's
 * job commit takes the same lock, so a compaction cannot interleave
 * with an append's publish. Re-running after any crash is safe and
 * converges (compacting an already-compact table is a no-op).
 */
object ShardCompact {

  /** Rewrite the manifested shards of `path` into `targetShards` files.
    * No-op when the table already has ≤ `targetShards` shards. Returns
    * the number of shards after compaction. A table carrying `_STATS`
    * key ranges keeps them: the rewrite re-collects stats on the same
    * column, so compaction never costs the keyed-maintenance prune.
    *
    * Layout: by default (and always when the table carries `_STATS`)
    * the rewrite is RANGE-partitioned on the stats/`sortBy` column, so
    * each output shard covers a disjoint key range — a hash/round-robin
    * repartition would leave every output shard spanning the whole key
    * domain and silently destroy the min/max prune the stats exist for
    * (every future takedown back to a full-table read). Pass
    * `sortBy = Some(col)` to range-lay-out a stats-less table too. */
  def compact(
      spark: SparkSession,
      path: String,
      schema: StructType,
      targetShards: Int = 1,
      leaseMs: Long = ShardLock.DefaultLeaseMs,
      sortBy: Option[String] = None): Int = {
    require(targetShards >= 1, s"targetShards must be >= 1: $targetShards")
    sortBy.foreach(c => require(schema.fieldNames.contains(c),
      s"sortBy column '$c' not in table schema ${schema.fieldNames.mkString(",")}"))
    ShardLock.withLock(spark, path, leaseMs) {
    val meta = ShardMeta.load(spark, path)
    meta.requireCovers(schema, "compact")
    // live merge-on-read tombstones force the rewrite even on an
    // already-compact table: compaction IS their materialization step
    // ([[ShardTombstones]]) — early-returning would leave a 1-shard
    // table's deferred deletes logical forever
    if (meta.entries.size <= targetShards && meta.tombstones.isEmpty)
      return meta.entries.size
    // range layout keys on the FIRST stats column (the table's primary
    // prune axis by convention); secondary sidecars re-collect on the
    // new layout like any append
    val layoutCol = sortBy.orElse(meta.stats.headOption.map(_.column))
    // the rewrite reads through every live tombstone, so the commit
    // retires every segment (their files stay for snapshot readers)
    val in = ShardReader.read(spark, meta, schema)
    val shaped = layoutCol match {
      case Some(c) if targetShards > 1 =>
        in.repartitionByRange(targetShards, org.apache.spark.sql.functions.col(c))
      case Some(c) =>
        in.coalesce(1).sortWithinPartitions(org.apache.spark.sql.functions.col(c))
      case None => in.repartition(targetShards)
    }
    ShardRewrite.commit(spark, meta, "compact", meta.names.toSet, Seq(shaped))
      .size
    }
  }
}
