package graft.sources.v2

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Copy-on-write keyed delete for [[ShardSink]] tables — the takedown /
 * right-to-be-forgotten operation a training-corpus store must support
 * (reference has no analog; this is the durable-table increment the
 * append ([[ShardSink]]) + compaction ([[ShardCompact]]) pair leaves
 * out: removing a document by id without rewriting the table).
 *
 * Only the shards that actually CONTAIN a matching key are rewritten,
 * and — when the table carries `_STATS` key ranges ([[ShardStats]],
 * written by appends with the `statsColumn` option) — only the shards
 * whose [min,max] can contain a key are even READ: hit discovery is a
 * broadcast range-join of the key set against the ≤-file-count shard
 * range table, then one scan of the surviving candidates for per-shard
 * match counts (a bounded, ≤-shard-count collect, the house model-state
 * contract). At 100 TB a 5-id takedown reads the handful of shards the
 * manifest stats cannot rule out, not the table. Without stats (or
 * stats on a different column) discovery degrades to one manifest-scoped
 * scan of every shard — correct, just un-pruned. Untouched shards keep
 * their manifest entries and are never read again.
 *
 * The rewrite is the store's one copy-on-write commit
 * ([[ShardRewrite.commit]], which states the crash contract): survivors
 * of the hit shards are rewritten and ONE atomic manifest publish
 * switches readers from (all old shards) to (untouched old shards +
 * rewritten shards). A crash before the publish leaves the table
 * untouched (re-run to converge); after it, the delete is APPLIED and a
 * re-run matches nothing.
 *
 * Concurrency is the [[ShardLock]] structural guarantee (the sink's
 * commit takes the same lock, so even an append cannot interleave with
 * the publish). The NEAR-DUP index deliberately has no delete
 * counterpart: an admission screen treats a takedown as "never re-admit
 * this content", which is exactly what the retained band keys express.
 * The BM25 index handles deletes via doc-keyed tombstones
 * ([[graft.operators.Retrieval]]), since postings ARE doc-keyed.
 */
object ShardDelete {

  /** Hit-discovery prune, exposed for spec-level file-list asserts and
    * the stage-timed scale probes: the shard names a delete/upsert of
    * `keys` must read, given the table's `_STATS` (all manifested shards
    * when stats are absent or keyed differently). */
  def candidateShards(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      keys: DataFrame): Seq[String] =
    ShardMeta.load(spark, path).candidates(spark, schema(keyCol).dataType,
      keyCol, keys.select(keys.columns.head).distinct()
        .withColumnRenamed(keys.columns.head, "__k"))

  /** The named shards' rows tagged with their shard name in `__shard`.
    * Live merge-on-read tombstones apply BEFORE hit counting: rows a
    * deferred delete already removed logically must neither count as
    * hits nor be resurrected by the rewrite. */
  private def tagged(spark: SparkSession, meta: ShardMeta, schema: StructType,
      shards: Seq[String]): DataFrame = {
    val t0 = ShardPayload.read(spark, schema, meta.fmt, meta.files(shards))
      .withColumn("__shard", element_at(split(input_file_name(), "/"), -1))
    meta.tombstones.fold(t0)(t =>
      ShardTombstones.minus(spark, meta.dir, t0, t, Some("__shard")))
  }

  /**
   * Delete every row of the table at `path` whose `keyCol` appears in
   * `keys` (a one-column DataFrame — joined, never collected, so a
   * large takedown list is fine). Returns the number of rows deleted
   * (0 = no-op, manifest untouched).
   */
  def deleteByKey(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      keys: DataFrame,
      leaseMs: Long = ShardLock.DefaultLeaseMs): Long = {
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in table schema ${schema.fieldNames.mkString(",")}")
    require(keys.columns.length == 1,
      s"keys must be a one-column frame, got ${keys.columns.mkString(",")}")
    ShardLock.withLock(spark, path, leaseMs) {
    val meta = ShardMeta.load(spark, path)
    meta.requireCovers(schema, "deleteByKey")
    if (meta.entries.isEmpty) return 0L

    val keyDf = keys.select(keys.columns.head).distinct()
      .withColumnRenamed(keys.columns.head, "__k")
    // manifest-level prune FIRST: shards whose stats range cannot hold
    // any key are never read (zero data I/O for them)
    val candidates = meta.candidates(spark, schema(keyCol).dataType, keyCol, keyDf)
    if (candidates.isEmpty) return 0L
    val rows = tagged(spark, meta, schema, candidates)

    // ONE pass over the CANDIDATES finds the hit shards and their
    // per-shard match counts — ≤ shard-count rows on the driver, bounded
    // by the table's file count, never its data
    val hitCounts = rows
      .join(keyDf, rows(keyCol) === col("__k"), "left_semi")
      .groupBy(col("__shard")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    if (hitCounts.isEmpty) return 0L

    // rewrite ONLY the hit shards' survivors
    ShardRewrite.commit(spark, meta, "delete", hitCounts.keySet, Seq(
      rows.filter(col("__shard").isin(hitCounts.keys.toSeq: _*))
        .join(keyDf, rows(keyCol) === col("__k"), "left_anti")
        .drop("__shard")))
    hitCounts.values.sum
    }
  }

  /**
   * MERGE-ON-READ keyed delete — the metadata-sized takedown
   * ([[ShardTombstones]] has the full design): publish the key set as
   * one tombstone segment scoped to the currently-manifested shards,
   * WITHOUT reading or rewriting any data file. Every read path
   * ([[ShardReader.read]]/[[ShardReader.readByKey]],
   * [[ShardSnapshot.read]], the CDC feeds, and the copy-on-write
   * mutators' own scans) anti-joins live tombstones out;
   * [[ShardCompact.compact]] materializes them and retires the
   * segments. On a 100 TB table a 5-key takedown costs one
   * takedown-sized parquet write plus one sidecar rename under the
   * lock — no shard I/O at all — where [[deleteByKey]] pays a full
   * rewrite of every hit shard.
   *
   * Returns the number of DISTINCT non-null keys recorded (a deferred
   * delete never scans, so it cannot count matched rows — keys absent
   * from the table are recorded and harmlessly never match). Nulls are
   * dropped (null never equals — keyed deletes cannot remove null-key
   * rows, same as [[deleteByKey]]). The tombstone key column is a
   * table-level property while segments are live: deferring deletes on
   * a second column is refused loud (compact to materialize first).
   * Re-running the same deferred delete is idempotent in effect (the
   * second segment's keys filter nothing new) and converges physically
   * at the next compaction.
   */
  def deleteByKeyDeferred(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      keys: DataFrame,
      leaseMs: Long = ShardLock.DefaultLeaseMs): Long = {
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in table schema ${schema.fieldNames.mkString(",")}")
    require(keys.columns.length == 1,
      s"keys must be a one-column frame, got ${keys.columns.mkString(",")}")
    ShardLock.withLock(spark, path, leaseMs) {
    val meta = ShardMeta.load(spark, path)
    meta.requireCovers(schema, "deleteByKeyDeferred")
    if (meta.entries.isEmpty) return 0L
    val keyType = schema(keyCol).dataType
    val tag = ShardSchema.tagOf(keyType)
    val prior = meta.tombstones
    prior.foreach(t => require(t.column == keyCol && t.tag == tag,
      s"table at $path already carries tombstones on '${t.column}' " +
        s"(${t.tag}); compact to materialize them before deferring " +
        s"deletes on '$keyCol' ($tag)"))
    ShardTombstones.writeSegment(
        spark, meta.fs, meta.dir, keyCol, keyType, keys) match {
      case None => 0L
      case Some((file, n)) =>
        val seg = ShardTombstones.Segment(file, n, meta.names.toSet)
        val merged = prior
          .map(t => t.copy(segments = t.segments :+ seg))
          .getOrElse(ShardTombstones.Tombstones(keyCol, tag, Seq(seg)))
        ShardTombstones.writeAtomic(meta.conf, meta.fs, meta.dir, merged)
        n
    }
    }
  }

  /**
   * Copy-on-write keyed UPSERT — the other half of the keyed-maintenance
   * pair ([[deleteByKey]]): every existing row whose `keyCol` matches an
   * update row's key is replaced, update rows with a new key are
   * inserted, and ONE atomic manifest publish switches readers to the
   * post-upsert table — the MERGE INTO of the shard store, committed
   * by [[ShardRewrite.commit]] (a crash before the publish leaves the
   * table untouched; after it, the upsert is applied and a re-run
   * converges: the same updates then replace their own prior values).
   *
   * `updates` carries the FULL table schema and must be key-unique
   * (checked — two update rows for one key have no deterministic
   * outcome). Historical multi-copies of a key (the same id appended
   * twice) are healed by construction: every old copy lives in a hit
   * shard and is anti-joined out, exactly one update row lands. Only hit
   * shards are rewritten; hit DISCOVERY reads only the shards the
   * `_STATS` key ranges cannot rule out — with stats, an upsert touching
   * a handful of keys reads and rewrites a handful of shards; without
   * them it falls back to one manifest-scoped scan of every shard to
   * find the hits (still rewriting only hits).
   *
   * Returns (replaced, inserted): old rows removed, update keys that
   * matched no existing row. Concurrency is the [[ShardLock]] structural
   * guarantee, as in [[deleteByKey]].
   */
  def upsertByKey(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      updates: DataFrame,
      leaseMs: Long = ShardLock.DefaultLeaseMs): (Long, Long) = {
    require(updates.columns.toSeq == schema.fieldNames.toSeq,
      s"updates must carry the table schema ${schema.fieldNames.mkString(",")}" +
        s" in order, got ${updates.columns.mkString(",")}")
    ShardLock.withLock(spark, path, leaseMs) {
    val meta = ShardMeta.load(spark, path)
    meta.requireCovers(schema, "upsertByKey")

    // updates feed four consumers (uniqueness gate, count, hit scan,
    // write) — scope-cached so the caller's plan runs once
    val up = graft.CacheScope.scoped(updates)
    // row count + key-uniqueness gate in ONE action (r19 — the separate
    // count + limit(1) gate was two full plans over the cached frame;
    // each lifecycle row pays the mutator's action count in driver
    // planning, which JobProfile measured dominating these rows)
    val gate = up.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n")), lit(0L)),
        coalesce(max(col("__n")), lit(0L)),
        first(when(col("__n") > 1, col(keyCol)), ignoreNulls = true)).head()
    val nUpdates = gate.getLong(0)
    if (nUpdates == 0L) return (0L, 0L)
    require(gate.getLong(1) <= 1L,
      s"updates are not key-unique on '$keyCol' (e.g. ${gate.get(2)}) — " +
        "an upsert with two rows for one key has no deterministic outcome")
    val keyDf = up.select(col(keyCol).as("__k"))

    // manifest-level prune, then ONE pass over the candidates feeds the
    // rollup below — per-shard hit counts and the matched-key count come
    // out of the same action
    val candidates = meta.candidates(spark, schema(keyCol).dataType, keyCol, keyDf)
    // the upsert's own NEW rows land in fresh shards outside every
    // tombstone segment's scope, so re-inserting a tombstoned key just works
    val rows = if (candidates.isEmpty) null
      else tagged(spark, meta, schema, candidates)
    // per-shard hit counts AND the global matched-key count in ONE
    // rollup action (r19): the grand-total row carries the global
    // countDistinct, the per-shard rows the counts — replacing two
    // actions over a scope-cached hit set with one uncached pass
    val hitAgg = if (rows == null) Array.empty[org.apache.spark.sql.Row]
      else rows.join(keyDf, rows(keyCol) === col("__k"), "left_semi")
        .select(col("__shard"), col(keyCol).as("__key"))
        .rollup(col("__shard"))
        .agg(count(lit(1)).as("__n"), countDistinct(col("__key")).as("__d"))
        .collect()
    val hitCounts = hitAgg.filter(!_.isNullAt(0))
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val matchedKeys = hitAgg.find(_.isNullAt(0)).map(_.getLong(2)).getOrElse(0L)

    // survivors of the hit shards + ALL update rows
    val survivors =
      if (hitCounts.isEmpty) Nil
      else Seq(rows.filter(col("__shard").isin(hitCounts.keys.toSeq: _*))
        .join(keyDf, rows(keyCol) === col("__k"), "left_anti")
        .drop("__shard"))
    ShardRewrite.commit(spark, meta, "upsert", hitCounts.keySet, survivors :+ up)
    (hitCounts.values.sum, nUpdates - matchedKeys)
    }
  }
}
