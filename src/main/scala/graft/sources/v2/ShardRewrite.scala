package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The copy-on-write commit of the shard store, shared by
 * [[ShardCompact.compact]], [[ShardDelete.deleteByKey]] and
 * [[ShardDelete.upsertByKey]]: the `replaced` shards of the table give
 * way to the rows of `rewritten`, under the caller's [[ShardLock]] and
 * against the caller's [[ShardMeta]] snapshot.
 *
 * Crash safety comes ENTIRELY from the manifest contract — at every
 * instant `_MANIFEST` names a complete, self-consistent shard set, and
 * files it does not name are invisible orphans to every reader:
 *
 *  1. the rows are written through the sink's own two-phase commit into
 *     a scratch subdirectory (invisible), carrying the table's stats and
 *     bloom columns and payload format, so rewritten shards stay
 *     prunable on every column and the table stays format-homogeneous;
 *     zero-row shards (fully deleted partitions) are dropped;
 *  2. the new shards are renamed into the table directory (UUID names
 *     cannot collide) — still orphans;
 *  3. ONE atomic manifest publish switches readers from the old shard
 *     set to (untouched old shards ++ new shards);
 *  4. the sidecars follow, and the replaced shards and the scratch
 *     directory are deleted — best-effort cleanup of what are now
 *     orphans. Every `_STATS`/`_BLOOM` section keeps the untouched
 *     shards' entries and gains the new ones; tombstone scopes shrink to
 *     the untouched shards (the rewrite read through every live
 *     tombstone) and segments whose scope empties retire. Shards a live
 *     snapshot pins stay on disk for [[ShardSnapshot.read]] until their
 *     pins lapse and a vacuum reclaims them.
 *
 * A crash before (3) leaves the table untouched: re-running the
 * operation converges, and the scratch shards or renamed-in orphans are
 * invisible ([[ShardSnapshot.vacuum]] reclaims the top-level ones). A
 * crash after (3) leaves the change applied with, at worst, stale
 * sidecar entries (pruning hints only, never a wrong answer) and orphan
 * files; a re-run converges. Deleted rows stay on disk until step (4)
 * completes — a compliance pipeline should verify cleanup, as with any
 * copy-on-write store.
 */
private[v2] object ShardRewrite {

  /** Run the commit; returns the new shards' manifest entries. */
  def commit(
      spark: SparkSession,
      meta: ShardMeta,
      op: String,
      replaced: Set[String],
      rewritten: Seq[DataFrame]): Seq[(String, Long)] = {
    val (fs, dir) = (meta.fs, meta.dir)
    // (1) scratch write; a second frame appends to the same scratch
    // table (the sink's manifest read-merge-write unions them)
    val scratch = new Path(dir, s"_$op-${UUID.randomUUID().toString.take(8)}")
    rewritten.foreach { df =>
      val w = df.write.format("graft.sources.v2.ShardSink")
        .option("path", scratch.toString).mode("append")
        .option(ShardPayload.OptionKey, meta.fmt)
      val ws =
        if (meta.stats.isEmpty) w
        else w.option(ShardStats.OptionKey, meta.stats.map(_.column).mkString(","))
      (if (meta.bloom.isEmpty) ws
       else ws.option(ShardBloom.OptionKey, meta.bloom.map(_.column).mkString(","))
         .option(ShardBloom.BitsOptionKey, meta.bloom.map(_.mBits).mkString(",")))
        .save()
    }
    val fresh = ShardManifest.read(fs, new Path(scratch, ShardManifest.FileName))
      .filter(_._2 > 0L)

    // (2) orphan-in the new shards
    fresh.foreach { case (name, _) =>
      ShardFiles.moveIn(fs, new Path(scratch, name), new Path(dir, name), op)
    }

    // (3) the atomic switch
    val kept = meta.entries.filterNot { case (name, _) => replaced.contains(name) }
    ShardManifest.writeAtomic(
      meta.conf, fs, new Path(dir, ShardManifest.FileName), kept ++ fresh)

    // (4) sidecars, then cleanup
    val freshNames = fresh.map(_._1).toSet
    val keptNames = kept.map(_._1).toSet
    def mergeInto[S <: ShardSection[S]](
        prior: Seq[S], scratchSections: => Seq[S], publish: Seq[S] => Unit): Unit =
      if (prior.nonEmpty)
        publish(ShardSection.merge(prior,
          scratchSections.map(_.merged(freshNames, None)), keptNames))
    mergeInto(meta.stats, ShardStats.readAll(fs, scratch),
      ShardStats.writeAllAtomic(meta.conf, fs, dir, _))
    mergeInto(meta.bloom, ShardBloom.readAll(fs, scratch),
      ShardBloom.writeAllAtomic(meta.conf, fs, dir, _))
    meta.tombstones.foreach(t =>
      ShardTombstones.keepScopes(meta.conf, fs, dir, t, keptNames))
    val keep = freshNames ++ ShardSnapshot.pinned(spark, dir.toString)
    replaced.foreach { name =>
      if (!keep.contains(name)) fs.delete(new Path(dir, name), false)
    }
    fs.delete(scratch, true)
    fresh
  }
}
