package graft.sources.v2

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The whole-file I/O every store sidecar shares (`_MANIFEST`, `_SCHEMA`,
  * `_STATS`, `_BLOOM`, `_TOMBSTONES`, the snapshot files). Each sidecar
  * keeps its own strict parser and serializer; these only move text. */
private[v2] object ShardFiles {

  def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  def readIfExists(fs: FileSystem, p: Path): Option[String] =
    if (fs.exists(p)) Some(read(fs, p)) else None

  /** Write `text` beside `p` as `<name>.tmp`; returns the staged path. */
  def stage(fs: FileSystem, p: Path, text: String): Path = {
    val tmp = new Path(p.getParent, s"${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    tmp
  }

  /** Atomic publish: stage, then `FileContext.rename(OVERWRITE)` into
    * place — a crash mid-publish leaves the previous version intact. */
  def writeAtomic(
      conf: Configuration, fs: FileSystem, p: Path, text: String): Unit =
    FileContext.getFileContext(p.toUri, conf)
      .rename(stage(fs, p, text), p, Options.Rename.OVERWRITE)

  /** Move a committed shard into its table. A retried commit (or one
    * resumed after a crash between the renames and the manifest write)
    * finds src already moved: rename then returns false with dst present
    * and src gone. That state IS the rename's postcondition, so it counts
    * as success and the retry reaches the manifest write. */
  def moveIn(fs: FileSystem, src: Path, dst: Path, op: String): Unit =
    if (!fs.rename(src, dst) && !(fs.exists(dst) && !fs.exists(src)))
      throw new java.io.IOException(s"$op rename failed: $src -> $dst")
}

/** One column's section of a per-shard sidecar (`_STATS`, `_BLOOM`). */
private[graft] trait ShardSection[S] {
  def column: String
  /** This section with only the entries of shards `keep` admits, plus
    * every entry of `fresh`; the header stays this section's. */
  def merged(keep: String => Boolean, fresh: Option[S]): S
}

private[graft] object ShardSection {
  /** The per-section sidecar merge of every commit: each `prior` section
    * keeps the entries `keep` admits and gains its column's `fresh`
    * entries; prior sections keep their order (the first is the table's
    * primary prune axis, see [[ShardStats.serializeAll]]) and new
    * columns append at the end. */
  def merge[S <: ShardSection[S]](
      prior: Seq[S], fresh: Seq[S], keep: String => Boolean): Seq[S] =
    prior.map(p => p.merged(keep, fresh.find(_.column == p.column))) ++
      fresh.filterNot(f => prior.exists(_.column == f.column))
}

/** One parsed snapshot of a table's metadata plane, taken once per store
  * operation (under the [[ShardLock]] where the operation mutates) and
  * threaded to every consumer: reads, sidecar pruning, the copy-on-write
  * commit ([[ShardRewrite]]) and the V2 scan's planning. `_SCHEMA`,
  * `_STATS` and `_BLOOM` load on first use, so an operation pays only for
  * the sidecars it consults. Driver-only, never serialized. */
private[v2] final class ShardMeta private (
    val dir: Path,
    val fs: FileSystem,
    val conf: Configuration,
    val tombstones: Option[ShardTombstones.Tombstones],
    manifest: Option[Seq[(String, Long)]]) {

  def manifestExists: Boolean = manifest.isDefined
  def entries: Seq[(String, Long)] = manifest.getOrElse(Nil)
  def names: Seq[String] = entries.map(_._1)
  def files(shards: Seq[String]): Seq[String] =
    shards.map(n => new Path(dir, n).toString)

  lazy val schema: Option[ShardSchema.TableSchema] =
    ShardSchema.readIfExists(fs, dir)
  lazy val stats: Seq[ShardStats.Stats] = ShardStats.readAll(fs, dir)
  lazy val bloom: Seq[ShardBloom.Bloom] = ShardBloom.readAll(fs, dir)

  /** The payload format: the `_SCHEMA` pin, jsonl on a pre-pin table. */
  def fmt: String = schema.map(_.format).getOrElse(ShardPayload.Jsonl)

  def requireCovers(caller: StructType, op: String): Unit =
    ShardSchema.requireCovers(schema, dir, caller, op)

  /** [[ShardPrune.candidateShards]] over this snapshot's manifest and
    * sidecars; `keys` is one column named `__k`. */
  def candidates(spark: SparkSession, keyType: DataType, keyCol: String,
      keys: DataFrame): Seq[String] =
    ShardPrune.candidateShards(spark, stats.find(_.column == keyCol),
      bloom.find(_.column == keyCol), keyType, keyCol, keys, names)

  /** [[ShardPrune.candidateShardsLocal]] over this snapshot. */
  def candidatesLocal(
      keyType: DataType, keyCol: String, keyVals: Seq[Any]): Seq[String] =
    ShardPrune.candidateShardsLocal(stats.find(_.column == keyCol),
      bloom.find(_.column == keyCol), keyType, keyCol, keyVals, names)
}

private[v2] object ShardMeta {
  /** Snapshot the table at `path`. Fails loud when nothing has been
    * committed there, unless `requireManifest` is off (the V2 planner
    * answers for a path that may hold no table yet). */
  def load(spark: SparkSession, path: String,
      requireManifest: Boolean = true): ShardMeta = {
    val dir = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    val mfPath = new Path(dir, ShardManifest.FileName)
    // _TOMBSTONES is read BEFORE _MANIFEST (r18 ADVICE): the two reads
    // are not atomic, and a reader racing a copy-on-write mutator that
    // captured the PRE-rewrite manifest with the POST-rewrite sidecar
    // could serve a snapshot-pinned replaced shard WITHOUT its tombstone
    // scope — silently resurrecting deleted keys. Scopes only ever
    // SHRINK, so the inverted skew (stale tombstones + fresh manifest) is
    // safe: at worst a scope names a shard the manifest no longer lists,
    // and the anti-join predicate matches nothing.
    val tombstones = ShardTombstones.readIfExists(fs, dir)
    val manifest =
      if (!requireManifest) ShardManifest.readIfExists(fs, mfPath)
      else {
        require(fs.exists(mfPath), s"no ${ShardManifest.FileName} under " +
          s"$path — nothing has been committed there")
        Some(ShardManifest.read(fs, mfPath))
      }
    new ShardMeta(dir, fs, conf, tombstones, manifest)
  }
}
