package graft.sources.v2

import java.io.IOException

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The local `file` FileSystem, throwing once at the first `create`,
  * `rename` or `delete` the armed trap matches — a writer crashing at
  * that exact step. Installed through `fs.file.impl` with the cache off,
  * so every `Path.getFileSystem`, executor-side writers included, gets
  * an instance; disarmed it is a plain [[LocalFileSystem]]. */
class CrashingFileSystem extends LocalFileSystem {
  import CrashingFileSystem.check

  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check("create", p, null)
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    check("rename", src, dst)
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    check("delete", p, null)
    super.delete(p, recursive)
  }
}

object CrashingFileSystem {
  /** (call, path, rename target or null) => crash here? */
  type Trap = (String, String, String) => Boolean

  private var trap: Trap = _
  private var fired = false

  private def bare(p: Path): String =
    if (p == null) null else Path.getPathWithoutSchemeAndAuthority(p).toString

  private def check(call: String, p: Path, dst: Path): Unit = synchronized {
    if (trap != null && trap(call, bare(p), bare(dst))) {
      trap = null
      fired = true
      throw new IOException(s"injected crash at $call ${bare(p)}")
    }
  }

  def arm(t: Trap): Unit = synchronized { trap = t; fired = false }
  /** Disarm; true when the trap fired since it was armed. */
  def disarm(): Boolean = synchronized { trap = null; fired }
}

/**
 * Crash injection for the store's one copy-on-write commit
 * ([[ShardRewrite.commit]]), driven through each of its callers. The
 * writer fails once at each step in turn — the scratch write, the first
 * rename into the table, the `_MANIFEST.tmp` create, the first sidecar
 * `.tmp` create after the publish, the first delete of a replaced shard
 * — and every time:
 *
 *  - [[ShardReader.read]] serves exactly the old rows (crash before the
 *    publish) or exactly the new rows (after it), never a mix;
 *  - the table lock is released;
 *  - re-running the operation converges to the rows of an uncrashed run;
 *  - a following [[ShardSnapshot.vacuum]] leaves no orphan shard.
 */
class ShardCrashSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("ld", StringType)))

  /** Four stats-carrying shards of 25 rows each. */
  private def newTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    (0 until 4).foreach { s =>
      (s * 25 until (s + 1) * 25).map(i => (i.toLong, s"v$i"))
        .toDF("doc_id", "ld").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir).option("statsColumn", "doc_id")
        .mode("append").save()
    }
    dir
  }

  private def rows(dir: String): Seq[(Long, String)] =
    ShardReader.read(spark, dir, schema).as[(Long, String)].collect().toSeq.sorted

  private def topLevelShards(dir: String): Set[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(_.getName).toSet

  private def manifested(dir: String): Set[String] =
    ShardMeta.load(spark, dir).names.toSet

  private val ops: Seq[(String, String => Unit)] = Seq(
    "compact" -> (d =>
      ShardCompact.compact(spark, d, schema, targetShards = 1)),
    "delete" -> (d =>
      ShardDelete.deleteByKey(spark, d, schema, "doc_id",
        Seq(5L, 55L).toDF("k"))),
    "upsert" -> (d =>
      ShardDelete.upsertByKey(spark, d, schema, "doc_id",
        Seq((5L, "u5"), (55L, "u55"), (500L, "new")).toDF("doc_id", "ld"))))

  /** (step, crashes after the manifest publish?, trap for table `dir` and
    * scratch prefix `_<op>-`). */
  private val steps: Seq[(String, Boolean, (String, String) => CrashingFileSystem.Trap)] = Seq(
    ("the scratch write", false, (dir, op) => (call, p, _) =>
      call == "create" && p.startsWith(s"$dir/_$op-")),
    ("the first rename into the table", false, (dir, op) => (call, p, dst) =>
      call == "rename" && dst != null && new Path(dst).getParent.toString == dir &&
        new Path(p).getParent.getName.startsWith(s"_$op-")),
    ("the _MANIFEST.tmp create", false, (dir, _) => (call, p, _) =>
      call == "create" && p == s"$dir/_MANIFEST.tmp"),
    ("the first sidecar .tmp create after the publish", true, (dir, _) => (call, p, _) =>
      call == "create" && new Path(p).getParent.toString == dir &&
        p.endsWith(".tmp") && p != s"$dir/_MANIFEST.tmp"),
    ("the first delete of a replaced shard", true, (dir, _) => (call, p, _) =>
      call == "delete" && new Path(p).getParent.toString == dir &&
        new Path(p).getName.startsWith("part-")))

  private def withCrashingFs[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CrashingFileSystem].getName)
    hc.set("fs.file.impl.disable.cache", "true")
    try body
    finally {
      CrashingFileSystem.disarm()
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  /** Two fresh tables — one for an uncrashed run, one to crash — deleted
    * after `body`. */
  private def withTables(body: (String, String) => Unit): Unit = {
    val (clean, dir) = (newTable(), newTable())
    try body(clean, dir)
    finally Seq(clean, dir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  for ((op, run) <- ops; (step, afterPublish, trapFor) <- steps)
    test(s"$op crashing at $step: old-or-new reads, lock released, re-run converges, vacuum clean") {
      withTables { (clean, dir) =>
        run(clean)
        val expected = rows(clean)

        val old = rows(dir)
        val oldShards = manifested(dir)
        // compaction keeps the rows; its publish shows in the shard set
        if (op != "compact") assert(old != expected)
        withCrashingFs {
          CrashingFileSystem.arm(trapFor(dir, op))
          val err = intercept[Exception](run(dir))
          assert(CrashingFileSystem.disarm(),
            s"$op never reached $step: ${err.getMessage}")
        }
        assert(rows(dir) == (if (afterPublish) expected else old),
          s"$op crashed at $step served a mix of old and new rows")
        assert((manifested(dir) == oldShards) == !afterPublish,
          s"$op crashed at $step: the publish landed on the wrong side")
        assert(!new java.io.File(dir, ShardLock.FileName).exists(),
          s"$op crashed at $step left the table lock behind")
        run(dir)
        assert(rows(dir) == expected, s"$op re-run after $step did not converge")
        ShardSnapshot.vacuum(spark, dir)
        assert(topLevelShards(dir) == manifested(dir),
          s"vacuum after $op crashed at $step left orphan shards")
      }
    }
}
