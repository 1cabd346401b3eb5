package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheScope, SparkEntry}
import graft.operators.TraceExport

/** Span recording as the workloads see it: a no-op in untraced runs. */
trait Trace {
  def op[T](id: Int, name: String)(body: => T): T
  def layer[T](id: Int, kind: String, name: String)(body: => T): T
}

object NoTrace extends Trace {
  def op[T](id: Int, name: String)(body: => T): T = body
  def layer[T](id: Int, kind: String, name: String)(body: => T): T = body
}

/** One request of a closed loop. `run` does the timed work and returns the
  * untimed follow-up that makes the op's output checkable; the follow-up
  * returns what the checker needs to know about the op. */
trait Op {
  def name: String
  def run(id: Int, tr: Trace): () => Map[String, Any]
}

trait Workload {
  /** Makes the inputs ready and warms the program up. */
  def prepare(): Unit
  /** The fixed, seeded op list of one pass. */
  def ops: Seq[Op]
  /** Texts and gzipped payloads of the workload's own inputs, for the
    * kernel micro-timings. */
  def kernelInputs(): (Seq[String], Seq[Array[Byte]])
}

/** An export request: ids plus a closed startTime window, in seconds after
  * the table's t0. */
final case class Request(ids: Seq[Long], fromS: Long, toS: Long)

/** Export workloads: each request runs `TraceExport.export` and writes its
  * result as one Parquet file through `TraceExport.exportToParquet`. */
final class ExportWorkload(
    spark: SparkSession,
    table: TraceTable,
    tablePath: String,
    outRoot: String,
    warmup: Seq[Request],
    requests: Seq[Request]) extends Workload {

  private var trace: DataFrame = _

  def prepare(): Unit = {
    trace = spark.read.parquet(tablePath)
    warmup.zipWithIndex.foreach { case (r, i) => exportOnce(r, s"$outRoot/warmup-$i", -1, NoTrace) }
  }

  private def exportOnce(r: Request, out: String, id: Int, tr: Trace): Boolean = {
    val df = tr.layer(id, "operators", "export_build") {
      TraceExport.export(trace, r.ids,
        Timestamp.valueOf(table.t0.plusSeconds(r.fromS)),
        Timestamp.valueOf(table.t0.plusSeconds(r.toS)))
    }
    tr.layer(id, "operators", "export_to_parquet") {
      TraceExport.exportToParquet(df, out, singleFile = true)
    }
  }

  def ops: Seq[Op] = requests.map { r =>
    new Op {
      val name = s"export-${r.ids.size}ids"
      def run(id: Int, tr: Trace): () => Map[String, Any] = {
        val out = s"$outRoot/op-$id"
        val wrote = tr.op(id, name)(exportOnce(r, out, id, tr))
        () => {
          val (rows, digest) = table.expected(r.ids, r.fromS, r.toS)
          Map("kind" -> "export", "out" -> out, "wrote" -> wrote,
            "expect_rows" -> rows, "expect_digest" -> digest)
        }
      }
    }
  }

  def kernelInputs(): (Seq[String], Seq[Array[Byte]]) = {
    val rnd = new Random(7)
    val texts = (0 until 4000).map { _ =>
      val p = 1L + rnd.nextInt(table.params)
      table.json(p, rnd.nextInt(table.rows(p).toInt).toLong)
    }
    (texts, texts.map(t => graft.functions.GzipCodec.compress(t.getBytes("UTF-8"))))
  }
}

object ExportWorkload {
  /** `n` point requests of 1-8 distinct ids and a 1-3 day window. Request
    * `i` has `1 + i % 8` ids and a `1 + i / 8 % 3` day window, so every op
    * list of `n` requests has the same mix of sizes; the seed picks the ids,
    * the window starts and the order. */
  def pointRequests(table: TraceTable, n: Int, rnd: Random): Seq[Request] =
    rnd.shuffle((0 until n).map { i =>
      val ids = rnd.shuffle((1L to table.params).toVector).take(1 + i % 8).sorted
      val window = (1 + i / 8 % 3) * 86400L
      val from = (rnd.nextDouble() * (table.spanS - window)).toLong
      Request(ids, from, from + window - 1)
    })

  /** One bulk request per target size: a window over a random 60-100% of
    * the table's span, and random ids added until the request returns at
    * least `target` rows. */
  def bulkRequests(table: TraceTable, targets: Seq[Long], rnd: Random): Seq[Request] =
    targets.map { target =>
      val window = ((0.6 + 0.4 * rnd.nextDouble()) * table.spanS).toLong
      val from = (rnd.nextDouble() * (table.spanS - window)).toLong
      val ids = Vector.newBuilder[Long]
      var rows = 0L
      val order = rnd.shuffle((1L to table.params).toVector).iterator
      while (rows < target && order.hasNext) {
        val p = order.next()
        ids += p
        rows += table.rowsIn(p, from, from + window).size
      }
      Request(ids.result().sorted, from, from + window)
    }
}

/** Registry rows from `SparkEntry.queries`, driven through the noop sink as
  * the engine's own bench drives them: build the DataFrame, then one full
  * evaluation of every output column. */
final class RegistryWorkload(
    spark: SparkSession,
    names: Seq[String],
    dataDir: String,
    warmDir: String,
    outRoot: String) extends Workload {

  private val registry = SparkEntry.queries

  /** Runs every row once on the small warm-up corpus. */
  def prepare(): Unit = names.foreach { n =>
    registry(n)(spark, warmDir).write.format("noop").mode("overwrite").save()
    CacheScope.releaseAll()
  }

  def ops: Seq[Op] = names.map { n =>
    new Op {
      val name = n
      def run(id: Int, tr: Trace): () => Map[String, Any] = {
        val df = tr.op(id, n) {
          val df = tr.layer(id, "queries", "build")(registry(n)(spark, dataDir))
          df.write.format("noop").mode("overwrite").save()
          df
        }
        () => {
          val out = s"$outRoot/op-$id"
          try df.coalesce(1).write.mode("overwrite").parquet(out)
          finally CacheScope.releaseAll()
          Map("kind" -> "oracle", "out" -> out, "sql" -> SparkEntry.oracleSql(n))
        }
      }
    }
  }

  def kernelInputs(): (Seq[String], Seq[Array[Byte]]) = {
    import spark.implicits._
    val texts = graft.sources.Tables.documents(spark, dataDir)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    (texts, texts.map(t => graft.functions.GzipCodec.compress(t.getBytes("UTF-8"))))
  }
}
