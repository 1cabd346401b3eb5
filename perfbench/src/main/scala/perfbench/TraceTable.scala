package perfbench

import java.time.LocalDateTime
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.gzip_string

/** The seeded trace table of the export workloads, defined by formula.
  *
  * Param `p` (1..params) reports every `period(p)` seconds (30 to 60
  * minutes) with a jitter below 10 minutes, so its start times increase
  * with the row number `k`. Payloads are ragged JSON in three shapes. Since
  * every row is a function of (p, k), the expected answer to any request
  * (its row count and the digest of its plaintext payloads) follows from
  * the formula, without reading the table or inflating a payload. */
final case class TraceTable(params: Int, days: Int) {
  val t0: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  val spanS: Long = days * 86400L

  def period(p: Long): Long = 1800 + (p * 7919) % 1800
  def rows(p: Long): Long = (spanS - 600) / period(p)
  def startS(p: Long, k: Long): Long = k * period(p) + (p * 31 + k * 17) % 600
  def durationS(p: Long, k: Long): Long = 60 + (p + k) % 240

  def json(p: Long, k: Long): String = {
    val v = (p * 1009 + k * 337) % 1000
    (p * 131 + k * 71) % 10 match {
      case h if h < 6 => s"""{"value":$v,"status":"OK","seq":$k}"""
      case h if h < 9 =>
        s"""{"value":$v,"status":"WARN","temp":${20 + (p + k) % 50}.${k % 10},"seq":$k}"""
      case _ =>
        s"""{"value":$v,"status":"CRITICAL","pressure":1.${(p * k) % 100},"note":"p$p over limit","seq":$k}"""
    }
  }

  def totalRows: Long = (1L to params).map(rows).sum

  /** Rows of param `p` whose start lies in [fromS, toS] (seconds after t0). */
  def rowsIn(p: Long, fromS: Long, toS: Long): Iterator[Long] = {
    val per = period(p)
    val lo = math.max(0L, (fromS - 600) / per)
    val hi = math.min(rows(p) - 1, toS / per + 1)
    (lo to hi).iterator.filter { k => val s = startS(p, k); s >= fromS && s <= toS }
  }

  /** Expected (row count, payload digest) of a request. The digest is the
    * sum of the CRC-32 of each UTF-8 payload, so it ignores order; order is
    * checked on its own. */
  def expected(ids: Seq[Long], fromS: Long, toS: Long): (Long, Long) = {
    var n = 0L
    var digest = 0L
    val crc = new CRC32
    ids.foreach { p =>
      rowsIn(p, fromS, toS).foreach { k =>
        crc.reset()
        crc.update(json(p, k).getBytes("UTF-8"))
        digest += crc.getValue
        n += 1
      }
    }
    (n, digest)
  }

  /** The storage table: plaintext rows from the formula, payloads gzipped by
    * the engine's own ingest kernel, stored sorted by (paramIndex,
    * startTime) in small row groups so a point request can skip most of
    * the table. */
  def write(spark: SparkSession, path: String, files: Int): Unit = {
    import spark.implicits._
    val self = this
    spark.range(1, params + 1L, 1, files).as[Long]
      .flatMap { p =>
        (0L until self.rows(p)).iterator.map { k =>
          val s = self.t0.plusSeconds(self.startS(p, k))
          (p, s, s.plusSeconds(self.durationS(p, k)), self.json(p, k))
        }
      }
      .toDF("paramIndex", "startTime", "endTime", "json")
      .select(col("paramIndex"), col("startTime"), col("endTime"),
        gzip_string(col("json")).as("traceData"))
      .repartitionByRange(files, col("paramIndex"), col("startTime"))
      .sortWithinPartitions("paramIndex", "startTime")
      .write.mode("overwrite")
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(path)
  }
}

object TraceTable {
  /** The export workloads' table: 1000 params over 64 days, about 32 rows
    * per param and day (2.1 million rows). */
  val Default: TraceTable = TraceTable(params = 1000, days = 64)
}
