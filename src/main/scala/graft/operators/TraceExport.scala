package graft.operators

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{gunzip_string, gzip_string}
import graft.sources.Tables

/**
 * The flagship pipeline — the reference engine's single query, re-expressed
 * as a declarative Spark plan.
 *
 * Reference chain (SURVEY.md §2.1): scan S1 → project S2 → IN-list filter F1
 * ∧ time-range filter F2 (with empty-ids short-circuit F3) → two-key sort O1
 * → per-row gzip decompress T1 + UTF-8 decode T2 → output projection T4 →
 * parquet sink K1 (empty-result semantic K2). Reference sites:
 * repository/ParameterDataRepository.java:53-78 (scan/filter/sort SQL),
 * service/ParquetConversionService.java:60-113 (decompress + Avro-parquet
 * write), controller/DataExportController.java:33-62 (param semantics).
 *
 * Scale notes (100 TB): unlike the reference — which `collectList()`s the
 * whole result into one heap (ParquetConversionService.java:61, its
 * documented OOM cliff) — this plan streams partition-wise: the isin/range
 * filters push into the scan, the gzip expression runs inside whole-stage
 * codegen, and the only shuffle is the range-exchange for the global sort.
 * On a real cluster the output should usually NOT be globally sorted into
 * one file; `export` keeps the reference's ORDER BY semantics, while
 * `exportUnordered` is the scale-path variant (sortWithinPartitions gives
 * per-file clustering without a global exchange).
 */
object TraceExport {

  /** Output schema — Avro ParameterRecord analog (ParameterRecord.avsc:5-10):
    * all four fields non-nullable, traceData is the decompressed JSON text. */
  val outputSchema: StructType = StructType(Seq(
    StructField("paramIndex", LongType, nullable = false),
    StructField("startTime", TimestampNTZType, nullable = false),
    StructField("endTime", TimestampNTZType, nullable = false),
    StructField("traceData", StringType, nullable = false)))

  /** Input (storage-table) schema — TD_FD_TRACE_PARAM analog
    * (reference schema.sql:12-19): traceData is gzipped UTF-8 JSON. */
  val storageSchema: StructType = StructType(Seq(
    StructField("paramIndex", LongType, nullable = false),
    StructField("startTime", TimestampNTZType, nullable = false),
    StructField("endTime", TimestampNTZType, nullable = false),
    StructField("traceData", BinaryType, nullable = false)))

  /** Reference-faithful seed rows (config/DataInitializer.java:39-43):
    * params 1..3 in January 2024 with ragged JSON payloads. */
  def referenceSeed(spark: SparkSession): DataFrame = {
    val rows = Seq(
      (1L, "2024-01-10 10:00:00", "2024-01-10 10:05:00", """{"value": 100, "status": "OK"}"""),
      (2L, "2024-01-15 14:30:00", "2024-01-15 14:35:00", """{"value": 250, "status": "WARN", "temp": 45.5}"""),
      (3L, "2024-01-20 09:15:00", "2024-01-20 09:20:00", """{"value": 500, "status": "CRITICAL", "pressure": 1.5}"""))
    import spark.implicits._
    rows.toDF("paramIndex", "startTime", "endTime", "json")
      .select(
        col("paramIndex"),
        col("startTime").cast(TimestampNTZType).as("startTime"),
        col("endTime").cast(TimestampNTZType).as("endTime"),
        gzip_string(col("json")).as("traceData"))
  }

  /** Ingest analog of reference W1 (DataInitializer.java:81-92) at fixture
    * scale: derive a trace table from the `events` fixture — one trace per
    * event, payload = gzip(props JSON). Deterministic, so the DuckDB oracle
    * can reproduce the post-decompress result from `events` directly. */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("user_id").as("paramIndex"),
      col("ts").as("startTime"),
      (col("ts") + expr("INTERVAL 60 SECONDS")).as("endTime"),
      gzip_string(col("props")).as("traceData"))

  /** The IN-list + closed time-range filter shared by every export
    * variant — ONE definition, so the variants cannot drift (the
    * maxPayloadBytes bound had drifted out of two of the three). Time
    * bounds enter as `LocalDateTime` literals (TimestampNTZType
    * directly): a `java.sql.Timestamp` literal is an LTZ instant whose
    * NTZ cast re-reads the wall clock through the SESSION timezone —
    * with JVM default ≠ session tz the window would silently shift by
    * the zone offset against the NTZ startTime column; `toLocalDateTime`
    * keeps the caller's wall clock exactly. */
  private def filtered(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp): DataFrame =
    trace
      .filter(col("paramIndex").isin(ids: _*))
      .filter(col("startTime") >= lit(start.toLocalDateTime)
        && col("startTime") <= lit(end.toLocalDateTime))

  /** The output projection shared by every export variant — applied
    * AFTER any sort, so an exchange carries the compressed bytes, never
    * the inflated text. */
  private def outputProjection(maxPayloadBytes: Long): Seq[org.apache.spark.sql.Column] =
    Seq(
      col("paramIndex"),
      col("startTime"),
      col("endTime"),
      gunzip_string(col("traceData"), maxBytes = maxPayloadBytes).as("traceData"))

  /** The reference query: ids IN-list + closed startTime interval (both ends
    * inclusive, END_TIME unconstrained — ParameterDataRepository.java:65-67),
    * ORDER BY paramIndex, startTime, decompress payload to text.
    *
    * `maxPayloadBytes` (engine extension, default unbounded = reference
    * parity) bounds each row's INFLATED size: the reference only ever
    * inflates its own trusted writes (util/GzipUtil.java:19-31), but an
    * export over third-party ingested traces must not let one hostile
    * high-ratio payload kill an executor. Strict semantics, matching the
    * reference's abort-on-corrupt policy: an over-budget row fails the
    * export. */
  def export(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp,
      maxPayloadBytes: Long = Long.MaxValue): DataFrame = {
    // A1 semantic check (DataExportController.java:39-43): inverted range
    // is a caller error, not an empty result.
    require(!start.after(end), s"startTime must be before endTime: $start > $end")
    if (ids.isEmpty) {
      // F3: empty id list → empty result without scanning
      // (ParameterDataRepository.java:54-56). Catalyst would also fold
      // isin() on an empty list, but the explicit guard keeps the
      // semantic visible and plan-free.
      return trace.sparkSession.createDataFrame(
        trace.sparkSession.sparkContext.emptyRDD[Row], outputSchema)
    }
    filtered(trace, ids, start, end)
      .orderBy(col("paramIndex").asc, col("startTime").asc)
      .select(outputProjection(maxPayloadBytes): _*)
  }

  /** Scale-path variant: no global sort (range exchange) — cluster within
    * output partitions only. Preferred at 100 TB where a total order across
    * files buys nothing. Carries the same decompression-bomb bound as
    * [[export]] — the scale path over third-party traces is exactly where
    * one hostile high-ratio payload must not kill an executor. */
  def exportUnordered(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp,
      maxPayloadBytes: Long = Long.MaxValue): DataFrame = {
    require(!start.after(end), s"startTime must be before endTime: $start > $end")
    if (ids.isEmpty)
      return trace.sparkSession.createDataFrame(
        trace.sparkSession.sparkContext.emptyRDD[Row], outputSchema)
    filtered(trace, ids, start, end)
      .sortWithinPartitions(col("paramIndex"), col("startTime"))
      .select(outputProjection(maxPayloadBytes): _*)
  }

  /** Streaming flagship: the same filter→decompress→project chain over an
    * unbounded trace stream (`spark.readStream` on a landing directory, or
    * any streaming DataFrame with the storage schema). No sort — a total
    * order is undefined on an unbounded stream (and unsupported by
    * Structured Streaming); downstream windows/sessions impose event-time
    * order where needed. Continuous-export twin of the reference's
    * request-triggered endpoint. */
  def exportStream(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp,
      maxPayloadBytes: Long = Long.MaxValue): DataFrame = {
    require(!start.after(end), s"startTime must be before endTime: $start > $end")
    filtered(trace, ids, start, end)
      .select(outputProjection(maxPayloadBytes): _*)
  }

  /** K1 sink. The reference materializes ONE in-memory parquet byte[]
    * (ParquetConversionService.java:60-85) consumed as a single file
    * (README.md:123-128); `singleFile = true` reproduces that one-artifact
    * contract via coalesce(1). It stays off by default: one output file
    * means one writing task — correct for a service handing a file to a
    * caller, wrong for a 100 TB export (where the multi-part directory is
    * the scale contract). K2 (empty → sentinel/404) is surfaced as a
    * boolean so a service layer can map it. Returns true iff rows were
    * written. */
  def exportToParquet(result: DataFrame, path: String, singleFile: Boolean = false): Boolean = {
    val sink = if (singleFile) result.coalesce(1) else result
    sink.write.mode("overwrite").parquet(path)
    wroteRows(result.sparkSession, path)
  }

  /** True iff a part file the write left under `path` holds a row. Reads
    * the row counts in the Parquet footers, stopping at the first
    * non-zero one: no Spark job, no re-read of the data (the overwrite
    * left only this write's files there). */
  private def wroteRows(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    dir.getFileSystem(conf).listStatus(dir).iterator
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .exists { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try reader.getRecordCount > 0 finally reader.close()
      }
  }

  /** Typed output row — the ParameterRecord Avro analog as a case class
    * (ParameterRecord.avsc:5-10); TimestampNTZ ⇔ LocalDateTime. */
  case class ParameterRecord(
      paramIndex: Long,
      startTime: java.time.LocalDateTime,
      endTime: java.time.LocalDateTime,
      traceData: String)

  /** Typed flagship variant: same plan, `Dataset[ParameterRecord]` out —
    * compile-time field access for callers that post-process rows. */
  def exportTyped(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp): org.apache.spark.sql.Dataset[ParameterRecord] =
    export(trace, ids, start, end)
      .as(org.apache.spark.sql.Encoders.product[ParameterRecord])

  /** A2 typed-error variant: the reference maps an empty export to
    * NoDataFoundException → HTTP 404 (NoDataFoundException.java:9-14,
    * DataExportController.java:50-52); this is the engine-level analog
    * for callers that want the reference's service semantics. */
  def exportToParquetStrict(result: DataFrame, path: String): Unit =
    if (!exportToParquet(result, path))
      throw new NoDataFoundException(s"no rows matched; nothing exported to $path")
}

/** Engine-level analog of the reference's 404 semantic
  * (exception/NoDataFoundException.java:9-14). */
class NoDataFoundException(msg: String) extends RuntimeException(msg)
