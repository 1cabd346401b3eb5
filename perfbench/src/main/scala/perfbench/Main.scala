package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** One benchmark run in one JVM: set up, run whole passes of the
  * workload's op list for the requested seconds with one client thread,
  * and write what happened to a JSON file. Arguments are `key=value`:
  * workload, seed, seconds, trace (0|1), data (input directory), table
  * (the trace table, for the export workloads), work (scratch directory),
  * out (result file), setup_start_ms (epoch ms at which the run's set-up
  * began). The metrics and the output checks are computed from that file by
  * run.py. */
object Main {

  val PointRequests = 36
  val BulkTargets: Seq[Long] = Seq(40000L, 80000L, 160000L)

  // Registry rows: a multi-action lifecycle row (eager build-time actions,
  // span dedup, shard-store appends, compaction, snapshots, deletes and
  // reads) and a single-action row whose work is the minhash kernels.
  val CorpusRows: Seq[String] = Seq("pipeline_corpus_v11", "dedup_minhash_recall")

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = conf("workload")
    val seed = conf("seed").toLong
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val dataDir = conf("data")
    val work = conf("work")
    val cores = Runtime.getRuntime.availableProcessors

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // µs Parquet timestamps, so the checker reads outputs losslessly
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .withExtensions(new GraftExtensions)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = Clock.nowMs

    val rnd = new Random(seed)
    val outRoot = s"$work/out"
    val table = TraceTable.Default
    val tablePath = conf.getOrElse("table", s"$dataDir/trace")
    val wl: Workload = workload match {
      case "export_point" =>
        new ExportWorkload(spark, table, tablePath, outRoot,
          ExportWorkload.pointRequests(table, 4, new Random(seed + 1)),
          ExportWorkload.pointRequests(table, PointRequests, rnd))
      case "export_bulk" =>
        new ExportWorkload(spark, table, tablePath, outRoot,
          ExportWorkload.pointRequests(table, 2, new Random(seed + 1)) ++
            ExportWorkload.bulkRequests(table, BulkTargets.take(1), new Random(seed + 2)),
          ExportWorkload.bulkRequests(table, BulkTargets ++ BulkTargets, rnd))
      case "corpus" =>
        new RegistryWorkload(spark, rnd.shuffle(CorpusRows), s"$dataDir/corpus", s"$dataDir/corpus-warm", outRoot)
      case "make_trace_table" =>
        // set-up step of the export workloads, run once per input directory
        table.write(spark, tablePath, cores)
        spark.stop()
        return
      case other => sys.error(s"unknown workload: $other")
    }

    wl.prepare()
    val firstOpMs = Clock.nowMs

    // Closed loop, one client. Untraced: whole passes until `seconds` have
    // elapsed. Traced: an untraced pass, a traced pass and another untraced
    // pass; the tracing overhead compares the middle one with the mean of
    // the other two, so JIT warm-up over the run does not bias it.
    val ops = wl.ops
    val results = Seq.newBuilder[Map[String, Any]]
    var id = 0
    def runPass(pass: Int, tr: Trace): Unit = ops.foreach { op =>
      val cpu0 = Jvm.processCpuNs
      val start = Clock.nowMs
      val outcome = try Right(op.run(id, tr)) catch { case NonFatal(e) => Left(e) }
      val end = Clock.nowMs
      val cpuMs = (Jvm.processCpuNs - cpu0) / 1e6
      val check = outcome match {
        case Right(follow) =>
          try follow() catch { case NonFatal(e) => Map("error" -> s"check step failed: $e") }
        case Left(e) => Map("error" -> e.toString)
      }
      results += Map("id" -> id, "pass" -> pass, "name" -> op.name, "start_ms" -> start,
        "end_ms" -> end, "cpu_ms" -> cpuMs) ++ check
      id += 1
    }

    Jvm.timing = true
    val jvm0 = Jvm.snapshot()
    var passes = 0
    val t0 = Clock.nowMs
    while (passes == 0 || (!traced && Clock.nowMs - t0 < seconds * 1000)) {
      runPass(passes, NoTrace)
      passes += 1
    }
    // GC and JIT time of the measured passes: the untraced ones, or the traced one
    var jvmWindow = (jvm0, Jvm.snapshot())
    var spans = Seq.empty[Span]
    var fsBytes = (0L, 0L)
    if (traced) {
      // while tracing, every Path.getFileSystem for `file` gets a new
      // counting instance
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.file.impl", classOf[CountingFileSystem].getName)
      hc.set("fs.file.impl.disable.cache", "true")
      val tracer = new Tracer(spark)
      val fs0 = CountingFileSystem.bytes()
      val jvmT = Jvm.snapshot()
      runPass(passes, tracer)
      jvmWindow = (jvmT, Jvm.snapshot())
      val fs1 = CountingFileSystem.bytes()
      fsBytes = (fs1._1 - fs0._1, fs1._2 - fs0._2)
      spans = tracer.finish()
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
      runPass(passes + 1, NoTrace)
      passes += 2
    }
    System.gc() // at least one after-GC sample of the timed phase's live set
    Thread.sleep(200) // GC notifications arrive on their own thread
    Jvm.timing = false
    val kernels = if (traced) { val (t, g) = wl.kernelInputs(); Kernels.measure(t, g) } else Map.empty

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_start_ms" -> conf("setup_start_ms").toDouble, "session_ms" -> sessionMs,
      "first_op_ms" -> firstOpMs,
      "passes" -> passes, "ops" -> results.result(),
      "jvm" -> Map(
        "gc_s" -> (jvmWindow._2.gcMs - jvmWindow._1.gcMs) / 1e3,
        "jit_s" -> (jvmWindow._2.jitMs - jvmWindow._1.jitMs) / 1e3,
        "peak_heap_mb" -> Jvm.peakHeapBytes / 1048576.0),
      "fs_bytes" -> Map("read" -> fsBytes._1, "written" -> fsBytes._2),
      "kernels" -> kernels,
      "spans" -> spans.map(s => Map("kind" -> s.kind, "name" -> s.name, "op" -> s.op,
        "start" -> s.startMs, "end" -> s.endMs) ++ s.attrs))
    Files.writeString(Paths.get(conf("out")), Json(result))
    spark.stop()
  }
}

/** JVM-level figures of the timed phase: process CPU, GC and compilation
  * time, and the heap left live after each collection. */
object Jvm {
  final case class Snapshot(gcMs: Long, jitMs: Long)

  @volatile var timing = false
  @volatile private var peak = 0L
  def peakHeapBytes: Long = peak

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (timing && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (live > peak) peak = live
          }
      }, null, null)
    case _ =>
  }

  def snapshot(): Snapshot = Snapshot(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
}
