package perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: set up, warm up, then run one workload's jobs
  * in a closed loop (each job starts after the previous one finished) and
  * write every job's record to `--out`; `perfbench/run.py` turns the
  * records into metrics.
  *
  *   perfbench.Main --workload W --seconds S --trace 0|1 --cores N
  *     --work DIR --input DIR --reference DIR --out FILE
  *
  * With --trace 1 every second job runs traced, so the difference between
  * the traced and untraced medians is the tracing overhead.
  */
object Main {
  private val MinJobs = 11 // the tail percentile needs 10 samples beyond it
  private val HardCapS = 90.0
  private val WarmupMin = 4
  private val WarmupMax = 6

  final case class JobRecord(wallS: Double, checksum: String, leaks: Long, error: Option[String],
                             statBefore: String, statAfter: String, gcS: Double, traced: Boolean,
                             layers: Map[String, Double], spans: Seq[Span],
                             groups: Map[String, GroupStats])

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // keep the reduce side as wide as at production sizes: without this,
      // AQE folds the small inputs into one task and a hot key cannot show
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def procStatCpu(): String =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu ")).getOrElse("")

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val work = args("work")
    val input = args("input")

    // --- set-up: JVM and session start, then warm-up until job times stop
    // improving (a job less than 10% faster than the one before it)
    val spark = session(cores, work)
    val wl = Workload(workload, spark, input, work)
    val tracer = new Tracer(spark)
    val warmup = ArrayBuffer[Double]()
    var improving = true
    while (improving && warmup.size < WarmupMax) {
      val j = -1 - warmup.size
      val j0 = System.nanoTime()
      wl.execute(tracer, j)
      warmup += (System.nanoTime() - j0) / 1e9
      wl.cleanup(j)
      improving = warmup.size < WarmupMin || warmup.last < 0.9 * warmup(warmup.size - 2)
    }
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val reference = wl.reference(args("reference"))

    // --- timed closed loop
    if (trace) tracer.enable()
    val records = ArrayBuffer[JobRecord]()
    heapPools.foreach(_.resetPeakUsage())
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while ((elapsed < seconds || records.size < MinJobs) && elapsed < HardCapS) {
      val j = records.size
      tracer.startJob(j, trace = j % 2 == 1)
      val stat0 = procStatCpu()
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val outcome = scala.util.Try(tracer.span("job")(wl.execute(tracer, j)))
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = gcSeconds() - gc0
      val stat1 = procStatCpu()
      val checked = outcome.flatMap(o => scala.util.Try(wl.verify(tracer, j, o)))
      wl.cleanup(j)
      val (spans, groups) = tracer.finishJob()
      val layers = checked.toOption.filter(_ => tracer.isTraced)
        .map(o => Layers.compute(wall, cores, spans, groups, o.facts)).getOrElse(Map.empty)
      records += JobRecord(wall, checked.map(_.checksum).getOrElse(""),
        checked.map(_.leaks).getOrElse(0L), checked.failed.toOption.map(_.toString),
        stat0, stat1, gc, tracer.isTraced, layers, spans, groups)
    }
    val peakRss = vmHwmMb()
    val peakHeap = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    spark.stop()

    val jobsJson = records.map { r =>
      Json.obj(Seq(
        "wall_s" -> Json.num(r.wallS),
        "checksum" -> Json.str(r.checksum),
        "leaks" -> r.leaks.toString,
        "error" -> r.error.map(Json.str).getOrElse("null"),
        "stat_before" -> Json.str(r.statBefore),
        "stat_after" -> Json.str(r.statAfter),
        "gc_s" -> Json.num(r.gcS),
        "traced" -> r.traced.toString,
        "layers" -> Json.obj(r.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "spans" -> Json.arr(r.spans.map(s => spanJson(s, r.groups.getOrElse(s.name, GroupStats.empty)))))
      )
    }
    val out = Json.obj(Seq(
      "setup_jvm_s" -> Json.num(setupS),
      "warmup_job_s" -> Json.arr(warmup.map(Json.num)),
      "reference" -> Json.str(reference),
      "cores" -> cores.toString,
      "peak_rss_mb" -> Json.num(peakRss),
      "peak_heap_mb" -> Json.num(peakHeap),
      "jobs" -> Json.arr(jobsJson)))
    Files.write(Paths.get(args("out")), out.getBytes(StandardCharsets.UTF_8))
  }

  /** A span with the per-stage and per-operator counts of the Spark work
    * attributed to it through its job group. */
  private def spanJson(s: Span, g: GroupStats): String = {
    val ops = g.plans.flatMap(Plans.nodes).groupBy(_.getClass.getSimpleName).map { case (k, v) => k -> v.size.toString }
    Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "job" -> s.job.toString, "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "spark_jobs" -> g.jobs.size.toString, "stages" -> g.stages.size.toString,
      "tasks" -> g.tasks.size.toString, "task_s" -> Json.num(g.runSeconds),
      "shuffle_write_bytes" -> g.tasks.map(_.shuffleWriteBytes).sum.toString,
      "spill_bytes" -> g.tasks.map(_.spillBytes).sum.toString,
      "operators" -> Json.obj(ops.toSeq.sortBy(_._1))))
  }
}
