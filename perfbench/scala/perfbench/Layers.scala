package perfbench

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Per-layer metrics of one traced job, from its spans, the Spark jobs,
  * tasks and executed plans attributed to each span name, and the
  * workload's facts. A layer that does not run in a workload reads 0.
  */
object Layers {
  private val MiB = 1024.0 * 1024.0
  /** Spans outside the timed part of a job. */
  val Untimed = Set("verify", "backfill.skip")

  private def exchanges(ns: Seq[SparkPlan]): Seq[SparkPlan] = ns.collect {
    // the checksum sink's single-partition gather is the benchmark's, not the layer's
    case e: ShuffleExchangeExec if e.outputPartitioning != SinglePartition => e
  }
  private def sum(ns: Seq[SparkPlan], m: String): Double = ns.map(Plans.metric(_, m)).sum.toDouble
  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Seconds covered by at least one of the intervals (ms). */
  def covered(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  def compute(wallS: Double, cores: Int, spans: Seq[Span], groups: Map[String, GroupStats],
              facts: Map[String, Double]): Map[String, Double] = {
    def g(name: String) = groups.getOrElse(name, GroupStats.empty)
    def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def fact(name: String) = facts.getOrElse(name, 0.0)
    val all = groups.filter { case (n, _) => !Untimed(n) }.values.foldLeft(GroupStats.empty)(_ ++ _)
    val allNodes = all.plans.flatMap(Plans.nodes)
    val probes = fact("probes")
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()

    val hist = g("historical.call")
    m("historical.call_s") = spanS("historical.call")
    m("historical.jobs") = hist.jobs.size

    val pit = g("pit.exec")
    val pitNodes = pit.plans.flatMap(Plans.nodes)
    val pitEx = exchanges(pitNodes)
    val pitSorts = pitNodes.collect { case s: SortExec => s }
    m("pit.exchanges") = pitEx.size
    m("pit.sorts") = pitSorts.size
    m("pit.shuffle_write_bytes") = sum(pitEx, "shuffleBytesWritten")
    m("pit.shuffle_records_per_probe") = ratio(sum(pitEx, "shuffleRecordsWritten"), probes)
    // the window stage: the shuffle-reading stage with the most task time
    val reduceStages = pit.tasks.filter(_.shuffleReadRecords > 0).groupBy(_.stageId)
    val window = if (reduceStages.isEmpty) Nil
      else reduceStages.values.maxBy(_.map(_.runMs).sum).map(_.durationMs / 1000.0).sorted
    m("pit.reduce_task_s_max") = if (window.isEmpty) 0.0 else window.last
    m("pit.reduce_task_s_p50") = if (window.isEmpty) 0.0 else Stats.median(window)
    m("pit.task_skew") = ratio(m("pit.reduce_task_s_max"), m("pit.reduce_task_s_p50"))
    m("pit.sort_s") = sum(pitSorts, "sortTime") / 1000.0
    m("pit.spill_bytes") = sum(pitSorts, "spillSize")
    m("pit.peak_exec_mem_mb") = (if (pit.tasks.isEmpty) 0L else pit.tasks.map(_.peakExecMem).max) / MiB
    m("pit.exec_s") = spanS("pit.exec")
    m("pit.task_s") = pit.runSeconds
    m("pit.hit_ratio") = ratio(fact("hits"), fact("slots"))

    val scans = allNodes.collect { case s: FileSourceScanExec => s }
    m("scan.rows") = sum(scans, "numOutputRows")
    m("scan.bytes_read") = sum(scans, "filesSize")
    m("scan.files") = sum(scans, "numFiles")
    m("scan.time_s") = sum(scans, "scanTime") / 1000.0
    m("scan.rows_per_probe") = ratio(m("scan.rows"), probes)

    val writes = allNodes.collect { case w: DataWritingCommandExec => w }
    m("sink.bytes_written") = sum(writes, "numOutputBytes")
    m("sink.files_written") = sum(writes, "numFiles")
    m("sink.commit_s") = (sum(writes, "taskCommitTime") + sum(writes, "jobCommitTime")) / 1000.0

    val bf = g("backfill.run")
    val writePlans = bf.plans.filter(p => Plans.nodes(p).exists(_.isInstanceOf[DataWritingCommandExec]))
    val featNodes = writePlans.flatMap(Plans.nodes)
    val featSorts = featNodes.collect { case s: SortExec => s }
    m("feat.exchanges") = ratio(exchanges(featNodes).size, writePlans.size)
    m("feat.sorts") = ratio(featSorts.size, writePlans.size)
    m("feat.shuffle_write_bytes") = sum(exchanges(featNodes), "shuffleBytesWritten")
    m("feat.sort_s") = sum(featSorts, "sortTime") / 1000.0
    m("feat.spill_bytes") = sum(featSorts, "spillSize")
    m("feat.task_s") = bf.runSeconds

    m("backfill.partition_s_p50") = fact("partition_s_p50")
    m("backfill.jobs_per_partition") = ratio(bf.jobs.size, fact("partitions"))
    m("backfill.read_amp") = ratio(fact("backfill_in_rows"), fact("backfill_out_rows"))
    m("backfill.driver_s") =
      if (bf.jobs.isEmpty) 0.0 else spanS("backfill.run") - covered(bf.jobs.map(j => (j.startMs, j.endMs)))
    m("backfill.skip_s") = spanS("backfill.skip")

    val mat = g("materialize")
    m("materialize.s") = spanS("materialize")
    m("materialize.shuffle_write_bytes") = sum(exchanges(mat.plans.flatMap(Plans.nodes)), "shuffleBytesWritten")
    m("materialize.rows_out") = fact("materialize_rows")

    m("spark.jobs") = all.jobs.size
    m("spark.stages") = all.stages.size
    m("spark.tasks") = all.tasks.size
    m("spark.task_wait_s") = all.tasks.map(t =>
      all.stageSubmitMs.get(t.stageId).map(s => math.max(0L, t.launchMs - s)).getOrElse(0L)).sum / 1000.0
    m("spark.idle_core_frac") = 1.0 - ratio(all.runSeconds, wallS * cores)
    m.toMap
  }
}
