package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.perfbench.SparkInternals
import scala.collection.mutable

/** A traced interval around one call into a layer. */
final case class Span(id: Int, name: String, parent: Int, job: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class TaskRec(stageId: Int, launchMs: Long, durationMs: Long, runMs: Long,
                         shuffleWriteBytes: Long, shuffleReadRecords: Long, spillBytes: Long,
                         peakExecMem: Long)

final case class JobRec(id: Int, group: String, execId: Option[Long], stageIds: Seq[Int],
                        startMs: Long, endMs: Long)

/** What the Spark jobs started inside spans of one name did. */
final case class GroupStats(jobs: Seq[JobRec], tasks: Seq[TaskRec], stageSubmitMs: Map[Int, Long],
                            plans: Seq[SparkPlan]) {
  def ++(o: GroupStats): GroupStats =
    GroupStats(jobs ++ o.jobs, tasks ++ o.tasks, stageSubmitMs ++ o.stageSubmitMs, plans ++ o.plans)
  def runSeconds: Double = tasks.map(_.runMs).sum / 1000.0
  def stages: Set[Int] = tasks.map(_.stageId).toSet
}

object GroupStats {
  val empty: GroupStats = GroupStats(Nil, Nil, Map.empty, Nil)
}

/** Spans around each call into a layer, plus the Spark jobs, tasks and
  * executed plans each span caused, attributed through the job group that
  * [[span]] sets. Everything is kept in memory until [[finishJob]].
  * In a job started untraced, [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  @volatile private var enabled = false
  private var traced = false
  private var job = -1
  private var nextSpan = 0
  private val stack = mutable.Stack[Int]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.Map[Int, JobRec]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val plans = mutable.Map[Long, SparkPlan]()

  /** Register the listener; jobs started traced from now on are recorded. */
  def enable(): Unit = {
    if (!enabled) spark.sparkContext.addSparkListener(this)
    enabled = true
  }

  def isTraced: Boolean = traced

  private def groupId(s: Int, name: String) = s"perfbench:$job:$s:$name"

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevGroup = Option(sc.getLocalProperty(Tracer.GroupKey))
      stack.push(id)
      sc.setJobGroup(groupId(id, name), name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, job, t0, System.nanoTime())
        stack.pop()
        prevGroup match {
          case Some(g) => sc.setJobGroup(g, g)
          case None => sc.clearJobGroup()
        }
      }
    }

  def startJob(j: Int, trace: Boolean): Unit = {
    job = j
    traced = enabled && trace
  }

  /** Drain the listener bus and hand back this job's spans and the stats
    * of every span name; then forget them. */
  def finishJob(): (Seq[Span], Map[String, GroupStats]) = {
    if (!traced) return (Nil, Map.empty)
    SparkInternals.drain(spark.sparkContext)
    synchronized {
      val bySpan = spans.map(s => groupId(s.id, s.name) -> s).toMap
      val stageToGroup = mutable.Map[Int, String]()
      val perGroup = mutable.Map[String, GroupStats]().withDefaultValue(GroupStats.empty)
      jobs.values.foreach { j =>
        bySpan.get(j.group).foreach { s =>
          j.stageIds.foreach(stageToGroup(_) = s.name)
          // jobs of one SQL execution share its plan; attach it once
          val jobPlans = j.execId.flatMap(plans.remove).toSeq
          val submits = j.stageIds.flatMap(id => stageSubmit.get(id).map(id -> _)).toMap
          perGroup(s.name) = perGroup(s.name) ++ GroupStats(Seq(j), Nil, submits, jobPlans)
        }
      }
      tasks.foreach { t =>
        stageToGroup.get(t.stageId).foreach { g =>
          perGroup(g) = perGroup(g) ++ GroupStats(Nil, Seq(t), Map.empty, Nil)
        }
      }
      val out = (spans.toList, perGroup.toMap)
      spans.clear(); jobs.clear(); tasks.clear(); stageSubmit.clear(); plans.clear()
      out
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(Tracer.GroupKey))).getOrElse("")
    if (group.startsWith("perfbench:")) {
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, group, exec, e.stageIds, e.time, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.recordsRead,
      m.memoryBytesSpilled, m.peakExecutionMemory)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    SparkInternals.executedPlan(e).foreach { case (id, plan) => synchronized { plans(id) = plan } }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
}

/** Walks an executed plan into its operators, through adaptive plans,
  * query stages and command wrappers; a reused exchange counts once. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
}
