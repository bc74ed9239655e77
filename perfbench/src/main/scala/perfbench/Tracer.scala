package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one op, filled from listener events. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var cacheScans = 0L
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** (jobId, start epoch ms, end epoch ms) */
  val jobSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
  val openJobs = mutable.Set[Int]()
}

/** The traced run's outside view of the engine. Every Spark job is
  * attributed to an op by the job-group id the harness sets before the
  * op: local properties are inherited by the threads AQE and the store
  * layer fork, so jobs submitted from them still carry the op's group.
  * Query-execution events carry no properties; they go to the op that
  * is open while they are delivered, which is exact because every op
  * drains the bus before it closes and ops never overlap. */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  private val ops = mutable.Map[String, OpCounters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  @volatile private var current: String = "(none)"

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def open(group: String): Unit = { current = group; counters(group) }

  def counters(group: String): OpCounters =
    synchronized(ops.getOrElseUpdate(group, new OpCounters))

  /** Wait until the bus has delivered the op's events: drain, then poll
    * until no job of the group is still open (a job's end event can be
    * posted after its action has returned). */
  def close(group: String): OpCounters = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      BusDrain(spark.sparkContext)
      settled = synchronized(counters(group).openJobs.isEmpty)
      if (!settled) Thread.sleep(5)
    }
    current = "(none)"
    counters(group)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = e.time
    val c = counters(g)
    c.jobs += 1
    c.openJobs += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val c = counters(g)
      c.openJobs -= e.jobId
      c.jobSpans += ((e.jobId, jobStart.remove(e.jobId).getOrElse(e.time),
        e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, "(none)"))
    c.tasks += 1
    c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val scans = scala.util.Try(cacheScans(qe.executedPlan)).getOrElse(0)
    synchronized {
      val c = counters(current)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      c.cacheScans += scans
    }
  }

  /** In-memory relation scans in an executed plan, through AQE's final
    * plan, its query stages and subqueries. */
  private def cacheScans(p: SparkPlan): Int = {
    val here = p match {
      case _: InMemoryTableScanExec => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    here + kids.map(cacheScans).sum
  }
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def unionMs(intervals: Iterable[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    intervals.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }

  /** Union length of the parts of `intervals` inside [lo, hi). */
  def unionWithin(intervals: Iterable[(Long, Long)], lo: Long,
      hi: Long): Long =
    unionMs(intervals.flatMap { case (s, e) =>
      val a = math.max(s, lo); val b = math.min(e, hi)
      if (b > a) Some((a, b)) else None
    })
}
