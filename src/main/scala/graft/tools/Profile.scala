package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.Bridge

import graft.{Bench, CacheRegistry, SparkEntry, Tables}

/** Per-query profile of a Bench-ordered run. Wall clock on a shared box
  * swings 2× between back-to-back runs (BASELINE.md), but the jobs,
  * stages and tasks a query's first touch schedules are deterministic
  * for fixed data and config, so they are the numbers to compare.
  *
  * Runs the named queries (all by default) in Bench's sorted order on
  * one session and applies `Bench.releaseAfter` after each one. Per
  * query it prints one summary line — jobs, stages, tasks, summed task
  * time and wall time of the first touch, the wall time of a second run
  * (the gap is one-time setup: plan compile, footer reads, cache and
  * store builds), the resident cache sampled before the release, and
  * the first touch's codegen compiles and their time — then one line
  * per job with the SQL execution that owns it. The last
  * line is the peak resident cache and the query where it occurred.
  *
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.tools.Profile [query …]"
  */
object Profile {

  /** One scheduler job. `execution` is the job's `spark.sql.execution.id`
    * local property; `label` names the action that ran it: that
    * execution's description (its call site), else the job's stage
    * names. AQE stage and broadcast jobs run on pool threads whose own
    * call site is `CompletableFuture`, but they carry the execution id
    * of the query action that planned them. */
  final case class Job(id: Int, stages: Int, execution: Option[Long],
      label: String)

  /** What one measured body scheduled and moved. Input records count
    * file rows exactly and a cached block's columnar batches; input
    * bytes count a cached block's whole size but miss most of a Parquet
    * scan. `maxTaskShuffleWritten` is the busiest task's shuffle
    * output, which carries the pairs a pair-join task produced.
    * `compiles` and `compileMs` are the Janino compiles the body ran and
    * their summed time, over every thread of the JVM (driver and local
    * executors alike). */
  final case class Touch(jobs: Seq[Job], stages: Int, tasks: Int,
      taskSeconds: Double, wallSeconds: Double, inputBytes: Long,
      inputRecords: Long, shuffleRecords: Long, maxTaskShuffleWritten: Long,
      compiles: Long, compileMs: Double)

  /** Construct `name` over `sfDir` and count it. */
  def touch(spark: SparkSession, sfDir: String, name: String): Touch =
    measure(spark)(SparkEntry.queries(name)(spark, sfDir).count())._2

  /** Run `body`, recording every job, completed stage and task started
    * meanwhile with its input and shuffle counts; the listener bus is
    * drained before the records are read. */
  def measure[A](spark: SparkSession)(body: => A): (A, Touch) = {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val executions = new ConcurrentHashMap[Long, String]()
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs, inBytes, inRecords, shRecords, shWMax = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        Option(t.taskMetrics).foreach { m =>
          inBytes.addAndGet(m.inputMetrics.bytesRead)
          inRecords.addAndGet(m.inputMetrics.recordsRead)
          shRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
          shWMax.accumulateAndGet(
            m.shuffleWriteMetrics.recordsWritten, math.max)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId, s.description)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val (result, wall) = try {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(sc)
      (r, dt)
    } finally sc.removeSparkListener(listener)
    val records = jobs.asScala.toSeq.sortBy(_.jobId).map { j =>
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .map(_.toLong)
      val label = exec.flatMap(e => Option(executions.get(e))).getOrElse(
        j.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct.mkString(" | "))
      Job(j.jobId, j.stageInfos.size, exec, label)
    }
    (result, Touch(records, stages.get, tasks.get, taskMs.get / 1000.0, wall,
      inBytes.get, inRecords.get, shRecords.get, shWMax.get,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
      (CodeGenerator.compileTime - compileNs0) / 1e6))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a fixture directory"))
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    val names =
      (if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq).sorted
    val spark = localSession(32)
    // table resolution reads footers once per table: keep those jobs off
    // whichever query reads a table first (JobShapeSpec does the same)
    Tables.names.foreach(Tables(spark, sfDir, _))
    var peakMb = 0.0
    var peakAt = "-"
    names.foreach { name =>
      try {
        val t = touch(spark, sfDir, name)
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val again = (System.nanoTime() - t0) / 1e9
        // sampled BEFORE the release, so frames a query builds and is
        // the last consumer of still count toward the peak
        val mb = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0
        if (mb > peakMb) { peakMb = mb; peakAt = name }
        println(f"$name: jobs=${t.jobs.size}%d stages=${t.stages}%d " +
          f"tasks=${t.tasks}%d taskTime=${t.taskSeconds}%.1fs " +
          f"wall=${t.wallSeconds}%.2fs again=$again%.2fs cache=$mb%.1fMB " +
          f"compiles=${t.compiles}%d compile_ms=${t.compileMs}%.0f")
        t.jobs.foreach { j =>
          println(f"  job ${j.id}%4d stages=${j.stages}%2d " +
            f"exec=${j.execution.fold("-")(_.toString)}%-4s ${j.label.take(160)}")
        }
      } catch { case NonFatal(e) => println(s"$name: FAILED $e") }
      Bench.releaseAfter.getOrElse(name, Nil)
        .foreach(p => CacheRegistry.releaseByPrefix(spark, p))
    }
    println(f"peak resident cache: $peakMb%.1fMB at $peakAt")
    spark.stop()
  }
}
