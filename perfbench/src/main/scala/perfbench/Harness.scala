package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, CacheRegistry, QueryDef, SparkEntry, Tables}
import graft.operators._

/** One timed operation as the result file records it. */
final case class OpResult(name: String, seconds: Double,
    constructS: Double, executeS: Double, releaseS: Double, ok: Boolean,
    detail: String)

/** The benchmark's JVM side. run.py launches it once per run:
  *
  *   perfbench.Harness run --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --expected FILE --out FILE --launch-ms T
  *   perfbench.Harness inventory --out FILE
  *
  * It reaches the engine only through `SparkEntry.queries`, the query
  * modules' `defs`, `Bench.releaseAfter`, `Tables` and
  * `CacheRegistry.releaseByPrefix`. */
object Harness {

  /** The query modules of the `relational` workload; every other
    * module's queries form `llm_pipeline`. */
  val relationalModules: Seq[(String, Seq[QueryDef])] = Seq(
    "CoreRelational" -> CoreRelational.defs,
    "ExtendedRelational" -> ExtendedRelational.defs,
    "AnalyticsExtras" -> AnalyticsExtras.defs,
    "ScalarFunctions" -> ScalarFunctions.defs,
    "SqlSurface" -> SqlSurface.defs,
    "PipelineCapstone" -> PipelineCapstone.defs,
    "TimeSeriesJoins" -> TimeSeriesJoins.defs,
    "FeaturePrep" -> FeaturePrep.defs,
    "StreamWindows" -> StreamWindows.defs,
    "CatalogOps" -> CatalogOps.defs,
    "StorageLayout" -> StorageLayout.defs)

  val llmModules: Seq[(String, Seq[QueryDef])] = Seq(
    "TextDedup" -> TextDedup.defs,
    "Search" -> Search.defs,
    "GraphOps" -> GraphOps.defs,
    "Chunking" -> Chunking.defs,
    "Scrub" -> Scrub.defs,
    "Curation" -> Curation.defs,
    "Similarity" -> Similarity.defs,
    "TextAnalysis" -> TextAnalysis.defs,
    "Multimodal" -> Multimodal.defs)

  /** The inventory-coverage guard: the two query workloads must
    * partition `SparkEntry.queries` exactly. Returns the two sorted
    * name lists or throws, naming every stray query. */
  def partition(): (Seq[String], Seq[String]) = {
    val rel = relationalModules.flatMap(_._2.map(_.name))
    val llm = llmModules.flatMap(_._2.map(_.name))
    val all = SparkEntry.queries.keySet
    val overlap = rel.toSet.intersect(llm.toSet)
    val missing = all.diff(rel.toSet ++ llm.toSet)
    val unknown = (rel.toSet ++ llm.toSet).diff(all)
    val dups = (rel ++ llm).groupBy(identity).collect {
      case (n, xs) if xs.size > 1 => n }
    if (overlap.nonEmpty || missing.nonEmpty || unknown.nonEmpty ||
        dups.nonEmpty)
      throw new IllegalStateException(
        "inventory coverage guard: relational ∪ llm_pipeline must equal " +
          s"SparkEntry.queries (${all.size}) exactly; overlap=" +
          overlap.toSeq.sorted + " missing=" + missing.toSeq.sorted +
          " unknown=" + unknown.toSeq.sorted + " repeated=" +
          dups.toSeq.sorted)
    (rel.sorted, llm.sorted)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    args.headOption match {
      case Some("inventory") => inventory(opts("out"))
      case Some("run") => run(opts)
      case other => throw new IllegalArgumentException(
        s"want `inventory` or `run`, got $other")
    }
  }

  private def inventory(out: String): Unit = {
    val (rel, llm) = partition()
    val oracle = SparkEntry.oracleSql
    Json.write(out, Map(
      "relational" -> rel, "llm_pipeline" -> llm,
      "oracle" -> oracle,
      "modules" -> (relationalModules ++ llmModules).flatMap {
        case (m, defs) => defs.map(_.name -> m) }.toMap))
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.store.root", s"$work/stores")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench's JIT warm-up, statement for statement: the code paths the
    * first real query would otherwise pay to compile. */
  private def warmUp(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10000)
      .selectExpr("id", "sequence(0L, id % 20) AS arr")
      .selectExpr(
        "aggregate(transform(arr, x -> x * 2), 0L, (a, x) -> a + x) AS s",
        "size(array_distinct(transform(arr, x -> concat_ws(' ', x, x)))) AS d",
        "id % 100 AS k")
      .groupBy("k").agg(sum("s"), sum("d"))
      .collect()
    val wj = spark.range(20000).selectExpr("id", "id % 1000 AS k")
    wj.join(wj.selectExpr("k AS k2", "id AS id2"), col("k") === col("k2"))
      .selectExpr("count(*)").collect()
    spark.range(10000).selectExpr("id", "id % 13 AS k")
      .selectExpr("id", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .selectExpr("max(rn)").collect()
    spark.range(1000)
      .selectExpr("""get_json_object(concat('{"a":', id, '}'), '$.a') AS a""")
      .selectExpr("count(distinct a)").collect()
  }

  /** Resolve every table through `Tables` and decode it in full, so
    * the timed section reads warm pages through warm scan code. */
  private def warmTables(spark: SparkSession, data: String): Unit =
    Tables.names.foreach { t =>
      Tables(spark, data, t).write.format("noop").mode("overwrite").save()
    }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def run(o: Map[String, String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val data = o("data")
    val work = o("work")
    val (relNames, llmNames) = partition()
    val expected: Map[String, Long] = scala.io.Source
      .fromFile(o("expected")).getLines().filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split("\t"); k -> v.toLong }.toMap

    val tS0 = now()
    val spark = session(work)
    val tS1 = now()
    warmUp(spark)
    warmTables(spark, data)
    val tS2 = now()
    // A session's own set-up, repeated in three fresh sessions: resolve
    // every table through `Tables`. setup_s counts the median once; the
    // other two exist only to steady that figure.
    val reps = (1 to 3).map { _ =>
      val t0 = now()
      val s = spark.newSession()
      Tables.names.foreach(Tables(s, data, _))
      CacheRegistry.clear(s)
      secs(t0, now())
    }
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val checkNames = o.get("check").toSeq.flatMap(_.split(",")).toSet
    val rec = new Recorder(spark, tracer, checkNames, work)

    val firstOpMs = System.currentTimeMillis()
    val tRun0 = now()
    var passes = 0
    workload match {
      case "relational" =>
        val fns = SparkEntry.queries
        do {
          val order = new scala.util.Random(seed * 1000003L + passes)
            .shuffle(relNames)
          order.foreach(n => rec.query(n, fns(n), data, expected.get(n)))
          passes += 1
        } while (secs(tRun0, now()) < seconds)
      case "llm_pipeline" =>
        // one pass per JVM: the registry and the store memos are cold
        // only once, and releaseAfter is defined on sorted order
        val fns = SparkEntry.queries
        llmNames.foreach(n => rec.query(n, fns(n), data, expected.get(n)))
        passes = 1
      case other =>
        throw new IllegalArgumentException(s"unknown workload $other")
    }
    val totalS = secs(tRun0, now())
    rec.writeResults()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "passes" -> passes,
      "traced" -> traced,
      "launch_ms" -> o("launch-ms").toLong, "main_ms" -> mainMs,
      "session_s" -> secs(tS0, tS1), "warmup_s" -> secs(tS1, tS2),
      "setup_reps_s" -> reps, "first_op_ms" -> firstOpMs,
      "total_s" -> totalS,
      "ops" -> rec.ops.map(r => Map(
        "name" -> r.name, "s" -> r.seconds,
        "construct_s" -> r.constructS, "execute_s" -> r.executeS,
        "release_s" -> r.releaseS, "ok" -> r.ok, "detail" -> r.detail)),
      "peak_rss_mb" -> peakRssMb(),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    if (traced) {
      result("layers") = rec.layers(totalS) ++ storeLayer(rec, work, data)
      Json.write(s"$work/spans.json", rec.spans)
    }
    Json.write(o("out"), result)
    spark.stop()
  }

  /** The disk-store queries q182–q188: the only ops of the query
    * workloads that build, mutate and serve the on-disk stores. */
  def isStoreQuery(name: String): Boolean =
    scala.util.Try(name.drop(1).takeWhile(_.isDigit).toInt)
      .toOption.exists(n => n >= 182 && n <= 188)

  /** The `Stores` layer as the store-backed queries exercise it: their
    * time, jobs and bytes read per op, and the files and bytes the store
    * root holds at run end against the bytes of the corpus tables. */
  private def storeLayer(rec: Recorder, work: String, data: String)
      : Map[String, Double] = {
    val storeOps = rec.traced.filter(o => isStoreQuery(o.name))
    val n = math.max(storeOps.size, 1).toDouble
    def tree(dir: String): Seq[java.io.File] = {
      val f = new java.io.File(dir)
      if (!f.exists) Nil
      else if (f.isDirectory) f.listFiles().toSeq.flatMap(c => tree(c.getPath))
      else Seq(f)
    }
    val files = tree(s"$work/stores").filterNot(_.getName.endsWith(".crc"))
    val userBytes = Seq("documents", "embeddings")
      .flatMap(t => tree(s"$data/$t.parquet")).map(_.length).sum.toDouble
    Map(
      "Stores.ops" -> storeOps.size.toDouble,
      "Stores.ops_s" -> storeOps.map(o => (o.t2 - o.t0) / 1e9).sum,
      "Stores.jobs_per_op" -> storeOps.map(_.c.jobs).sum / n,
      "Stores.bytes_read_per_op" -> storeOps.map(_.c.inputBytes).sum / n,
      "Stores.files" -> files.size.toDouble,
      "Stores.bytes_on_disk" -> files.map(_.length).sum.toDouble,
      "Stores.bytes_written_per_user_byte" ->
        storeOps.map(_.c.outputBytes).sum / userBytes)
  }

  /** VmHWM of this JVM in MB (0 where /proc is unavailable). */
  def peakRssMb(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }.getOrElse(0.0)
}

/** One traced op: its counters and its phase boundaries in nanoTime
  * (start, constructed, executed, release start, end). */
final case class TracedOp(name: String, c: OpCounters, t0: Long, t1: Long,
    t2: Long, t3: Long, t4: Long)

/** Times ops, attributes the traced run's counters and spans to them. */
final class Recorder(spark: SparkSession, tracer: Option[Tracer],
    checkNames: Set[String], work: String) {
  val ops = mutable.ArrayBuffer[OpResult]()
  val traced = mutable.ArrayBuffer[TracedOp]()
  /** op, query, phase, start and end (epoch ms) of every span */
  val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private val seenRdds = mutable.Set[Int]()
  private var cacheBuilds = 0L
  private var residentPeakMb = 0.0
  private var queryFrames = Map.empty[String, DataFrame]
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private def ms(nano: Long): Long = epoch0 + (nano - nano0) / 1000000L

  /** One timed op, Bench's: construct the frame and `count()` it. The
    * count must equal the oracle's; Bench's scoped release runs after
    * the timed section. */
  def query(name: String, fn: (SparkSession, String) => DataFrame,
      data: String, expected: Option[Long]): Unit = {
    val idx = ops.size
    val group = s"op$idx:$name"
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    tracer.foreach(_.open(group))
    val t0 = System.nanoTime()
    var df: DataFrame = null
    var rows = -1L
    var err: String = null
    val t1 = try {
      df = fn(spark, data)
      val tc = System.nanoTime()
      rows = df.count()
      tc
    } catch { case e: Throwable =>
      err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)
        .take(300)}"
      System.nanoTime()
    }
    val t2 = System.nanoTime()
    if (tracer.isDefined) pollCache()
    val t3 = System.nanoTime()
    Bench.releaseAfter.getOrElse(name, Nil)
      .foreach(p => CacheRegistry.releaseByPrefix(spark, p))
    val t4 = System.nanoTime()
    spark.sparkContext.clearJobGroup()
    val (ok, detail) = (err, expected) match {
      case (null, Some(e)) if e == rows => (true, s"$rows rows")
      case (null, Some(e)) => (false, s"$rows rows, oracle has $e")
      case (null, None) => (false, s"$rows rows, no oracle count")
      case _ => (false, err)
    }
    ops += OpResult(name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      (t4 - t3) / 1e9, ok, detail)
    tracer.foreach { tr =>
      val c = tr.close(group)
      traced += TracedOp(name, c, t0, t1, t2, t3, t4)
      def span(phase: String, a: Long, b: Long, parent: String): Unit =
        spans += Map("op" -> idx, "query" -> name, "phase" -> phase,
          "parent" -> parent, "start_ms" -> a, "end_ms" -> b)
      span("op", ms(t0), ms(t4), null)
      span("construct", ms(t0), ms(t1), "op")
      span("execute", ms(t1), ms(t2), "op")
      span("release", ms(t3), ms(t4), "op")
      c.jobSpans.foreach { case (id, s, e) =>
        span(s"job $id", s, e, if (s < ms(t1)) "construct" else "execute")
      }
    }
    if (checkNames(name) && ok) queryFrames += name -> df
  }

  /** Frames materialised in Spark's block manager since the last poll,
    * and the resident size now; polled at op end, before release. */
  private def pollCache(): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    infos.filter(_.numCachedPartitions > 0).foreach { i =>
      if (seenRdds.add(i.id)) cacheBuilds += 1
    }
    val mb = infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
    if (mb > residentPeakMb) residentPeakMb = mb
  }

  /** Re-run each query named for a full-result check once more, into
    * parquet for run.py's comparison with the DuckDB oracle. Frames
    * whose registry inputs have been released rebuild them. */
  def writeResults(): Unit =
    queryFrames.foreach { case (name, df) =>
      scala.util.Try(df.coalesce(1).write.mode("overwrite")
        .parquet(s"$work/results/$name"))
    }

  /** Per-layer sums over every op of the run. */
  def layers(totalS: Double): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    traced.foreach { case TracedOp(_, c, t0, t1, t2, t3, t4) =>
      val (c0, c1, c2, c4) = (ms(t0), ms(t1), ms(t2), ms(t4))
      val jobIv = c.jobSpans.map(j => (j._2, j._3))
      val inConstruct = Tracer.unionWithin(jobIv, c0, c1)
      val inExecute = Tracer.unionWithin(jobIv, c1, c2)
      add("operators.construct_s", (t1 - t0) / 1e9)
      add("operators.construct_jobs", c.jobSpans.count(_._2 < c1))
      add("catalyst.analysis_s", c.analysisMs / 1e3)
      add("catalyst.optimization_s", c.optimizationMs / 1e3)
      add("catalyst.planning_s", c.planningMs / 1e3)
      add("scheduler.jobs", c.jobs)
      add("scheduler.stages", c.stages)
      add("scheduler.tasks", c.tasks)
      add("scheduler.wait_s",
        ((c2 - c0) - Tracer.unionWithin(c.taskIntervals, c0, c2)) / 1e3)
      add("execution.task_run_s", c.taskRunMs / 1e3)
      add("execution.task_cpu_s", c.taskCpuNs / 1e9)
      add("execution.gc_s", c.gcMs / 1e3)
      add("execution.shuffle_read_bytes", c.shuffleRead)
      add("execution.shuffle_write_bytes", c.shuffleWrite)
      add("execution.spill_bytes", c.spill)
      add("CacheRegistry.reads", c.cacheScans)
      add("CacheRegistry.release_s", (t4 - t3) / 1e9)
      add("Tables.bytes_read", c.inputBytes)
      add("Tables.records_read", c.inputRecords)
      add("span.op_self_s", ((t4 - t0) - (t2 - t0) - (t4 - t3)) / 1e9)
      add("span.construct_self_s", ((c1 - c0) - inConstruct) / 1e3)
      add("span.execute_self_s", ((c2 - c1) - inExecute) / 1e3)
      add("span.job_s", (inConstruct + inExecute) / 1e3)
    }
    m("CacheRegistry.builds") = cacheBuilds.toDouble
    m("CacheRegistry.reads_per_build") =
      if (cacheBuilds == 0) 0.0
      else m.getOrElse("CacheRegistry.reads", 0.0) / cacheBuilds
    m("CacheRegistry.resident_mb_peak") = residentPeakMb
    m("trace.total_s") = totalS
    m
  }
}
