package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

/** Source layer: one parquet file per table under the scale-factor dir
  * (TESTDATA.md). Parquet is self-describing, so this replaces the
  * reference's `metadata.txt` catalog + CSV loader entirely, and gives
  * predicate pushdown, column pruning, and vectorized reads for free.
  *
  * At 100 TB the same call works against a partitioned directory tree
  * (`.../lineitem/ship_month=.../part-*.parquet`): `spark.read.parquet`
  * handles partition discovery + pruning with no code change here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized per (session, dir, table) DataFrame — the catalog role a
    * metastore plays: resolve a table ONCE per session (file listing +
    * footer/schema read) and hand every query the same immutable
    * relation. Without this each of a session's queries re-lists and
    * re-reads footers for every table it touches (~tens of ms each —
    * ~10 s across a 166-query bench run). Data is NOT cached here —
    * scans still read parquet, so predicate pushdown/pruning per query
    * are unaffected. A table whose FILES change mid-session needs a new
    * session (or this map cleared) — same contract as a metastore's
    * cached file index before a REFRESH TABLE.
    *
    * One-split rule: a relation whose file scan plans to exactly ONE
    * input split is memoized as `coalesce(1)` of itself. The scan is one
    * partition either way, but only the coalesce REPORTS
    * `SinglePartition`, so `EnsureRequirements` can drop the hash,
    * range-sort and single-partition exchanges that aggregates, windows,
    * sort-merge joins, global sorts and `count()` would otherwise stack
    * above it — each of which AQE runs as its own stage job, paying
    * Spark's fixed per-stage cost for no data movement. The gate is
    * Spark's own split sizing (`maxPartitionBytes`, `openCostInBytes`,
    * parallelism), read by planning the scan once per (session, dir,
    * table) — nothing executes. It needs no knob: a table big enough to
    * matter plans several splits and comes back unchanged, so at scale
    * the rule does nothing and the plan shape is the plain scan's. Like
    * the file listing, the split count is fixed by the session's confs
    * at the table's first resolution. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), DataFrame]()

  /** Sessions whose ApplicationEnd teardown hook is installed. Installed
    * on a session's FIRST resolution here — not only via CacheRegistry —
    * so a session that only ever reads tables (never `cached`) still
    * drops its memoized relations when the context stops instead of
    * being pinned by this map for the JVM's lifetime. */
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Drop every resolved relation of `spark` — REFRESH-TABLE semantics
    * and the teardown hook a long-lived JVM needs (each cached
    * DataFrame pins its session, so without this a JVM hosting many
    * short-lived sessions retains dead sessions forever).
    * `CacheRegistry.clear(session)` calls it, so the one documented
    * session-teardown entry point covers both registries. */
  def invalidate(spark: SparkSession): Unit = {
    val it = resolved.keySet().iterator()
    while (it.hasNext) if (it.next()._1 eq spark) it.remove()
    hooked.remove(spark)
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val k = (spark, sfDir, name)
    val hit = resolved.get(k)
    if (hit != null) hit
    else {
      if (hooked.add(spark))
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = invalidate(spark)
          })
      val df = resolve(spark, sfDir, name)
      val prev = resolved.putIfAbsent(k, df)
      if (prev == null) df else prev
    }
  }

  private def resolve(
      spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = read(spark, sfDir, name)
    if (oneSplit(df)) df.coalesce(1) else df
  }

  /** Whether `df`'s file scan plans to exactly one input split, from the
    * physical plan alone: `inputRDD` only groups the listed files into
    * partitions, so nothing runs (unlike `df.rdd`, which also builds a
    * row deserializer). */
  private def oneSplit(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    }.contains(1)

  private def read(
      spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 refuses to map
      // ([PARQUET_TYPE_ILLEGAL]). Read it as a raw nanos LongType via the
      // legacy flag, then rebuild a TIMESTAMP_NTZ at microsecond precision
      // (Spark's native resolution; sub-µs is truncated, matching a DuckDB
      // `CAST(ts AS TIMESTAMP)` on the oracle side).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr(
              "CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
        case _ => df
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }
}
