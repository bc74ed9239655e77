package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

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
    * The relation comes back as read: whether its scan runs as one
    * partition is the plan's choice, made by the size rule the
    * session's first resolution installs
    * ([[org.apache.spark.sql.graft.OnePartition]]). */
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
      if (hooked.add(spark)) {
        org.apache.spark.sql.graft.OnePartition.install(spark)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = invalidate(spark)
          })
      }
      val df = read(spark, sfDir, name)
      val prev = resolved.putIfAbsent(k, df)
      if (prev == null) df else prev
    }
  }

  /** Whether `r` is the relation of a table resolved here: the size
    * rule judges a table by the splits its scan plans. */
  def isTable(r: BaseRelation): Boolean =
    resolved.values.asScala.exists(_.queryExecution.analyzed.exists {
      case l: LogicalRelation => l.relation eq r
      case _ => false
    })

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
