package graft

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec}

/** Contract checks for the driver interface: unique names, oracle keys ⊆
  * query keys, flagship smoke, and determinism (two runs, equal results)
  * for a representative query from each module.
  *
  * Also `Tables`' one-split rule, on the shared session: every sf0.001
  * fixture table is one input split, so it comes back as one partition
  * and the exchanges above it disappear. A table of several files plans
  * several splits, as every table does at scale, and comes back as the
  * plain scan. PlanAuditSpec pins the many-split plan shapes. */
class QueryContractSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("a one-split table reports SinglePartition") {
    val df = Tables(spark, sf, "orders")
    assert(df.queryExecution.executedPlan.outputPartitioning == SinglePartition,
      df.queryExecution.executedPlan.treeString)
  }

  test("q118, q150 and q152 over one-split tables plan no Exchange") {
    Seq("q118_rolling_1h", "q150_compaction_plan", "q152_pii_audit")
      .foreach { n =>
        val p = plan(n)
        assert("Exchange".r.findAllIn(p.split("\n\n")(0)).isEmpty, s"$n:\n$p")
      }
  }

  test("q03's filter still reaches PushedFilters through the coalesce") {
    val p = plan("q03_filter_cmp")
    assert(p.contains("Coalesce"), s"lineitem not one partition:\n$p")
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_quantity"),
      s"filter not pushed:\n$p")
  }

  test("a multi-split table comes back with no Coalesce") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    spark.range(0, 3000).repartition(3).write.parquet(s"$dir/multi.parquet")
    val df = Tables(spark, dir, "multi")
    val physical = df.queryExecution.executedPlan
    val splits = physical.collectFirst {
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    }
    assert(splits.exists(_ > 1), physical.treeString)
    assert(!physical.treeString.contains("Coalesce"), physical.treeString)
    assert(df.count() == 3000)
  }

  test("Tables returns the same instance per (session, dir, table)") {
    val a = Tables(spark, sf, "lineitem")
    assert(a eq Tables(spark, sf, "lineitem"))
    assert(!(a eq Tables(spark, sf, "orders")))
    val other = spark.newSession()
    try assert(!(a eq Tables(other, sf, "lineitem")))
    finally Tables.invalidate(other)
  }

  test("query names are unique and oracles reference real queries") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("representative queries are deterministic across runs") {
    val reps = Seq("q01_pricing_summary", "q22_window_rank", "q42_jaccard_pairs",
      "q46_cosine_topk", "q53_fingerprint", "q60_window_tumbling",
      "q130_cosine_rerank", "q134_session_cooccurrence", "q135_kmeans",
      "q138_bigram_logprob", "q140_ewma_smooth", "q141_mad_outliers",
      "q142_quantized_rerank")
    reps.foreach { name =>
      val fn = SparkEntry.queries(name)
      val a = fn(spark, sf).collect()
      val b = fn(spark, sf).collect()
      assert(a.sameElements(b), s"$name not deterministic")
    }
  }

  test("every oracle-paired query returns a non-degenerate schema") {
    // column names must be stable + lowercase-compatible for the driver's
    // sorted-column hash compare
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val cols = df.columns
      assert(cols.distinct.length == cols.length, s"$name has dup columns")
    }
  }
}
