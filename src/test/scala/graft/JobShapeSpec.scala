package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

import graft.operators.Stores
import graft.tools.Profile

/** Pins the round-19/20 absorbed-bootstrap JOB-COUNT cuts so they
  * cannot silently rot: the r19 cut removed whole CLASSES of overhead
  * jobs (model-frame schema-inference reads, un-hinted tiny-join
  * broadcasts inside one-partition bootstraps, separate
  * stats/bounds/isEmpty aggregates folded into shared actions) from
  * every disk-store first touch — q187 53 → 29 scheduler jobs at
  * sf0.1, q186 29 → 19, q182 18 → 12, q185 12 → 10, q164 23 → 18 —
  * and r20 added the pair store whose first touch (q188) replaces the
  * 21-job LSH chain rebuild for audit consumers. A regression
  * re-introducing any class adds jobs in steps of ~2–8. Job counts are
  * deterministic for a fixed (data, config) — tools.Profile's standing
  * rationale — and every pin here runs against cold memos and a cold
  * registry exactly like the tool's standalone measurement. Only q187
  * was pinned in r19; the r19 verdict's ask #3 extends the pin to every
  * query the cut touched (a schema-inference read or un-gated
  * broadcast regressing in ANY of them must fail `sbt test`, not the
  * round). Each bound IS the count measured at sf0.001 in THIS spec's
  * context (cold everything, tables pre-resolved, the size rule
  * shaping one-partition plans): the higher one where the count
  * depends on what earlier suites left warm.
  */
class JobShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** `name`'s first touch as tools.Profile records it, against cold
    * store memos and a cold registry, tables pre-resolved (the
    * PlanConstructionSpec warm-up discipline). */
  private def firstTouch(name: String): Profile.Touch = {
    CacheRegistry.clear(spark)
    Stores.resetStoreMemos()
    Tables.names.foreach(Tables(spark, dir, _))
    try Profile.touch(spark, dir, name)
    finally {
      CacheRegistry.clear(spark)
      Stores.resetStoreMemos()
    }
  }

  /** `name`'s first touch schedules at most `bound` jobs: the count
    * measured in this spec's context, the higher of an alone and a
    * full-suite run. The bound lives in the assertion, not the test
    * name, so tightening a pin keeps its name. */
  private def pin(name: String, bound: Int, rationale: String): Unit =
    test(s"$name first touch: $rationale") {
      val n = firstTouch(name).jobs.size
      info(s"$name first-touch jobs: $n")
      assert(n <= bound,
        s"$name first-touch scheduled $n jobs (bound $bound) — an " +
          "overhead-job class (schema-inference read, one-partition " +
          "broadcast, separate stats/bounds aggregate) likely " +
          s"regressed; run tools.Profile $name to name the new jobs")
    }

  // r19 cut 53 → 29 at sf0.1; r22 folded the takedown bounds aggregate
  // into the id pin's observed metrics
  pin("q187_coord_takedown", 27, "the r19/r22 bootstrap cuts")
  pin("q186_rag_fuse_disk", 17, "the r19 bootstrap cut") // 29 → 19 at sf0.1
  pin("q182_ivfpq_disk", 10, "the r19 bootstrap cut") // 18 → 12 at sf0.1
  pin("q185_bm25_disk", 9, "the r19 bootstrap cut") // 12 → 10 at sf0.1
  pin("q164_nb_source", 16, "the r19 cut, job-free LM rule") // 23 → 18 at sf0.1
  pin("q188_disk_lsh_audit", 9, "reads the r20 pair store")
  // the r20 verdict's ask #4: the deep-chain class gets drift pins
  // too — a schema-inference read or un-gated broadcast creeping into
  // the chain must fail `sbt test`, not surface as a judged-line
  // mystery. After the r21 store rewiring q117's first touch IS the
  // store build + serve (was the 21-job chain at sf0.1) and q121's
  // candidate graph reads the store (was 19 at sf0.1).
  pin("q117_lsh_recall", 12, "pair-store build + audit serve")
  pin("q121_pagerank_neardup", 11, "store-fed graph, 3 rounds")
  pin("q134_session_cooccurrence", 7, "cache, pair join, top-k")

  // Store builds shape their plans, not the session: every job of each
  // store's cold first build runs under the session's own shuffle,
  // adaptive and broadcast settings (a job carries a setting only when
  // the session set it) and under no graft key.
  test("store first builds run every job under the session's own conf") {
    val own = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try Seq("q182_ivfpq_disk", "q184_disk_incremental_dedup",
        "q185_bm25_disk", "q186_rag_fuse_disk", "q187_coord_takedown",
        "q188_disk_lsh_audit").foreach(firstTouch)
    finally {
      Bridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    val props = jobs.asScala.toSeq.map(j => j.jobId -> j.properties)
    val changed = for {
      (id, p) <- props
      (k, v) <- own
      set <- Option(p.getProperty(k)) if set != v
    } yield s"job $id: $k=$set (session $v)"
    val graftKeys = props.flatMap { case (id, p) =>
      p.stringPropertyNames.asScala.filter(_.startsWith("spark.graft."))
        .map(k => s"job $id: $k") }
    val off = changed ++ graftKeys
    assert(props.nonEmpty, "no job recorded")
    if (off.nonEmpty) fail(s"${off.size} job settings differ from the " +
      s"session's, e.g. ${off.take(6).mkString("; ")}")
  }

  // AQE stage and broadcast jobs run on pool threads whose own call
  // site is `withThreadLocalCaptured at CompletableFuture.java`; the
  // profile must still name the query action that owns each of them
  test("q188 first touch: every job is labelled by its owning action, " +
      "none only by CompletableFuture") {
    val jobs = firstTouch("q188_disk_lsh_audit").jobs
    jobs.foreach(j => info(s"job ${j.id} exec=${j.execution} ${j.label}"))
    val unowned = jobs.filter(_.label.contains("CompletableFuture"))
    assert(jobs.nonEmpty && unowned.isEmpty,
      s"jobs labelled only by their pool thread: ${unowned.mkString("; ")}")
  }
}
