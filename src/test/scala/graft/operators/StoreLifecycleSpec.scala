package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.{Graft, SparkTestBase}

/** Pins two store-lifecycle contracts the per-store specs leave open:
  * the ANN maintain report learns kIvf from the manifest instead of a
  * Spark job, and q187's coordinated append lets the lexical chunk
  * store absorb documents that have no embedding row while the ANN
  * store skips them. */
class StoreLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Scheduler jobs started in job group `group` while `body` runs,
    * with the listener bus drained afterwards. */
  private def jobsIn(group: String)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      Bridge.drainListenerBus(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ANN maintain reads kIvf from the manifest: constructing the " +
      "report schedules no Spark job") {
    val vecs = ((0L to 1L).map(i => (i, Seq(0.0, 0.0, 0.0, 1.0 + i))) ++
      (2L to 6L).map(i => (i, Seq(-90.0, -90.0, -90.0, -90.0 - i % 3))) ++
      (7L to 12L).map(i => (i, Seq(80.0, 80.0, 80.0, 80.0 + i % 4))))
      .toDF("vec_id", "emb")
    val idx = tmp("graft-annmaint")
    Graft.annIndexWrite(vecs, "vec_id", "emb", idx,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    Graft.annIndexDelete(spark, idx, Seq(9L))
    var report: org.apache.spark.sql.DataFrame = null
    val n = jobsIn("maintain-construct") {
      report = Similarity.ivfPqIndexMaintain(spark, idx)
    }
    assert(n == 0, s"constructing the maintain report ran $n Spark " +
      "jobs — kIvf must come from the manifest, not a count over cents/")
    // the report itself is unchanged: 2 cells, 12 live vectors, the
    // one tombstoned row counted, the default share cap in force
    val rows = report.collect()
    assert(rows.length == 2 &&
      rows.map(_.getAs[Long]("n_vecs")).sum == 12L &&
      rows.map(_.getAs[Long]("tomb")).sum == 1L, rows.toSeq)
    assert(report.columns.toSeq ==
      Seq("cell", "n_vecs", "files", "tomb", "share_bp", "action"))
  }

  test("q187's coordinated append: the chunk search store absorbs " +
      "every appended doc, the ANN store skips the unembedded ones") {
    val dir = tmp("graft-coord-corpus")
    val ids = 0L until 30L
    // appended slice = doc_id % 3 == 0; these four appended docs carry
    // no embedding row and survive the doc_id % 7 == 3 takedown
    val unembedded = Set(9L, 15L, 21L, 27L)
    ids.map(i => (i, s"w${i % 5} w${i % 7} doc$i tail${i % 3}", "en",
        "web", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    ids.filterNot(unembedded).map(i =>
        (i, (0 until 64).map(j => ((i * 31 + j * 17) % 13 - 6 + 0.5)
          .toFloat), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val (cs, ann) = Search.coordStoreDirs(spark, dir)
    try {
      val takenDown = ids.filter(_ % 7 == 3).toSet
      val searchDocs = Search.SearchLayout
        .live(spark, cs, "docs", Stores.currentGen(spark, cs))
        .select(expr(s"doc_id div ${Search.ChunkIdBase}L")).distinct()
        .as[Long].collect().toSet
      assert(searchDocs == ids.toSet -- takenDown,
        s"the chunk store must hold every surviving doc, embedded or " +
          s"not: missing ${(ids.toSet -- takenDown) -- searchDocs}")
      val annVecs = Similarity.AnnLayout
        .live(spark, ann, "enc", Stores.currentGen(spark, ann))
        .filter(col("s") === 0).select("vec_id").as[Long].collect().toSet
      assert(annVecs == ids.toSet -- takenDown -- unembedded,
        s"the ANN store must hold exactly the surviving embedded docs: " +
          s"$annVecs")
      assert(Stores.storeVersion(spark, cs) ==
        Stores.storeVersion(spark, ann), "the two stores stay aligned")
    } finally Search.resetDiskSearchMemo()
  }
}
