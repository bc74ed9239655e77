package graft.tools

import org.apache.spark.sql.functions._

import graft.{Replicas, SparkTestBase}

/** Pins the [[graft.Replicas]] generator invariants GrowthLawSpec's
  * laws rest on. If a generator edit silently broke replica
  * decorrelation, the measured "near-linear" exponents would be an
  * artifact (correlated replicas = quadratic cross-replica dup mass);
  * these properties make that a build failure instead. */
class ScaleProbeSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("signFlips: deterministic, ±1-valued, identity at replica 0") {
    assert(Replicas.signFlips(0, 8) == Seq.fill(8)(1f))
    val a = Replicas.signFlips(3, 64)
    assert(a == Replicas.signFlips(3, 64), "rerun must reproduce")
    assert(a.forall(v => v == 1f || v == -1f))
    assert(a.contains(-1f) && a.contains(1f),
      "a replica pattern must actually mix signs")
    assert(a != Replicas.signFlips(4, 64),
      "different replicas must get different patterns")
  }

  test("scaledEmbeddings: sign flip is an exact isometry per replica") {
    val base = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val scaled = Replicas.scaledEmbeddings(spark, sf, 2)
    assert(scaled.count() == 2 * base.count())
    // intra-replica dot products are preserved BIT-exactly (multiplying
    // by ±1 is exact in IEEE float): compare the replica-1 copy of each
    // base pair's dot against the original
    def dot(df: org.apache.spark.sql.DataFrame, off: Long) = df
      .filter(col("vec_id") >= off && col("vec_id") < off + 10)
      .withColumn("vid", col("vec_id") - off)
      .as("a").join(df.as("b")
        .filter(col("vec_id") >= off && col("vec_id") < off + 10)
        .withColumn("vid2", col("vec_id") - off),
        col("vid") < col("vid2"))
      .select(col("vid"), col("vid2"),
        aggregate(zip_with(col("a.embedding"), col("b.embedding"),
          (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => acc + v)
          .as("d"))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3)
      .toMap
    val d0 = dot(scaled, 0L)
    val d1 = dot(scaled, 1000000000L)
    assert(d0.nonEmpty && d0 == d1,
      "replica-1 pair dots must equal replica-0 bit-exactly")
  }

  test("scaledDocuments: replicas share ZERO tokens; lengths recomputed") {
    val scaled = Replicas.scaledDocuments(spark, sf, 2)
    val toks = scaled
      .select((col("doc_id") >= 1000000000L).as("rep"),
        explode(split(col("text"), " ")).as("t"))
    val shared = toks.filter(!col("rep")).select("t").distinct()
      .intersect(toks.filter(col("rep")).select("t").distinct())
    assert(shared.count() == 0,
      "token vocabularies must be disjoint across replicas — this is " +
        "what keeps cross-replica near-dup mass at zero for MinHash")
    val bad = scaled.filter(length(col("text")).cast("long")
      =!= col("n_chars"))
    assert(bad.count() == 0, "n_chars must match the rewritten text")
    // determinism: same multiplier twice → identical frames
    val again = Replicas.scaledDocuments(spark, sf, 2)
    assert(scaled.exceptAll(again).count() == 0
      && again.exceptAll(scaled).count() == 0)
  }
}
