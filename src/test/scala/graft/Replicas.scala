package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An m-times corpus that keeps the fixture's data distribution but
  * decorrelates the replicas, so dup density stays constant: a corpus
  * of m times as much NEW data, not m copies of one near-dup set.
  *
  * Embeddings get a per-replica deterministic ±1 sign pattern (an
  * isometry: intra-replica cosines are preserved exactly, cross-replica
  * cosines are sign-scrambled to ~0); document replicas suffix every
  * token with the replica tag (token and shingle distribution shape
  * preserved, zero cross-replica shingle overlap). No RNG: reruns
  * reproduce. ScaleProbeSpec pins these properties; GrowthLawSpec
  * measures its growth laws on them. */
object Replicas {
  /** Replica id offset: keeps ids unique across replicas and keeps
    * replica 0 the holder of the smallest ids (semDedup seeds). */
  val IdStride = 1000000000L

  /** Deterministic ±1 pattern for replica k (k=0 → identity): a fixed
    * SplitMix/LCG walk — no Math.random, reruns identical. */
  def signFlips(k: Int, d: Int): Seq[Float] =
    if (k == 0) Seq.fill(d)(1f)
    else {
      var x = 0x9E3779B97F4A7C15L * (k + 1)
      Seq.fill(d) {
        x = x * 6364136223846793005L + 1442695040888963407L
        if (((x >>> 40) & 1L) == 0L) 1f else -1f
      }
    }

  def scaledEmbeddings(s: SparkSession, baseDir: String, m: Int): DataFrame = {
    val base = Tables(s, baseDir, "embeddings")
    val d = base.select(size(col("embedding"))).head().getInt(0)
    (0 until m).map { k =>
      base.select(
        (col("vec_id") + lit(k * IdStride)).as("vec_id"),
        zip_with(col("embedding"), typedLit(signFlips(k, d)),
          (x, sg) => x * sg).as("embedding"),
        col("label"))
    }.reduce(_.union(_))
  }

  def scaledDocuments(s: SparkSession, baseDir: String, m: Int): DataFrame = {
    val base = Tables(s, baseDir, "documents")
    (0 until m).map { k =>
      if (k == 0) base
      else {
        val t = array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"~$k"))),
          " ")
        base.select((col("doc_id") + lit(k * IdStride)).as("doc_id"),
          t.as("text"), col("lang"), col("source"),
          length(t).cast("long").as("n_chars"))
      }
    }.reduce(_.union(_))
  }
}
