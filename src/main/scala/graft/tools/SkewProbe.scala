package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextDedup

/** Measures the minhash band-bucket tiling under the scenario it
  * exists for: a boilerplate document mass-duplicated K times (the
  * "404 page" / cookie-banner shape every open web corpus carries).
  * All K copies share every (band, band-value) bucket, so the untiled
  * self-join computes each band's K²/2 pair space on ONE task; the
  * tiled join (TextDedup.bandedPairsTiled) splits it into
  * ceil(K²/tilePairs) shuffle-key tiles. Both variants return the
  * identical pair set (spec-pinned in GraftFacadeSpec) — this probe
  * records the WALL-CLOCK difference, the number that decides whether
  * a production corpus with boilerplate finishes or stalls.
  *
  *   sbt "runMain graft.tools.SkewProbe /root/testdata/sf0.1 10000"
  *
  * Results recorded in BASELINE.md ("Measured growth laws"). */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).getOrElse("10000").toInt
    val spark = localSession(32)

    val boiler = "page not found the requested resource is gone " +
      "please check the address and try again or return home"
    val base = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val docs = base.unionByName(
      spark.range(k).select((col("id") + 10000000L).as("doc_id"),
        lit(boiler).as("text")))
    docs.write.format("noop").mode("overwrite").save() // warm the scan

    def time(label: String)(body: => Long): Long = {
      val t0 = System.nanoTime()
      val n = body
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[skewprobe] variant=$label k=$k pairs=$n secs=$secs%.2f")
      n
    }
    // discarded warm-up round at a small K absorbs JIT/codegen
    TextDedup.minhashCandidatePairs(
      docs.filter(col("doc_id") < 1000), "doc_id", "text").count()
    // Three variants. The tiled join is merge-hinted (regime-
    // independent: broadcasting a salt-replicated build side was
    // measured strictly worse); the untiled join is measured in BOTH
    // regimes, because the regime is what decides the winner: at
    // broadcastable scale, BHJ parallelism follows the probe side's
    // arbitrary input partitioning and a hot bucket spreads for free;
    // past broadcastable scale the untiled SMJ serializes the hot
    // bucket's whole pair space on one task — the regime the tiling
    // exists for. Two interleaved rounds: read ROUND 2 — the first
    // full-size execution pays the JVM heap ramp (Xms→100g growth +
    // full-GC train under the 50M-row distinct; measured ~5× across
    // six probe sessions, whichever variant ran first) and the box is
    // ambiently bursty, so compare within the later round.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val counts = (1 to 2).flatMap { round =>
      Seq(
        time(s"tiled_r$round") {
          TextDedup.minhashCandidatePairs(docs, "doc_id", "text").count()
        },
        time(s"untiled_broadcast_r$round") {
          TextDedup.minhashCandidatePairs(docs, "doc_id", "text",
            tilePairs = Long.MaxValue).count()
        }, {
          // restore the SESSION'S prior threshold, not a hardcoded
          // default — a caller-tuned threshold would otherwise make
          // round 2's "broadcast" variants silently run a different
          // physical regime under the same label
          val prior = spark.conf.getOption(thresholdKey)
          spark.conf.set(thresholdKey, "-1")
          try time(s"untiled_shuffle_r$round") {
            TextDedup.minhashCandidatePairs(docs, "doc_id", "text",
              tilePairs = Long.MaxValue).count()
          } finally prior match {
            case Some(v) => spark.conf.set(thresholdKey, v)
            case None => spark.conf.unset(thresholdKey)
          }
        })
    }
    require(counts.distinct.size == 1, "tiling must be result-identical")

    // ── session co-occurrence leg (r15): the same hot-bucket class on
    // the q134 pair join — one bot mega-session with kSess distinct
    // items against 50k ordinary 3-item sessions (the open-item-space
    // market-basket shape). The mega session's C(kSess,2) pair space
    // sits on ONE task untiled; TimeSeriesJoins.sessionPairCounts
    // tiles it by ceil(k²/tilePairs) shuffle keys, result-identical
    // (spec-pinned in ReshapeHistorySpec). Same two-regime, two-round
    // read discipline as the minhash leg above.
    val kSess = args.lift(2).getOrElse("8000").toInt
    val smallSess = spark.range(50000).select(
      (col("id") + 1000L).as("user_id"), lit(0L).as("sid"),
      explode(array(lit("a"),
        concat(lit("t"), (col("id") % 97).cast("string")),
        concat(lit("u"), (col("id") % 53).cast("string"))))
        .as("event_type"))
    val megaSess = spark.range(kSess).select(
      lit(1L).as("user_id"), lit(0L).as("sid"),
      concat(lit("m"), col("id").cast("string")).as("event_type"))
    val sess = smallSess.unionByName(megaSess)
    sess.write.format("noop").mode("overwrite").save() // warm
    def timeS(label: String)(body: => Long): Long = {
      val t0 = System.nanoTime()
      val n = body
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[skewprobe] variant=$label kSess=$kSess rows=$n secs=$secs%.2f")
      n
    }
    import graft.operators.TimeSeriesJoins
    val sessCounts = (1 to 2).flatMap { round =>
      Seq(
        timeS(s"sess_tiled_r$round") {
          TimeSeriesJoins.sessionPairCounts(sess).count()
        },
        timeS(s"sess_untiled_broadcast_r$round") {
          TimeSeriesJoins.sessionPairCounts(sess,
            tilePairs = Long.MaxValue).count()
        }, {
          val prior = spark.conf.getOption(thresholdKey)
          spark.conf.set(thresholdKey, "-1")
          try timeS(s"sess_untiled_shuffle_r$round") {
            TimeSeriesJoins.sessionPairCounts(sess,
              tilePairs = Long.MaxValue).count()
          } finally prior match {
            case Some(v) => spark.conf.set(thresholdKey, v)
            case None => spark.conf.unset(thresholdKey)
          }
        })
    }
    require(sessCounts.distinct.size == 1,
      "session tiling must be result-identical")
    spark.stop()
  }
}
