package graft

import org.apache.spark.sql.functions._

/** The library facade works on user-supplied frames (not the test
  * tables): every forwarder runs end-to-end on a tiny in-memory input
  * and returns the documented schema. Deep semantics are covered by the
  * per-operator suites; this pins the public surface. */
class GraftFacadeSpec extends SparkTestBase {
  import spark.implicits._

  test("kmeans on a user frame returns (id, cl, dist)") {
    val pts = Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(9.0, 9.0),
      2L -> Seq(0.5, 0.0), 3L -> Seq(9.0, 8.5)).toDF("id", "v")
    val out = Graft.kmeans(pts, k = 2, iters = 2)
    assert(out.columns.toSeq == Seq("id", "cl", "dist"))
    val m = out.as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(m(0L) == m(2L) && m(1L) == m(3L) && m(0L) != m(1L))
  }

  test("kmeans keeps k model rows when a duplicate seed empties a cluster") {
    // ids 0 and 1 are identical seeds: every point ties to cl 0, so cl 1
    // loses all members in round 1 — the model must keep its centroid
    // instead of shrinking, and the run must not throw
    val pts = Seq(0L -> Seq(1.0, 1.0), 1L -> Seq(1.0, 1.0),
      2L -> Seq(1.1, 1.0), 3L -> Seq(0.9, 1.0)).toDF("id", "v")
    val out = Graft.kmeans(pts, k = 2, iters = 3)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 4)
    assert(out.forall(_._2 == 0L), "all points tie to the lowest cluster")
  }

  test("connectedComponents labels by component minimum") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val lbl = Graft.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(lbl(1L) == 1L && lbl(2L) == 1L && lbl(3L) == 1L)
    assert(lbl(7L) == 7L && lbl(8L) == 7L)
  }

  test("clusterVerdict keeps the quality-max member and singletons keep themselves") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val items = Seq((1L, 5), (2L, 9), (3L, 9), (7L, 1), (8L, 4), (42L, 0))
      .toDF("doc_id", "q")
    val v = Graft.clusterVerdict(items,
        Graft.connectedComponents(edges), "doc_id", "q")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(v(2L) == (1L, 3L, true), "max q=9, min id 2 wins cluster 1")
    assert(v(1L) == (1L, 3L, false) && v(3L) == (1L, 3L, false))
    assert(v(8L) == (7L, 2L, true), "q=4 beats q=1 in cluster 7")
    assert(v(7L) == (7L, 2L, false))
    assert(v(42L) == (42L, 1L, true), "singleton keeps itself")
    intercept[IllegalArgumentException] {
      Graft.clusterVerdict(items.withColumn("cluster_id", lit(1)),
        Graft.connectedComponents(edges), "doc_id", "q")
    }
  }

  test("clusterVerdict: NULL quality sorts last, never wins the keep") {
    val edges = Seq((1L, 2L), (7L, 8L)).toDF("src", "dst")
    // cluster 1: id 1 has NULL quality, id 2 has q=0 -> 2 must win even
    // against the worst real score (SQL NULLS LAST, not null-wins-min);
    // cluster 7: BOTH null -> min-id tiebreak keeps 7.
    val items = Seq((1L, None), (2L, Some(0)), (7L, None), (8L, None: Option[Int]))
      .toDF("doc_id", "q")
    val v = Graft.clusterVerdict(items,
        Graft.connectedComponents(edges), "doc_id", "q")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(!v(1L) && v(2L), "q=0 beats NULL quality")
    assert(v(7L) && !v(8L), "all-null cluster falls back to min id")
  }

  test("clusterVerdict: NaN quality groups with NULL; mixed cluster " +
      "falls to min id") {
    val edges = Seq((1L, 2L), (5L, 6L), (7L, 8L)).toDF("src", "dst")
    // cluster 1: NaN vs a real (even negative) score — the score wins;
    // cluster 5: NaN vs NULL — BOTH are worst, so the min-id fallback
    // keeps 5 (a raw -NaN sort key would let the NULL row steal it);
    // cluster 7: NaN vs NaN — min-id fallback.
    val items = Seq((1L, Some(Double.NaN)), (2L, Some(-9.5)),
      (5L, Some(Double.NaN)), (6L, None),
      (7L, Some(Double.NaN)), (8L, Some(Double.NaN)))
      .toDF("doc_id", "q")
    val v = Graft.clusterVerdict(items,
        Graft.connectedComponents(edges), "doc_id", "q")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(!v(1L) && v(2L), "q=-9.5 beats NaN quality")
    assert(v(5L) && !v(6L), "NaN-and-NULL cluster falls back to min id")
    assert(v(7L) && !v(8L), "all-NaN cluster falls back to min id")
  }

  test("clusterVerdict rejects reserved idCol/qualityCol names up front") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val labels = Graft.connectedComponents(edges)
    val ex = intercept[IllegalArgumentException] {
      Graft.clusterVerdict(Seq((1L, 2)).toDF("id", "q"), labels, "id", "q")
    }
    assert(ex.getMessage.contains("idCol 'id'"),
      "clear require message, not a downstream ambiguous-reference error")
    intercept[IllegalArgumentException] {
      Graft.clusterVerdict(Seq((1L, 2)).toDF("d", "lbl"), labels, "d", "lbl")
    }
  }

  test("quotaSample: per-stratum quota, deterministic, prefix property") {
    val df = (1L to 5L).map(i => (i, "a")).toDF("id", "src")
      .union(Seq(6L -> "b", 7L -> "b").toDF("id", "src"))
    val s3 = Graft.quotaSample(df, "id", "src", 3)
      .as[(Long, String, Int)].collect()
    assert(s3.count(_._2 == "a") == 3, "stratum a cut to the quota")
    assert(s3.count(_._2 == "b") == 2, "small stratum kept whole")
    assert(s3.forall(_._3 >= 1) && s3.filter(_._2 == "a").map(_._3).sorted
      .toSeq == Seq(1, 2, 3))
    // rerun identical; quota 1 is the rank-1 prefix of quota 3
    val again = Graft.quotaSample(df, "id", "src", 3)
      .as[(Long, String, Int)].collect()
    assert(s3.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    val s1 = Graft.quotaSample(df, "id", "src", 1)
      .as[(Long, String, Int)].collect()
    assert(s1.map(r => (r._1, r._2)).toSet ==
      s3.filter(_._3 == 1).map(r => (r._1, r._2)).toSet)
    intercept[IllegalArgumentException] {
      Graft.quotaSample(df.withColumn("qs_rank", lit(1)), "id", "src", 1)
    }
  }

  test("bm25Score matches a scalar recomputation of the Okapi formula") {
    val docs = Seq(1L -> "x x y", 2L -> "y z", 3L -> "x y")
      .toDF("doc_id", "text")
    val got = Graft.bm25Score(docs, "doc_id", "text", Seq("x"))
      .as[(Long, Int, Int, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // independent driver-side recompute: N=3, df=2, sdl=7
    def score(dl: Int, tf: Int): Double = {
      val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1)
      val raw = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (7.0 / 3)))
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got(1L) == ((3, 2, score(3, 2))))
    assert(got(3L) == ((2, 1, score(2, 1))))
    assert(got(2L) == ((2, 0, 0.0)), "no query term -> score 0")
    intercept[IllegalArgumentException] {
      Graft.bm25Score(docs, "doc_id", "text", Seq("x", "x"))
    }
  }

  test("rrfFuse sums 1/(k+rank) over the lists that retrieved the id") {
    val l1 = Seq(1L -> 10.0, 2L -> 5.0, 3L -> 1.0).toDF("id", "s")
    val l2 = Seq(2L -> 9.0, 4L -> 8.0).toDF("id", "s")
    val got = Graft.rrfFuse(Seq(l1, l2), "id", "s", k = 60, topR = 2)
      .as[(Long, Int, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(!got.contains(3L), "outside every top-R drops out")
    assert(got(1L) == ((1, 0.016393)), "1/61 in one list")
    assert(got(4L) == ((1, 0.016129)), "1/62 in one list")
    assert(got(2L) == ((2, 0.032522)), "1/62 + 1/61 across both lists")
    // an id duplicated WITHIN one ranking contributes its best rank ONCE
    val dup = Seq(1L -> 10.0, 1L -> 9.0, 2L -> 8.0).toDF("id", "s")
    val g2 = Graft.rrfFuse(Seq(dup), "id", "s", k = 60, topR = 3)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(g2(1L) == ((1, 0.016393)),
      "duplicate id must not inflate n_lists or double-dip the score")
    assert(g2(2L) == ((1, 0.015873)), "1/63: later ids keep their slot rank")
  }

  test("clusterVerdict quality argmax survives MinValue quality (no negate)") {
    // -Long.MinValue overflows: ANSI would throw, non-ANSI would crown
    // the WORST row; the bitwise-NOT descending key does neither
    val items = Seq((1L, Long.MinValue), (2L, -5L), (3L, Long.MaxValue))
      .toDF("doc_id", "q")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "lbl")
    val got = Graft.clusterVerdict(items, labels, "doc_id", "q")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> true),
      "MaxValue quality wins; MinValue must neither throw nor win")
  }

  test("semDedup facade: offset id space still seeds (k smallest ids)") {
    val e = Seq((100L, Seq(1.0, 0.0)), (101L, Seq(0.0, 1.0)),
      (102L, Seq(1.0, 0.001))).toDF("id", "emb")
    val got = Graft.semDedup(e, "id", "emb", k = 2, threshold = 0.9)
      .as[(Long, Long, Option[Double], Boolean)].collect()
    assert(got.length == 3, "no row may be dropped by an empty seed join")
    assert(got.count(!_._4) == 1 && !got.find(_._1 == 102L).get._4,
      "the near-dup of the first seed is the one dropped")
  }

  test("langId and qualityScore match driver-side recomputes") {
    // doc 1: 2 of 8 tokens are stopwords (ratio 0.25 ≥ 0.08 → en);
    // doc 2: zero stopwords → other
    val d1 = "the cat of house big small red blue"
    val d2 = "uno dos tres quatro"
    val docs = Seq(1L -> d1, 2L -> d2).toDF("id", "text")
    val lid = Graft.langId(docs, "id", "text")
      .as[(Long, Double, String)].collect().map(r => r._1 -> r).toMap
    assert(lid(1L) == ((1L, 0.25, "en")))
    assert(lid(2L) == ((2L, 0.0, "other")))
    val qs = Graft.qualityScore(docs, "id", "text")
      .as[(Long, Int, Int, Int, Double, Double, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    // d1: 35 chars, 8 words, 8 distinct, 2 stop → ttr 1.0, swr 0.25,
    // awl (35-8+1)/8 = 3.5; <20 words → drop
    assert(qs(1L) == ((1L, 35, 8, 8, 1.0, 0.25, 3.5, "drop")))
    assert(qs(2L)._8 == "drop")
  }

  test("minhashCandidatePairs surfaces duplicates, drops short/disjoint") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "completely different words about catalyst tungsten plans here"
    val docs = Seq(1L -> t1, 2L -> t1, 3L -> t2, 4L -> "too short")
      .toDF("id", "text")
    val got = Graft.minhashCandidatePairs(docs, "id", "text")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)),
      "identical texts collide in every band; disjoint/short docs never")
  }

  test("minhashCandidatePairs: bucket tiling is physical-only, even on " +
      "a mass-dup bucket") {
    // 30 verbatim copies of one text = one scorching (band, bv) bucket
    // in every band — the boilerplate-skew scenario the tiling exists
    // for; tilePairs=10 forces hard multi-tiling, Long.MaxValue pins
    // the untiled plan. All three must return the identical pair set.
    val docs = ((1L to 30L).map(i =>
      (i, "alpha beta gamma delta epsilon")) :+
      (100L, "totally different text here entirely") :+
      (101L, "totally different text here entirely")).toDF("id", "text")
    val untiled = graft.operators.TextDedup
      .minhashCandidatePairs(docs, "id", "text", tilePairs = Long.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(untiled.size == 30 * 29 / 2 + 1,
      "every copy-pair plus the one distinct-text twin pair")
    val tiled = graft.operators.TextDedup
      .minhashCandidatePairs(docs, "id", "text", tilePairs = 10L)
      .as[(Long, Long)].collect().toSet
    assert(tiled == untiled, "forced tiling must not change the pair set")
    assert(Graft.minhashCandidatePairs(docs, "id", "text")
      .as[(Long, Long)].collect().toSet == untiled,
      "the facade default (auto tiling) matches too")
  }

  test("lshNearDupPairs facade: near-parallel pair found, salt-invariant") {
    val e = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.01)),
      (3L, Seq(-1.0, 0.02))).toDF("id", "emb")
    def run(salt: Int): Seq[(Long, Long, Long, Double)] =
      Graft.lshNearDupPairs(e, "id", "emb", planes = 1, threshold = 0.9,
        salt = salt).as[(Long, Long, Long, Double)].collect().sorted.toSeq
    val base = run(1)
    assert(base.map(r => (r._1, r._2)) == Seq((1L, 2L)),
      "only the near-parallel pair passes the cosine gate")
    assert(base.head._4 > 0.99)
    assert(run(3) == base, "salting is physical-only")
    assert(run(graft.operators.Similarity.AutoSalt) == base,
      "per-bucket auto salt (the default) is physical-only too")
    // force REAL multi-tile buckets on the tiny fixture (tilePairs=2 →
    // any bucket with ≥2 rows tiles): the auto path's per-bucket salt
    // arithmetic, replication, and hash-tile join must still return the
    // exact same pair set
    val forced = graft.operators.Similarity.lshNearDupPairs(
        graft.operators.Similarity.asVectors(e, "id", "emb"),
        planes = 1, threshold = 0.9,
        salt = graft.operators.Similarity.AutoSalt, tilePairs = 2L)
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    assert(forced == base, "auto salt with forced multi-tile buckets " +
      "must stay result-identical")
    intercept[IllegalArgumentException] {
      Graft.lshNearDupPairs(e.withColumn("id", col("id").cast("string")),
        "id", "emb", planes = 1, threshold = 0.9)
    }
  }

  test("pqAnn facade: a scaled twin of the query ranks first at cos 1.0") {
    // absmax int8 codes are scale-INVARIANT, so vec 5 (= 2× the query
    // vector) gets identical codes, a minimal asymmetric distance, and
    // an exact rerank cosine of 1.0 — it must come back first
    val rows = Seq(
      (0L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (1L, Seq(8.0, -1.0, 2.0, 0.0, 3.0, -2.0, 1.0, 4.0)),
      (2L, Seq(-5.0, 5.0, -5.0, 5.0, -5.0, 5.0, -5.0, 5.0)),
      (3L, Seq(0.5, 0.5, 4.0, -3.0, 2.0, 2.0, -1.0, 0.0)),
      (4L, Seq(3.0, 1.0, -2.0, 6.0, 0.0, -4.0, 2.0, 2.0)),
      (5L, Seq(2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0)))
    val got = Graft.pqAnn(rows.toDF("id", "emb"), "id", "emb",
        queryId = 0L, m = 2, subDim = 4, k = 3, coarseK = 5, topK = 5)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 5, "all five non-query vectors pass coarseK=5")
    assert(got.head._1 == 5L && got.head._3 == 1.0,
      s"the scaled twin must rerank first at cosine 1.0: ${got.toSeq}")
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(-_).toSeq,
      "rerank output is cosine-descending")
  }

  test("ivfPqAnn facade: nprobe=1 prunes to the query's cell, twin kept") {
    // vec 5 = 2× the query: identical codes AND the same coarse cell
    // (assignment is on the float vectors; colinear → same argmin), so
    // even probing ONE cell must keep it at cosine 1.0; the result set
    // must be a subset of the unrestricted pqAnn ids
    val rows = Seq(
      (0L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (1L, Seq(8.0, -1.0, 2.0, 0.0, 3.0, -2.0, 1.0, 4.0)),
      (2L, Seq(-5.0, 5.0, -5.0, 5.0, -5.0, 5.0, -5.0, 5.0)),
      (3L, Seq(0.5, 0.5, 4.0, -3.0, 2.0, 2.0, -1.0, 0.0)),
      (4L, Seq(3.0, 1.0, -2.0, 6.0, 0.0, -4.0, 2.0, 2.0)),
      (5L, Seq(2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0)))
    val df = rows.toDF("id", "emb")
    val got = Graft.ivfPqAnn(df, "id", "emb", queryId = 0L, kIvf = 3,
        nprobe = 1, m = 2, subDim = 4, k = 3, coarseK = 5, topK = 5)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty && got.head._1 == 5L && got.head._4 == 1.0,
      s"the colinear twin shares the query's cell and reranks first: " +
        s"${got.toSeq}")
    assert(got.map(_._2).distinct.length == 1,
      "nprobe=1: every result comes from the single probed cell")
    // NOTE this subset check is FIXTURE-scoped, not an ivfPqAnn
    // contract: the ADC top-coarseK cut runs AFTER the cell
    // restriction, so in general pruning competitors can admit ids
    // the unrestricted cut rejected. It holds here only because
    // coarseK (5) covers every candidate, making both cuts no-ops —
    // which is exactly what lets the comparison isolate the pruning.
    val unrestricted = Graft.pqAnn(df, "id", "emb", queryId = 0L,
        m = 2, subDim = 4, k = 3, coarseK = 5, topK = 5)
      .as[(Long, Long, Double)].collect().map(_._1).toSet
    assert(got.map(_._1).toSet.subsetOf(unrestricted),
      "with coarseK covering all candidates, pruning only removes ids")
  }

  test("ivfPqAnnBatch facade: qMax=1 batch ≡ the single-query search") {
    // with qMax=1 the batch holds exactly query 0 and the corpus is
    // every other id — the SAME (query, corpus) split single-query
    // ivfPqAnn uses (it excludes only the query id), so on dense ids
    // the batch rows must reproduce the single-query rows exactly,
    // modulo the added (q_id, rn) columns. Pins that the one-pass
    // batch plan and the per-query plan compute the same function.
    val rows = Seq(
      (0L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (1L, Seq(8.0, -1.0, 2.0, 0.0, 3.0, -2.0, 1.0, 4.0)),
      (2L, Seq(-5.0, 5.0, -5.0, 5.0, -5.0, 5.0, -5.0, 5.0)),
      (3L, Seq(0.5, 0.5, 4.0, -3.0, 2.0, 2.0, -1.0, 0.0)),
      (4L, Seq(3.0, 1.0, -2.0, 6.0, 0.0, -4.0, 2.0, 2.0)),
      (5L, Seq(2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0)))
    val df = rows.toDF("id", "emb")
    val single = Graft.ivfPqAnn(df, "id", "emb", queryId = 0L, kIvf = 3,
        nprobe = 2, m = 2, subDim = 4, k = 3, coarseK = 5, topK = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val batch = Graft.ivfPqAnnBatch(df, "id", "emb", qMax = 1L,
        kIvf = 3, nprobe = 2, m = 2, subDim = 4, k = 3, coarseK = 5,
        topK = 5)
      .as[(Long, Long, Long, Long, Double, Int)].collect().toSeq
    assert(batch.map(_._1).forall(_ == 0L), "one query in the batch")
    assert(batch.map(_._6) == (1 to batch.size), "rn is 1..topK in order")
    assert(batch.map(b => (b._2, b._3, b._4, b._5)) == single,
      s"batch and single-query IVF-PQ must agree:\n$batch\nvs\n$single")
  }

  test("annIndex facade: write → serve round-trips ≡ ivfPqAnn") {
    // the on-disk index through the public surface: a user frame
    // written as a cell-partitioned index and served from disk must
    // reproduce the in-memory search exactly (same seed model, same
    // int8 prep on both paths)
    val rows = Seq(
      (0L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (1L, Seq(8.0, -1.0, 2.0, 0.0, 3.0, -2.0, 1.0, 4.0)),
      (2L, Seq(-5.0, 5.0, -5.0, 5.0, -5.0, 5.0, -5.0, 5.0)),
      (3L, Seq(0.5, 0.5, 4.0, -3.0, 2.0, 2.0, -1.0, 0.0)),
      (4L, Seq(3.0, 1.0, -2.0, 6.0, 0.0, -4.0, 2.0, 2.0)),
      (5L, Seq(2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0)))
    val df = rows.toDF("id", "emb")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-annidx-facade").toString
    Graft.annIndexWrite(df, "id", "emb", idx, kIvf = 3, m = 2,
      subDim = 4, k = 3)
    val served = Graft.annIndexServe(df, "id", "emb", idx,
        queryId = 0L, nprobe = 2, m = 2, subDim = 4, coarseK = 5,
        topK = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val mem = Graft.ivfPqAnn(df, "id", "emb", queryId = 0L, kIvf = 3,
        nprobe = 2, m = 2, subDim = 4, k = 3, coarseK = 5, topK = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(served.nonEmpty && served == mem,
      s"disk-served facade must equal in-memory:\n$served\nvs\n$mem")
    // filtered serve through the facade: a metadata allow-frame (any
    // frame carrying idCol) restricts candidates BEFORE ranking —
    // every row passes, and allow-everything is the identity (the
    // pre-filter ≡ allowed-only-index equivalence is DiskIndexSpec's)
    val allow = Seq(1L, 3L, 4L).toDF("id")
    val filt = Graft.annIndexServeFiltered(df, "id", "emb", idx,
        queryId = 0L, allowed = allow, nprobe = 2, m = 2, subDim = 4,
        coarseK = 5, topK = 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(filt.nonEmpty && filt.forall(Set(1L, 3L, 4L)),
      s"filtered serve must return only allowed ids: $filt")
    assert(Graft.annIndexServeFiltered(df, "id", "emb", idx,
        queryId = 0L, allowed = df.select("id"), nprobe = 2, m = 2,
        subDim = 4, coarseK = 5, topK = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq == served,
      "an all-ids allow frame must serve identically to the unfiltered")
    // the batch facade applies the same filter: qMax=1 ≡ the single
    assert(Graft.annIndexServeBatchFiltered(df, "id", "emb", idx,
        qMax = 1L, allowed = allow, nprobe = 2, m = 2, subDim = 4,
        coarseK = 5, topK = 5)
      .select("vec_id").as[Long].collect().toSeq == filt,
      "batch-filtered (qMax=1) must equal the single filtered serve")
    // and the PER-QUERY pairs facade: query 0's own pair set ≡ same
    val pairs = Seq((0L, 1L), (0L, 3L), (0L, 4L)).toDF("qid", "id")
    assert(Graft.annIndexServeBatchFilteredPerQuery(df, "id", "emb",
        idx, qMax = 1L, allowed = pairs, queryCol = "qid", nprobe = 2,
        m = 2, subDim = 4, coarseK = 5, topK = 5)
      .select("vec_id").as[Long].collect().toSeq == filt,
      "per-query pairs (one query) must equal the single filtered serve")
    // append through the facade: a new id lands in a cell directory
    // and becomes servable without rebuilding
    Graft.annIndexAppend(
      Seq((9L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.1)))
        .toDF("id", "emb"), "id", "emb", idx, m = 2, subDim = 4)
    val after = Graft.annIndexServe(df.union(
        Seq((9L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.1)))
          .toDF("id", "emb")), "id", "emb", idx,
        queryId = 0L, nprobe = 2, m = 2, subDim = 4, coarseK = 5,
        topK = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(after.contains(9L),
      s"the appended near-twin of query 0 must surface: $after")
  }

  test("trained coarse centroids rebalance the on-disk index; " +
      "annIndexStats shows it") {
    // both low ids (the coarse seeds) sit in the +9 clump, so the seed
    // model crams everything into one cell; training splits the clumps
    // and the stats report is how a user SEES both states
    val rows = Seq(
      (0L, Seq(9.0, 9.0, 9.0, 9.0)), (1L, Seq(9.0, 9.0, 9.0, 9.5)),
      (2L, Seq(-9.0, -9.0, -9.0, -9.0)), (3L, Seq(-9.0, -9.0, -9.0, -9.5)),
      (4L, Seq(-9.0, -9.0, -9.5, -9.0)), (5L, Seq(-9.0, -9.5, -9.0, -9.0)),
      (6L, Seq(9.0, 9.0, 9.5, 9.0)), (7L, Seq(9.0, 9.5, 9.0, 9.0)))
    val df = rows.toDF("id", "emb")
    val cents = Graft.trainIvfCentroids(df, "id", "emb", kIvf = 2,
      iters = 2)
    def writeIdx(c: Option[org.apache.spark.sql.DataFrame]): String = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-annidx-bal").toString
      Graft.annIndexWrite(df, "id", "emb", d, kIvf = 2, m = 2,
        subDim = 2, k = 3, centroids = c)
      d
    }
    val seedIdx = writeIdx(None)
    val trainedIdx = writeIdx(Some(cents))
    def maxShare(idx: String): Long = Graft.annIndexStats(spark, idx)
      .agg(max("share_bp")).as[Long].head()
    assert(maxShare(seedIdx) >= 8000,
      s"fixture: the seed index must be lopsided (${maxShare(seedIdx)} bp)")
    assert(maxShare(trainedIdx) == 5000,
      s"training must split the clumps 4/4 (${maxShare(trainedIdx)} bp)")
    // the rebalanced index serves: query 2's nprobe=1 cell holds
    // exactly its clump-mates
    val served = Graft.annIndexServe(df, "id", "emb", trainedIdx,
        queryId = 2L, nprobe = 1, m = 2, subDim = 2, coarseK = 4,
        topK = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(served == Set(3L, 4L, 5L),
      s"the minus clump must serve its own members: $served")
  }

  test("semDedup facade: later near-dup of a seed is dropped") {
    val e = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(1.0, 0.001))).toDF("id", "emb")
    val got = Graft.semDedup(e, "id", "emb", k = 2, threshold = 0.9)
      .as[(Long, Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3.isDefined, r._4))).toMap
    assert(got(0L) == ((0L, false, true)), "seed 0 has no prior — kept")
    assert(got(1L) == ((1L, false, true)), "seed 1 has no prior — kept")
    assert(got(2L)._1 == 0L && got(2L)._2 && !got(2L)._3,
      "near-dup of vector 0 lands in its cluster and is dropped")
  }

  test("facade pipeline: candidates → components → verdict → sample") {
    // the dedup decision layer composed ONLY from facade members — no
    // query glue, no dir-bound caches: candidate pairs over raw text,
    // transitive clustering, keep-best verdict, stratified audit sample
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, dup, "web"), (2L, dup, "web"), (4L, dup, "books"),
      (3L, "one two three four five six", "web"))
      .toDF("doc_id", "text", "source")
    val cand = Graft.minhashCandidatePairs(docs, "doc_id", "text")
    val labels = Graft.connectedComponents(
      cand.select(col("doc_i").as("src"), col("doc_j").as("dst")))
    val scored = docs.selectExpr("doc_id",
      "size(array_distinct(split(text, ' '))) AS nd")
    val verdict = Graft.clusterVerdict(scored, labels, "doc_id", "nd")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(verdict(1L) == ((1L, 3L, true)),
      "equal quality ties break to the lowest id across sources")
    assert(verdict(2L) == ((1L, 3L, false)))
    assert(verdict(4L) == ((1L, 3L, false)))
    assert(verdict(3L) == ((3L, 1L, true)), "singleton keeps itself")
    val kept = docs.join(
      Seq(1L, 3L).toDF("doc_id"), "doc_id")
    val audit = Graft.quotaSample(kept, "doc_id", "source", 1)
    assert(audit.count() == 1, "both survivors share one stratum")
  }

  test("pagerank on a symmetric pair splits rank evenly") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graft.pagerank(edges, iters = 2).as[(Long, Long, Long)]
      .collect().map(x => x._1 -> x._3).toMap
    assert(r(1L) == r(2L), "symmetric 2-cycle must hold equal rank")
    assert(r(1L) == 1000000L, "rank mass is conserved at 1e6 per node")
  }

  test("asofJoin attaches the latest prior right row") {
    val l = Seq(("a", 10L, "x")).toDF("k", "t", "payload")
    val r = Seq(("a", 5L, 1.0), ("a", 9L, 2.0), ("a", 11L, 3.0))
      .toDF("k", "qt", "quote")
    val out = Graft.asofJoin(l, r, "k", "t", "qt")
      .select($"payload", $"asof_quote").as[(String, Double)].collect()
    assert(out.toSeq == Seq(("x", 2.0)), "must pick qt=9, not 5 or 11")
  }

  test("md5Bucket partitions deterministically") {
    val out = spark.range(100)
      .select(Graft.md5Bucket(col("id"), 10).as("b"))
      .as[Long].collect()
    assert(out.forall(b => b >= 0 && b < 10))
    val again = spark.range(100)
      .select(Graft.md5Bucket(col("id"), 10).as("b")).as[Long].collect()
    assert(out.toSeq == again.toSeq)
  }

  test("vector helpers compute dot/norm/cosine") {
    val df = Seq((Seq(3.0, 4.0), Seq(3.0, 4.0))).toDF("a", "b")
    val (d, n, c) = df.select(
      Graft.vectors.dot($"a", $"b"), Graft.vectors.norm($"a"),
      Graft.vectors.cosineFast($"a", $"b"))
      .as[(Double, Double, Double)].head()
    assert(d == 25.0 && n == 5.0 && math.abs(c - 1.0) < 1e-12)
  }

  test("tokenizeWithOffsets cuts every token from the original text") {
    val docs = Seq(7L -> "ab c dd", 8L -> "x").toDF("id", "txt")
    val out = Graft.tokenizeWithOffsets(docs, "id", "txt")
      .as[(Long, Int, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      (7L, 0, "ab", 0L, 2L), (7L, 1, "c", 3L, 4L), (7L, 2, "dd", 5L, 7L),
      (8L, 0, "x", 0L, 1L)))
  }

  test("tokenizeWithOffsets spans are CODE POINT offsets, not UTF-16 units") {
    // "𝒳" (U+1D4B3) is astral: ONE code point, TWO UTF-16 chars. The
    // declared span semantics (scaladoc) are code points — the emoji
    // token is 1 wide and the next token starts 2 code points in, even
    // though String#substring would need index 3. Consumers must
    // reindex via offsetByCodePoints; this fixture pins exactly that.
    val astral = "𝒳"
    val docs = Seq(9L -> s"$astral bc").toDF("id", "txt")
    val out = Graft.tokenizeWithOffsets(docs, "id", "txt")
      .as[(Long, Int, String, Long, Long)].collect().sortBy(_._2).toSeq
    assert(out == Seq(
      (9L, 0, astral, 0L, 1L), (9L, 1, "bc", 2L, 4L)))
    // the documented JVM-side consumption pattern round-trips
    val text = s"$astral bc"
    out.foreach { case (_, _, tok, cs, ce) =>
      val a = text.offsetByCodePoints(0, cs.toInt)
      val b = text.offsetByCodePoints(0, ce.toInt)
      assert(text.substring(a, b) == tok)
    }
  }

  test("annIndex facade lifecycle: ingest a stream, delete, compact — " +
      "served neighbors track every step") {
    // the full maintenance loop through the PUBLIC surface only: a
    // base index, a streamed delta (raw (id, emb) rows — the facade's
    // int8 prep must ride the micro-batch plan), a logical delete, and
    // a physical compaction, with the served neighbor set checked
    // after each step
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Seq(
      (0L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (1L, Seq(8.0, -1.0, 2.0, 0.0, 3.0, -2.0, 1.0, 4.0)),
      (2L, Seq(-5.0, 5.0, -5.0, 5.0, -5.0, 5.0, -5.0, 5.0)),
      (3L, Seq(0.5, 0.5, 4.0, -3.0, 2.0, 2.0, -1.0, 0.0)),
      (4L, Seq(3.0, 1.0, -2.0, 6.0, 0.0, -4.0, 2.0, 2.0)),
      (5L, Seq(2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0)))
    val delta = (9L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.1))
    val df = base.toDF("id", "emb")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-annidx-life").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-annidx-ckpt").toString
    Graft.annIndexWrite(df, "id", "emb", idx, kIvf = 3, m = 2,
      subDim = 4, k = 3)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val q = Graft.annIndexIngest(in.toDF().toDF("id", "emb"), "id",
      "emb", idx, m = 2, subDim = 4, ckpt)
    try { in.addData(delta); q.processAllAvailable() } finally q.stop()
    val all = (base :+ delta).toDF("id", "emb")
    def serve(): Set[Long] = Graft.annIndexServe(all, "id", "emb", idx,
        queryId = 0L, nprobe = 2, m = 2, subDim = 4, coarseK = 5,
        topK = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(serve().contains(9L),
      "the streamed near-twin of query 0 must surface")
    Graft.annIndexDelete(spark, idx, Seq(9L))
    val afterDelete = serve()
    assert(afterDelete.nonEmpty && !afterDelete.contains(9L),
      s"the deleted id must stop surfacing: $afterDelete")
    Graft.annIndexCompact(spark, idx)
    assert(serve() == afterDelete,
      "compaction must not change the served neighbor set")
    assert(!new java.io.File(s"$idx/tombstones-g1").exists,
      "the compacted generation starts with an empty tombstone set")
  }

  test("ragServeDisk fuses the two disk legs exactly as rrfFuse of " +
      "the single serves (the q186 composition as a public member)") {
    // one id space: docs 0..5 carry both a text and an 8-dim vector
    val texts = Seq((0L, "alpha beta gamma"), (1L, "beta gamma delta"),
      (2L, "alpha alpha beta"), (3L, "gamma delta epsilon"),
      (4L, "alpha epsilon zeta"), (5L, "beta beta zeta"))
    val vecs = Seq(
      (0L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (1L, Seq(8.0, -1.0, 2.0, 0.0, 3.0, -2.0, 1.0, 4.0)),
      (2L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.1)),
      (3L, Seq(-5.0, 5.0, -5.0, 5.0, -5.0, 5.0, -5.0, 5.0)),
      (4L, Seq(0.5, 0.5, 4.0, -3.0, 2.0, 2.0, -1.0, 0.0)),
      (5L, Seq(2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0)))
    val vdf = vecs.toDF("id", "emb")
    val annIdx = java.nio.file.Files
      .createTempDirectory("graft-rag-ann").toString
    val sIdx = java.nio.file.Files
      .createTempDirectory("graft-rag-search").toString
    Graft.annIndexWrite(vdf, "id", "emb", annIdx, kIvf = 2, m = 2,
      subDim = 4, k = 3)
    Graft.searchIndexWrite(texts.toDF("doc_id", "text"), sIdx,
      nBuckets = 4)
    val terms = Seq("alpha", "beta")
    val fused = Graft.ragServeDisk(vdf, "id", "emb", annIdx, sIdx,
        terms, queryId = 0L, nprobe = 2, m = 2, subDim = 4,
        coarseK = 6, topK = 5)
      .collect().map(_.toString).toSeq
    // the member must equal rrfFuse over the two single serves
    import org.apache.spark.sql.functions.col
    val lex = Graft.searchIndexServe(spark, sIdx, terms, topK = 100)
      .select(col("doc_id"), col("score"))
    val sem = Graft.annIndexServe(vdf, "id", "emb", annIdx, 0L,
        nprobe = 2, m = 2, subDim = 4, coarseK = 6, topK = 100)
      .select(col("vec_id").as("doc_id"), col("cos_sim").as("score"))
    val expect = Graft.rrfFuse(Seq(lex, sem), "doc_id", "score")
      .orderBy(col("rrf").desc, col("doc_id")).limit(5)
      .collect().map(_.toString).toSeq
    assert(fused.nonEmpty && fused == expect,
      s"composed member vs manual fusion:\n$fused\nvs\n$expect")
    // union semantics: doc 3 matches neither query term but is in the
    // ANN corpus — it may fuse with n_lists = 1; ids in both legs
    // carry n_lists = 2 (doc 0 is the query and excluded by the ANN
    // leg, so its lexical hit fuses alone)
    val byId = fused.map(r => r.stripPrefix("[").stripSuffix("]")
      .split(",")).map(a => a(0).toLong -> a(1).toInt).toMap
    assert(byId(0L) == 1, "the query id fuses from the lexical leg only")
    assert(byId.contains(2L) && byId(2L) == 2,
      s"doc 2 (alpha-heavy text, near-twin vector) fuses from both: $byId")
  }

  test("searchIndex facade lifecycle: write → append → delete → " +
      "maintain(execute) — served ranking tracks every step") {
    // the full lexical-store maintenance loop through the PUBLIC
    // surface only (the annIndex lifecycle test's shape on the third
    // store): base index, appended delta, logical delete, policy-
    // driven compaction, ranking checked after each step
    val base = Seq((0L, "alpha beta gamma"), (1L, "beta gamma delta"),
      (2L, "alpha alpha beta"), (3L, "gamma delta epsilon"))
    val delta = Seq((9L, "alpha alpha alpha beta"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft-searchidx-life").toString
    Graft.searchIndexWrite(base.toDF("doc_id", "text"), idx, nBuckets = 4)
    def serve(): Seq[Long] =
      Graft.searchIndexServe(spark, idx, Seq("alpha"), topK = 10)
        .select("doc_id").as[Long].collect().toSeq
    assert(serve() == Seq(2L, 0L), s"base ranking: ${serve()}")
    Graft.searchIndexAppend(delta.toDF("doc_id", "text"), idx)
    assert(serve().head == 9L,
      "the appended alpha-heavy doc must outrank the residents " +
        "(postings AND stats reconciled)")
    Graft.searchIndexDelete(spark, idx, Seq(9L))
    val afterDelete = serve()
    assert(afterDelete.nonEmpty && !afterDelete.contains(9L),
      s"the deleted id must stop ranking: $afterDelete")
    val report = Graft.searchIndexMaintain(spark, idx, maxFiles = 1,
      execute = true)
    assert(report.columns.toSeq ==
      Seq("bkt", "n_postings", "files", "tomb", "action"))
    assert(serve() == afterDelete,
      "policy-driven compaction must not change the ranking")
    assert(!new java.io.File(s"$idx/tombstones-g1").exists,
      "the compacted generation starts with an empty tombstone set")
    assert(Graft.searchIndexStats(spark, idx)
      .select("files").as[Int].collect().forall(_ == 1),
      "the compacted store holds one file per bucket")
  }

  test("auditStore facade lifecycle: write → append → delete → " +
      "compact — served pair/candidate sets track every step") {
    // the pair store through the PUBLIC surface only (the fourth
    // store family's lifecycle test shape; semantics pinned deeper in
    // AuditStoreSpec)
    def pairRows(ps: (Long, Long)*) =
      ps.toSeq.toDF("doc_i", "doc_j")
        .select(col("doc_i"), col("doc_j"), lit(4L).as("n_common"),
          lit(6).as("n_i"), lit(6).as("n_j"), lit(0.5).as("jaccard"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft-auditidx-life").toString
    Graft.auditStoreWrite(pairRows((1L, 2L), (3L, 4L)),
      Seq((1L, 2L), (3L, 4L), (3L, 8L)).toDF("doc_i", "doc_j"), idx)
    def pairs(): Seq[(Long, Long)] =
      Graft.auditStorePairs(spark, idx).select("doc_i", "doc_j")
        .as[(Long, Long)].collect().toSeq.sorted
    def cands(): Seq[(Long, Long)] =
      Graft.auditStoreCands(spark, idx).select("doc_i", "doc_j")
        .as[(Long, Long)].collect().toSeq.sorted
    assert(pairs() == Seq((1L, 2L), (3L, 4L)))
    assert(cands() == Seq((1L, 2L), (3L, 4L), (3L, 8L)))
    Graft.auditStoreAppend(pairRows((5L, 6L)),
      Seq((5L, 6L)).toDF("doc_i", "doc_j"), idx)
    assert(pairs() == Seq((1L, 2L), (3L, 4L), (5L, 6L)),
      "the appended pair delta must serve immediately")
    Graft.auditStoreDelete(spark, idx, Seq(3L))
    assert(pairs() == Seq((1L, 2L), (5L, 6L)) &&
        cands() == Seq((1L, 2L), (5L, 6L)),
      "doc 3's takedown must drop its pairs AND candidates")
    Graft.auditStoreCompact(spark, idx)
    assert(pairs() == Seq((1L, 2L), (5L, 6L)) &&
        cands() == Seq((1L, 2L), (5L, 6L)),
      "compaction must not change the served sets")
    assert(!new java.io.File(s"$idx/tombstones-g1").exists,
      "the compacted generation starts with an empty tombstone set")
  }
}
