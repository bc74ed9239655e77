package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, SparkEntry, Tables}
import graft.operators.{Similarity, TextDedup}
import graft.functions.VectorFunctions.cosineFast

/** Measures the GROWTH LAW of the flagship sub-quadratic paths instead
  * of narrating it (r11 VERDICT ask #3): synthesizes 1×/3×/10×/30× the
  * sf0.1 documents and embeddings tables with a generator that keeps
  * the data distribution but decorrelates replicas (so dup density
  * stays constant — a 10× corpus of NEW data, not 10 copies of the
  * same near-dup set), then times each path at every multiplier and
  * prints per-step growth exponents α = ln(t₂/t₁)/ln(n₂/n₁). Brute
  * twins run where affordable as the quadratic reference.
  *
  * Paths and their scale knob (the 100 TB discipline each scaladoc
  * states — the probe applies it, because THAT is the configuration
  * whose growth law the scale claims are about):
  *  - minhash_banded  — q41/q44's banded MinHash candidate generator,
  *    end-to-end from the text scan (shingles + signatures + band
  *    join). Band structure is density-, not size-bound: no knob.
  *  - hyperplane_lsh  — q93's bucketed embedding near-dup;
  *    knob: planes = 4 + ⌈log₂ m⌉ holds bucket occupancy flat.
  *  - semdedup        — q161's cluster-bounded dedup;
  *    knob: K = 8·m holds |cluster| flat.
  *  - budget_select   — q157 verbatim (band-ladder selection, no knob).
  *  - phash_pairs     — q171 verbatim: deliberately WITHOUT its knob
  *    (band width), to measure where the fixed 256-value bands start
  *    to creep quadratic — capped at 10× for that reason.
  *
  * Replica decorrelation: embeddings get a per-replica deterministic
  * ±1 sign pattern (an isometry — intra-replica cosines are preserved
  * EXACTLY, cross-replica cosines are sign-scrambled to ~0); document
  * replicas suffix every token with the replica tag (token/shingle
  * distribution shape preserved, zero cross-replica shingle overlap).
  * Everything is deterministic — no RNG, reruns reproduce.
  *
  * Methodology: one discarded 1× warm-up round absorbs JVM/codegen
  * first-use cost (Bench's methodology); per round the registry is
  * cleared and the base scans pre-warmed, so a timing covers the
  * operator INCLUDING its own derived intermediates (signatures,
  * buckets) but not parquet cold I/O. Results are recorded in
  * BASELINE.md ("Measured growth laws").
  *
  *   sbt "runMain graft.tools.ScaleProbe"            # 1,3,10,30
  *   sbt "runMain graft.tools.ScaleProbe /root/testdata/sf0.1 1,3,10"
  */
object ScaleProbe {
  /** Replica id offset: keeps ids unique across replicas and keeps
    * replica 0 the holder of the smallest ids (semDedup seeds). */
  private val IdStride = 1000000000L

  /** Every registry prefix the materialized ANN index comprises — the
    * frames the build-inclusive pq rows must RELEASE before timing so
    * they stay comparable with the r12/r13 tables that re-derived
    * everything inline. This is exactly the set whose last bench
    * consumers are the final ANN queries in sorted order — q181 for
    * pq-enc/ivf-cell, q187 for the pq-book/ivf-cent model frames its
    * coordinated ANN write reads ([[graft.Bench.releaseAfter]]);
    * ScaleProbeSpec
    * pins the equality so a future ANN cache cannot silently shrink
    * the "build" these rows measure (the gap the r14 pq-book/ivf-cent
    * additions opened until reviewed). */
  private[graft] val AnnIndexPrefixes: Seq[String] =
    Seq("pq-enc", "ivf-cell", "pq-book", "ivf-cent")

  /** phash runs WITHOUT its scale knob — bound the quadratic creep. */
  private val PhashMaxM = 10
  private val EmbBruteMaxM = 10
  private val PhashBruteMaxM = 10

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Deterministic ±1 pattern for replica k (k=0 → identity): a fixed
    * SplitMix/LCG walk — no Math.random, reruns identical. */
  private[graft] def signFlips(k: Int, d: Int): Seq[Float] =
    if (k == 0) Seq.fill(d)(1f)
    else {
      var x = 0x9E3779B97F4A7C15L * (k + 1)
      Seq.fill(d) {
        x = x * 6364136223846793005L + 1442695040888963407L
        if (((x >>> 40) & 1L) == 0L) 1f else -1f
      }
    }

  private[graft] def scaledEmbeddings(
      s: SparkSession, baseDir: String, m: Int): DataFrame = {
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

  private[graft] def scaledDocuments(
      s: SparkSession, baseDir: String, m: Int): DataFrame = {
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

  /** q171's sketch recomputed inline for the brute twin (3 lines off
    * the canonical plans.BlockHash64; the banded side runs the real
    * q171) — all-pairs hamming ≤ 12, the quadratic reference. */
  private def phashBruteCount(s: SparkSession, dir: String): Long = {
    val h = Tables(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .filter(length(col("payload")) >= 64)
      .select(col("doc_id"),
        graft.plans.BlockHash64.blockhash64(col("payload")).as("hb"))
    val ham = (0 until 8).map(b =>
      bit_count(element_at(col("a.hb"), b + 1)
        .bitwiseXOR(element_at(col("b.hb"), b + 1)))).reduce(_ + _)
    h.as("a").join(h.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(ham <= 12).count()
  }

  private def embBruteCount(vs: DataFrame): Long =
    vs.as("a").join(vs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(cosineFast(col("a.v"), col("b.v")) >= 0.45).count()

  final private case class Point(
      path: String, m: Int, inRows: Long, outRows: Long, secs: Double)

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = args.lift(1).getOrElse("1,3,10,30")
      .split(",").map(_.trim.toInt).toSeq
    val scratch = args.lift(2).getOrElse("target/scaleprobe")
    val spark = localSession(32)
    val cpus = spark.sparkContext.defaultParallelism

    val points = scala.collection.mutable.ArrayBuffer.empty[Point]
    // discarded 1× round absorbs JVM/codegen warm-up
    for (((m, idx)) <- (1 +: mults).zipWithIndex) {
      val warm = idx == 0
      val dir = s"$scratch/m$m"
      val docs = scaledDocuments(spark, baseDir, m)
      val embs = scaledEmbeddings(spark, baseDir, m)
      docs.repartition(cpus)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      embs.repartition(cpus)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // the overwrite replaced the files a memoized scan may reference
      Tables.invalidate(spark)
      CacheRegistry.clear(spark)
      val nDocs = Tables(spark, dir, "documents").count()
      val nVecs = Tables(spark, dir, "embeddings").count()
      def rec(path: String, inRows: Long)(body: => Long): Unit = {
        val (rows, secs) = time(body)
        if (!warm) {
          points += Point(path, m, inRows, rows, secs)
          println(f"[scaleprobe] path=$path m=$m in=$inRows out=$rows " +
            f"secs=$secs%.2f")
        }
      }

      // the CHAIN form, deliberately (r21): the public accessors now
      // read through the on-disk audit pair store, and the recorded
      // growth law must stay the banded JOIN's law (and below, the
      // verify+CC law), not build+parquet-write
      rec("minhash_banded", nDocs) {
        TextDedup.chainCandidatePairs(spark, dir).count()
      }
      // the one ITERATIVE operator, on its production input: exact
      // Jaccard verify over the candidates (q42's count-join) feeding
      // min-label propagation (q89's dupClusters chain end-to-end).
      // Verified dup clusters have ~constant diameter at any corpus
      // size, so rounds stay flat and per-round work is edge-linear.
      // (Feeding CC the UNVERIFIED candidate graph instead was measured
      // at 38-60 s FLAT at every m — band-value transitivity chains
      // drive it to the 25-round cap; per-round fixed cost, not data,
      // dominates. Verify-then-cluster is the discipline, not a nicety.)
      rec("dup_clusters", nDocs) {
        TextDedup.connectedComponents(
          TextDedup.chainJaccardPairs(spark, dir)
            .select(col("doc_i").as("src"), col("doc_j").as("dst")))
          .count()
      }
      // the ON-DISK text-dedup store lifecycle (r15): build = one
      // signature pass + a 4-way band-partitioned write (expect the
      // corpus-linear minhash growth shape); serve = a fixed 500-doc
      // batch (copies of resident docs under fresh IdStride-derived
      // ids, so every one collides and the verdict join does real
      // work) against the corpus-sized resident store — the growth
      // that matters: |batch| × collisions, NOT corpus-shaped.
      val docsAll = Tables(spark, dir, "documents")
      rec("dedup_disk_build", nDocs) {
        TextDedup.dedupIndexWrite(docsAll, s"$dir/dedupidx")
        nDocs
      }
      val serveBatch = docsAll
        .filter(col("doc_id") < 500)
        .withColumn("doc_id", col("doc_id") + lit(IdStride * (m + 20L)))
      rec("dedup_disk_serve", nDocs) {
        TextDedup.dedupIndexServe(serveBatch, s"$dir/dedupidx").count()
      }
      // the ON-DISK search index (r15): build = tokenize + term-bucket
      // partitioned write (corpus-linear ceiling); serve = a 3-term
      // BM25 top-10 whose scan prunes to the terms' hash buckets —
      // the growth that matters is bucket-local postings volume, and
      // at a FIXED bucket count that is corpus/nBuckets (sub-linear
      // absolute cost; at scale nBuckets grows with the corpus and the
      // per-query read stays constant).
      rec("search_disk_build", nDocs) {
        graft.operators.Search.searchIndexWrite(docsAll,
          s"$dir/searchidx")
        nDocs
      }
      rec("search_disk_serve", nDocs) {
        graft.operators.Search.searchIndexServe(spark,
          s"$dir/searchidx", Seq("hash", "scan", "filter")).count()
      }
      // search-index APPEND (r16): a fixed 500-doc delta against the
      // corpus-sized index. The row exists to prove the incremental
      // stats reconciliation holds the append FLAT: cost is
      // O(|delta|) + two one-row jobs, independent of absorbed corpus
      // — a full docs/ re-derive here would grow linearly with m and
      // this row would show it. The delta is MATERIALIZED (eager
      // localCheckpoint) before the timing: it is cut from the scaled
      // corpus by a filter, and leaving that inside the timed section
      // would charge three corpus-sized fixture scans (postings
      // explode, dl projection, stats delta agg) to the append row —
      // fixture cost masquerading as store growth.
      val searchWave = docsAll.filter(col("doc_id") < 500)
        .withColumn("doc_id", col("doc_id") + lit(IdStride * (m + 40L)))
        .localCheckpoint()
      rec("search_disk_append", nDocs) {
        graft.operators.Search.searchIndexAppend(searchWave,
          s"$dir/searchidx")
        nDocs
      }
      // the LM broadcast-size gate's SHUFFLE branch (r15 verdict
      // residue): the scaled fixture multiplies the vocabulary by m
      // (every replica's tokens are suffix-tagged), so these two rows
      // measure the SAME query under each pinned branch on a genuinely
      // grown vocab — the "off" row is the open-web posture (model too
      // big to broadcast), whose tail α had been spec-proven
      // result-identical but never growth-measured. One discarded run
      // first so the shared unigram caches charge to neither branch.
      val lmc = graft.operators.Curation.LmBroadcastConf
      SparkEntry.queries("q103_unigram_logprob")(spark, dir).count()
      rec("lm_gate_on", nDocs) {
        spark.conf.set(lmc, "on")
        try SparkEntry.queries("q103_unigram_logprob")(spark, dir).count()
        finally spark.conf.unset(lmc)
      }
      rec("lm_gate_off", nDocs) {
        spark.conf.set(lmc, "off")
        try SparkEntry.queries("q103_unigram_logprob")(spark, dir).count()
        finally spark.conf.unset(lmc)
      }
      val planes = 4 + math.ceil(math.log(m) / math.log(2)).toInt
      // skew discipline: similar vectors co-bucket by design, so planes
      // alone cannot flatten a hot cluster's bucket — the pair join
      // tiles each bucket's pair space by a salt (result-identical,
      // spec-pinned). Since r13 the salt is AUTO-SIZED per bucket from
      // an in-plan occupancy histogram (r12 ran a manual global
      // min(16, 2m)); the probe runs the default so the measurement
      // proves a caller with NO skew knowledge survives the hot-cluster
      // scenario — the r12 manual-salt numbers are the comparison bands
      // in BASELINE.md.
      if (!warm) println(
        s"[scaleprobe] knobs m=$m planes=$planes salt=auto K=${8 * m}")
      val vs = Similarity.vectors(spark, dir)
      vs.count() // pre-warm the shared base frame outside the timings
      rec("hyperplane_lsh", nVecs) {
        Similarity.lshNearDupPairs(vs, planes, 0.45,
          Similarity.AutoSalt).count()
      }
      rec("semdedup", nVecs) {
        // count(keep) forces the verdict column so column pruning can
        // never drop the cosine evaluation out of the measurement
        Similarity.semDedup(vs, 8 * m, 0.45)
          .agg(count(when(col("keep"), 1))).head().getLong(0)
      }
      // PQ ANN is scan-shaped by design (codebooks/LUT broadcast, the
      // corpus pass reads m ids per vector); the probe records that the
      // measured growth actually IS ~linear. Since r14 the queries
      // serve from the MATERIALIZED index (pq-enc/ivf-cell registry
      // caches, plus the pq-book/ivf-cent MODEL frames), so each
      // build-inclusive rec releases ALL FOUR first — keeping these
      // two rows comparable with the r12/r13 tables (which re-derived
      // codebooks/centroids inline inside the timing; the seed-codebook
      // derivation is itself a corpus TakeOrdered, so leaving pq-book
      // resident would silently shrink the "build" being measured).
      def dropIndex(): Unit =
        AnnIndexPrefixes.foreach(CacheRegistry.releaseByPrefix(spark, _))
      dropIndex()
      rec("pq_ann", nVecs) {
        graft.SparkEntry.queries("q178_pq_ann")(spark, dir).count()
      }
      // IVF-PQ adds the coarse assignment (one broadcast-argmin pass)
      // and then scans only the probed cells' encodings — expect a
      // curve PARALLEL to pq_ann's with a fixed ~0.2 s assignment
      // premium (measured r13: 1.30→1.89 vs 1.08→1.79; the premium
      // repays only at cluster scale where cell = partition key)
      dropIndex()
      rec("ivfpq_ann", nVecs) {
        graft.SparkEntry.queries("q179_ivfpq_ann")(spark, dir).count()
      }
      // serve-from-index twins (r14): ivfpq_ann's run left the index
      // (encodings + cell assignment) RESIDENT, so these two time pure
      // serving — the amortization the materialized index buys. serve1
      // is one query re-ranked from the index; batch5 pushes the q180
      // five-query batch through ONE pass over the cached encodings,
      // so its per-query cost should land well under serve1's.
      rec("ivfpq_serve1", nVecs) {
        graft.SparkEntry.queries("q179_ivfpq_ann")(spark, dir).count()
      }
      rec("ivfpq_batch5", nVecs) {
        graft.SparkEntry.queries("q180_ivfpq_batch")(spark, dir).count()
      }
      // the ON-DISK index (r14): build cost is the write row (encode +
      // assign + cell-partitioned parquet write — the one-time cost the
      // serve rows amortize); the serve row reads ONLY the probed
      // cells' directories via the static partition filter, so its
      // growth should track the per-cell slice, not the corpus
      val vecs0 = vs.filter(col("codes").isNotNull)
      rec("ivfpq_disk_build", nVecs) {
        Similarity.ivfPqIndexWrite(vecs0, s"$dir/annidx", kIvf = 4,
          m = 4, subDim = 16, k = 8)
        nVecs
      }
      rec("ivfpq_disk_serve1", nVecs) {
        Similarity.ivfPqIndexServe(vecs0, s"$dir/annidx", queryId = 0L,
          nprobe = 2, m = 4, subDim = 16, coarseK = 20, topK = 10)
          .count()
      }
      // FILTERED serve (q183's shape): a ~10% allow-list (vec_id % 10
      // == 1 — deterministic and scale-covariant, like q183's label
      // predicate) semi-joins the pruned encodings scan before the
      // ADC top-k. Expect the disk_serve1 band: the filter runs on
      // the nprobe/kIvf slice the partition filter already cut, so
      // selectivity changes the candidate count, not the scan
      rec("ivfpq_disk_filt1", nVecs) {
        Similarity.ivfPqIndexServe(vecs0, s"$dir/annidx", queryId = 0L,
          nprobe = 2, m = 4, subDim = 16, coarseK = 20, topK = 10,
          allowed = Some(vecs0.filter(col("vec_id") % 10 === 1)
            .select("vec_id")))
          .count()
      }
      rec("ivfpq_disk_batch5", nVecs) {
        Similarity.ivfPqIndexServeBatch(vecs0, s"$dir/annidx",
          qMax = 5L, nprobe = 2, m = 4, subDim = 16, coarseK = 20,
          topK = 3).count()
      }
      // index MAINTENANCE (r14): six frozen-model appends of a small
      // id-offset wave fragment the cell directories (one file per
      // touched cell per append — the small-files decay a streaming
      // ingest causes), then compaction rewrites the index back to one
      // file per cell. frag_serve is a serve against the fragmented
      // layout (at local-disk scale the fragment tax is per-file
      // open/footer cost — expect it near disk_serve1; the row exists
      // so a REAL regression is visible, not assumed away); compact is
      // the repair's own cost (a full read+rewrite — expect the
      // disk_build growth shape); serve-after-compact must fall back
      // onto the disk_serve1 band, which closes the decay→repair loop.
      // the serve rows after the appends use a codes frame that COVERS
      // the appended ids — an indexed id absent from the rerank side
      // drops out of the final top-k (inner rerank join), which would
      // shrink `out` and make the rows look like a result change
      // rather than the pure layout measurement they are
      val wave = vecs0.filter(col("vec_id") < 200)
      // wave offsets derive from IdStride, ABOVE every replica id: the
      // scaled fixture's ids reach (m-1)*IdStride + baseMax, so a
      // fixed 1e6*i offset would collide with existing corpus ids once
      // a fixture exceeds ~1e6 vectors — violating ivfPqIndexAppend's
      // new-ids contract (double-counted ADC rows) and quietly
      // corrupting the frag_serve/serve2/compact rows. IdStride*(m+i)
      // for i >= 1 is strictly beyond the corpus max at every m.
      def waveOff(i: Int): Long = IdStride * (m + i)
      val codesFrag = (1 to 6).map(i =>
          wave.withColumn("vec_id", col("vec_id") + lit(waveOff(i))))
        .foldLeft(vecs0)(_ union _)
      rec("ivfpq_disk_append6", nVecs) {
        (1 to 6).foreach { i =>
          Similarity.ivfPqIndexAppend(
            wave.withColumn("vec_id", col("vec_id") + lit(waveOff(i))),
            s"$dir/annidx", m = 4, subDim = 16)
        }
        nVecs
      }
      rec("ivfpq_disk_frag_serve", nVecs) {
        Similarity.ivfPqIndexServe(codesFrag, s"$dir/annidx",
          queryId = 0L, nprobe = 2, m = 4, subDim = 16, coarseK = 20,
          topK = 10).count()
      }
      rec("ivfpq_disk_compact", nVecs) {
        Similarity.ivfPqIndexCompact(spark, s"$dir/annidx")
        nVecs
      }
      rec("ivfpq_disk_serve2", nVecs) {
        Similarity.ivfPqIndexServe(codesFrag, s"$dir/annidx",
          queryId = 0L, nprobe = 2, m = 4, subDim = 16, coarseK = 20,
          topK = 10).count()
      }
      // codebook training (facade trainPqCodebooks, 2 Lloyd rounds per
      // subspace): the assign pass is the pqEncode broadcast-argmin,
      // re-estimation reduces to k·m·subDim cells — expect the kmeans
      // growth shape (~linear, fixed-overhead-dominated at these sizes)
      rec("pq_train2", nVecs) {
        Similarity.pqTrainCodebooks(
          Similarity.vectors(spark, dir).filter(col("codes").isNotNull),
          m = 4, subDim = 16, k = 8, iters = 2).count()
      }
      // coarse-centroid training (facade trainIvfCentroids, 2 Lloyd
      // rounds): per round one ivfAssign pass + a (cell, dim)-keyed
      // exact-integer aggregate with kIvf·d reduce state — expect the
      // pq_train2 growth shape
      rec("ivf_train2", nVecs) {
        Similarity.ivfTrainCentroids(vecs0, kIvf = 4, iters = 2).count()
      }
      rec("budget_select", nDocs) {
        SparkEntry.queries("q157_budget_select")(spark, dir).count()
      }
      if (m <= PhashMaxM)
        rec("phash_pairs", nDocs) {
          SparkEntry.queries("q171_phash_pairs")(spark, dir).count()
        }
      else println(s"[scaleprobe] DROPPED phash_pairs m=$m (fixed-band " +
        s"config is measured only to ${PhashMaxM}×; band width is its knob)")
      if (m <= EmbBruteMaxM)
        rec("BRUTE_emb_allpairs", nVecs) { embBruteCount(vs) }
      if (m <= PhashBruteMaxM)
        rec("BRUTE_phash_allpairs", nDocs) { phashBruteCount(spark, dir) }
      if (!warm && m == mults.max)
        println("[scaleprobe] DROPPED text-jaccard brute twin at every m: " +
          "cartesian shingle-intersect is ~12.5M array ops already at 1x; " +
          "q42's exact count-join is the verified exact reference instead")
    }
    CacheRegistry.clear(spark)

    println("[scaleprobe] --- growth exponents a = ln(t2/t1)/ln(n2/n1) ---")
    points.groupBy(_.path).toSeq.sortBy(_._1).foreach { case (p, ps0) =>
      val ps = ps0.sortBy(_.m)
      val steps = ps.zip(ps.drop(1)).map { case (a, b) =>
        val alpha = math.log(b.secs / a.secs) / math.log(
          b.inRows.toDouble / a.inRows)
        f"${a.m}->${b.m}:$alpha%.2f"
      }
      val overall =
        if (ps.size < 2) "n/a"
        else f"${math.log(ps.last.secs / ps.head.secs) /
          math.log(ps.last.inRows.toDouble / ps.head.inRows)}%.2f"
      println(s"[scaleprobe] $p steps=[${steps.mkString(" ")}] " +
        s"overall=$overall")
    }
    spark.stop()
  }
}
