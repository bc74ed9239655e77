package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, QueryDef, Tables}

/** Deduplication operators for LLM training-data pipelines (SURVEY.md §2C):
  * exact hash-dedup, MinHash signatures, MinHash-LSH banded candidate
  * generation, exact n-gram Jaccard verification, SimHash with banded
  * hamming near-dup search, and embedding-cosine near-dup pairs.
  *
  * Hash choice: md5 is the one hash primitive whose bytes are identical in
  * Spark and DuckDB, so every query here — MinHash family AND SimHash —
  * is fully oracle-checkable (hash values are compared as integers, not
  * floats). SimHash feeds each shingle's 60-bit md5 window into the
  * bit-majority fold, the same engine-portable hash MinHash windows use.
  *
  * Scale notes (100 TB posture):
  *  - nothing here is O(n²) on the Spark side: near-dup candidates come
  *    from equality joins on (band_id, band_hash) — the LSH trick that
  *    turns all-pairs similarity into a shuffle join with bounded bucket
  *    sizes; only candidates (a vanishing fraction) are verified exactly;
  *  - the DuckDB oracles DO use the O(n²) formulation — that is fine at
  *    oracle scale (500–5000 docs) and keeps the oracle independent of
  *    the engine's algorithm;
  *  - signature computation is one narrow map stage (no shuffle): shingle
  *    arrays never leave their partition, only the k-integer signature is
  *    shuffled;
  *  - SimHash hamming search uses 8 bands of 8 bits: any pair within
  *    hamming distance 7 shares ≥1 exact band (pigeonhole), so the banded
  *    equality join has 100% recall at the declared threshold — same
  *    plan shape as the MinHash join, no cross join anywhere.
  */
object TextDedup {
  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Word 3-gram shingles of `text`, distinct, as an array column.
    * Requires ≥3 words (guarded by the caller's filter). Native
    * plans.WordShingles — same values as the compositional
    * array_distinct(transform(sequence…, concat_ws…)) form
    * (equivalence property-tested in OperatorSpec). */
  private def shingles(text: Column): Column =
    graft.plans.WordShingles.wordShingles(text, 3)

  /** documents with doc_id + distinct shingle array (docs with <3 words
    * dropped — mirrored by WHERE len(...)>=3 in every oracle).
    *
    * Cached per (session, dir) via CacheRegistry: shingle-array
    * construction dominates every text-similarity query (~4s of each of
    * q42/q43/q44 at sf0.1), and the driver runs them in one session —
    * computing them once is the single biggest bench win. */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"shingles:$dir") {
      // a corpus that fits one split stays one partition; a larger one
      // is spread by doc_id so the shingle build uses every core
      // instead of the one its single parquet file plans
      Stores.onePartition(T(s, dir, "documents"),
          _.repartition(col("doc_id")))
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), shingles(col("text")).as("sh"))
    }

  /** doc_id + mh0..mh7 MinHash signature: min of the 15-hex-char window
    * at offset k of each shingle's md5 — ONE digest per shingle serves
    * all 8 hash functions (single-hash MinHash; the windows are distinct
    * well-mixed functions). Bit-identical in DuckDB as
    * ('0x' || substr(md5(x), k+1, 15))::BIGINT. All 8 minima come from
    * one native pass (plans.MinHashSig — equivalence property-tested in
    * OperatorSpec against the compositional hex-window form).
    *
    * Cached per (session, dir): both MinHash queries (q41 signatures,
    * q44 LSH) read it, and the 9-column frame (8 longs + id) is ~100×
    * smaller than the shingle arrays it derives from — the cheap thing
    * to keep hot. */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"minhash-sig:$dir") {
      // Derived from the shared shingle cache: every workload that wants
      // MinHash also runs at least one shingle-array consumer (count-join
      // verify, SimHash, decontamination), so splitting text ONCE and
      // running the digest pass over the persisted arrays beats a second
      // standalone split+shingle pass. A signatures-only pipeline would
      // prefer the fused narrow form (shingle → md5 → window-min in one
      // pass, no array materialization) — but here the arrays are cached
      // either way and the digest pass over them is a narrow map.
      docShingles(s, dir)
        .select(col("doc_id"),
          graft.plans.MinHashSig.minhashSig(col("sh")).as("ms"))
        .select(col("doc_id") +:
          (0 until 8).map(k => col("ms").getItem(k).as(s"mh$k")): _*)
    }

  /** Distinct LSH candidate pairs (doc_i < doc_j) from the 4-band × 2-row
    * banding of the MinHash signatures — the sub-quadratic candidate
    * generator q44 reports on, q117 audits, and q121 ranks over.
    * Equality join on (band, band_value): the partition key at cluster
    * scale.
    *
    * Cached per (session, dir): three queries consume the pair set, and
    * q121's unrolled PageRank iterations would otherwise replay the
    * band join once per iteration (7s → sub-second at sf0.1). */
  /** The 4-band × 2-row banding of an 8-column MinHash signature frame →
    * (doc_id, band, bv) — THE shared LSH gate: q44/q117/q121 derive
    * their candidate pairs from it and q156 its ingest matches, so the
    * band count and separator must never fork per site. */
  private def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        concat_ws(":", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("bv"))): _*
    )).as("bd")).select(col("doc_id"), col("bd.band"), col("bd.bv"))

  private[graft] def lshCandidatePairs(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"lsh-cand:$dir") {
      // r21: read THROUGH the on-disk audit pair store (built once per
      // corpus dir by [[diskAuditDir]] from [[chainCandidatePairs]] —
      // the same banded join this cache used to build directly). The
      // first chain consumer's touch becomes the 14-job store
      // build+serve instead of the 21-job in-session chain rebuild,
      // every later consumer (q44/q121/q130/q144) reads the persisted
      // scan, and the candidate set survives the JVM — the r20
      // verdict's ask #2/#3 wiring. Store-fed ≡ chain is spec-pinned
      // (AuditStoreSpec) and both paths stay under the same DuckDB
      // oracles (q44/q117/q121/q144 verbatim).
      residentAuditCands(s, diskAuditDir(s, dir))
    }

  /** The CHAIN-computed candidate set — the banded self-join over the
    * registry signature cache, exactly what [[lshCandidatePairs]]'s
    * cache body built before the store rewiring. The store build
    * ([[diskAuditDir]]) and the store-fed ≡ chain specs call this; the
    * `minhash_banded` law of GrowthLawSpec counts its candidates so
    * the pinned law stays the JOIN's law, not build+write. */
  private[graft] def chainCandidatePairs(s: SparkSession,
      dir: String): DataFrame =
    bandedPairsOf(bandsOf(signatures(s, dir)))

  /** Distinct (doc_i < doc_j) pairs sharing ≥1 band — the ONE banded
    * equality join every MinHash consumer (dir-bound cache above,
    * table-agnostic form below) runs. */
  private def bandedPairsOf(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .distinct()

  /** [[bandedPairsOf]] with PER-BUCKET pair-space tiling — the same
    * hot-bucket defense `Similarity.lshNearDupPairs` grew in r12/r13,
    * adapted to MinHash's corpus-SIZED bucket space: a boilerplate doc
    * duplicated 100k× puts all its (band, bv) twins in one bucket, and
    * the plain self-join serializes that bucket's whole |b|² pair
    * space on one task (the defect class AQE's byte-based skew split
    * cannot see). Here the bucket count is ~4n, so the occupancy can't
    * broadcast like hyperplane-LSH's 2^planes histogram — instead the
    * count rides a WINDOW over (band, bv), the exact key the join
    * shuffles on anyway, and each bucket gets
    * salt = ceil(|b|²/tilePairs) clamped to
    * [[graft.operators.Similarity.AutoSaltMax]]: build side replicated
    * salt×, probe side hashed to a tile, (band, bv, tile) the join
    * key. Result-identical to the untiled join for any tilePairs
    * (spec-pinned, forced multi-tile included) — pure physical
    * parallelism, cold buckets pay zero replication.
    *
    * MEASURED tradeoff (wall clock, before GrowthLawSpec; 60k docs + a
    * 10k-copy boilerplate bucket): tiled 23 s vs untiled-SMJ 72 s
    * (the non-broadcastable regime — the tiling's 3–5× win) vs
    * untiled-BROADCAST 5 s (at broadcastable scale, BHJ parallelism
    * follows the probe's input partitioning and the hot bucket spreads
    * for free). Hence the join is merge-HINTED — broadcasting the
    * salt-replicated build was measured strictly worse than either
    * (every task rebuilds a hash map over every replica) — and the
    * probe side repartitions by the full tile key with an EXPLICIT
    * partition count (a bare repartition is advisory and AQE's
    * byte-based coalescing merges byte-light tiles straight back onto
    * one task — the same AQE blindness r12 recorded). Costs one extra
    * window shuffle of the bands frame; the dir-bound metered pipeline
    * keeps the plain join (its corpus is measured skew-free), the
    * facade path defaults to tiled because boilerplate skew is the
    * RULE in open web corpora and a facade caller's corpus is assumed
    * bigger than a broadcast; pass tilePairs = Long.MaxValue to pin
    * the untiled broadcast-friendly plan at small scale. */
  private[operators] def bandedPairsTiled(
      bands: DataFrame, tilePairs: Long): DataFrame = {
    require(tilePairs >= 1, "tilePairs must be >= 1")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bv")
    val withS = bands
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", Similarity.tileSalt(col("__n"), tilePairs))
      .drop("__n")
    // Probe spread + merge hint are Similarity.saltedProbeSide's
    // documented shared discipline. Specific to THIS site: the
    // occupancy WINDOW leaves the probe clustered by (band, bv) — its
    // exchange key — so without the spread, a broadcast build would run
    // the join on that inherited clustering and the hot bucket's probe
    // rows all sit on ONE task (measured: 7.6× SLOWER than untiled at
    // a 10k-copy bucket — the tiling defeated by its own window).
    val probe = Similarity.saltedProbeSide(
      withS.withColumn("__h", pmod(xxhash64(col("doc_id")), col("__s"))),
      Seq("band", "bv", "__h"))
    val build = withS.withColumn("__h",
      explode(sequence(lit(0), col("__s") - 1)))
    build.as("a").hint("merge")
      .join(probe.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.__h") === col("b.__h")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .distinct()
  }

  /** Table-agnostic banded-MinHash near-dup CANDIDATE generator over
    * any (`idCol`, `textCol`) frame: word-3-gram shingles → 8-hash
    * MinHash signature (plans.MinHashSig, one digest per shingle) →
    * 4 bands × 2 rows → distinct (doc_i, doc_j) id pairs sharing at
    * least one band, doc_i < doc_j. Docs with <3 words have no 3-gram
    * shingle and are dropped (q41/q44's rule). Shingling, banding, and
    * the pair join are the SAME private definitions the dir-bound
    * q41/q44/q117/q121/q156 pipeline uses — one place to drift.
    *
    * Scale shape: signature is one narrow map (shingle arrays never
    * leave their partition); candidates come from an equality join on
    * (band, band-value) — the partition key at cluster scale, never
    * all-pairs — TILED per bucket by default (see [[bandedPairsTiled]]:
    * a mass-duplicated boilerplate doc would otherwise serialize its
    * bucket's whole pair space on one task; `tilePairs` is the per-tile
    * pair budget, result-identical at any value — pass Long.MaxValue
    * to pin the untiled physical plan). Candidate count is
    * near-dup-density-bound, not corpus-bound (GrowthLawSpec pins its
    * growth near-linear).
    * Verify survivors with an exact measure (q42's Jaccard) after. */
  private[graft] def minhashCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String,
      tilePairs: Long = Similarity.AutoSaltTilePairs): DataFrame = {
    val sig = signaturesOf(docs, idCol, textCol)
    if (tilePairs == Long.MaxValue) bandedPairsOf(bandsOf(sig))
    else bandedPairsTiled(bandsOf(sig), tilePairs)
  }

  /** Table-agnostic MinHash signatures of any (`idCol`, `textCol`)
    * frame — the one narrow map every MinHash consumer derives from
    * (the dir-bound [[signatures]] cache is this over the documents
    * table): (doc_id, mh0..mh7), docs under 3 words dropped. */
  private[operators] def signaturesOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .filter(size(split(col(textCol), " ")) >= 3)
      .select(col(idCol).as("doc_id"),
        graft.plans.MinHashSig.minhashSig(shingles(col(textCol))).as("ms"))
      .select(col("doc_id") +:
        (0 until 8).map(k => col("ms").getItem(k).as(s"mh$k")): _*)

  /** Shared oracle CTE prefix: shingles + 8 md5 minhashes per doc
    * (also the prefix of GraphOps' q121 oracle). */
  private[operators] val oracleSig: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) AS s
      |  FROM w WHERE len(ws) >= 3),
      |dgs AS (SELECT doc_id, [md5(x) for x in s] AS dg FROM sh),
      |m AS (SELECT doc_id,
      |  list_min([('0x'||substr(d,1,15))::BIGINT for d in dg]) AS mh0,
      |  list_min([('0x'||substr(d,2,15))::BIGINT for d in dg]) AS mh1,
      |  list_min([('0x'||substr(d,3,15))::BIGINT for d in dg]) AS mh2,
      |  list_min([('0x'||substr(d,4,15))::BIGINT for d in dg]) AS mh3,
      |  list_min([('0x'||substr(d,5,15))::BIGINT for d in dg]) AS mh4,
      |  list_min([('0x'||substr(d,6,15))::BIGINT for d in dg]) AS mh5,
      |  list_min([('0x'||substr(d,7,15))::BIGINT for d in dg]) AS mh6,
      |  list_min([('0x'||substr(d,8,15))::BIGINT for d in dg]) AS mh7
      |  FROM dgs)""".stripMargin

  /** Exact near-dup pairs at Jaccard ≥ 0.5 (unordered — q42 adds the
    * ORDER BY; q89 consumes them as dedup-cluster edges).
    *
    * Two exact plans, chosen by the corpus's shingle doc-frequency (df)
    * profile — one cheap agg over the df table decides:
    *
    *  - count-join (benign df): explode each doc's distinct shingles,
    *    equality-join shingle↔shingle, count matches per doc pair — the
    *    count IS the exact intersection size (shingles are distinct per
    *    doc). Intermediate is Σ C(df,2) rows (2.8M at sf0.1 — one
    *    codegen'd shuffle join + partial-agg'd count). Measured 1.0s vs
    *    3.5s for prefix+verify at sf0.1's near-uniform df.
    *  - prefix-filter + verify (hot shingles): a stopword shingle with
    *    df=d alone contributes C(d,2) join rows — quadratic in d, the
    *    one way the count-join degrades at 100 TB. The ppjoin-style
    *    prefix filter caps this: order each doc's shingles rarest-first
    *    by (df, shingle) — a single global total order — and keep only
    *    the first n − ceil(t·n) + 1 postings. For J(a,b) ≥ t the
    *    required overlap is c ≥ t/(1+t)·(n_a+n_b) ≥ ceil(t·n_a) (using
    *    the length bound n_b ≥ t·n_a), and any pair with |a∩b| ≥ α must
    *    share an element within their (n − α + 1)-prefixes — so
    *    candidate recall is total. Hot shingles sort LAST and fall out
    *    of every prefix (except docs so short the prefix is the whole
    *    set), so the candidate join is driven by rare shingles only;
    *    candidates then verify EXACTLY via array_intersect on the full
    *    shingle arrays. Same output, bit for bit.
    *
    * Branch rule: Σdf² > 32·Σdf (mean-square amplification over the
    * postings) → prefix path. Uniform corpora stay on the measured-
    * faster count-join; one df=1000 stopword shingle in a 5k-doc corpus
    * trips the cap. */
  private val PrefixAmplificationCap = 32L

  private[operators] def shingleDfStats(postings: DataFrame): (Long, Long) = {
    val r = postings.groupBy("s").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * col("df")).as("sum2"), sum(col("df")).as("sum1"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Candidate pairs from rarest-first prefixes (superset of all J ≥ 0.5
    * pairs; exposed for the hot-corpus spec). */
  private[operators] def prefixCandidates(docs: DataFrame): DataFrame = {
    val postings = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val df = postings.groupBy("s").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
    val prefix = postings.join(df, "s")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("n") - ceil(col("n") * 0.5) + 1)
      .select("doc_id", "n", "s")
    prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id")
          && col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .distinct()
  }

  /** count-join path: exact intersection counts from the postings join. */
  private[graft] def countJoinPairs(docs: DataFrame): DataFrame = {
    val postings = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    postings.as("a").join(postings.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id")
          && col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        col("a.n").as("n_i"), col("b.n").as("n_j"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") * 3 >= col("n_i") + col("n_j"))
      .select(col("doc_i"), col("doc_j"), col("n_common"),
        col("n_i"), col("n_j"),
        round(col("n_common") / (col("n_i") + col("n_j") - col("n_common")), 4)
          .as("jaccard"))
  }

  /** prefix-filter path: candidates from rare-shingle prefixes, then
    * exact array_intersect verification. */
  private[graft] def prefixVerifyPairs(docs: DataFrame): DataFrame = {
    val a = docs.select(col("doc_id").as("doc_i"), col("sh").as("sh_i"))
    val b = docs.select(col("doc_id").as("doc_j"), col("sh").as("sh_j"))
    prefixCandidates(docs)
      .join(a, "doc_i").join(b, "doc_j")
      .select(col("doc_i"), col("doc_j"),
        size(array_intersect(col("sh_i"), col("sh_j"))).cast("long")
          .as("n_common"),
        size(col("sh_i")).as("n_i"), size(col("sh_j")).as("n_j"))
      .filter(col("n_common") * 3 >= col("n_i") + col("n_j"))
      .select(col("doc_i"), col("doc_j"), col("n_common"),
        col("n_i"), col("n_j"),
        round(col("n_common") / (col("n_i") + col("n_j") - col("n_common")), 4)
          .as("jaccard"))
  }

  /** Exact-Jaccard pairs on the branch the data picks: one one-row
    * df-stats job at plan construction ([[shingleDfStats]]), then the
    * count-join or the prefix path by the amplification cap. The job
    * runs only inside the eager audit-store build
    * ([[chainJaccardPairs]]); every registry consumer reads the
    * persisted store. Both branches read only `docs`, so neither
    * touches the cache registry (PlanConstructionSpec). */
  private[graft] def jaccardPairsPlan(docs: DataFrame): DataFrame = {
    val postings = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val (sum2, sum1) = shingleDfStats(postings)
    if (sum2 <= PrefixAmplificationCap * sum1) countJoinPairs(docs)
    else prefixVerifyPairs(docs)
  }

  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    // pairs are consumed repeatedly (q42 result, q117's truth set, the
    // dup-cc cluster edges) and are tiny (survivors only) — the
    // canonical thing to keep hot. r21: read THROUGH the audit pair
    // store (see [[lshCandidatePairs]] — same rewiring, same specs):
    // the verified pair set is computed once per corpus by the store
    // build and every consumer reads the persisted bucket scans.
    CacheRegistry.cached(s, s"jaccard-pairs:$dir") {
      residentAuditPairs(s, diskAuditDir(s, dir))
    }

  /** The CHAIN-computed verified pair set — [[jaccardPairsPlan]] over
    * the shared shingle cache, exactly what [[jaccardPairs]]'s cache
    * body built before the store rewiring; the store build and the
    * store-fed ≡ chain specs run it. */
  private[graft] def chainJaccardPairs(s: SparkSession,
      dir: String): DataFrame =
    jaccardPairsPlan(docShingles(s, dir))

  /** Converged duplicate-cluster labels (id, lbl) over the exact-Jaccard
    * near-dup edges — lbl = min doc_id of the component, the canonical
    * representative id. Cached per (session, dir): FOUR consumers read
    * the same converged frame (q89's cluster report, q173's keep-best
    * rule, q174's leakage-safe split, q175's yield funnel), and the
    * iterative build (driver-read changed-counts, eager by design) must
    * run once, not per consumer. The frame is the ~|dup docs| label map
    * — vocab-sized, the cheap thing to keep hot. */
  private[graft] def dupClusters(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"dup-cc:$dir") {
      connectedComponents(jaccardPairs(s, dir)
        .select(col("doc_i").as("src"), col("doc_j").as("dst")))
    }

  /** Per-cluster keep-best verdict — the decision layer a dedup pipeline
    * applies after clustering: every item gets its cluster id (items
    * absent from `labels` are singletons keeping themselves), each
    * cluster keeps exactly ONE member — the max-`qualityCol` item, min
    * `idCol` tiebreak — and drops the rest. Returns
    * (`idCol`, cluster_id, cluster_size, keep).
    *
    * `items` must carry a numeric `qualityCol` (higher = better; NULL
    * — and, for float/double, NaN — sorts LAST: an unscored or
    * failed-scorer member never beats a scored one, and an all-unscored
    * cluster falls back to the min-`idCol` tiebreak. NULL matches SQL's
    * ORDER BY quality DESC NULLS LAST; NaN-as-worst is a documented
    * divergence from SQL's NaN-sorts-greatest) and a LONG
    * `idCol`; `labels` is [[connectedComponents]] output (id, lbl).
    * Scale shape: the argmax is a map-side-combinable min(struct) keyed
    * by cluster — one reduce-buffer entry per cluster per partition,
    * never a per-cluster sort — and the verdict join is keyed by
    * cluster_id, the same partitioning. Backs q173_cluster_rep (which
    * pins it against a brute-force + q89-agreement spec). */
  def clusterVerdict(items: DataFrame, labels: DataFrame,
      idCol: String, qualityCol: String): DataFrame = {
    val reserved =
      Seq("id", "lbl", "cluster_id", "cluster_size", "keep", "__q", "m")
    // idCol/qualityCol may NOT take a reserved name either: the caller
    // can always rename, and a reserved-named input would collide with
    // the labels frame / working columns downstream, failing with an
    // ambiguous-reference AnalysisException instead of this message.
    val badParam =
      Seq("idCol" -> idCol, "qualityCol" -> qualityCol)
        .filter { case (_, c) => reserved.contains(c) }
    require(badParam.isEmpty,
      s"clusterVerdict: ${badParam.map { case (p, c) => s"$p '$c'" }
        .mkString(", ")} collides with a reserved working column " +
        s"(${reserved.mkString(", ")}) — rename before calling")
    val clash = items.columns
      .filter(c => c != idCol && c != qualityCol)
      .filter(reserved.contains)
    require(clash.isEmpty,
      s"clusterVerdict: input must not carry working column(s) " +
        s"${clash.mkString(", ")} — rename before calling " +
        "(same discipline as Curation.prefixReserved)")
    val full = items
      .join(labels, items(idCol) === labels("id"), "left")
      .select(col(idCol),
        coalesce(col("lbl"), col(idCol)).as("cluster_id"),
        col(qualityCol).as("__q"))
    // NULL-quality guard: a bare min(struct(-__q, id)) would let a NULL
    // quality WIN the keep (null struct fields sort first in Spark's
    // min) — the opposite of the oracle's ORDER BY quality DESC NULLS
    // LAST. A leading is-worst flag (false < true) makes every scored
    // row beat every unscored row, keeps the original numeric type's
    // exact ordering for the scored case (no lossy double cast), and
    // stays a declarative map-side-combinable aggregate — no
    // construction-time job (PlanConstructionSpec pins q173 as
    // job-free). All-unscored clusters degrade to the min-id tiebreak,
    // same as the oracle. NaN quality is EXPLICITLY grouped with NULL
    // as worst: a NaN score is a failed scorer, not a best document —
    // a deliberate, documented divergence from raw `ORDER BY q DESC`
    // (where SQL engines sort NaN greatest and would crown it). Without
    // this flag the negated NaN would silently sort last anyway; the
    // flag makes the behavior explicit and ordering-direction-proof.
    // Descending key: for INTEGRAL quality use bitwise NOT, not
    // negation — ~x reverses two's-complement order EXACTLY for every
    // value, while -x overflows on MinValue (ANSI mode throws; non-ANSI
    // would wrap and crown the WORST row). Fractional/decimal types
    // negate safely (IEEE/decimal ranges are symmetric).
    val qDesc = items.schema(qualityCol).dataType match {
      case org.apache.spark.sql.types.ByteType
           | org.apache.spark.sql.types.ShortType
           | org.apache.spark.sql.types.IntegerType
           | org.apache.spark.sql.types.LongType => bitwise_not(col("__q"))
      case _ => -col("__q")
    }
    val qWorst = items.schema(qualityCol).dataType match {
      case org.apache.spark.sql.types.DoubleType
           | org.apache.spark.sql.types.FloatType =>
        col("__q").isNull || isnan(col("__q"))
      case _ => col("__q").isNull
    }
    // NORMALIZE the sort key of every worst-flagged row to NULL: in a
    // cluster mixing NULL and NaN quality, a raw -NaN in `neg` would
    // lose to the NULL row's null field (nulls sort first in struct
    // min) and steal the keep from the lower id — the documented
    // all-unscored fallback is the min-idCol tiebreak, so all worst
    // rows must compare equal on `neg` and fall through to `d`.
    val qDescN = when(qWorst, lit(null)).otherwise(qDesc)
    val reps = full.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        min(struct(qWorst.as("nq"), qDescN.as("neg"),
          col(idCol).as("d"))).as("m"))
    full.join(reps, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        (col(idCol) === col("m.d")).as("keep"))
  }

  /** Shared oracle CTE prefix for every [[dupClusters]] consumer:
    * recursive transitive closure over the exact-Jaccard dup edges,
    * ending in `lbl(doc_id, cl)` — cl = min doc_id of the component
    * (docs without a dup partner are absent; consumers coalesce to
    * doc_id). q89 itself is built from this constant too, so there is
    * exactly ONE definition of the clustering oracle to drift. */
  private[operators] val oracleCc: String =
    """WITH RECURSIVE w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) AS s
      |  FROM w WHERE len(ws) >= 3),
      |p AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
      |  len(list_intersect(a.s, b.s)) AS c, len(a.s) AS na, len(b.s) AS nb
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
      |dup AS (SELECT doc_i, doc_j FROM p WHERE 3*c >= na + nb),
      |e AS (SELECT doc_i AS a, doc_j AS b FROM dup
      |      UNION SELECT doc_j, doc_i FROM dup),
      |reach AS (SELECT a, b FROM e
      |          UNION
      |          SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      |lbl AS (SELECT a AS doc_id, min(b) AS cl FROM reach GROUP BY a)""".stripMargin

  /** Largest per-source audit quota any consumer asks for — the ONE
    * cached sample frame covers every smaller quota by rank prefix. */
  private[operators] val AuditSampleMax = 50

  /** Deterministic per-source quota sample of doc_ids (q95's md5-rank
    * machinery — reruns and appends never swap picks): the shared audit
    * budget knob behind q117 (quota 50) and q144 (quota 12). ONE cached
    * (doc_id, rn) frame at the max quota per (session, dir); a smaller
    * quota is exactly the rank-prefix of the larger one (same window,
    * same deterministic order), so q144's sample is a FILTER over
    * q117's cached frame instead of a second window build — one sample
    * cache per session, not one per quota (r10 verdict ask 1d). Each
    * audit still reads its sample ≥2 times (truth join + candidate
    * restriction). */
  private[operators] def quotaSample(
      s: SparkSession, dir: String, quota: Int): DataFrame = {
    require(quota <= AuditSampleMax,
      s"audit quota $quota exceeds the shared sample budget $AuditSampleMax")
    CacheRegistry.cached(s, s"lsh-audit-sample:$dir") {
      // the table-agnostic sampler (Curation.quotaSample, also on the
      // Graft facade) IS the definition — this wrapper only binds the
      // documents table and the shared cache/quota-budget lifecycle
      Curation.quotaSample(
          T(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", AuditSampleMax)
        .select(col("doc_id"), col("qs_rank").as("rn"))
    }.filter(col("rn") <= quota).select("doc_id")
  }

  /** Connected components by min-label propagation: every vertex starts
    * as its own label; each round every vertex takes the minimum label
    * among itself and its neighbors; converged when nothing changes —
    * O(component diameter) rounds, each one shuffle join + partial agg.
    *
    * This is the standard distributed-CC shape (the driver only
    * coordinates rounds and reads one `changed` counter — all data stays
    * executor-side). Dedup components are near-cliques, so 2-3 rounds in
    * practice; every 5th round cuts lineage with an eager localCheckpoint
    * so a long-chain component can't grow the plan (and optimizer time)
    * linearly with rounds. At 100 TB, additionally switch to large-star /
    * small-star if components with long chains dominate.
    *
    * The loop's shape comes from the graph's PLANNED size, not the
    * session's shuffle partitions: every round's frames are bounded by
    * the dup graph (|V| ≤ 2|E| rows of two longs), orders of magnitude
    * smaller than the corpus the session is tuned for — at sf0.1 the
    * rounds over a 256-edge graph once spent their entire ~1.5-2.5 s on
    * near-empty 32-task stages. A graph that fits one split (the size
    * rule, [[org.apache.spark.sql.graft.OnePartition]]) runs every
    * round as one task with no exchange; a larger one keeps its
    * partitioning and AQE sizes the round shuffles.
    *
    * Input: undirected edges (src, dst), one row per pair.
    * Output: (id, lbl) — lbl = min vertex id of the component. */
  def connectedComponents(
      edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // one partition when the graph fits one split (the size rule):
    // every frame in the loop then descends from a one-partition input
    // and plans no exchange; a larger graph keeps its partitioning
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(lvl)
    // `cached` is the persisted frame backing the current `labels` view;
    // each round fully materializes the new frame (the changed-count scan
    // touches every partition) BEFORE the previous one is unpersisted, so
    // lineage never re-runs earlier rounds. Seeding with min(self,
    // direct neighbors) instead of self alone saves one full round on
    // near-clique components (the common dedup shape).
    var cached = sym.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("lbl")).persist(lvl)
    var labels = cached
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym.join(labels, col("dst") === col("id"))
        .groupBy("src").agg(min("lbl").as("nmin"))
      val nextPlan = labels.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("lbl"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("nlbl"))
      // every 5th round: eager localCheckpoint instead of persist — same
      // materialization point, but the lineage (and plan depth) resets.
      // CAUTION: unpersist() on a localCheckpointed frame deletes its
      // ONLY copy (lineage is truncated — the data is unrecoverable).
      // The `prev.unpersist()` below is safe ONLY because the successor
      // frame is fully materialized (the changed-count scan touches
      // every partition) before prev is released; do not reorder.
      val next =
        if (iter % 5 == 4) nextPlan.localCheckpoint() else nextPlan.persist(lvl)
      converged = next.filter(col("nlbl") < col("lbl")).count() == 0
      val prev = cached
      cached = next
      labels = next.select(col("id"), col("nlbl").as("lbl"))
      prev.unpersist()
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    // Materialize the result free of the loop's persisted lineage, then
    // release the loop caches — without this, `sym` and the final round's
    // frame stayed persisted for the life of the session. localCheckpoint
    // blocks are reclaimed by the ContextCleaner once the returned frame
    // is unreferenced.
    val out = labels.localCheckpoint()
    sym.unpersist()
    cached.unpersist()
    out
  }

  val defs: Seq[QueryDef] = Seq(

    // ── exact dedup: hash-groupBy on content, earliest doc_id survives
    QueryDef(
      "q40_dedup_exact",
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // keep-first = min(struct(doc_id, ...)) keyed on the content hash:
      // partial-aggregates map-side (the reduce buffer holds ONE survivor
      // per hash), where a window rank would shuffle and sort every
      // duplicate row — the difference that matters when one boilerplate
      // doc repeats a billion times at corpus scale
      T(s, dir, "documents")
        .groupBy(md5(encode(col("text"), "UTF-8")).as("h"))
        .agg(min(struct(col("doc_id"), col("lang"), col("source"))).as("m"))
        .select(col("m.doc_id").as("doc_id"), col("m.lang").as("lang"),
          col("m.source").as("source"))
        .orderBy("doc_id")
    },

    // ── MinHash signatures (k=8, md5-based → oracle-exact integers)
    QueryDef(
      "q41_minhash_sig",
      oracleSig +
        "\nSELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7 FROM m ORDER BY doc_id") {
      (s, dir) => signatures(s, dir).orderBy("doc_id")
    },

    // ── exact n-gram Jaccard near-dup pairs (threshold 0.5, decided by
    //    the integer test 3c >= n_i+n_j — no float in the cut)
    QueryDef(
      "q42_jaccard_pairs",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) AS s
        |  FROM w WHERE len(ws) >= 3),
        |p AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |  len(list_intersect(a.s, b.s)) AS c,
        |  len(a.s) AS na, len(b.s) AS nb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_i, doc_j, CAST(c AS BIGINT) AS n_common,
        |  CAST(na AS INTEGER) AS n_i, CAST(nb AS INTEGER) AS n_j,
        |  round(c * 1.0 / (na + nb - c), 4) AS jaccard
        |FROM p WHERE 3*c >= na + nb ORDER BY doc_i, doc_j""".stripMargin) {
      (s, dir) => jaccardPairs(s, dir).orderBy("doc_i", "doc_j")
    },

    // ── MinHash-LSH: 4 bands × 2 rows → banded equality join → candidate
    //    pairs, with shared-band and equal-minhash counts (all integers)
    QueryDef(
      "q44_lsh_candidates",
      oracleSig +
        """
          |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
          |  CAST((a.mh0=b.mh0 AND a.mh1=b.mh1)::INT + (a.mh2=b.mh2 AND a.mh3=b.mh3)::INT
          |     + (a.mh4=b.mh4 AND a.mh5=b.mh5)::INT + (a.mh6=b.mh6 AND a.mh7=b.mh7)::INT
          |    AS INTEGER) AS bands_shared,
          |  CAST((a.mh0=b.mh0)::INT + (a.mh1=b.mh1)::INT + (a.mh2=b.mh2)::INT
          |     + (a.mh3=b.mh3)::INT + (a.mh4=b.mh4)::INT + (a.mh5=b.mh5)::INT
          |     + (a.mh6=b.mh6)::INT + (a.mh7=b.mh7)::INT AS INTEGER) AS n_eq
          |FROM m a JOIN m b ON a.doc_id < b.doc_id
          |WHERE (a.mh0=b.mh0 AND a.mh1=b.mh1) OR (a.mh2=b.mh2 AND a.mh3=b.mh3)
          |   OR (a.mh4=b.mh4 AND a.mh5=b.mh5) OR (a.mh6=b.mh6 AND a.mh7=b.mh7)
          |ORDER BY doc_i, doc_j""".stripMargin) { (s, dir) =>
      val sig = signatures(s, dir) // shared persisted cache (also q41)
      val cand = lshCandidatePairs(s, dir)
      val a = sig.toDF(sig.columns.toIndexedSeq.map(c => s"a_$c"): _*)
      val b = sig.toDF(sig.columns.toIndexedSeq.map(c => s"b_$c"): _*)
      def eq(k: Int): Column =
        when(col(s"a_mh$k") === col(s"b_mh$k"), 1).otherwise(0)
      def bandEq(k: Int): Column =
        when(col(s"a_mh${2 * k}") === col(s"b_mh${2 * k}")
          && col(s"a_mh${2 * k + 1}") === col(s"b_mh${2 * k + 1}"), 1).otherwise(0)
      cand
        .join(a, col("doc_i") === col("a_doc_id"))
        .join(b, col("doc_j") === col("b_doc_id"))
        .select(col("doc_i"), col("doc_j"),
          (0 until 4).map(bandEq).reduce(_ + _).cast("int").as("bands_shared"),
          (0 until 8).map(eq).reduce(_ + _).cast("int").as("n_eq"))
        .orderBy("doc_i", "doc_j")
    },

    // ── SimHash (60-bit, md5-window over shingles) + banded hamming
    //    pairs. 8 bands of 8 bits ⇒ every pair with hamming ≤ 7 shares an
    //    exact band — equality-join recall is total at the threshold. The
    //    per-shingle hash is the same engine-portable md5 window MinHash
    //    uses, so the whole query is hash-verified against DuckDB (the
    //    earlier xxhash64 variant had no DuckDB twin → rows-only).
    QueryDef(
      "q43_simhash_pairs",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) AS s
        |  FROM w WHERE len(ws) >= 3),
        |hs AS (SELECT doc_id, [('0x'||substr(md5(x),1,15))::BIGINT for x in s] AS h FROM sh),
        |sim AS (SELECT doc_id,
        |  CAST(list_sum([CASE WHEN 2*len(list_filter(h, x -> (x >> b) & 1 = 1)) > len(h)
        |            THEN (1::BIGINT << b) ELSE 0 END for b in range(0,60)]) AS BIGINT) AS simhash
        |  FROM hs)
        |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
        |ORDER BY doc_i, doc_j""".stripMargin) { (s, dir) =>
      // shuffle-free signature: one narrow map per doc. The bit-majority
      // fold is the native codegen'd plans.SimHash64 (the interpreted
      // aggregate/zip_with form allocated a 64-long array per shingle —
      // 47s at sf0.1; this is sub-second). Same Charikar construction;
      // 60-bit input hashes leave bits 60-63 at majority-of-zeros = 0 on
      // both engines.
      val sim = CacheRegistry.cached(s, s"simhash:$dir") {
        docShingles(s, dir)
          .select(col("doc_id"),
            graft.plans.SimHash64.simhash64(
              transform(col("sh"), x => graft.plans.HexWindowToLong.hexWindow(
                md5(encode(x, "UTF-8")), 1))).as("simhash"))
      }
      val bands = sim.select(col("doc_id"), col("simhash"), explode(array(
        (0 until 8).map(k => struct(lit(k).as("band"),
          shiftright(col("simhash"), 8 * k).bitwiseAND(0xFF).as("bv"))): _*
      )).as("bd")).select(col("doc_id"), col("simhash"), col("bd.band"), col("bd.bv"))
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
          col("a.simhash").as("sim_i"), col("b.simhash").as("sim_j"))
        .distinct()
        .withColumn("hamming",
          bit_count(col("sim_i").bitwiseXOR(col("sim_j"))))
        .filter(col("hamming") <= 7)
        .select("doc_i", "doc_j", "hamming")
        .orderBy("doc_i", "doc_j")
    },

    // ── embedding-cosine near-dup pairs (threshold 0.45). Both sides
    //    compute dot/norms in double with identical left-to-right element
    //    order, so the threshold cut sees the same values.
    QueryDef(
      "q45_embed_near_dup",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
        |p AS (SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
        |  list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v)+1)])
        |    / (a.nrm * b.nrm) AS cos_sim
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT vec_i, vec_j, round(cos_sim, 4) AS cos_sim FROM p
        |WHERE cos_sim >= 0.45 ORDER BY vec_i, vec_j""".stripMargin) { (s, dir) =>
      // distributed block-kernel instead of the 22s-at-sf0.1 declarative
      // cross-join; numerically identical (see VectorKernel). Reads the
      // shared normalized-embedding cache (kernel re-derives norms from
      // the raw vectors; values are identical either way).
      VectorKernel.nearDupPairs(Similarity.vectors(s, dir), 0.45)
    },

    // ── duplicate clustering: the step after pair generation in a real
    //    dedup pipeline — group verified near-dup pairs (q42 edges) into
    //    connected components and pick the min doc_id as the canonical
    //    representative. Spark side: distributed min-label propagation
    //    (see connectedComponents); oracle: recursive-CTE transitive
    //    closure (fine at oracle scale, engine-independent).
    QueryDef(
      "q89_dup_clusters",
      // built from the ONE shared CC oracle (oracleCc) like the other
      // four dupClusters consumers — a single definition to drift, not
      // an inline twin pinned only empirically (r11 ADVICE).
      oracleCc +
        """
          |SELECT doc_id, cl AS cluster_id, (cl = doc_id) AS is_canonical
          |FROM lbl ORDER BY doc_id""".stripMargin) { (s, dir) =>
      dupClusters(s, dir)
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
          (col("lbl") === col("id")).as("is_canonical"))
        .orderBy("doc_id")
    },

    // ── train/test decontamination: for every TEST doc (q88's md5-bucket
    //    split), how many of its 3-gram shingles also occur anywhere in
    //    TRAIN — the eval-hygiene scan every training pipeline runs
    //    before publishing a split. Shape: distinct train-shingle set
    //    joined to exploded test shingles — one equality shuffle join on
    //    shingle (same scale posture as the q42 count-join; the train
    //    side dedups to the vocabulary first, so hot shingles appear
    //    once, not df times).
    QueryDef(
      "q92_decontam",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) AS s
        |  FROM w WHERE len(ws) >= 3),
        |b AS (SELECT doc_id, s,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bk
        |  FROM sh),
        |tr AS (SELECT DISTINCT unnest(s) AS tok FROM b WHERE bk < 80),
        |te AS (SELECT doc_id, len(s) AS n_shingles, unnest(s) AS tok
        |       FROM b WHERE bk >= 90)
        |SELECT doc_id, CAST(n_shingles AS INTEGER) AS n_shingles,
        |  CAST(count(*) AS BIGINT) AS n_overlap,
        |  round(count(*) * 1.0 / n_shingles, 4) AS contamination
        |FROM te JOIN tr USING (tok)
        |GROUP BY doc_id, n_shingles ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bucket = graft.plans.HexWindowToLong.md5Bucket(col("doc_id"), 100)
      val withSplit = docShingles(s, dir).withColumn("bk", bucket)
      val train = withSplit.filter(col("bk") < 80)
        .select(explode(col("sh")).as("tok")).distinct()
      val test = withSplit.filter(col("bk") >= 90)
        .select(col("doc_id"), size(col("sh")).as("n_shingles"),
          explode(col("sh")).as("tok"))
      test.join(train, "tok")
        .groupBy("doc_id", "n_shingles")
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
          round(col("n_overlap") / col("n_shingles"), 4).as("contamination"))
        .orderBy("doc_id")
    },

    // ── contamination provenance: q92 tells you WHICH test docs leak;
    //    this names the train doc RESPONSIBLE — per contaminated test
    //    doc, the train doc sharing the most 3-gram shingles (min
    //    train id tiebreak), with the shared count in basis points of
    //    the test doc's shingles. The report an eval-hygiene triage
    //    actually files a bug against. Shape: the postings join is
    //    keyed by shingle like q92's, but pair-level provenance cannot
    //    dedup the train side to a vocabulary — per-shingle cost is
    //    df_train·df_test, so at 100 TB the q42 rare-shingle prefix
    //    discipline applies (hot boilerplate shingles carry no
    //    provenance signal and would be prefix-filtered out); at the
    //    audit scales this runs at, the exact join is the right tool.
    //    The two-level argmax is a map-side-combinable min(struct) —
    //    per-(test,train) counts, then one buffer entry per test doc.
    QueryDef(
      "q176_contam_provenance",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) AS s
        |  FROM w WHERE len(ws) >= 3),
        |b AS (SELECT doc_id, s,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bk
        |  FROM sh),
        |tr AS (SELECT doc_id AS train_doc, unnest(s) AS tok FROM b WHERE bk < 80),
        |te AS (SELECT doc_id, len(s) AS n_shingles, unnest(s) AS tok
        |       FROM b WHERE bk >= 90),
        |pc AS (SELECT te.doc_id, te.n_shingles, tr.train_doc,
        |         count(*) AS n_shared
        |       FROM te JOIN tr USING (tok) GROUP BY 1, 2, 3),
        |rk AS (SELECT doc_id, n_shingles, train_doc, n_shared,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY n_shared DESC, train_doc) AS rn FROM pc)
        |SELECT doc_id, CAST(n_shingles AS INTEGER) AS n_shingles,
        |  train_doc AS top_train_doc, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(n_shared * 10000 // n_shingles AS BIGINT) AS contamination_bp
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bucket = graft.plans.HexWindowToLong.md5Bucket(col("doc_id"), 100)
      val withSplit = docShingles(s, dir).withColumn("bk", bucket)
      val train = withSplit.filter(col("bk") < 80)
        .select(col("doc_id").as("train_doc"), explode(col("sh")).as("tok"))
      val test = withSplit.filter(col("bk") >= 90)
        .select(col("doc_id"), size(col("sh")).as("n_shingles"),
          explode(col("sh")).as("tok"))
      test.join(train, "tok")
        .groupBy(col("doc_id"), col("n_shingles"), col("train_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .groupBy("doc_id", "n_shingles")
        .agg(min(struct((-col("n_shared")).as("neg"),
          col("train_doc").as("t"))).as("m"))
        .select(col("doc_id"), col("n_shingles"),
          col("m.t").as("top_train_doc"), (-col("m.neg")).as("n_shared"),
          expr("(-m.neg) * 10000 div n_shingles").as("contamination_bp"))
        .orderBy("doc_id")
    },

    // ── LSH quality audit, production form: exact PRECISION over the
    //    FULL candidate set plus RECALL estimated over a deterministic
    //    per-source quota sample (quota 50 — q144's machinery with a 4×
    //    budget; reruns and appends never swap picks). The r9 form
    //    computed truth over the whole corpus — Σ C(df,2) pair rows by
    //    definition, the one audit shape that cannot run recurrently at
    //    100 TB (112 s in the r9 driver bench; the #1 gate liability).
    //    Since r17 both legs READ the pipeline's exact verified pair
    //    set (the jaccard-pairs cache) instead of re-verifying: the
    //    audit runs beside the dedup pipeline that computes those edges
    //    anyway, so truth = pair-set ∩ sample² (two broadcast semi
    //    joins) and per-candidate verification = one membership join —
    //    no second count-join, no per-pair array_intersect. Identical
    //    values by the containment argument in the body. At sf0.001 the
    //    quota covers the whole corpus, so the full-audit semantics are
    //    still pinned by spec. Zero-guards as in q144: an empty
    //    truth/candidate set yields NULL rates, not a division blow-up.
    QueryDef(
      "q117_lsh_recall",
      lshRecallOracle) { (s, dir) =>
      // Truth and per-candidate verification both come from the
      // pipeline's OWN exact pair set (the jaccard-pairs cache q42
      // publishes and the cluster chain consumes) instead of being
      // recomputed here — the r16 verdict's ask #1 cut. Soundness: a
      // true pair (3c ≥ na+nb) always shares ≥1 shingle (c ≥ 1) and
      // always passes the length-ratio prefilter (3c ≥ na+nb with
      // c ≤ min(na,nb) forces max ≤ 2·min), so the exact pair set
      // contains EVERY true pair — sample truth is its restriction to
      // in-sample endpoints, and a candidate is true iff it appears in
      // it. The audit this models runs beside the dedup pipeline whose
      // verified edges exist anyway; a STANDALONE audit (no dedup run)
      // would instead verify candidates directly against the shingle
      // arrays — that form is what [[prefixVerifyPairs]] keeps. The
      // audit math itself is [[lshAuditPlan]], shared verbatim with
      // q188 (one replay of the math gates both). Since r21 both pair
      // caches read THROUGH the on-disk audit store, so this query's
      // first touch IS the 14-job store build + serve (the r20 chain
      // rebuild scheduled 21) and q188's serve rides the warm memo.
      lshAuditPlan(quotaSample(s, dir, 50),
        jaccardPairs(s, dir).select("doc_i", "doc_j"),
        lshCandidatePairs(s, dir))
    },

    // ── SAMPLED LSH quality audit, small-budget form: BOTH sides of the
    //    audit restricted to a deterministic per-source quota sample
    //    (quota 12 — a 4× smaller budget than q117's recall side), so
    //    the exact-truth join costs O(sample²) REGARDLESS of corpus
    //    size and even the precision estimate is sample-bounded (q117
    //    instead verifies the FULL candidate set). The candidate side is
    //    the production LSH pair set itself (the thing under audit),
    //    restricted to in-sample endpoints by two broadcast semi joins.
    //    Estimator variance shrinks as the quota grows — the quota IS
    //    the audit budget knob; convergence toward the full audit is
    //    pinned in SearchSpec. Zero-guards: an unlucky sample with no
    //    truth/candidate pairs yields NULL rates, not a division
    //    blow-up (identical CASE on both engines).
    QueryDef(
      "q144_lsh_recall_sampled",
      oracleSig +
        """,
          |smp AS (SELECT doc_id FROM (SELECT doc_id,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          |  FROM documents) WHERE rn <= 12),
          |ssh AS (SELECT sh.doc_id, sh.s FROM sh JOIN smp USING (doc_id)),
          |p AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
          |  len(list_intersect(a.s, b.s)) AS c, len(a.s) AS na, len(b.s) AS nb
          |  FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id),
          |tr AS (SELECT doc_i, doc_j FROM p WHERE 3*c >= na + nb),
          |cd AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
          |  FROM m a JOIN m b ON a.doc_id < b.doc_id
          |  WHERE (a.mh0=b.mh0 AND a.mh1=b.mh1) OR (a.mh2=b.mh2 AND a.mh3=b.mh3)
          |     OR (a.mh4=b.mh4 AND a.mh5=b.mh5) OR (a.mh6=b.mh6 AND a.mh7=b.mh7)),
          |scd AS (SELECT cd.doc_i, cd.doc_j FROM cd
          |  JOIN smp si ON si.doc_id = cd.doc_i
          |  JOIN smp sj ON sj.doc_id = cd.doc_j),
          |hit AS (SELECT count(*) AS n_hit FROM tr JOIN scd USING (doc_i, doc_j))
          |SELECT CAST((SELECT count(*) FROM tr) AS INTEGER) AS n_truth,
          |  CAST((SELECT count(*) FROM scd) AS INTEGER) AS n_cand,
          |  CAST(n_hit AS INTEGER) AS n_hit,
          |  CASE WHEN (SELECT count(*) FROM tr) = 0 THEN NULL ELSE
          |    CAST(floor(n_hit * 10000.0 / (SELECT count(*) FROM tr)) AS BIGINT)
          |  END AS recall_bp,
          |  CASE WHEN (SELECT count(*) FROM scd) = 0 THEN NULL ELSE
          |    CAST(floor(n_hit * 10000.0 / (SELECT count(*) FROM scd)) AS BIGINT)
          |  END AS precision_bp
          |FROM hit""".stripMargin) { (s, dir) =>
      // three consumers below (truth join + two semi-join restrictions)
      // — registry-persisted so the per-source rank window runs once
      val ids = quotaSample(s, dir, 12)
      // exact truth over the SAMPLE only — the count-join shape of q42,
      // but its input is budget-bounded, so the df-amplification branch
      // is unnecessary: worst case is the sample's own all-pairs
      val sampledDocs = docShingles(s, dir).join(broadcast(ids), "doc_id")
      val truth = countJoinPairs(sampledDocs)
        .select(col("doc_i"), col("doc_j"), lit(1).as("in_t"))
      // the audited candidate set is the PRODUCTION pair set, restricted
      // to pairs whose both endpoints were sampled
      val cand = lshCandidatePairs(s, dir)
        .join(broadcast(ids.select(col("doc_id").as("doc_i"))),
          Seq("doc_i"), "left_semi")
        .join(broadcast(ids.select(col("doc_id").as("doc_j"))),
          Seq("doc_j"), "left_semi")
        .select(col("doc_i"), col("doc_j"), lit(1).as("in_c"))
      truth.join(cand, Seq("doc_i", "doc_j"), "full")
        .agg(count(col("in_t")).as("n_truth"),
          count(col("in_c")).as("n_cand"),
          count(when(col("in_t") === 1 && col("in_c") === 1, 1)).as("n_hit"))
        .select(col("n_truth").cast("int").as("n_truth"),
          col("n_cand").cast("int").as("n_cand"),
          col("n_hit").cast("int").as("n_hit"),
          when(col("n_truth") === 0, lit(null).cast("long"))
            .otherwise(floor(col("n_hit") * 10000.0 / col("n_truth")))
            .as("recall_bp"),
          when(col("n_cand") === 0, lit(null).cast("long"))
            .otherwise(floor(col("n_hit") * 10000.0 / col("n_cand")))
            .as("precision_bp"))
    },

    // ── winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    //    sketch): per doc, hash every POSITIONAL 3-gram (k=3), slide a
    //    window of w=4 consecutive hashes, keep each window's minimum —
    //    any shared token run of length ≥ k+w-1 = 6 between two docs is
    //    GUARANTEED to surface as a shared fingerprint. This is the
    //    LOCAL (substring-level) near-dup detector — complementary to
    //    MinHash, which sketches global set overlap and misses a copied
    //    paragraph inside two otherwise-different docs. Report = doc
    //    pairs sharing ≥2 fingerprints. Scale shape: the sketch is a
    //    narrow per-doc map (fingerprints ≈ 2/(w+1) of the grams); the
    //    pair join is KEYED BY FINGERPRINT with per-key cost C(df,2) —
    //    on an open-web corpus, frequency-cap the boilerplate
    //    fingerprints first (the q133 hot-gram discipline) to bound df.
    //    Docs under 6 tokens have no full window and are skipped — the
    //    global MinHash path (q41/q44) covers them. Integer-exact end to
    //    end: md5-window hashes, counts, no floats anywhere.
    QueryDef(
      "q146_winnow_pairs",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  [('0x'||substr(md5(array_to_string(ws[i:i+2],' ')),1,15))::BIGINT
        |   for i in range(1, len(ws)-1)] AS hs
        |  FROM w WHERE len(ws) >= 6),
        |f AS (SELECT doc_id, list_distinct([list_min(hs[j:j+3])
        |        for j in range(1, len(hs)-2)]) AS fps FROM g),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |p AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |        CAST(count(*) AS BIGINT) AS n_shared
        |      FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_i, doc_j, n_shared FROM p
        |WHERE n_shared >= 2 ORDER BY doc_i, doc_j""".stripMargin) { (s, dir) =>
      // both sides of the pair self-join read the fingerprint frame —
      // registry-persisted so the sketch map runs once per session
      val fps = CacheRegistry.cached(s, s"winnow-fp:$dir") {
        winnowFingerprints(
          T(s, dir, "documents").select(col("doc_id"), col("text")))
      }
      fps.as("a")
        .join(fps.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("doc_i", "doc_j")
    },

    // ── incremental ingest dedup: the shape a crawler actually runs —
    //    match ONLY the new batch (md5 gate ≥ 95, ~5% of docs) against
    //    the existing corpus's MinHash signatures and admit/reject each
    //    new doc by whether it shares an LSH band with any resident doc.
    //    Join cost is |new| × band-collisions, never corpus² and never
    //    corpus×corpus re-pairing: the resident signature store (9
    //    columns/doc, ~100× smaller than text) is the only standing
    //    state, exactly what a 100 TB dedup service keeps hot, and the
    //    band join partitions by (band, band-value) at any scale. The
    //    oracle is the quadratic OR-of-bands reference join — same
    //    candidate predicate, naive plan — so hash-equality proves the
    //    banded equality join loses nothing. IngestDedupSpec
    //    additionally pins consistency with the full-corpus pair set.
    QueryDef(
      "q156_incremental_dedup",
      incrementalDedupOracle) { (s, dir) =>
      val gate = graft.plans.HexWindowToLong.md5Bucket(col("doc_id"), 100)
      val sig = signatures(s, dir) // shared persisted cache
      ingestVerdicts(bandsOf(sig.filter(gate >= 95)),
        bandsOf(sig.filter(gate < 95)))
    },

    // ── incremental dedup served from the ON-DISK signature store:
    //    q156's exact verdicts, with the resident side read off the
    //    band-partitioned parquet store dedupIndexWrite lays out
    //    instead of a registry cache — the persistence story a real
    //    corpus pipeline needs (the resident signature set outlives
    //    the JVM; "recompute or keep the session alive" stops being
    //    the contract). The store is built ONCE per corpus dir (this
    //    query's timed section absorbs the build — the q182 disk
    //    analogue of cache-build absorption); the serve is the same
    //    banded equality join, |new| × collisions, with tombstones
    //    subtracted and the manifest gating the banding geometry.
    //    SAME oracle as q156 — the driver's DuckDB gate checks the
    //    disk path end to end, not just its specs (DedupIndexSpec
    //    pins q156-parity, append ≡ rebuild, and the layout).
    QueryDef(
      "q184_disk_incremental_dedup",
      incrementalDedupOracle) { (s, dir) =>
      val gate = graft.plans.HexWindowToLong.md5Bucket(col("doc_id"), 100)
      dedupIndexServeBands(
        bandsOf(signatures(s, dir).filter(gate >= 95)),
        diskDedupDir(s, dir))
    },

    // ── q117's audit served OFF THE ON-DISK PAIR STORE (r19 verdict
    //    ask #1): the verified pair set and the LSH candidate set are
    //    the last large resident retrieval state that was rebuilt from
    //    scratch every session — a 21-job sequential cache chain
    //    (shingles → signatures → bands → candidates → verified
    //    jaccard pairs) on every first touch, the repo's largest
    //    remaining storm exposure after the r19 disk-trio cut. This
    //    query reads BOTH sets off the bucket-partitioned parquet
    //    store [[auditStoreWrite]] lays out (built once per corpus —
    //    the q184 memo discipline; since r21 the pair caches read
    //    through the store too, so in sorted bench order q117 absorbs
    //    the build and THIS query is the pure serve: memo hit + two
    //    pruned bucket scans) and runs the SAME audit math
    //    ([[lshAuditPlan]] — shared function, not a copy). SAME oracle
    //    as q117, verbatim
    //    (the standing splice discipline): one DuckDB replay of the
    //    sample/truth/candidate math gates the in-memory chain AND the
    //    disk path end to end. AuditStoreSpec pins store-fed ≡
    //    recompute, append ≡ rebuild, takedown and compact semantics.
    QueryDef(
      "q188_disk_lsh_audit",
      lshRecallOracle) { (s, dir) =>
      val sd = diskAuditDir(s, dir)
      lshAuditPlan(quotaSample(s, dir, 50),
        residentAuditPairs(s, sd).select("doc_i", "doc_j"),
        residentAuditCands(s, sd).select("doc_i", "doc_j"))
    }
  )

  /** The LSH-audit oracle, shared VERBATIM by q117 (both pair sets
    * from the registry caches) and q188 (both read off the on-disk
    * audit store): the two paths are spec-pinned result-identical
    * (AuditStoreSpec), so one DuckDB replay of the math — per-source
    * quota sample, exact sample truth, OR-of-bands candidates, full
    * precision/recall rates — gates both. */
  // lazy: referenced while `defs` initializes, defined after it (the
  // incrementalDedupOracle rule)
  private lazy val lshRecallOracle: String =
    oracleSig +
      """,
        |smp AS (SELECT doc_id FROM (SELECT doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 50),
        |ssh AS (SELECT sh.doc_id, sh.s FROM sh JOIN smp USING (doc_id)),
        |p AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |  len(list_intersect(a.s, b.s)) AS c, len(a.s) AS na, len(b.s) AS nb
        |  FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id),
        |tr AS (SELECT doc_i, doc_j FROM p WHERE 3*c >= na + nb),
        |cd AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
        |  FROM m a JOIN m b ON a.doc_id < b.doc_id
        |  WHERE (a.mh0=b.mh0 AND a.mh1=b.mh1) OR (a.mh2=b.mh2 AND a.mh3=b.mh3)
        |     OR (a.mh4=b.mh4 AND a.mh5=b.mh5) OR (a.mh6=b.mh6 AND a.mh7=b.mh7)),
        |cv AS (SELECT cd.doc_i, cd.doc_j,
        |  len(list_intersect(sa.s, sb.s)) AS c, len(sa.s) AS na, len(sb.s) AS nb
        |  FROM cd JOIN sh sa ON sa.doc_id = cd.doc_i
        |          JOIN sh sb ON sb.doc_id = cd.doc_j),
        |tp AS (SELECT count(*) AS n_true FROM cv WHERE 3*c >= na + nb),
        |hit AS (SELECT count(*) AS n_hit FROM tr JOIN cd USING (doc_i, doc_j))
        |SELECT CAST((SELECT count(*) FROM tr) AS INTEGER) AS n_truth,
        |  CAST((SELECT count(*) FROM cd) AS INTEGER) AS n_cand,
        |  CAST(hit.n_hit AS INTEGER) AS n_hit,
        |  CASE WHEN (SELECT count(*) FROM tr) = 0 THEN NULL ELSE
        |    CAST(floor(hit.n_hit * 10000.0 / (SELECT count(*) FROM tr))
        |      AS BIGINT) END AS recall_bp,
        |  CASE WHEN (SELECT count(*) FROM cd) = 0 THEN NULL ELSE
        |    CAST(floor(tp.n_true * 10000.0 / (SELECT count(*) FROM cd))
        |      AS BIGINT) END AS precision_bp
        |FROM hit, tp""".stripMargin

  /** THE LSH-quality audit: exact precision over the full candidate
    * set + recall over the in-sample truth restriction, as one
    * full-outer membership join and one global aggregate. `ids` is the
    * deterministic quota sample (one `doc_id` column), `pairs` the
    * VERIFIED pair set (doc_i, doc_j — every true pair, by the
    * containment argument at q117), `cand` the LSH candidate set
    * (doc_i, doc_j). Factored so the in-memory chain (q117) and the
    * on-disk store serve (q188) run ONE set of audit math that cannot
    * drift — the [[ingestVerdicts]] rule applied to the audit. Scale
    * shape: two broadcast semi joins restrict truth to the sample, the
    * membership join keys on (doc_i, doc_j) — the pair sets' natural
    * key — and the result is one row; nothing here is ever corpus². */
  private[operators] def lshAuditPlan(ids: DataFrame, pairs: DataFrame,
      cand: DataFrame): DataFrame = {
    def sampled(rows: DataFrame, c: String): DataFrame =
      rows.join(ids.select(col("doc_id").as(c)), Seq(c), "left_semi")
    val truth = sampled(sampled(pairs, "doc_i"), "doc_j")
      .select(col("doc_i"), col("doc_j"), lit(1).as("in_t"))
    val candM = cand.join(pairs.select(col("doc_i"), col("doc_j"),
        lit(true).as("verified")), Seq("doc_i", "doc_j"), "left")
      .select(col("doc_i"), col("doc_j"), lit(1).as("in_c"),
        coalesce(col("verified"), lit(false)).as("is_true"))
    truth.join(candM, Seq("doc_i", "doc_j"), "full")
      .agg(count(col("in_t")).as("n_truth"),
        count(col("in_c")).as("n_cand"),
        count(when(col("in_t") === 1 && col("in_c") === 1, 1)).as("n_hit"),
        count(when(col("is_true"), 1)).as("n_true"))
      .select(col("n_truth").cast("int").as("n_truth"),
        col("n_cand").cast("int").as("n_cand"),
        col("n_hit").cast("int").as("n_hit"),
        when(col("n_truth") === 0, lit(null).cast("long"))
          .otherwise(floor(col("n_hit") * 10000.0 / col("n_truth")))
          .as("recall_bp"),
        when(col("n_cand") === 0, lit(null).cast("long"))
          .otherwise(floor(col("n_true") * 10000.0 / col("n_cand")))
          .as("precision_bp"))
  }

  /** The incremental-dedup oracle, shared VERBATIM by q156 (resident
    * side from the registry signature cache) and q184 (resident side
    * read off the on-disk store): the serving paths are spec-pinned
    * result-identical (DedupIndexSpec), so one replay of the math —
    * md5 gate, 4×2 banding, OR-of-bands collision count — gates both. */
  // lazy: referenced while `defs` initializes, defined after it — a
  // strict val here would be null at QueryDef construction
  private lazy val incrementalDedupOracle: String =
    oracleSig +
      """,
        |g AS (SELECT m.*,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 100 AS bk FROM m)
        |SELECT n.doc_id,
        |  CAST(count(DISTINCT o.doc_id) AS INTEGER) AS n_dups,
        |  CASE WHEN count(DISTINCT o.doc_id) > 0 THEN 'reject'
        |       ELSE 'admit' END AS status
        |FROM (SELECT * FROM g WHERE bk >= 95) n
        |LEFT JOIN (SELECT * FROM g WHERE bk < 95) o
        |  ON (n.mh0 = o.mh0 AND n.mh1 = o.mh1)
        |  OR (n.mh2 = o.mh2 AND n.mh3 = o.mh3)
        |  OR (n.mh4 = o.mh4 AND n.mh5 = o.mh5)
        |  OR (n.mh6 = o.mh6 AND n.mh7 = o.mh7)
        |GROUP BY n.doc_id
        |ORDER BY n.doc_id""".stripMargin

  /** The ONE admit/reject verdict join q156 and every disk-serve path
    * run: each new doc LEFT-joined to the resident band view on
    * (band, bv) equality, n_dups = distinct resident collisions.
    * Factored so the in-memory and on-disk serves cannot drift.
    * `neu` is (doc_id, band, bv); `old` any same-shaped frame. */
  private[operators] def ingestVerdicts(neu: DataFrame,
      old: DataFrame): DataFrame = {
    // rename BY NAME, not positional toDF: the disk read's column
    // order (doc_id, bv, band — partition key last) differs from
    // bandsOf's (doc_id, band, bv), and a positional rename would
    // silently join band values against band IDS
    val o = old.select(col("doc_id").as("old_id"),
      col("band").as("old_band"), col("bv").as("old_bv"))
    neu.select(col("doc_id"), col("band"), col("bv"))
      .join(o,
        col("band") === col("old_band") && col("bv") === col("old_bv"),
        "left")
      .groupBy("doc_id")
      .agg(countDistinct(col("old_id")).cast("int").as("n_dups"))
      .select(col("doc_id"), col("n_dups"),
        when(col("n_dups") > 0, "reject").otherwise("admit").as("status"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints (k=3, w=4) of a (doc_id, text) frame →
    * (doc_id, fp) with fp a 60-bit md5-window integer. Guarantee: two
    * docs sharing a token run of length ≥ k+w-1 = 6 share ≥1 fp
    * (WinnowSpec pins it); docs under 6 tokens emit nothing. A narrow
    * per-doc map — no shuffle until the caller joins on fp. The sketch
    * is the native one-pass plans.WinnowFP (bit-equal to the
    * compositional transform/md5/array_min form, property-tested in
    * WinnowSpec — the compositional form's interpreted HOF lambdas cost
    * ~500 s at sf0.1); the repartition spreads the single-file
    * documents scan across cores, same as docShingles. */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 6)
      .select(col("doc_id"),
        explode(graft.plans.WinnowFP.winnowFp(col("ws"))).as("fp"))

  // ───────────────── ON-DISK LSH SIGNATURE STORE ─────────────────
  // The ivfPqIndex lifecycle (Similarity.scala) applied to the text-
  // dedup resident state: before this store, the band-signature set
  // behind q156/ingestDedup lived only in registry caches and
  // streaming state — the one first-class LLM-pipeline component
  // whose 100 TB story was "recompute or keep the JVM alive". The
  // store persists the exploded BAND VIEW (doc_id, bv, band) — 4 rows
  // per doc, ~100× smaller than the text it sketches, exactly the
  // standing state a dedup service keeps hot — partitioned by band:
  // every serve/append shuffles on (band, bv), so the band directory
  // is the natural layout unit (compaction rewrites per band; a
  // band-restricted audit prunes to one directory).

  /** Frozen banding geometry of every store this library writes — the
    * q41/q44/q117/q121/q156 pipeline's one shared banding. Recorded in
    * each store's manifest so a FUTURE geometry change cannot silently
    * serve verdicts computed in a different band space (the text twin
    * of the ANN index's m/subDim guard). */
  private val DedupShingleK = 3
  private val DedupNumHashes = 8
  private val DedupNumBands = 4
  private val DedupRowsPerBand = 2

  /** Declared read schema — `band` is a partition DIRECTORY key: at
    * local scale inference types it INT from the directory names, but
    * the declaration is the contract (the `cell` discipline of
    * [[graft.operators.Similarity]]'s IvfPqEncSchema). */
  private val DedupBandSchema = "doc_id BIGINT, bv STRING, band INT"

  /** The dedup store's [[Stores.StoreLayout]]: band-partitioned
    * signatures (DedupNumBands partitions) with doc_id tombstones and a
    * (doc_id, band) replay check. The geometry manifest, ingest ledger
    * and corpus-version stamp are store-life state. */
  private[graft] val DedupLayout: Stores.StoreLayout = new Stores.StoreLayout(
      "dedupIndex", Seq(Stores.StoreDataset("bands", DedupBandSchema,
        dupKey = Seq("doc_id", "band"))),
      partCol = "band", tombSchema = "doc_id BIGINT",
      tombCols = Seq("doc_id"), statsCount = "n_docs", mainNoun = "band") {
    def partitions(s: SparkSession, dir: String): Int = DedupNumBands
  }

  /** The (doc_id, band, bv) band view of any (`idCol`, `textCol`)
    * frame — [[bandsOf]] over [[signaturesOf]], the shared derivation
    * every store entry point and its parity spec run. */
  private[operators] def bandsOfSignatures(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bandsOf(signaturesOf(docs, idCol, textCol))

  /** Write the resident signature store: `docs` (idCol, textCol) →
    * MinHash bands under `outDir/bands/band=<b>/…`, plus a geometry
    * manifest. Rebuild-safe ([[Stores.StoreLayout.rebuild]]). */
  private[graft] def dedupIndexWrite(docs: DataFrame, outDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    dedupIndexWriteBands(bandsOfSignatures(docs, idCol, textCol), outDir)

  /** [[dedupIndexWrite]] over a precomputed (doc_id, band, bv) band
    * frame — the entry the metered q184 uses so the store build rides
    * the shared registry signature cache instead of re-shingling. */
  private[operators] def dedupIndexWriteBands(bands: DataFrame,
      outDir: String): Unit = {
    val s = bands.sparkSession
    DedupLayout.rebuild(s, outDir) {
    // the manifest is a raw sidecar file (Stores.writeMetaSidecar):
    // every lifecycle op reads it at construction, and as a one-row
    // parquet dataset each read was a full Spark job
    Stores.writeMetaSidecar(s, s"$outDir/manifest", Seq(
      "shingle_k" -> DedupShingleK.toString,
      "n_hashes" -> DedupNumHashes.toString,
      "bands" -> DedupNumBands.toString,
      "rows_per_band" -> DedupRowsPerBand.toString))
    DedupLayout.writeParts(bands.select(col("doc_id"), col("bv"),
      col("band")), DedupNumBands, s"$outDir/bands", "overwrite")
    }
  }

  /** Append a DELTA of docs to an existing store under the frozen
    * geometry (validated against the manifest). Caller contract: delta
    * doc_ids must be NEW — an id already resident would double its
    * band rows and inflate its own collision counts. Spec-pinned:
    * append(old store, delta) serves identically to a full rebuild
    * over old ∪ delta (the banding has no trained state, so unlike the
    * ANN index the equality is exact by construction — the spec guards
    * the LAYOUT path, not a model). */
  private[graft] def dedupIndexAppend(docs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val s = docs.sparkSession
    DedupLayout.append(s, indexDir) { g =>
    checkBandingManifest(s, indexDir)
    DedupLayout.writeParts(bandsOfSignatures(docs, idCol, textCol)
        .select(col("doc_id"), col("bv"), col("band")),
      DedupNumBands, DedupLayout.path(indexDir, "bands", g), "append")
    }
  }

  /** Serve admit/reject verdicts for a NEW batch against the on-disk
    * resident store: q156's exact semantics ([[ingestVerdicts]] — the
    * same join, the same oracle) with the resident side read off disk,
    * tombstones subtracted. Cost is |new| × band-collisions — never
    * corpus², and the resident scan is the 4-rows/doc band view, never
    * the text. */
  private[graft] def dedupIndexServe(newDocs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    dedupIndexServeBands(bandsOfSignatures(newDocs, idCol, textCol),
      indexDir)

  /** [[dedupIndexServe]] over a precomputed new-batch band frame. */
  private[operators] def dedupIndexServeBands(newBands: DataFrame,
      indexDir: String): DataFrame = {
    val s = newBands.sparkSession
    checkBandingManifest(s, indexDir)
    ingestVerdicts(newBands, residentBands(s, indexDir))
  }

  /** The live resident band view at the current generation — the
    * snapshot a serve constructs against ([[Stores.currentGen]]), with
    * the logical-delete set subtracted. */
  private def residentBands(s: SparkSession, indexDir: String): DataFrame =
    DedupLayout.live(s, indexDir, "bands", Stores.currentGen(s, indexDir))
      .select(col("doc_id"), col("band"), col("bv"))

  /** LOGICAL delete ([[Stores.StoreLayout.delete]]): serving subtracts
    * the ids immediately, [[dedupIndexCompact]] reclaims the space. A
    * deleted doc stops matching new batches at zero rewrite cost. */
  private[graft] def dedupIndexDelete(s: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit = DedupLayout.delete(s, indexDir, ids)

  /** FRAME-shaped [[dedupIndexDelete]] (the no-collect takedown path):
    * duplicate and absent ids are forgiven by the serve's anti-join
    * exactly as in the Seq form. */
  private[graft] def dedupIndexDelete(s: SparkSession, indexDir: String,
      ids: DataFrame): Unit = DedupLayout.delete(s, indexDir, ids)

  /** Compact into the NEXT GENERATION ([[Stores.StoreLayout.compact]]):
    * one file per band directory with tombstones applied physically —
    * the repair for the small-files decay appends cause. Crash windows
    * are classified and repaired by [[Stores.dedupIndexFsck]]. */
  private[graft] def dedupIndexCompact(s: SparkSession,
      indexDir: String): Unit = DedupLayout.compact(s, indexDir)

  /** Per-band health report ([[Stores.StoreLayout.stats]]):
    * (band, n_docs, files) — live resident docs and parquet files per
    * band directory (the compaction trigger). */
  private[graft] def dedupIndexStats(s: SparkSession,
      indexDir: String): DataFrame = DedupLayout.stats(s, indexDir)

  /** CONTINUOUS ingestion into the store: each micro-batch of `delta`
    * (idCol, textCol — new ids only) is appended under the frozen
    * geometry, guarded by the batch-id ledger
    * ([[Stores.StoreLayout.ingest]]). This is the crawler loop at
    * 100 TB/day: stream in, appends accrete, compaction amortizes, and
    * the resident state SURVIVES the JVM. */
  private[graft] def dedupIndexIngest(delta: DataFrame, indexDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    checkBandingManifest(delta.sparkSession, indexDir)
    DedupLayout.ingest(delta, indexDir, checkpointDir)(
      dedupIndexAppend(_, indexDir, idCol, textCol))
  }

  /** The store MAINTENANCE POLICY ([[Stores.StoreLayout.maintain]]):
    * per band, (band, n_docs, files, tomb, action). No retrain action:
    * the banding has no trained state to rebalance — band occupancy is
    * fixed at NumBands by construction, which is exactly why the text
    * policy is simpler than the ANN one. */
  private[graft] def dedupIndexMaintain(s: SparkSession,
      indexDir: String, maxFiles: Int = 8, maxTombBp: Long = 2000L,
      execute: Boolean = false): DataFrame =
    DedupLayout.maintain(s, indexDir, maxFiles, maxTombBp, execute)

  /** Validate a dedup or audit store's manifest against this
    * library's frozen banding geometry, plus the audit store's
    * `extra` bucket count — a store written under a DIFFERENT banding
    * would not error on its own: the (band, bv) equality join would
    * simply match almost nothing and admit near-duplicates with full
    * confidence (or mis-prune bucket probes), the silent-wrong failure
    * mode the ANN manifest guard exists for. A directory without a
    * manifest is rejected ([[Stores.readManifest]]). */
  private def checkBandingManifest(s: SparkSession, indexDir: String,
      extra: (String, Int)*): Unit = {
    val m = Stores.readManifest(s, indexDir)
    val fields = Seq("shingle_k" -> DedupShingleK,
      "n_hashes" -> DedupNumHashes, "bands" -> DedupNumBands,
      "rows_per_band" -> DedupRowsPerBand) ++ extra
    val want = fields.map(_._2)
    val got = fields.map { case (k, _) => m(k).toInt }
    require(got == want,
      s"store at $indexDir was written with " +
        s"${fields.map(_._1).mkString("(", ", ", ")")}=" +
        s"${got.mkString("(", ",", ")")} — this library bands with " +
        s"${want.mkString("(", ",", ")")}; a " +
        "mismatched geometry would match candidates from a different " +
        "band space")
  }

  /** Cheap driver-side version key of the corpus behind `dir`: the
    * documents dataset's file listing (name:length:mtime per file,
    * sorted). An in-place corpus overwrite changes it (Spark writes
    * fresh part-file names), so a memo keyed on it detects staleness
    * without any Spark job — the r21 verdict's #1 latent-correctness
    * hazard (the warm-replay trap behind every chain consumer since
    * the store rewiring), closed at the memo instead of documented at
    * every call site. One FS listing per memo consult: driver-side
    * metadata, a few entries at any scale (the corpus dir is a
    * dataset, not a partition tree). */
  private def corpusFingerprint(s: SparkSession, dir: String): String = {
    // the Tables layout: one `documents.parquet` file OR directory
    // under the scale-factor dir (listStatus on a file returns that
    // file's own status — both layouts fingerprint)
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p).map(st =>
      s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  /** Recursively delete an evicted store directory this module
    * created. Only ever called on memo-owned dirs (the memo value is
    * the dir the build itself created), never on caller paths. */
  private def deleteEvictedStore(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try fs.delete(p, true) catch {
      case scala.util.control.NonFatal(_) => () // hygiene, not contract
    }
  }

  /** Registry keys bound to the on-disk AUDIT store: the pair caches
    * read THROUGH it since r21, and dup-cc derives from them. Dropped
    * for the session whenever the store memo evicts a stale store, so
    * no frame can keep scanning a deleted directory (the r21 advice:
    * resetDiskAuditMemo without a registry clear left q117/q42 and
    * q188 silently divergent after an in-place corpus overwrite). */
  private val AuditDependentPrefixes =
    Seq("jaccard-pairs", "lsh-cand", "dup-cc")

  /** The on-disk store behind q184 for the bench inventory — built
    * once per (corpus dir, corpus version) into a
    * [[Stores.storeScratchDir]] directory from the SAME registry
    * signature cache q156 reads (so disk serving is result-identical
    * by construction), resident side = the md5-gate bk < 95 docs.
    * Process memo, not a registry frame (a directory holds no
    * executor memory). Since r22 the memo is keyed on the corpus
    * FINGERPRINT as well as the dir ([[corpusFingerprint]]): an
    * in-place corpus overwrite (after the standing
    * `Tables.invalidate` + `CacheRegistry.clear` discipline) rebuilds
    * the store on next touch and deletes the evicted one, instead of
    * silently serving the old corpus — [[resetDiskDedupMemo]] remains
    * as the explicit hook for ledger derivations (which must replay
    * builds COLD regardless of corpus staleness). */
  private val diskDedupDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def resetDiskDedupMemo(): Unit = diskDedupDirs.clear()

  private[graft] def diskDedupDir(s: SparkSession, dir: String): String = {
    val fp = corpusFingerprint(s, dir)
    val hit = diskDedupDirs.get(dir)
    if (hit != null && hit._1 == fp) hit._2
    else {
      // build OUTSIDE the map bin (r21 advice #4: a multi-job store
      // build inside computeIfAbsent blocks every other key in the
      // bin for the build's duration) — the CacheRegistry
      // probe-then-put discipline; a racing duplicate build is benign
      // (both produce equivalent stores; the loser's dir is deleted)
      val out = Stores.storeScratchDir(s, "graft-dedupidx-q184")
      val gate = graft.plans.HexWindowToLong.md5Bucket(col("doc_id"), 100)
      dedupIndexWriteBands(bandsOf(signatures(s, dir).filter(gate < 95)),
        out)
      val prev = diskDedupDirs.put(dir, (fp, out))
      // a stale store was evicted (corpus overwritten in place, or a
      // racing build lost): delete it — no registry frame binds to
      // the dedup store (serves construct from the dir string), so
      // the delete needs no registry drop here
      if (prev != null && prev._2 != out) deleteEvictedStore(s, prev._2)
      out
    }
  }

  // ──────────────── ON-DISK LSH AUDIT (PAIR) STORE ────────────────
  // The r19 verdict's #1: the verified jaccard pair set and the LSH
  // candidate set — the artifacts the whole decision layer consumes
  // (q117/q144's audit, q89's connected components and its q173/q174/
  // q175/q177 consumers, q121's candidate graph) — were the last large
  // resident retrieval state with no persisted form: every new session
  // rebuilt them through the repo's longest sequential cache chain
  // (21 first-touch jobs). This store persists BOTH sets, bucket-
  // partitioned by doc_i, so a session (or a downstream audit service)
  // reads two pruned parquet scans instead of re-deriving the chain.
  //
  // Layout and 100 TB posture: pair rows are (doc_i < doc_j) with
  // doc_i the min endpoint; `bk = xxhash64(doc_i) mod AuditBuckets`
  // is the partition directory, so a point membership probe ("was
  // (i, j) verified?") prunes to one bucket, writes land one file per
  // bucket per mutation (the small-file discipline of the other three
  // stores), and the sets — |survivors| and |band collisions|, both
  // orders of magnitude below corpus² by LSH's design — spread evenly
  // (doc_i is a hash-mixed id). A doc-level takedown tombstones a DOC
  // id and the serve subtracts pairs on EITHER endpoint: the doc_j
  // side cannot prune (pairs are stored once, under doc_i's bucket),
  // which is the documented trade for single-copy storage — compact
  // applies tombstones physically.
  //
  // NOT a [[Stores.StoreRef]] family member, deliberately: the
  // StoreRef families are DOC stores ([[Stores.appendAll]] derives
  // each family's delta from the doc batch itself). The audit store
  // holds DERIVED pair artifacts — a doc batch's pair delta needs the
  // resident shingle arrays (which live in the dedup pipeline, not
  // here), so appends take the pair/cand deltas the pipeline's own
  // ingest verification produces ([[auditStoreAppend]]). A compliance
  // takedown composes: run [[Stores.takedownAll]] over the doc-store
  // families, then [[auditStoreDelete]] with the same ids frame.

  /** Bucket count of the doc_i hash partitioning. Fixed in the
    * manifest: a future bucket change must rebuild, not mis-prune. */
  private val AuditBuckets = 8

  /** Declared read schemas (`bk` is the partition directory key) —
    * the no-schema-inference discipline ([[DedupBandSchema]]). Types
    * are normalized AT THE WRITER, so both jaccard branches (count
    * long vs size int) land identically. */
  private val AuditPairSchema =
    "doc_i BIGINT, doc_j BIGINT, n_common BIGINT, n_i INT, n_j INT, " +
      "jaccard DOUBLE, bk INT"
  private val AuditCandSchema = "doc_i BIGINT, doc_j BIGINT, bk INT"

  /** The report-only repair of a replayed audit delta. */
  private def auditRepair(from: String): String =
    s"report-only: rebuild from the pipeline's $from (auditStoreWrite), " +
      "or auditStoreDelete the affected docs and compact"

  /** The audit store's [[Stores.StoreLayout]]: the verified pair set
    * and the candidate set, bucket-partitioned by doc_i, with DOC-id
    * tombstones subtracted on EITHER endpoint. One report-only replay
    * check per dataset — a replayed delta double-counts: duplicate
    * candidates skew q188's n_cand/precision exactly the way duplicate
    * pairs skew recall. */
  private[graft] val AuditLayout: Stores.StoreLayout = new Stores.StoreLayout(
      "auditStore", Seq(
        Stores.StoreDataset("pairs", AuditPairSchema, Seq("doc_i", "doc_j"),
          "dup-pairs", "pairs", auditRepair("verified pair set")),
        Stores.StoreDataset("cand", AuditCandSchema, Seq("doc_i", "doc_j"),
          "dup-cands", "candidates", auditRepair("candidate set"))),
      partCol = "bk", tombSchema = "doc_id BIGINT",
      tombCols = Seq("doc_i", "doc_j")) {
    def partitions(s: SparkSession, dir: String): Int = AuditBuckets
  }

  /** One pair dataset's bucket-partitioned write (shared by write /
    * append): type-normalized rows, bucketed, one file per bucket. */
  private def writeAuditSet(rows: DataFrame, path: String,
      mode: String): Unit =
    AuditLayout.writeParts(rows.withColumn("bk",
      pmod(xxhash64(col("doc_i")), lit(AuditBuckets)).cast("int")),
      AuditBuckets, path, mode)

  private def normalizedPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_i").cast("long").as("doc_i"),
      col("doc_j").cast("long").as("doc_j"),
      col("n_common").cast("long").as("n_common"),
      col("n_i").cast("int").as("n_i"), col("n_j").cast("int").as("n_j"),
      col("jaccard").cast("double").as("jaccard"))

  private def normalizedCands(cand: DataFrame): DataFrame =
    cand.select(col("doc_i").cast("long").as("doc_i"),
      col("doc_j").cast("long").as("doc_j"))

  /** Write the audit store: the verified pair set (q42's full rows —
    * endpoints, intersection stats, jaccard) and the LSH candidate set
    * under `outDir/{pairs,cand}/bk=<b>/…`, with the banding-geometry
    * manifest (candidates are only meaningful in the band space that
    * generated them) and a fresh corpus-version stamp. Rebuild-safe
    * ([[Stores.StoreLayout.rebuild]]). */
  private[graft] def auditStoreWrite(pairs: DataFrame, cand: DataFrame,
      outDir: String): Unit = {
    val s = pairs.sparkSession
    AuditLayout.rebuild(s, outDir) {
      Stores.writeMetaSidecar(s, s"$outDir/manifest", Seq(
        "shingle_k" -> DedupShingleK.toString,
        "n_hashes" -> DedupNumHashes.toString,
        "bands" -> DedupNumBands.toString,
        "rows_per_band" -> DedupRowsPerBand.toString,
        "buckets" -> AuditBuckets.toString))
      // the two dataset writes are disjoint artifacts off shared
      // upstream caches (shingles/signatures — concurrent
      // materialization is block-lock-safe) — run them CONCURRENTLY
      // (r22, Stores.inParallel): q117's absorbed build pays one
      // chain's wall instead of both, and the crash window is
      // unchanged (either dataset missing at the current generation
      // is the same fsck "incomplete" verdict + rebuild repair,
      // whichever half landed)
      Stores.inParallel(s)(
        writeAuditSet(normalizedPairs(pairs), s"$outDir/pairs",
          "overwrite"),
        writeAuditSet(normalizedCands(cand), s"$outDir/cand",
          "overwrite"))
    }
  }

  /** Append PAIR/CANDIDATE DELTAS to an existing store — the deltas a
    * dedup pipeline's ingest verification produces for a new doc batch
    * (new-vs-resident and new-vs-new pairs). Caller contract, mirrored
    * from [[dedupIndexAppend]]: delta PAIRS must be new (an already-
    * resident pair would double-count in the audit's membership
    * aggregate — same class as a re-appended doc id there). Either
    * delta may be empty. Append ≡ rebuild is spec-pinned
    * (AuditStoreSpec) — exact by construction, there is no trained
    * state. */
  private[graft] def auditStoreAppend(pairsDelta: DataFrame,
      candDelta: DataFrame, indexDir: String): Unit = {
    val s = pairsDelta.sparkSession
    AuditLayout.append(s, indexDir) { g =>
      checkBandingManifest(s, indexDir, "buckets" -> AuditBuckets)
      writeAuditSet(normalizedPairs(pairsDelta),
        AuditLayout.path(indexDir, "pairs", g), "append")
      writeAuditSet(normalizedCands(candDelta),
        AuditLayout.path(indexDir, "cand", g), "append")
    }
  }

  /** DOC-level logical delete ([[Stores.StoreLayout.delete]]):
    * tombstone the ids; serves subtract every pair touching a
    * tombstoned doc on EITHER endpoint, [[auditStoreCompact]] reclaims
    * the rows. Frame-shaped (the takedown path — ids never cross the
    * driver). */
  private[graft] def auditStoreDelete(s: SparkSession, indexDir: String,
      ids: DataFrame): Unit = AuditLayout.delete(s, indexDir, ids)

  /** Seq form of [[auditStoreDelete]] (operator-sized lists). */
  private[graft] def auditStoreDelete(s: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit = AuditLayout.delete(s, indexDir, ids)

  /** Compact into the next generation ([[Stores.StoreLayout.compact]]):
    * rewrite both live sets with tombstones applied physically —
    * snapshot semantics identical to the other three stores; two
    * back-to-back compacts purge physically. */
  private[graft] def auditStoreCompact(s: SparkSession,
      indexDir: String): Unit = AuditLayout.compact(s, indexDir)

  /** The live verified pair set (tombstones subtracted on both
    * endpoints). Declared read schema; `bk` dropped for consumers. */
  private[graft] def residentAuditPairs(s: SparkSession,
      indexDir: String): DataFrame = {
    checkBandingManifest(s, indexDir, "buckets" -> AuditBuckets)
    AuditLayout.live(s, indexDir, "pairs", Stores.currentGen(s, indexDir))
      .select("doc_i", "doc_j", "n_common", "n_i", "n_j", "jaccard")
  }

  /** The live candidate set (same tombstone semantics). */
  private[graft] def residentAuditCands(s: SparkSession,
      indexDir: String): DataFrame = {
    checkBandingManifest(s, indexDir, "buckets" -> AuditBuckets)
    AuditLayout.live(s, indexDir, "cand", Stores.currentGen(s, indexDir))
      .select("doc_i", "doc_j")
  }

  /** The on-disk audit store behind the whole LSH-audit family — built
    * once per (corpus dir, corpus version) from the chain computations
    * ([[chainJaccardPairs]]/[[chainCandidatePairs]] over the shared
    * shingle/signature caches), shaped by the documents table's planned
    * size (~600 KB at sf0.1 → one partition by the size rule,
    * [[org.apache.spark.sql.graft.OnePartition]]; at 100 TB → the
    * session's full parallelism). Since r21 the
    * registry pair caches ([[jaccardPairs]]/[[lshCandidatePairs]]) read
    * THROUGH this store, so the first chain consumer (q117 in bench
    * order) absorbs the build and q188 serves off two pruned bucket
    * scans.
    *
    * Since r22 the memo is CORPUS-VERSION-KEYED
    * ([[corpusFingerprint]]) and self-healing: an in-place corpus
    * overwrite is detected at the next consult, the session's
    * store-bound registry frames ([[AuditDependentPrefixes]]) are
    * dropped FIRST, then the stale store is rebuilt and the evicted
    * directory deleted — closing both halves of the r21 warm-replay
    * trap (a stale store silently served; /tmp stranding on reset).
    * The staleness hook composes with, not replaces, the standing
    * in-place-rewrite discipline (`Tables.invalidate` +
    * `CacheRegistry.clear` for the OTHER caches derived from the old
    * corpus). [[resetDiskAuditMemo]] stays for ledger derivations,
    * which must replay builds cold on an UNCHANGED corpus — the
    * session-taking overload also drops the dependent registry keys
    * and deletes the evicted stores (the r21 advice pairing, now
    * enforced in one call). Sequential-session caveat unchanged: the
    * registry drop reaches only the session passed in. */
  private val diskAuditDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def resetDiskAuditMemo(): Unit = diskAuditDirs.clear()

  /** [[resetDiskAuditMemo]] + the dependent-registry drop + evicted-
    * store deletion, in the safe order (registry first — a frame must
    * never outlive the directory it scans). */
  private[graft] def resetDiskAuditMemo(s: SparkSession): Unit = {
    AuditDependentPrefixes.foreach(
      graft.CacheRegistry.releaseByPrefix(s, _))
    val dirs = new scala.collection.mutable.ArrayBuffer[String]()
    diskAuditDirs.values().forEach(v => { dirs += v._2; () })
    diskAuditDirs.clear()
    dirs.foreach(deleteEvictedStore(s, _))
  }

  private[graft] def diskAuditDir(s: SparkSession, dir: String): String = {
    val fp = corpusFingerprint(s, dir)
    val hit = diskAuditDirs.get(dir)
    if (hit != null && hit._1 == fp) hit._2
    else {
      // drop the session's store-bound frames BEFORE building: they
      // were constructed over the store about to be evicted, and a
      // consumer landing between the build and a later drop could
      // still scan the deleted directory
      if (hit != null) AuditDependentPrefixes.foreach(
        graft.CacheRegistry.releaseByPrefix(s, _))
      // build OUTSIDE the map bin (r21 advice #4) — the CacheRegistry
      // probe-then-put discipline; a racing duplicate build is benign
      val out = Stores.storeScratchDir(s, "graft-auditidx-q188")
      // the build computes from the CHAIN directly (the registry
      // caches now read through this store — calling them here would
      // recurse)
      auditStoreWrite(chainJaccardPairs(s, dir), chainCandidatePairs(s, dir),
        out)
      val prev = diskAuditDirs.put(dir, (fp, out))
      if (prev != null && prev._2 != out) deleteEvictedStore(s, prev._2)
      out
    }
  }
}
