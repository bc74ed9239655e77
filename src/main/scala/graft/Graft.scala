package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The library facade: the reusable, table-agnostic operators behind the
  * named queries, re-exported under one import for users who bring their
  * OWN DataFrames rather than the driver's test tables.
  *
  * {{{
  * import graft.Graft
  *
  * val labeled  = Graft.kmeans(points, k = 16, iters = 5)       // (id, cl, dist)
  * val clusters = Graft.connectedComponents(dupEdges)           // (id, lbl)
  * val ranks    = Graft.pagerank(edges, iters = 3)              // (id, d, r)
  * val joined   = Graft.asofJoin(trades, quotes, "sym", "t", "qt")
  * val sample   = Graft.ppsSample(docs, "doc_id", "n_chars", 500)
  * val plan     = Graft.compactionPlan(manifest, "part", "path", "bytes", 128L << 20)
  * val spans    = Graft.tokenizeWithOffsets(docs, "doc_id", "text")
  * val smoothed = Graft.ewmaSmooth(eventStream)                 // streaming
  * }}}
  *
  * Everything here follows the repo-wide scale discipline: broadcast the
  * model/small side, key every shuffle, partial-aggregate before the
  * exchange, keep iteration lineage O(1) with eager localCheckpoints.
  * Semantics and plan shapes are pinned by the operator specs
  * (ModelPrepSpec, GraphOpsSpec, StreamingOpsSpec, PlanAuditSpec) and by
  * the DuckDB-oracled queries listed per member.
  */
object Graft {

  /** Require-then-cast for caller-supplied ID columns on the filtered
    * serving facades — the same integral-type guard
    * [[operators.Similarity.asVectors]] applies to the corpus frame:
    * a string or double id would `.cast("long")` to null (or
    * truncate), silently shrinking the allow set to empty and turning
    * a caller type error into an empty result instead of a loud
    * failure. */
  private def integralId(df: DataFrame, c: String, as: String): Column = {
    import org.apache.spark.sql.types._
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(df.schema(c).dataType),
      s"column '$c' must be an integral type — a non-integral id " +
        "casts to null/truncates and silently empties the allow set")
    org.apache.spark.sql.functions.col(c).cast("long").as(as)
  }

  /** Lloyd's k-means over an (id: LONG, v: ARRAY<DOUBLE>) frame; returns
    * (id, cl, dist). Deterministic: seeds = k lowest ids, ties to the
    * lowest cluster, centroids rounded to 6 dp per iteration. Backs
    * q135_kmeans. See [[operators.Similarity.kmeans]]. */
  def kmeans(points: DataFrame, k: Int, iters: Int): DataFrame =
    operators.Similarity.kmeans(points, k, iters)

  /** Connected components over undirected (src, dst) edges via seeded
    * min-label propagation; returns (id, lbl) with lbl = the component's
    * minimum vertex id. Backs q89_dup_clusters. See
    * [[operators.TextDedup.connectedComponents]]. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame =
    operators.TextDedup.connectedComponents(edges, maxIter)

  /** Fixed-point integer PageRank (d = 0.85, scale 1e6) over directed
    * (src, dst) edges — pass both directions for an undirected graph;
    * returns (id, d, r) with the rank in 1e-6 fixed point, so it is
    * bit-reproducible on any engine. Backs q121_pagerank_neardup. See
    * [[operators.GraphOps.pagerank]]. */
  def pagerank(edges: DataFrame, iters: Int): DataFrame =
    operators.GraphOps.pagerank(edges, iters)

  /** As-of join: each left row gets the latest right row with the same
    * key and rTime <= lTime (inner semantics). One shuffle on the key,
    * no range explosion. Backs q67_asof_join (verified against DuckDB's
    * native ASOF JOIN). See [[operators.TimeSeriesJoins.asofJoin]]. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      lTime: String, rTime: String): DataFrame =
    operators.TimeSeriesJoins.asofJoin(left, right, key, lTime, rTime)

  /** Streaming EWMA smoother (α=0.5, window 8, ewm-adjusted weights):
    * the stateful twin of batch q140_ewma_smooth, bit-identical on
    * in-order replays (StreamingOpsSpec). State = 7 doubles per key. */
  def ewmaSmooth(events: org.apache.spark.sql.Dataset[streaming.StreamingOps.Event])
      : org.apache.spark.sql.Dataset[streaming.StreamingOps.SmoothOut] =
    streaming.StreamingOps.ewmaSmooth(events)

  /** Streaming ingest dedup — the stateful twin of batch
    * q156_incremental_dedup: MinHash-signs each arriving doc and emits a
    * BandCollision per LSH band match against residents from STRICTLY
    * EARLIER micro-batches (admit/reject = any collision, q156's rule).
    * State is keyed by band bucket — the batch band join's partitioning.
    * Replay-proven equal to q156 in StreamingOpsSpec. See
    * [[streaming.StreamingOps.ingestDedup]]. */
  def ingestDedup(docs: org.apache.spark.sql.Dataset[streaming.StreamingOps.Doc])
      : org.apache.spark.sql.Dataset[streaming.StreamingOps.BandCollision] =
    streaming.StreamingOps.ingestDedup(docs)

  /** Streaming per-(source, tumbling window) KL drift monitor — the
    * stateful twin of batch q172's drift timeline, scored against a
    * FIXED reference unigram model (the corpus the source was admitted
    * into). Emits one final DriftCell per (source, window) when the
    * watermark passes the window end; state per live key is bounded by
    * |reference| + one OOV counter, independent of stream length.
    * Replay-proven equal to the batch computation in StreamingOpsSpec.
    * See [[streaming.StreamingOps.driftMonitor]]. */
  def driftMonitor(
      docs: org.apache.spark.sql.Dataset[streaming.StreamingOps.TimedDoc],
      reference: Map[String, Long], windowMs: Long = 3600000L,
      lateness: String = "30 minutes")
      : org.apache.spark.sql.Dataset[streaming.StreamingOps.DriftCell] =
    streaming.StreamingOps.driftMonitor(docs, reference, windowMs, lateness)

  /** Gap-based streaming sessionizer with explicit state and event-time
    * timeout — the stateful twin of batch q122_sessionize_gap,
    * session-for-session equal on in-order replays (StreamingOpsSpec).
    * See [[streaming.StreamingOps.sessionize]]. */
  def sessionize(events: org.apache.spark.sql.Dataset[streaming.StreamingOps.Event],
      gapMs: Long = 10 * 60 * 1000L)
      : org.apache.spark.sql.Dataset[streaming.StreamingOps.SessionOut] =
    streaming.StreamingOps.sessionize(events, gapMs)

  /** Per-cluster keep-best verdict — the decision layer after
    * [[connectedComponents]]: every item gets its cluster id (items
    * absent from `labels` keep themselves as singletons), each cluster
    * keeps exactly one member (max `qualityCol`, min `idCol` tiebreak).
    * Returns (`idCol`, cluster_id, cluster_size, keep). The argmax is a
    * map-side-combinable min(struct) — never a per-cluster sort. Backs
    * q173_cluster_rep. See [[operators.TextDedup.clusterVerdict]]. */
  def clusterVerdict(items: DataFrame, labels: DataFrame,
      idCol: String, qualityCol: String): DataFrame =
    operators.TextDedup.clusterVerdict(items, labels, idCol, qualityCol)

  /** Winnowing fingerprints (k=3, w=4 — the MOSS sketch) of a
    * (doc_id, text) frame → (doc_id, fp). Two docs sharing a token run
    * of length ≥ 6 are guaranteed to share a fingerprint; join on fp for
    * substring-level near-dup pairs (global set overlap is MinHash's
    * job). Backs q146_winnow_pairs. See
    * [[operators.TextDedup.winnowFingerprints]]. */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    operators.TextDedup.winnowFingerprints(docs)

  /** Deterministic md5 bucket gate — THE sampling/splitting primitive
    * (q87/q88/q92/q104...): first 15 hex chars of md5(key) as a long,
    * mod `mod`. DuckDB twin documented at the definition. See
    * [[plans.HexWindowToLong.md5Bucket]]. */
  def md5Bucket(key: Column, mod: Int): Column =
    plans.HexWindowToLong.md5Bucket(key, mod)

  /** Deterministic probability-proportional-to-size systematic sample of
    * ≤ `n` rows (selection probability ∝ `weightCol`, no RNG): rows lie
    * on a line in md5(`idCol`) order, a ceil(Σweight/n) grid picks them
    * (a row wider than the step absorbs several grid points, shrinking
    * the sample below `n`). NULL-id rows are excluded up front; the
    * input must not carry the `cum0`/`__`-prefixed working columns
    * (enforced; see operators.Curation.prefixReserved). The
    * global running sum is a two-phase distributed prefix sum — no
    * single-partition pass over the data. Backs q155_pps_sample. See
    * [[operators.Curation.ppsSample]]. */
  def ppsSample(df: DataFrame, idCol: String, weightCol: String,
      n: Int): DataFrame =
    operators.Curation.ppsSample(df, idCol, weightCol, n)

  /** Quality-ranked selection under a weight budget: keeps the
    * (`scoreCol` desc, `idCol`) prefix whose running `weightCol` sum
    * stays under Σweight·`budgetBp`/10000 (the boundary row is kept).
    * `scoreCol` must be an integer score in [0, 10000] basis points.
    * Deterministic, integer arithmetic; the global running sum is a
    * two-phase score-band prefix sum — no single-partition pass. The
    * input must not carry the `cum0`/`__`-prefixed working columns
    * (enforced; see operators.Curation.prefixReserved). Backs
    * q157_budget_select. See
    * [[operators.Curation.budgetSelect]]. */
  def budgetSelect(df: DataFrame, idCol: String, scoreCol: String,
      weightCol: String, budgetBp: Int): DataFrame =
    operators.Curation.budgetSelect(df, idCol, scoreCol, weightCol, budgetBp)

  /** Cumsum-chunked small-file compaction plan: appends `bin` assigning
    * each file row (`partCol`, `orderCol`, `sizeCol`) to a ~`target`-
    * sized rewrite bin; order-preserving, one keyed window shuffle, runs
    * on the manifest. Backs q150_compaction_plan. See
    * [[operators.StorageLayout.compactionPlan]]. */
  def compactionPlan(files: DataFrame, partCol: String, orderCol: String,
      sizeCol: String, target: Long): DataFrame =
    operators.StorageLayout.compactionPlan(
      files, partCol, orderCol, sizeCol, target)

  /** UDTF-style doc expansion: one row per (id, token) with its
    * position and exact [char_start, char_end) character span in the
    * original text — the span-alignment primitive for PII redaction and
    * annotation projection. Narrow posexplode + one id-keyed window; no
    * cross-document shuffle. Backs q169_tokenize_offsets. See
    * [[operators.TextAnalysis.tokenizeWithOffsets]]. */
  def tokenizeWithOffsets(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    operators.TextAnalysis.tokenizeWithOffsets(docs, idCol, textCol)

  /** Stopword-density language vote over any (`idCol`, `textCol`)
    * frame → (`idCol`, stop_ratio 4 dp, predicted "en"/"other"). One
    * narrow map, no shuffle; swap `stops` per language and argmax for
    * a real multi-language classifier with the same plan shape. Backs
    * q50_langid. See [[operators.TextAnalysis.langId]]. */
  def langId(docs: DataFrame, idCol: String, textCol: String,
      stops: Seq[String] = operators.TextAnalysis.stopwords,
      threshold: Double = 0.08): DataFrame =
    operators.TextAnalysis.langId(docs, idCol, textCol, Nil, stops,
      threshold)

  /** Heuristic quality scorecard over any (`idCol`, `textCol`) frame:
    * char/word/distinct counts, type-token ratio, stopword ratio,
    * average word length, and the q51 keep/drop verdict (20–1000 words
    * AND ≥50% distinct). One narrow map — scan-shaped at any corpus
    * size. See [[operators.TextAnalysis.qualityScore]]. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
      stops: Seq[String] = operators.TextAnalysis.stopwords): DataFrame =
    operators.TextAnalysis.qualityScore(docs, idCol, textCol, stops)

  /** Deterministic per-stratum quota sample: within every `stratumCol`
    * value, rank rows by (md5(`idCol`), `idCol`) and keep rank ≤
    * `quota` (returned as `qs_rank`). Reruns and appends never swap
    * picks, and a smaller quota is exactly the rank-prefix of a larger
    * one — the stratified audit-sampling primitive behind the shared
    * LSH audit sample (q117/q144, q95's machinery). One stratum-keyed
    * window shuffle. See [[operators.Curation.quotaSample]]. */
  def quotaSample(df: DataFrame, idCol: String, stratumCol: String,
      quota: Int): DataFrame =
    operators.Curation.quotaSample(df, idCol, stratumCol, quota)

  /** Okapi BM25 scoring of a whitespace-tokenized `textCol` against a
    * fixed bag of query terms: returns (`idCol`, dl, tf1..tfN, score)
    * with the score rounded to 4 dp. Narrow feature map + one
    * broadcast global-stats row — scan-shaped at any corpus size.
    * Backs q115_bm25_topk / q116_hybrid_rrf.
    * See [[operators.Search.bm25Score]]. */
  def bm25Score(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    operators.Search.bm25Score(docs, idCol, textCol, queryTerms, k1, b)

  /** Reciprocal-rank fusion of any number of (`idCol`, `scoreCol`)
    * rankings, each cut to its top-`topR` first: returns (`idCol`,
    * n_lists, rrf) with rrf = Σ 1/(k+rank) over the lists that
    * retrieved the id, rounded to 6 dp. The limits run as parallel
    * heap-k, so no window ever sees more than topR rows. q116 is the
    * two-retriever inner-join specialization.
    * See [[operators.Search.rrfFuse]]. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, scoreCol: String,
      k: Int = 60, topR: Int = 100): DataFrame =
    operators.Search.rrfFuse(rankings, idCol, scoreCol, k, topR)

  /** Banded-MinHash near-dup CANDIDATE pairs over any (`idCol`,
    * `textCol`) frame: word-3-gram shingles → 8-hash MinHash → 4×2
    * banding → distinct (doc_i, doc_j), doc_i < doc_j, ids sharing ≥1
    * band. Candidates are density-bound, never all-pairs (measured
    * near-linear in GrowthLawSpec); verify survivors with an exact
    * measure after. Docs with <3 words are dropped. Same definitions
    * as the q41/q44/q117 pipeline — plus per-bucket pair-space tiling
    * by default (a mass-duplicated boilerplate doc would otherwise
    * serialize its band bucket's |b|² pairs on one task; the tile
    * count rides a window over the join key, result-identical,
    * spec-pinned). `tilePairs` is the per-tile pair budget; pass
    * Long.MaxValue at broadcastable (small-corpus) scale to pin the
    * untiled broadcast-friendly plan — measured fastest there, while
    * the tiled default is the only variant that does not serialize at
    * the scale past broadcasting (GrowthLawSpec pins the tiled task
    * share). See [[operators.TextDedup.minhashCandidatePairs]]. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String,
      tilePairs: Long = operators.Similarity.AutoSaltTilePairs): DataFrame =
    operators.TextDedup.minhashCandidatePairs(docs, idCol, textCol,
      tilePairs)

  /** Hyperplane-LSH near-dup pairs over any (`idCol` integral,
    * `vecCol` numeric-array) frame: bucket by `planes` deterministic
    * hyperplanes, compare within buckets only, keep cosine ≥
    * `threshold`. Returns (vec_i, vec_j, bucket, cos_sim 4 dp).
    * `planes` holds MEAN bucket occupancy flat as the corpus grows
    * (+1 per doubling); `salt` splits a hot bucket's pair space into
    * shuffle-key tiles — pure physical parallelism, the returned pair
    * set is salt-invariant (spec-pinned). The default (AutoSalt) sizes
    * the salt PER BUCKET from an in-plan occupancy histogram, so a
    * caller needs no skew knowledge: hot buckets tile down to
    * task-sized chunks, cold buckets pay zero replication. Cost note:
    * auto reads the input THREE times (histogram + both join sides) vs
    * two at an explicit salt — persist `df` first if it is an
    * expensive un-persisted pipeline. Pass an explicit salt ≥ 1 only
    * to pin the physical plan. q93 is this at planes=4.
    * See [[operators.Similarity.lshNearDupPairs]]. */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, threshold: Double,
      salt: Int = operators.Similarity.AutoSalt): DataFrame =
    operators.Similarity.lshNearDupPairs(
      operators.Similarity.asVectors(df, idCol, vecCol), planes, threshold,
      salt)

  /** SemDeDup (Abbas et al. 2023) over any (`idCol` integral, `vecCol`
    * numeric-array) frame: one broadcast argmin round assigns each
    * vector to its nearest of `k` seed centroids (seeds = rows with
    * id < k — renumber ids to choose seeds), then a vector is dropped
    * when its cosine to ANY earlier (lower id) vector of the same
    * cluster reaches `threshold`. Returns (vec_id, cluster,
    * max_prior_sim, keep). `k` grows with the corpus to hold |cluster|
    * flat (pinned in GrowthLawSpec); the pair join's shuffle key
    * is the cluster id. q161 is this at k=8.
    * See [[operators.Similarity.semDedup]]. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
      threshold: Double): DataFrame =
    operators.Similarity.semDedup(
      operators.Similarity.asVectors(df, idCol, vecCol), k, threshold)

  /** Product-quantization ANN (Jégou et al. 2011) over any (`idCol`
    * integral, `vecCol` numeric-array) frame: vectors are int8
    * absmax-quantized (the q106/q142 code rule; zero vectors have no
    * direction and are excluded), the code space splits into `m`
    * subvectors of `subDim` dims (m·subDim MUST equal the vector
    * length), each subspace gets a deterministic seed codebook (the
    * subvectors of the `k` lowest ids), and query `queryId` is answered
    * by LUT-summed asymmetric distance over each vector's m codebook
    * ids — the corpus-wide pass reads m small ids per vector, nothing
    * else. Top-`coarseK` by ADC, exact-cosine rerank, top-`topK`;
    * returns (vec_id, adc, cos_sim). Integer end-to-end until the
    * rerank — deterministic on any engine. The vector length must
    * equal m·subDim (enforced in-plan); a `queryId` that is absent —
    * or whose vector is all zeros and therefore unquantizable —
    * returns an EMPTY result, so validate the query id upstream if
    * "no such query" must be distinguishable from "no neighbors".
    * q178 is this at m=4/subDim=16/k=8.
    *
    * `codebooks` opts into TRAINED codebooks from
    * [[trainPqCodebooks]] (Lloyd per subspace, integer-rounded means)
    * instead of the seed default — pass the SAME frame to every search
    * over a corpus so the code space stays fixed while queries vary.
    * See [[operators.Similarity.pqAnn]]. */
  def pqAnn(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      m: Int, subDim: Int, k: Int = 8, coarseK: Int = 50,
      topK: Int = 10, codebooks: Option[DataFrame] = None): DataFrame =
    operators.Similarity.pqAnn(int8CodedVectors(df, idCol, vecCol),
      queryId, m, subDim, k, coarseK, topK, codebooks = codebooks)

  /** Train PQ codebooks for [[pqAnn]]'s `codebooks` option: Lloyd's
    * k-means per subspace over the int8 subvectors, `iters` rounds,
    * every re-estimated centroid the per-dim mean ROUNDED to the
    * nearest integer — codebooks stay integer, so the ADC stage stays
    * deterministic on any engine. Seeds (and the returned cluster ids)
    * are the `k` lowest ids' subvectors, so `iters = 0` is disallowed
    * rather than silently aliasing the seed default. EAGER (one small
    * Spark job per round — the kmeans/PageRank materializer
    * discipline): train once per corpus, reuse across queries.
    * Returns (cs, cb_id, cbv). See
    * [[operators.Similarity.pqTrainCodebooks]]. */
  def trainPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, k: Int = 8, iters: Int = 3): DataFrame =
    operators.Similarity.pqTrainCodebooks(
      int8CodedVectors(df, idCol, vecCol), m, subDim, k, iters)

  /** Lloyd-trained COARSE IVF centroids — [[trainPqCodebooks]] one
    * level up, for the `centroids` parameter of [[ivfPqAnn]] /
    * [[annIndexWrite]]: seed centroids make cell occupancy
    * data-dependent (a corpus whose low ids cluster leaves one
    * mega-cell = one straggler partition nprobe can't prune);
    * training rebalances it. Assignment during training is the SAME
    * argmin serving assigns with; re-estimation is exact fixed-point
    * integer arithmetic, so retraining on the same corpus is
    * deterministic on any engine. EAGER (one small job per round).
    * Returns (cl, c). See
    * [[operators.Similarity.ivfTrainCentroids]]. */
  def trainIvfCentroids(df: DataFrame, idCol: String, vecCol: String,
      kIvf: Int, iters: Int = 3): DataFrame =
    operators.Similarity.ivfTrainCentroids(
      int8CodedVectors(df, idCol, vecCol), kIvf, iters)

  /** IVF-PQ over any (`idCol` integral, `vecCol` numeric-array) frame
    * — [[pqAnn]] behind a coarse quantizer: `kIvf` deterministic seed
    * cells partition the corpus, the query probes its `nprobe` nearest
    * cells, and the PQ asymmetric-distance scan touches ONLY those
    * cells' m-id encodings (two-level pruning — at cluster scale the
    * cell is the partition key, so nprobe/kIvf of the corpus is read
    * at all). Returns (vec_id, cell, adc, cos_sim); recall vs an exact
    * scan is the documented tradeoff of both levels. q179 is this at
    * kIvf=4/nprobe=2/m=4/subDim=16. `codebooks` opts the PQ stage into
    * [[trainPqCodebooks]]' trained model, same as [[pqAnn]].
    * See [[operators.Similarity.ivfPqAnn]]. */
  def ivfPqAnn(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, kIvf: Int, nprobe: Int, m: Int, subDim: Int,
      k: Int = 8, coarseK: Int = 50, topK: Int = 10,
      codebooks: Option[DataFrame] = None): DataFrame =
    operators.Similarity.ivfPqAnn(int8CodedVectors(df, idCol, vecCol),
      queryId, kIvf, nprobe, m, subDim, k, coarseK, topK,
      codebooks = codebooks)

  /** Batch IVF-PQ — the serving shape: every quantizable id below
    * `qMax` queries the corpus (ids ≥ `qMax`) through ONE pass over
    * the PQ encodings and cell assignment (built here inline; inside
    * the engine's own inventory they are registry-cached so a session
    * builds them once). Per query: probe `nprobe` cells, ADC
    * top-`coarseK`, exact rerank, top-`topK`. Returns (q_id, vec_id,
    * cell, adc, cos_sim, rn) ordered by (q_id, rn). q180 is this at
    * qMax=5/kIvf=4/nprobe=2. `codebooks` opts into
    * [[trainPqCodebooks]]' trained model — threaded to BOTH the
    * encode and the per-query LUTs, so the two can never rank in
    * different code spaces. See
    * [[operators.Similarity.ivfPqAnnBatch]]. */
  def ivfPqAnnBatch(df: DataFrame, idCol: String, vecCol: String,
      qMax: Long, kIvf: Int, nprobe: Int, m: Int, subDim: Int,
      k: Int = 8, coarseK: Int = 50, topK: Int = 10,
      codebooks: Option[DataFrame] = None): DataFrame = {
    val codes = int8CodedVectors(df, idCol, vecCol)
    operators.Similarity.ivfPqAnnBatch(codes,
      operators.Similarity.pqEncode(codes, m, subDim, k, codebooks),
      operators.Similarity.ivfAssign(codes, kIvf),
      qMax, kIvf, nprobe, m, subDim, k, coarseK, topK,
      codebooks = codebooks)
  }

  /** Persist the IVF-PQ serving index as an ON-DISK parquet dataset
    * partitioned by coarse cell — encodings under `enc/cell=<id>/`,
    * model frames under `books/` and `cents/`. This is the 100 TB
    * layout made concrete: a served query lists and reads ONLY its
    * probed cells' directories (see [[annIndexServe]]). The encodings
    * are derived from the model frames read back off disk, so the
    * index always carries exactly the model it was coded with, and a
    * `manifest/` row records the geometry (m, subDim, kIvf, k) — every
    * later serve/append/ingest validates its knobs against it and
    * fails loudly on a mismatch instead of ranking in the wrong code
    * space. `codebooks` opts into [[trainPqCodebooks]]' trained model;
    * `centroids` into [[trainIvfCentroids]]' rebalanced coarse cells.
    * See [[operators.Similarity.ivfPqIndexWrite]]. */
  def annIndexWrite(df: DataFrame, idCol: String, vecCol: String,
      indexDir: String, kIvf: Int, m: Int, subDim: Int, k: Int = 8,
      codebooks: Option[DataFrame] = None,
      centroids: Option[DataFrame] = None): Unit =
    operators.Similarity.ivfPqIndexWrite(
      int8CodedVectors(df, idCol, vecCol), indexDir, kIvf, m, subDim,
      k, codebooks, centroids)

  /** Append new vectors to an existing on-disk ANN index under the
    * frozen-model contract: the delta is encoded and cell-assigned
    * against the model frames READ FROM THE INDEX, never re-derived —
    * so daily ingest appends nprobe-servable rows without touching the
    * resident corpus (delta ids must be new). See
    * [[operators.Similarity.ivfPqIndexAppend]]. */
  def annIndexAppend(df: DataFrame, idCol: String, vecCol: String,
      indexDir: String, m: Int, subDim: Int): Unit =
    operators.Similarity.ivfPqIndexAppend(
      int8CodedVectors(df, idCol, vecCol), indexDir, m, subDim)

  /** Serve one ANN query from an on-disk index written by
    * [[annIndexWrite]]: the probed-cell list becomes a plan-time
    * partition filter (spec-pinned), so the encodings scan physically
    * reads nprobe/kIvf of the index. `df` supplies the query vector
    * and the full-precision rerank side — the corpus the index was
    * built from. Returns (vec_id, cell, adc, cos_sim) top-`topK`,
    * identical to [[ivfPqAnn]] over the same model. See
    * [[operators.Similarity.ivfPqIndexServe]]. */
  def annIndexServe(df: DataFrame, idCol: String, vecCol: String,
      indexDir: String, queryId: Long, nprobe: Int, m: Int,
      subDim: Int, coarseK: Int = 50, topK: Int = 10): DataFrame =
    operators.Similarity.ivfPqIndexServe(
      int8CodedVectors(df, idCol, vecCol), indexDir, queryId, nprobe,
      m, subDim, coarseK, topK)

  /** FILTERED serve: [[annIndexServe]] restricted to the ids in
    * `allowed` (any frame carrying `idCol` — typically a metadata
    * predicate on the corpus table, `docs.filter($"lang" === "en")`),
    * with PRE-filter semantics: the allow-list restricts candidates
    * BEFORE the ADC top-`coarseK`, so the result is the allowed
    * subset's true top-k, not the allowed remnant of the unrestricted
    * top-k (the filtered-ANN recall hole). Spec-pinned equal to
    * serving an index built over only the allowed vectors under the
    * same frozen model. See [[operators.Similarity.ivfPqIndexServe]]. */
  def annIndexServeFiltered(df: DataFrame, idCol: String, vecCol: String,
      indexDir: String, queryId: Long, allowed: DataFrame, nprobe: Int,
      m: Int, subDim: Int, coarseK: Int = 50, topK: Int = 10): DataFrame =
    operators.Similarity.ivfPqIndexServe(
      int8CodedVectors(df, idCol, vecCol), indexDir, queryId, nprobe,
      m, subDim, coarseK, topK,
      allowed = Some(allowed.select(integralId(allowed, idCol, "vec_id"))))

  /** Batch-serve every id below `qMax` from an on-disk index in ONE
    * partition-pruned pass: the union of the batch's probed cells (≤
    * kIvf literals, batch-size-independent) prunes the scan, then each
    * query restricts to its own cells on the pruned slice. Returns
    * [[ivfPqAnnBatch]]'s (q_id, vec_id, cell, adc, cos_sim, rn). See
    * [[operators.Similarity.ivfPqIndexServeBatch]]. */
  def annIndexServeBatch(df: DataFrame, idCol: String, vecCol: String,
      indexDir: String, qMax: Long, nprobe: Int, m: Int, subDim: Int,
      coarseK: Int = 50, topK: Int = 10): DataFrame =
    operators.Similarity.ivfPqIndexServeBatch(
      int8CodedVectors(df, idCol, vecCol), indexDir, qMax, nprobe,
      m, subDim, coarseK, topK)

  /** FILTERED batch serve: [[annIndexServeBatch]] with every query's
    * candidates restricted to the ids in `allowed` — the
    * [[annIndexServeFiltered]] pre-filter semantics applied to the
    * whole batch in its one pruned pass (query vectors come from `df`
    * and need not be allowed themselves). See
    * [[operators.Similarity.ivfPqIndexServeBatch]]. */
  def annIndexServeBatchFiltered(df: DataFrame, idCol: String,
      vecCol: String, indexDir: String, qMax: Long, allowed: DataFrame,
      nprobe: Int, m: Int, subDim: Int, coarseK: Int = 50,
      topK: Int = 10): DataFrame =
    operators.Similarity.ivfPqIndexServeBatch(
      int8CodedVectors(df, idCol, vecCol), indexDir, qMax, nprobe,
      m, subDim, coarseK, topK,
      allowed = Some(allowed.select(integralId(allowed, idCol, "vec_id"))))

  /** PER-QUERY filtered batch serve: each query in the batch
    * restricted to ITS OWN allow set — `allowed` carries
    * (`queryCol`, `idCol`) pairs (one predicate per request, the
    * real serving shape; a query with no pairs returns no rows), and
    * every query's result has [[annIndexServeFiltered]]'s pre-filter
    * semantics (spec-pinned equal to it query by query). See
    * [[operators.Similarity.ivfPqAnnBatch]]. */
  def annIndexServeBatchFilteredPerQuery(df: DataFrame, idCol: String,
      vecCol: String, indexDir: String, qMax: Long, allowed: DataFrame,
      queryCol: String, nprobe: Int, m: Int, subDim: Int,
      coarseK: Int = 50, topK: Int = 10): DataFrame = {
    operators.Similarity.ivfPqIndexServeBatch(
      int8CodedVectors(df, idCol, vecCol), indexDir, qMax, nprobe,
      m, subDim, coarseK, topK,
      allowedPairs = Some(allowed.select(
        integralId(allowed, queryCol, "q_id"),
        integralId(allowed, idCol, "vec_id"))))
  }

  /** Per-cell health report of an on-disk ANN index: (cell, n_vecs,
    * files, share_bp) ordered by cell — live vectors (tombstones
    * subtracted), parquet files under the cell directory (the
    * [[annIndexCompact]] trigger), and the cell's integer basis
    * points of all live vectors (a share far above 10000/kIvf is the
    * straggler cell [[trainIvfCentroids]] exists to split). See
    * [[operators.Similarity.ivfPqIndexStats]]. */
  def annIndexStats(spark: SparkSession, indexDir: String): DataFrame =
    operators.Similarity.ivfPqIndexStats(spark, indexDir)

  /** LOGICAL delete from an on-disk ANN index: the ids land in the
    * index's `tombstones/` set and stop surfacing from
    * [[annIndexServe]]/[[annIndexServeBatch]] immediately (broadcast
    * anti-join — no index rewrite); the next [[annIndexCompact]]
    * reclaims the space. See
    * [[operators.Similarity.ivfPqIndexDelete]]. */
  def annIndexDelete(spark: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit =
    operators.Similarity.ivfPqIndexDelete(spark, indexDir, ids)

  /** FRAME-shaped [[annIndexDelete]]: `ids` carries one `vec_id`
    * column and never crosses the driver (the [[takedownAll]]
    * DataFrame discipline per store) — NULL/non-castable ids fail
    * loudly. */
  def annIndexDelete(spark: SparkSession, indexDir: String,
      ids: DataFrame): Unit =
    operators.Similarity.ivfPqIndexDelete(spark, indexDir, ids)

  /** Compact an on-disk ANN index in place: rewrite the encodings to
    * one file per cell directory (repairing append/ingest small-file
    * accretion) and apply outstanding tombstones physically. Serve
    * results are unchanged (spec-pinned). Single-maintainer op — do
    * not run concurrently with appends. See
    * [[operators.Similarity.ivfPqIndexCompact]]. */
  def annIndexCompact(spark: SparkSession, indexDir: String): Unit =
    operators.Similarity.ivfPqIndexCompact(spark, indexDir)

  /** The index MAINTENANCE POLICY: compose [[annIndexStats]] into a
    * per-cell decision table — (cell, n_vecs, files, tomb, share_bp,
    * action) with action ∈ ok | compact (fragmentation or tombstone
    * share past threshold) | retrain (mega-cell straggler; the repair
    * is [[trainIvfCentroids]] + a frozen-model rebuild, caller-owned).
    * `execute = true` runs the compaction when any cell decides
    * `compact` (serve-identical, spec-pinned); retrain is never
    * auto-executed. See
    * [[operators.Similarity.ivfPqIndexMaintain]]. */
  def annIndexMaintain(spark: SparkSession, indexDir: String,
      maxFiles: Int = 8, maxTombBp: Long = 2000L,
      maxShareBp: Long = -1L, execute: Boolean = false): DataFrame =
    operators.Similarity.ivfPqIndexMaintain(spark, indexDir, maxFiles,
      maxTombBp, maxShareBp, execute)

  /** Continuously ingest a STREAM of vectors into an on-disk ANN
    * index: each micro-batch appends under the frozen-model contract,
    * guarded by a batch-id ledger so checkpoint replays skip
    * already-applied batches (crash between an append and its marker
    * is at-least-once — repair via [[annIndexDelete]] +
    * [[annIndexCompact]] or a rebuild). Returns the started query;
    * the caller owns its lifecycle. See
    * [[operators.Similarity.ivfPqIndexIngest]]. */
  def annIndexIngest(df: DataFrame, idCol: String, vecCol: String,
      indexDir: String, m: Int, subDim: Int,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    operators.Similarity.ivfPqIndexIngest(
      int8CodedVectors(df, idCol, vecCol), indexDir, m, subDim,
      checkpointDir)

  /** Write the ON-DISK LSH signature store for incremental text dedup:
    * `docs` (idCol, textCol) → MinHash band view (4 rows/doc, ~100×
    * smaller than the text), band-partitioned parquet + a banding-
    * geometry manifest under `outDir` — the [[annIndexWrite]]
    * lifecycle for the TEXT dedup resident state, so the admit/reject
    * service survives the JVM instead of recomputing its corpus
    * signatures per session. Rebuilding over a used dir clears stale
    * tombstones and the ingest ledger. Backs q184. See
    * [[operators.TextDedup.dedupIndexWrite]]. */
  def dedupIndexWrite(docs: DataFrame, outDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    operators.TextDedup.dedupIndexWrite(docs, outDir, idCol, textCol)

  /** Append NEW docs (fresh ids — a resident id would double its band
    * rows) to an existing store under its frozen banding geometry.
    * Append ≡ rebuild is spec-pinned. See
    * [[operators.TextDedup.dedupIndexAppend]]. */
  def dedupIndexAppend(docs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    operators.TextDedup.dedupIndexAppend(docs, indexDir, idCol, textCol)

  /** Serve admit/reject verdicts for a new batch against the on-disk
    * resident store: (doc_id, n_dups, status) — n_dups = distinct
    * resident LSH band collisions, status reject iff any. Cost is
    * |batch| × collisions, never corpus²; tombstoned residents are
    * subtracted. Identical to q156's registry-cached semantics (the
    * two share one oracle). See
    * [[operators.TextDedup.dedupIndexServe]]. */
  def dedupIndexServe(newDocs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    operators.TextDedup.dedupIndexServe(newDocs, indexDir, idCol, textCol)

  /** LOGICAL delete of resident docs: ids land in `tombstones/` and
    * stop matching immediately (broadcast anti-join, no rewrite);
    * [[dedupIndexCompact]] reclaims the space. See
    * [[operators.TextDedup.dedupIndexDelete]]. */
  def dedupIndexDelete(spark: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit =
    operators.TextDedup.dedupIndexDelete(spark, indexDir, ids)

  /** FRAME-shaped [[dedupIndexDelete]]: `ids` carries one `doc_id`
    * column and never crosses the driver — NULL/non-castable ids fail
    * loudly. */
  def dedupIndexDelete(spark: SparkSession, indexDir: String,
      ids: DataFrame): Unit =
    operators.TextDedup.dedupIndexDelete(spark, indexDir, ids)

  /** Compact the store in place: one file per band directory,
    * tombstones applied physically, verdicts unchanged (spec-pinned).
    * Single-maintainer op — do not run concurrently with appends. See
    * [[operators.TextDedup.dedupIndexCompact]]. */
  def dedupIndexCompact(spark: SparkSession, indexDir: String): Unit =
    operators.TextDedup.dedupIndexCompact(spark, indexDir)

  /** Per-band health report: (band, n_docs, files) — the compaction
    * trigger. See [[operators.TextDedup.dedupIndexStats]]. */
  def dedupIndexStats(spark: SparkSession, indexDir: String): DataFrame =
    operators.TextDedup.dedupIndexStats(spark, indexDir)

  /** The store MAINTENANCE POLICY: per-band (band, n_docs, files,
    * tomb, action) — `compact` on fragmentation or tombstone share
    * past threshold, else `ok` (no retrain: the banding has no
    * trained state). `execute = true` runs the compaction when
    * warranted (serve-identical, spec-pinned) — [[annIndexMaintain]]
    * on the text store. See
    * [[operators.TextDedup.dedupIndexMaintain]]. */
  def dedupIndexMaintain(spark: SparkSession, indexDir: String,
      maxFiles: Int = 8, maxTombBp: Long = 2000L,
      execute: Boolean = false): DataFrame =
    operators.TextDedup.dedupIndexMaintain(spark, indexDir, maxFiles,
      maxTombBp, execute)

  /** Continuously ingest a STREAM of new docs into the on-disk store:
    * micro-batch appends under the frozen geometry, batch-id ledger
    * for idempotent checkpoint replays (at-least-once across a crash
    * between append and marker — repair via [[dedupIndexDelete]] +
    * [[dedupIndexCompact]]). The disk twin of [[ingestDedup]]'s
    * in-memory verdict stream. See
    * [[operators.TextDedup.dedupIndexIngest]]. */
  def dedupIndexIngest(docs: DataFrame, indexDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    operators.TextDedup.dedupIndexIngest(docs, indexDir, checkpointDir,
      idCol, textCol)

  /** Write the ON-DISK LSH AUDIT (PAIR) STORE: the dedup pipeline's
    * VERIFIED pair set (doc_i, doc_j, n_common, n_i, n_j, jaccard)
    * and its LSH candidate set (doc_i, doc_j), bucket-partitioned by
    * doc_i hash — the persisted form of the two artifacts the whole
    * dedup decision layer consumes (audits, connected components,
    * cluster verdicts), so a new session reads two pruned scans
    * instead of rebuilding the shingle → signature → band → candidate
    * → verify chain. Pair rows must satisfy doc_i < doc_j (the
    * library's pair normal form). Backs q188. See
    * [[operators.TextDedup.auditStoreWrite]]. */
  def auditStoreWrite(pairs: DataFrame, cand: DataFrame,
      outDir: String): Unit =
    operators.TextDedup.auditStoreWrite(pairs, cand, outDir)

  /** Append pair/candidate DELTAS (the rows a new doc batch's ingest
    * verification produces — pairs must be NEW). Append ≡ rebuild is
    * spec-pinned. See [[operators.TextDedup.auditStoreAppend]]. */
  def auditStoreAppend(pairsDelta: DataFrame, candDelta: DataFrame,
      indexDir: String): Unit =
    operators.TextDedup.auditStoreAppend(pairsDelta, candDelta, indexDir)

  /** DOC-level logical delete: tombstone the ids; serves subtract
    * every pair touching them on either endpoint,
    * [[auditStoreCompact]] reclaims. Compose with [[takedownAll]] for
    * a corpus-wide compliance takedown (the audit store holds derived
    * PAIR artifacts, so it sits outside the doc-store families that
    * call covers in one list). See
    * [[operators.TextDedup.auditStoreDelete]]. */
  def auditStoreDelete(spark: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit =
    operators.TextDedup.auditStoreDelete(spark, indexDir, ids)

  /** FRAME-shaped [[auditStoreDelete]] — ids never cross the driver. */
  def auditStoreDelete(spark: SparkSession, indexDir: String,
      ids: DataFrame): Unit =
    operators.TextDedup.auditStoreDelete(spark, indexDir, ids)

  /** Compact into the next generation (tombstones applied physically,
    * atomic pointer flip, serve-identical). See
    * [[operators.TextDedup.auditStoreCompact]]. */
  def auditStoreCompact(spark: SparkSession, indexDir: String): Unit =
    operators.TextDedup.auditStoreCompact(spark, indexDir)

  /** The live verified pair set (tombstones subtracted). See
    * [[operators.TextDedup.residentAuditPairs]]. */
  def auditStorePairs(spark: SparkSession, indexDir: String): DataFrame =
    operators.TextDedup.residentAuditPairs(spark, indexDir)

  /** The live LSH candidate set (tombstones subtracted). See
    * [[operators.TextDedup.residentAuditCands]]. */
  def auditStoreCands(spark: SparkSession, indexDir: String): DataFrame =
    operators.TextDedup.residentAuditCands(spark, indexDir)

  /** Write the ON-DISK SEARCH INDEX: postings (doc_id, term, tf)
    * partitioned by term-hash bucket, per-doc lengths, corpus stats,
    * and a tokenizer/bucket manifest — the disk-lifecycle template's
    * third instance (ANN [[annIndexWrite]], dedup [[dedupIndexWrite]]),
    * so the lexical retrieval state survives the JVM. Caller contract:
    * `docs` ids must be UNIQUE (a repeated id silently doubles its
    * rows and inflates n_docs/sum_dl/tf — exact-dedup first if
    * unsure). Rebuilding over a used dir clears stale tombstones, the
    * ingest ledger, and crashed-compaction artifacts. Backs q185. See
    * [[operators.Search.searchIndexWrite]]. */
  def searchIndexWrite(docs: DataFrame, outDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 8): Unit =
    operators.Search.searchIndexWrite(docs, outDir, idCol, textCol,
      nBuckets)

  /** Append NEW docs (fresh ids — the [[searchIndexWrite]] unique-id
    * contract across lives) to an existing index under its frozen
    * bucket geometry. The corpus-global stats sidecar is reconciled
    * INCREMENTALLY (stored one-row stats + the delta's aggregate —
    * exact by associativity, and O(|delta|) regardless of index age:
    * the one reconciliation BM25 forces on this store that band/cell
    * appends never need); per-term df needs none — serves count it
    * from the postings themselves. Append ≡ rebuild is spec-pinned.
    * See [[operators.Search.searchIndexAppend]]. */
  def searchIndexAppend(docs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    operators.Search.searchIndexAppend(docs, indexDir, idCol, textCol)

  /** Serve a BM25 top-`topK` off the on-disk index: the query terms'
    * hash buckets become plan-time `PartitionFilters` (the scan lists
    * ≤ |terms| of the index's bucket directories, corpus-size-
    * independent), df/tf come from the pruned postings, the scoring is
    * byte-identical to [[bm25Score]], and tombstoned docs subtract
    * from the ranking, the df counts, AND the corpus stats (their
    * lengths ride the tombstone records — no docs re-scan). Returns
    * (doc_id, dl, tf1..tfN, score).
    *
    * HARD CAVEAT: by default this is the top-k among docs matching
    * ≥ 1 query term — equal to the global [[bm25Score]] top-k only
    * while ≥ topK matched docs score positive (mid-frequency terms
    * over a real corpus; q185's case). A tiny index or stopword-ish
    * terms diverge: the global list pads with zero-scoring unmatched
    * docs this serve never reads. Set `includeZeroMatches = true` for
    * exact global semantics on arbitrary terms, at the cost of a
    * corpus-sized docs scan. See
    * [[operators.Search.searchIndexServe]]. */
  def searchIndexServe(spark: SparkSession, indexDir: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10, includeZeroMatches: Boolean = false): DataFrame =
    operators.Search.searchIndexServe(spark, indexDir, queryTerms, k1,
      b, topK, includeZeroMatches)

  /** LOGICAL delete (takedowns) of indexed docs: (doc_id, dl)
    * tombstones — the length captured now is what lets serves correct
    * the corpus-global stats without re-scanning docs/. Idempotent
    * (already-tombstoned and absent ids skip, so a retry can never
    * double-subtract); [[searchIndexCompact]] reclaims the space. See
    * [[operators.Search.searchIndexDelete]]. */
  def searchIndexDelete(spark: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit =
    operators.Search.searchIndexDelete(spark, indexDir, ids)

  /** FRAME-shaped [[searchIndexDelete]]: `ids` carries one `doc_id`
    * column and never crosses the driver; the docs lookup stays a
    * parallel keyed join instead of a broadcast of a driver list —
    * NULL/non-castable ids fail loudly. */
  def searchIndexDelete(spark: SparkSession, indexDir: String,
      ids: DataFrame): Unit =
    operators.Search.searchIndexDelete(spark, indexDir, ids)

  /** Compact the index into its next GENERATION: one file per bucket
    * directory, tombstones applied physically to postings AND docs,
    * stats re-derived, rankings unchanged (spec-pinned) — all
    * committed by one atomic generation-pointer flip, with the prior
    * generation kept one compact cycle as the serve grace (snapshot
    * isolation for in-flight serves). Single-maintainer op. See
    * [[operators.Search.searchIndexCompact]]. */
  def searchIndexCompact(spark: SparkSession, indexDir: String): Unit =
    operators.Search.searchIndexCompact(spark, indexDir)

  /** Per-bucket health report: (bkt, n_postings, n_terms, files) —
    * the compaction trigger, plus the term-skew lens (a hot bucket
    * argues for a rebuild at a higher bucket count). See
    * [[operators.Search.searchIndexStats]]. */
  def searchIndexStats(spark: SparkSession, indexDir: String): DataFrame =
    operators.Search.searchIndexStats(spark, indexDir)

  /** The store MAINTENANCE POLICY: per-bucket (bkt, n_postings, files,
    * tomb, action) — `compact` on fragmentation or tombstone share
    * past threshold, else `ok` (no retrain: term-hash bucketing has no
    * trained state). `execute = true` runs the compaction when
    * warranted (serve-identical, spec-pinned). See
    * [[operators.Search.searchIndexMaintain]]. */
  def searchIndexMaintain(spark: SparkSession, indexDir: String,
      maxFiles: Int = 8, maxTombBp: Long = 2000L,
      execute: Boolean = false): DataFrame =
    operators.Search.searchIndexMaintain(spark, indexDir, maxFiles,
      maxTombBp, execute)

  /** Continuously ingest a STREAM of new docs into the on-disk index:
    * micro-batch appends under the frozen geometry (stats sidecar
    * reconciled per batch), batch-id ledger for idempotent checkpoint
    * replays (at-least-once across a crash between append and marker —
    * repair via [[searchIndexDelete]] + [[searchIndexCompact]]). See
    * [[operators.Search.searchIndexIngest]]. */
  def searchIndexIngest(docs: DataFrame, indexDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    operators.Search.searchIndexIngest(docs, indexDir, checkpointDir,
      idCol, textCol)

  /** Hybrid RAG retrieval served ENTIRELY off the on-disk layer — the
    * q186 composition as a reusable member: a BM25 top-`topR` from the
    * search index at `searchIndexDir` (bucket-pruned scan) and an ANN
    * cosine top-`topR` from the IVF-PQ index at `annIndexDir`
    * (cell-pruned scan + exact rerank), fused by reciprocal rank
    * ([[rrfFuse]]'s standard over-top-R union semantics: an id
    * retrieved by only one leg still fuses, `n_lists` says which).
    * Returns (`doc_id`, n_lists, rrf) top-`topK` by (rrf desc, id).
    * `df` is the corpus vector frame the ANN index was built from
    * (query vector + rerank side); lexical doc ids and vector ids must
    * share the id space for the fusion to be meaningful (q186 packs
    * chunk ids and fuses at the DOC level instead — fusion keys are
    * the caller's design decision, this member takes them as given).
    * Note the ANN leg is approximate at production `nprobe`/`coarseK`
    * (q181 measures recall); nprobe = kIvf with a large coarseK makes
    * it exact, which is how q186 satisfies a brute-force oracle. */
  def ragServeDisk(df: DataFrame, idCol: String, vecCol: String,
      annIndexDir: String, searchIndexDir: String,
      queryTerms: Seq[String], queryId: Long, nprobe: Int, m: Int,
      subDim: Int, coarseK: Int = 50, rrfK: Int = 60, topR: Int = 100,
      topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions._
    // cross-store snapshot guard (r16 verdict): the two stores answer
    // the SAME corpus, so their corpus-version stamps must agree —
    // serving a search index that saw a takedown against an ANN index
    // that didn't would return a half-deleted document's chunks.
    // Mutate both stores through [[takedown]]/coordinated appends and
    // the stamps stay aligned; a divergence fails here, loudly.
    operators.Stores.requireAlignedVersions(df.sparkSession,
      Seq(annIndexDir, searchIndexDir))
    val lex = searchIndexServe(df.sparkSession, searchIndexDir,
        queryTerms, topK = topR)
      .select(col("doc_id"), col("score"))
    val sem = annIndexServe(df, idCol, vecCol, annIndexDir, queryId,
        nprobe, m, subDim, coarseK, topK = topR)
      .select(col("vec_id").as("doc_id"), col("cos_sim").as("score"))
    operators.Search.rrfFuse(Seq(lex, sem), "doc_id", "score", rrfK, topR)
      .orderBy(col("rrf").desc, col("doc_id")).limit(topK)
  }

  // ───────── cross-store coordination (r16 verdict asks #2/#3) ─────────

  /** Store reference types for [[takedown]]: which lifecycle family
    * owns each directory ([[SearchStore]], [[ChunkSearchStore]] with
    * its packed-id base, [[DedupStore]], [[AnnStore]]). */
  type StoreRef = operators.Stores.StoreRef
  val SearchStore: operators.Stores.SearchStore.type =
    operators.Stores.SearchStore
  val ChunkSearchStore: operators.Stores.ChunkSearchStore.type =
    operators.Stores.ChunkSearchStore
  val DedupStore: operators.Stores.DedupStore.type =
    operators.Stores.DedupStore
  val AnnStore: operators.Stores.AnnStore.type =
    operators.Stores.AnnStore

  /** A store's corpus-version stamp: mutations applied since its last
    * rebuild (write ⇒ 0; append / ingested batch / delete ⇒ +1;
    * compaction never bumps). Stores mutated through the same
    * coordinated pipeline carry equal stamps — the alignment
    * [[ragServeDisk]] demands. A pre-stamp store reads 0. See
    * [[operators.Stores]]. */
  def storeVersion(spark: SparkSession, indexDir: String): Long =
    operators.Stores.storeVersion(spark, indexDir)

  /** (store_dir, corpus_version) audit view over many stores. */
  def storeVersions(spark: SparkSession, dirs: Seq[String]): DataFrame =
    operators.Stores.storeVersions(spark, dirs)

  /** Apply ONE document's takedown across every store serving the
    * corpus in one call: doc-level deletes on search/dedup/ANN stores,
    * packed-range chunk deletes on a chunk-level search store. Every
    * store lands on the SAME stamp (target = max(stamps) + 1, set
    * after each store's delete), so aligned stores stay aligned and
    * [[ragServeDisk]] keeps serving; a takedown applied to only SOME
    * stores (a crash mid-list) diverges the stamps and the composed
    * serve fails loudly — and RE-RUNNING the same takedown against the
    * same store list CONVERGES: re-deletes are no-ops and all stores
    * land on the new common target. See
    * [[operators.Stores.takedown]]. */
  def takedown(spark: SparkSession, docId: Long,
      stores: Seq[StoreRef]): Unit =
    operators.Stores.takedown(spark, docId, stores)

  /** Batch [[takedown]]: apply a WHOLE takedown batch as one delete —
    * one tombstone write, exactly one version bump — per store,
    * regardless of batch size. See [[operators.Stores.takedownAll]]. */
  def takedownAll(spark: SparkSession, docIds: Seq[Long],
      stores: Seq[StoreRef]): Unit =
    operators.Stores.takedownAll(spark, docIds, stores)

  /** FRAME-shaped [[takedownAll]] — the production form: a compliance
    * batch of ids is DATA (`docIds` carries one `doc_id`-castable
    * column), and it stays a DataFrame end to end — tombstones are
    * written via semi-joins, chunk-id resolution is a join on the
    * computed unpack key, and nothing about the batch crosses the
    * driver except one (count, min, max) aggregate — which also
    * validates chunk-family packability at the PIN, before any store
    * is touched. Use this whenever the
    * takedown list comes from a query or a feed; the Seq form is
    * operator-sized sugar. Same convergent-stamp crash contract.
    * See [[operators.Stores.takedownAll]]. */
  def takedownAll(spark: SparkSession, docIds: DataFrame,
      stores: Seq[StoreRef]): Unit =
    operators.Stores.takedownAll(spark, docIds, stores)

  /** Coordinated IDEMPOTENT append: apply one named delta batch of
    * documents across every store serving the corpus — doc-level
    * search, chunk-level search (chunked + packed here), dedup bands,
    * ANN encodings (geometry read from the store's own manifest) —
    * guarded per store by the same batch-id ledger streaming ingest
    * uses. A crash mid-list diverges the stamps (the composed serve
    * fails loudly); RE-RUNNING the same batch id against the same
    * store list converges: completed stores' ledger markers skip the
    * re-append (no duplicate ids), the rest append, and all land on
    * the common target stamp. With [[takedownAll]] this makes the
    * whole cross-store mutation surface crash-recoverable by re-run.
    * See [[operators.Stores.appendAll]]. */
  def appendAll(docs: DataFrame, batchId: String, stores: Seq[StoreRef],
      idCol: String = "doc_id", textCol: String = "text",
      vecCol: String = "emb"): Unit =
    operators.Stores.appendAll(docs, batchId, stores, idCol, textCol,
      vecCol)

  /** EXECUTABLE crash repair for any graft store directory: reads the
    * generation-pointer / dataset / sidecar state, classifies the
    * crash window (torn compact scratch above the pointer, expired
    * generations below the grace, append orphans, stale stats,
    * replayed ingest batches), and RUNS the documented recovery — the
    * scaladoc repairs, as code. Dispatches on the store's own layout;
    * returns a (check, state, action) report. `execute = false`
    * classifies without touching the store. See
    * [[operators.Stores.storeFsck]]. */
  def storeFsck(spark: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    operators.Stores.storeFsck(spark, indexDir, execute)

  /** EXECUTABLE repair for the ONE crash window [[appendAll]] leaves:
    * a crash between a store's physical append and its ledger marker,
    * where a bare re-run would double-append (the dup-id state
    * [[storeFsck]] reports but cannot repair without the source).
    * Given the SAME batch, this re-lands it exactly once per store:
    * marker-present stores are untouched; marker-absent stores get
    * delete(batch ids) + compact + re-append + marker. All stores land
    * on the common max+1 stamp; re-running the repair is a stamp-only
    * no-op. One compact per repaired store — the incident-response
    * price ([[appendAll]] itself stays O(|delta|)). See
    * [[operators.Stores.replayRepair]]. */
  def replayRepair(docs: DataFrame, batchId: String,
      stores: Seq[StoreRef], idCol: String = "doc_id",
      textCol: String = "text", vecCol: String = "emb"): Unit =
    operators.Stores.replayRepair(docs, batchId, stores, idCol,
      textCol, vecCol)

  /** PHYSICAL purge of every outstanding tombstone across the given
    * stores: two compacts per store — the first folds the tombstones
    * into a fresh generation, the second vacuums the grace generation
    * that still carried the deleted bytes. [[takedownAll]] followed by
    * `purgeAll` is the takedown-compliance pair (no byte of the
    * documents remains in ANY generation); compaction never bumps the
    * version stamp, so purged stores stay aligned. See
    * [[operators.Stores.purgeAll]]. */
  def purgeAll(spark: SparkSession, stores: Seq[StoreRef]): Unit =
    operators.Stores.purgeAll(spark, stores)

  /** [[storeFsck]] pinned to a search store. */
  def searchIndexFsck(spark: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    operators.Stores.searchIndexFsck(spark, indexDir, execute)

  /** [[storeFsck]] pinned to a dedup store. */
  def dedupIndexFsck(spark: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    operators.Stores.dedupIndexFsck(spark, indexDir, execute)

  /** [[storeFsck]] pinned to an ANN store. */
  def annIndexFsck(spark: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    operators.Stores.annIndexFsck(spark, indexDir, execute)

  /** Shared facade prep for the quantized ANN members: rename/cast to
    * the (vec_id, v, nrm) shape, then attach the int8 absmax codes
    * (the q106/q142 code rule; zero vectors have no direction and are
    * excluded). */
  private def int8CodedVectors(
      df: DataFrame, idCol: String, vecCol: String): DataFrame =
    operators.Similarity.int8CodedVectors(df, idCol, vecCol)

  /** Codegen'd vector math over ARRAY<DOUBLE> columns: dot, norm,
    * cosine (fused native expression), LSH bucketing. See
    * [[functions.VectorFunctions]]. */
  val vectors: functions.VectorFunctions.type = functions.VectorFunctions
}
