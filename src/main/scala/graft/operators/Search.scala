package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, QueryDef, Tables}
import graft.functions.VectorFunctions._

/** Keyword / lexical retrieval over `documents` (SURVEY.md §2C "text
  * analysis" extended to the search side of a data pipeline): inverted
  * index construction, BM25 ranking, and reciprocal-rank fusion of the
  * lexical and embedding retrievers — the standard hybrid-search stack.
  *
  * Scale notes (100 TB posture):
  *  - the inverted index is the canonical explode → two-phase groupBy:
  *    partial aggregation combines per-partition postings before the one
  *    shuffle keyed by term, so network traffic is O(vocabulary·docs-
  *    per-term-sample), never O(tokens); at cluster scale the term is
  *    the natural partition key for serving;
  *  - BM25 needs only per-doc term frequencies (narrow map over the
  *    text column — no tokenize shuffle at all, since the query terms
  *    are known) plus one global stats row (count/sumdl/df per term)
  *    broadcast back: the whole ranking is scan + broadcast + top-k
  *    (TakeOrderedAndProject), the same shape at any corpus size;
  *  - RRF joins two top-R rank lists on doc id; each retriever's rank
  *    assignment is a window over its own score order. At 100 TB each
  *    retriever would pre-limit to its top-R (R « corpus) before the
  *    fusion join, which this plan preserves by ranking narrow
  *    projections, not full rows.
  *
  * Oracle discipline: tf/dl/df are integers; avgdl enters as the single
  * double `sdl·1.0/n`; every float expression is written with identical
  * association on both engines and rounded to 4 dp; ranks order by the
  * ROUNDED score with doc-id tiebreak so a final-ulp difference can
  * never reorder the output.
  */
object Search {
  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Fixed query terms for the ranking queries (mid-frequency members of
    * the synthetic corpus's 31-word vocabulary). */
  private val terms = Seq("hash", "scan", "filter")

  private val K1 = 1.2
  private val B = 0.75

  /** Shared (doc_id, w, tf) unigram term-frequency frame over the
    * documents table — the sparse bag-of-words every lexical operator
    * starts from. Registry-persisted once per (session, sf-dir): q130's
    * rerank references it three times in one plan, and the corpus-LM
    * classifiers (q164 NB, q165 DSIR in Curation) ride the same copy —
    * one explode+groupBy shuffle per session, not per query. */
  private[operators] def unigramTf(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"unigram-tf:$dir") {
      T(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).as("tf"))
    }

  /** (doc_id, w, tf, n2): the unigram postings with each doc's squared
    * L2 norm attached — the sparse-vector form a cosine rerank consumes.
    * Registry-persisted: q130 reads it on BOTH sides of its candidate
    * pair join, and attaching n2 here (paid once at build time) lets
    * the pair aggregation carry both endpoint norms as per-group
    * constants instead of re-joining a norms frame twice after the
    * aggregation — two fewer stages per run.
    *
    * The norm rides a doc-partitioned WINDOW over the cached tf frame
    * (r22, guide §2.4): the old groupBy + self-join re-keyed the same
    * frame twice (an aggregate exchange plus the join's own exchange —
    * at broadcast-defeating scale, two full shuffles of the postings
    * where the window pays exactly one). n2 is an exact integer sum
    * over the doc's full partition frame, so the value is identical to
    * the joined aggregate at any row order. */
  private def tfWithNorm(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"tf-norm:$dir") {
      unigramTf(s, dir).withColumn("n2",
        sum(col("tf") * col("tf")).over(Window.partitionBy("doc_id")))
    }

  /** BM25-scored docs: doc_id, dl, tf1..tf3, score (rounded 4 dp).
    *
    * Registry-cached: q115 (top-k) and q116 (hybrid RRF) both consume
    * this exact frame, and before round 9 each rebuilt it — re-running
    * the 3-term feature scan twice made them the #2/#3 slowest bench
    * queries. One persisted copy per (session, sf-dir), same lifecycle
    * as the shared unigram-tf frame below. The scoring itself is the
    * table-agnostic [[bm25Score]] (also on the Graft facade) bound to
    * the documents table — one definition of the formula. */
  private def bm25(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"bm25:$dir") {
      bm25Score(T(s, dir, "documents"), "doc_id", "text", terms, K1, B)
    }

  /** Table-agnostic Okapi BM25 over a whitespace-tokenized text column
    * for a fixed bag of `queryTerms`: returns (`idCol`, dl,
    * tf1..tfN, score) with score = Σᵢ idfᵢ·tfᵢ·(k1+1) /
    * (tfᵢ + k1·(1−b+b·dl/avgdl)), idf = ln((N−df+0.5)/(df+0.5)+1),
    * rounded to 4 dp (order by the rounded score with an id tiebreak so
    * a final-ulp difference can never reorder a top-k).
    *
    * Scale shape: per-doc features are ONE narrow map over the text
    * column (the query terms are known, so there is no tokenize
    * shuffle at all); the corpus stats (N, Σdl, df per term) are one
    * global aggregate broadcast back as a single row. Scan + broadcast
    * — the same plan at any corpus size; the consumer adds its own
    * top-k (TakeOrderedAndProject). Backs q115_bm25_topk /
    * q116_hybrid_rrf via the cached documents binding above. */
  private[graft] def bm25Score(docs: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Score needs at least one query term")
    require(queryTerms.distinct.size == queryTerms.size,
      "duplicate query terms — dedup the bag first")
    val working = "dl" +: "score" +: "n" +: "sdl" +:
      (queryTerms.indices.flatMap(i => Seq(s"tf${i + 1}", s"df${i + 1}")))
    require(!working.contains(idCol),
      s"idCol '$idCol' collides with a BM25 working column — rename first")
    val ws = split(col(textCol), " ")
    val feats = docs.select(
      col(idCol) +: size(ws).as("dl") +:
        queryTerms.zipWithIndex.map { case (t, i) =>
          size(filter(ws, w => w === lit(t))).as(s"tf${i + 1}")
        }: _*)
    val stCols = count(lit(1)).as("n") +: sum(col("dl")).as("sdl") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"tf${i + 1}") > 0, 1).otherwise(0)).as(s"df${i + 1}"))
    val st = feats.agg(stCols.head, stCols.tail: _*)
    feats.crossJoin(broadcast(st))
      .select(bm25ScoreCols(idCol, queryTerms.size, k1, b): _*)
  }

  /** The ONE Okapi scoring projection — factored so [[bm25Score]] (the
    * in-memory path behind q115/q116) and [[searchIndexServe]] (the
    * on-disk path behind q185) build the IDENTICAL expression tree:
    * float association is part of the hash-oracle contract, and two
    * hand-maintained copies of the formula would drift by a
    * parenthesis. Expects (idCol, dl, tf1..tfN, n, sdl, df1..dfN)
    * columns in scope. */
  private def bm25ScoreCols(idCol: String, nTerms: Int, k1: Double,
      b: Double): Seq[Column] = {
    val ad = col("sdl") * lit(1.0) / col("n")
    def idf(i: Int): Column =
      log((col("n") - col(s"df${i + 1}") + lit(0.5))
        / (col(s"df${i + 1}") + lit(0.5)) + lit(1))
    def termScore(i: Int): Column =
      idf(i) * col(s"tf${i + 1}") * lit(k1 + 1) /
        (col(s"tf${i + 1}") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / ad))
    col(idCol) +: col("dl").cast("int").as("dl") +:
      (0 until nTerms).map(i =>
        col(s"tf${i + 1}").cast("int").as(s"tf${i + 1}")) :+
      round((0 until nTerms).map(termScore).reduce(_ + _), 4)
        .as("score")
  }

  /** Reciprocal-rank fusion over ANY number of (`idCol`, `scoreCol`)
    * rankings: each list is cut to its top-`topR` by (score desc, id),
    * ranked 1..topR, and an id's fused score is Σ 1/(k+rankᵢ) over the
    * lists that retrieved it (absent lists contribute nothing — the
    * standard RRF-over-top-R semantics; ids outside every top-R drop
    * out; an id duplicated WITHIN one ranking contributes its best rank
    * exactly once). Returns (`idCol`, n_lists, rrf) rounded to 6 dp;
    * order by (rrf desc, id) for the fused top-k. q116 is the
    * two-retriever inner-join specialization (it keeps only ids present
    * in BOTH lists and exposes the per-list ranks).
    *
    * Scale shape: each limit runs FIRST as a fully parallel
    * per-partition heap-k (TakeOrderedAndProject), so the
    * single-partition rank window only ever sees topR rows — bounded by
    * R, never by the corpus; the fusion is a union + groupBy over
    * ≤ lists·topR rows. */
  private[graft] def rrfFuse(rankings: Seq[DataFrame], idCol: String,
      scoreCol: String, k: Int = 60, topR: Int = 100): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 0, "rank offset k must be non-negative")
    require(topR > 0, "topR must be positive")
    // same reserved-name discipline as bm25Score: a colliding idCol OR
    // scoreCol would fail downstream with an ambiguous-reference error
    // (scoreCol = "rrf" survives the select but breaks the fused-score
    // aggregation exactly like a colliding idCol — both inputs are
    // caller-named, so both get the guard, mirroring langId's
    // idCol+carry check)
    val reserved = Seq("__rank", "__c", "n_lists", "rrf")
    for ((role, c) <- Seq("idCol" -> idCol, "scoreCol" -> scoreCol))
      require(!reserved.contains(c),
        s"rrfFuse: $role '$c' collides with a working/output column " +
          s"(${reserved.mkString(", ")}) — rename first")
    rankings.map { r =>
      val w = Window.orderBy(col(scoreCol).desc, col(idCol))
      r.select(col(idCol), col(scoreCol))
        .orderBy(col(scoreCol).desc, col(idCol)).limit(topR)
        .select(col(idCol), row_number().over(w).as("__rank"))
        // an id appearing more than once in ONE ranking contributes its
        // BEST rank exactly once — without this, a duplicated id would
        // inflate n_lists and double-dip the fused score. Post-limit, so
        // the dedup groupBy is topR-bounded, never corpus-bounded.
        .groupBy(idCol).agg(min(col("__rank")).as("__rank"))
        .select(col(idCol), (lit(1.0) / (lit(k) + col("__rank"))).as("__c"))
    }.reduce(_.union(_))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("int").as("n_lists"),
        round(sum(col("__c")), 6).as("rrf"))
  }

  /** Oracle twin of [[bm25]] — identical expression association. */
  private val oracleBm25: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |d AS (SELECT doc_id, len(ws) AS dl,
      |  len(list_filter(ws, w -> w = 'hash')) AS tf1,
      |  len(list_filter(ws, w -> w = 'scan')) AS tf2,
      |  len(list_filter(ws, w -> w = 'filter')) AS tf3 FROM t),
      |st AS (SELECT count(*) AS n, sum(dl) AS sdl,
      |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
      |  sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3 FROM d),
      |sc AS (SELECT doc_id, CAST(dl AS INTEGER) AS dl,
      |  CAST(tf1 AS INTEGER) AS tf1, CAST(tf2 AS INTEGER) AS tf2,
      |  CAST(tf3 AS INTEGER) AS tf3,
      |  round(ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * tf1 * 2.2
      |          / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sdl * 1.0 / n)))
      |      + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * tf2 * 2.2
      |          / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sdl * 1.0 / n)))
      |      + ln((n - df3 + 0.5) / (df3 + 0.5) + 1) * tf3 * 2.2
      |          / (tf3 + 1.2 * (0.25 + 0.75 * dl / (sdl * 1.0 / n))), 4)
      |    AS score
      |  FROM d, st)""".stripMargin

  /** The BM25 top-10 oracle, shared VERBATIM by q115 (scored from the
    * registry cache) and q185 (served from the on-disk term-bucketed
    * index): the two paths are spec-pinned result-identical
    * (SearchIndexSpec), so one replay of the formula gates both. */
  private val bm25TopOracle: String =
    oracleBm25 +
      "\nSELECT doc_id, dl, tf1, tf2, tf3, score FROM sc " +
      "ORDER BY score DESC, doc_id LIMIT 10"

  /** The RAG-fusion oracle pipeline (chunk → chunk-BM25 ⊕ doc-embedding
    * cosine → RRF → top-10) over a corpus slice: `docsWhere`/`embWhere`
    * restrict the two base tables (empty = the full corpus). The
    * restricted form backs q187, whose Spark side serves the SAME
    * top-10 off stores that ABSORBED the restriction as mutations
    * (a coordinated append completing the corpus, then a coordinated
    * takedown of the excluded slice) — the oracle states the
    * destination corpus declaratively, the engine reaches it through
    * the lifecycle ops, and the hash gate proves they agree. */
  private def ragFuseOracleOver(docsWhere: String,
      embWhere: String): String =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS ws
      |  FROM documents$docsWhere),
      |p AS (SELECT doc_id, ws, len(ws) AS n,
      |  CAST(ceil(greatest(n - 64, 0) / 64.0) AS INTEGER) AS kmax FROM t),
      |x AS (SELECT doc_id, ws, unnest(range(0, kmax + 1)) AS k FROM p),
      |c AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
      |       ws[k*64+1 : k*64+64] AS chunk FROM x),
      |d AS (SELECT doc_id, chunk_idx, len(chunk) AS dl,
      |  len(list_filter(chunk, w -> w = 'hash')) AS tf1,
      |  len(list_filter(chunk, w -> w = 'scan')) AS tf2,
      |  len(list_filter(chunk, w -> w = 'filter')) AS tf3 FROM c),
      |st AS (SELECT count(*) AS n, sum(dl) AS sdl,
      |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
      |  sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3 FROM d),
      |sc AS (SELECT doc_id, chunk_idx,
      |  round(ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * tf1 * 2.2
      |          / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sdl * 1.0 / n)))
      |      + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * tf2 * 2.2
      |          / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sdl * 1.0 / n)))
      |      + ln((n - df3 + 0.5) / (df3 + 0.5) + 1) * tf3 * 2.2
      |          / (tf3 + 1.2 * (0.25 + 0.75 * dl / (sdl * 1.0 / n))), 4)
      |    AS score
      |  FROM d, st),
      |rb AS (SELECT doc_id, chunk_idx, lex_rank FROM (SELECT doc_id,
      |  chunk_idx, CAST(row_number() OVER (ORDER BY score DESC, doc_id,
      |    chunk_idx) AS INTEGER) AS lex_rank FROM sc) WHERE lex_rank <= 100),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |  FROM embeddings$embWhere),
      |nn AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
      |q AS (SELECT v AS qv, nrm AS qnrm FROM nn WHERE vec_id = 0),
      |cs AS (SELECT vec_id,
      |  round(list_sum([nn.v[i]*q.qv[i] for i in range(1, len(nn.v)+1)])
      |        / (nn.nrm*q.qnrm), 4) AS cos_sim
      |  FROM nn, q WHERE vec_id <> 0),
      |rc AS (SELECT vec_id, sem_rank FROM (SELECT vec_id,
      |  CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS INTEGER)
      |    AS sem_rank FROM cs) WHERE sem_rank <= 100)
      |SELECT rb.doc_id, rb.chunk_idx, lex_rank, sem_rank,
      |  round(1.0 / (60 + lex_rank) + 1.0 / (60 + sem_rank), 6) AS rrf
      |FROM rb JOIN rc ON rb.doc_id = rc.vec_id
      |ORDER BY rrf DESC, doc_id, chunk_idx LIMIT 10""".stripMargin

  /** The full-corpus RAG-fusion oracle, shared VERBATIM by q170 (all
    * stages in-memory) and q186 (lexical leg served from the on-disk
    * chunk search index, semantic leg served from the on-disk IVF-PQ
    * index at exhaustive settings) — the splice discipline's fourth
    * instance: one replay of the math gates the composed END-TO-END
    * disk serving path. */
  private val ragFuseOracle: String = ragFuseOracleOver("", "")

  /** q187's oracle: the same fusion over the corpus MINUS the
    * `doc_id % 7 == 3` takedown slice (the modulus avoids the query
    * vector: 0 % 7 == 0, so vec 0 always survives in `q`). */
  private val ragTakedownOracle: String = ragFuseOracleOver(
    " WHERE doc_id % 7 <> 3", " WHERE vec_id % 7 <> 3")

  val defs: Seq[QueryDef] = Seq(

    // ── inverted index: term → collection frequency, doc frequency, and
    //    the first 5 postings (sorted doc ids, serialized — the index
    //    page a keyword-serving layer would store per term)
    QueryDef(
      "q114_inverted_index",
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents)
        |SELECT word, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT doc_id) AS INTEGER) AS df,
        |  array_to_string(list_sort(list_distinct(list(doc_id)))[1:5], ',')
        |    AS postings
        |FROM w GROUP BY word ORDER BY word""".stripMargin) { (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).cast("int").as("df"),
          concat_ws(",",
            slice(array_sort(collect_set(col("doc_id"))), 1, 5)).as("postings"))
        .orderBy("word")
    },

    // ── BM25 top-10 for the fixed 3-term query (k1=1.2, b=0.75); order
    //    by the ROUNDED score so a last-ulp difference cannot reorder
    QueryDef(
      "q115_bm25_topk",
      bm25TopOracle) { (s, dir) =>
      bm25(s, dir).orderBy(col("score").desc, col("doc_id")).limit(10)
    },

    // ── BM25 served from the ON-DISK term-bucketed inverted index:
    //    q115's exact top-10, with the postings read off the parquet
    //    store searchIndexWrite lays out — the third instance of the
    //    disk-lifecycle template (ANN q182, dedup q184), completing
    //    "every resident retrieval state survives the JVM". The query
    //    terms' hash buckets become plan-time PartitionFilters
    //    (|terms| directory families of the index are listed, never
    //    all of it — the q182 probed-cells discipline on text), the
    //    term equality pushes into the parquet scan within them, and
    //    the scoring projection is bm25ScoreCols — the SAME expression
    //    tree q115 runs, so the SAME oracle replays both (top-k among
    //    docs matching ≥1 term ≡ the global top-k whenever ≥ topK docs
    //    score positive — guaranteed here by mid-frequency terms, and
    //    the driver's hash gate would catch any corpus where it broke).
    //    Index built once per corpus dir (this query's timed section
    //    absorbs it — the q182/q184 absorption discipline).
    QueryDef(
      "q185_bm25_disk",
      bm25TopOracle) { (s, dir) =>
      searchIndexServe(s, diskSearchDir(s, dir), terms)
    },

    // ── hybrid search: reciprocal-rank fusion (k=60) of the BM25 and
    //    embedding-cosine retrievers (query vector vec_id=0), each
    //    pre-limited to its top-100. The limit runs FIRST (per-partition
    //    heap-k via TakeOrderedAndProject, fully parallel), so the rank
    //    window only ever sees 100 rows — the single-partition window is
    //    bounded by R, not by the corpus. Standard RRF-over-top-R
    //    semantics: docs outside either top-100 drop at the inner join.
    QueryDef(
      "q116_hybrid_rrf",
      oracleBm25 +
        """,
          |rb AS (SELECT doc_id, lex_rank FROM (SELECT doc_id,
          |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
          |    AS lex_rank FROM sc) WHERE lex_rank <= 100),
          |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |nn AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
          |q AS (SELECT v AS qv, nrm AS qnrm FROM nn WHERE vec_id = 0),
          |cs AS (SELECT vec_id,
          |  round(list_sum([nn.v[i]*q.qv[i] for i in range(1, len(nn.v)+1)])
          |        / (nn.nrm*q.qnrm), 4) AS cos_sim
          |  FROM nn, q WHERE vec_id <> 0),
          |rc AS (SELECT vec_id, sem_rank FROM (SELECT vec_id,
          |  CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS INTEGER)
          |    AS sem_rank FROM cs) WHERE sem_rank <= 100)
          |SELECT doc_id, lex_rank, sem_rank,
          |  round(1.0 / (60 + lex_rank) + 1.0 / (60 + sem_rank), 6) AS rrf
          |FROM rb JOIN rc ON rb.doc_id = rc.vec_id
          |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
      val wb = Window.orderBy(col("score").desc, col("doc_id"))
      val lex = bm25(s, dir)
        .orderBy(col("score").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), row_number().over(wb).as("lex_rank"))
      val vs = Similarity.vectors(s, dir)
      val q = vs.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qnrm"))
      val wc = Window.orderBy(col("cos_sim").desc, col("vec_id"))
      val sem = vs.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(cosineFast(col("v"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(100)
        .select(col("vec_id"), row_number().over(wc).as("sem_rank"))
      lex.join(sem, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
          round(lit(1.0) / (lit(60) + col("lex_rank"))
            + lit(1.0) / (lit(60) + col("sem_rank")), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },

    // ── exact lexical cosine RERANK of the MinHash-LSH candidates: the
    //    verify stage of the two-phase near-dup pipeline (q44 generates,
    //    this scores). Term-frequency vectors stay SPARSE — the dot
    //    product is a sum over shared terms only, computed by joining the
    //    exploded (doc, term, tf) postings to the candidate pairs, never
    //    by materializing dense vectors. Work is O(|candidates| ·
    //    shared-terms), not O(n²·vocab); at 100 TB the postings join is
    //    keyed by doc id, co-partitioned with the candidate list. Float
    //    discipline: tf and the dot product are exact integers; the only
    //    float expression is round(dot/(sqrt(n2_i)·sqrt(n2_j)), 4),
    //    written with identical association on both engines.
    QueryDef(
      "q130_cosine_rerank",
      TextDedup.oracleSig +
        """,
          |cd AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
          |  FROM m a JOIN m b ON a.doc_id < b.doc_id
          |  WHERE (a.mh0=b.mh0 AND a.mh1=b.mh1) OR (a.mh2=b.mh2 AND a.mh3=b.mh3)
          |     OR (a.mh4=b.mh4 AND a.mh5=b.mh5) OR (a.mh6=b.mh6 AND a.mh7=b.mh7)),
          |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
          |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          |        FROM documents)
          |  GROUP BY doc_id, w),
          |n2 AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
          |       FROM tf GROUP BY doc_id),
          |dt AS (SELECT c.doc_i, c.doc_j,
          |  CAST(sum(ti.tf * tj.tf) AS BIGINT) AS dot
          |  FROM cd c
          |  JOIN tf ti ON ti.doc_id = c.doc_i
          |  JOIN tf tj ON tj.doc_id = c.doc_j AND tj.w = ti.w
          |  GROUP BY c.doc_i, c.doc_j)
          |SELECT d.doc_i, d.doc_j, d.dot,
          |  round(d.dot * 1.0 / (sqrt(ni.n2) * sqrt(nj.n2)), 4) AS cosine
          |FROM dt d
          |JOIN n2 ni ON ni.doc_id = d.doc_i
          |JOIN n2 nj ON nj.doc_id = d.doc_j
          |ORDER BY d.doc_i, d.doc_j""".stripMargin) { (s, dir) =>
      // postings with each doc's squared norm attached ONCE (registry-
      // persisted): both pair sides read the same frame, and the norms
      // ride the pair aggregation as per-group constants (min of a
      // per-doc constant), so the two post-aggregation n2 joins the r10
      // plan paid — the #2 driver-amplified stage chain — are gone.
      val tfn = tfWithNorm(s, dir)
      val cand = TextDedup.lshCandidatePairs(s, dir)
      val ti = tfn.select(col("doc_id").as("doc_i"), col("w"),
        col("tf").as("tfi"), col("n2").as("n2i"))
      val tj = tfn.select(col("doc_id").as("doc_j"), col("w"),
        col("tf").as("tfj"), col("n2").as("n2j"))
      cand.join(ti, "doc_i")
        .join(tj, Seq("doc_j", "w"))
        .groupBy("doc_i", "doc_j")
        .agg(sum(col("tfi") * col("tfj")).as("dot"),
          min("n2i").as("n2i"), min("n2j").as("n2j"))
        .select(col("doc_i"), col("doc_j"), col("dot"),
          round(col("dot") * lit(1.0)
            / (sqrt(col("n2i")) * sqrt(col("n2j"))), 4).as("cosine"))
        .orderBy("doc_i", "doc_j")
    },

    // ── RAG retrieval capstone: the operators composed as ONE declared
    //    pipeline — chunk (q96's fixed windows, C=S=64) → lexical BM25
    //    over CHUNKS (q115's formula, chunk-level stats) → semantic
    //    cosine over the parent doc's embedding vs query vec 0 (q46's
    //    shape, shared vectors cache) → reciprocal-rank fusion (q116,
    //    k=60) → top-10 chunks. Proves the pieces compose without glue:
    //    every stage is the same plan shape its standalone query pins.
    //    Scale: chunking is a narrow map; chunk BM25 is scan + one
    //    broadcast stats row + top-k; the semantic side pre-limits to
    //    its top-100 before the fusion join, so the rank windows are
    //    R-bounded, never corpus-bounded. Float discipline: scores
    //    rounded 4 dp before ranking with (doc, chunk) tiebreaks; rrf
    //    rounded 6 dp; identical association both engines.
    QueryDef(
      "q170_rag_fuse",
      ragFuseOracle) {
      (s, dir) =>
      val chunks = T(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("kmax",
          ceil(greatest(size(col("ws")) - 64, lit(0)) / 64.0).cast("int"))
        .select(col("doc_id"),
          col("ws"), explode(sequence(lit(0), col("kmax"))).as("k"))
        .select(col("doc_id"), col("k").cast("int").as("chunk_idx"),
          slice(col("ws"), col("k") * 64 + 1, lit(64)).as("chunk"))
      val d = chunks.select(
        col("doc_id") +: col("chunk_idx") +: size(col("chunk")).as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("chunk"), w => w === lit(t))).as(s"tf${i + 1}")
          }: _*)
      val stCols = count(lit(1)).as("n") +: sum(col("dl")).as("sdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf${i + 1}") > 0, 1).otherwise(0)).as(s"df${i + 1}"))
      val st = d.agg(stCols.head, stCols.tail: _*)
      val ad = col("sdl") * lit(1.0) / col("n")
      def termScore(i: Int): Column =
        log((col("n") - col(s"df${i + 1}") + lit(0.5))
            / (col(s"df${i + 1}") + lit(0.5)) + lit(1)) *
          col(s"tf${i + 1}") * lit(K1 + 1) /
          (col(s"tf${i + 1}") + lit(K1) *
            (lit(1 - B) + lit(B) * col("dl") / ad))
      val sc = d.crossJoin(broadcast(st))
        .select(col("doc_id"), col("chunk_idx"),
          round(termScore(0) + termScore(1) + termScore(2), 4).as("score"))
      val wb = Window.orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
      val lex = sc
        .orderBy(col("score").desc, col("doc_id"), col("chunk_idx")).limit(100)
        .select(col("doc_id"), col("chunk_idx"),
          row_number().over(wb).as("lex_rank"))
      val vs = Similarity.vectors(s, dir)
      val q = vs.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qnrm"))
      val wc = Window.orderBy(col("cos_sim").desc, col("vec_id"))
      val sem = vs.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(cosineFast(col("v"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(100)
        .select(col("vec_id"), row_number().over(wc).as("sem_rank"))
      lex.join(sem, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("chunk_idx"), col("lex_rank"),
          col("sem_rank"),
          round(lit(1.0) / (lit(60) + col("lex_rank"))
            + lit(1.0) / (lit(60) + col("sem_rank")), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"), col("chunk_idx"))
        .limit(10)
    },

    // ── the RAG capstone served ENTIRELY OFF THE THREE-STORE DISK
    //    LAYER: q170's exact pipeline with the lexical leg read from an
    //    on-disk CHUNK-level search index (chunk ids packed as
    //    doc_id·10⁶+chunk_idx — order-isomorphic to (doc_id,
    //    chunk_idx), so the packed-id tiebreak reproduces q170's rank
    //    windows exactly) and the semantic leg served from the q182
    //    on-disk IVF-PQ index at EXHAUSTIVE settings (nprobe = kIvf,
    //    uncapped ADC shortlist): with every cell probed and no ADC
    //    truncation, the shared adcRerank tail's exact-cosine rerank
    //    over the full-precision corpus IS the brute-force top-100 —
    //    by construction, not by luck — which is what lets this query
    //    share q170's oracle verbatim (splice #4). A production serve
    //    sets nprobe < kIvf and accepts q181's measured recall; the
    //    capstone pays exhaustiveness because the oracle demands
    //    exactness. Lexical-leg guarantee: the chunk index's top-100
    //    equals the global chunk ranking while ≥ 100 matched chunks
    //    score positive (mid-frequency terms; the serve caveat) — the
    //    driver's hash gate re-checks it every round. Both index
    //    builds are absorbed in this query's timed section on first
    //    touch (the q182/q184/q185 absorption discipline); the ANN
    //    index memo is shared with q182, so only the chunk index build
    //    is new cost. Proves the three stores compose into the
    //    end-to-end serving path they exist for.
    QueryDef(
      "q186_rag_fuse_disk",
      ragFuseOracle) { (s, dir) =>
      ragFuseDiskServe(s, dir, diskChunkSearchDir(s, dir),
        Similarity.diskIndexDir(s, dir))
    },

    // ── the composed serve AFTER a coordinated mutation cycle — the
    //    cross-store coordination surface under the external oracle
    //    gate: q187's stores are built by the LIFECYCLE OPS themselves
    //    (an initial write of the doc_id % 3 != 0 corpus slice, a
    //    coordinated ledgered `appendAll` of the remainder as one
    //    named batch, a coordinated `takedownAll` of the
    //    doc_id % 7 == 3 slice, then a COMPACT of both stores — the
    //    generational pointer-flip commit, tombstones folded, grace
    //    retained), the serve first asserts the
    //    cross-store snapshot guard (`requireAlignedVersions` — the
    //    r16 verdict's missing #1, here on the oracled path), and the
    //    oracle states the DESTINATION corpus declaratively (q170's
    //    fusion over documents/embeddings minus the takedown slice).
    //    The hash gate therefore proves write ∘ append ∘ takedown ∘
    //    compact ∘ serve ≡ a fresh pipeline on the final corpus — the
    //    maintained-≡-fresh contract, externally judged, compaction
    //    included.
    //    Exactness argument is q186's unchanged: exhaustive ANN
    //    settings make the semantic leg brute-force over the LIVE
    //    (non-tombstoned) vectors; the lexical leg's tombstone-
    //    corrected (n_docs, sum_dl, df) stats equal a fresh index on
    //    the surviving chunks by construction. Store builds + the two
    //    mutations are absorbed in this query's timed section on first
    //    touch (the q182/q184/q185/q186 absorption discipline); the
    //    takedown slice is ~1/7 of the corpus, so the mutation is
    //    OBSERVABLE in the top-10, not a no-op rubber stamp.
    QueryDef(
      "q187_coord_takedown",
      ragTakedownOracle) { (s, dir) =>
      val (csDir, annDir) = coordStoreDirs(s, dir)
      Stores.requireAlignedVersions(s, Seq(annDir, csDir))
      ragFuseDiskServe(s, dir, csDir, annDir)
    },

    // ── fuzzy blocked join (entity resolution): canonicalize part names
    //    to distinct entities FIRST (the dedupe-then-match discipline —
    //    matching raw rows would inflate the pair count quadratically
    //    with duplication), block on the last name token (the entity's
    //    head noun) plus a cheap length band, and only then pay the
    //    expensive metric (levenshtein ≤ 2) inside each block. At 100 TB
    //    the block key is the shuffle key and the candidate set is
    //    Σ|block|² over DISTINCT entities — corpus growth adds weight to
    //    n_parts, not to the pair space.
    QueryDef(
      "q137_fuzzy_match",
      """WITH nm AS (SELECT p_name AS name, count(*) AS n_parts
        |            FROM part GROUP BY p_name),
        |b AS (SELECT name, n_parts, string_split(name,' ')[-1] AS blk FROM nm)
        |SELECT a.name AS name_a, b2.name AS name_b,
        |  CAST(levenshtein(a.name, b2.name) AS INTEGER) AS dist,
        |  CAST(a.n_parts AS INTEGER) AS n_parts_a,
        |  CAST(b2.n_parts AS INTEGER) AS n_parts_b
        |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name
        |  AND abs(length(a.name) - length(b2.name)) <= 2
        |WHERE levenshtein(a.name, b2.name) <= 2
        |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
      val nm = T(s, dir, "part")
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).cast("int").as("n_parts"))
        .withColumn("blk", substring_index(col("name"), " ", -1))
      nm.as("a").join(nm.as("b"),
          col("a.blk") === col("b.blk")
            && col("a.name") < col("b.name")
            && abs(length(col("a.name")) - length(col("b.name"))) <= 2)
        .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
          levenshtein(col("a.name"), col("b.name")).as("dist"),
          col("a.n_parts").as("n_parts_a"), col("b.n_parts").as("n_parts_b"))
        .filter(col("dist") <= 2)
        .orderBy("name_a", "name_b")
    }
  )

  // ───────────────── ON-DISK SEARCH INDEX ─────────────────
  // The lexical retrieval state (postings + doc lengths + corpus
  // stats) persists as a parquet dataset whose postings are
  // PARTITIONED BY TERM-HASH BUCKET — a query's terms resolve to
  // <= |terms| bucket literals at plan time, so the serve scan lists
  // only those directory families (the PartitionFilters guarantee
  // q182's probed cells established), and the term equality pushes
  // into the parquet scan within them. At 100 TB the postings list is
  // the big artifact; reading |query terms|/nBuckets of it per query —
  // independent of corpus size — is the difference between a search
  // index and a table scan.

  private[operators] val SearchTokenizer = "whitespace"

  /** Declared read schemas — `bkt` is the partition directory key
    * (the cell/band discipline). */
  private val SearchPostingsSchema = "doc_id BIGINT, term STRING, tf INT, bkt INT"
  private val SearchDocsSchema = "doc_id BIGINT, dl INT"

  /** Tombstone read schema: `dl` is CAPTURED AT DELETE TIME (looked up
    * from `docs/` while the delete runs) so a serve can subtract a
    * deleted doc from the corpus-global (n_docs, sum_dl) stats by
    * aggregating the SMALL tombstone set alone — never re-scanning the
    * corpus-sized docs sidecar per query. This is the one place the
    * search store is harder than the dedup store's stateless bands:
    * BM25's stats are corpus-global, so a delete must carry enough
    * state to reconcile them. */
  private val SearchTombSchema = "doc_id BIGINT, dl INT"

  /** The search store's [[Stores.StoreLayout]]: term-hash-bucketed
    * postings plus the per-doc lengths (with a doc_id replay check),
    * and the generational (n_docs, sum_dl) stats sidecar a compact
    * republishes with them; doc_id tombstones carry `dl`
    * ([[SearchTombSchema]]). The manifest, ingest ledger and
    * corpus-version stamp are store-life state. Hooks: the bucket
    * count comes from the manifest ([[checkSearchManifest]]); deletes
    * write idempotent (doc_id, dl) tombstones; a compact restores
    * postings ⊆ docs and re-derives the stats; stats add each bucket's
    * distinct-term count; fsck checks the two append-crash windows. */
  private[graft] val SearchLayout: Stores.StoreLayout = new Stores.StoreLayout(
      "searchIndex", Seq(Stores.StoreDataset("postings", SearchPostingsSchema),
        Stores.StoreDataset("docs", SearchDocsSchema, dupKey = Seq("doc_id"))),
      partCol = "bkt", tombSchema = SearchTombSchema,
      tombCols = Seq("doc_id"), sidecarKinds = Seq("stats"),
      statsCount = "n_postings", mainNoun = "postings") {
    def partitions(s: SparkSession, dir: String): Int =
      checkSearchManifest(s, dir)

    /** (doc_id, dl) rows for the NOVEL ids: dl looked up from the docs
      * sidecar NOW, and ids already tombstoned (or absent from the
      * store) skipped, so a retried delete cannot double-subtract the
      * stats correction — the one way this store's delete is STRICTER
      * than the others' (whose anti-join semantics forgive duplicates
      * for free). The docs scan keeps its own shape (keyed joins left
      * to the planner — a compliance batch can be corpus-scale) and
      * funnels to one file only at the write. The docs semi-join emits
      * each docs row at most once, so duplicate ids need no
      * normalizing shuffle. */
    override protected def tombRows(s: SparkSession, dir: String, g: Long,
        ids: DataFrame): DataFrame = {
      val novel = tombstones(s, dir, g).fold(ids)(t =>
        ids.join(t.select("doc_id"), Seq("doc_id"), "left_anti"))
      Stores.onePartition(read(s, dir, "docs", g)
        .join(novel, Seq("doc_id"), "left_semi"), _.repartition(1))
    }

    /** Postings keep only rows whose doc survives in the compacted docs
      * — the `postings ⊆ docs` invariant a crash inside
      * [[searchIndexAppend]]'s window breaks (ORPHANED postings cannot
      * rank, but transiently inflate their terms' df, and a delete
      * cannot tombstone an id docs/ never saw) — and the new stats are
      * derived from the new docs write. */
    override protected def compactInto(s: SparkSession, dir: String,
        ng: Long, n: Int, live: String => DataFrame): Unit = {
      val liveDocs = live("docs")
      writeParts(live("postings")
          .join(liveDocs.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id", "term", "tf", "bkt"),
        n, path(dir, "postings", ng), "overwrite")
      writeDocsWithStats(liveDocs, dir, ng)
    }

    override protected def statsAggs: Seq[Column] =
      Seq(countDistinct(col("term")).as("terms"))

    override protected def statsShape(joined: DataFrame,
        counts: DataFrame): DataFrame =
      joined.select(col("bkt"), liveCount.as("n_postings"),
        coalesce(col("terms"), lit(0L)).as("n_terms"), col("files"))

    /** The append's two crash windows: stats behind docs/ (re-derived)
      * and orphaned postings whose doc never landed (compacted). */
    override protected def fsckChecks(s: SparkSession, dir: String,
        g: Long, execute: Boolean): Seq[(String, String, String)] = {
      val (nDocs, sumDl) = docsAggStats(s, path(dir, "docs", g))
      val stale = Stores.readMetaSidecar(s, path(dir, "stats", g))
        .forall(st => st("n_docs").toLong != nDocs ||
          st("sum_dl").toLong != sumDl)
      if (stale && execute) writeSearchStats(s, dir, g, nDocs, sumDl)
      val orphans = read(s, dir, "postings", g)
        .join(read(s, dir, "docs", g).select("doc_id"), Seq("doc_id"),
          "left_anti")
        .count()
      if (orphans > 0 && execute) compact(s, dir)
      Seq(
        if (!stale) ("stats", "consistent", "none")
        else ("stats", "stale (≠ agg over docs/)",
          if (execute) "re-derived from docs/" else "would re-derive"),
        if (orphans == 0) ("orphan-postings", "none", "none")
        else ("orphan-postings", s"$orphans rows (doc never landed)",
          if (execute) "compacted (postings ⊆ docs restored)"
          else "would compact"))
    }
  }

  /** Write the search index: postings (doc_id, term, tf) bucketed by
    * term hash under `postings/bkt=<b>/…`, per-doc lengths under
    * `docs/`, the (n_docs, sum_dl) corpus stats under `stats/`
    * (OBSERVED on the docs write action itself — the metrics row is
    * collected from exactly the task set whose files the commit
    * publishes, so the stats can never disagree with the lengths the
    * scorer joins; a missed observation falls back to the read-back
    * aggregate, see [[observedStats]]), and a manifest (bucket count +
    * tokenizer) every serve validates. `nBuckets` sizes the pruning
    * granularity: a serve reads ~|query terms|/nBuckets of the
    * postings, so grow it with the corpus (the default suits the test
    * corpus; a web-scale index wants thousands).
    *
    * Caller contract (the [[dedupIndexAppend]] rule, stated here too —
    * r15 advice): `docs` ids must be UNIQUE. A repeated id doubles its
    * rows in docs/ and postings/, inflating n_docs, sum_dl and its own
    * tf with no error — exact-dedup the frame first (q40) if unsure.
    * Rebuild-safe ([[Stores.StoreLayout.rebuild]]). */
  private[graft] def searchIndexWrite(docs: DataFrame, outDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 8): Unit = {
    require(nBuckets >= 1, "searchIndexWrite: nBuckets must be >= 1")
    val s = docs.sparkSession
    SearchLayout.rebuild(s, outDir) {
    Stores.writeMetaSidecar(s, s"$outDir/manifest",
      Seq("n_buckets" -> nBuckets.toString, "tokenizer" -> SearchTokenizer))
    // docs (+ its observed stats sidecar) and postings are disjoint
    // datasets derived from the same input — their two write jobs run
    // CONCURRENTLY (r22, Stores.inParallel): the rebuild-safe initial
    // write has no cross-artifact ordering (a torn write of either
    // half is the same re-run-the-write repair; fsck classifies both)
    Stores.inParallel(s)(
      writeDocsWithStats(docLengths(docs, idCol, textCol), outDir, 0L),
      SearchLayout.writeParts(postingsOf(docs, idCol, textCol, nBuckets),
        nBuckets, s"$outDir/postings", "overwrite"))
    }
  }

  /** (doc_id, dl) per doc — the docs dataset's rows. */
  private def docLengths(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      size(split(col(textCol), " ")).as("dl"))

  /** (doc_id, term, tf, bkt) postings, bucketed by term hash. */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("int").as("tf"))
      .withColumn("bkt",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))

  /** The (n_docs, sum_dl) aggregate over docs rows — observed on a
    * docs write action, or read back ([[docsAggStats]]). */
  private def docStats: Seq[Column] = Seq(
    count(lit(1)).cast("long").as("n"),
    coalesce(sum(col("dl").cast("long")), lit(0L)).as("sdl"))

  /** Write generation `g`'s docs dataset and its stats sidecar, the
    * stats OBSERVED on the write action itself ([[observedStats]]) —
    * the full-derivation point of [[searchIndexWrite]] and every
    * compact. */
  private def writeDocsWithStats(docs: DataFrame, dir: String,
      g: Long): Unit = {
    val obs = org.apache.spark.sql.Observation()
    val p = SearchLayout.path(dir, "docs", g)
    docs.observe(obs, docStats.head, docStats.tail: _*)
      .write.mode("overwrite").parquet(p)
    val (n, sdl) = observedStats(docs.sparkSession, obs, p)
    writeSearchStats(docs.sparkSession, dir, g, n, sdl)
  }

  /** Append a DELTA of docs to an existing index under its frozen
    * bucket geometry (read from the manifest, never assumed). The
    * corpus-global stats sidecar is reconciled INCREMENTALLY: new
    * stats = stored one-row stats + the delta's own (count, Σdl)
    * aggregate — EXACT, not approximate, because count and sum are
    * associative, so the invariant `stats ≡ agg(docs/)` holds at every
    * rest point by induction from the write's read-back derivation.
    * The incremental form is the 100 TB requirement, not a shortcut:
    * an append (and every streaming micro-batch riding it) costs
    * O(|delta|) + two one-row jobs, independent of how much corpus the
    * index has absorbed — a full docs/ re-scan per batch would grow
    * linearly with index age. [[searchIndexWrite]] and
    * [[searchIndexCompact]] remain the full re-derivation points (the
    * self-healing resets of the induction base). Per-term df needs no
    * reconciliation at all: the serve counts df from the pruned
    * postings themselves (a postings row exists iff tf > 0), so
    * appended postings ARE the df update. Spec-pinned: append(old,
    * delta) serves identically to a full rebuild over old ∪ delta.
    *
    * Caller contract: delta ids must be NEW (the [[searchIndexWrite]]
    * unique-id rule across lives). Crash honesty: the three writes
    * (postings append, docs append, stats overwrite) are not atomic —
    * dying after only the postings leaves ORPHANED rows (unrankable,
    * since the serve's dl join drops them, but transiently inflating
    * the affected terms' df); dying after the docs leaves the delta
    * counted-but-stats-stale. The one repair covers every window:
    * [[searchIndexDelete]] of the delta ids that reached docs/ +
    * [[searchIndexCompact]] (which also reclaims orphans — it keeps
    * only postings whose doc survives), then re-append — the same
    * at-least-once window and repair as [[searchIndexIngest]]. */
  private[graft] def searchIndexAppend(docs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    // Pin the delta ONCE (r16 advice): the three derivations inside
    // (stats delta, postings, docs) would otherwise re-evaluate the
    // caller's frame, and a non-deterministic input (sample/limit, a
    // re-read mutating source, rand-derived ids) could make the
    // written rows diverge from the stats delta — silently breaking
    // the stats ≡ agg(docs/) invariant the serve depends on.
    // localCheckpoint is eager and O(|delta|), within the append's
    // cost contract (and it spares the delta plan two re-executions).
    // The pin is RELEASED once the append's writes have materialized
    // — checkpoint blocks are invisible to the release ledger and
    // before r18 stayed resident for the session (r17 footprint tail).
    val pinned = docs.localCheckpoint()
    try searchIndexAppendPinned(pinned, indexDir, idCol, textCol)
    finally
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(pinned)
  }

  /** [[searchIndexAppend]] for a delta the CALLER already pinned (or a
    * pure derivation of a pinned frame — [[Stores.appendAll]]'s
    * chunked dispatch): skips the internal checkpoint, since the input
    * is already deterministic and a second pin would only
    * re-materialize the delta and add another resident block set. */
  private[operators] def searchIndexAppendPinned(pinned: DataFrame,
      indexDir: String, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val s = pinned.sparkSession
    SearchLayout.append(s, indexDir) { g =>
    val nBuckets = checkSearchManifest(s, indexDir)
    // one-row reads BEFORE the appends, so a crash mid-append can only
    // leave stats BEHIND the data (under-counting the delta — the
    // documented repair window), never double-counting it
    val old = readSearchStats(s, indexDir, g)
    SearchLayout.writeParts(postingsOf(pinned, idCol, textCol, nBuckets),
      nBuckets, SearchLayout.path(indexDir, "postings", g), "append")
    // the delta's (count, Σdl) rides the docs append itself as an
    // observed metric (one job where the r18 form ran a separate
    // delta aggregate before the writes — the r18 verdict's shared-
    // action coalescing): the observation measures exactly the rows
    // the commit publishes, so `stats ≡ agg(docs/)` still holds at
    // every rest point, and a crash anywhere before the stats write
    // still leaves stats BEHIND the data (never ahead)
    val obs = org.apache.spark.sql.Observation()
    docLengths(pinned, idCol, textCol)
      .observe(obs, docStats.head, docStats.tail: _*)
      .write.mode("append").parquet(SearchLayout.path(indexDir, "docs", g))
    Stores.awaitObserved(s, obs) match {
      case Some(r) => writeSearchStats(s, indexDir, g,
        old._1 + r.getLong(0), old._2 + r.getLong(1))
      case None =>
        // observation never fired (a non-SQL execution path would be
        // the only way) — fall back to the FULL re-derivation, which
        // is strictly more authoritative than old + delta
        val (n, sdl) = docsAggStats(s,
          SearchLayout.path(indexDir, "docs", g))
        writeSearchStats(s, indexDir, g, n, sdl)
    }
    }
  }

  /** LOGICAL delete (takedowns, [[Stores.StoreLayout.delete]]): record
    * (doc_id, dl) tombstones — dl looked up from the docs sidecar NOW,
    * so serves subtract the deleted docs from the corpus-global stats
    * by aggregating the small tombstone set, never re-scanning docs/
    * per query (see [[SearchTombSchema]]). Serving subtracts
    * immediately; [[searchIndexCompact]] reclaims the space.
    * Idempotent: ids already tombstoned (or absent from the store) are
    * skipped, so a retried delete cannot double-subtract the stats
    * correction. */
  private[graft] def searchIndexDelete(s: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit = SearchLayout.delete(s, indexDir, ids)

  /** FRAME-shaped [[searchIndexDelete]] — the no-collect takedown
    * path: `ids` carries one `doc_id`-castable column and never
    * crosses the driver. Identical semantics to the Seq form
    * (spec-pinned). */
  private[graft] def searchIndexDelete(s: SparkSession, indexDir: String,
      ids: DataFrame): Unit = SearchLayout.delete(s, indexDir, ids)

  /** Compact into the NEXT GENERATION ([[Stores.StoreLayout.compact]]):
    * postings (one file per bucket) and docs rewritten with tombstones
    * applied physically, the stats sidecar derived from the new docs
    * write, and everything committed with one atomic generation flip —
    * postings, docs, stats and the now-empty tombstone set change
    * together or not at all. The pre-compact generation stays as the
    * serve grace; crash pre-flip leaves torn `-g<N+1>` scratch, crash
    * post-flip expired generations — both fsck hygiene.
    *
    * PURGE NOTE (takedown compliance): the grace generation still
    * carries the tombstoned rows' bytes, so the PHYSICAL purge of a
    * delete completes at the SECOND compact after it
    * ([[Stores.purgeAll]]).
    *
    * Compaction also restores the `postings ⊆ docs` invariant, so the
    * documented append-crash repair (delete the landed delta ids +
    * compact) reclaims BOTH halves of the wreckage (spec-pinned). */
  private[graft] def searchIndexCompact(s: SparkSession,
      indexDir: String): Unit = SearchLayout.compact(s, indexDir)

  /** Per-bucket health report ([[Stores.StoreLayout.stats]]):
    * (bkt, n_postings, n_terms, files) — live posting rows and
    * distinct terms plus parquet files per bucket directory (the
    * compaction trigger). n_terms is the skew lens the other stores
    * don't need: term-hash bucketing is static, so a pathologically
    * hot bucket argues for a rebuild at a higher bucket count, and
    * this report is where that shows. */
  private[graft] def searchIndexStats(s: SparkSession,
      indexDir: String): DataFrame = SearchLayout.stats(s, indexDir)

  /** CONTINUOUS ingestion: each micro-batch of `delta` (idCol, textCol
    * — new ids only) is appended under the frozen bucket geometry,
    * guarded by the batch-id ledger ([[Stores.StoreLayout.ingest]]).
    * The stats sidecar is rewritten per batch (a one-row overwrite —
    * the corpus-global reconciliation appends force on this store). */
  private[graft] def searchIndexIngest(delta: DataFrame, indexDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    checkSearchManifest(delta.sparkSession, indexDir)
    SearchLayout.ingest(delta, indexDir, checkpointDir)(
      searchIndexAppend(_, indexDir, idCol, textCol))
  }

  /** The store MAINTENANCE POLICY ([[Stores.StoreLayout.maintain]]):
    * per bucket, (bkt, n_postings, files, tomb, action) — dead rows
    * are, uniquely here, also dead weight in the stats correction. No
    * retrain action: term-hash bucketing has no trained state; a
    * hot-bucket skew shows in [[searchIndexStats]]'s n_terms column
    * and argues for a REBUILD at a higher bucket count. */
  private[graft] def searchIndexMaintain(s: SparkSession,
      indexDir: String, maxFiles: Int = 8, maxTombBp: Long = 2000L,
      execute: Boolean = false): DataFrame =
    SearchLayout.maintain(s, indexDir, maxFiles, maxTombBp, execute)

  /** A query term's postings bucket, computed DRIVER-SIDE: the same
    * `pmod(xxhash64(term), nBuckets)` the write path stamps per row,
    * evaluated through the identical Catalyst hash kernel
    * (`XxHash64Function` at Spark's fixed seed 42) on the driver — so
    * serve construction needs NO Spark job to learn which bucket
    * directories to prune to (the r18 form ran a |terms|-row collect
    * per serve; at one job ≈ 0.1–0.4 s of scheduler floor that was
    * pure overhead on every q185/q186/q187 serve and every per-query
    * serve at scale). Write-path/serve-path agreement is spec-pinned
    * (SearchIndexSpec compares this against the column expression). */
  private[operators] def termBucket(term: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // evaluate THE Catalyst expression (not a reimplementation of its
    // hash), so write-path/serve-path agreement holds by construction
    val h = new XxHash64(Seq(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType)))
      .eval(null).asInstanceOf[Long]
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  /** Validate a store's manifest (tokenizer match) and return its
    * frozen bucket count — every lifecycle op routes through this so a
    * store written under a different tokenizer or bucketing can never
    * be silently served/appended in the wrong term space. The manifest
    * is a raw [[Stores.writeMetaSidecar]] file: it is read at every
    * serve construction, and as a one-row parquet dataset each read
    * was a full Spark job. */
  private def checkSearchManifest(s: SparkSession,
      indexDir: String): Int = {
    val man = Stores.readManifest(s, indexDir)
    require(man("tokenizer") == SearchTokenizer,
      s"index at $indexDir was written with tokenizer " +
        s"'${man("tokenizer")}' — this library serves '$SearchTokenizer'")
    man("n_buckets").toInt
  }

  /** The (n_docs, sum_dl) pair for a freshly WRITTEN docs dataset:
    * the observed metrics of the write action itself when available
    * (no extra job — the observation measures exactly the rows the
    * commit published), else the read-back aggregate the pre-r19 form
    * always ran. Either way the `stats ≡ agg(docs/)` induction base
    * holds: the observation is collected from the same task set whose
    * files the commit protocol publishes, and the fallback re-derives
    * from those files directly. [[Stores.searchIndexFsck]] keeps the
    * independent read-back check as the runtime safety net. */
  private def observedStats(s: SparkSession,
      obs: org.apache.spark.sql.Observation,
      docsPath: String): (Long, Long) =
    Stores.awaitObserved(s, obs) match {
      case Some(r) => (r.getLong(0), r.getLong(1))
      case None => docsAggStats(s, docsPath)
    }

  /** The read-back (count, Σdl) aggregate over a docs dataset — the
    * observation fallback and full re-derivation. */
  private def docsAggStats(s: SparkSession, docsPath: String): (Long, Long) = {
    val st = s.read.schema(SearchDocsSchema).parquet(docsPath)
      .agg(docStats.head, docStats.tail: _*).head()
    (st.getLong(0), st.getLong(1))
  }

  /** The corpus-global (n_docs, sum_dl) stats sidecar — one raw
    * metadata file (see [[Stores.writeMetaSidecar]]): appends read and
    * rewrite it per batch (the incremental reconcile) and every serve
    * reads it at construction, so keeping it a driver-side FS op
    * instead of a one-row parquet dataset removes a Spark job from
    * each of those paths. */
  private[graft] def writeSearchStats(s: SparkSession, indexDir: String,
      g: Long, nDocs: Long, sumDl: Long): Unit =
    Stores.writeMetaSidecar(s, SearchLayout.path(indexDir, "stats", g),
      Seq("n_docs" -> nDocs.toString, "sum_dl" -> sumDl.toString))

  /** Read generation `g`'s (n_docs, sum_dl) stats sidecar; loud when
    * absent. Stats are generational so a compact can publish the
    * re-derived row atomically with the datasets it describes. */
  private[graft] def readSearchStats(s: SparkSession,
      indexDir: String, g: Long): (Long, Long) = {
    val m = Stores.readMetaSidecar(s, SearchLayout.path(indexDir, "stats", g))
      .getOrElse(throw new IllegalStateException(
        s"no stats sidecar under $indexDir — not a search store, or a " +
          "crashed write; run Stores.searchIndexFsck"))
    (m("n_docs").toLong, m("sum_dl").toLong)
  }

  /** Serve a BM25 top-`topK` for `queryTerms` OFF the on-disk index:
    * the terms' hash buckets are computed DRIVER-SIDE into literal
    * partition-filter values — via [[termBucket]], the write path's
    * own Catalyst hash evaluated on the driver, so construction
    * launches NO Spark job (r19; the r18 form collected a |terms|-row
    * frame per serve) while keeping the guarantee the eagerness buys:
    * a plan-time `PartitionFilters: [bkt IN (…)]` the scan never
    * lists other bucket directories for. df per term and the matched
    * docs' tf columns come from that pruned scan (one pass — df
    * derives from the per-doc aggregate, exchange-reused), dl joins
    * from the docs sidecar, and the scoring projection is
    * [[bm25ScoreCols]] — the byte-identical expression tree the
    * in-memory q115 runs.
    * Tombstoned docs are subtracted everywhere they could show: the
    * pruned postings are anti-joined (so deleted docs neither rank nor
    * count toward df), and the corpus stats are corrected by the
    * tombstones' own (count, Σdl) — a broadcast aggregate over the
    * small delete set, never a docs/ re-scan (see [[SearchTombSchema]]).
    *
    * HARD CAVEAT (default mode): the result is the top-k among docs
    * matching >= 1 query term. That equals [[bm25Score]]'s GLOBAL
    * top-k whenever >= topK matched docs carry a positive rounded
    * score — true for mid-frequency terms over a real corpus (q185's
    * case, where the driver's hash gate would catch any break), but a
    * tiny index or a rounded-to-zero tail diverges: the global top-k
    * pads with zero-scoring unmatched docs this serve never reads.
    * `includeZeroMatches = true` opts into exact global semantics for
    * arbitrary terms — unmatched live docs enter with tf=0, score 0 —
    * at the cost of a corpus-sized docs/ anti-join + top-k (the pruned
    * scan is the point of the index; the option exists so the caveat
    * has an escape hatch, not as the serving default). */
  private[graft] def searchIndexServe(s: SparkSession, indexDir: String,
      queryTerms: Seq[String], k1: Double = K1, b: Double = B,
      topK: Int = 10, includeZeroMatches: Boolean = false): DataFrame = {
    require(queryTerms.nonEmpty, "searchIndexServe needs query terms")
    require(queryTerms.distinct.size == queryTerms.size,
      "duplicate query terms — dedup the bag first")
    require(topK >= 1, "searchIndexServe: topK must be >= 1")
    val nBuckets = checkSearchManifest(s, indexDir)
    // pin the generation ONCE at construction: every dataset this plan
    // reads (postings, docs, stats, tombstones) comes from the same
    // generation, and that generation's files survive one further
    // compact (the vacuum grace) — the snapshot-isolation contract
    val g = Stores.currentGen(s, indexDir)
    import s.implicits._
    val bkts = queryTerms.map(termBucket(_, nBuckets)).distinct
    val tombs = SearchLayout.tombstones(s, indexDir, g)
    val post = SearchLayout.minusTombs(s, indexDir, g,
      SearchLayout.read(s, indexDir, "postings", g)
        .filter(col("bkt").isin(bkts.map(Int.box): _*)
          && col("term").isin(queryTerms: _*)))
    // one-row stats: df per term from the pruned postings (a postings
    // row exists iff tf > 0, so the count IS the doc frequency) plus
    // the corpus-wide (n, sdl) the write recorded, minus the deleted
    // docs' own one-row aggregate
    val (nAll, sdlAll) = readSearchStats(s, indexDir, g)
    val rawStats = Seq((nAll, sdlAll)).toDF("n", "sdl")
    val corrected = tombs.fold(rawStats)(t =>
      rawStats.crossJoin(broadcast(
          t.agg(count(lit(1)).as("tn"),
            coalesce(sum(col("dl").cast("long")), lit(0L)).as("tdl"))))
        .select((col("n") - col("tn")).as("n"),
          (col("sdl") - col("tdl")).as("sdl")))
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when(col("term") === t, col("tf"))), lit(0))
        .as(s"tf${i + 1}") }
    // `matched` feeds two consumers (the df row and the scorer): the
    // exchange lets both share ONE scan of the pruned postings, as
    // Spark shares a CTE, where a one-partition slice would be scanned
    // twice; over the aggregate's own doc_id partitioning the planner
    // drops it
    val matched = post.groupBy("doc_id").agg(tfCols.head, tfCols.tail: _*)
      .repartition(col("doc_id"))
    // df per term from the MATCHED per-doc aggregate, not a second
    // pass over the pruned scan (r19): a doc carries term i iff its
    // summed tfᵢ > 0 (postings rows exist iff tf > 0 under the
    // unique-id contract), so counting tfᵢ > 0 docs here equals
    // counting postings rows per term — and because this aggregate
    // and the scorer both consume `matched`, the groupBy's exchange
    // is REUSED and the postings slice is scanned once per serve
    // instead of twice.
    // coalesce: over an EMPTY pruned scan (every term a vocabulary
    // miss) the sums are NULL, which would null every score — the
    // default mode never surfaces it (matched is empty too), but
    // includeZeroMatches mode would return NULL-scored rows where the
    // global scorer returns exact 0.0
    val dfCols = queryTerms.indices.map(i =>
      coalesce(sum(when(col(s"tf${i + 1}") > 0, 1).otherwise(0)), lit(0))
        .as(s"df${i + 1}"))
    val st = matched.agg(dfCols.head, dfCols.tail: _*)
      .crossJoin(broadcast(corrected))
    val base =
      if (!includeZeroMatches) matched
      else matched.unionByName(
        SearchLayout.live(s, indexDir, "docs", g)
          .join(matched.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id") +: queryTerms.indices.map(i =>
            lit(0L).as(s"tf${i + 1}")): _*))
    base
      // matched side is df-bounded, docs sidecar is corpus-sized:
      // keyed join, deliberately unhinted — AQE broadcasts the matched
      // side when it is small, shuffles when a stopword query makes it
      // corpus-sized (the allow-list non-hint rule of the ANN serve)
      .join(SearchLayout.read(s, indexDir, "docs", g), "doc_id")
      .crossJoin(broadcast(st))
      .select(bm25ScoreCols("doc_id", queryTerms.size, k1, b): _*)
      .orderBy(col("score").desc, col("doc_id")).limit(topK)
  }

  /** The on-disk index behind q185 — built once per corpus dir into a
    * process-temp directory (the [[graft.operators.Similarity.diskIndexDir]]
    * memo contract, including the warm-replay trap: ledger derivations
    * must [[resetDiskSearchMemo]]). Built INDEPENDENTLY of the registry
    * caches (one tokenize pass) so the bench ledger is untouched. */
  private val diskSearchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def resetDiskSearchMemo(): Unit = {
    diskSearchDirs.clear()
    diskChunkSearchDirs.clear()
    coordDirs.clear()
  }

  private[graft] def diskSearchDir(s: SparkSession, dir: String): String =
    diskSearchDirs.computeIfAbsent(dir, _ => {
      val out = Stores.storeScratchDir(s, "graft-searchidx-q185")
      searchIndexWrite(T(s, dir, "documents"), out)
      out
    })

  /** Packing base for chunk ids in the chunk-level search index:
    * chunk_id = doc_id·base + chunk_idx. Base far above any real
    * chunk count per doc (the fixed C=S=64 chunking yields
    * ~tokens/64 chunks), so packed ids order exactly like
    * (doc_id, chunk_idx) — the property q186's rank-window equality
    * with q170 rests on. The packing bounds doc_id: ids must sit in
    * [0, Long.MaxValue/base ≈ 9.2e12) or doc_id·base overflows Long —
    * [[chunkCorpus]] enforces the bound per row (r16 advice). */
  private[operators] val ChunkIdBase = 1000000L

  /** Exclusive upper bound on packable doc ids (≈ 9.22e12). */
  private[graft] val MaxChunkDocId = Long.MaxValue / ChunkIdBase

  /** The q170/q96 fixed-window chunking (C = S = 64) as an indexable
    * (chunk_id, chunk_text) corpus: the same slice arithmetic as
    * q170's inline chunker, with the token array re-joined to text so
    * [[searchIndexWrite]]'s whitespace tokenizer reproduces the
    * original token sequence exactly (split/concat_ws round-trips on
    * single-space joins, empties included). */
  private[graft] def chunkCorpus(docs: DataFrame): DataFrame =
    docs
      // per-row packability guard: a doc_id at or beyond MaxChunkDocId
      // would overflow the packed chunk_id silently (wrong ids, wrong
      // joins) — fail loudly instead. One codegen'd branch per row, no
      // extra job; negative ids are equally unpackable (pmod would
      // shift the unpack).
      .select(
        when(col("doc_id") >= 0 && col("doc_id") < MaxChunkDocId,
          col("doc_id"))
          .otherwise(raise_error(concat(
            lit("chunkCorpus: doc_id "), col("doc_id").cast("string"),
            lit(s" not packable — need 0 <= doc_id < $MaxChunkDocId"))))
          .as("doc_id"),
        split(col("text"), " ").as("ws"))
      .withColumn("kmax",
        ceil(greatest(size(col("ws")) - 64, lit(0)) / 64.0).cast("int"))
      .select(col("doc_id"),
        col("ws"), explode(sequence(lit(0), col("kmax"))).as("k"))
      .select(
        (col("doc_id") * ChunkIdBase + col("k")).cast("long")
          .as("chunk_id"),
        concat_ws(" ", slice(col("ws"), col("k") * 64 + 1, lit(64)))
          .as("chunk_text"))

  /** The on-disk CHUNK-level index behind q186 — same memo contract as
    * [[diskSearchDir]] (one build per corpus dir, q186's timed section
    * absorbs it; ledger derivations reset via [[resetDiskSearchMemo]],
    * which clears BOTH search memos). */
  private val diskChunkSearchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def diskChunkSearchDir(s: SparkSession,
      dir: String): String =
    diskChunkSearchDirs.computeIfAbsent(dir, _ => {
      val out = Stores.storeScratchDir(s, "graft-searchidx-q186")
      searchIndexWrite(
        chunkCorpus(T(s, dir, "documents")), out,
        idCol = "chunk_id", textCol = "chunk_text")
      out
    })

  /** The q170/q186 fusion served off an arbitrary (chunk search index,
    * ANN index) pair — q186 reads the pristine builds, q187 the
    * coordinated-mutation survivors; one body, so the two queries can
    * only diverge through the stores they read. Semantic leg at the
    * exhaustive settings that make the disk serve brute-force-exact
    * (nprobe = kIvf, uncapped ADC shortlist); chunk ids unpacked with
    * exact integer arithmetic (r16 advice — see q186's history). */
  private def ragFuseDiskServe(s: SparkSession, dir: String,
      chunkSearchDir: String, annDir: String): DataFrame = {
    val lexServe = searchIndexServe(s, chunkSearchDir, terms, topK = 100)
    val wb = Window.orderBy(col("score").desc, col("doc_id"))
    val lex = lexServe
      .select(col("doc_id").as("cid"),
        row_number().over(wb).as("lex_rank"))
      .select(expr(s"cid div ${ChunkIdBase}L").as("doc_id"),
        pmod(col("cid"), lit(ChunkIdBase)).cast("int").as("chunk_idx"),
        col("lex_rank"))
    val wc = Window.orderBy(col("cos_sim").desc, col("vec_id"))
    val sem = Similarity.ivfPqIndexServe(
        Similarity.int8Codes(s, dir), annDir,
        queryId = 0L, nprobe = 4, m = 4, subDim = 16,
        coarseK = 100000, topK = 100)
      .select(col("vec_id"), row_number().over(wc).as("sem_rank"))
    lex.join(sem, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("chunk_idx"), col("lex_rank"),
        col("sem_rank"),
        round(lit(1.0) / (lit(60) + col("lex_rank"))
          + lit(1.0) / (lit(60) + col("sem_rank")), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"), col("chunk_idx"))
      .limit(10)
  }

  /** The mutated two-store layout behind q187, built ONCE per corpus
    * dir by the COORDINATION OPS themselves (the memo contract of
    * [[diskSearchDir]]; q187's timed section absorbs it):
    *
    *   1. initial writes over the `doc_id % 3 != 0` corpus slice —
    *      the chunk-level search index and the IVF-PQ index (frozen
    *      trained model frames; what the codebooks saw is irrelevant
    *      under q187's exhaustive serve settings);
    *   2. [[Stores.appendAll]] of the remaining `% 3 == 0` docs+
    *      vectors as ONE named ledgered batch — both stores absorb
    *      the same delta and land stamp-aligned;
    *   3. [[Stores.takedownAll]] of the `doc_id % 7 == 3` slice —
    *      doc-level ANN tombstones, packed-range chunk tombstones,
    *      both stores SET to the common target stamp.
    *
    *   4. [[searchIndexCompact]]/[[Similarity.ivfPqIndexCompact]] on
    *      both stores — the generational commit (tombstones folded
    *      into generation 1, stats re-derived, grace retained), so
    *      the oracle-replayed serve reads a post-compact store.
    *
    * Net corpus = documents minus the takedown slice, which is what
    * q187's oracle states directly. The takedown arrives as DATA (the
    * frame-shaped [[Stores.takedownAll]], r18): the id slice never
    * crosses the driver, so the same bootstrap runs unchanged when the
    * takedown batch is compliance-feed-sized. At bench scale its
    * inputs fit one split, so the size rule
    * ([[org.apache.spark.sql.graft.OnePartition]]) runs its ~25 small
    * actions one task each instead of a stage per shuffle. */
  private val coordDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[operators] def coordStoreDirs(s: SparkSession,
      dir: String): (String, String) =
    coordDirs.computeIfAbsent(dir, _ => {
      val root = Stores.storeScratchDir(s, "graft-coord-q187")
      val cs = s"$root/chunksearch"
      val ann = s"$root/ann"
      val docs = T(s, dir, "documents")
      // the two stores' initial builds touch disjoint inputs
      // (chunked docs vs int8 codes + model frames) and disjoint
      // output dirs — run them CONCURRENTLY (r22, guide §2.6 /
      // Stores.inParallel): the absorbed section's cost at bench
      // scale is its serial job-chain length, and these five write
      // jobs collapse to the longer branch's three
      Stores.inParallel(s)(
        searchIndexWrite(
          chunkCorpus(docs.filter(col("doc_id") % 3 =!= 0)), cs,
          idCol = "chunk_id", textCol = "chunk_text"),
        Similarity.ivfPqIndexWrite(
          Similarity.int8Codes(s, dir).filter(col("vec_id") % 3 =!= 0),
          ann, kIvf = 4, m = 4, subDim = 16, k = 8,
          codebooks = Some(Similarity.pqBooks(s, dir)),
          centroids = Some(Similarity.ivfCentroidIdx(s, dir))))
      val stores = Seq(Stores.ChunkSearchStore(cs, ChunkIdBase),
        Stores.AnnStore(ann))
      // LEFT join (r22 correctness fix, caught by the first full
      // sf0.1 oracle replay): the lexical chunk store must absorb
      // EVERY appended document — the oracle's destination corpus is
      // `documents` minus the takedown slice — while the ANN store
      // appends only the vector-carrying rows (int8CodedVectors
      // drops NULL/zero embeddings via its absmax > 0 gate). The old
      // INNER join silently dropped every `% 3 == 0` doc without an
      // embedding row from the chunk store; invisible at
      // sf0.001/sf0.01 (embeddings cover all docs there — the SFs
      // the driver's gate replays), ~20% of the appended slice's
      // chunks lost at sf0.1 (2000 embeddings / 5000 docs), read as
      // lex_rank off by 4 in the fused top-10.
      val delta = docs.filter(col("doc_id") % 3 === 0)
        .join(T(s, dir, "embeddings"), col("doc_id") === col("vec_id"), "left")
        .select(col("doc_id"), col("text"), col("embedding").as("emb"))
      Stores.appendAll(delta, "q187-bootstrap", stores)
      // takedown as DATA — the frame-shaped form: the id slice is a
      // plan, never a driver-side literal list (r17 missing #1)
      Stores.takedownAll(s,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"), stores)
      // and COMPACT both stores, so the serve q187's oracle replays
      // reads generation 1 through the atomic pointer flip — the
      // generational compact itself (tombstones folded, stats
      // re-derived, grace retained) sits under the external gate, not
      // just the spec pin. Compaction is corpus-neutral, so the
      // oracle is untouched; stamps don't bump, so alignment holds.
      // Concurrent across the two stores (r22): each compact is its
      // own store's generational rewrite + pointer flip — no shared
      // artifact, no cross-store ordering to preserve.
      Stores.inParallel(s)(
        searchIndexCompact(s, cs),
        Similarity.ivfPqIndexCompact(s, ann))
      (cs, ann)
    })
}
