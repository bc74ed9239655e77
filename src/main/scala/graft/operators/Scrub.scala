package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Corpus-scrubbing operators for training-data curation (SURVEY.md §2C):
  * train-side decontamination (drop every TRAIN doc sharing an n-gram with
  * the eval set — the publish-side twin of q92's per-doc overlap report),
  * PII-style masking of digit runs in semi-structured event payloads, and
  * corpus-derived stopword removal.
  *
  * Scale notes (100 TB posture):
  *  - decontamination joins the HUGE side (train postings) against the
  *    SMALL side (eval-set n-gram vocabulary): the vocab broadcasts, so
  *    the train scan never shuffles to find contaminated docs;
  *  - masking is a pure narrow map (regexp over one column) — embarrassingly
  *    parallel, stays inside whole-stage codegen;
  *  - stopword removal computes the stoplist with one partial-agg'd
  *    explode→count shuffle, then broadcasts the 20-word array to a
  *    narrow higher-order filter — the "compute a small dim, broadcast
  *    it" pipeline shape; duplicates of non-stopwords are preserved
  *    (array_except would dedup, a correctness trap).
  */
object Scrub {
  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Same deterministic md5 doc-bucket as q88/q92: bk<80 train, bk>=90 test. */
  private def bucket =
    graft.plans.HexWindowToLong.md5Bucket(col("doc_id"), 100)

  /** doc_ids of TRAIN docs sharing ≥1 shingle with the eval vocabulary —
    * an exact broadcast semi join (eval vocabs fit in a broadcast at
    * any realistic eval-set size). */
  private[operators] def contaminatedIds(
      train: DataFrame, testVocab: DataFrame): DataFrame =
    train.select(col("doc_id"), explode(col("sh")).as("tok"))
      .join(broadcast(testVocab), Seq("tok"), "left_semi")
      .select("doc_id").distinct()

  val defs: Seq[QueryDef] = Seq(

    // ── publish-side decontamination: the TRAIN docs that survive after
    //    dropping everything that shares a 3-gram with the eval split.
    //    q92 reports per-TEST-doc contamination; this emits the clean
    //    TRAIN set a pipeline would actually ship.
    QueryDef(
      "q99_decontam_clean",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) AS s
        |  FROM w WHERE len(ws) >= 3),
        |b AS (SELECT doc_id, s,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bk
        |  FROM sh),
        |tv AS (SELECT DISTINCT unnest(s) AS tok FROM b WHERE bk >= 90),
        |tr AS (SELECT doc_id, len(s) AS n_shingles, unnest(s) AS tok
        |       FROM b WHERE bk < 80),
        |bad AS (SELECT DISTINCT doc_id FROM tr JOIN tv USING (tok))
        |SELECT doc_id, CAST(n_shingles AS INTEGER) AS n_shingles
        |FROM (SELECT DISTINCT doc_id, n_shingles FROM tr) t
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val withSplit = TextDedup.docShingles(s, dir).withColumn("bk", bucket)
      val train = withSplit.filter(col("bk") < 80)
        .select(col("doc_id"), size(col("sh")).as("n_shingles"), col("sh"))
      val testVocab = withSplit.filter(col("bk") >= 90)
        .select(explode(col("sh")).as("tok")).distinct()
      train.join(contaminatedIds(train, testVocab), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_shingles"))
        .orderBy("doc_id")
    },

    // ── PII-style masking: collapse every digit run in the event payload
    //    to '#' and count the runs — the log-scrubbing shape (the synthetic
    //    props are small JSON, so the interesting part is the plumbing:
    //    a codegen'd regexp map over the payload column, zero shuffles
    //    before the contract ORDER BY).
    QueryDef(
      "q100_scrub_digits",
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS INTEGER) AS n_digit_runs
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      T(s, dir, "events")
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "#").as("scrubbed"),
          size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
            .as("n_digit_runs"))
        .orderBy("event_id")
    },

    // ── corpus-derived stopword removal: stoplist = top-20 words by
    //    global frequency (count desc, word asc — deterministic at ties),
    //    broadcast as one array row; each doc keeps its word ORDER and
    //    non-stopword DUPLICATES (higher-order filter, not array_except).
    //    md5 of the rejoined text pins the full cleaned content.
    QueryDef(
      "q101_stopword_scrub",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |tok AS (SELECT unnest(ws) AS t FROM w),
        |top AS (SELECT t, count(*) AS c FROM tok GROUP BY t
        |        ORDER BY c DESC, t LIMIT 20),
        |st AS (SELECT list_sort(list(t)) AS stop FROM top),
        |c AS (SELECT doc_id,
        |        list_filter(ws, x -> NOT list_contains(stop, x)) AS kept
        |      FROM w, st)
        |SELECT doc_id, CAST(len(kept) AS INTEGER) AS n_kept,
        |  CASE WHEN len(kept) > 0 THEN md5(array_to_string(kept, ' '))
        |       ELSE NULL END AS kept_md5
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val stop = docs.select(explode(col("ws")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(20)
        .agg(sort_array(collect_list(col("t"))).as("stop"))
      docs.crossJoin(broadcast(stop))
        .select(col("doc_id"),
          filter(col("ws"), x => !array_contains(col("stop"), x)).as("kept"))
        .select(col("doc_id"), size(col("kept")).as("n_kept"),
          // a fully-scrubbed doc hashes to NULL, not md5('') — DuckDB's
          // array_to_string([]) is NULL, and NULL is the honest value
          when(size(col("kept")) > 0,
            md5(encode(concat_ws(" ", col("kept")), "UTF-8"))).as("kept_md5"))
        .orderBy("doc_id")
    },

    // ── corpus-duplicated SPAN removal: the transform twin of q98's
    //    score. Any 3-gram appearing in ≥5 distinct docs is boilerplate;
    //    every token it covers is cut and the doc is rebuilt from the
    //    surviving tokens (the repeated-span dedup of Lee et al.'s
    //    "Deduplicating Training Data Makes Language Models Better",
    //    expressed relationally). Scale shape: ONE corpus shuffle (the
    //    gram→df partial-agg'd groupBy); the hot set is small by
    //    construction (frequency-capped vocabulary) so it broadcasts
    //    back to the positioned-gram stream; covered positions collapse
    //    per doc and the rebuild is a narrow higher-order map. Docs with
    //    no hot span pass through via the left join. Integer positions
    //    and md5 output only — nothing float anywhere.
    QueryDef(
      "q133_span_scrub",
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |pg AS (SELECT doc_id,
        |  unnest(range(1, len(ws)-1)) AS p,
        |  unnest([array_to_string(ws[i:i+2],' ')
        |          for i in range(1, len(ws)-1)]) AS g
        |  FROM w WHERE len(ws) >= 3),
        |hot AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df
        |                       FROM pg GROUP BY g) WHERE df >= 5),
        |cv AS (SELECT doc_id,
        |         list_distinct(flatten(list([p, p+1, p+2]))) AS cov
        |       FROM pg JOIN hot USING (g) GROUP BY doc_id),
        |c AS (SELECT w.doc_id, w.ws, coalesce(cv.cov, []) AS cov
        |      FROM w LEFT JOIN cv ON w.doc_id = cv.doc_id),
        |k AS (SELECT doc_id, len(ws) AS n_tokens,
        |        [ws[i] for i in range(1, len(ws)+1)
        |         if NOT list_contains(cov, i)] AS kept
        |      FROM c)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  CAST(n_tokens - len(kept) AS INTEGER) AS n_removed,
        |  CASE WHEN len(kept) > 0 THEN md5(array_to_string(kept, ' '))
        |       ELSE NULL END AS kept_md5
        |FROM k ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val pg = docs.filter(size(col("ws")) >= 3)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ws")) - 2),
            i => struct(i.as("p"),
              concat_ws(" ", element_at(col("ws"), i),
                element_at(col("ws"), i + 1),
                element_at(col("ws"), i + 2)).as("g")))).as("x"))
        .select(col("doc_id"), col("x.p").as("p"), col("x.g").as("g"))
      val hot = pg.groupBy("g")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 5).select("g")
      val cov = pg.join(broadcast(hot), "g")
        .select(col("doc_id"),
          explode(array(col("p"), col("p") + 1, col("p") + 2)).as("i"))
        .groupBy("doc_id")
        .agg(collect_set(col("i")).as("cov"))
      docs.join(cov, Seq("doc_id"), "left")
        .withColumn("cov",
          coalesce(col("cov"), typedLit(Array.empty[Int])))
        .withColumn("kept",
          transform(
            filter(sequence(lit(1), size(col("ws"))),
              i => !array_contains(col("cov"), i)),
            i => element_at(col("ws"), i)))
        .select(col("doc_id"), size(col("ws")).as("n_tokens"),
          (size(col("ws")) - size(col("kept"))).as("n_removed"),
          when(size(col("kept")) > 0,
            md5(encode(concat_ws(" ", col("kept")), "UTF-8")))
            .as("kept_md5"))
        .orderBy("doc_id")
    },

    // ── PII audit: the per-source leak report a scrub pipeline publishes
    //    before release — how many documents carry an email / phone /
    //    URL pattern and how many total hits each source contributes.
    //    The synthetic corpus carries no natural PII, so the audited
    //    corpus derives deterministically from the md5 gate (q148
    //    discipline): gate-selected docs get an email, phone, or URL
    //    appended — both engines decorate identically, and the audit's
    //    regexes must then find EXACTLY the planted set (the ScrubSpec
    //    pin). The audit itself is production-shaped: one narrow map of
    //    3 regexp_extract_all counts per doc, one partial-agg'd groupBy
    //    per source — linear scan cost at any corpus size, no shuffle
    //    beyond the 20-group aggregate. Patterns stay inside the
    //    Java-regex ∩ RE2 common dialect (no backrefs, no lookaround),
    //    so both engines match the same language.
    QueryDef(
      "q152_pii_audit",
      """WITH d AS (SELECT source,
        |  CASE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10
        |    WHEN 0 THEN text || ' contact bob.smith@example.com now'
        |    WHEN 1 THEN text || ' call 555-867-5309 today'
        |    WHEN 2 THEN text || ' see https://example.org/p?id=7 page'
        |    ELSE text END AS t
        |  FROM documents),
        |c AS (SELECT source,
        |  len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+[.][a-z]+')) AS e,
        |  len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS p,
        |  len(regexp_extract_all(t, 'https?://[a-z0-9./?=]+')) AS u
        |  FROM d)
        |SELECT source,
        |  CAST(count(*) AS INTEGER) AS n_docs,
        |  CAST(sum(e) AS BIGINT) AS n_emails,
        |  CAST(sum(p) AS BIGINT) AS n_phones,
        |  CAST(sum(u) AS BIGINT) AS n_urls,
        |  CAST(count(CASE WHEN e + p + u > 0 THEN 1 END) AS BIGINT)
        |    AS n_pii_docs
        |FROM c GROUP BY source
        |ORDER BY source""".stripMargin) { (s, dir) =>
      val gate = graft.plans.HexWindowToLong.md5Bucket(col("doc_id"), 10)
      val t = when(gate === 0,
          concat(col("text"), lit(" contact bob.smith@example.com now")))
        .when(gate === 1, concat(col("text"), lit(" call 555-867-5309 today")))
        .when(gate === 2,
          concat(col("text"), lit(" see https://example.org/p?id=7 page")))
        .otherwise(col("text"))
      val c = T(s, dir, "documents")
        .select(col("source"),
          size(regexp_extract_all(t,
            lit("[a-z0-9.]+@[a-z0-9.]+[.][a-z]+"), lit(0))).as("e"),
          size(regexp_extract_all(t,
            lit("[0-9]{3}-[0-9]{3}-[0-9]{4}"), lit(0))).as("p"),
          size(regexp_extract_all(t,
            lit("https?://[a-z0-9./?=]+"), lit(0))).as("u"))
      c.groupBy("source")
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("e")).as("n_emails"),
          sum(col("p")).as("n_phones"),
          sum(col("u")).as("n_urls"),
          count(when(col("e") + col("p") + col("u") > 0, 1)).as("n_pii_docs"))
        .orderBy("source")
    }
  )
}
