package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Hints.withoutBroadcastHints
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VectorFunctions.lshBucket
import graft.operators.{Search, Similarity, Stores, TextDedup,
  TimeSeriesJoins}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{BandCollision, Doc, TimedDoc}
import graft.tools.Profile

/** Growth laws of the sub-quadratic paths, pinned by work counters.
  *
  * Each law compares a counter between two replica corpora of the
  * sf0.001 fixture — 1× and 8× its documents and embeddings, replicas
  * decorrelated by [[Replicas]] so dup density stays constant — and
  * asserts its growth exponent α = ln(c₈/c₁)/ln 8: 1 is linear, 0 flat,
  * 2 quadratic. Counters come from [[Profile.measure]] (records read
  * from files, cached blocks and shuffles; the busiest task's shuffle
  * output), from the operator's own output (candidate pairs, bucket and
  * cluster sizes) or from streaming progress (state rows per
  * micro-batch). None is a time, so reruns print identical numbers and
  * no bound carries slack for a noisy box.
  *
  * Reads are counted in records, not bytes: Spark's per-task input
  * bytes miss most of a Parquet scan (a 69,861-byte file set reads as
  * 8,794 bytes), while file records are exact. The one byte counter
  * counts the ANN serve's scans of a cached frame, whose blocks read
  * as their whole size.
  *
  * The near-linear laws run on [[wide]], the at-scale regime: every
  * corpus file is its own input split, nothing broadcasts unless
  * hinted, and a cached batch holds one row. There an all-pairs join is
  * a cartesian product whose records grow with corpus × splits, where
  * a broadcast nested-loop join would hide its pair space from every
  * task counter.
  */
class GrowthLawSpec extends SparkTestBase {
  import spark.implicits._

  private val Base = "/root/testdata/sf0.001"
  private val M = 8

  /** Four files per replica, range-partitioned by id so that each
    * file holds one replica's rows: the corpus grows by new files. */
  private lazy val dirs: Map[Int, String] = {
    val root = Files.createTempDirectory("graft-growth").toString
    Seq(1, M).map { m =>
      val dir = s"$root/m$m"
      Replicas.scaledDocuments(spark, Base, m)
        .repartitionByRange(4 * m, col("doc_id"))
        .write.parquet(s"$dir/documents.parquet")
      Replicas.scaledEmbeddings(spark, Base, m)
        .repartitionByRange(4 * m, col("vec_id"))
        .write.parquet(s"$dir/embeddings.parquet")
      m -> dir
    }.toMap
  }

  /** The at-scale regime: opening a file costs a whole split, so each
    * file is one split; no broadcast unless hinted; one row per cached
    * batch, so a cached block counts its rows as records. */
  private lazy val wide: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.files.openCostInBytes",
      s.conf.get("spark.sql.files.maxPartitionBytes"))
    s.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "1")
    s
  }

  private def cold(): Unit = {
    Seq(spark, wide).foreach(CacheRegistry.clear)
    Stores.resetStoreMemos()
  }

  /** One counter at 1× and 8×. */
  private final case class Law(at1: Long, at8: Long) {
    def alpha: Double =
      if (at1 == at8) 0.0 else math.log(at8.toDouble / at1) / math.log(M)
  }

  /** Counters named by `at` at 1× and 8×, each run from cold caches;
    * prints one line per counter. */
  private def growth(path: String)(
      at: (Int, String) => Seq[(String, Long)]): Map[String, Law] = {
    val Seq(c1, cM) = Seq(1, M).map { m => cold(); at(m, dirs(m)) }
    c1.zip(cM).map { case ((counter, a), (_, b)) =>
      val law = Law(a, b)
      info(f"$path%-20s $counter%-18s 1x=$a%-8d ${M}x=$b%-8d " +
        f"alpha=${law.alpha}%.2f")
      counter -> law
    }.toMap
  }

  private def assertAlpha(laws: Map[String, Law], counter: String,
      max: Double): Unit =
    assert(laws(counter).alpha <= max,
      f"$counter grows at alpha ${laws(counter).alpha}%.2f, law bound $max")

  /** Records a body read: file scans, cached blocks and shuffles. */
  private def records(s: SparkSession)(body: => Any): Long = {
    val t = Profile.measure(s)(body)._2
    t.inputRecords + t.shuffleRecords
  }

  /** Every row and column of `df`, so no operator is pruned away. */
  private def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def log2Ceil(m: Int): Int = 32 - Integer.numberOfLeadingZeros(m - 1)

  test("banded MinHash: candidate pairs grow near-linearly") {
    val a = growth("minhash_banded") { (_, dir) =>
      Seq("candidate_pairs" ->
        TextDedup.chainCandidatePairs(spark, dir).count())
    }
    assertAlpha(a, "candidate_pairs", 1.1)
  }

  test("dup clusters: connected-components rounds stay flat") {
    val a = growth("dup_clusters") { (_, dir) =>
      val t = Profile.measure(spark)(TextDedup.connectedComponents(
        TextDedup.chainJaccardPairs(spark, dir)
          .select(col("doc_i").as("src"), col("doc_j").as("dst"))).count())._2
      // one changed-count action per round, plus a fixed few around it
      Seq("sql_executions" -> t.jobs.flatMap(_.execution).distinct.size.toLong)
    }
    assertAlpha(a, "sql_executions", 0.0)
  }

  test("hyperplane LSH: planes = 4 + log2 m slow the largest bucket") {
    val a = growth("hyperplane_lsh") { (m, dir) =>
      Seq("max_bucket" -> Similarity.vectors(spark, dir)
        .groupBy(lshBucket(col("v"), 4 + log2Ceil(m))).count()
        .agg(max("count")).head().getLong(0))
    }
    // not flat: one dense cluster keeps a quarter to a third of the
    // fixture in one bucket at any plane count, which is why the pair
    // join also tiles hot buckets; fixed 4 planes read alpha 0.97
    assertAlpha(a, "max_bucket", 0.85)
  }

  test("SemDeDup: the largest cluster stays flat with K = 8m") {
    val a = growth("semdedup") { (m, dir) =>
      Seq("max_cluster" -> Similarity.semDedup(Similarity.vectors(spark, dir),
          8 * m, 0.45)
        .groupBy("cluster").count().agg(max("count")).head().getLong(0))
    }
    assertAlpha(a, "max_cluster", 0.2)
  }

  /** Hot-bucket tiling: `HotCopies` copies of one key put a k(k-1)/2
    * pair space in one bucket; tiles of `TilePairs` pairs give a salt of
    * k²/TilePairs. The session forces a shuffle join with one shuffle
    * partition per tile. */
  private val HotCopies = 400L
  private val TilePairs = 10000L
  private val Salt = (HotCopies * HotCopies / TilePairs).toInt

  private lazy val tiled: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", Salt.toString)
    s
  }

  /** The busiest task's share of the hot pair space: its shuffle
    * output carries the pairs it joined. */
  private def hotShare(path: String)(body: => Any): Double = {
    val t = Profile.measure(tiled)(body)._2
    val share = t.maxTaskShuffleWritten.toDouble /
      (HotCopies * (HotCopies - 1) / 2)
    info(f"$path%-20s busiest_task_share=$share%.3f salt=$Salt")
    share
  }

  test("hot-bucket tiling bounds the busiest task's share by the salt") {
    val docs = Tables(tiled, Base, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(tiled.range(HotCopies).select(
        (col("id") + 10000000L).as("doc_id"),
        lit("page not found the requested resource is gone please check " +
          "the address and try again or return home").as("text")))
    val sessions = tiled.range(1000).select(
        (col("id") + 1000L).as("user_id"), lit(0L).as("sid"),
        explode(array(lit("a"),
          concat(lit("t"), (col("id") % 97).cast("string")),
          concat(lit("u"), (col("id") % 53).cast("string")))).as("event_type"))
      .unionByName(tiled.range(HotCopies).select(lit(1L).as("user_id"),
        lit(0L).as("sid"),
        concat(lit("m"), col("id").cast("string")).as("event_type")))
    val minhash = hotShare("minhash_hot_bucket")(
      TextDedup.minhashCandidatePairs(docs, "doc_id", "text",
        tilePairs = TilePairs).count())
    val session = hotShare("session_hot_bucket")(
      TimeSeriesJoins.sessionPairCounts(sessions, tilePairs = TilePairs)
        .count())
    // the boilerplate fills four band buckets, each tiled, and a task
    // may hold one pair's tiles from several bands: 8 tiles' worth
    assert(minhash <= 8.0 / Salt && session <= 8.0 / Salt,
      s"busiest task holds $minhash / $session of the hot pair space")
  }

  test("ANN store: serves read the probed cells' rows, appends none") {
    val a = growth("ivfpq_disk") { (m, dir) =>
      // cached through `wide`: Spark's cache manager serves every session
      // the first session's cached copy of a plan
      val vecs = Similarity.vectors(wide, dir).filter(col("codes").isNotNull)
      // the corpus as a local relation: reading it counts no input rows,
      // so a serve's input rows are the store's
      val codes = spark.createDataFrame(
        spark.sparkContext.parallelize(vecs.collect().toSeq), vecs.schema)
      val codesBytes = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      val idx = s"$dir/annidx"
      def storeRows(body: => DataFrame) =
        Profile.measure(spark)(drain(body))._2.inputRecords
      def serve(allowed: Option[DataFrame] = None) = storeRows(
        Similarity.ivfPqIndexServe(codes, idx, queryId = 0L, nprobe = 2,
          m = 4, subDim = 16, coarseK = 20, topK = 10, allowed))
      val build = records(wide)(Similarity.ivfPqIndexWrite(vecs, idx,
        kIvf = 4 * m, m = 4, subDim = 16, k = 8))
      val served = serve()
      // a cached block reads as its full size, so bytes count how many
      // times a serve scans the cached `codes` frame
      val codesReads = 100 * Profile.measure(spark)(drain(
        Similarity.ivfPqIndexServe(vecs, idx, queryId = 0L, nprobe = 2,
          m = 4, subDim = 16, coarseK = 20, topK = 10)))._2.inputBytes /
        codesBytes
      val filtered = serve(Some(codes
        .filter(col("vec_id") < 500 && col("vec_id") % 10 === 1)
        .select("vec_id")))
      val batch = storeRows(Similarity.ivfPqIndexServeBatch(codes, idx,
        qMax = 5L, nprobe = 2, m = 4, subDim = 16, coarseK = 20, topK = 3))
      val wave = codes.filter(col("vec_id") < 100)
      val append = records(spark)((1 to 2).foreach { i =>
        Similarity.ivfPqIndexAppend(wave.withColumn("vec_id",
          col("vec_id") + lit(Replicas.IdStride * (m + i))), idx, m = 4,
          subDim = 16)
      })
      val fragmented = serve()
      val compact = records(wide)(Similarity.ivfPqIndexCompact(wide, idx))
      Seq("build" -> build, "serve1" -> served,
        "codes_reads_pct" -> codesReads, "filt1" -> filtered,
        "batch5" -> batch, "append2" -> append, "frag_serve" -> fragmented,
        "compact" -> compact, "serve2" -> serve())
    }
    Seq("serve1", "filt1", "frag_serve", "serve2", "append2")
      .foreach(assertAlpha(a, _, 0.1))
    // five queries probe up to 10 cells: all 4 at 1x, at most 10 at 8x
    assertAlpha(a, "batch5", math.log(10 / 4.0) / math.log(M) + 0.05)
    // the query-vector lookups and the exact-cosine rerank each scan the
    // whole `codes` frame: four corpus reads per serve at any size
    val reads = a("codes_reads_pct")
    assert(reads.at1 <= 410 && reads.at8 <= 410,
      s"a serve scans the codes frame ${reads.at8 / 100.0} times")
    Seq("build", "compact").foreach(assertAlpha(a, _, 1.2))
  }

  /** Records one streaming-ingest micro-batch of 100 fresh docs reads. */
  private def ingestOneBatch(dir: String)(
      start: (DataFrame, String) => StreamingQuery): Long = {
    val in = MemoryStream[Doc](spark)
    val q = start(in.toDF(), Files.createTempDirectory("graft-ingest").toString)
    try records(spark) {
      in.addData((0 until 100).map(i =>
        Doc(Replicas.IdStride * 50 + i, s"fresh ingest doc number $i")))
      q.processAllAvailable()
    } finally q.stop()
  }

  test("search store: serves read the probed buckets, appends not the store") {
    val a = growth("search_disk") { (m, dir) =>
      val docs = Tables(spark, dir, "documents")
      val idx = s"$dir/searchidx"
      val build = records(wide)(Search.searchIndexWrite(
        Tables(wide, dir, "documents"), idx, nBuckets = 8 * m))
      // the docs/ sidecar (doc lengths) is scanned and shuffled whole on
      // every serve; what is left is the probed buckets' postings
      val serve = records(spark)(drain(Search.searchIndexServe(spark, idx,
        Seq("hash", "scan", "filter")))) - 2 * docs.count()
      val wave = docs.filter(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(Replicas.IdStride * 40))
        .localCheckpoint()
      val append = records(spark)(Search.searchIndexAppend(wave, idx))
      val ingest = ingestOneBatch(dir)(Search.searchIndexIngest(_, idx, _))
      Seq("build" -> build, "serve_postings" -> serve, "append" -> append,
        "ingest" -> ingest)
    }
    Seq("serve_postings", "append", "ingest").foreach(assertAlpha(a, _, 0.1))
    assertAlpha(a, "build", 1.2)
  }

  test("dedup store: a serve reads the resident bands once, ingest none") {
    val a = growth("dedup_disk") { (m, dir) =>
      val docs = Tables(spark, dir, "documents")
      val idx = s"$dir/dedupidx"
      val build = records(wide)(TextDedup.dedupIndexWrite(
        Tables(wide, dir, "documents"), idx))
      val batch = docs.filter(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(Replicas.IdStride * 20))
        .localCheckpoint()
      // every band is probed, so a serve reads the resident band view
      // once; what is left is the batch's own work
      val serve = records(spark)(drain(TextDedup.dedupIndexServe(batch, idx))) -
        spark.read.parquet(s"$idx/bands").count()
      val ingest = ingestOneBatch(dir)(TextDedup.dedupIndexIngest(_, idx, _))
      Seq("build" -> build, "serve_beyond_store" -> serve, "ingest" -> ingest)
    }
    Seq("serve_beyond_store", "ingest").foreach(assertAlpha(a, _, 0.1))
    assertAlpha(a, "build", 1.2)
  }

  test("streaming: state rows per micro-batch stay flat") {
    val docs = Tables(spark, dirs(M), "documents")
      .select(col("doc_id"), col("text")).as[Doc].collect()
      .sortBy(_.doc_id).toSeq
    val batches = docs.grouped(docs.size / 4).toSeq
    val ckpt = Files.createTempDirectory("graft-growth-ckpt").toString
    def startIngest(in: MemoryStream[Doc]) =
      StreamingOps.ingestDedup(in.toDS()).writeStream
        .foreachBatch((ds: Dataset[BandCollision], _: Long) => ds.count(): Unit)
        .outputMode("update").option("checkpointLocation", ckpt).start()
    def rowsUpdated(q: StreamingQuery) =
      q.lastProgress.stateOperators.head.numRowsUpdated
    val in = MemoryStream[Doc](spark)
    val q = startIngest(in)
    val updated = try batches.map { b =>
      in.addData(b)
      q.processAllAvailable()
      rowsUpdated(q)
    } finally q.stop()
    // restart from the checkpoint with every batch's state resident
    val q2 = startIngest(in)
    val afterRestart = try {
      in.addData(batches.head.map(d => d.copy(doc_id = d.doc_id + 1)))
      q2.processAllAvailable()
      rowsUpdated(q2)
    } finally q2.stop()
    info(s"ingestDedup rows_updated per batch ${updated.mkString(" ")} " +
      s"after_restart $afterRestart")
    assert((updated :+ afterRestart).max <= updated.head * 1.1,
      "ingestDedup state rows updated per batch must not grow with history")

    // one tumbling window per batch; the watermark closes the previous
    // one, so at most 2 windows × 5 sources are live at any batch
    val reference = Tables(spark, Base, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val din = MemoryStream[TimedDoc](spark)
    val dq = StreamingOps.driftMonitor(din.toDS(), reference).writeStream
      .format("memory").queryName("growth_drift").outputMode("append").start()
    val live = try batches.zipWithIndex.map { case (b, i) =>
      din.addData(b.map(d => TimedDoc(d.doc_id,
        new Timestamp(1700000000000L + i * 3600000L), s"s${d.doc_id % 5}",
        d.text)))
      dq.processAllAvailable()
      dq.lastProgress.stateOperators.head.numRowsTotal
    } finally dq.stop()
    info(s"driftMonitor state_rows per batch ${live.mkString(" ")}")
    assert(live.max <= 2 * 5,
      "driftMonitor must hold at most 2 windows × 5 sources of state")
  }

  /** Records a full run of query `name` reads. */
  private def queryRecords(name: String, dir: String): Long =
    records(wide)(drain(SparkEntry.queries(name)(wide, dir)))

  test("budget selection and phash pairs: records read grow near-linearly") {
    val a = growth("selection") { (_, dir) =>
      Seq("budget_select" -> queryRecords("q157_budget_select", dir),
        "phash_pairs" -> queryRecords("q171_phash_pairs", dir))
    }
    assertAlpha(a, "budget_select", 1.2)
    // replicas share no token but do share byte-level sketches, so q171's
    // hamming pairs cross replicas: 9 pairs at 1x, 11,662 at 8x
    assertAlpha(a, "phash_pairs", 1.3)
  }

  test("ANN queries: records read grow near-linearly") {
    val a = growth("ann_queries") { (_, dir) =>
      Seq("pq_ann" -> queryRecords("q178_pq_ann", dir),
        "ivfpq_ann" -> queryRecords("q179_ivfpq_ann", dir),
        "ivfpq_serve1" -> queryRecords("q179_ivfpq_ann", dir),
        "ivfpq_batch5" -> queryRecords("q180_ivfpq_batch", dir))
    }
    a.keys.foreach(assertAlpha(a, _, 1.2))
  }

  test("LM gate: records read grow near-linearly on both branches") {
    // the hinted plan, and the same plan with its broadcast hints
    // stripped: the shuffle side past the corpus-size ceiling
    val a = growth("lm_gate") { (_, dir) =>
      val q103 = () => SparkEntry.queries("q103_unigram_logprob")(wide, dir)
      Seq("hinted" -> records(wide)(drain(q103())),
        "stripped" -> records(wide)(drain(withoutBroadcastHints(q103()))))
    }
    a.keys.foreach(assertAlpha(a, _, 1.2))
  }

  test("codebook and centroid training: records read grow near-linearly") {
    val a = growth("train") { (_, dir) =>
      val vecs = Similarity.vectors(wide, dir).filter(col("codes").isNotNull)
      Seq("pq_train" -> records(wide)(drain(Similarity.pqTrainCodebooks(
          vecs, m = 4, subDim = 16, k = 8, iters = 1))),
        "ivf_train" -> records(wide)(drain(Similarity.ivfTrainCentroids(
          vecs, kIvf = 4, iters = 1))))
    }
    a.keys.foreach(assertAlpha(a, _, 1.2))
  }
}
