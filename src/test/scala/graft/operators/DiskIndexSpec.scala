package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.VectorFunctions._

/** Pins the ON-DISK IVF-PQ index layout (`ivfPqIndexWrite` /
  * `ivfPqIndexAppend` / `ivfPqIndexServe`): result equivalence with
  * the in-memory search, the static partition-prune plan shape the
  * 100 TB story rests on, the declared-schema guard on the partition
  * key, and the frozen-model append contract. */
class DiskIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def codesDf(rows: Seq[(Long, Seq[Long])]) =
    rows.toDF("vec_id", "codes")
      .withColumn("v", transform(col("codes"), _.cast("double")))
      .withColumn("nrm", norm(col("v")))

  // two separable integer "haloes" + two near-origin rows: enough
  // structure that cells and ADC ranks are non-trivial, small enough
  // that the exact top-k is hand-checkable
  private val corpus = Seq(
    (0L, Seq(0L, 0L, 0L, 1L)), (1L, Seq(0L, 0L, 0L, 2L))) ++
    (2L to 6L).map(i => (i, Seq(-90L, -90L, -90L, -90L - i % 3))) ++
    (7L to 12L).map(i => (i, Seq(80L, 80L, 80L, 80L + i % 4)))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-annidx").toString

  test("disk-served query equals the in-memory ivfPqAnn exactly") {
    val df = codesDf(corpus)
    val idx = tmp()
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    val served = Similarity.ivfPqIndexServe(df, idx, queryId = 0L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 8, topK = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val mem = Similarity.ivfPqAnn(df, queryId = 0L, kIvf = 2,
        nprobe = 2, m = 2, subDim = 2, k = 3, coarseK = 8, topK = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(served.nonEmpty && served == mem,
      s"disk-served must equal in-memory:\n$served\nvs\n$mem")
  }

  test("the encodings scan statically prunes to the probed cells") {
    val df = codesDf(corpus)
    val idx = tmp()
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 3, m = 2, subDim = 2,
      k = 3)
    // nprobe=1 of kIvf=3: the PLAN itself — not runtime stats — must
    // carry the cell restriction as a partition filter over literal
    // cell values, with exactly nprobe of them: that is the static
    // guarantee that only the probed cells' directories are ever
    // listed, the serving path's whole point at 100 TB. Query 8 lives
    // in the +80 halo, whose cell holds 7 vectors (its nearest
    // centroid is seed vector 1's — exact last-dim match beats seed 0)
    val served = Similarity.ivfPqIndexServe(df, idx, queryId = 8L,
      nprobe = 1, m = 2, subDim = 2, coarseK = 8, topK = 3)
    def partFilters(df: org.apache.spark.sql.DataFrame): String = {
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse(
        fail(s"the cell filter must be a plan-time PartitionFilter:\n$p"))
    }
    // a single probed cell optimizes to an equality literal…
    val pf1 = partFilters(served)
    assert("\\(cell#\\d+L? = \\d+\\)".r.findFirstIn(pf1).isDefined,
      s"nprobe=1 must prune to one literal cell: $pf1")
    // …and two probed cells keep the literal IN — exactly nprobe values
    val pf2 = partFilters(Similarity.ivfPqIndexServe(df, idx,
      queryId = 8L, nprobe = 2, m = 2, subDim = 2, coarseK = 8,
      topK = 3))
    val inVals = "cell#\\d+L? IN \\(([^)]*)\\)".r
      .findFirstMatchIn(pf2).map(_.group(1).split(",").map(_.trim).toSeq)
    assert(inVals.exists(_.size == 2),
      s"nprobe=2 must prune to exactly two literal cells: $pf2")
    val cellDirs = new java.io.File(s"$idx/enc").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length == 3, "fixture must produce 3 cell dirs")
    // and the serve RUNS correctly off the pruned scan: query 8's
    // cell-mates are {1, 7, 9, 10, 11, 12} — topK=3 of those
    assert(served.count() == 3)
  }

  test("partition-key schema is declared: cell stays LONG at any size") {
    // inference would type the small local cell ids as INT and the
    // same index at corpus scale as LONG — the declared read schema
    // pins the served schema (and the isin(Long) pruning) either way
    val df = codesDf(corpus)
    val idx = tmp()
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    val served = Similarity.ivfPqIndexServe(df, idx, queryId = 1L,
      nprobe = 1, m = 2, subDim = 2, coarseK = 4, topK = 2)
    assert(served.schema("cell").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(served.schema("vec_id").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("disk batch equals the in-memory batch, through a pruned scan") {
    // the one-pass batch over the on-disk index must reproduce
    // ivfPqAnnBatch over the same (seed) model — and its encodings
    // scan must carry the plan-time cell restriction (the union of
    // the batch's probed cells as literals)
    val df = codesDf(corpus)
    val idx = tmp()
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 3, m = 2, subDim = 2,
      k = 3)
    val disk = Similarity.ivfPqIndexServeBatch(df, idx, qMax = 2L,
      nprobe = 2, m = 2, subDim = 2, coarseK = 8, topK = 4)
    val mem = Similarity.ivfPqAnnBatch(df,
        Similarity.pqEncode(df, m = 2, subDim = 2, k = 3),
        Similarity.ivfAssign(df, kIvf = 3), qMax = 2L, kIvf = 3,
        nprobe = 2, m = 2, subDim = 2, k = 3, coarseK = 8, topK = 4)
      .as[(Long, Long, Long, Long, Double, Int)].collect().toSeq
    val got = disk.as[(Long, Long, Long, Long, Double, Int)]
      .collect().toSeq
    assert(got.nonEmpty && got == mem,
      s"disk batch must equal in-memory batch:\n$got\nvs\n$mem")
    val plan = disk.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PartitionFilters: \\[[^\\]]*cell#\\d+L? (IN|=)".r
      .findFirstIn(plan).isDefined,
      s"the batch scan must carry a literal cell PartitionFilter:\n$plan")
  }

  test("an absent query id serves EMPTY, not an error (single + batch)") {
    // the pqAnn contract on the disk path: a missing query yields an
    // empty probed-cell list, which must become an empty (zero-
    // partition) scan — this pins Spark's empty-isin semantics the
    // serve relies on, so a version change that made `isin()` throw
    // or match-all would fail here instead of in production
    val df = codesDf(corpus)
    val idx = tmp()
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    assert(Similarity.ivfPqIndexServe(df, idx, queryId = 999L,
      nprobe = 2, m = 2, subDim = 2, coarseK = 8, topK = 5).count() == 0)
    // a batch whose qMax admits no ids is likewise empty
    assert(Similarity.ivfPqIndexServeBatch(
      df.filter(col("vec_id") >= 2L), idx, qMax = 2L, nprobe = 2,
      m = 2, subDim = 2, coarseK = 8, topK = 5).count() == 0)
  }

  test("frozen-model append serves identically to a full rebuild") {
    // the pqEncode/ivfAssign incremental contract on the DISK layout:
    // delta ids BELOW the old minimum would reseed a different model
    // if append re-derived it — exactly the case that must not matter
    // because append reads the frozen model frames off the index
    val old = corpus.filter(_._1 >= 2)
    val delta = corpus.filter(_._1 < 2)
    val dfOld = codesDf(old)
    val dfAll = codesDf(corpus)
    val incr = tmp(); val full = tmp()
    Similarity.ivfPqIndexWrite(dfOld, incr, kIvf = 2, m = 2,
      subDim = 2, k = 3)
    Similarity.ivfPqIndexAppend(codesDf(delta), incr, m = 2, subDim = 2)
    // the rebuild reference: one-shot index over old ∪ delta UNDER THE
    // OLD MODEL (the frames the incremental index froze) — the seed
    // default would reseed from the delta's smaller ids and code a
    // different space, which is exactly why append reads the model
    // off the index instead of deriving it
    Similarity.ivfPqIndexWrite(dfAll, full, kIvf = 2, m = 2,
      subDim = 2, k = 3,
      codebooks = Some(spark.read.parquet(s"$incr/books")),
      centroids = Some(spark.read.parquet(s"$incr/cents")))
    val a = Similarity.ivfPqIndexServe(dfAll, incr, queryId = 7L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 10, topK = 6)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val b = Similarity.ivfPqIndexServe(dfAll, full, queryId = 7L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 10, topK = 6)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(a.nonEmpty && a == b,
      s"append must equal the frozen-model rebuild:\n$a\nvs\n$b")
    // and the appended rows are actually served: a delta id must be
    // reachable as a neighbor when it is the query's true cell-mate
    val nearDelta = Similarity.ivfPqIndexServe(dfAll, incr,
        queryId = 1L, nprobe = 2, m = 2, subDim = 2, coarseK = 10,
        topK = 6)
      .select("vec_id").as[Long].collect().toSet
    assert(nearDelta.contains(0L),
      s"the appended near-origin row must surface for query 1: $nearDelta")
  }

  private def encFileCounts(idx: String): Map[String, Int] = {
    val g = graft.operators.Stores.currentGen(spark, idx)
    val name = graft.operators.Stores.genName("enc", g)
    new java.io.File(s"$idx/$name").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
  }

  test("appends fragment cell directories; compaction restores one " +
      "file per cell, serve-identical") {
    // two appends into the +80 halo's cell: its directory accretes one
    // file per write (the small-files decay ingestion causes), and
    // compaction must collapse it back to ONE file without changing a
    // single served row
    val idx = tmp()
    Similarity.ivfPqIndexWrite(codesDf(corpus.filter(_._1 <= 8)), idx,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    Similarity.ivfPqIndexAppend(
      codesDf(corpus.filter(r => r._1 == 9L || r._1 == 10L)), idx,
      m = 2, subDim = 2)
    Similarity.ivfPqIndexAppend(codesDf(corpus.filter(_._1 >= 11)), idx,
      m = 2, subDim = 2)
    val dfAll = codesDf(corpus)
    def serve(): Seq[(Long, Long, Long, Double)] =
      Similarity.ivfPqIndexServe(dfAll, idx, queryId = 8L, nprobe = 2,
          m = 2, subDim = 2, coarseK = 10, topK = 6)
        .as[(Long, Long, Long, Double)].collect().toSeq
    val before = serve()
    assert(before.nonEmpty)
    assert(encFileCounts(idx).values.max >= 3,
      s"the twice-appended cell must carry >= 3 files: ${encFileCounts(idx)}")
    Similarity.ivfPqIndexCompact(spark, idx)
    val after = encFileCounts(idx)
    assert(after.nonEmpty && after.values.forall(_ == 1),
      s"every cell directory must hold exactly one file: $after")
    // the compact committed generation 1; generation 0 survives as
    // the serve grace until the NEXT compact vacuums it
    assert(graft.operators.Stores.currentGen(spark, idx) == 1L)
    assert(new java.io.File(s"$idx/enc").exists,
      "the pre-compact generation survives one compact as the grace")
    assert(serve() == before,
      "compaction must not change a single served row")
  }

  test("tombstoned ids vanish from single AND batch serve; compaction " +
      "makes the delete physical") {
    val idx = tmp()
    val df = codesDf(corpus)
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    def serve(): Seq[(Long, Long, Long, Double)] =
      Similarity.ivfPqIndexServe(df, idx, queryId = 8L, nprobe = 2,
          m = 2, subDim = 2, coarseK = 10, topK = 6)
        .as[(Long, Long, Long, Double)].collect().toSeq
    assert(serve().exists(r => r._1 == 9L || r._1 == 10L),
      "fixture: 9/10 must be neighbors of 8 before the delete")
    Similarity.ivfPqIndexDelete(spark, idx, Seq(9L, 10L))
    val after = serve()
    assert(after.nonEmpty && !after.exists(r => r._1 == 9L || r._1 == 10L),
      s"deleted ids must stop surfacing: $after")
    // logical delete == frozen-model rebuild WITHOUT the deleted rows
    val rebuilt = tmp()
    Similarity.ivfPqIndexWrite(
      df.filter(!col("vec_id").isin(9L, 10L)), rebuilt, kIvf = 2,
      m = 2, subDim = 2, k = 3,
      codebooks = Some(spark.read.parquet(s"$idx/books")),
      centroids = Some(spark.read.parquet(s"$idx/cents")))
    val ref = Similarity.ivfPqIndexServe(df, rebuilt, queryId = 8L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 10, topK = 6)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(after == ref,
      s"tombstone serve must equal the rebuild-without:\n$after\nvs\n$ref")
    // the batch path subtracts the same set
    val batch = Similarity.ivfPqIndexServeBatch(df, idx, qMax = 2L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 10, topK = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(batch.nonEmpty && !batch.contains(9L) && !batch.contains(10L),
      s"batch serve must honor tombstones: $batch")
    // compaction applies the tombstones physically: generation 1
    // starts with an empty tombstone set (generation 0 keeps its own
    // as part of the serve grace)
    Similarity.ivfPqIndexCompact(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones-g1").exists,
      "the new generation must start with an empty tombstone set")
    val remaining = spark.read
      .schema("vec_id BIGINT, s INT, code BIGINT, cell BIGINT")
      .parquet(s"$idx/enc-g1")
      .filter(col("vec_id").isin(9L, 10L)).count()
    assert(remaining == 0, "compaction must drop tombstoned rows")
    assert(serve() == after,
      "physical delete must serve exactly like the logical one")
  }

  test("annIndexStats reports live occupancy, files, and share per cell") {
    val idx = tmp()
    Similarity.ivfPqIndexWrite(codesDf(corpus.filter(_._1 <= 8)), idx,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    Similarity.ivfPqIndexAppend(codesDf(corpus.filter(_._1 >= 9)), idx,
      m = 2, subDim = 2)
    def stats(): Map[Long, (Long, Long, Long)] =
      Similarity.ivfPqIndexStats(spark, idx)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val before = stats()
    // occupancy: every corpus vector counted exactly once, per cell
    assert(before.values.map(_._1).sum == corpus.size.toLong,
      s"n_vecs must sum to the corpus: $before")
    // files: the report must agree with the directory listing —
    // the appended cell's accretion is visible (compaction's trigger)
    assert(before.map { case (c, (_, f, _)) => s"cell=$c" -> f.toInt } ==
      encFileCounts(idx), s"files must match the listing: $before")
    assert(before.values.map(_._2).max >= 2,
      s"the appended cell must show > 1 file: $before")
    // share: integer basis points, floor division — sums to ~10000
    val shares = before.values.map(_._3)
    assert(shares.sum <= 10000 && shares.sum > 10000 - before.size,
      s"share_bp must floor-sum to ~10000: $before")
    // tombstones subtract from the LIVE count immediately
    Similarity.ivfPqIndexDelete(spark, idx, Seq(9L, 10L))
    assert(stats().values.map(_._1).sum == corpus.size.toLong - 2,
      s"deleted ids must leave the live count: ${stats()}")
    // and compaction restores one file per cell in the report
    Similarity.ivfPqIndexCompact(spark, idx)
    val after = stats()
    assert(after.values.map(_._1).sum == corpus.size.toLong - 2
      && after.values.forall(_._2 == 1L),
      s"post-compaction stats must show one file per cell: $after")
    // a cell whose vectors are ALL tombstoned must STAY in the report
    // (live 0, files still on disk — the pending-compaction state the
    // report exists to surface)
    val byCell = spark.read
      .schema("vec_id BIGINT, s INT, code BIGINT, cell BIGINT")
      .parquet(s"$idx/enc-g1").filter(col("s") === 0)
      .select("cell", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSeq }
    val (emptied, victims) = byCell.minBy(_._1)
    Similarity.ivfPqIndexDelete(spark, idx, victims)
    val hollow = stats()
    assert(hollow.contains(emptied)
      && hollow(emptied)._1 == 0L && hollow(emptied)._2 >= 1L
      && hollow(emptied)._3 == 0L,
      s"an all-tombstoned cell must report (0 live, files kept): $hollow")
    // an ALL-deleted index reports 0 bp everywhere, not a div-by-zero
    Similarity.ivfPqIndexDelete(spark, idx,
      byCell.values.flatten.toSeq.filterNot(victims.contains))
    val dead = stats()
    assert(dead.nonEmpty && dead.values.forall(v => v._1 == 0L
      && v._3 == 0L), s"an all-deleted index must report zeros: $dead")
  }

  test("filtered serve has PRE-filter semantics: equal to a frozen-model " +
      "index over only the allowed vectors") {
    val idx = tmp()
    val df = codesDf(corpus)
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    // the allow set drops two of query 8's true cell-mates (10, and
    // near-twin 7 stays; 10/12 dropped… keep 12, drop 10) — with
    // coarseK=4 binding, the UNRESTRICTED ADC top-4 would spend slots
    // on disallowed ids, which is exactly what pre-filtering must not
    val allowIds = Set(1L, 2L, 7L, 9L, 11L, 12L)
    val allowed = df.filter(col("vec_id").isin(allowIds.toSeq: _*))
      .select("vec_id")
    def served(index: String, allow: Option[
        org.apache.spark.sql.DataFrame]): Seq[(Long, Long, Long, Double)] =
      Similarity.ivfPqIndexServe(df, index, queryId = 8L, nprobe = 2,
          m = 2, subDim = 2, coarseK = 4, topK = 4, allowed = allow)
        .as[(Long, Long, Long, Double)].collect().toSeq
    val got = served(idx, Some(allowed))
    assert(got.nonEmpty && got.map(_._1).forall(allowIds.contains),
      s"every served id must pass the predicate: $got")
    // the strong pin: filtering the FULL index ≡ serving an index that
    // holds ONLY the allowed vectors, under the same frozen model —
    // absent rows and filtered rows must rank identically, which is
    // what makes the result the allowed subset's TRUE top-k rather
    // than the allowed remnant of the unrestricted top-k
    val ref = tmp()
    Similarity.ivfPqIndexWrite(
      df.filter(col("vec_id").isin(allowIds.toSeq: _*)), ref, kIvf = 2,
      m = 2, subDim = 2, k = 3,
      codebooks = Some(spark.read.parquet(s"$idx/books")),
      centroids = Some(spark.read.parquet(s"$idx/cents")))
    val sub = served(ref, None)
    assert(got == sub,
      s"filtered serve must equal the allowed-only index:\n$got\nvs\n$sub")
    // allow-everything degrades to the unfiltered serve exactly
    assert(served(idx, Some(df.select("vec_id"))) == served(idx, None),
      "an all-ids allow list must be the identity")
    // an empty allow list serves empty, not an error
    assert(served(idx, Some(df.filter(lit(false)).select("vec_id")))
      .isEmpty, "an empty allow list must serve empty")
    // the batch path applies the same pre-filter: a qMax=1 filtered
    // batch must equal the single-query filtered serve row-for-row
    val single0 = Similarity.ivfPqIndexServe(df, idx, queryId = 0L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 4, topK = 4,
        allowed = Some(allowed))
      .as[(Long, Long, Long, Double)].collect().toSeq
    val batch0 = Similarity.ivfPqIndexServeBatch(df, idx, qMax = 1L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 4, topK = 4,
        allowed = Some(allowed))
      .as[(Long, Long, Long, Long, Double, Int)].collect().toSeq
    assert(batch0.nonEmpty && batch0.map(_._1).forall(_ == 0L))
    assert(batch0.map(b => (b._2, b._3, b._4, b._5)) == single0,
      s"filtered batch must equal filtered single:\n$batch0\nvs\n$single0")
  }

  test("per-query filtered batch: each query ranks against ITS OWN " +
      "allow set, equal to the single filtered serve") {
    val idx = tmp()
    val df = codesDf(corpus)
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    // two queries, DIFFERENT predicates: query 0 sees only the -90
    // halo, query 1 only the +80 halo — a shared allow-list could not
    // express this (the real serving shape: one predicate per request)
    val a0 = (2L to 6L).toSeq
    val a1 = (7L to 12L).filterNot(_ == 10L)
    val pairs = (a0.map(0L -> _) ++ a1.map(1L -> _))
      .toDF("q_id", "vec_id")
    val got = Similarity.ivfPqIndexServeBatch(df, idx, qMax = 2L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 6, topK = 4,
        allowedPairs = Some(pairs))
      .as[(Long, Long, Long, Long, Double, Int)].collect().toSeq
    def single(qid: Long, allow: Seq[Long]) =
      Similarity.ivfPqIndexServe(df, idx, queryId = qid, nprobe = 2,
          m = 2, subDim = 2, coarseK = 6, topK = 4,
          allowed = Some(allow.toDF("vec_id")))
        .as[(Long, Long, Long, Double)].collect().toSeq
    val g0 = got.filter(_._1 == 0L).map(b => (b._2, b._3, b._4, b._5))
    val g1 = got.filter(_._1 == 1L).map(b => (b._2, b._3, b._4, b._5))
    assert(g0.nonEmpty && g0 == single(0L, a0),
      s"query 0 must rank against its own set:\n$g0\nvs\n${single(0L, a0)}")
    assert(g1.nonEmpty && g1 == single(1L, a1),
      s"query 1 must rank against its own set:\n$g1\nvs\n${single(1L, a1)}")
    // cross-contamination check: no query returns an id only the
    // OTHER query was allowed to see
    assert(g0.map(_._1).forall(a0.contains)
      && g1.map(_._1).forall(a1.contains),
      s"per-query sets must not leak across the batch: $got")
    // a query with NO pairs returns no rows, the others unaffected
    val gone = Similarity.ivfPqIndexServeBatch(df, idx, qMax = 2L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 6, topK = 4,
        allowedPairs = Some(a1.map(1L -> _).toDF("q_id", "vec_id")))
      .as[(Long, Long, Long, Long, Double, Int)].collect().toSeq
    assert(gone.forall(_._1 == 1L)
      && gone.map(b => (b._2, b._3, b._4, b._5)) == single(1L, a1),
      s"an empty per-query set must serve empty for that query: $gone")
  }

  test("the manifest rejects a wrong geometry on every entry path; " +
      "a manifest-less index is rejected, naming its directory") {
    // a wrong m/subDim would not error on its own — it would slice the
    // query into a different subvector geometry than the encodings and
    // rank garbage with full confidence — so the manifest row the
    // write records must kill the call loudly instead
    val idx = tmp()
    val df = codesDf(corpus)
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    def geometryError(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("m=2 subDim=2"),
        s"the error must name the indexed geometry: ${e.getMessage}")
    }
    geometryError(Similarity.ivfPqIndexServe(codesDf(corpus), idx,
      queryId = 8L, nprobe = 2, m = 4, subDim = 1, coarseK = 10,
      topK = 6))
    geometryError(Similarity.ivfPqIndexServeBatch(codesDf(corpus), idx,
      qMax = 2L, nprobe = 2, m = 1, subDim = 4, coarseK = 10, topK = 6))
    geometryError(Similarity.ivfPqIndexAppend(
      codesDf(Seq((99L, Seq(1L, 1L, 1L, 1L)))), idx, m = 4, subDim = 1))
    // ingest validates BEFORE the stream starts — no query to clean up
    geometryError(Similarity.ivfPqIndexIngest(
      spark.readStream.format("rate").load()
        .select(col("value").as("vec_id")),
      idx, m = 4, subDim = 1, s"${tmp()}/ckpt"))
    // nprobe beyond the indexed cell count is named too
    val np = intercept[IllegalArgumentException](
      Similarity.ivfPqIndexServe(codesDf(corpus), idx, queryId = 8L,
        nprobe = 7, m = 2, subDim = 2, coarseK = 10, topK = 6))
    assert(np.getMessage.contains("kIvf=2"), np.getMessage)
    // every writer records a manifest, so a directory without one is
    // refused on the serve paths, naming the directory
    deleteRecursively(new java.io.File(s"$idx/manifest"))
    def noManifest(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(s"no manifest sidecar under $idx"),
        s"the error must name the directory: ${e.getMessage}")
    }
    noManifest(serveable(idx))
    noManifest(Similarity.ivfPqIndexServeBatch(codesDf(corpus), idx,
      qMax = 2L, nprobe = 2, m = 2, subDim = 2, coarseK = 10, topK = 6))
  }

  test("maintenance policy: decisions on a fragmented/tombstoned/skewed " +
      "index; execute compacts; retrieval survives the full lifecycle") {
    // ask #4 (policy op) + ask #5 (recall after maintenance) of the
    // r14 verdict in one composed leg: build → append×3 (fragments) →
    // delete (tombstones) → maintain(execute) → the served top-k must
    // equal a FRESH index over the same live set under the same frozen
    // model — maintenance must never silently degrade retrieval.
    val idx = tmp()
    val dfOld = codesDf(corpus)
    Similarity.ivfPqIndexWrite(dfOld, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    // three appended waves into the +80 halo fragment its cell
    val waves = (1 to 3).map(i =>
      (100L + i, Seq(80L, 80L, 80L, 80L + i)))
    waves.foreach(wv => Similarity.ivfPqIndexAppend(
      codesDf(Seq(wv)), idx, m = 2, subDim = 2))
    // delete 2 of the ~7 rows of the -90 halo's cell (~28% > 20% cap)
    Similarity.ivfPqIndexDelete(spark, idx, Seq(3L, 4L))
    val report = Similarity.ivfPqIndexMaintain(spark, idx)
      .as[(Long, Long, Int, Long, Long, String)].collect().toSeq
    assert(report.map(_._6).forall(Set("ok", "compact", "retrain")))
    // the fragmented cell decides compact on files (1 + 3 appends = 4
    // files > default? no — default maxFiles is 8, so force it here),
    // and the tombstoned cell decides compact on dead share
    val strict = Similarity.ivfPqIndexMaintain(spark, idx, maxFiles = 3)
      .as[(Long, Long, Int, Long, Long, String)].collect().toSeq
    assert(strict.exists(r => r._3 > 3 && r._6 == "compact"),
      s"the 4-file cell must decide compact at maxFiles=3: $strict")
    assert(report.exists(r => r._4 > 0 && r._6 == "compact"),
      s"a >20%-tombstoned cell must decide compact: $report")
    // a skewed index decides retrain: drop the share cap to force it
    val skew = Similarity.ivfPqIndexMaintain(spark, idx,
        maxShareBp = 4000L)
      .as[(Long, Long, Int, Long, Long, String)].collect().toSeq
    assert(skew.exists(_._6 == "retrain"),
      s"a cell past the share cap must decide retrain: $skew")
    // execute: compaction runs, files collapse, tombstones clear
    val executed = Similarity.ivfPqIndexMaintain(spark, idx,
        maxFiles = 3, execute = true)
      .as[(Long, Long, Int, Long, Long, String)].collect().toSeq
    assert(executed.exists(_._6 == "compact"),
      "the executed run must report the decisions it acted on")
    val after = Similarity.ivfPqIndexStats(spark, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(after.forall(_._3 == 1),
      s"maintenance must leave one file per cell: $after")
    // retrieval parity: the maintained index serves exactly like a
    // fresh frozen-model index over the live set
    val live = corpus.filterNot(c => c._1 == 3L || c._1 == 4L) ++ waves
    val fresh = tmp()
    Similarity.ivfPqIndexWrite(codesDf(live), fresh, kIvf = 2, m = 2,
      subDim = 2, k = 3,
      codebooks = Some(spark.read.parquet(s"$idx/books")),
      centroids = Some(spark.read.parquet(s"$idx/cents")))
    val codesAll = codesDf(live)
    def serve(d: String) = Similarity.ivfPqIndexServe(codesAll, d,
        queryId = 7L, nprobe = 2, m = 2, subDim = 2, coarseK = 10,
        topK = 6)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val maintained = serve(idx)
    assert(maintained.nonEmpty && maintained == serve(fresh),
      "the maintained index must serve exactly like a fresh rebuild " +
        "over the live set — maintenance degraded retrieval")
    // the maintained-after state is quiet: a fresh policy run is all-ok
    val calm = Similarity.ivfPqIndexMaintain(spark, idx, maxFiles = 3)
      .as[(Long, Long, Int, Long, Long, String)].collect().toSeq
    assert(calm.forall(_._6 == "ok"),
      s"post-maintenance policy must be all-ok: $calm")
  }

  test("rebuild over a used dir clears stale sidecar state (tombstones, " +
      "ingest ledger, retired data)") {
    // A prior index life under the same dir leaves append-side
    // artifacts that overwrite mode never touches: a stale tombstones/
    // set would MASK freshly written rows whose ids were reused
    // (silent row loss), a stale ingested/ ledger would make a new
    // stream with a fresh checkpoint SKIP its first batches (batch ids
    // restart at 0), and stale generations (with their pointer) would
    // shadow the fresh generation-0 write. ivfPqIndexWrite must clear
    // them all.
    val idx = tmp()
    val df = codesDf(corpus)
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    // first life: delete an id (tombstones/), simulate an applied
    // ingest batch (ingested/batch-0), and compact so the store sits
    // at generation 1 with a grace generation 0 on disk
    Similarity.ivfPqIndexDelete(spark, idx, Seq(8L))
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/ingested/batch-0"))
    Similarity.ivfPqIndexCompact(spark, idx)
    // second life: REBUILD in place with the same ids
    Similarity.ivfPqIndexWrite(df, idx, kIvf = 2, m = 2, subDim = 2,
      k = 3)
    for (side <- Seq("tombstones", "ingested", "gen-1", "enc-g1",
        "tombstones-g1"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/$side")),
        s"stale $side/ must not survive a rebuild")
    // the reused id must surface again for its halo-mate (the serve
    // excludes the QUERY id itself, so probe from neighbor 7) — the
    // stale tombstone would have silently masked it
    val got = Similarity.ivfPqIndexServe(df, idx, queryId = 7L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 10, topK = 6)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.contains(8L),
      s"rebuilt id 8 must serve (stale tombstone masked it): $got")
  }

  private def serveable(idx: String): Seq[(Long, Long, Long, Double)] =
    Similarity.ivfPqIndexServe(codesDf(corpus), idx, queryId = 8L,
        nprobe = 2, m = 2, subDim = 2, coarseK = 10, topK = 6)
      .as[(Long, Long, Long, Double)].collect().toSeq

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(); ()
  }
}
