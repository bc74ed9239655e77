package graft.operators

import org.apache.spark.sql.functions._

import graft.{Graft, SparkTestBase}

/** Pins the CROSS-store coordination layer (r16 verdict asks #2/#3):
  * corpus-version stamps (write 0, mutations +1, compaction never),
  * the aligned-versions precondition on the composed RAG serve (a
  * takedown applied to one store but not the other must fail LOUDLY,
  * not serve a half-deleted document's chunks), and the one-call
  * [[Stores.takedown]] across all four store kinds. */
class StoreCoordinationSpec extends SparkTestBase {

  test("spark.graft.store.root routes fresh store dirs under the " +
      "configured root; unset keeps the JVM temp-dir default (r22)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-store-root").toString
    spark.conf.set(Stores.StoreRootConf, root)
    try {
      val d = Stores.storeScratchDir(spark, "graft-conf-pin")
      assert(d.startsWith(root),
        s"configured root must own the store dir: $d !< $root")
      assert(new java.io.File(d).isDirectory)
    } finally spark.conf.unset(Stores.StoreRootConf)
    val d2 = Stores.storeScratchDir(spark, "graft-conf-pin")
    assert(!d2.startsWith(root),
      s"unset conf must fall back to the JVM temp dir: $d2")
    assert(new java.io.File(d2).isDirectory)
  }
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-storecoord").toString

  /** Six docs with 4-dim embeddings; vec ids = doc ids; doc/vec 0 is
    * the query side for the RAG serve. Texts are ≥3 tokens (the dedup
    * banding's shingle minimum) and the query terms 'alpha beta' hit
    * docs 0/2/3/4. */
  private val corpus = Seq(
    (0L, "alpha beta gamma delta", Seq(1.0, 0.0, 0.0, 1.0)),
    (1L, "gamma delta epsilon zeta", Seq(-9.0, -9.0, -9.0, -8.0)),
    (2L, "alpha alpha beta zeta", Seq(8.0, 8.0, 8.0, 9.0)),
    (3L, "beta gamma alpha eta", Seq(2.0, 1.0, 0.0, 2.0)),
    (4L, "alpha beta beta theta", Seq(7.0, 8.0, 9.0, 8.0)),
    (5L, "gamma epsilon zeta iota", Seq(-8.0, -9.0, -8.0, -9.0)))

  private def full = corpus.toDF("doc_id", "text", "emb")
  private def docsDf = full.select("doc_id", "text")
  private val terms = Seq("alpha", "beta")

  test("meta sidecars: k=v round-trip, atomic replace, absent reads " +
      "None, malformed fields rejected at write time") {
    val dir = tmp()
    val p = s"$dir/manifest"
    assert(Stores.readMetaSidecar(spark, p).isEmpty,
      "an absent sidecar must read None")
    Stores.writeMetaSidecar(spark, p,
      Seq("n_buckets" -> "8", "tokenizer" -> "ws-split"))
    assert(Stores.readMetaSidecar(spark, p)
      == Some(Map("n_buckets" -> "8", "tokenizer" -> "ws-split")))
    // overwrite replaces the whole entry (no stale keys survive)
    Stores.writeMetaSidecar(spark, p, Seq("n_buckets" -> "32"))
    assert(Stores.readMetaSidecar(spark, p)
      == Some(Map("n_buckets" -> "32")))
    // '=' in a key or a newline anywhere would corrupt the line format
    // silently on a later read — both die at write time instead
    intercept[IllegalArgumentException](
      Stores.writeMetaSidecar(spark, p, Seq("a=b" -> "1")))
    intercept[IllegalArgumentException](
      Stores.writeMetaSidecar(spark, p, Seq("a" -> "1\n2")))
    assert(Stores.readMetaSidecar(spark, p)
      == Some(Map("n_buckets" -> "32")),
      "a rejected write must leave the stored sidecar untouched")
  }

  test("version stamps: write is epoch 0; append and delete bump by " +
      "one; compact never bumps; a rebuild resets") {
    val idx = tmp()
    val (a, b) = corpus.splitAt(4)
    Search.searchIndexWrite(a.toDF("doc_id", "text", "emb")
      .select("doc_id", "text"), idx)
    assert(Graft.storeVersion(spark, idx) == 0L, "write starts at 0")
    Search.searchIndexAppend(b.toDF("doc_id", "text", "emb")
      .select("doc_id", "text"), idx)
    assert(Graft.storeVersion(spark, idx) == 1L, "append bumps")
    Search.searchIndexDelete(spark, idx, Seq(5L))
    assert(Graft.storeVersion(spark, idx) == 2L, "delete bumps")
    Search.searchIndexCompact(spark, idx)
    assert(Graft.storeVersion(spark, idx) == 2L,
      "compaction is physical housekeeping, not a corpus mutation")
    Search.searchIndexWrite(docsDf, idx)
    assert(Graft.storeVersion(spark, idx) == 0L,
      "a rebuild starts a new coordination epoch")
  }

  test("a pre-stamp store reads version 0 and aligns with a fresh " +
      "rebuild") {
    val idx = tmp()
    TextDedup.dedupIndexWrite(docsDf, idx)
    // simulate a store written before the stamp existed
    new java.io.File(s"$idx/corpus-version").delete()
    assert(Graft.storeVersion(spark, idx) == 0L,
      "legacy stores read 0 — the same epoch a fresh write records")
    assert(Stores.requireAlignedVersions(spark, Seq(idx, idx)) == 0L)
  }

  test("requireAlignedVersions names every diverged store loudly") {
    val a = tmp(); val b = tmp()
    TextDedup.dedupIndexWrite(docsDf, a)
    TextDedup.dedupIndexWrite(docsDf, b)
    assert(Stores.requireAlignedVersions(spark, Seq(a, b)) == 0L)
    TextDedup.dedupIndexDelete(spark, b, Seq(5L))
    val e = intercept[IllegalStateException](
      Stores.requireAlignedVersions(spark, Seq(a, b)))
    assert(e.getMessage.contains("diverge")
        && e.getMessage.contains(s"$a@v0")
        && e.getMessage.contains(s"$b@v1"),
      s"the error must name each store and its version: ${e.getMessage}")
  }

  test("ragServeDisk refuses mixed-version stores, serves aligned " +
      "ones, and never returns a fully-taken-down doc") {
    val ann = tmp(); val search = tmp()
    Graft.annIndexWrite(full, "doc_id", "emb", ann,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    Graft.searchIndexWrite(docsDf, search)
    def serve() = Graft.ragServeDisk(full, "doc_id", "emb", ann, search,
        terms, queryId = 0L, nprobe = 2, m = 2, subDim = 2,
        coarseK = 50).select("doc_id").as[Long].collect().toSet
    val before = serve()
    assert(before.contains(4L),
      s"doc 4 matches both legs and must fuse before its takedown: $before")
    // the mixed-version window: the takedown reached the search store
    // only — the composed serve must fail LOUDLY, not half-serve
    Graft.searchIndexDelete(spark, search, Seq(4L))
    val e = intercept[IllegalStateException](serve())
    assert(e.getMessage.contains("diverge"),
      s"mixed-version serve must name the divergence: ${e.getMessage}")
    // completing the takedown re-aligns the stamps and the doc is gone
    Graft.annIndexDelete(spark, ann, Seq(4L))
    val after = serve()
    assert(after.nonEmpty && !after.contains(4L),
      s"after the completed takedown doc 4 must never fuse: $after")
  }

  test("one-call takedown reaches all four store kinds and keeps " +
      "their stamps aligned") {
    val search = tmp(); val chunk = tmp(); val dedup = tmp(); val ann = tmp()
    Search.searchIndexWrite(docsDf, search)
    Search.searchIndexWrite(Search.chunkCorpus(docsDf), chunk,
      idCol = "chunk_id", textCol = "chunk_text")
    TextDedup.dedupIndexWrite(docsDf, dedup)
    Graft.annIndexWrite(full, "doc_id", "emb", ann,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    Graft.takedown(spark, 2L, Seq(
      Graft.SearchStore(search), Graft.ChunkSearchStore(chunk),
      Graft.DedupStore(dedup), Graft.AnnStore(ann)))
    // search: doc 2 matches 'alpha' but must never serve again
    val hits = Search.searchIndexServe(spark, search, terms, topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.nonEmpty && !hits.contains(2L),
      s"doc 2 must be tombstoned out of the doc-level serve: $hits")
    // chunk store: none of doc 2's packed chunk ids may serve
    val chunkHits = Search.searchIndexServe(spark, chunk, terms,
        topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(chunkHits.nonEmpty &&
      !chunkHits.exists(id => id >= 2000000L && id < 3000000L),
      s"doc 2's packed chunks must be tombstoned: $chunkHits")
    // dedup: a byte-identical clone of doc 2 now ADMITS
    val verdicts = TextDedup.dedupIndexServe(
        Seq((100L, corpus(2)._2)).toDF("doc_id", "text"), dedup)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(verdicts(100L) == "admit",
      s"a clone of the taken-down doc must admit: $verdicts")
    // ANN: doc 2's vector never surfaces for a nearby query (doc 4 is
    // in the same +8 halo)
    val annHits = Graft.annIndexServe(full, "doc_id", "emb", ann,
        queryId = 4L, nprobe = 2, m = 2, subDim = 2, coarseK = 50,
        topK = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(annHits.nonEmpty && !annHits.contains(2L),
      s"doc 2's vector must be tombstoned out of the ANN serve: $annHits")
    // and every stamp bumped exactly once — still aligned
    val vs = Seq(search, chunk, dedup, ann)
      .map(d => Graft.storeVersion(spark, d))
    assert(vs == Seq(1L, 1L, 1L, 1L),
      s"takedown must bump each store exactly once: $vs")
  }

  test("batch takedown applies the whole batch as ONE delete per " +
      "store — one version bump regardless of batch size") {
    val search = tmp(); val chunk = tmp(); val dedup = tmp(); val ann = tmp()
    Search.searchIndexWrite(docsDf, search)
    Search.searchIndexWrite(Search.chunkCorpus(docsDf), chunk,
      idCol = "chunk_id", textCol = "chunk_text")
    TextDedup.dedupIndexWrite(docsDf, dedup)
    Graft.annIndexWrite(full, "doc_id", "emb", ann,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    Graft.takedownAll(spark, Seq(2L, 4L), Seq(
      Graft.SearchStore(search), Graft.ChunkSearchStore(chunk),
      Graft.DedupStore(dedup), Graft.AnnStore(ann)))
    val vs = Seq(search, chunk, dedup, ann)
      .map(d => Graft.storeVersion(spark, d))
    assert(vs == Seq(1L, 1L, 1L, 1L),
      s"a 2-doc batch must bump each store exactly ONCE: $vs")
    // both docs gone from the doc-level serve; survivors still serve
    val hits = Search.searchIndexServe(spark, search, terms, topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.nonEmpty && !hits.contains(2L) && !hits.contains(4L),
      s"both batch members must be tombstoned: $hits")
    // chunk store: neither doc's packed ranges may serve
    val chunkHits = Search.searchIndexServe(spark, chunk, terms,
        topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(chunkHits.nonEmpty && !chunkHits.exists(id =>
        (id >= 2000000L && id < 3000000L)
          || (id >= 4000000L && id < 5000000L)),
      s"both docs' packed chunks must be tombstoned: $chunkHits")
  }

  test("a crashed takedown RE-RUN converges the stamps (the repair " +
      "the crash contract names actually terminates)") {
    val search = tmp(); val dedup = tmp(); val ann = tmp()
    Search.searchIndexWrite(docsDf, search)
    TextDedup.dedupIndexWrite(docsDf, dedup)
    Graft.annIndexWrite(full, "doc_id", "emb", ann,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    val all = Seq(Graft.SearchStore(search), Graft.DedupStore(dedup),
      Graft.AnnStore(ann))
    // simulate the crash window: the takedown completed the first TWO
    // stores and died before the third — exactly the state a mid-list
    // crash leaves (completed stores stamped ahead, the rest untouched)
    Graft.takedownAll(spark, Seq(4L), all.take(2))
    assert(Seq(search, dedup, ann).map(Graft.storeVersion(spark, _))
      == Seq(1L, 1L, 0L), "the crash leaves a diverged tail")
    intercept[IllegalStateException](
      Stores.requireAlignedVersions(spark, Seq(search, dedup, ann)))
    // the documented repair: re-run the SAME takedown against the SAME
    // full store list. A bump-per-store scheme would leave the two
    // completed stores permanently ahead (2,2,1 — still diverged, and
    // diverged after every further re-run); the max+1 target converges.
    Graft.takedownAll(spark, Seq(4L), all)
    assert(Stores.requireAlignedVersions(
      spark, Seq(search, dedup, ann)) == 2L,
      "one re-run must align every store on the common target")
    // and the re-run's re-deletes changed nothing: doc 4 is gone, the
    // survivors still serve
    val hits = Search.searchIndexServe(spark, search, terms, topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.nonEmpty && !hits.contains(4L),
      s"doc 4 must stay tombstoned through the re-run: $hits")
  }

  test("coordinated append reaches all four store kinds, serves the " +
      "new docs, and lands every stamp on the same target") {
    val search = tmp(); val chunk = tmp(); val dedup = tmp(); val ann = tmp()
    val (seed, delta) = corpus.splitAt(4)
    val seedDf = seed.toDF("doc_id", "text", "emb")
    Search.searchIndexWrite(seedDf.select("doc_id", "text"), search)
    Search.searchIndexWrite(
      Search.chunkCorpus(seedDf.select("doc_id", "text")), chunk,
      idCol = "chunk_id", textCol = "chunk_text")
    TextDedup.dedupIndexWrite(seedDf.select("doc_id", "text"), dedup)
    Graft.annIndexWrite(seedDf, "doc_id", "emb", ann,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    val all = Seq(Graft.SearchStore(search), Graft.ChunkSearchStore(chunk),
      Graft.DedupStore(dedup), Graft.AnnStore(ann))
    Graft.appendAll(delta.toDF("doc_id", "text", "emb"), "b1", all)
    assert(Stores.requireAlignedVersions(spark,
      all.map(_.dir)) == 1L, "one append batch = stamp 1 everywhere")
    // doc 4 ('alpha beta beta theta') arrived via the append on BOTH
    // search stores and the ANN store
    val hits = Search.searchIndexServe(spark, search, terms, topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.contains(4L), s"the appended doc must serve: $hits")
    val chunkHits = Search.searchIndexServe(spark, chunk, terms,
        topK = 100).select("doc_id").as[Long].collect().toSet
    assert(chunkHits.exists(id => id >= 4000000L && id < 5000000L),
      s"the appended doc's packed chunks must serve: $chunkHits")
    // dedup: a byte-identical clone of the appended doc now REJECTS
    val verdicts = TextDedup.dedupIndexServe(
        Seq((100L, corpus(4)._2)).toDF("doc_id", "text"), dedup)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(verdicts(100L) == "reject",
      s"a clone of the appended doc must reject: $verdicts")
    val annHits = Graft.annIndexServe(full, "doc_id", "emb", ann,
        queryId = 2L, nprobe = 2, m = 2, subDim = 2, coarseK = 50,
        topK = 5).select("vec_id").as[Long].collect().toSet
    assert(annHits.contains(4L),
      s"the appended vector must surface for its +8-halo neighbor: $annHits")
  }

  test("a crashed coordinated append RE-RUN converges without " +
      "double-appending (the ledger skips completed stores)") {
    val search = tmp(); val dedup = tmp()
    val (seed, delta) = corpus.splitAt(4)
    val seedDf = seed.toDF("doc_id", "text", "emb").select("doc_id", "text")
    Search.searchIndexWrite(seedDf, search)
    TextDedup.dedupIndexWrite(seedDf, dedup)
    val all = Seq(Graft.SearchStore(search), Graft.DedupStore(dedup))
    val deltaDf = delta.toDF("doc_id", "text", "emb")
    // the crash window: the first store completed (append + marker +
    // stamp), the second was never reached
    Graft.appendAll(deltaDf, "b1", all.take(1))
    intercept[IllegalStateException](
      Stores.requireAlignedVersions(spark, all.map(_.dir)))
    // the documented repair: re-run the SAME batch id on the FULL list
    Graft.appendAll(deltaDf, "b1", all)
    assert(Stores.requireAlignedVersions(spark, all.map(_.dir)) == 2L,
      "one re-run must align both stores")
    // the completed store was NOT double-appended: exactly one docs
    // row per id (the dup-id state fsck can only report)
    val dups = spark.read.parquet(s"$search/docs")
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dups == 0, s"the ledger must skip the completed store: $dups")
    // and a FULL replay of a completed batch is a stamp-only no-op
    val before = spark.read.parquet(s"$search/docs").count()
    Graft.appendAll(deltaDf, "b1", all)
    assert(spark.read.parquet(s"$search/docs").count() == before,
      "replaying a completed batch must append nothing")
    assert(Stores.requireAlignedVersions(spark, all.map(_.dir)) == 3L,
      "the replay still re-stamps — alignment is preserved")
  }

  test("coordination capstone: appendAll feeds the composed RAG serve, " +
      "takedownAll removes from it, and the serve stays aligned " +
      "through the whole mutation cycle") {
    val ann = tmp(); val search = tmp()
    val (seed, delta) = corpus.splitAt(4)
    val seedDf = seed.toDF("doc_id", "text", "emb")
    Graft.annIndexWrite(seedDf, "doc_id", "emb", ann,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    Graft.searchIndexWrite(seedDf.select("doc_id", "text"), search)
    val both = Seq(Graft.AnnStore(ann), Graft.SearchStore(search))
    def serve() = Graft.ragServeDisk(full, "doc_id", "emb", ann, search,
        terms, queryId = 0L, nprobe = 2, m = 2, subDim = 2,
        coarseK = 50).select("doc_id").as[Long].collect().toSet
    assert(!serve().contains(4L), "doc 4 not yet appended")
    // coordinated append: doc 4 ('alpha beta beta theta', +8 halo)
    // must fuse on both legs afterward — and the serve never saw a
    // mixed-version window because both stores land on the same stamp
    Graft.appendAll(delta.toDF("doc_id", "text", "emb"), "cap-1", both)
    assert(serve().contains(4L),
      "the appended doc must fuse into the composed serve")
    // coordinated takedown: gone from the same serve, still aligned
    Graft.takedownAll(spark, Seq(4L), both)
    val after = serve()
    assert(after.nonEmpty && !after.contains(4L),
      s"the taken-down doc must never fuse again: $after")
  }

  test("replayRepair re-lands a half-landed batch exactly once: the " +
      "double-appended store is repaired to clean-twin serving, the " +
      "never-started store gets the batch, marker-present stores are " +
      "untouched, and the stamps align") {
    val search = tmp(); val dedup = tmp(); val ann = tmp()
    val (seed, delta) = corpus.splitAt(4)
    val seedDf = seed.toDF("doc_id", "text", "emb")
    val deltaDf = delta.toDF("doc_id", "text", "emb")
    Search.searchIndexWrite(seedDf.select("doc_id", "text"), search)
    TextDedup.dedupIndexWrite(seedDf.select("doc_id", "text"), dedup)
    Graft.annIndexWrite(seedDf, "doc_id", "emb", ann,
      kIvf = 2, m = 2, subDim = 2, k = 3)
    val all = Seq(Graft.SearchStore(search), Graft.DedupStore(dedup),
      Graft.AnnStore(ann))
    // the crash states fsck can only REPORT: the search store took the
    // batch TWICE with no marker (crashed append + one blind re-run
    // that crashed again pre-marker), the dedup store never started,
    // the ANN store completed (append + marker via appendAll)
    Search.searchIndexAppend(deltaDf.select("doc_id", "text"), search)
    Search.searchIndexAppend(deltaDf.select("doc_id", "text"), search)
    Graft.appendAll(deltaDf, "r1", Seq(Graft.AnnStore(ann)))
    val fsckDup = Graft.storeFsck(spark, search, execute = false)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fsckDup("dup-ids").contains("appended more than once"),
      s"precondition — the window fsck reports: $fsckDup")
    val annDocsBefore = spark.read
      .parquet(s"$ann/enc").count()

    Graft.replayRepair(deltaDf, "r1", all)

    // search store: serving is byte-identical to a clean twin built
    // over seed ∪ delta in one write
    val twin = tmp()
    Search.searchIndexWrite(full.select("doc_id", "text"), twin)
    val served = Search.searchIndexServe(spark, search, terms,
      topK = 100).select("doc_id", "score")
      .as[(Long, Double)].collect().toSet
    val twinServed = Search.searchIndexServe(spark, twin, terms,
      topK = 100).select("doc_id", "score")
      .as[(Long, Double)].collect().toSet
    assert(served == twinServed,
      s"repaired serving must equal the clean twin: $served vs $twinServed")
    // the repair's compact committed a NEW generation — read it (the
    // grace generation deliberately still holds the pre-repair bytes)
    def searchDocsNow() = spark.read.schema("doc_id BIGINT, dl INT")
      .parquet(s"$search/${Stores.genName("docs",
        Stores.currentGen(spark, search))}")
    val dups = searchDocsNow()
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dups == 0, "the duplicate rows must be physically gone")
    // dedup store: the batch landed (a clone of the repaired doc rejects)
    val verdicts = TextDedup.dedupIndexServe(
        Seq((200L, corpus(4)._2)).toDF("doc_id", "text"), dedup)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(verdicts(200L) == "reject",
      s"the never-started store must receive the batch: $verdicts")
    // ANN store (marker present): untouched — same encodings rows
    assert(spark.read.parquet(s"$ann/enc").count() == annDocsBefore,
      "a marker-present store must not be re-appended or compacted")
    // stamps aligned; a repair re-run is a stamp-only no-op
    val v = Stores.requireAlignedVersions(spark, all.map(_.dir))
    val searchDocsRows = searchDocsNow().count()
    Graft.replayRepair(deltaDf, "r1", all)
    assert(searchDocsNow().count() == searchDocsRows,
      "re-running the repair must change no data")
    assert(Stores.requireAlignedVersions(spark, all.map(_.dir)) == v + 1,
      "the re-run re-stamps to a new common target — still aligned")
  }

  test("the chunk-resolution scan pushes its packed-id range into " +
      "parquet (row-group pruning at corpus scale) and resolves " +
      "exactly the batch's chunks") {
    val chunk = tmp()
    Search.searchIndexWrite(Search.chunkCorpus(docsDf), chunk,
      idCol = "chunk_id", textCol = "chunk_text")
    val plan = Stores.chunkIdsPlan(spark, chunk, 1000000L, Seq(2L, 4L))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the raw-column range conjunct must reach the scan — the computed
    // div-membership alone cannot push down, and without the range the
    // takedown would decode the whole sidecar at corpus scale
    assert(plan.contains("PushedFilters")
        && plan.contains("GreaterThanOrEqual(doc_id,2000000)")
        && plan.contains("LessThan(doc_id,5000000)"),
      s"the packed-id bounds must push into the parquet scan:\n$plan")
    val ids = Stores.chunkIdsPlan(spark, chunk, 1000000L, Seq(2L, 4L))
      .as[Long].collect().toSet
    assert(ids.nonEmpty
        && ids.forall(id => id / 1000000L == 2L || id / 1000000L == 4L),
      s"resolution must return exactly the batch docs' chunk ids: $ids")
    // doc 3 sits INSIDE the [2,4] bound — the membership conjunct must
    // exclude its chunks even though the range admits them
    assert(!ids.exists(id => id / 1000000L == 3L),
      s"an in-range non-member doc must not resolve: $ids")
  }

  test("FRAME-shaped takedownAll ≡ the Seq form on all four store " +
      "kinds — same tombstoned serves, same stamps, zero collects") {
    // two identical 4-store layouts; one takes the Seq takedown, the
    // other the same batch AS A DATAFRAME (the r17 missing #1 API —
    // ids stay a plan: semi-join tombstones, computed-key chunk
    // resolution, no isInCollection literals)
    def build(): (String, String, String, String) = {
      val search = tmp(); val chunk = tmp(); val dedup = tmp(); val ann = tmp()
      Search.searchIndexWrite(docsDf, search)
      Search.searchIndexWrite(Search.chunkCorpus(docsDf), chunk,
        idCol = "chunk_id", textCol = "chunk_text")
      TextDedup.dedupIndexWrite(docsDf, dedup)
      Graft.annIndexWrite(full, "doc_id", "emb", ann,
        kIvf = 2, m = 2, subDim = 2, k = 3)
      (search, chunk, dedup, ann)
    }
    def refs(t: (String, String, String, String)) = Seq(
      Graft.SearchStore(t._1), Graft.ChunkSearchStore(t._2),
      Graft.DedupStore(t._3), Graft.AnnStore(t._4))
    val a = build(); val b = build()
    Graft.takedownAll(spark, Seq(2L, 4L), refs(a))
    Graft.takedownAll(spark, Seq(2L, 4L).toDF("doc_id"), refs(b))
    def state(t: (String, String, String, String)): Seq[Set[Long]] = Seq(
      Search.searchIndexServe(spark, t._1, terms, topK = 100)
        .select("doc_id").as[Long].collect().toSet,
      Search.searchIndexServe(spark, t._2, terms, topK = 100)
        .select("doc_id").as[Long].collect().toSet,
      TextDedup.dedupIndexServe(
          Seq((100L, corpus(2)._2), (101L, corpus(1)._2))
            .toDF("doc_id", "text"), t._3)
        .filter(col("status") === "admit")
        .select("doc_id").as[Long].collect().toSet,
      Graft.annIndexServe(full, "doc_id", "emb", t._4,
          queryId = 4L, nprobe = 2, m = 2, subDim = 2, coarseK = 50,
          topK = 5)
        .select("vec_id").as[Long].collect().toSet)
    assert(state(a) == state(b),
      s"frame and seq takedowns must serve identically:\n" +
        s"  seq:   ${state(a)}\n  frame: ${state(b)}")
    assert(!state(b).head.contains(2L) && !state(b).head.contains(4L),
      "the frame takedown must actually tombstone the batch")
    val vs = Seq(b._1, b._2, b._3, b._4)
      .map(d => Graft.storeVersion(spark, d))
    assert(vs == Seq(1L, 1L, 1L, 1L),
      s"the frame form bumps each store exactly once: $vs")
  }

  test("FRAME-shaped takedown stamps ride each store's delete: a " +
      "mid-list crash leaves a LOUD divergence (r19 advice — the " +
      "delete-all-then-stamp split read as falsely aligned)") {
    val search = tmp(); val dedup = tmp()
    Search.searchIndexWrite(docsDf, search)
    TextDedup.dedupIndexWrite(docsDf, dedup)
    val refs = Seq(Graft.SearchStore(search), Graft.DedupStore(dedup))
    // hold the SECOND store's mutation lock so its delete throws
    // mid-list — the crash shape. Under the old phase split (all
    // deletes, then all stamps) this crash left EVERY stamp at the
    // old common value: the composed serve read as aligned over
    // half-applied tombstones. Interleaved, the completed store is
    // stamped AHEAD and the divergence is loud until the re-run.
    val lock = new java.io.File(s"$dedup/mutation-lock")
    assert(lock.createNewFile())
    intercept[IllegalStateException](
      Graft.takedownAll(spark, Seq(4L).toDF("doc_id"), refs))
    assert(Graft.storeVersion(spark, search) == 1L
        && Graft.storeVersion(spark, dedup) == 0L,
      "the completed store must be stamped ahead of the crashed one")
    intercept[IllegalStateException](
      Stores.requireAlignedVersions(spark, Seq(search, dedup)))
    // the documented repair: clear the dead holder's lock (the fsck
    // contract), re-run the SAME takedown — converges on a fresh
    // common target
    assert(lock.delete())
    Graft.takedownAll(spark, Seq(4L).toDF("doc_id"), refs)
    assert(Stores.requireAlignedVersions(spark, Seq(search, dedup)) == 2L,
      "one re-run must align both stores on the common target")
  }

  test("FRAME-shaped takedownAll releases its id pin (before/after " +
      "persistent-RDD diff)") {
    val search = tmp()
    Search.searchIndexWrite(docsDf, search)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Graft.takedownAll(spark, docsDf.select("doc_id")
      .filter(col("doc_id") === 2L), Seq(Graft.SearchStore(search)))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"takedownAll left persistent RDD ids $leaked resident — the id " +
        "pin must be unpersisted in the finally")
  }

  test("FRAME-shaped takedownAll accepts an EMPTY batch: deletes are " +
      "no-ops, stamps still land on the common target") {
    val search = tmp(); val chunk = tmp()
    Search.searchIndexWrite(docsDf, search)
    Search.searchIndexWrite(Search.chunkCorpus(docsDf), chunk,
      idCol = "chunk_id", textCol = "chunk_text")
    // diverge the pair first so the empty takedown has real work to do
    // on the stamp side (the convergence rule, not just +1 everywhere)
    Search.searchIndexDelete(spark, search, Seq(5L))
    val refs = Seq(Graft.SearchStore(search), Graft.ChunkSearchStore(chunk))
    Graft.takedownAll(spark,
      docsDf.select("doc_id").filter(lit(false)), refs)
    assert(Stores.requireAlignedVersions(spark, Seq(search, chunk)) == 2L,
      "an empty compliance window must still re-align the stores")
    val hits = Search.searchIndexServe(spark, search, terms, topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.nonEmpty, s"an empty takedown must not tombstone: $hits")
  }

  test("a malformed takedown feed fails LOUDLY before any store is " +
      "touched — no silent NULL-cast compliance miss, no diverged tail") {
    val search = tmp(); val dedup = tmp()
    Search.searchIndexWrite(docsDf, search)
    TextDedup.dedupIndexWrite(docsDf, dedup)
    val refs = Seq(Graft.SearchStore(search), Graft.DedupStore(dedup))
    // a string id column with one non-numeric entry: the non-ANSI cast
    // would turn it into NULL (joins nothing — the takedown "succeeds"
    // while the doc keeps serving); the guard must throw at the pin
    val feed = Seq("2", "oops-4", "5").toDF("doc_id")
    val e = intercept[Exception](Graft.takedownAll(spark, feed, refs))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not a long")),
      s"the guard must name the malformed id: ${msgs(e)}")
    // zero stores mutated or stamped: the re-run after fixing the feed
    // starts from an aligned, untouched state
    assert(Seq(search, dedup).map(Graft.storeVersion(spark, _))
      == Seq(0L, 0L), "no stamp may move on a failed validation")
    val hits = Search.searchIndexServe(spark, search, terms, topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.contains(2L),
      "no tombstone may land on a failed validation")
    // a NULL id fails the same way
    val e2 = intercept[Exception](Graft.takedownAll(spark,
      Seq(Some(2L), None).toDF("doc_id"), refs))
    assert(msgs(e2).exists(_.contains("not a long")))
    // a FRACTIONAL numeric id fails too (r18 advice): a plain long
    // cast would TRUNCATE 2.7 to 2 and tombstone the wrong document —
    // the round-trip guard must reject it as loudly as a bad string
    val e3 = intercept[Exception](Graft.takedownAll(spark,
      Seq(2.0, 2.7).toDF("doc_id"), refs))
    assert(msgs(e3).exists(_.contains("not a long")),
      s"fractional ids must fail, not truncate: ${msgs(e3)}")
    assert(Seq(search, dedup).map(Graft.storeVersion(spark, _))
      == Seq(0L, 0L), "no stamp may move on a fractional-id feed")
    // …while INTEGRAL doubles round-trip and take down normally
    Graft.takedownAll(spark, Seq(2.0, 4.0).toDF("doc_id"), refs)
    val left = Search.searchIndexServe(spark, search, terms, topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(!left.contains(2L) && !left.contains(4L),
      "integral numeric ids must still take down")
  }

  test("a batch the chunk family cannot pack fails at the PIN, with " +
      "zero stores mutated or stamped (r18 advice: the guard must not " +
      "fire mid-list after earlier stores already stamped)") {
    val search = tmp(); val chunk = tmp()
    Search.searchIndexWrite(docsDf, search)
    Search.searchIndexWrite(Search.chunkCorpus(docsDf), chunk,
      idCol = "chunk_id", textCol = "chunk_text")
    // search store FIRST in the list — the old form mutated and
    // stamped it before the chunk family's per-row guard raised
    val refs = Seq(Graft.SearchStore(search), Graft.ChunkSearchStore(chunk))
    val e = intercept[Exception](Graft.takedownAll(spark,
      Seq(2L, -1L).toDF("doc_id"), refs))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not packable")),
      s"the bounds guard must name the packability failure: ${msgs(e)}")
    assert(Seq(search, chunk).map(Graft.storeVersion(spark, _))
      == Seq(0L, 0L),
      "no stamp may move when the batch fails the pin-time bounds check")
    val hits = Search.searchIndexServe(spark, search, terms, topK = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.contains(2L),
      "no tombstone may land when the pin-time bounds check fails")
  }

  test("coordinated append releases its delta pins: no resident " +
      "checkpoint blocks survive appendAll (the r17 footprint tail)") {
    val search = tmp(); val dedup = tmp()
    val (head, rest) = corpus.splitAt(4)
    Search.searchIndexWrite(head.toDF("doc_id", "text", "emb")
      .select("doc_id", "text"), search)
    TextDedup.dedupIndexWrite(head.toDF("doc_id", "text", "emb")
      .select("doc_id", "text"), dedup)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Stores.appendAll(rest.toDF("doc_id", "text", "emb"), "pin-release",
      Seq(Graft.SearchStore(search), Graft.DedupStore(dedup)))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"appendAll left persistent RDD ids $leaked resident — the " +
        "delta pins must be unpersisted once every store has appended")
  }

  test("takedown of an id absent everywhere still bumps every store — " +
      "alignment is preserved for the composed serve") {
    val search = tmp(); val chunk = tmp()
    Search.searchIndexWrite(docsDf, search)
    Search.searchIndexWrite(Search.chunkCorpus(docsDf), chunk,
      idCol = "chunk_id", textCol = "chunk_text")
    Graft.takedown(spark, 999L,
      Seq(Graft.SearchStore(search), Graft.ChunkSearchStore(chunk)))
    val vs = Seq(search, chunk).map(d => Graft.storeVersion(spark, d))
    assert(vs == Seq(1L, 1L),
      s"an absent-id takedown must still bump both stamps: $vs")
    assert(Stores.requireAlignedVersions(spark, Seq(search, chunk)) == 1L)
  }
}
