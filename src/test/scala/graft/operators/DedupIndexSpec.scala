package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase}

/** Pins the ON-DISK LSH signature store (`dedupIndexWrite` / `Append` /
  * `Serve` / `Delete` / `Compact` / `Stats`): q156-parity of the disk
  * serve, the append ≡ rebuild contract, the tombstone/compaction
  * lifecycle, the geometry manifest, and the rebuild-over-used-dir
  * sidecar rule — the text twin of DiskIndexSpec. */
class DedupIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // a tiny corpus with exact near-dups: docs 1/2 share their text
  // verbatim (identical signatures → collide in every band), 3/4 too;
  // 0 and 5 are loners. Long enough for 3-gram shingles.
  private def doc(id: Long, text: String) = (id, text)
  private val corpus = Seq(
    doc(0L, "the quick brown fox jumps over the lazy dog today"),
    doc(1L, "pack my box with five dozen liquor jugs right now"),
    doc(2L, "pack my box with five dozen liquor jugs right now"),
    doc(3L, "sphinx of black quartz judge my vow said the king"),
    doc(4L, "sphinx of black quartz judge my vow said the king"),
    doc(5L, "how vexingly quick daft zebras jump over a fence"))

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-dedupidx").toString

  private def serveSeq(newDocs: Seq[(Long, String)], idx: String)
      : Seq[(Long, Int, String)] =
    TextDedup.dedupIndexServe(docsDf(newDocs), idx)
      .as[(Long, Int, String)].collect().toSeq

  test("disk serve equals the in-memory ingestVerdicts exactly") {
    val resident = corpus.filter(_._1 <= 3)
    val batch = corpus.filter(_._1 >= 4)
    val idx = tmp()
    TextDedup.dedupIndexWrite(docsDf(resident), idx)
    val disk = serveSeq(batch, idx)
    val mem = TextDedup.ingestVerdicts(
        TextDedup.bandsOfSignatures(docsDf(batch)),
        TextDedup.bandsOfSignatures(docsDf(resident)))
      .as[(Long, Int, String)].collect().toSeq
    assert(disk.nonEmpty && disk == mem,
      s"disk-served verdicts must equal in-memory:\n$disk\nvs\n$mem")
    // the fixture must exercise both verdicts or the pin is vacuous
    assert(disk.exists(_._3 == "reject") && disk.exists(_._3 == "admit"))
  }

  test("q184 equals q156 row for row at sf0.001") {
    // the metered disk path and the registry path share their oracle;
    // this pins them against each other directly, engine-side
    TextDedup.resetDiskDedupMemo()
    val a = SparkEntry.queries("q184_disk_incremental_dedup")(spark, sf)
      .as[(Long, Int, String)].collect().toSeq
    val b = SparkEntry.queries("q156_incremental_dedup")(spark, sf)
      .as[(Long, Int, String)].collect().toSeq
    assert(a.nonEmpty && a == b,
      "the disk-served q184 must match q156 exactly")
  }

  test("append serves identically to a full rebuild") {
    val old = corpus.filter(_._1 <= 2)
    val delta = corpus.filter(d => d._1 == 3L || d._1 == 4L)
    val batch = corpus.filter(_._1 == 5L) ++ Seq(
      doc(6L, "sphinx of black quartz judge my vow said the king"))
    val incr = tmp(); val full = tmp()
    TextDedup.dedupIndexWrite(docsDf(old), incr)
    TextDedup.dedupIndexAppend(docsDf(delta), incr)
    TextDedup.dedupIndexWrite(docsDf(old ++ delta), full)
    val a = serveSeq(batch, incr)
    val b = serveSeq(batch, full)
    assert(a.nonEmpty && a == b,
      s"append must equal the rebuild:\n$a\nvs\n$b")
    // the appended rows actually match: doc 6 collides with 3/4
    assert(a.exists(r => r._1 == 6L && r._2 == 2 && r._3 == "reject"),
      s"doc 6 must reject against the appended residents: $a")
  }

  test("tombstoned docs stop matching; compaction preserves verdicts " +
      "and restores one file per band") {
    val resident = corpus.filter(_._1 <= 4)
    val batch = Seq(doc(7L, "pack my box with five dozen liquor jugs right now"))
    val idx = tmp()
    TextDedup.dedupIndexWrite(docsDf(resident), idx)
    // fragment: append a loner so band dirs hold >1 file
    TextDedup.dedupIndexAppend(docsDf(Seq(
      doc(8L, "a completely different sentence about distant quiet stars"))), idx)
    assert(serveSeq(batch, idx).head == ((7L, 2, "reject")),
      "doc 7 must initially reject against residents 1 and 2")
    // delete one twin: the collision count must drop immediately
    TextDedup.dedupIndexDelete(spark, idx, Seq(2L))
    val afterDel = serveSeq(batch, idx)
    assert(afterDel.head == ((7L, 1, "reject")),
      s"a tombstoned resident must stop matching: $afterDel")
    // compact: physical apply + one file per band, verdicts unchanged
    TextDedup.dedupIndexCompact(spark, idx)
    assert(serveSeq(batch, idx) == afterDel,
      "compaction must not change a single verdict")
    val stats = TextDedup.dedupIndexStats(spark, idx)
      .as[(Int, Long, Int)].collect().toSeq
    assert(stats.map(_._1) == Seq(0, 1, 2, 3),
      s"all four bands must report: $stats")
    assert(stats.forall(_._3 == 1),
      s"compaction must leave ONE file per band: $stats")
    // 5 residents + 1 appended - 1 tombstoned = 5 live docs per band
    assert(stats.forall(_._2 == 5L),
      s"each band holds one row per live doc: $stats")
    // the compact committed generation 1 with an EMPTY tombstone set;
    // generation 0 (bands + tombstones) survives as the serve grace
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(graft.operators.Stores.currentGen(spark, idx) == 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/tombstones-g1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/bands"))
      && fs.exists(new org.apache.hadoop.fs.Path(s"$idx/tombstones")),
      "the pre-compact generation survives one compact as the grace")
  }

  test("maintenance policy: compact decisions on fragmentation and " +
      "tombstone share; execute compacts, verdicts survive") {
    // the annIndexMaintain decision layer on the text store: build →
    // append (fragments every band) → delete 2 of 7 residents (~28%
    // dead > 20% cap) → maintain(execute) → verdicts must equal a
    // fresh rebuild over the live set, and a fresh policy run is
    // all-ok
    val idx = tmp()
    TextDedup.dedupIndexWrite(docsDf(corpus), idx)
    TextDedup.dedupIndexAppend(docsDf(Seq(
      doc(6L, "one more wholly original sentence rides in the append wave"))),
      idx)
    TextDedup.dedupIndexDelete(spark, idx, Seq(2L, 4L))
    val report = TextDedup.dedupIndexMaintain(spark, idx)
      .as[(Int, Long, Int, Long, String)].collect().toSeq
    assert(report.map(_._1) == Seq(0, 1, 2, 3), s"all bands report: $report")
    assert(report.forall(r => r._4 == 2L && r._5 == "compact"),
      s"2 of 7 docs dead (~2857 bp > 2000) must decide compact: $report")
    // fragmentation alone also triggers: 2 files/band > maxFiles=1
    val frag = TextDedup.dedupIndexMaintain(spark, idx, maxFiles = 1,
        maxTombBp = 10000L)
      .as[(Int, Long, Int, Long, String)].collect().toSeq
    assert(frag.forall(r => r._3 == 2 && r._5 == "compact"),
      s"2-file bands must decide compact at maxFiles=1: $frag")
    val batch = Seq(doc(9L, "pack my box with five dozen liquor jugs right now"))
    val before = serveSeq(batch, idx)
    val executed = TextDedup.dedupIndexMaintain(spark, idx,
        execute = true)
      .as[(Int, Long, Int, Long, String)].collect().toSeq
    assert(executed.exists(_._5 == "compact"),
      "the executed run reports the decisions it acted on")
    assert(serveSeq(batch, idx) == before,
      "executed maintenance must not change a verdict")
    val calm = TextDedup.dedupIndexMaintain(spark, idx)
      .as[(Int, Long, Int, Long, String)].collect().toSeq
    assert(calm.forall(r => r._3 == 1 && r._4 == 0L && r._5 == "ok"),
      s"post-maintenance policy must be all-ok, one file per band: $calm")
  }

  test("the manifest rejects a store written under a different banding") {
    val idx = tmp()
    TextDedup.dedupIndexWrite(docsDf(corpus.take(3)), idx)
    // simulate a store from a future library version: overwrite the
    // manifest with a different geometry row
    Stores.writeMetaSidecar(spark, s"$idx/manifest", Seq(
      "shingle_k" -> "4", "n_hashes" -> "16",
      "bands" -> "8", "rows_per_band" -> "2"))
    def geometryError(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("(4,16,8,2)"),
        s"the error must name the stored geometry: ${e.getMessage}")
    }
    geometryError(TextDedup.dedupIndexServe(docsDf(corpus.drop(3)), idx))
    geometryError(TextDedup.dedupIndexAppend(docsDf(corpus.drop(3)), idx))
    // a manifest-less store is rejected, naming its directory
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/manifest"), true)
    val e = intercept[IllegalStateException](
      TextDedup.dedupIndexServe(docsDf(corpus.drop(3)), idx))
    assert(e.getMessage.contains(s"no manifest sidecar under $idx"),
      s"the error must name the directory: ${e.getMessage}")
  }

  test("rebuild over a used dir clears stale tombstones and ingest ledger") {
    val idx = tmp()
    TextDedup.dedupIndexWrite(docsDf(corpus), idx)
    TextDedup.dedupIndexDelete(spark, idx, Seq(1L))
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/ingested/batch-0"))
    TextDedup.dedupIndexCompact(spark, idx) // gen 1 + grace gen 0
    // second life, same ids: the stale tombstone must not mask doc 1,
    // and the stale generations/pointer must not shadow the fresh write
    TextDedup.dedupIndexWrite(docsDf(corpus), idx)
    for (side <- Seq("tombstones", "ingested", "gen-1", "bands-g1",
        "tombstones-g1"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/$side")),
        s"stale $side/ must not survive a rebuild")
    val verdict = serveSeq(
      Seq(doc(9L, "pack my box with five dozen liquor jugs right now")), idx)
    assert(verdict.head._2 == 2,
      s"rebuilt resident 1 must match again (stale tombstone): $verdict")
  }

  test("the band view reads through the declared schema (band stays INT)") {
    val idx = tmp()
    TextDedup.dedupIndexWrite(docsDf(corpus), idx)
    val schema = spark.read
      .schema("doc_id BIGINT, bv STRING, band INT")
      .parquet(s"$idx/bands").schema
    assert(schema("band").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // and each band directory exists with exactly one file from write
    val stats = TextDedup.dedupIndexStats(spark, idx)
      .as[(Int, Long, Int)].collect().toSeq
    assert(stats.map(_._1) == Seq(0, 1, 2, 3) && stats.forall(_._3 == 1),
      s"write must lay out one file per band: $stats")
  }
}
