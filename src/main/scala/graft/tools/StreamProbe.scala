package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Doc, TimedDoc}

/** Measures the STREAMING operators' throughput law the way ScaleProbe
  * measures the batch paths: the claim behind `ingestDedup` and
  * `driftMonitor` is that per-doc cost is independent of how much
  * history the stream has absorbed (state is keyed by band bucket /
  * (source, window), never scanned linearly), so docs/sec should hold
  * FLAT as the fed corpus grows. This tool feeds 1×/3×/10× the sf0.1
  * documents (ScaleProbe's replica-decorrelated generator) through a
  * MemoryStream in fixed 1000-doc micro-batches and reports docs/sec
  * per multiplier plus the per-batch time of the FIRST vs LAST batch —
  * a rising last/first ratio is the superlinear-state smell the r11
  * verdict flagged (and the Set-backed state fixed).
  *
  *   sbt "runMain graft.tools.StreamProbe"           # 1,3,10
  *
  * Results recorded in BASELINE.md ("Measured growth laws"). Uses
  * MemoryStream (a developer API) deliberately: it removes source I/O
  * from the measurement, so the number is the operator's own cost. */
object StreamProbe {
  private val BatchSize = 1000

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = args.lift(1).getOrElse("1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = localSession(32)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    for (m <- mults) {
      // replica-decorrelated corpus (ScaleProbe's generator), collected
      // once: MemoryStream feeding isolates the operator from source I/O
      val docs = ScaleProbe.scaledDocuments(spark, baseDir, m)
        .select(col("doc_id"), col("text"))
        .as[Doc].collect()

      // ── ingestDedup: dedup every batch against ALL earlier history ──
      val in = MemoryStream[Doc]
      val q = StreamingOps.ingestDedup(in.toDS()).writeStream
        .format("memory").queryName(s"sp_ingest_$m")
        .outputMode("update").start()
      val batches = docs.grouped(BatchSize).toSeq
      var first = 0.0
      var last = 0.0
      val t0 = System.nanoTime()
      batches.zipWithIndex.foreach { case (b, i) =>
        val bt0 = System.nanoTime()
        in.addData(b.toSeq)
        q.processAllAvailable()
        val bt = (System.nanoTime() - bt0) / 1e9
        if (i == 0) first = bt
        if (i == batches.size - 1) last = bt
      }
      val total = (System.nanoTime() - t0) / 1e9
      val collisions = spark.table(s"sp_ingest_$m").count()
      q.stop()
      println(f"[streamprobe] op=ingestDedup m=$m docs=${docs.length} " +
        f"batches=${batches.size} secs=$total%.1f " +
        f"docs_per_sec=${docs.length / total}%.0f " +
        f"first_batch=$first%.2f last_batch=$last%.2f " +
        f"collisions=$collisions")

      // ── driftMonitor: per-(source, window) KL vs a fixed reference ──
      // reference = the base corpus' 1000 hottest tokens (driver-side
      // model, as a production drift alarm would load it)
      val ref = graft.Tables(spark, baseDir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").count().orderBy(col("count").desc, col("w"))
        .limit(1000).as[(String, Long)].collect().toMap
      val din = MemoryStream[TimedDoc]
      val dq = StreamingOps.driftMonitor(din.toDS(), ref,
          windowMs = 3600000L).writeStream
        .format("memory").queryName(s"sp_drift_$m")
        .outputMode("append").start()
      // spread docs over one window per 10k docs; sources from doc_id
      val timed = docs.zipWithIndex.map { case (d, i) =>
        TimedDoc(d.doc_id,
          new java.sql.Timestamp(1700000000000L + (i / 10000) * 3600000L
            + (i % 10000) * 300L),
          s"s${d.doc_id % 5}", d.text)
      }
      val dt0 = System.nanoTime()
      timed.grouped(BatchSize).foreach { b =>
        din.addData(b.toSeq)
        dq.processAllAvailable()
      }
      // close every window: one far-future doc, then one more batch so
      // the event-time timeouts fire
      din.addData(TimedDoc(-1L,
        new java.sql.Timestamp(1700000000000L + 1000L * 3600000L), "s9", "x"))
      dq.processAllAvailable()
      din.addData(TimedDoc(-2L,
        new java.sql.Timestamp(1700000000000L + 1001L * 3600000L), "s9", "x"))
      dq.processAllAvailable()
      val dTotal = (System.nanoTime() - dt0) / 1e9
      val cells = spark.table(s"sp_drift_$m").count()
      dq.stop()
      println(f"[streamprobe] op=driftMonitor m=$m docs=${timed.length} " +
        f"secs=$dTotal%.1f docs_per_sec=${timed.length / dTotal}%.0f " +
        f"cells=$cells")

      // ── ingestDedup RECOVERY latency vs absorbed state: build the
      // full m× resident state under a real checkpoint, KILL the query,
      // restart from the checkpoint and time restart→first-commit of
      // one more batch. The claim under test: recovery cost is the
      // state-store reload (per-partition, O(state) I/O) + one batch —
      // it must grow at most linearly in the absorbed corpus, never
      // explode, or the operator cannot be operated at scale (a 100 TB
      // deployment restarts executors weekly as a matter of course).
      // foreachBatch (count-forced) is the sink: the memory sink
      // refuses checkpoint recovery (StreamingRecoverySpec).
      val ckptRoot = java.nio.file.Files.createTempDirectory(s"sp_rec_$m")
      try {
        val ckpt = ckptRoot.resolve("ckpt").toString
        val rin = MemoryStream[Doc]
        def rstart() = StreamingOps.ingestDedup(rin.toDS()).writeStream
          .foreachBatch {
            (ds: org.apache.spark.sql.Dataset[StreamingOps.BandCollision],
                _: Long) => ds.count(); ()
          }
          .outputMode("update").option("checkpointLocation", ckpt).start()
        val rq = rstart()
        batches.foreach(b => rin.addData(b.toSeq))
        rq.processAllAvailable()
        rq.stop() // the kill, with the full corpus resident in state
        val rt0 = System.nanoTime()
        val rq2 = rstart()
        rin.addData(batches.head.toSeq) // one post-restart batch
        rq2.processAllAvailable()
        val recovery = (System.nanoTime() - rt0) / 1e9
        rq2.stop()
        println(f"[streamprobe] op=ingestRecovery m=$m " +
          f"state_docs=${docs.length} restart_to_commit=$recovery%.2f")
      } finally {
        // state-store snapshots grow with m — don't leave them in /tmp
        // on the shared box whose I/O regime the bench tries to keep
        // quiet (Bench's wioProbe has the same walk-and-delete)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckptRoot).iterator().asScala.toSeq
          .reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
      }

      // ── dedupIndexIngest (r15): the ON-DISK store's crawler loop.
      // Per-batch cost is a signature map + a partitioned parquet
      // append — the append never READS the resident store, so
      // per-batch time must stay flat as the store absorbs the corpus
      // (last/first is the smell test; the decay that DOES accrue —
      // small files — is compaction's job, timed here to close the
      // loop, and the post-ingest serve proves the accreted store
      // answers at its ScaleProbe band).
      val storeRoot = java.nio.file.Files.createTempDirectory(s"sp_disk_$m")
      try {
        val store = storeRoot.resolve("store").toString
        graft.operators.TextDedup.dedupIndexWrite(
          spark.emptyDataset[Doc].toDF(), store)
        val sin = MemoryStream[Doc]
        val sq = graft.operators.TextDedup.dedupIndexIngest(sin.toDF(),
          store, storeRoot.resolve("ckpt").toString)
        var sFirst = 0.0; var sLast = 0.0
        val st0 = System.nanoTime()
        batches.zipWithIndex.foreach { case (b, i) =>
          val bt0 = System.nanoTime()
          sin.addData(b.toSeq)
          sq.processAllAvailable()
          val bt = (System.nanoTime() - bt0) / 1e9
          if (i == 0) sFirst = bt
          if (i == batches.size - 1) sLast = bt
        }
        val sTotal = (System.nanoTime() - st0) / 1e9
        sq.stop()
        // serve a fixed 1000-doc batch (fresh IdStride-derived ids) off
        // the fully accreted, FRAGMENTED store
        val serveBatch = ScaleProbe.scaledDocuments(spark, baseDir, 1)
          .filter(col("doc_id") < 1000)
          .select((col("doc_id") + lit(1000000000L * (m + 40L)))
            .as("doc_id"), col("text"))
        val v0 = System.nanoTime()
        val verdicts = graft.operators.TextDedup
          .dedupIndexServe(serveBatch, store).count()
        val serveSecs = (System.nanoTime() - v0) / 1e9
        val fragFiles = graft.operators.TextDedup
          .dedupIndexStats(spark, store)
          .agg(max(col("files"))).head().getInt(0)
        val c0 = System.nanoTime()
        graft.operators.TextDedup.dedupIndexCompact(spark, store)
        val compactSecs = (System.nanoTime() - c0) / 1e9
        println(f"[streamprobe] op=diskIngest m=$m docs=${docs.length} " +
          f"batches=${batches.size} secs=$sTotal%.1f " +
          f"docs_per_sec=${docs.length / sTotal}%.0f " +
          f"first_batch=$sFirst%.2f last_batch=$sLast%.2f " +
          f"frag_files=$fragFiles serve=$serveSecs%.2f " +
          f"verdicts=$verdicts compact=$compactSecs%.2f")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(storeRoot).iterator().asScala.toSeq
          .reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
      }

      // ── searchIndexIngest (r16): the lexical store's crawler loop.
      // Per-batch cost = tokenize + bucketed postings append + docs
      // append + the INCREMENTAL stats reconcile (one stored-row read
      // + the delta's own aggregate). The flatness claim is sharper
      // here than on the dedup store: a full stats re-derive would
      // read the whole docs/ sidecar per batch — last_batch would
      // GROW with absorbed corpus and this leg would show it; flat
      // last/first is the measured form of the associativity
      // argument. Post-ingest: a BM25 serve off the accreted
      // fragmented store, then maintain(execute) and a re-serve —
      // the policy loop closed on streamed state.
      val sIdxRoot = java.nio.file.Files.createTempDirectory(s"sp_sidx_$m")
      try {
        val sIdx = sIdxRoot.resolve("idx").toString
        graft.operators.Search.searchIndexWrite(
          spark.emptyDataset[Doc].toDF(), sIdx)
        val xin = MemoryStream[Doc]
        val xq = graft.operators.Search.searchIndexIngest(xin.toDF(),
          sIdx, sIdxRoot.resolve("ckpt").toString)
        var xFirst = 0.0; var xLast = 0.0
        val xt0 = System.nanoTime()
        batches.zipWithIndex.foreach { case (b, i) =>
          val bt0 = System.nanoTime()
          xin.addData(b.toSeq)
          xq.processAllAvailable()
          val bt = (System.nanoTime() - bt0) / 1e9
          if (i == 0) xFirst = bt
          if (i == batches.size - 1) xLast = bt
        }
        val xTotal = (System.nanoTime() - xt0) / 1e9
        xq.stop()
        val xsv0 = System.nanoTime()
        val hits = graft.operators.Search.searchIndexServe(spark, sIdx,
          Seq("hash", "scan", "filter")).count()
        val xServe = (System.nanoTime() - xsv0) / 1e9
        val xFrag = graft.operators.Search.searchIndexStats(spark, sIdx)
          .agg(max(col("files"))).head().getInt(0)
        val xm0 = System.nanoTime()
        graft.operators.Search.searchIndexMaintain(spark, sIdx,
          execute = true)
        val xMaint = (System.nanoTime() - xm0) / 1e9
        val xsv1 = System.nanoTime()
        val hits2 = graft.operators.Search.searchIndexServe(spark, sIdx,
          Seq("hash", "scan", "filter")).count()
        val xServe2 = (System.nanoTime() - xsv1) / 1e9
        println(f"[streamprobe] op=searchIngest m=$m docs=${docs.length} " +
          f"batches=${batches.size} secs=$xTotal%.1f " +
          f"docs_per_sec=${docs.length / xTotal}%.0f " +
          f"first_batch=$xFirst%.2f last_batch=$xLast%.2f " +
          f"frag_files=$xFrag serve=$xServe%.2f hits=$hits " +
          f"maintain_exec=$xMaint%.2f serve_after=$xServe2%.2f " +
          f"hits_after=$hits2")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(sIdxRoot).iterator().asScala.toSeq
          .reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
    spark.stop()
  }
}
