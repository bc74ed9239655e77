package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The on-disk store kernel: what the four retrieval stores — ANN
  * cells (`Similarity.ivfPqIndex*`), dedup bands
  * (`TextDedup.dedupIndex*`), LSH audit pairs (`TextDedup.auditStore*`)
  * and search postings (`Search.searchIndex*`) — share, plus the
  * cross-store coordination a composed serving path like
  * [[graft.Graft.ragServeDisk]] needs once more than one store answers
  * the same corpus.
  *
  *  1. '''One lifecycle over four layouts''' ([[StoreLayout]]). Each
  *     store declares ONE layout constant next to its code — generation
  *     kinds, datasets with their declared read schemas, the partition
  *     column and where its count comes from, the tombstone id
  *     columns, and each dataset's fsck duplicate check — and tombstone
  *     subtraction, delete, compact, stats, maintain, the `ingested/`
  *     batch ledger and fsck are written once, here, over it. Per-store
  *     code keeps what really differs: the write/append encoding,
  *     serving, the manifest geometry check, and a few layout hooks.
  *
  *  2. '''Corpus-version stamps.''' Each store carries a one-line
  *     `corpus-version` sidecar file counting the mutations applied since
  *     its last rebuild (write ⇒ 0; every append / ingested batch /
  *     delete ⇒ +1; compaction is physical housekeeping, not a corpus
  *     change, and does not bump). Stores fed by the same coordinated
  *     pipeline therefore carry EQUAL stamps at every rest point, and
  *     a composed serve can demand alignment
  *     ([[requireAlignedVersions]]) instead of silently fusing two
  *     different corpus snapshots. Honest limits: the stamp is a
  *     coordination GUARD, not a transaction log — it cannot say WHICH
  *     mutations diverged, and a crash between a mutation and its bump
  *     leaves the stamp one behind (the repair is the same
  *     takedown/append re-run the mutation itself needs). A pre-stamp
  *     store (no `corpus-version` file) reads 0, aligning with fresh
  *     rebuilds.
  *
  *  3. '''Executable crash repair''' ([[storeFsck]], one
  *     [[StoreLayout.fsck]] for every store): every crash window in the
  *     lifecycle — torn compact scratch above the generation pointer,
  *     expired generations below the grace, the search append's
  *     orphaned-postings and stale-stats windows — is detectable from
  *     the directory state alone; fsck classifies the window and runs
  *     the documented repair (`execute = false` classifies without
  *     touching the store). [[replayRepair]] executes the one recovery
  *     fsck cannot (it needs the source batch).
  *
  *  4. '''The single-writer contract, made loud'''
  *     ([[withStoreLock]]): every physical mutation of the four stores
  *     runs under an exclusive per-store `mutation-lock` sidecar, so a
  *     double-launched mutation fails immediately naming the holder
  *     instead of silently interleaving stats/version
  *     read-modify-writes or compact swaps. Composed ops (takedownAll,
  *     appendAll, ingest, maintain) serialize through the primitives
  *     they call; serves are lock-free reads.
  */
object Stores {

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `df` as it is when its plan runs it as one partition (the size
    * rule, [[org.apache.spark.sql.graft.OnePartition]]), else
    * `atScale(df)`: the caller's shape for an input too large for one
    * split. Job-free: it reads the planned partitioning only. */
  private[graft] def onePartition(df: DataFrame,
      atScale: DataFrame => DataFrame): DataFrame =
    if (df.queryExecution.sparkPlan.outputPartitioning.numPartitions == 1) df
    else atScale(df)

  /** Root directory for the process's on-disk store builds (r22, the
    * durable-location posture the store docs have promised since r15):
    * when set, every memoized store build (dedup/audit/search/ann/the
    * coordinated pair) creates its directory UNDER this root instead
    * of the JVM temp dir — pointing it at durable shared storage is
    * what lets a production deployment serve a store built by an
    * earlier session. Unset (the default, and what the bench runs
    * under) keeps the per-JVM temp-dir behavior byte-for-byte: stores
    * are rebuilt inside the first consumer's timed section every cold
    * run — the no-cross-run-caching bench contract. The conf is read
    * at store-build time, so one session can route different builds
    * by flipping it between bootstraps (tests do). */
  private[graft] val StoreRootConf = "spark.graft.store.root"

  /** Create a fresh store directory for `prefix` under
    * [[StoreRootConf]] (creating the root if needed) or the JVM temp
    * dir when unset — THE factory every store memo build goes
    * through. */
  private[graft] def storeScratchDir(s: SparkSession,
      prefix: String): String =
    s.conf.getOption(StoreRootConf).filter(_.nonEmpty) match {
      case Some(root) =>
        val p = java.nio.file.Paths.get(root)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.createTempDirectory(p, prefix).toString
      case None =>
        java.nio.file.Files.createTempDirectory(prefix).toString
    }

  /** Forget every memoized store directory (ANN, dedup, audit, search
    * and the coordinated pair), so the next consumer of each store
    * builds it again — the cold first touch a fresh Bench JVM sees.
    * Ledger replays and job-count pins run from this state. */
  private[graft] def resetStoreMemos(): Unit = {
    Similarity.resetDiskIndexMemo()
    TextDedup.resetDiskDedupMemo()
    TextDedup.resetDiskAuditMemo()
    Search.resetDiskSearchMemo()
  }

  /** Run two INDEPENDENT store actions concurrently (r22, guide §2.6
    * "overlap independent jobs"): a store bootstrap is a chain of
    * small sequential actions whose cost at bench scale is the
    * scheduler round-trip, not the data — and several adjacent pairs
    * (the two dataset writes inside one store write, the two stores'
    * builds/compacts of a coordinated lifecycle, the per-store steps
    * of appendAll/takedownAll) have no data or ordering dependency at
    * all: their artifacts live in different directories (or different
    * datasets of one store) and their crash windows are already
    * per-artifact. Submitting them from two driver threads lets the
    * scheduler run both job chains at once, halving the serial length
    * of the absorbed section without changing any action, artifact,
    * or crash contract. Shared upstream cached frames are safe under
    * concurrent materialization (BlockManager serializes per-block
    * compute; the CacheRegistry's putIfAbsent race note).
    *
    * Discipline mirrored from [[stampAll]]: BOTH branches are awaited
    * (join-all) before any failure propagates — throwing on the first
    * while the other still runs would let its writes land after a
    * re-run had already started.
    *
    * FRESH threads per call, never a shared pool: Spark's job
    * attribution (local properties — job group/description, the
    * plan-audit construction tag) and the active session live in
    * InheritableThreadLocals, which a thread inherits from its
    * CREATOR at creation time. A pooled thread keeps whichever
    * caller's snapshot it was born under for its whole life —
    * measured: the first pool-using query's tag swallowed every later
    * bootstrap's constructor jobs in PlanConstructionSpec. A fresh
    * thread inherits the current caller's snapshot, so catalyst's
    * thread-local conf reads, UI labels, and spec attribution all see
    * exactly what a sequential call would. Thread creation is
    * microseconds against multi-job store builds.
    *
    * SAFETY CONTRACT (learned the hard way in r22): the two branches
    * must not share an UN-MATERIALIZED plan subtree that contains
    * lambda higher-order functions (transform/filter/aggregate/
    * zip_with — their lambda variables are single mutable value
    * holders on the shared analyzed tree) unless every shared leaf is
    * a parquet scan or an already-planned cached relation. Executor
    * tasks deserialize private plan copies, so distributed execution
    * never races — but over a LOCAL relation (any facade caller's
    * Seq.toDF) the optimizer evaluates projections interpreted on the
    * DRIVER (ConvertToLocalRelation), and two planning threads then
    * race the shared lambda holders: observed as corrupted rows in
    * BOTH branches' artifacts (the r22 ivfPqIndexWrite books∥cents
    * attempt, reverted). Safe shapes used by the current call sites:
    * branches over a localCheckpoint-pinned shared frame (takedown/
    * append batches), branches whose shared subtrees are registry
    * caches or corpus parquet (the audit pair write, the coordinated
    * q187 builds), and branches sharing only stateless expressions
    * (the search docs∥postings split/explode). */
  private[operators] def inParallel(s: SparkSession)(
      a: => Unit, b: => Unit): Unit =
    runConcurrently(s, Seq(() => a, () => b))

  /** [[inParallel]] for the coordinated per-store mutation loops: run
    * `body` once per store ref, all refs concurrently (store lists
    * are operator-sized, 2–4 refs), join-all before rethrowing the
    * first failure. */
  private def forAllStores(s: SparkSession, stores: Seq[StoreRef])(
      body: StoreRef => Unit): Unit =
    runConcurrently(s, stores.map(ref => () => body(ref)))

  private def runConcurrently(s: SparkSession,
      bodies: Seq[() => Unit]): Unit = {
    val firstErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = bodies.map { b =>
      val t = new Thread(() => {
        try { SparkSession.setActiveSession(s); b() }
        catch { case e: Throwable => firstErr.compareAndSet(null, e) }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    val e = firstErr.get()
    if (e != null) throw e
  }

  /** Await an [[org.apache.spark.sql.Observation]]'s metrics row after
    * its action has returned — the store writes fold their one-row
    * stats aggregates into the write action itself (r18 verdict: fewer
    * absorbed bootstrap jobs) instead of running a separate read-back
    * job. The observation is delivered through a QueryExecutionListener
    * that fires ASYNCHRONOUSLY after the action returns, hence the
    * bounded wait; `None` (the listener never firing) sends callers to
    * their read-back fallback, so a Spark version that stopped
    * observing write commands would degrade to the pre-r19 job count,
    * never to wrong stats. Retry honesty: observed metrics are SQL
    * accumulators, which Spark applies once per successful task (a
    * speculative duplicate's update is dropped with its uncommitted
    * output), so the row matches the committed files; and if that
    * guarantee ever bent, [[searchIndexFsck]]'s independent
    * stats ≡ agg(docs/) check is the standing runtime net. Leak
    * closure (r19 advice): a timed-out Observation is DROPPED from
    * the session's ObservationManager map
    * ([[org.apache.spark.sql.graft.Bridge.dropObservation]]) before
    * returning None — without that, each timeout pinned one dead
    * entry (and its Observation) for the session's lifetime, so a
    * Spark build that stopped observing write commands would leak
    * one per store write. The drop also guards the stats contract's
    * edge: a metrics row arriving AFTER the fallback path has
    * already re-derived stats can no longer complete a stale entry. */
  private[operators] def awaitObserved(s: SparkSession,
      obs: org.apache.spark.sql.Observation,
      timeoutMs: Long = 30000L): Option[org.apache.spark.sql.Row] =
    try Some(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(timeoutMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        org.apache.spark.sql.graft.Bridge.dropObservation(s, obs)
        None
    }

  /** A store's corpus-version stamp; 0 for a pre-stamp store. The
    * stamp is a RAW one-line text sidecar file (`corpus-version`),
    * deliberately not a parquet dataset: every mutation reads and
    * rewrites it, and at a Spark-job-per-access cost the stamp would
    * tax every append/delete/ingest batch with two scheduler
    * round-trips for one long — a pure driver-side metadata op stays a
    * filesystem op (measured: the parquet form added ~0.2–0.4 s per
    * mutation to the metered disk-store queries). */
  private[graft] def storeVersion(s: SparkSession, dir: String): Long =
    readRawLong(s, s"$dir/corpus-version").getOrElse(0L)

  /** Read a one-line numeric sidecar; None when absent. */
  private def readRawLong(s: SparkSession, path: String): Option[Long] = {
    val p = new Path(path)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** Overwrite a store's stamp (writes call this with 0 — a rebuild
    * starts a new coordination epoch). Temp-write + rename keeps the
    * swap atomic on any Hadoop filesystem; the instant between the
    * delete and the rename reads 0, which can only UNDER-state the
    * version — a crashed bump therefore reads as a divergence (loud)
    * for a composed serve, never as a false alignment, unless every
    * peer store crashed inside the same instant (the re-run of the
    * interrupted mutation restores all stamps either way). */
  private[graft] def writeStoreVersion(s: SparkSession, dir: String,
      v: Long): Unit = writeRawLong(s, s"$dir/corpus-version", v)

  /** Write a one-line numeric sidecar via temp-write + rename. */
  private def writeRawLong(s: SparkSession, path: String,
      v: Long): Unit = {
    val p = new Path(path)
    val tmp = new Path(s"$path-tmp")
    val fs = fsOf(s, p)
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"writeRawLong: rename failed for $path")
  }

  /** version := version + 1 — every corpus MUTATION (append, ingested
    * batch via append, delete) bumps exactly once. */
  private[graft] def bumpStoreVersion(s: SparkSession, dir: String): Unit =
    writeStoreVersion(s, dir, storeVersion(s, dir) + 1)

  // ───────────────── generational datasets ─────────────────
  //
  // Compaction used to REPLACE each dataset in place (write scratch,
  // rename current→retired, rename scratch→current) — which made every
  // compact non-atomic across a store's datasets (the half-swapped
  // crash windows the old fsck classified) and broke any serve
  // constructed before the swap (its planned file paths vanished under
  // the rename — the documented "retry the serve" read-side contract).
  // Generations remove both: a compact writes the NEXT generation's
  // datasets at fresh `<kind>-g<N>` paths, then COMMITS everything with
  // one atomic pointer flip (the `gen` sidecar), and the PRIOR
  // generation survives until the NEXT compact vacuums it — so
  //   - compaction is atomic at the STORE level (postings+docs+stats+
  //     tombstone-set flip together; there is no half-swapped state),
  //   - a serve constructed before the flip keeps reading its pinned
  //     generation's files (snapshot isolation with ONE generation of
  //     grace — only a serve that outlives a FULL further compact
  //     cycle can break, the standard snapshot/vacuum tradeoff),
  //   - crash repair degenerates to directory hygiene: artifacts ABOVE
  //     the pointer are a torn scratch (compact died pre-flip; the
  //     store is intact), artifacts below pointer-1 are expired
  //     generations (compact died mid-vacuum) — both safe deletes,
  //     executed by fsck or by the next compact's own vacuum.
  // Disk cost: ≤ 2× live data between compacts (the grace generation).
  // Frozen store-life state (manifest, model frames, the `ingested/`
  // batch ledger, corpus-version) is NOT generational — batch ids and
  // geometry survive compaction by design.
  //
  // FORMAT SUPPORT, stated not implied: the generational layout is the
  // only on-disk store format this library reads, repairs, or rebuilds
  // over. A directory from the pre-generational rename-swap layout
  // (`*-retired`/`*-compact`/`compact-inflight` siblings) is not
  // recognized — fsck refuses it as "not a graft store" if its main
  // dataset was mid-swap — and needs a one-time rebuild (write from
  // the source corpus). We carry no dead legacy-repair code for a
  // format no released artifact ever wrote.

  /** A store's current dataset generation: the MAX `gen-<N>` commit
    * marker present (no markers reads 0), and generation-0 artifacts
    * live at their PLAIN legacy names (`postings/`, not
    * `postings-g0/`), so a store that has never compacted keeps the
    * flat layout byte-for-byte.
    *
    * Why max-of-markers instead of one mutable pointer file: a single
    * `gen` file updated by delete-then-rename has a window where the
    * pointer is ABSENT, and absent reads 0 — a crash (or a concurrent
    * lock-free serve construction) in that instant would silently
    * roll the store back to generation 0, after which fsck's
    * torn-scratch rule would DELETE every live generation as scratch
    * (r17 review). Under-stating is benign for the corpus-version
    * stamp (a divergence fails loudly) but destructive for the
    * generation pointer, so the pointer must never be observable in a
    * rolled-back state. A commit marker is one atomic create: readers
    * list `gen-*` and take the max, so every observable state is
    * either the old maximum (compact not yet committed) or the new
    * one — nothing in between. */
  private[graft] def currentGen(s: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = fsOf(s, root)
    if (!fs.exists(root)) 0L
    else {
      val ns = genMarkers(fs, root)
      if (ns.isEmpty) 0L else ns.max
    }
  }

  private val GenMarkerPat = "^gen-(\\d+)$".r

  /** Torn sidecar temp files a crash inside writeMetaSidecar /
    * writeRawLong can leave — every raw-sidecar name the four stores
    * write, with the generational stats variants. */
  private val SidecarTmpPat =
    "^(corpus-version|manifest|stats(-g\\d+)?)-tmp$".r

  private def genMarkers(fs: FileSystem, root: Path): Seq[Long] =
    fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
      case GenMarkerPat(n) => n.toLong
    }

  /** Commit generation `g` — THE commit point of a compact: one
    * atomic marker create (see [[currentGen]]'s rationale), then
    * retire the older markers. Retiring can only remove NON-max
    * markers, so a crash mid-retire leaves harmless extras the next
    * commit (or fsck's healthy pass) retires again; a re-run over an
    * existing marker is a no-op. */
  private[graft] def writeGen(s: SparkSession, dir: String,
      g: Long): Unit = {
    val p = new Path(s"$dir/gen-$g")
    val fs = fsOf(s, p)
    if (!fs.exists(p)) fs.create(p, false).close()
    for (old <- genMarkers(fs, new Path(dir)) if old < g)
      fs.delete(new Path(s"$dir/gen-$old"), false)
  }

  /** A per-generation artifact's directory/file name. */
  private[graft] def genName(kind: String, g: Long): String =
    if (g == 0L) kind else s"$kind-g$g"

  /** Generations of `kind` present under `dir` (plain name = 0). */
  private[graft] def gensOf(s: SparkSession, dir: String,
      kind: String): Seq[Long] = {
    val root = new Path(dir)
    val fs = fsOf(s, root)
    if (!fs.exists(root)) Nil
    else {
      val pat = s"^${java.util.regex.Pattern.quote(kind)}-g(\\d+)$$".r
      fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
        case n if n == kind => 0L
        case pat(g) => g.toLong
      }
    }
  }

  /** Delete every per-generation artifact of `kinds` with generation
    * BELOW `keepFrom` — the vacuum tail of a compact (keepFrom = the
    * pre-compact generation, which stays as the serve grace) and the
    * expired-generation repair of fsck. Idempotent. */
  private[graft] def vacuumGens(s: SparkSession, dir: String,
      kinds: Seq[String], keepFrom: Long): Unit = {
    val fs = fsOf(s, new Path(dir))
    for (kind <- kinds; g <- gensOf(s, dir, kind) if g < keepFrom)
      fs.delete(new Path(s"$dir/${genName(kind, g)}"), true)
  }

  /** Clear EVERY generation of `kinds`, the commit markers, and the
    * ingest batch ledger — the rebuild guard of every write
    * ([[StoreLayout.rebuild]]: a fresh store life must not inherit a
    * prior life's generations, pointer, or applied-batch ids). */
  private[graft] def clearStoreLife(s: SparkSession, dir: String,
      kinds: Seq[String]): Unit = {
    val root = new Path(dir)
    val fs = fsOf(s, root)
    for (kind <- kinds; g <- gensOf(s, dir, kind))
      fs.delete(new Path(s"$dir/${genName(kind, g)}"), true)
    if (fs.exists(root))
      for (g <- genMarkers(fs, root))
        fs.delete(new Path(s"$dir/gen-$g"), false)
    fs.delete(new Path(s"$dir/ingested"), true)
    // one-time sweep of PRE-GENERATIONAL leftovers (r17 advice): the
    // old rename-swap layout's `<kind>-retired`/`<kind>-compact`
    // scratch and `compact-inflight` marker match no generation
    // pattern, so without this a rebuild over such a dir silently
    // kept them forever (the documented "one-time rebuild" migration
    // path must actually leave a clean directory). Cheap existence
    // checks; no released artifact ever wrote these names, so this is
    // hygiene for hand-migrated dirs, not legacy-format support.
    for (kind <- kinds; suffix <- Seq("retired", "compact"))
      fs.delete(new Path(s"$dir/$kind-$suffix"), true)
    fs.delete(new Path(s"$dir/compact-inflight"), true)
  }

  /** Run one PHYSICAL store mutation under the store's advisory
    * single-writer lock — an exclusive `mutation-lock` sidecar created
    * before the mutation and deleted after it. Why it exists: none of
    * the stores' mutations are safe to interleave (two appends can
    * interleave the stats/version read-modify-write cycles, a compact
    * can swap directories out from under a concurrent append, two
    * writes can interleave their clear-then-write sequences), and
    * before r17 that single-writer assumption was IMPLICIT — a
    * scheduler bug that double-launched a mutation corrupted state
    * silently. The lock makes the contract loud: the second mutator
    * fails immediately, naming the holder.
    *
    * Honest limits, documented not hidden: (1) the lock is ADVISORY —
    * it guards the graft entry points, not the directory (an external
    * process writing into the store bypasses it, as it would any
    * non-ACID directory layout); (2) create-exclusive is atomic on
    * local filesystems and HDFS, but object stores without atomic
    * create-no-overwrite weaken it to best-effort; (3) a mutation that
    * CRASHES leaves its lock behind — deliberately, because the store
    * may now be in a crash window, and the lock blocks further
    * mutations until [[storeFsck]] (whose `execute = true` clears the
    * lock as part of classifying the store — running fsck asserts the
    * operator has quiesced it) or a manual delete after the holder is
    * confirmed dead. Serves never take the lock: reads are lock-free
    * by design, and under the generational layout they are SNAPSHOT
    * reads — a serve constructed before a compact keeps reading its
    * pinned generation (one compact cycle of grace); only a serve
    * that outlives a FULL further compact can fail and need a retry
    * (see [[currentGen]]). */
  private[graft] def withStoreLock[A](s: SparkSession, dir: String,
      op: String)(body: => A): A = {
    org.apache.spark.sql.graft.OnePartition.install(s)
    val p = new Path(s"$dir/mutation-lock")
    val fs = fsOf(s, p)
    val out = try fs.create(p, false)
      catch { case e: java.io.IOException =>
        // only an EXISTING lock reads as "held" — any other create
        // failure (permissions, disk) propagates as itself, not as a
        // misleading lock-conflict message
        if (!fs.exists(p)) throw e
        throw new IllegalStateException(
          s"store $dir is locked by another mutation (" +
            readMetaSidecar(s, p.toString).fold("unreadable lock")(m =>
              s"op=${m.getOrElse("op", "?")} since=${m.getOrElse("since", "?")}") +
            s") — '$op' refused. If the holder crashed, run " +
            "Stores.storeFsck(dir) to classify the store and clear the " +
            "lock; never delete it while a mutation is live.")
      }
    try out.write(s"op=$op\nsince=${java.time.Instant.now()}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try body
    finally fs.delete(p, false)
  }

  /** The lock-present fsck row: reports (and with `execute` clears)
    * a `mutation-lock` left by a crashed mutation. First row of every
    * per-store fsck, BEFORE any repair — the repairs themselves
    * re-acquire the lock through the ops they call. */
  private def fsckMutationLock(s: SparkSession, indexDir: String,
      execute: Boolean): Seq[(String, String, String)] = {
    val p = new Path(s"$indexDir/mutation-lock")
    val fs = fsOf(s, p)
    if (!fs.exists(p)) Nil
    else {
      val held = readMetaSidecar(s, p.toString).fold("unreadable")(m =>
        s"op=${m.getOrElse("op", "?")} since=${m.getOrElse("since", "?")}")
      if (execute) fs.delete(p, false)
      Seq(("mutation-lock", s"held ($held) — crashed mutation or live " +
        "mutator (fsck assumes the store is quiesced)",
        if (execute) "cleared" else "would clear"))
    }
  }

  /** Write a tiny metadata sidecar (a store's manifest / stats row) as
    * ONE raw text file of `k=v` lines — the corpus-version rationale
    * extended to every one-row sidecar: manifests are read at every
    * serve CONSTRUCTION and the search stats row is read+rewritten by
    * every append, and as one-row parquet datasets each access is a
    * full Spark job (~0.2–0.4 s of scheduler/planning per round-trip,
    * measured when the version stamp made the same move in r17); as a
    * raw file each is a driver-side FS op. Temp-write + rename keeps
    * the swap atomic on any Hadoop filesystem; an existing entry is
    * replaced. Keys must not contain '='; no newlines anywhere. */
  private[graft] def writeMetaSidecar(s: SparkSession, path: String,
      kvs: Seq[(String, String)]): Unit = {
    require(kvs.forall { case (k, v) =>
      !k.contains("=") && !(k + v).exists(c => c == '\n' || c == '\r') },
      s"writeMetaSidecar: keys must not contain '=' and no field may " +
        s"contain a newline — got $kvs")
    val p = new Path(path)
    val tmp = new Path(s"$path-tmp")
    val fs = fsOf(s, p)
    val out = fs.create(tmp, true)
    try out.write(kvs.map { case (k, v) => s"$k=$v" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, true)
    require(fs.rename(tmp, p),
      s"writeMetaSidecar: rename failed for $path")
  }

  /** Read a [[writeMetaSidecar]] file as a key→value map; None when
    * absent. */
  private[graft] def readMetaSidecar(s: SparkSession,
      path: String): Option[Map[String, String]] = {
    val p = new Path(path)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      Some(raw.split("\n").iterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('=')
        require(i > 0, s"malformed sidecar line '$line' in $path")
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap)
    }
  }

  /** A store's manifest. All four writers record one and every reader
    * validates against it, so a directory without one is rejected by
    * name rather than served in an unknown geometry. */
  private[graft] def readManifest(s: SparkSession,
      dir: String): Map[String, String] = {
    org.apache.spark.sql.graft.OnePartition.install(s)
    readMetaSidecar(s, s"$dir/manifest").getOrElse(
      throw new IllegalStateException(s"no manifest sidecar under $dir " +
        "— not a store this library wrote (each store write creates it)"))
  }

  /** (store_dir, corpus_version) for an audit view over many stores. */
  private[graft] def storeVersions(s: SparkSession,
      dirs: Seq[String]): DataFrame = {
    import s.implicits._
    dirs.map(d => (d, storeVersion(s, d)))
      .toDF("store_dir", "corpus_version")
  }

  /** Loud precondition for composed serves: every store must carry the
    * same corpus-version stamp, else the serve would fuse two corpus
    * snapshots (e.g. return chunks of a document whose takedown
    * reached only one store). Returns the common version. */
  private[graft] def requireAlignedVersions(s: SparkSession,
      dirs: Seq[String]): Long = {
    require(dirs.nonEmpty, "requireAlignedVersions: no store dirs")
    val vs = dirs.map(d => d -> storeVersion(s, d))
    if (vs.map(_._2).distinct.size > 1)
      throw new IllegalStateException(
        "store corpus versions diverge — a mutation reached one store " +
          "but not the others, so a composed serve would mix corpus " +
          "snapshots; apply the missing mutation (e.g. Graft.takedown " +
          "across ALL stores) or rebuild: " +
          vs.map { case (d, v) => s"$d@v$v" }.mkString(", "))
    vs.head._2
  }

  // ───────────────── one-call takedown ─────────────────

  /** The chunk-id resolution scan behind a [[ChunkSearchStore]]
    * takedown: each doc's chunks occupy the contiguous packed-id range
    * [docId·base, (docId+1)·base) — resolve the whole batch's live
    * chunk ids from the docs sidecar in ONE scan (result bounded by
    * |batch|·chunks-per-doc, a driver-side list the delete API takes
    * anyway); `div` keeps the unpack exact-integer. The membership
    * test is on a COMPUTED column, which parquet cannot push down —
    * the leading RAW-column range conjunct restores row-group pruning
    * (chunk writes land ~doc_id-ordered, so min/max stats bite),
    * turning a full sidecar decode at corpus scale into a
    * batch-bounded one (the pushdown is spec-pinned). */
  private[graft] def chunkIdsPlan(s: SparkSession, dir: String,
      base: Long, docIds: Seq[Long]): DataFrame = {
    val lo = docIds.min * base
    val hi = (docIds.max + 1) * base
    s.read.schema("doc_id BIGINT")
      .parquet(s"$dir/${genName("docs", currentGen(s, dir))}")
      .filter(col("doc_id") >= lo && col("doc_id") < hi
        && expr(s"doc_id div ${base}L").isInCollection(docIds))
      .select("doc_id").distinct()
  }

  /** [[chunkIdsPlan]] for a FRAME of doc ids (the no-collect takedown
    * path): same packed-range pruning — the batch's (min, max) bounds
    * are read with ONE two-long aggregate over the ids frame (bounded
    * driver data at any batch size; the id LIST never leaves the
    * executors) — and the membership test is a semi-join on the
    * computed `doc_id div base` key instead of an `isInCollection`
    * literal list. Empty batch → empty plan.
    *
    * `knownBounds`: when the caller already holds the batch's
    * (min, max) — [[takedownAll]]'s one pin-time (count, min, max)
    * aggregate — pass them to skip this plan's own bounds job AND the
    * per-row packability guard (min ≥ 0 and max packable covers every
    * row). Without them, packability is guarded PER ROW inside the
    * plan (raise_error), since a frame's ids can't be range-checked
    * driver-side like the Seq form's. */
  private[graft] def chunkIdsFramePlan(s: SparkSession, dir: String,
      base: Long, docIds: DataFrame,
      knownBounds: Option[(Long, Long)] = None): DataFrame = {
    val guarded = knownBounds match {
      case Some((lo, hi)) =>
        require(lo >= 0 && hi < Long.MaxValue / base,
          s"takedown: batch bounds [$lo, $hi] not packable under " +
            s"chunkIdBase $base")
        docIds
      case None => docIds.select(
        when(col("doc_id") >= 0 && col("doc_id") < Long.MaxValue / base,
          col("doc_id"))
          .otherwise(raise_error(concat(
            lit("takedown: doc_id "), col("doc_id").cast("string"),
            lit(s" not packable under chunkIdBase $base"))))
          .as("doc_id"))
    }
    val b = knownBounds.getOrElse {
      val r = guarded.agg(min("doc_id"), max("doc_id")).head()
      if (r.isNullAt(0)) null else (r.getLong(0), r.getLong(1))
    }
    val docsPath = s"$dir/${genName("docs", currentGen(s, dir))}"
    val chunks = s.read.schema("doc_id BIGINT").parquet(docsPath)
    if (b == null) return chunks.select("doc_id").filter(lit(false))
    chunks.filter(col("doc_id") >= b._1 * base
        && col("doc_id") < (b._2 + 1) * base)
      .join(guarded.select(col("doc_id").as("__td_doc")),
        expr(s"doc_id div ${base}L") === col("__td_doc"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Normalize a frame-shaped id column to LONG, loudly: a NULL or
    * non-castable id raise_errors with the op's name instead of
    * slipping through as a NULL that joins nothing (a malformed feed
    * would otherwise "delete" nothing and report success — a silent
    * compliance miss). try_cast, not cast: under Spark 4's default
    * ANSI mode a plain cast throws its own generic error and under
    * non-ANSI it NULLs silently — try_cast makes the outcome
    * setting-independent and routes both failure shapes through the
    * one named raise_error. FRACTIONAL numeric inputs additionally
    * require the cast to round-trip (r18 advice): a DOUBLE/FLOAT/
    * DECIMAL id like 2.7 survives a long cast by TRUNCATION — the
    * feed's malformed row would silently tombstone doc 2 — so the
    * casted long must re-cast to the source type equal to the
    * original value (exact for every integral value either type
    * represents; strings like "2.7" already NULL under try_cast and
    * integral types cannot carry fractions). Shared by every
    * frame-shaped delete entry point; [[takedownAll]] applies it once
    * at the pin so the whole batch fails before any store is
    * touched. */
  private[graft] def requireLongIds(ids: DataFrame,
      colName: String, op: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    val srcType = ids.schema(colName).dataType
    val casted = expr(s"try_cast($colName AS LONG)")
    val ok = srcType match {
      case DoubleType | FloatType | _: DecimalType =>
        casted.isNotNull && casted.cast(srcType) === col(colName)
      case _ => casted.isNotNull
    }
    ids.select(
      when(ok, casted)
        .otherwise(raise_error(concat(
          lit(s"$op: id '"),
          coalesce(col(colName).cast("string"), lit("NULL")),
          lit("' is not a long"))))
        .as(colName))
  }

  /** A store a [[takedown]] must reach. `dir` is the store directory;
    * the subtype says which [[StoreLayout]] owns it. */
  sealed trait StoreRef {
    def dir: String
    private[graft] def layout: StoreLayout
  }
  /** A doc-level [[Search.searchIndexWrite]] store. */
  final case class SearchStore(dir: String) extends StoreRef {
    private[graft] def layout: StoreLayout = Search.SearchLayout
  }
  /** A CHUNK-level search store whose ids are packed
    * doc_id·`chunkIdBase`+chunk_idx (q186's layout): a takedown
    * resolves the doc's live chunk ids from the docs sidecar and
    * tombstones them all. */
  final case class ChunkSearchStore(dir: String,
      chunkIdBase: Long = 1000000L) extends StoreRef {
    private[graft] def layout: StoreLayout = Search.SearchLayout
  }
  /** A [[TextDedup.dedupIndexWrite]] signature store. */
  final case class DedupStore(dir: String) extends StoreRef {
    private[graft] def layout: StoreLayout = TextDedup.DedupLayout
  }
  /** A [[Similarity.ivfPqIndexWrite]] ANN store (vec_id = doc_id). */
  final case class AnnStore(dir: String) extends StoreRef {
    private[graft] def layout: StoreLayout = Similarity.AnnLayout
  }

  /** Apply ONE document's takedown across every store that serves the
    * corpus, in one call — the cross-store twin of the per-store
    * deletes, closing the window where a takedown reaches the search
    * index but not the ANN index and the composed RAG serve keeps
    * returning the document's chunks. Each store lands on the SAME
    * stamp (see [[takedownAll]] for the convergence rule), so stores
    * that were aligned before the takedown are aligned after it, and
    * [[requireAlignedVersions]] keeps gating the composed serve. */
  private[graft] def takedown(s: SparkSession, docId: Long,
      stores: Seq[StoreRef]): Unit = takedownAll(s, Seq(docId), stores)

  /** The batch form of [[takedown]] — takedowns arrive in batches in
    * practice, and applying the WHOLE batch as one delete per store
    * costs one tombstone write + exactly one stamp write per store
    * regardless of batch size (a per-doc loop would bump |batch| times
    * and write |batch| tombstone files).
    *
    * '''Crash contract — re-running CONVERGES.''' Per-store deletes
    * are not atomic across stores; a crash mid-list leaves completed
    * stores ahead of untouched ones, which is exactly what makes the
    * composed serve fail LOUDLY until the takedown is completed. The
    * repair is: re-run the same takedown against the same store list.
    * That converges because the target stamp is computed ONCE up
    * front as max(current stamps) + 1 and every store is SET to it
    * after its delete (the per-store delete's own +1 bump is
    * overwritten) — a naive increment-per-store would instead keep
    * the crashed run's completed stores permanently one ahead, and no
    * number of re-runs could ever re-align them. Re-deleting already
    * tombstoned ids is a no-op in every store family, so the re-run's
    * extra deletes cost nothing and change nothing. The same rule
    * makes takedown self-healing for stores that diverged for OTHER
    * reasons: all land on the same target. */
  private[graft] def takedownAll(s: SparkSession, docIds: Seq[Long],
      stores: Seq[StoreRef]): Unit = {
    require(stores.nonEmpty, "takedown: no stores given")
    require(docIds.nonEmpty, "takedown: no doc ids given")
    val target = stores.map(r => storeVersion(s, r.dir)).max + 1
    stores.foreach { ref =>
      deleteOne(s, ref, docIds)
      // convergent stamp: SET to the pre-computed target (overwriting
      // the delete's internal +1), so a crashed run's re-run aligns
      // every store instead of chasing an ever-moving increment
      writeStoreVersion(s, ref.dir, target)
    }
  }

  /** FRAME-shaped [[takedownAll]] — the form a compliance batch
    * actually arrives in at scale: a takedown list of millions of ids
    * is DATA, and the Seq form would collect it to the driver and
    * inline it into every store's plan as an `isInCollection` literal
    * list (the r17 verdict's missing #1). Here the ids stay a
    * DataFrame end to end: tombstones are written via semi-joins
    * against the ids frame, chunk-id resolution is a join on the
    * computed unpack key ([[chunkIdsFramePlan]]), and nothing about
    * the batch ever crosses the driver except ONE (count, min, max)
    * aggregate — the empty-window check, the chunk family's packed
    * bounds, and the pin-time packability guard in a single job. The
    * Seq form stays as operator-sized sugar with its original
    * literal-list plans (spec-pinned frame ≡ seq on all store
    * families).
    *
    * The ids frame is pinned ONCE (eager localCheckpoint, released in
    * a finally after every store's delete has materialized): every
    * store must see the SAME id set, and a non-deterministic input
    * frame (sample/limit, a re-read mutating source) would otherwise
    * diverge the stores — the [[appendAll]] determinism discipline on
    * the delete side. Same convergent-stamp crash contract as the Seq
    * form: re-running the same takedown re-aligns every store. An
    * EMPTY ids frame is allowed (a compliance feed can produce zero
    * ids for a window): deletes are no-ops and the stores still land
    * on the common target stamp. */
  private[graft] def takedownAll(s: SparkSession, docIds: DataFrame,
      stores: Seq[StoreRef]): Unit = {
    require(stores.nonEmpty, "takedown: no stores given")
    // LOUD id validation, enforced BEFORE any store is touched: a
    // NULL or non-castable id would otherwise become a silent NULL
    // under the non-ANSI cast — a compliance takedown that "succeeds"
    // while the document keeps serving on three families, and a
    // raise_error mid-list on the chunk family (diverged stamps a
    // re-run could never converge, because the re-run fails the same
    // way). The guard rides the eager pin, so a malformed feed fails
    // HERE, with zero stores mutated or stamped — re-runnable after
    // the feed is fixed.
    // the (count, min, max) aggregate RIDES the pin's materialization
    // as an observed metric (r22, the searchIndexAppend stats
    // discipline applied here): the eager localCheckpoint already
    // executes the whole validated plan, so the one remaining
    // takedown-side aggregate job folds into it for free. The
    // fallback below keeps the pre-r22 separate aggregate for any
    // execution path that stops delivering observed metrics —
    // degraded job count, never wrong bounds.
    val obs = org.apache.spark.sql.Observation()
    val ids = requireLongIds(docIds, "doc_id", "takedown")
      .observe(obs, count(lit(1)), min("doc_id"), max("doc_id"))
      .localCheckpoint()
    // duplicates are NOT normalized away (the Seq form doesn't either;
    // every consumer join is duplicate-safe) — a distinct here would
    // shuffle the whole batch for no semantic effect
    try {
      // ONE (count, min, max) aggregate over the pinned batch serves
      // what used to be three separate jobs (r18 verdict's absorbed-
      // section cut): the empty-window check (an isEmpty), the chunk
      // family's packed-range bounds (chunkIdsFramePlan's own
      // aggregate), and — closing the r18 advice gap — the PIN-TIME
      // packability guard: a batch whose bounds no chunk store in the
      // list can pack fails HERE, with zero stores mutated or
      // stamped, instead of raise_error-ing mid-list after earlier
      // stores already stamped (diverged stamps until the feed was
      // fixed, contradicting the pin-time-guard contract).
      val b = awaitObserved(s, obs).getOrElse(
        ids.agg(count(lit(1)), min("doc_id"), max("doc_id")).head())
      // empty compliance window (explicitly allowed): stamps still
      // land on the common target, but the per-store deletes are
      // SKIPPED — without this every empty window committed one
      // zero-row tombstone file per store, accreting list-and-read
      // work for every serve until the next compact.
      val bounds =
        if (b.getLong(0) == 0L) None else Some((b.getLong(1), b.getLong(2)))
      for ((lo, hi) <- bounds; ref <- stores) ref match {
        case ChunkSearchStore(_, base) =>
          require(base > 0, s"takedown: chunkIdBase $base must be positive")
          require(lo >= 0 && hi < Long.MaxValue / base,
            s"takedown: batch bounds [$lo, $hi] not packable under " +
              s"chunkIdBase $base — refused with zero stores mutated")
        case _ => ()
      }
      val target = stores.map(r => storeVersion(s, r.dir)).max + 1
      bounds match {
        // empty window: no deletes to interleave — the stamps are the
        // whole mutation and land concurrently ([[stampAll]])
        case None => stampAll(s, stores.map(_.dir), target)
        // non-empty batch: stamp each store IMMEDIATELY after its
        // delete materializes (r19 advice) — a delete-all-then-stamp
        // phase split left a crash anywhere in the delete phase with
        // every stamp at the old COMMON value, so the composed serve
        // saw no divergence while some stores were tombstoned and
        // others untouched; interleaving restores the Seq form's loud
        // crash contract (completed stores ahead, alignment check
        // fails until the converging re-run completes the batch).
        // The per-store (delete → stamp) chains run CONCURRENTLY
        // across stores (r22, [[inParallel]] rationale): each store's
        // stamp still rides its OWN delete — the r19 contract is
        // per-store ordering, which threading across stores does not
        // touch — and a crash now leaves an arbitrary SUBSET (not a
        // prefix) of stores completed: the same loud divergence, the
        // same converging re-run. Await-all before rethrow, so no
        // store's delete is still in flight when the failure
        // propagates ([[stampAll]]'s ghost-write discipline).
        case Some(bd) => forAllStores(s, stores) { ref =>
          deleteOneFrame(s, ref, ids, bd)
          writeStoreVersion(s, ref.dir, target)
        }
      }
    } finally
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(ids)
  }

  /** Stamp every store to `target` CONCURRENTLY (r18 verdict #6): the
    * stamps are independent single-file sidecar writes, and the old
    * per-store serial loop made the takedown tail a driver-side
    * latency chain at many stores (each write is a create+rename
    * round-trip — microseconds on a local FS, a network RTT pair on
    * an object store). Crash semantics are unchanged from the serial
    * form: any subset of stamps landing leaves the rest behind, the
    * composed serve fails loudly on the divergence, and a re-run
    * converges every store to a fresh common target (the documented
    * takedown/append convergence rule — it never depended on stamp
    * ORDER, only on the target being computed once up front).
    * Since r20 this is the EMPTY-window path only: a non-empty batch
    * stamps each store right after its delete (r19 advice — a
    * delete-phase crash must read as a loud divergence, which a
    * stamps-last phase split silently hid behind the old common
    * value). */
  private def stampAll(s: SparkSession, dirs: Seq[String],
      target: Long): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = dirs.map(d => Future(writeStoreVersion(s, d, target)))
    // await EVERY future before propagating any failure: throwing on
    // the first while later writes are still in flight would let a
    // ghost stamp land AFTER a re-run's fresh stamps (regressing that
    // store to the old target with no run in flight — a divergence no
    // re-run is around to converge). Ready-all first, then rethrow
    // the first failure.
    writes.foreach(w =>
      Await.ready(w, scala.concurrent.duration.Duration.Inf))
    writes.foreach(_.value.get.get)
  }

  /** One store's FRAME-shaped doc-level delete — [[takedownAll]]'s
    * DataFrame dispatch. `ids` carries one `doc_id` long column,
    * ALREADY validated and pinned by the caller (so the per-store
    * deletes take [[StoreLayout.deletePinned]] — the public frame
    * deletes' own guard+pin would re-validate and re-materialize the
    * batch once per store). `bounds` is the caller's pin-time
    * (min, max), forwarded so the chunk family's packed-range plan
    * needs no bounds job of its own. */
  private def deleteOneFrame(s: SparkSession, ref: StoreRef,
      ids: DataFrame, bounds: (Long, Long)): Unit = ref match {
    case ChunkSearchStore(dir, base) =>
      require(base > 0, s"takedown: chunkIdBase $base must be positive")
      ref.layout.deletePinned(s, dir,
        chunkIdsFramePlan(s, dir, base, ids, Some(bounds)))
    case _ => ref.layout.deletePinned(s, ref.dir,
      ids.select(col("doc_id").as(ref.layout.tombIdCol)))
  }

  /** One store's doc-level delete — the [[takedownAll]] dispatch.
    * Deleting ids a store never held is a no-op in every family. */
  private def deleteOne(s: SparkSession, ref: StoreRef,
      docIds: Seq[Long]): Unit = ref match {
    case ChunkSearchStore(dir, base) =>
      require(base > 0, s"takedown: chunkIdBase $base must be positive")
      docIds.foreach(id => require(id >= 0 && id < Long.MaxValue / base,
        s"takedown: doc_id $id not packable under chunkIdBase $base"))
      val ids = chunkIdsPlan(s, dir, base, docIds)
        .collect().map(_.getLong(0)).toSeq
      if (ids.nonEmpty) ref.layout.delete(s, dir, ids)
    case _ => ref.layout.delete(s, ref.dir, docIds)
  }

  /** Whether `dir`'s `ingested/` batch ledger holds `marker`. */
  private def inLedger(s: SparkSession, dir: String,
      marker: String): Boolean = {
    val p = new Path(s"$dir/ingested/$marker")
    fsOf(s, p).exists(p)
  }

  /** THE batch-ledger rule shared by streaming ingest
    * ([[StoreLayout.ingest]]'s `batch-<n>` markers), [[appendAll]] and
    * [[replayRepair]] (`named-<id>` markers — the namespaces cannot
    * collide even on a store running both): skip `body` when the
    * store's ledger already holds `marker`; otherwise run it, then
    * create the marker. A silently-false mkdirs would leave the marker
    * missing and the next replay would double-append — so it fails
    * loudly, naming `op`. Rebuilds clear the whole `ingested/` dir, so
    * batch ids are scoped to a store life. The honest window: a crash
    * BETWEEN the body and its marker replays that batch at-least-once
    * (the repair is [[replayRepair]]; exactly-once would need the
    * append and the marker in one atomic commit — an ACID table
    * format, absent by design). */
  private[operators] def ledgered(s: SparkSession, dir: String,
      marker: String, op: String)(body: => Unit): Unit =
    if (!inLedger(s, dir, marker)) {
      body
      val p = new Path(s"$dir/ingested/$marker")
      require(fsOf(s, p).mkdirs(p), s"$op: ledger marker create failed: $p")
    }

  /** Coordinated IDEMPOTENT append — the mutation-side twin of
    * [[takedownAll]], closing the remaining non-convergent cross-store
    * window: a coordinated append that crashes mid-list must be
    * re-runnable, but a bare re-run would DOUBLE-append the delta into
    * every store the first run completed (the duplicate-id state fsck
    * can only report, never repair). Each store is therefore guarded
    * by the batch-id ledger ([[ledgered]], `named-<id>` markers): the
    * re-run SKIPS stores whose marker exists, appends the rest, and
    * SETS every store to the max+1 target stamp — converging exactly
    * like a re-run takedown. Re-running an already-complete batch is a
    * stamp-only no-op that keeps alignment.
    *
    * Honest window, same as streaming ingest's: a crash BETWEEN a
    * store's append and its marker replays that store's append
    * at-least-once — the repair is [[replayRepair]] with the same
    * batch ([[storeFsck]] reports the dup-id state and names it).
    *
    * `docs` must carry `idCol`/`textCol`; an [[AnnStore]] in the list
    * additionally needs `vecCol` (the embedding array) and reads its
    * frozen (m, subDim) geometry from the store's own manifest. The
    * delta must be NEW ids on every store (the appends' shared
    * unique-id contract). A [[ChunkSearchStore]] receives the chunked
    * corpus (fixed C=S=64 windows, ids packed under the store's
    * base — which must equal the packer's). */
  private[graft] def appendAll(docs: DataFrame, batchId: String,
      stores: Seq[StoreRef], idCol: String = "doc_id",
      textCol: String = "text", vecCol: String = "emb"): Unit = {
    val s = docs.sparkSession
    require(stores.nonEmpty, "appendAll: no stores given")
    requireBatchId(batchId, "appendAll")
    // pin the delta once, LAZILY (a fully-replayed batch must not pay
    // a materialization): four store kinds derive different frames
    // from it, and a non-deterministic input could diverge them — the
    // same discipline searchIndexAppend applies internally. The pin is
    // RELEASED in the finally once every store's append has
    // materialized (Bridge.unpersistLocalCheckpoint) — checkpoint
    // blocks are invisible to the release ledger, and before r18 they
    // stayed resident for the session (the r17 footprint tail).
    // forced flips only AFTER the checkpoint succeeds: flipping first
    // would make a failed materialization re-run the whole delta job
    // inside the finally (and mask the original exception if the
    // re-run also throws)
    var forced = false
    lazy val pinned = {
      val p = docs.localCheckpoint(); forced = true; p
    }
    try {
      val target = stores.map(r => storeVersion(s, r.dir)).max + 1
      // the delta pin is forced BEFORE the per-store chains fan out:
      // `pinned` is a lazy val, and two threads forcing it at once
      // would race the checkpoint (each store's append must read ONE
      // materialized delta, not two competing materializations)
      if (stores.exists(ref => !inLedger(s, ref.dir, s"named-$batchId")))
        pinned
      // per-store (append → marker → stamp) chains run CONCURRENTLY
      // across stores (r22, [[inParallel]] rationale): the ledger
      // marker still lands after ITS store's append and the stamp
      // after the marker — the per-store crash ordering the
      // at-least-once contract rests on — and a crash leaves an
      // arbitrary SUBSET of stores completed instead of a prefix:
      // the same loud divergence, the same marker-skipping re-run.
      forAllStores(s, stores) { ref =>
        ledgered(s, ref.dir, s"named-$batchId", "appendAll")(
          appendOne(s, ref, pinned, idCol, textCol, vecCol))
        // convergent stamp, same rule as takedownAll: SET to the
        // pre-computed target so a crashed run's re-run aligns the list
        writeStoreVersion(s, ref.dir, target)
      }
    } finally if (forced)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(pinned)
  }

  private def requireBatchId(batchId: String, op: String): Unit =
    require(batchId.nonEmpty && batchId.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"$op: batch id '$batchId' must be a filesystem-safe token " +
        "([A-Za-z0-9._-]) — it names the per-store ledger marker")

  /** One store's delta append — the [[appendAll]] dispatch, shared
    * with [[replayRepair]]'s re-append step. */
  private def appendOne(s: SparkSession, ref: StoreRef, pinned: DataFrame,
      idCol: String, textCol: String, vecCol: String): Unit = ref match {
    // the search appends take the PINNED entry point: the caller's
    // checkpoint (or a pure derivation of it) already guarantees the
    // determinism the append's internal pin exists for — a second
    // checkpoint would only re-materialize the delta and add another
    // resident pin
    case SearchStore(dir) =>
      Search.searchIndexAppendPinned(pinned, dir, idCol, textCol)
    case ChunkSearchStore(dir, base) =>
      require(base == Search.ChunkIdBase,
        s"appendAll: chunk store base $base != the packer's " +
          s"${Search.ChunkIdBase} — serve-side unpacking would " +
          "resolve the wrong documents")
      Search.searchIndexAppendPinned(
        Search.chunkCorpus(pinned.select(
          col(idCol).as("doc_id"), col(textCol).as("text"))),
        dir, "chunk_id", "chunk_text")
    case DedupStore(dir) =>
      TextDedup.dedupIndexAppend(pinned, dir, idCol, textCol)
    case AnnStore(dir) =>
      val g = readManifest(s, dir)
      Similarity.ivfPqIndexAppend(
        Similarity.int8CodedVectors(pinned, idCol, vecCol),
        dir, g("m").toInt, g("subDim").toInt)
  }

  /** PHYSICAL purge — the executable form of the compacts' purge
    * note: run the store's compact TWICE, so the first folds the
    * outstanding tombstones into a fresh generation and the second
    * vacuums the generation that still carried the deleted bytes (the
    * serve grace). After this, no generation under the store holds a
    * tombstoned row — the takedown-compliance guarantee one compact
    * alone deliberately does not give (the grace exists to keep
    * in-flight serves alive). Batch form on the facade:
    * [[graft.Graft.purgeAll]] after a [[takedownAll]] makes the whole
    * coordinated takedown physical. Compaction never bumps the
    * corpus-version stamp, so purging keeps stores aligned. */
  private[graft] def purgeAll(s: SparkSession,
      stores: Seq[StoreRef]): Unit = {
    require(stores.nonEmpty, "purgeAll: no stores given")
    for (ref <- stores; _ <- 1 to 2) ref.layout.compact(s, ref.dir)
  }

  /** EXECUTABLE repair for the ONE residual crash window the
    * coordinated/streaming append path leaves: a crash BETWEEN a
    * store's physical append and its ledger marker means the ledger
    * cannot tell whether the batch landed, so the next [[appendAll]]
    * re-run replays it — at-least-once, leaving duplicate ids that
    * [[storeFsck]] can only REPORT (fsck has no source rows to rebuild
    * from). Given the source batch, this op executes the documented
    * recovery per store:
    *
    *  - marker present → the ledger proves the batch landed exactly
    *    once; the store is untouched (stamp-only).
    *  - marker absent → delete the batch's ids (a no-op for ids that
    *    never landed), compact (physically removes the partial,
    *    duplicated, or orphaned rows — and applies any OTHER pending
    *    tombstones, which were due anyway), re-append the batch, then
    *    create the marker. The store now holds the batch exactly once
    *    regardless of where in the append the crash hit (docs-only,
    *    postings-only, double-append, or never-started).
    *
    * Every store lands on the common max+1 target stamp (the
    * [[takedownAll]] convergence rule), and a re-run of the repair is
    * a stamp-only no-op. Cost: one compact per store repaired —
    * O(store), the incident-response price, NOT the ingest path
    * ([[appendAll]] deliberately stays O(|delta|) and does not pay a
    * membership probe per batch). Caller contract: `docs` is the same
    * batch the crashed run appended (same ids, same content). The
    * delete step is FRAME-shaped (r18): the batch's ids never cross
    * the driver, so the repair holds for feed-sized batches too. */
  private[graft] def replayRepair(docs: DataFrame, batchId: String,
      stores: Seq[StoreRef], idCol: String = "doc_id",
      textCol: String = "text", vecCol: String = "emb"): Unit = {
    val s = docs.sparkSession
    require(stores.nonEmpty, "replayRepair: no stores given")
    requireBatchId(batchId, "replayRepair")
    var forced = false
    lazy val pinned = {
      val p = docs.localCheckpoint(); forced = true; p
    }
    lazy val batchIds = requireLongIds(
      pinned.select(col(idCol).as("doc_id")), "doc_id", "replayRepair")
    // one (count, min, max) aggregate serves the empty-batch guard and
    // the chunk family's packed-range bounds for EVERY store repaired
    // (the takedownAll fused-pin-aggregate discipline) — the old form
    // ran an isEmpty per unmarked store plus a bounds job per chunk
    // store
    lazy val batchBounds = {
      val r = batchIds.agg(count(lit(1)), min("doc_id"), max("doc_id"))
        .head()
      require(r.getLong(0) > 0, "replayRepair: empty source batch")
      (r.getLong(1), r.getLong(2))
    }
    try {
      val target = stores.map(r => storeVersion(s, r.dir)).max + 1
      stores.foreach { ref =>
        ledgered(s, ref.dir, s"named-$batchId", "replayRepair") {
          deleteOneFrame(s, ref, batchIds, batchBounds)
          ref.layout.compact(s, ref.dir)
          appendOne(s, ref, pinned, idCol, textCol, vecCol)
        }
        writeStoreVersion(s, ref.dir, target)
      }
    } finally if (forced)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(pinned)
  }

  // ───────────────── executable crash repair (fsck) ─────────────────

  /** Generation-layout hygiene — the WHOLE compact-crash surface under
    * the generational layout (see the section note above
    * [[currentGen]]): artifacts with generation ABOVE the pointer are
    * a torn compact scratch (the compact died before its commit flip —
    * the store is fully intact; a re-run overwrites them anyway);
    * artifacts BELOW pointer-1 are expired generations (a compact died
    * mid-vacuum; the next compact would also reclaim them). Both are
    * pure deletes — no state here can require a data repair, because
    * the pointer flip is atomic and everything it publishes was fully
    * written first. Generation pointer-1, when present, is the serve
    * GRACE (what keeps pre-flip serves alive) and is reported, never
    * touched. */
  private def fsckGenerations(s: SparkSession, indexDir: String,
      kinds: Seq[String], execute: Boolean)
      : Seq[(String, String, String)] = {
    val fs = fsOf(s, new Path(indexDir))
    val cur = currentGen(s, indexDir)
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    var grace = false
    for (kind <- kinds; g <- gensOf(s, indexDir, kind).sorted) {
      if (g > cur) {
        if (execute) fs.delete(new Path(s"$indexDir/${genName(kind, g)}"), true)
        rows += ((s"torn scratch ${genName(kind, g)}",
          s"generation $g above the pointer (g$cur) — compact died " +
            "before its commit flip; store intact",
          if (execute) "deleted" else "would delete"))
      } else if (g < cur - 1) {
        if (execute) fs.delete(new Path(s"$indexDir/${genName(kind, g)}"), true)
        rows += ((s"expired ${genName(kind, g)}",
          s"generation $g below the grace (g${cur - 1}) — compact died " +
            "mid-vacuum",
          if (execute) "deleted" else "would delete"))
      } else if (g == cur - 1) grace = true
    }
    // stale commit markers — a crash mid-retire in [[writeGen]] leaves
    // non-max markers behind; they can never roll the pointer back
    // (readers take the max) but fsck tidies them like the next commit
    // would
    val root = new Path(indexDir)
    if (fs.exists(root))
      for (m <- genMarkers(fs, root) if m < cur) {
        if (execute) fs.delete(new Path(s"$indexDir/gen-$m"), false)
        rows += ((s"stale marker gen-$m",
          s"non-max commit marker (crashed retire) — pointer reads g$cur " +
            "regardless",
          if (execute) "deleted" else "would delete"))
      }
    // torn sidecar temps (r17 advice): writeMetaSidecar/writeRawLong
    // are temp-write + rename, so a crash INSIDE one leaves a
    // `<sidecar>-tmp` file matching neither the generation nor the
    // marker patterns — harmless (the re-run write overwrites it) but
    // previously invisible to fsck, lingering forever. Deleting is
    // always safe: a -tmp is never read by anything.
    if (fs.exists(root))
      for (n <- fs.listStatus(root).toSeq.map(_.getPath.getName)
          if SidecarTmpPat.matches(n)) {
        if (execute) fs.delete(new Path(s"$indexDir/$n"), false)
        rows += ((s"torn sidecar temp $n",
          "crash inside a sidecar temp-write — never read; the re-run " +
            "write overwrites it",
          if (execute) "deleted" else "would delete"))
      }
    rows += (("generation", s"g$cur" +
      (if (grace) s" (grace g${cur - 1} present — pre-flip serves may " +
        "still read it)" else ""), "none"))
    rows.toSeq
  }

  private def report(s: SparkSession, indexDir: String,
      rows: Seq[(String, String, String)]): DataFrame = {
    import s.implicits._
    // lead with the store's coordination stamp: an operator running
    // fsck mid-incident is about to re-run a mutation, and the stamp
    // is what tells them which peers that mutation must also reach
    // (report-only — fsck repairs physical state, never stamps)
    (("corpus-version", s"v${storeVersion(s, indexDir)}", "none")
      +: rows).toDF("check", "state", "action")
  }

  /** fsck for a [[Search.searchIndexWrite]] store ([[StoreLayout.fsck]]). */
  private[graft] def searchIndexFsck(s: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    Search.SearchLayout.fsck(s, indexDir, execute)

  /** fsck for a [[TextDedup.dedupIndexWrite]] store. */
  private[graft] def dedupIndexFsck(s: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    TextDedup.DedupLayout.fsck(s, indexDir, execute)

  /** fsck for a [[Similarity.ivfPqIndexWrite]] store. */
  private[graft] def annIndexFsck(s: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    Similarity.AnnLayout.fsck(s, indexDir, execute)

  /** Auto-detecting fsck: dispatch on the store's own layout (which
    * main dataset — at any generation — exists), so an operator can
    * point fsck at ANY graft store directory without knowing which
    * family wrote it. */
  private[graft] def storeFsck(s: SparkSession, dir: String,
      execute: Boolean = true): DataFrame =
    Seq(Search.SearchLayout, TextDedup.DedupLayout, Similarity.AnnLayout,
        TextDedup.AuditLayout)
      .find(l => gensOf(s, dir, l.datasets.head.kind).nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"storeFsck: $dir is not a graft store directory (no postings/, " +
          "bands/, enc/ or pairs/ dataset in any state)"))
      .fsck(s, dir, execute)

  // ───────────────── one lifecycle over four layouts ─────────────────

  /** The report-only repair of a replayed doc batch — the fsck
    * duplicate-row hint of every doc store. */
  private final val ReplayRepairHint =
    "report-only: re-run the batch through Stores.replayRepair " +
      "(delete + compact + re-append, given the source batch), or rebuild"

  /** One dataset of a [[StoreLayout]]: its per-generation directory
    * `kind` and the DECLARED schema every lifecycle read uses (no
    * inference job per read, and a partition key keeps its type at any
    * corpus size). A non-empty `dupKey` makes fsck report rows sharing
    * it — an appended batch replayed twice — as row `dupLabel`,
    * counting the distinct tombstone ids among the key's columns (the
    * whole key when it is all ids), with the report-only repair hint
    * `dupRepair`: fsck has no source rows to rebuild from. */
  private[graft] final case class StoreDataset(kind: String,
      schema: String, dupKey: Seq[String] = Nil,
      dupLabel: String = "dup-ids", dupNoun: String = "ids",
      dupRepair: String = ReplayRepairHint)

  /** A store's on-disk LAYOUT, declared once as a constant next to the
    * store (`Similarity.AnnLayout`, `TextDedup.DedupLayout`,
    * `TextDedup.AuditLayout`, `Search.SearchLayout`), and the ONE
    * lifecycle written over it: tombstone subtraction ([[minusTombs]]),
    * [[delete]], [[compact]], [[stats]], [[maintain]], the streaming
    * [[ingest]] ledger and [[fsck]], plus the [[rebuild]]/[[append]]
    * frames the per-store write encodings run inside. What a store
    * needs beyond the descriptor is a handful of hooks: its partition
    * count, and optionally its tombstone rows, compact rewrite, stats
    * shape and extra fsck checks.
    *
    * Every mutation runs under [[withStoreLock]] as
    * `<op>Write`/`Append`/`Delete`/`Compact`, and every per-generation
    * artifact follows the generational contract of [[currentGen]].
    *
    * @param op       the op-name prefix (`ivfPqIndex`, `dedupIndex`,
    *                 `auditStore`, `searchIndex`)
    * @param datasets the per-generation datasets; the head is the main
    *                 one (stats, maintain, [[storeFsck]]'s dispatch)
    * @param partCol  the partition-directory column
    * @param tombCols the row columns a tombstoned id (the first field of
    *                 `tombSchema`) removes — a row goes when ANY is
    * @param sidecarKinds per-generation sidecar files (search's stats);
    *                 `statsCount`, `mainNoun`/`dirNoun` and
    *                 `maintainExtra` name the stats column, error text
    *                 and extra maintain columns */
  private[graft] abstract class StoreLayout(val op: String,
      val datasets: Seq[StoreDataset], val partCol: String,
      val tombSchema: String, val tombCols: Seq[String],
      sidecarKinds: Seq[String] = Nil, statsCount: String = "",
      mainNoun: String = "", dirNoun: String = "a store",
      maintainExtra: Seq[String] = Nil) {

    /** Every per-generation artifact kind, in the order fsck reports
      * them: datasets, generational sidecars, then the tombstone set a
      * compact folds in. Frozen store-life state (manifest, model
      * frames, the ingest ledger, corpus-version) is never versioned. */
    val genKinds: Seq[String] =
      datasets.map(_.kind) ++ sidecarKinds :+ "tombstones"

    /** The tombstoned id column (the tombstone schema's first field). */
    val tombIdCol: String =
      org.apache.spark.sql.types.StructType.fromDDL(tombSchema).head.name

    private def main: StoreDataset = datasets.head

    /** HOOK: the partition count of the partitioned datasets. */
    def partitions(s: SparkSession, dir: String): Int

    def path(dir: String, kind: String, g: Long): String =
      s"$dir/${genName(kind, g)}"

    /** Dataset `kind` at generation `g`, through its declared schema. */
    def read(s: SparkSession, dir: String, kind: String,
        g: Long): DataFrame =
      s.read.schema(datasets.find(_.kind == kind).get.schema)
        .parquet(path(dir, kind, g))

    /** Generation `g`'s tombstone set through [[tombSchema]]; None when
      * no delete landed since the generation was written. Tombstones
      * are GENERATIONAL: a compact folds g's set into g+1's datasets,
      * and the old set stays with the grace generation for serves
      * pinned to it. */
    def tombstones(s: SparkSession, dir: String,
        g: Long): Option[DataFrame] = {
      val p = new Path(path(dir, "tombstones", g))
      if (!fsOf(s, p).exists(p)) None
      else Some(s.read.schema(tombSchema).parquet(p.toString))
    }

    /** `rows` minus generation `g`'s tombstones: one anti-join per
      * tombstone column against the broadcast set — it is ids-only and
      * small between compacts by contract, so a serve keeps its
      * partition-pruned scan shape and pays a hash lookup per row,
      * never a shuffle (over one-partition rows the size rule joins in
      * place instead). No tombstone set (the common case) returns
      * `rows` untouched: zero cost until the first delete. */
    def minusTombs(s: SparkSession, dir: String, g: Long,
        rows: DataFrame): DataFrame =
      tombstones(s, dir, g).fold(rows)(t => tombCols.foldLeft(rows)(
        (df, c) => df.join(broadcast(t.select(col(tombIdCol).as(c))),
          Seq(c), "left_anti")))

    /** The live rows of dataset `kind` at generation `g`. */
    def live(s: SparkSession, dir: String, kind: String,
        g: Long): DataFrame =
      minusTombs(s, dir, g, read(s, dir, kind, g))

    /** Write `rows` one file per partition directory — a partition
      * count the write's own geometry fixes, so appends accrete at most
      * one file per touched partition between compacts instead of
      * (shuffle.partitions × partitions) shards. Rows already planned as
      * one partition are written by their one task as they are. */
    def writeParts(rows: DataFrame, n: Int, path: String,
        mode: String): Unit =
      onePartition(rows, _.repartition(n, col(partCol)))
        .write.mode(mode).partitionBy(partCol).parquet(path)

    /** A (re)write: under the lock, clear any prior store life under
      * `dir` ([[clearStoreLife]] — stale tombstones would mask rewritten
      * ids, a stale ledger would skip a fresh stream's first batches,
      * stale generations would shadow generation 0), run `body`, and
      * start a new coordination epoch at corpus-version 0. */
    def rebuild(s: SparkSession, dir: String)(body: => Unit): Unit =
      withStoreLock(s, dir, s"${op}Write") {
        clearStoreLife(s, dir, genKinds)
        body
        writeStoreVersion(s, dir, 0L)
      }

    /** An append: under the lock, run `body` against the current
      * generation, then bump the corpus version once. */
    def append(s: SparkSession, dir: String)(body: Long => Unit): Unit =
      withStoreLock(s, dir, s"${op}Append") {
        body(currentGen(s, dir))
        bumpStoreVersion(s, dir)
      }

    /** LOGICAL delete of an operator-sized id list: append the ids to
      * the current generation's tombstone set. Serves subtract them
      * immediately ([[minusTombs]]) at zero rewrite cost and the next
      * [[compact]] makes the delete physical — the delete contract
      * every append-only columnar store uses at scale. Deleting an id
      * not in the store is a harmless no-op; an id later re-appended
      * would be masked too (ids are never reused by contract). */
    def delete(s: SparkSession, dir: String, ids: Seq[Long]): Unit = {
      require(ids.nonEmpty, s"${op}Delete: ids must be non-empty")
      import s.implicits._
      deletePinned(s, dir, ids.toDF(tombIdCol))
    }

    /** FRAME-shaped [[delete]] (the no-collect takedown path): `ids`
      * carries one long-castable [[tombIdCol]] column that never
      * crosses the driver. The caller's frame is validated
      * ([[requireLongIds]]) and pinned, so a non-deterministic ids
      * plan cannot tombstone one id set and report another; the pin is
      * released once the write has materialized. An empty frame
      * appends zero rows — a no-op for every serve. */
    def delete(s: SparkSession, dir: String, ids: DataFrame): Unit = {
      val pinned = requireLongIds(ids, tombIdCol, s"${op}Delete")
        .localCheckpoint()
      try deletePinned(s, dir, pinned)
      finally
        org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(pinned)
    }

    /** [[delete]] for an ids frame the caller already validated and
      * pinned ([[takedownAll]]'s dispatch): skips the guard+checkpoint
      * the public form pays once per store. */
    def deletePinned(s: SparkSession, dir: String, ids: DataFrame): Unit =
      withStoreLock(s, dir, s"${op}Delete") {
        val g = currentGen(s, dir)
        tombRows(s, dir, g, ids)
          .write.mode("append").parquet(path(dir, "tombstones", g))
        bumpStoreVersion(s, dir)
      }

    /** HOOK: the tombstone rows a delete appends — by default the ids
      * themselves, funnelled to one file: ids the plan already runs as
      * one partition (an operator-sized list) are written as they are,
      * a larger frame repartitions AFTER whatever plan computes them. */
    protected def tombRows(s: SparkSession, dir: String, g: Long,
        ids: DataFrame): DataFrame =
      onePartition(ids, _.repartition(1))

    /** Compact into the NEXT GENERATION: rewrite every dataset's live
      * rows (tombstones applied physically) one file per partition
      * directory at fresh `<kind>-g<N+1>` paths, then COMMIT with the
      * atomic generation flip — datasets, generational sidecars and the
      * now-empty tombstone set change together — and vacuum the
      * generations before the grace. Append/ingest small-file accretion
      * is what it repairs; serve-equality across it is spec-pinned per
      * store. */
    def compact(s: SparkSession, dir: String): Unit =
      withStoreLock(s, dir, s"${op}Compact") {
        val n = partitions(s, dir)
        val g = currentGen(s, dir)
        compactInto(s, dir, g + 1, n, live(s, dir, _, g))
        // THE commit point: generation g+1 becomes current atomically
        writeGen(s, dir, g + 1)
        vacuumGens(s, dir, genKinds, keepFrom = g)
      }

    /** HOOK: write generation `ng` from the pre-compact live rows. */
    protected def compactInto(s: SparkSession, dir: String, ng: Long,
        n: Int, live: String => DataFrame): Unit =
      datasets.foreach(d =>
        writeParts(live(d.kind), n, path(dir, d.kind, ng), "overwrite"))

    /** Per-partition health report: (partCol, statsCount, files) plus
      * the layout's extra columns, ordered by partition — live rows of
      * the main dataset (tombstones subtracted) and parquet files per
      * partition directory (the compaction trigger). The Hadoop FS
      * listing is the authoritative partition set, so an
      * all-tombstoned partition still reports (0 live, files > 0) —
      * the pending-compaction state the report exists to surface — and
      * the report works wherever the store does. */
    def stats(s: SparkSession, dir: String): DataFrame = {
      val g = currentGen(s, dir)
      val root = new Path(path(dir, main.kind, g))
      val fs = fsOf(s, root)
      require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
        s"${op}Stats: no $mainNoun dataset under $dir — not $dirNoun " +
          s"directory (${op}Write creates ${main.kind}/)")
      val counts = minusTombs(s, dir, g, statsRows(read(s, dir, main.kind, g)))
        .groupBy(partCol).agg(count(lit(1)).as("rows"), statsAggs: _*)
      val files = partitionDirs(s, dir, g).map { case (v, p) =>
        (v, fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")))
      }
      import s.implicits._
      val partType = org.apache.spark.sql.types.StructType
        .fromDDL(main.schema)(partCol).dataType
      statsShape(broadcast(files.toDF(partCol, "files")
          .select(col(partCol).cast(partType), col("files")))
        .join(counts, Seq(partCol), "left"), counts)
        .orderBy(partCol)
    }

    /** The main dataset's partition directories at generation `g` as
      * (partition value, directory) — a driver-side listing, no Spark
      * job, and the authoritative partition set. */
    def partitionDirs(s: SparkSession, dir: String,
        g: Long): Seq[(Long, Path)] = {
      val root = new Path(path(dir, main.kind, g))
      fsOf(s, root).listStatus(root).toSeq
        .filter(st => st.isDirectory
          && st.getPath.getName.startsWith(s"$partCol="))
        .map(st => (st.getPath.getName.stripPrefix(s"$partCol=").toLong,
          st.getPath))
    }

    /** The live-row count of a stats partition (0 when all dead). */
    protected def liveCount: Column = coalesce(col("rows"), lit(0L))

    /** HOOK: the main-dataset rows stats and maintain count. */
    protected def statsRows(rows: DataFrame): DataFrame = rows

    /** HOOK: extra per-partition aggregates for [[statsShape]]. */
    protected def statsAggs: Seq[Column] = Nil

    /** HOOK: the report's columns, from the listing ⟕ live counts. */
    protected def statsShape(joined: DataFrame,
        counts: DataFrame): DataFrame =
      joined.select(col(partCol), liveCount.as(statsCount), col("files"))

    /** The MAINTENANCE POLICY over [[stats]]: per partition,
      * (partCol, statsCount, files, tomb, [[maintainExtra]], action)
      * where action is `compact` when the partition's file count
      * exceeds `maxFiles` (append/ingest small-file accretion) or its
      * tombstoned-row share exceeds `maxTombBp` basis points (dead rows
      * every serve still reads and anti-joins away), `retrain` where the
      * store's `retrain` rule holds (checked first), else `ok`.
      * `execute = true` runs [[compact]] when any partition decided
      * `compact` — compaction is whole-store by construction, so one
      * trigger suffices — and returns the decided rows. */
    def maintain(s: SparkSession, dir: String, maxFiles: Int,
        maxTombBp: Long, execute: Boolean,
        retrain: Option[Column] = None): DataFrame = {
      require(maxFiles >= 1 && maxTombBp >= 0,
        s"${op}Maintain: maxFiles >= 1, maxTombBp >= 0")
      // per-partition tombstoned-row counts: stats reports the LIVE
      // view, the policy needs the dead rows too
      val g = currentGen(s, dir)
      val raw = statsRows(read(s, dir, main.kind, g))
      val dead = tombstones(s, dir, g).fold(raw.filter(lit(false)))(t =>
        raw.join(broadcast(t.select(tombIdCol)), Seq(tombIdCol), "left_semi"))
      val tomb = dead.groupBy(partCol).agg(count(lit(1)).as("tomb"))
      val (n, tc) = (col(statsCount), col("tomb"))
      val compactWhen = col("files") > maxFiles ||
        (n + tc > 0 && tc * 10000L > lit(maxTombBp) * (n + tc))
      val report = stats(s, dir).join(tomb, Seq(partCol), "left")
        .select(Seq(col(partCol), n, col("files"),
          coalesce(tc, lit(0L)).as("tomb")) ++ maintainExtra.map(col): _*)
        .withColumn("action", retrain
          .fold(when(compactWhen, "compact"))(r =>
            when(r, "retrain").when(compactWhen, "compact"))
          .otherwise("ok"))
        .orderBy(partCol)
      if (!execute) report
      else {
        // the report is small (one row per partition) and about to
        // drive a side effect — materializing it is the op's shape
        val decided = report.collect()
        if (decided.exists(_.getAs[String]("action") == "compact"))
          compact(s, dir)
        s.createDataFrame(java.util.Arrays.asList(decided: _*),
          report.schema)
      }
    }

    /** CONTINUOUS ingestion: each micro-batch of `delta` is appended by
      * `appendBatch` under the batch-id ledger ([[ledgered]],
      * `ingested/batch-<id>/`), so checkpoint replays skip
      * already-applied batches and a clean stop/restart never
      * double-appends. The caller validates the store's geometry BEFORE
      * the stream starts. This is the serving-store maintenance loop:
      * stream in, appends accrete, compaction amortizes. */
    def ingest(delta: DataFrame, dir: String, checkpointDir: String)(
        appendBatch: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      delta.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          ledgered(batch.sparkSession, dir, s"batch-$batchId",
            s"${op}Ingest")(if (!batch.isEmpty) appendBatch(batch))
        }
        .start()

    /** Classify and (with `execute`) repair every documented crash
      * window: the crashed-mutation lock, generation hygiene (torn
      * compact scratch above the pointer, expired generations below the
      * grace, stale markers, torn sidecar temps), the current
      * generation's datasets all present (a crash inside a write's
      * concurrent dataset writes, or external damage — unrecoverable
      * without a rebuild), the layout's own checks ([[fsckChecks]]),
      * and one report-only duplicate check per dataset that declares a
      * `dupKey`. Returns (check, state, action) rows led by the
      * corpus-version stamp. */
    def fsck(s: SparkSession, dir: String, execute: Boolean): DataFrame = {
      val rows = fsckMutationLock(s, dir, execute) ++
        fsckGenerations(s, dir, genKinds, execute)
      val g = currentGen(s, dir)
      val fs = fsOf(s, new Path(dir))
      if (!datasets.forall(d => fs.exists(new Path(path(dir, d.kind, g)))))
        report(s, dir, rows :+ (("datasets",
          s"current generation g$g incomplete",
          "unrecoverable without a rebuild")))
      else {
        val checked = fsckChecks(s, dir, g, execute)
        // re-resolve: a repair above may have compacted into a new
        // generation, and the pre-compact files are the grace's
        val gNow = currentGen(s, dir)
        report(s, dir, rows ++ checked ++
          datasets.filter(_.dupKey.nonEmpty).map(dupRow(s, dir, gNow, _)))
      }
    }

    /** HOOK: the layout's own fsck checks, run on a complete
      * generation `g` before the duplicate checks. */
    protected def fsckChecks(s: SparkSession, dir: String, g: Long,
        execute: Boolean): Seq[(String, String, String)] = Nil

    private def dupRow(s: SparkSession, dir: String, g: Long,
        d: StoreDataset): (String, String, String) = {
      val ids = d.dupKey.filter(tombCols.contains)
      val dups = read(s, dir, d.kind, g).groupBy(d.dupKey.map(col): _*)
        .count().filter(col("count") > 1)
      val n = (if (ids == d.dupKey) dups
        else dups.select(ids.map(col): _*).distinct()).count()
      (d.dupLabel,
        if (n == 0) "none" else s"$n ${d.dupNoun} appended more than once",
        if (n == 0) "none" else d.dupRepair)
    }
  }
}
