package graft.tools

import graft.Bench

/** Standing pressure rehearsal (r10 VERDICT ask #2): run the EXACT
  * Bench under the contention that actually broke the r9 gate — the
  * r9 failure was a 2–6× driver-box load amplification on identical
  * code, and the r10 analysis found the amplifier to be
  * CPU/stage-count contention, not storage. Rehearsing under load each
  * re-anchor is the only way to see the next breach coming.
  *
  * Protocol (the r10 one-off's):
  * 16 external busy-loop processes (`SPARK_GRAFT_LOAD` overrides) spun
  * up before the session starts, plus a constrained driver heap via
  * `SPARK_DRIVER_MEM=4g` (the heap is fixed at JVM launch — set the env
  * var, this tool only reports it). The busy loops are separate OS
  * processes, not JVM threads, so they contend for cores exactly like
  * the foreign load on a shared driver box without perturbing this
  * JVM's GC. A shutdown hook reaps them even on crash.
  *
  *   SPARK_DRIVER_MEM=4g SPARK_GRAFT_CPUS=32 \
  *     SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.LoadBench"
  *
  * Output: Bench's own JSON line (still the last line). Record the
  * loaded total next to the quiet median in BASELINE.md; the r10
  * reading of health is a uniform ~1.6× amplification with no
  * single-query blow-up (>3× of quiet = a stage-chain liability).
  */
object LoadBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_LOAD", "16").toInt
    val procs = (1 to n).map { _ =>
      new ProcessBuilder("bash", "-c", "while :; do :; done")
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectError(ProcessBuilder.Redirect.DISCARD)
        .start()
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      procs.foreach(_.destroyForcibly())))
    System.err.println(
      s"[loadbench] $n busy-loop processes up; driver heap max " +
        s"${Runtime.getRuntime.maxMemory() / (1 << 20)} MiB " +
        "(protocol wants SPARK_DRIVER_MEM=4g)")
    try Bench.main(args)
    finally procs.foreach(_.destroyForcibly())
  }
}
