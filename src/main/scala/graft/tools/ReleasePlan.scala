package graft.tools

import graft.Bench

/** Prints the cache release plan derived from the REAL query definitions
  * (see [[graft.Bench.deriveReleasePlan]]) as Scala source, ready to
  * paste into `Bench.releaseAfter` whenever the inventory changes. The
  * `BenchReleaseSpec` gate fails until the pasted map matches, so the
  * hand-copied plan can never silently drift from the code.
  */
object ReleasePlan {
  def main(args: Array[String]): Unit = {
    val spark = localSession(4)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val plan = Bench.deriveReleasePlan(spark, dir)
    println("  val releaseAfter: Map[String, Seq[String]] = Map(")
    plan.toSeq.sortBy(_._1).foreach { case (q, keys) =>
      println(s"""    "$q" -> Seq(${keys.sorted.map("\"" + _ + "\"").mkString(", ")}),""")
    }
    println("  )")
    // build-attribution half (r13 verdict ask #2): which query's timed
    // section absorbs each cache build in sorted run order — paste into
    // Bench.buildAbsorbers.
    // MUST derive on a COLD registry: nested accesses (a build closure
    // calling cached() for its input) only fire while the build RUNS,
    // so deriving over the frames the release-plan replay just built
    // would mis-attribute every nested build to its first DIRECT
    // consumer (measured: jaccard-pairs flips q173→q42 when warm).
    graft.CacheRegistry.clear(spark)
    println("  val buildAbsorbers: Map[String, String] = Map(")
    Bench.deriveFirstConsumers(spark, dir).toSeq.sortBy(_._1)
      .foreach { case (p, q) => println(s"""    "$p" -> "$q",""") }
    println("  )")
    spark.stop()
  }
}
