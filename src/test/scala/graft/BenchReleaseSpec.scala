package graft

/** Pins Bench's hand-pasted cache release plan to the REAL query
  * definitions: re-derives each shared frame's last consumer by
  * replaying plan construction in Bench's sorted order with the
  * registry's access hook armed, and fails on any drift — adding a
  * query that consumes a shared frame later than the current release
  * point would otherwise silently re-introduce the r9 failure mode
  * (a released frame rebuilt from scratch, or a stale plan holding
  * frames resident past their last use). */
class BenchReleaseSpec extends SparkTestBase {

  test("releaseAfter matches the derived last-consumer plan") {
    CacheRegistry.clear(spark)
    val derived = Bench.deriveReleasePlan(spark, "/root/testdata/sf0.001")
    // normalize both sides for comparison
    def norm(m: Map[String, Seq[String]]): Map[String, List[String]] =
      m.map { case (q, ks) => q -> ks.toList.sorted }
    assert(norm(derived) == norm(Bench.releaseAfter),
      s"""release plan drift — paste `sbt "runMain graft.tools.ReleasePlan"` output into Bench.releaseAfter
         |derived : ${norm(derived).toSeq.sortBy(_._1).mkString(", ")}
         |declared: ${norm(Bench.releaseAfter).toSeq.sortBy(_._1).mkString(", ")}""".stripMargin)
    CacheRegistry.clear(spark)
  }

  test("buildAbsorbers matches the derived first-consumer attribution") {
    // the other half of the lifecycle ledger: per-query timings are
    // read against this map (BASELINE.md, Method), so a new query that
    // silently becomes a cache's first consumer (shifting which timed
    // section absorbs the build) must fail here, not confuse the next
    // round's per-query delta forensics
    CacheRegistry.clear(spark)
    val derived = Bench.deriveFirstConsumers(spark, "/root/testdata/sf0.001")
    assert(derived == Bench.buildAbsorbers,
      s"""attribution drift — paste `sbt "runMain graft.tools.ReleasePlan"` output into Bench.buildAbsorbers
         |derived : ${derived.toSeq.sortBy(_._1).mkString(", ")}
         |declared: ${Bench.buildAbsorbers.toSeq.sortBy(_._1).mkString(", ")}""".stripMargin)
    CacheRegistry.clear(spark)
  }

  test("releaseByPrefix drops only the matching session-owned entries") {
    CacheRegistry.clear(spark)
    // distinct plans — two identical range(5) plans would share ONE
    // CacheManager entry and the release of either would evict both
    val a = CacheRegistry.cached(spark, "relspec-a:x")(spark.range(5).toDF())
    val b = CacheRegistry.cached(spark, "relspec-b:x")(spark.range(7).toDF())
    a.count(); b.count()
    CacheRegistry.releaseByPrefix(spark, "relspec-a")
    assert(CacheRegistry.liveCount(spark) == 1)
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(b.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    CacheRegistry.clear(spark)
  }
}
