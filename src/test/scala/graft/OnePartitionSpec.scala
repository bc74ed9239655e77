package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec}
import org.apache.spark.sql.graft.OnePartition

import graft.tools.Profile

/** The size rule ([[OnePartition]]): which frames it hands out as one
  * partition, and what a one-partition join then plans.
  *
  * The split verdict is checked against the scan Spark itself plans:
  * a table is one split exactly when its `FileSourceScanExec` plans one
  * input partition. Checked in the shared session, where every sf0.001
  * fixture is one split, and in a session with 4 KB splits and no
  * per-file open cost (PlanAuditSpec's), where none is. */
class OnePartitionSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private lazy val smallSplits: SparkSession = {
    val s = SparkTestBase.session.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    s.conf.set("spark.sql.files.openCostInBytes", "0")
    s
  }

  /** The rule's verdict: whether it marked the table's scan. */
  private def verdict(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[OnePartition]

  private def scanSplits(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    }.get

  Seq("shared" -> (() => spark), "4 KB split" -> (() => smallSplits))
    .foreach { case (label, session) =>
      test(s"split verdict matches the planned scan ($label session)") {
        val s = session()
        Tables.names.foreach { name =>
          val df = Tables(s, sf, name)
          val one = verdict(df)
          assert(one == (scanSplits(df) == 1), s"$name: verdict $one")
          assert(one == (df.queryExecution.executedPlan.outputPartitioning
            .numPartitions == 1), s"$name: marked $one")
        }
      }
    }

  test("every fixture is one split in the shared session, none in the " +
      "4 KB split session") {
    assert(Tables.names.forall(n => verdict(Tables(spark, sf, n))))
    assert(!Tables.names.exists(n =>
      verdict(Tables(smallSplits, sf, n))))
  }

  test("q07's join of two one-split tables runs in place: no broadcast, " +
      "one job") {
    Tables.names.foreach(Tables(spark, sf, _))
    val p = SparkEntry.queries("q07_equijoin")(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastExchange"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(Profile.touch(spark, sf, "q07_equijoin").jobs.size == 1)
  }
}
