package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
import org.apache.spark.sql.classic

/** Test-tree plan surgery. Rebuilding a frame from a logical plan is
  * `private[sql]`, hence the package. */
object Hints {

  /** `df` with every broadcast hint removed from its analyzed plan, as
    * a new frame on the same session: the same plan with the join
    * strategy left to the planner. */
  def withoutBroadcastHints(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed.transformUp {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
          h.child
      })
}
