package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics,
  UnaryNode}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, SparkStrategy}

/** A frame that runs as ONE partition and is sized at most `maxBytes`:
  * planned as `coalesce(1)`, so it reports `SinglePartition`. Two things
  * set it apart from a plain `coalesce(1)`, and no join hint can say
  * either:
  *  - Its planned size is capped at `maxBytes`. Without CBO a join's
  *    estimate is the PRODUCT of its sides' sizes, and EnsureRequirements
  *    keeps two one-partition join sides unshuffled only while each
  *    estimate stays under `spark.sql.maxSinglePartitionBytes`; a join
  *    above an earlier join would otherwise shuffle both sides.
  *  - The optimizer pushes no semi or anti join below it (it does push
  *    them below a `Repartition`), so an anti join over a marked scan
  *    keeps the scan's one partition.
  * [[graft.operators.Stores.onePartition]] is the only place that marks a
  * frame, and only one whose planned size fits `maxBytes`. */
case class OnePartition(child: LogicalPlan, maxBytes: BigInt)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override def stats: Statistics = {
    val c = child.stats
    c.copy(sizeInBytes = c.sizeInBytes.min(maxBytes))
  }
  override protected def withNewChildInternal(
      newChild: LogicalPlan): OnePartition = copy(child = newChild)
}

object OnePartition {

  private object Planning extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case OnePartition(child, _) => CoalesceExec(1, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** `df` under the marker. The planning strategy is added to the
    * session's extra strategies on first use; it plans nothing but the
    * marker. */
  def mark(df: DataFrame, maxBytes: BigInt): DataFrame = {
    val qe = df.queryExecution
    val e = qe.sparkSession.experimental
    e.synchronized {
      if (!e.extraStrategies.contains(Planning))
        e.extraStrategies = Planning +: e.extraStrategies
    }
    Dataset.ofRows(qe.sparkSession, OnePartition(qe.logical, maxBytes))
  }
}
