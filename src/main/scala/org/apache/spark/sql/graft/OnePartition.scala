package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Filter, HintInfo, Join,
  JoinHint, LeafNode, LocalRelation, LogicalPlan, Project,
  RebalancePartitions, Repartition, RepartitionByExpression,
  SHUFFLE_HASH, Statistics, UnaryNode, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{CoalesceExec, LogicalRDD,
  PartitionedFileUtil, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{FilePartition,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** A frame that runs as ONE partition: planned as `coalesce(1)`, so it
  * reports `SinglePartition` and EnsureRequirements plans no exchange
  * above it — each of which AQE would run as its own stage job, paying
  * Spark's fixed per-stage cost for no data movement. Its planned size
  * is capped at the session's `spark.sql.maxSinglePartitionBytes`:
  * without CBO a join's estimate
  * is the PRODUCT of its sides' sizes, and EnsureRequirements keeps a
  * one-partition input unshuffled only while its estimate stays under
  * that bound, so a join above an earlier join would otherwise shuffle
  * both sides. [[OnePartition.install]]'s optimizer rule is the only
  * place that marks a frame. */
case class OnePartition(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override def stats: Statistics = {
    val c = child.stats
    c.copy(sizeInBytes = c.sizeInBytes.min(
      conf.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)))
  }
  override protected def withNewChildInternal(
      newChild: LogicalPlan): OnePartition = copy(child = newChild)
}

object OnePartition {

  private object Planning extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case OnePartition(child) => CoalesceExec(1, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** The one size rule. It runs last in the optimizer, after every
    * pushdown, and marks:
    *  - A leaf with its Project/Filter chain, when the leaf fits one
    *    split by the session's own split sizing. A table
    *    ([[graft.Tables]]) fits when its scan would plan one input
    *    split, so a table written as several files keeps its parallel
    *    read. Any other leaf fits when its planned bytes fit the split
    *    bound Spark's file scan gives them read as one file: a store
    *    dataset accretes one small file per append or key, and its
    *    volume, not the open cost per file, says whether it needs more
    *    than one task. A cached frame or checkpoint that already runs
    *    as one partition fits too. The marker goes ABOVE the chain, so
    *    filters still reach the parquet scan.
    *  - An equi-join whose two sides are both one partition: it gets a
    *    SHUFFLE_HASH hint on both sides, replacing a broadcast hint on a
    *    marked leaf, and a marked output. The planner then joins in
    *    place, with no exchange and no broadcast job. A union of
    *    one-partition inputs is marked too.
    * A table or frame big enough to matter plans several splits and
    * comes back unchanged, so at scale the plan is the plain one. */
  private case class SizeRule(session: SparkSession)
      extends Rule[LogicalPlan] {
    override def conf: SQLConf = session.sessionState.conf

    def apply(plan: LogicalPlan): LogicalPlan =
      if (plan.isStreaming) plan else mark(plan)

    private def mark(p: LogicalPlan): LogicalPlan = p match {
      case OnePartition(Chain(_)) => p
      case m: OnePartition => m.copy(child = m.child.mapChildren(mark))
      case Chain(leaf) => if (fits(leaf)) OnePartition(p) else p
      case j: Join if ExtractEquiJoinKeys.unapply(j).isDefined =>
        val k = j.mapChildren(mark).asInstanceOf[Join]
        if (isOne(k.left) && isOne(k.right) && yields(k))
          OnePartition(k.copy(hint = InPlace))
        else k
      case u: Union =>
        val k = u.mapChildren(mark)
        if (k.children.forall(isOne)) OnePartition(k) else k
      case _ => p.mapChildren(mark)
    }

    /** Whether `j`'s strategy hints give way: a hint on a marked leaf
      * would only ship what the in-place join reads anyway, while a
      * hint on a computed side is the caller's size choice and stands. */
    private def yields(j: Join): Boolean =
      Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).forall {
        case (_, OnePartition(Chain(_))) => true
        case (h, _) => h.forall(_.strategy.isEmpty)
      }

    private def fits(leaf: LeafNode): Boolean = leaf match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if graft.Tables.isTable(fs) => singleSplit(fs)
      case LogicalRelation(_: HadoopFsRelation, _, _, _, _) |
          _: LocalRelation => fitsBytes(leaf)
      case r: LogicalRDD => fitsBytes(r) || r.rdd.getNumPartitions == 1
      case m: InMemoryRelation => fitsBytes(m) ||
        m.cachedPlan.outputPartitioning.numPartitions == 1
      case _ => false
    }

    private def fitsBytes(leaf: LeafNode): Boolean = {
      val bytes = leaf.stats.sizeInBytes
      bytes <= FilePartition.maxSplitBytes(session,
        (bytes + conf.filesOpenCostInBytes).toLong)
    }

    /** Whether `fs`'s scan plans ONE input split, by the scan's own
      * sizing over the listing the relation already holds: nothing is
      * planned or run. */
    private def singleSplit(fs: HadoopFsRelation): Boolean = {
      val parts = fs.location.listFiles(Nil, Nil)
      val max = FilePartition.maxSplitBytes(session, parts)
      val files = for (p <- parts; f <- p.files; piece <-
          PartitionedFileUtil.splitFiles(f, f.getPath,
            fs.fileFormat.isSplitable(session, fs.options, f.getPath), max,
            p.values)) yield piece
      FilePartition.getFilePartitions(session,
        files.sortBy(-_.length), max).size == 1
    }
  }

  private val InPlace = JoinHint(Some(HintInfo(Some(SHUFFLE_HASH))),
    Some(HintInfo(Some(SHUFFLE_HASH))))

  /** A Project/Filter chain over a leaf, matched as the leaf. */
  private object Chain {
    def unapply(p: LogicalPlan): Option[LeafNode] = p match {
      case Project(_, c) => unapply(c)
      case Filter(_, c) => unapply(c)
      case l: LeafNode => Some(l)
      case _ => None
    }
  }

  /** Whether `p` runs as one partition: a marked subtree under
    * operators that keep their input's partitioning. */
  private def isOne(p: LogicalPlan): Boolean = p match {
    case _: OnePartition => true
    case _: Repartition | _: RepartitionByExpression |
        _: RebalancePartitions => false
    case u: UnaryNode => isOne(u.child)
    case _ => false
  }

  /** Add the size rule and its planning strategy to `s`, once. */
  def install(s: org.apache.spark.sql.SparkSession): Unit = {
    val session = s.asInstanceOf[SparkSession]
    val e = session.experimental
    e.synchronized {
      if (!e.extraStrategies.contains(Planning)) {
        e.extraStrategies = Planning +: e.extraStrategies
        e.extraOptimizations = e.extraOptimizations :+ SizeRule(session)
      }
    }
  }
}
