package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (columnNodeSupport.scala); third-party expression
  * libraries conventionally expose them through a package-located shim
  * like this one. The conversions and the few package-private helpers
  * below, with [[OnePartition]], are the only Spark internals graft
  * reaches — none leak past this package. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every event posted so
    * far (Spark's own 10 s limit, then a TimeoutException). Jobs start
    * synchronously inside an action, so after the action returns this
    * makes a listener's job, stage and task counts exact. The bus's
    * `waitUntilEmpty` is `private[spark]`, hence this shim. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Release the storage blocks behind a `localCheckpoint()`ed frame.
    *
    * `Dataset.unpersist` only reaches CacheManager-cached plans; a
    * local checkpoint is a persisted RDD pinned inside the returned
    * frame's `LogicalRDD` leaf, invisible to both the cache manager
    * and graft's CacheRegistry release ledger — so every checkpoint
    * pin a lifecycle op takes (the append/repair delta pins) stayed
    * resident until the ContextCleaner happened to GC it (the ~0.6 MiB
    * final-resident tail the r17 close recorded). This walks the
    * analyzed plan and unpersists the pinned RDD(s) directly.
    *
    * CAUTION (the connected-components rule): a local checkpoint's
    * blocks are the frame's ONLY copy — lineage is truncated — so call
    * this strictly AFTER every consumer of the frame has materialized.
    * No-op on frames that carry no checkpoint leaf. */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Drop a timed-out [[org.apache.spark.sql.Observation]] from its
    * session's ObservationManager (the r19 advice leak: Spark 4 tracks
    * registered observations in a per-session map serviced by ONE
    * shared listener; an observation whose metrics never arrive stays
    * in that map forever, pinning the Observation — and on a Spark
    * build where write commands stopped reporting observed metrics,
    * every store write would add one dead entry for the session's
    * lifetime). The map is `private`, so this goes through reflection
    * — against `getDeclaredField` on a concrete Spark class, stable
    * per Spark version and verified by ObservationSpec; if a future
    * Spark renames the field, the reflection failure is swallowed and
    * the behavior degrades to the documented pre-fix leak (bounded by
    * the same never-fires pathology), never to a crash on the write
    * path. */
  def dropObservation(s: org.apache.spark.sql.SparkSession,
      obs: org.apache.spark.sql.Observation): Unit =
    try {
      val it = observationMap(s).entrySet().iterator()
      while (it.hasNext) if (it.next().getValue eq obs) it.remove()
    } catch {
      // NonFatal, not just ReflectiveOperationException|CCE: a
      // non-classic session (connect) CCEs on the cast, and under JPMS
      // strong encapsulation setAccessible throws
      // InaccessibleObjectException — a RuntimeException the narrower
      // catch missed (r20 advice). Every reflection failure degrades
      // to the documented bounded leak, never a crash on the write
      // path; ObservationSpec keeps the happy path loud. Logged at
      // warn (r21 advice): the broad catch also swallows genuine
      // runtime failures in the removal loop, and a PERSISTENT
      // degradation should be observable in the driver log instead of
      // silent.
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"dropObservation degraded to the documented bounded leak: $e")
    }

  /** How many manager entries currently reference `obs` — the
    * ObservationSpec hook that keeps [[dropObservation]]'s reflection
    * contract loud (a Spark upgrade renaming the field fails the spec,
    * not silently re-opens the leak). */
  def observationEntries(s: org.apache.spark.sql.SparkSession,
      obs: org.apache.spark.sql.Observation): Int = {
    var n = 0
    observationMap(s).values().forEach(v => if (v eq obs) n += 1)
    n
  }

  private def observationMap(s: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.ConcurrentHashMap[_, AnyRef] = {
    val mgr = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .observationManager
    val f = mgr.getClass.getDeclaredField("observations")
    f.setAccessible(true)
    f.get(mgr)
      .asInstanceOf[java.util.concurrent.ConcurrentHashMap[_, AnyRef]]
  }
}
