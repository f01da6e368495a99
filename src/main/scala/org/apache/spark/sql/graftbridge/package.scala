package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge to the `private[sql]` Column <-> Expression
  * converters, for lifting custom Catalyst expressions into the public
  * Column API (Spark 4 wraps ColumnNode, not Expression, so the Spark 3
  * `new Column(expr)` construction no longer exists), plus the
  * LogicalPlan -> DataFrame constructor custom operators need.
  */
package object graftbridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column -> Expression conversion through the active
    * session's ColumnNode converter. [[expression]] wraps the node
    * lazily (ColumnNodeExpression, Unevaluable) — fine inside Dataset
    * API calls, which convert on use, but a FunctionRegistry builder
    * must hand the analyzer a real Catalyst tree (inner catalyst
    * UnresolvedFunctions are then resolved by the normal fixpoint).
    */
  def sessionExpression(c: Column): Expression =
    SparkSession.active.asInstanceOf[classic.SparkSession].expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Bridge to the `private[sql]` `cloneSession()`: a session whose
    * SessionState (including every RUNTIME SQL conf set on the caller)
    * is copied, sharing the SparkContext and cache manager. `newSession()`
    * is NOT this — it starts from the builder-time conf only, silently
    * dropping confs like `spark.sql.legacy.parquet.nanosAsLong` that a
    * caller set at runtime (the graft.Tables loader does), so work
    * forked onto a new session could read nanos-timestamp parquet
    * differently than the calling thread would.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Release the executor blocks behind a `Dataset.localCheckpoint()` /
    * `.checkpoint()` result. `Dataset.unpersist` is a no-op for these:
    * checkpointed data lives as RDD blocks (localCheckpoint persists the
    * internal RDD), not as CacheManager entries, so the release has to
    * go through the underlying `LogicalRDD`'s RDD. Reliable-checkpoint
    * FILES are untouched (ContextCleaner or manual dir cleanup owns
    * those); unpersisting their RDD is harmless.
    */
  def unpersistCheckpointed(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }

  /** The session's SQL conf: what Spark's own file readers build their
    * parquet schema converter and read options from.
    */
  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** Whether Spark's file listing skips a file or directory of this
    * name: hidden `_`/`.` names, except the parquet summary files.
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Whether the listener bus goes idle, every event posted to it
    * delivered, within `timeoutMs`.
    */
  def listenerBusIdle(spark: SparkSession, timeoutMs: Long): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
