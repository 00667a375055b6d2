package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made these converters
  * private[sql]; custom Catalyst expressions still need them to surface
  * as Columns, so we expose the two calls from inside the sql package.
  */
object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (custom) logical plan; classic.Dataset.ofRows is
    * private[sql] in Spark 4.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Memory-manager page size for custom spillable operators (what
    * SortExec passes to UnsafeExternalRowSorter); SparkEnv.memoryManager
    * is private[spark].
    */
  def pageSizeBytes: Long =
    org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** Fork of `s` sharing its SparkContext with a COPY of its session
    * state (conf, catalog, registered functions) — the isolation tool
    * for operators that must flip a session conf (Bfs's AQE toggle)
    * without the flip leaking to unrelated queries planned
    * concurrently on the caller's session. `SparkSession.cloneSession`
    * is private[sql] in Spark 4.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Drain the async listener bus so a SparkListener's counters are
    * consistent with the jobs that already finished — Bench snapshots
    * per-query job counts around each timed run and the delta is only
    * attributable once queued events are delivered. `listenerBus` is
    * private[spark]. Best-effort: a timeout must not fail a bench.
    */
  def waitListenerBus(s: SparkSession, timeoutMs: Long = 10000L): Unit =
    try s.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Exception => () }

  /** Release a localCheckpoint()'d frame's cached blocks. Needed in
    * iterative fixpoints: Dataset.unpersist only clears cacheManager
    * entries (.cache/.persist) and does NOT touch the RDD-level
    * persistence a checkpoint pins — without this, superseded per-round
    * frames leak storage for the session lifetime. Calls
    * `SparkContext.unpersistRDD` (private[spark]) on the backing RDD: the
    * same release `RDD.unpersist` makes, without its per-call "was
    * locally checkpointed" WARN.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(r => r.sparkContext.unpersistRDD(r.id, blocking = false))
}
