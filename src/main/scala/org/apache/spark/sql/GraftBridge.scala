package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

/** Bridge into Spark's `private[sql]` Column ↔ Expression conversions, so
  * graft's native Catalyst expressions (`graft.functions.FloatVecDot`, …)
  * can be exposed through the public `Column` API. Standard pattern for
  * Spark extension libraries; no Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** The key and direction of `c.asc` or `c.desc` (each direction's
    * default null ordering: first under asc, last under desc). */
  def sortKey(c: Column): (Column, catalyst.expressions.SortDirection) = c.node match {
    case internal.SortOrder(key, internal.SortOrder.Ascending, internal.SortOrder.NullsFirst, _) =>
      (new Column(key), catalyst.expressions.Ascending)
    case internal.SortOrder(key, internal.SortOrder.Descending, internal.SortOrder.NullsLast, _) =>
      (new Column(key), catalyst.expressions.Descending)
    case _ => throw new IllegalArgumentException(s"expected col.asc or col.desc, got $c")
  }

  /** Wrap a single-row, single-column DataFrame as a scalar-subquery
    * expression — the form `BloomFilterMightContain` (and any other
    * runtime-filter-style probe) requires for its build side: the
    * subquery executes once and its value is broadcast into the probe
    * expression, never re-evaluated per row. */
  def scalarSubquery(df: DataFrame): Expression =
    catalyst.expressions.ScalarSubquery(
      df.queryExecution.analyzed,
      Nil, catalyst.expressions.NamedExpression.newExprId, Nil, None, None, None)

  /** Bounded-wait read of one long metric off an [[Observation]] whose
    * action (an eager localCheckpoint, typically) has already run: waits
    * up to 1 s for the async listener, then falls back to the caller's
    * recompute so a missed metric degrades to the old extra job, never to
    * a wrong value. */
  def observedLong(o: Observation, key: String)(fallback: => Long): Long =
    observedMap(o).get(key).map(_.asInstanceOf[Long]).getOrElse(fallback)

  /** Bounded-wait read of ALL metrics off an [[Observation]] whose action
    * (an eager localCheckpoint, typically) has already run — the
    * multi-metric sibling of [[observedLong]] for observations that mix
    * longs and collected sets. Returns the empty map if the listener
    * does not fire within 1 s; callers fall back to a recompute. */
  def observedMap(o: Observation): Map[String, Any] =
    try {
      val row = Await.result(o.future, 1.second)
      row.getValuesMap[Any](row.schema.map(_.name))
    } catch { case _: TimeoutException => Map.empty }

  /** Block until every listener-bus event posted so far has been
    * delivered (the bus is asynchronous, so an action can return before
    * its task and job events reach a listener). Throws
    * `java.util.concurrent.TimeoutException` after `timeoutMs`. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Unpersist the RDD behind a `localCheckpoint()`ed DataFrame. Iterative
    * algorithms (connected components) checkpoint each round; without this
    * the superseded rounds' blocks stay pinned until the session ends.
    */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))
}
