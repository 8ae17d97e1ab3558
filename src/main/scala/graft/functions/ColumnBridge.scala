// The ONE file outside the graft.* namespace: Spark 4's Connect-unified
// API made the Column ↔ catalyst-Expression bridge private[sql]
// (org.apache.spark.sql.classic.ExpressionUtils), and TxStore's
// stats-pruning needs to WALK a predicate Column's expression tree on
// the driver (no session-bound analysis involved). A subpackage of
// org.apache.spark.sql is inside the private[sql] scope — the standard
// extension-library idiom for the handful of bridges Spark keeps
// qualified-private.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

object ColumnBridge {

  /** The catalyst expression a classic-session Column wraps — via the
    * FULL node→expression converter, not ExpressionUtils.expression
    * (which defers behind a lazy ColumnNodeExpression wrapper that a
    * pattern match cannot see through). */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** The reverse direction: wrap a catalyst expression as a Column —
    * the SQL-DML translator parses DELETE/UPDATE/MERGE text into
    * catalyst plans and hands their predicate/assignment expressions to
    * the TxStore Column API. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** A DataFrame over a parsed-but-unresolved logical plan (analysis
    * runs on first use) — how MERGE's arbitrary USING source (table,
    * view or subquery) becomes the TxStore merge's updates frame. */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until the listener bus has delivered every queued event (or
    * the timeout passes) — what graft.Profile needs so late job/stage-end
    * events are counted instead of dropped by a fixed sleep (ADVICE r17).
    * `listenerBus` is private[spark]; this package sits inside that scope. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
