package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}

/** Minimal bridge into Spark's package-private surface, used by
  * graft.plans.TopKRewrite to build a replacement logical plan with
  * the public Dataset API from inside an analyzer rule. Spark 4 keeps
  * plan construction helpers package-private; a subpackage of
  * `org.apache.spark.sql` is the sanctioned-by-convention escape hatch
  * (the same device Delta, Iceberg and Sedona use for their planner
  * extensions). Everything here is a thin forwarder — no behavior.
  */
object PlanBridge {

  /** DataFrame over an already-analyzed logical subtree. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The analyzed plan of a DataFrame (NOT optimized — rule rewrites
    * must hand the optimizer analyzed input).
    */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed

  /** Column wrapping a Catalyst expression (exprId-precise attribute
    * references — immune to duplicate-name ambiguity).
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Catalyst expression behind a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until the listener bus has delivered every event posted so
    * far (Spark's 10 s timeout applies). Used by graft.MetricsLedger.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
