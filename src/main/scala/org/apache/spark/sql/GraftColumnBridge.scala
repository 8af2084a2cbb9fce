package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The ONE `private[sql]`-access bridge graft uses: wrap a Catalyst
  * expression into a user-facing [[Column]] without the function
  * registry. Every other graft expression registers through
  * `SparkSessionExtensions.injectFunction` + `call_function`, which is
  * the right doorway when all arguments are expressions — but a registry
  * builder can only receive `Seq[Expression]`, so an expression carrying
  * a NON-expression constructor field (the
  * [[graft.functions.BloomCutPositions]] bit table, which must NOT be a
  * literal child: a 2 MB binary literal's 4 MB hex gets re-rendered into
  * the plan description by the driver on every execution — measured
  * ~180 s CPU per bench entry, jstack-attributed to
  * `ExplainUtils`/`stripMargin`) needs direct construction. A logical
  * node of graft's own ([[graft.sampling.SampleKeep]], which carries its
  * tally) is wrapped into a [[DataFrame]] the same way.
  *
  * Delegates to [[org.apache.spark.sql.classic.ExpressionUtils]] — the
  * same helper Spark's own Column functions compile down to — and to
  * `classic.Dataset.ofRows`.
  */
object GraftColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
