package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` constructors needed to surface a
  * custom LogicalPlan as a public DataFrame (the standard pattern for
  * out-of-tree Spark operators; only public-API types cross this
  * boundary). */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Run `f` with a THREAD-LOCAL SQLConf override (a clone of the
    * session conf with `overrides` applied). Everything on the calling
    * thread that consults `SQLConf.get` — parser eval-mode capture,
    * analysis — sees the override; the shared session conf is never
    * mutated, so concurrent statements on the same SparkSession cannot
    * observe a half-toggled value or a lost restore. */
  def withStatementConf[T](spark: SparkSession,
                           overrides: Map[String, String])(f: => T): T = {
    val cloned =
      spark.asInstanceOf[classic.SparkSession].sessionState.conf.clone()
    overrides.foreach { case (k, v) => cloned.setConfString(k, v) }
    internal.SQLConf.withExistingConf(cloned)(f)
  }

  /** What `spark.udf.register(name, udaf)` builds internally, exposed
    * so a FunctionRegistry BUILDER can construct the aggregate from
    * its argument expressions — the only way to give one SQL name an
    * optional (literal-switched) argument, which udf.register's fixed
    * arity cannot express. The analyzer wraps the returned aggregate
    * function, so DISTINCT and FILTER apply as for any aggregate. */
  def scalaAggregator(
      agg: expressions.UserDefinedFunction,
      children: Seq[Expression]): Expression =
    execution.aggregate.ScalaAggregator(
      // udaf() always returns a UserDefinedAggregator; the class is
      // private[sql], so the downcast lives here in the bridge
      agg.asInstanceOf[expressions.UserDefinedAggregator[_, _, _]],
      children)
}
