package graft

import graft.functions.{DotProductFloat, Log2Fix}
import graft.plans.DateRangeRewrite
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions for the engine — activate with
  * `spark.sql.extensions=graft.GraftExtensions` (done by
  * [[GraftSession]]): injects the [[DateRangeRewrite]] optimizer
  * rule and registers `graft_dot` as a first-class SQL function. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DateRangeRewrite)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoin.AsOfStrategy)
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductFloat].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProductFloat(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_log2fix"),
      new ExpressionInfo(classOf[Log2Fix].getName, "graft_log2fix"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Log2Fix(exprs(0))))
  }
}
