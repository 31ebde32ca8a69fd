package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expr.{FloatDot, StableHash64}

/** SparkSessionExtensions entry point: enable with
  * `spark.sql.extensions=graft.GraftExtensions` to get the engine's native
  * expressions in plain SQL on any session. Sessions the harness creates
  * without the config get the same functions via `FloatVec.register`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      (children: Seq[Expression]) => FloatDot(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("stable_hash64"),
      new ExpressionInfo(classOf[StableHash64].getName, "stable_hash64"),
      (children: Seq[Expression]) => StableHash64(children.head)))
    // custom physical operator: as-of join (plans.AsOfJoinPlan -> Exec)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // custom optimizer rule: band pure range joins into equi-joins
    ext.injectOptimizerRule(s => new graft.plans.BandRangeJoinRule(s))
  }
}
