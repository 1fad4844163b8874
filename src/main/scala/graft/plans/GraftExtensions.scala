package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.DotF32

/** Cluster-wide engine install point:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * wires the optimizer rules and planner strategies ([[Plans.rules]],
  * [[Plans.strategies]]) and the native SQL functions into every
  * session built from that config (the idiomatic Spark deployment of a
  * library-level engine — no code changes at call sites).
  *
  * The same registrations are available per-session for driver-owned
  * sessions via [[Plans.install]] + [[graft.Catalog.registerFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Plans.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    Plans.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    ext.injectFunction((
      FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotF32].getName, "dot_f32"),
      (exprs: Seq[Expression]) => DotF32(exprs.head, exprs(1))))
  }
}
