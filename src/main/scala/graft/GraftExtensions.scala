package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** SURVEY.md §2.5 #48 — SparkSessionExtensions entry point: makes the
  * graft native expressions and planner strategies available to
  * pure-SQL users via `spark.sql.extensions=graft.GraftExtensions` (no
  * code changes on their side). The functions are the same table the
  * per-session [[GraftFunctions.register]] installs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.HammingSelfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    e.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    GraftFunctions.sqlFunctions.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name), build))
    }
  }
}
