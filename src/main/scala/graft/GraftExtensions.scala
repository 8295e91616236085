package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension that injects the engine's whole SQL function
  * surface ([[FunctionTable]]: natives, the ksql compat pack and the
  * Aggregator-backed aggregates) and the as-of join strategy at session
  * build — enable with `spark.sql.extensions=graft.GraftExtensions`,
  * as [[graft.util.Sessions.local]] does. This is the deployment path
  * for a cluster: no per-session manual registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    FunctionTable.entries.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
