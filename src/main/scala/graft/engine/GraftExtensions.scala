package graft.engine

import org.apache.spark.sql.SparkSessionExtensions

import graft.ops.AsOf

/** Spark-native deployment hook: `spark.sql.extensions=graft.engine.GraftExtensions`
  * gives any session — including spark-submit / Thrift / connect sessions
  * the library never touches programmatically — every function in
  * [[Functions.all]] plus the as-of strategy and rules in [[AsOf]]. It
  * reads the same tables `Session.prepare` installs from.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Functions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOf.strategy)
    AsOf.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
