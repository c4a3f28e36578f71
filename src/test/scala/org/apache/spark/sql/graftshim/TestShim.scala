package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Test-only access to `private[sql]` extension internals (verifying
  * what `spark.sql.extensions=graft.plans.GraftExtensions` would
  * install, without tearing down the shared test SparkContext). */
object TestShim {
  def optimizerRules(ext: SparkSessionExtensions,
                     session: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(session)

  def functionNames(ext: SparkSessionExtensions): Set[String] = {
    val registry = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(registry)
    registry.listFunction().map(_.funcName).toSet
  }
}
