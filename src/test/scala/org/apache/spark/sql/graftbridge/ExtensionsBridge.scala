package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Access to the private[sql] `SparkSessionExtensions.buildOptimizerRules`:
  * the optimizer rules a set of extensions injects into `s`. */
object ExtensionsBridge {
  def optimizerRules(ext: SparkSessionExtensions,
      s: SparkSession): Seq[Rule[LogicalPlan]] = ext.buildOptimizerRules(s)
}
