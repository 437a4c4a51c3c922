package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, execution, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `Dataset.ofRows`, which is `private[sql]` in Spark 4 — the
  * entry point for wrapping a custom [[LogicalPlan]] node back into the
  * public DataFrame API (the standard pattern for libraries contributing
  * whole-operator Catalyst extensions).
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

/** Test-only access to SparkSessionExtensions' `private[sql]` builders, so
  * a spec can assert what a `spark.sql.extensions` class registers without
  * tearing down the shared test session. */
object ExtensionsBridge {
  def plannerStrategies(ext: SparkSessionExtensions,
                        spark: SparkSession): Seq[execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)
  def optimizerRules(ext: SparkSessionExtensions, spark: SparkSession) =
    ext.buildOptimizerRules(spark)
}

/** `StructType.asNullable` is `private[spark]`: the all-nullable schema
  * Spark's own file writes use. */
object SchemaBridge {
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable
}

/** `SparkContext.listenerBus` is `private[spark]`: waiting for it to
  * deliver every posted event lets a listener's counts be read without
  * sleeping. */
object ListenerBusBridge {
  def waitUntilEmpty(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
