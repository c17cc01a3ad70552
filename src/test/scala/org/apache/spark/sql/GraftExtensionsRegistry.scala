package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test-only bridge: `SparkSessionExtensions.registerFunctions` is
  * `private[sql]`. It is the step a session built with
  * `withExtensions(ext)` runs on Spark's builtin function registry;
  * calling it here checks an extension's functions without building a
  * second session or replacing the active one. */
object GraftExtensionsRegistry {
  def functionRegistry(ext: SparkSessionExtensions => Unit): FunctionRegistry = {
    val e = new SparkSessionExtensions
    ext(e)
    e.registerFunctions(FunctionRegistry.builtin.clone())
  }
}
