package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** The SQL function names a session extension installs, read the way a
  * session built with `spark.sql.extensions` installs them: apply the
  * extension to fresh `SparkSessionExtensions` and register its injected
  * functions into a fresh, empty registry (`registerFunctions` is
  * `private[sql]`, hence this package).
  */
object InjectedFunctions {
  def names(extension: SparkSessionExtensions => Unit): Set[String] = {
    val ext = new SparkSessionExtensions
    extension(ext)
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName).toSet
  }
}
