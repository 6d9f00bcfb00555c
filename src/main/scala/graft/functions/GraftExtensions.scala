package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension installer: the config-driven way to get graft's SQL
  * functions into ANY SparkSession —
  *
  * {{{
  *   spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * Injects the same two lists [[graft.core.Sessions.prepare]] installs
  * ([[Dialect.functions]] and [[TableFunctions.builders]]), through
  * [[FunctionCatalog.inject]]. Everything injected is a native Catalyst
  * expression or an operator plan; no UDF wrappers anywhere on this
  * path. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = FunctionCatalog.inject(ext)
}
