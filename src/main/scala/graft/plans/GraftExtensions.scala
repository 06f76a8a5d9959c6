package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SQL-surface registration for graft's native expressions, via the
  * standard `SparkSessionExtensions` hook:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)  // or
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * makes every function of [[GraftFunctions.functions]] usable from
  * plain SQL, planned and codegen'd like built-ins — the same table
  * [[GraftFunctions.register]] installs on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build))
    }
}
