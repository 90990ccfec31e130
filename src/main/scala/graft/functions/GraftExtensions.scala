package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** Session-start wiring for the engine's Catalyst surface, enabled by
  *
  * {{{
  *   spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * which [[graft.GraftSession]] sets: every session it builds carries the
  * BigQuery-dialect functions (SAFE_DIVIDE, COUNTIF, DATE_DIFF,
  * DATETIME_DIFF, GENERATE_UUID) and the engine-native ones
  * ([[GraftFunctions]]) as native Catalyst expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    (BigQueryDialect.functions ++ GraftFunctions.functions).foreach {
      case (id, info, builder) => ext.injectFunction((id, info, builder))
    }
}
