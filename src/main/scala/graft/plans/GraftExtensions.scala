package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session extensions for the Iceberg VIEW SQL surface: DDL rewrites at
  * PARSE time (the session-catalog rule rejects V2-view DDL before any
  * resolution rule could run), read expansion as a resolution rule; see
  * [[GraftViewRules]]. Aggregates answered from manifest statistics need
  * no extension: the DSv2 scan builder's aggregate pushdown serves them
  * (`GraftIcebergScanBuilder.supportCompletePushDown`).
  *
  * Register with:
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   // or spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((spark, delegate) => new GraftViewSqlParser(spark, delegate))
    e.injectResolutionRule(spark => GraftViewRules(spark))
  }
}
