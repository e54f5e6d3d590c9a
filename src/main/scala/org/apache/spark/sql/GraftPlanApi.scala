package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.ResolvedTable
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, V1Table}

/** Bridge into `Dataset.ofRows` (package-private in Spark) so
  * graft's custom logical operators ([[graft.plans.AsOfJoinPlan]])
  * can be wrapped back into a public DataFrame — the standard
  * extension-library pattern for plan-level operators.
  */
object GraftPlanApi {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** The `ResolvedTable` the analyzer builds for a session-catalog V1
    * table (`V1Table` and the V2 session catalog are package-private),
    * here over metadata the caller already fetched, so no lookup runs.
    */
  def resolvedV1Table(spark: SparkSession, meta: CatalogTable): ResolvedTable = {
    val catalog = spark.sessionState.catalogManager.v2SessionCatalog.asInstanceOf[TableCatalog]
    val ident = Identifier.of(meta.identifier.database.toArray, meta.identifier.table)
    ResolvedTable.create(catalog, ident, V1Table(meta))
  }
}
