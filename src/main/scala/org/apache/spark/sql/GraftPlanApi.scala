package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.ResolvedTable
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, V1Table}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.RDDBlockId

/** Bridge into `Dataset.ofRows` (package-private in Spark) so
  * graft's custom logical operators ([[graft.plans.AsOfJoinPlan]])
  * can be wrapped back into a public DataFrame — the standard
  * extension-library pattern for plan-level operators.
  */
object GraftPlanApi {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** `df`'s executed rows, handed to `hold` in one SQL execution (as
    * `Dataset.checkpoint` does), as a frame whose `LogicalRDD` leaf
    * keeps `LogicalRDD.fromDataset`'s partitioning and ordering but
    * carries measured statistics instead of the pre-execution
    * estimate: the row count `hold` returns, and the bytes the block
    * manager holds for the RDD (memory plus disk) once `hold` has
    * stored it.
    */
  def measured(df: DataFrame)(hold: RDD[InternalRow] => Long): DataFrame = {
    val ds = df.asInstanceOf[CDataset[Row]]
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("cut")) {
      val rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
      val rows = hold(rdd)
      val bytes = SparkEnv.get.blockManager.master.getStorageStatus.iterator
        .flatMap(_.rddBlocks)
        .collect { case (RDDBlockId(rdd.id, _), s) => s.memSize + s.diskSize }.sum
      val leaf = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
      ofRows(ds.sparkSession, leaf.copy()(ds.sparkSession,
        Some(Statistics(bytes, Some(rows))), Some(leaf.constraints)))
    }
  }

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
