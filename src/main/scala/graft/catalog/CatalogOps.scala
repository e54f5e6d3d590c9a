package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import java.util.Locale
import scala.util.{Failure, Success, Try}

/** Catalog enumeration by pattern — the reference's two "sources"
  * (`ExtractHiveDDL.java:58` getDatabases, `:141-149` getTableNames) —
  * and the metadata fetch behind every table section.
  *
  * Everything goes straight to the session catalog: no SQL text is
  * parsed or analysed. Patterns use the Hive metastore glob convention
  * (`*` = any chars, `|` = alternation), the same semantics
  * `SHOW DATABASES/TABLES LIKE` applies, and the predicate is evaluated
  * *inside* the metastore, exactly like the reference pushes its
  * patterns into the metastore RPC.
  *
  * Listings are returned sorted: the reference's output order was
  * nondeterministic under its thread fan-out (`ExtractHiveDDL.java:109`);
  * deterministic order is a documented improvement (SURVEY §2.1 notes).
  */
object CatalogOps {

  def listDatabases(spark: SparkSession, pattern: String): Seq[String] =
    spark.sessionState.catalog.listDatabases(pattern).sorted

  /** Error → empty list, preserving `ExtractHiveDDL.java:141-149`
    * (a bad database yields no tables, not a failed run).
    * Temp views are excluded — the reference enumerates metastore
    * tables only.
    */
  def listTables(spark: SparkSession, db: String, pattern: String): Seq[String] =
    Try {
      spark.sessionState.catalog.listTables(db, pattern, includeLocalTempViews = false)
        .map(_.table).sorted
    }.getOrElse(Seq.empty)

  /** Metadata of the named tables of one database, in `names` order,
    * from one bulk metastore call. A name missing from the answer (the
    * table was dropped after it was listed) is a `NoSuchTableException`
    * for that name only. If the bulk call itself fails — the database is
    * gone, or one table's metadata cannot be converted — each name is
    * fetched on its own, so the failure stays with the tables it belongs to.
    */
  def getTables(spark: SparkSession, db: String, names: Seq[String]): Seq[Try[CatalogTable]] = {
    val cat = spark.sessionState.catalog
    Try(cat.getTablesByName(names.map(TableIdentifier(_, Some(db))))) match {
      case Success(metas) =>
        // the metastore answers with lower-cased names
        val byName = metas.map(m => m.identifier.table -> m).toMap
        names.map(n => byName.get(n.toLowerCase(Locale.ROOT))
          .toRight(new NoSuchTableException(db, n)).toTry)
      case Failure(_) =>
        names.map(n => Try(cat.getTableRawMetadata(TableIdentifier(n, Some(db)))))
    }
  }

  /** Metadata of one table, for the name-based entry points. */
  def getTable(spark: SparkSession, db: String, table: String): CatalogTable =
    getTables(spark, db, Seq(table)).head.get
}
