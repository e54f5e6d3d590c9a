package graft.catalog

import org.apache.spark.sql.{GraftPlanApi, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.execution.command.{DDLUtils, ShowCreateTableAsSerdeCommand, ShowCreateTableCommand}
import org.apache.spark.sql.execution.datasources.v2.ShowCreateTableExec
import org.apache.spark.sql.types.StringType
import scala.util.Try

/** Per-table CREATE DDL synthesis + text post-processing
  * (`HiveClient.java:82-92`, `ExtractHiveDDL.java:154-191`).
  *
  * The reference delegates DDL synthesis to HiveServer2's
  * `SHOW CREATE TABLE` and post-fixes the header. Here the DDL comes
  * from the command Spark's own `SHOW CREATE TABLE` resolves to
  * (`ResolveSessionCatalog`), run directly on metadata the caller has
  * already fetched, so no SQL text is parsed or analysed per table:
  *  - datasource tables: `ShowCreateTableExec` over the `CatalogTable`,
  *    with CHAR/VARCHAR columns mapped as `getTableMetadata` maps them
  *    (`USING parquet` DDL, no metastore call);
  *  - views and Hive-SerDe tables: `ShowCreateTableCommand`, falling
  *    back to `ShowCreateTableAsSerdeCommand` (Hive-dialect DDL) for
  *    tables Spark cannot express in `USING` form, keeping every table
  *    extractable. These commands look the table up again by name.
  * The text is byte-identical to what `SHOW CREATE TABLE` returns.
  */
object DdlExtractor {

  private val output = Seq(AttributeReference("createtab_stmt", StringType)())

  /** DDL text of one table, as the lines Hive's RowSet would carry
    * (`HiveClient.java:85-89` consumes column 0 of each row).
    */
  def createTableLines(spark: SparkSession, meta: CatalogTable): Seq[String] = {
    val ddl =
      if (meta.tableType == CatalogTableType.VIEW || DDLUtils.isHiveTable(meta))
        Try(ShowCreateTableCommand(meta.identifier, output).run(spark))
          .getOrElse(ShowCreateTableAsSerdeCommand(meta.identifier, output).run(spark))
          .head.getString(0)
      else {
        val v1 = meta.copy(schema = CharVarcharUtils.replaceCharVarcharWithStringInSchema(meta.schema))
        ShowCreateTableExec(output, GraftPlanApi.resolvedV1Table(spark, v1))
          .executeCollect().head.getString(0)
      }
    ddl.linesIterator.toSeq
  }

  /** Header repair for Hive-2.3-style DDL, ported with the reference's
    * exact first-backtick-before-first-dot heuristic
    * (`ExtractHiveDDL.java:180-191`):
    * {{{ CREATE TABLE `default.test` ( → CREATE TABLE `default`.`test` ( }}}
    * Spark-emitted headers have no backticks, so they pass through
    * unchanged; the function is kept as a compatibility repair for
    * Hive-emitted text (SURVEY §2.1 #7).
    */
  def fixCreateTable(line: String): String = {
    val si = line.indexOf('`')
    val ei = line.indexOf('.')
    if (si < ei && si != -1) {
      val dbPart = line.substring(0, ei)
      val tablePart = line.substring(ei + 1)
      if (!dbPart.endsWith("`")) dbPart + "`.`" + tablePart else line
    } else line
  }

  /** Statement assembly (`ExtractHiveDDL.java:154-170`): apply the
    * header fix to a leading CREATE TABLE line, join with newlines,
    * terminate with `;`.
    */
  def assemble(lines: Seq[String]): String = {
    val fixed = lines match {
      case head +: tail if head.startsWith("CREATE TABLE") => fixCreateTable(head) +: tail
      case other => other
    }
    fixed.mkString("\n") + ";"
  }

  /** Volatile properties (Hive's last-DDL timestamp) are stripped at
    * extraction time so scripts are deterministic run-to-run — a
    * documented deviation: the reference emitted them verbatim and the
    * target Hive reset them on replay anyway.
    */
  def tableCreateSql(spark: SparkSession, meta: CatalogTable): String =
    assemble(stripVolatileProps(createTableLines(spark, meta)))

  /** [[tableCreateSql]] of a table looked up by name (one fetch). */
  def tableCreateSql(spark: SparkSession, db: String, table: String): String =
    tableCreateSql(spark, CatalogOps.getTable(spark, db, table))

  /** Drop volatile table properties (e.g. Hive's `transient_lastDdlTime`)
    * from DDL lines so extracted scripts are stable across runs — used
    * by golden-file comparison; replay does not require it.
    * Handles the whole-block case (TBLPROPERTIES left empty → block
    * removed) and trailing-paren placement.
    */
  def stripVolatileProps(lines: Seq[String], volatileKeys: Set[String] = Set("transient_lastDdlTime")): Seq[String] = {
    val start = lines.indexWhere(_.trim.startsWith("TBLPROPERTIES"))
    if (start < 0) return lines
    // block end = the line where the paren balance opened by
    // `TBLPROPERTIES (` returns to zero, counting only parens outside
    // single-quoted strings — a `)` at the end of a property VALUE must
    // not terminate the block
    val end = {
      var depth = 0
      var inQuote = false
      var found = -1
      var li = start
      while (found < 0 && li < lines.length) {
        val line = lines(li)
        var ci = 0
        while (ci < line.length) {
          line.charAt(ci) match {
            // SHOW CREATE TABLE emits embedded quotes in property
            // values as \' — an escaped quote must not flip the quote
            // state (and \\ must not escape what follows it)
            case '\\' if inQuote && ci + 1 < line.length => ci += 1
            case '\'' => inQuote = !inQuote
            case '(' if !inQuote => depth += 1
            case ')' if !inQuote => depth -= 1
            case _ =>
          }
          ci += 1
        }
        if (depth == 0 && !inQuote) found = li
        li += 1
      }
      found
    }
    if (end < 0) return lines
    val before = lines.take(start)
    val after = lines.drop(end + 1)
    val entries = (lines(start).trim.stripPrefix("TBLPROPERTIES").trim.stripPrefix("(") +:
      lines.slice(start + 1, end + 1)).map(_.trim.stripSuffix(")").trim.stripSuffix(","))
      .filter(_.nonEmpty)
    val kept = entries.filterNot(e => volatileKeys.exists(k => e.contains(s"'$k'")))
    if (kept.isEmpty) {
      // the block vanished; also drop a dangling blank line
      if (before.nonEmpty && before.last.trim.isEmpty && after.isEmpty) before.init ++ after
      else before ++ after
    } else {
      val block = "TBLPROPERTIES (" +: kept.init.map("  " + _ + ",") :+ ("  " + kept.last + ")")
      before ++ block ++ after
    }
  }
}
