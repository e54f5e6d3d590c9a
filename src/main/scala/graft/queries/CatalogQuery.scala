package graft.queries

import graft.catalog.{DdlExtract, ExtractConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The catalog-extraction pipeline (the reference tool's entire
  * surface, SURVEY §2.1) as a driver-checkable declared query: build a
  * small deterministic fixture catalog, run the full extract
  * (DDL lookup → header fix → partition-restore decision → ordered
  * script assembly), and emit the script as numbered lines. The
  * fixture exercises all three restore outcomes: an unpartitioned
  * table, a lowercase-partition table (MSCK path), and an
  * uppercase-partition table (qualified-ADD path).
  *
  * The oracle is the expected script verbatim (a VALUES table): the
  * extraction output format is already pinned by the golden-file
  * suite; this row pins it through the driver's compare too. Location
  * paths are masked to `$DATA` exactly like the golden files, so the
  * output is independent of the working directory.
  */
object CatalogQuery {

  def q58(spark: SparkSession, sfDir: String): DataFrame = {
    val dataDir = new java.io.File("target/graft_q58_data").getAbsolutePath
    spark.sql("DROP DATABASE IF EXISTS graft_cat CASCADE")
    spark.sql("CREATE DATABASE graft_cat")
    spark.sql(
      s"""CREATE TABLE graft_cat.fruits (name STRING, price DOUBLE)
         |USING parquet LOCATION '$dataDir/fruits'""".stripMargin)
    spark.sql(
      s"""CREATE TABLE graft_cat.sales (amount DOUBLE, year STRING)
         |USING parquet PARTITIONED BY (year) LOCATION '$dataDir/sales'""".stripMargin)
    spark.sql("ALTER TABLE graft_cat.sales ADD PARTITION (year='2024')")
    spark.sql("ALTER TABLE graft_cat.sales ADD PARTITION (year='2025')")
    spark.sql(
      s"""CREATE TABLE graft_cat.upper_part (v DOUBLE, k STRING)
         |USING parquet PARTITIONED BY (k) LOCATION '$dataDir/upper_part'""".stripMargin)
    spark.sql("ALTER TABLE graft_cat.upper_part ADD PARTITION (k='Beta')")

    val cfg = ExtractConfig(useAddSql = false, useContext = true)
    val script = DdlExtract.extract(spark, "graft_cat", "*", cfg).script
      .replace(s"file:$dataDir", "file:$DATA")
      .replace(dataDir, "$DATA")
    import spark.implicits._
    script.linesIterator.zipWithIndex
      .map { case (l, i) => (i + 1, l) }.toSeq.toDF("line_no", "line")
  }

  /** Expected script, one VALUES row per line — kept in lockstep with
    * the golden-file format (`CatalogExtractSuite`).
    */
  def q58Sql: String = {
    val expected = expectedLines.zipWithIndex
      .map { case (l, i) => s"(${i + 1}, '${l.replace("'", "''")}')" }
      .mkString(",\n  ")
    s"""SELECT * FROM (VALUES
       |  $expected) AS t(line_no, line)
       |ORDER BY line_no""".stripMargin
  }

  private val banner = "--------------------------------------"

  private def expectedLines: Seq[String] = Seq(
    "CREATE DATABASE IF NOT EXISTS graft_cat;",
    "USE graft_cat;",
    "",
    "",
    banner,
    "-- fruits",
    banner,
    "!sh echo \"Creating table: fruits...\";",
    "CREATE TABLE spark_catalog.graft_cat.fruits (",
    "  name STRING,",
    "  price DOUBLE)",
    "USING parquet",
    "LOCATION 'file:$DATA/fruits';",
    "",
    banner,
    "-- sales",
    banner,
    "!sh echo \"Creating table: sales...\";",
    "CREATE TABLE spark_catalog.graft_cat.sales (",
    "  amount DOUBLE,",
    "  year STRING)",
    "USING parquet",
    "PARTITIONED BY (year)",
    "LOCATION 'file:$DATA/sales';",
    "",
    "!sh echo \"adding partitions: graft_cat.sales...\";",
    "MSCK REPAIR TABLE sales;",
    "",
    banner,
    "-- upper_part",
    banner,
    "!sh echo \"Creating table: upper_part...\";",
    "CREATE TABLE spark_catalog.graft_cat.upper_part (",
    "  v DOUBLE,",
    "  k STRING)",
    "USING parquet",
    "PARTITIONED BY (k)",
    "LOCATION 'file:$DATA/upper_part';",
    "",
    "!sh echo \"adding partitions: graft_cat.upper_part...\";",
    "ALTER TABLE upper_part ADD PARTITION (k='Beta') LOCATION \"k=Beta\";"
  )

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q58_catalog_extract", q58 _, Some(q58Sql))
  )
}
