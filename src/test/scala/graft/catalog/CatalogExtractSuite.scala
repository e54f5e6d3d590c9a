package graft.catalog

import graft.TestSpark
import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** End-to-end catalog layer against an embedded-Derby Hive metastore:
  * the FIXTURES.md §B fixtures, all flag combinations, and round-trip
  * replay. Fixture → reference behavior mapping is documented per test.
  */
class CatalogExtractSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.hive
  private lazy val dataDir = s"${TestSpark.baseDir}/fixdata"

  private val ctx = ExtractConfig(useAddSql = false, useContext = true)
  private val ctxAdd = ExtractConfig(useAddSql = true, useContext = true)
  private val qual = ExtractConfig(useAddSql = false, useContext = false)
  private val qualAdd = ExtractConfig(useAddSql = true, useContext = false)

  override def beforeAll(): Unit = {
    val s = spark
    import s.implicits._

    s.sql("CREATE DATABASE IF NOT EXISTS fixdb")
    s.sql("CREATE DATABASE IF NOT EXISTS fixdb2")

    // fixdb.fruits — unpartitioned (README.md:24-25 example 1)
    Seq(("apple", "red", 1.0), ("banana", "yellow", 0.5), ("plum", "purple", 2.0))
      .toDF("name", "color", "price").write.mode("overwrite")
      .parquet(s"$dataDir/fruits")
    s.sql(s"""CREATE TABLE fixdb.fruits (name STRING, color STRING, price DOUBLE)
             |USING parquet LOCATION '$dataDir/fruits'""".stripMargin)

    // fixdb.sales_part — 3 lowercase partitions (MSCK default path)
    s.sql(s"""CREATE TABLE fixdb.sales_part (amount DOUBLE, year STRING, month STRING)
             |USING parquet PARTITIONED BY (year, month)
             |LOCATION '$dataDir/sales_part'""".stripMargin)
    s.sql("INSERT INTO fixdb.sales_part PARTITION (year='2024', month='01') VALUES (1.5)")
    s.sql("INSERT INTO fixdb.sales_part PARTITION (year='2024', month='02') VALUES (2.5)")
    s.sql("INSERT INTO fixdb.sales_part PARTITION (year='2025', month='01') VALUES (3.5)")

    // fixdb.defaults_part — has a __HIVE_DEFAULT_PARTITION__ (forced MSCK)
    s.sql(s"""CREATE TABLE fixdb.defaults_part (v DOUBLE, k STRING)
             |USING parquet PARTITIONED BY (k)
             |LOCATION '$dataDir/defaults_part'""".stripMargin)
    s.sql("ALTER TABLE fixdb.defaults_part ADD PARTITION (k='a')")
    s.sql("ALTER TABLE fixdb.defaults_part ADD PARTITION (k='__HIVE_DEFAULT_PARTITION__')")

    // fixdb.upper_part — uppercase chars in a partition path (forced ADD)
    s.sql(s"""CREATE TABLE fixdb.upper_part (v DOUBLE, k STRING)
             |USING parquet PARTITIONED BY (k)
             |LOCATION '$dataDir/upper_part'""".stripMargin)
    s.sql("INSERT INTO fixdb.upper_part PARTITION (k='alpha') VALUES (1.0)")
    s.sql("INSERT INTO fixdb.upper_part PARTITION (k='Beta') VALUES (2.0)")

    // fixdb.conflict_part — default partition AND uppercase path (error)
    s.sql(s"""CREATE TABLE fixdb.conflict_part (v DOUBLE, k STRING)
             |USING parquet PARTITIONED BY (k)
             |LOCATION '$dataDir/conflict_part'""".stripMargin)
    s.sql("ALTER TABLE fixdb.conflict_part ADD PARTITION (k='__HIVE_DEFAULT_PARTITION__')")
    s.sql("ALTER TABLE fixdb.conflict_part ADD PARTITION (k='Upper')")

    // fixdb2.extra — second database for pattern tests
    s.sql(s"""CREATE TABLE fixdb2.extra (x INT) USING parquet
             |LOCATION '$dataDir/extra'""".stripMargin)
    Seq(1, 2).toDF("x").write.mode("overwrite").parquet(s"$dataDir/extra")

    // fixdb2.bucketed_hive — Hive bucketing converts to Spark DDL
    s.sql("""CREATE TABLE fixdb2.bucketed_hive (a INT, b STRING)
            |CLUSTERED BY (a) INTO 4 BUCKETS STORED AS ORC""".stripMargin)

    // fixdb2.csv_serde_hive — custom SerDe that Spark DDL cannot
    // express → plain SHOW CREATE TABLE errors → AS SERDE fallback
    s.sql("""CREATE TABLE fixdb2.csv_serde_hive (a STRING, b STRING)
            |ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.OpenCSVSerde'
            |STORED AS TEXTFILE""".stripMargin)

    // ddleq — one table per DDL shape, compared against SHOW CREATE TABLE
    s.sql("CREATE DATABASE IF NOT EXISTS ddleq")
    s.sql("CREATE TABLE ddleq.ds_chars (c CHAR(5), v VARCHAR(10), s STRING) USING parquet")
    s.sql("CREATE TABLE ddleq.hive_chars (c CHAR(5), v VARCHAR(10), s STRING) STORED AS ORC")
    s.sql("""CREATE TABLE ddleq.commented (a INT COMMENT 'the key', b STRING)
            |USING parquet OPTIONS ('compression' = 'snappy')
            |COMMENT 'a commented table'
            |TBLPROPERTIES ('owner.team' = 'etl', 'quality' = 'gold')""".stripMargin)
    s.sql("""CREATE TABLE ddleq.bucketed_sorted (a INT, b STRING) USING parquet
            |CLUSTERED BY (a) SORTED BY (b) INTO 8 BUCKETS""".stripMargin)
    s.sql("""CREATE TABLE ddleq.hive_orc_part (a INT, b STRING)
            |PARTITIONED BY (p STRING) STORED AS ORC""".stripMargin)
    s.sql("ALTER TABLE ddleq.hive_orc_part ADD PARTITION (p='x')")
    s.sql("""CREATE TABLE ddleq.csv_serde (a STRING, b STRING)
            |ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.OpenCSVSerde'
            |STORED AS TEXTFILE""".stripMargin)
    s.sql("CREATE TABLE ddleq.with_default (a INT, b INT DEFAULT 42) USING parquet")
    s.sql("CREATE VIEW ddleq.a_view AS SELECT a, b FROM ddleq.commented WHERE a > 0")
  }

  // --- catalog sources (§2.1 #1, #2) -----------------------------------
  test("database pattern enumeration: glob and alternation") {
    assert(CatalogOps.listDatabases(spark, "fixdb") == Seq("fixdb"))
    assert(CatalogOps.listDatabases(spark, "fix*") == Seq("fixdb", "fixdb2"))
    assert(CatalogOps.listDatabases(spark, "fixdb|fixdb2") == Seq("fixdb", "fixdb2"))
    assert(CatalogOps.listDatabases(spark, "nosuchdb*").isEmpty)
  }

  test("table pattern enumeration; error → empty (ExtractHiveDDL.java:141-149)") {
    assert(CatalogOps.listTables(spark, "fixdb", "fru*") == Seq("fruits"))
    assert(CatalogOps.listTables(spark, "fixdb", "*").size == 5)
    assert(CatalogOps.listTables(spark, "no_such_db", "*").isEmpty)
  }

  test("count pre-pass (§2.1 #3)") {
    assert(CatalogOps.countTables(spark, Seq("fixdb", "fixdb2"), "*") == 8)
  }

  test("Hive-bucketed table converts to Spark bucketed DDL (§2.1 #6)") {
    val sql = DdlExtractor.tableCreateSql(spark, "fixdb2", "bucketed_hive")
    assert(sql.contains("CLUSTERED BY"))
    assert(sql.contains("INTO 4 BUCKETS"))
    assert(sql.endsWith(";"))
    assert(!sql.contains("transient_lastDdlTime"))
  }

  test("custom-SerDe table falls back to AS SERDE Hive DDL (§2.1 #6)") {
    val sql = DdlExtractor.tableCreateSql(spark, "fixdb2", "csv_serde_hive")
    assert(sql.contains("ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.OpenCSVSerde'"))
    assert(sql.endsWith(";"))
  }

  // --- DDL lookup (§2.1 #6-#8) -----------------------------------------
  test("tableCreateSql: CREATE statement with schema, LOCATION, terminator") {
    val sql = DdlExtractor.tableCreateSql(spark, "fixdb", "fruits")
    assert(sql.startsWith("CREATE TABLE"))
    assert(sql.contains("fruits"))
    assert(sql.contains("name STRING"))
    assert(sql.contains(s"LOCATION 'file:$dataDir/fruits'"))
    assert(sql.endsWith(";"))
    assert(!sql.contains("transient_lastDdlTime"))
    // names resolve case-insensitively, as they do in SQL
    assert(DdlExtractor.tableCreateSql(spark, "fixdb", "Fruits") == sql)
  }

  test("DDL from fetched metadata is byte-identical to SHOW CREATE TABLE") {
    // the SQL round trip the extractor replaced, AS SERDE fallback included
    def viaSql(t: String): String = {
      val q = s"`ddleq`.`$t`"
      val ddl = Try(spark.sql(s"SHOW CREATE TABLE $q").head().getString(0))
        .getOrElse(spark.sql(s"SHOW CREATE TABLE $q AS SERDE").head().getString(0))
      DdlExtractor.assemble(DdlExtractor.stripVolatileProps(ddl.linesIterator.toSeq))
    }
    val names = Seq("ds_chars", "hive_chars", "commented", "bucketed_sorted",
      "hive_orc_part", "csv_serde", "with_default", "a_view")
    assert(CatalogOps.listTables(spark, "ddleq", "*") == names.sorted)
    val metas = CatalogOps.getTables(spark, "ddleq", names)
    for ((t, meta) <- names.zip(metas)) {
      val expected = viaSql(t)
      assert(DdlExtractor.tableCreateSql(spark, meta.get) == expected, s"bulk-fetched DDL of $t")
      assert(DdlExtractor.tableCreateSql(spark, "ddleq", t) == expected, s"name-based DDL of $t")
    }
    // the fixtures reach the shapes they are named for
    assert(viaSql("ds_chars").contains("c CHAR(5)") && viaSql("ds_chars").contains("v VARCHAR(10)"))
    assert(viaSql("csv_serde").contains("ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.OpenCSVSerde'"))
    assert(viaSql("with_default").contains("DEFAULT 42"))
    assert(viaSql("bucketed_sorted").contains("SORTED BY"))
    assert(viaSql("a_view").startsWith("CREATE VIEW"))
  }

  test("table dropped between listing and fetch → error section, others extract") {
    spark.sql("CREATE DATABASE IF NOT EXISTS dropdb")
    Seq("a_keep", "b_doomed", "c_keep").foreach { t =>
      spark.sql(s"CREATE TABLE IF NOT EXISTS dropdb.$t (x INT) USING parquet")
    }
    val listed = CatalogOps.listTables(spark, "dropdb", "*")
    spark.sql("DROP TABLE dropdb.b_doomed")
    val sections = DdlExtract.databaseSections(spark, "dropdb", listed, ctx)
    assert(sections.map(_._2.table) == Seq("a_keep", "b_doomed", "c_keep"))
    assert(sections.map(_._2.error.nonEmpty) == Seq(false, true, false))
    assert(sections(1)._1.startsWith("\n-- ERROR extracting dropdb.b_doomed: "))
    assert(sections(0)._1.contains("-- a_keep\n") && sections(2)._1.contains("-- c_keep\n"))
    // a database dropped mid-run fails each of its tables, not the run
    spark.sql("DROP DATABASE dropdb CASCADE")
    val gone = DdlExtract.databaseSections(spark, "dropdb", listed, ctx)
    assert(gone.size == 3 && gone.forall(_._2.error.nonEmpty))
  }

  // --- partition restore (§2.1 #9-#13) ---------------------------------
  test("unpartitioned table → no restore lines (ExtractHiveDDL.java:200-203)") {
    assert(PartitionRestore.restoreLines(spark, "fixdb", "fruits", ctx).isEmpty)
  }

  test("default flags → MSCK, context naming") {
    assert(PartitionRestore.restoreLines(spark, "fixdb", "sales_part", ctx) ==
      Seq("MSCK REPAIR TABLE sales_part;"))
  }

  test("USE_ADD_SQL → sorted ADD PARTITION lines with relative locations") {
    val lines = PartitionRestore.restoreLines(spark, "fixdb", "sales_part", ctxAdd)
    assert(lines == Seq(
      "ALTER TABLE sales_part ADD PARTITION (year='2024',month='01') LOCATION \"year=2024/month=01\";",
      "ALTER TABLE sales_part ADD PARTITION (year='2024',month='02') LOCATION \"year=2024/month=02\";",
      "ALTER TABLE sales_part ADD PARTITION (year='2025',month='01') LOCATION \"year=2025/month=01\";"))
  }

  test("USE_CONTEXT=false → qualified names, absolute locations") {
    assert(PartitionRestore.restoreLines(spark, "fixdb", "sales_part", qual) ==
      Seq("MSCK REPAIR TABLE fixdb.sales_part;"))
    val addLines = PartitionRestore.restoreLines(spark, "fixdb", "sales_part", qualAdd)
    assert(addLines.head ==
      s"""ALTER TABLE fixdb.sales_part ADD PARTITION (year='2024',month='01') LOCATION "file:$dataDir/sales_part/year=2024/month=01";""")
  }

  test("default partition forces MSCK even under USE_ADD_SQL (README.md:39-41)") {
    assert(PartitionRestore.restoreLines(spark, "fixdb", "defaults_part", ctxAdd) ==
      Seq("MSCK REPAIR TABLE defaults_part;"))
  }

  test("uppercase path forces ADD PARTITION even under MSCK default (README.md:43-45)") {
    val lines = PartitionRestore.restoreLines(spark, "fixdb", "upper_part", ctx)
    assert(lines == Seq(
      "ALTER TABLE upper_part ADD PARTITION (k='Beta') LOCATION \"k=Beta\";",
      "ALTER TABLE upper_part ADD PARTITION (k='alpha') LOCATION \"k=alpha\";"))
  }

  test("both edge cases → error (README.md:47-49)") {
    intercept[PartitionRestore.PartitionConflictException] {
      PartitionRestore.restoreLines(spark, "fixdb", "conflict_part", ctx)
    }
  }

  // --- full pipeline (§3.1) --------------------------------------------
  test("extract: script structure, section order, error surfacing") {
    val result = DdlExtract.extract(spark, "fix*", "*", ctx)
    val script = result.script
    assert(result.databases == Seq("fixdb", "fixdb2"))
    assert(result.tableCount == 8)
    assert(result.errorCount == 1) // conflict_part
    assert(script.contains("CREATE DATABASE IF NOT EXISTS fixdb;\nUSE fixdb;\n"))
    assert(script.contains("CREATE DATABASE IF NOT EXISTS fixdb2;\nUSE fixdb2;\n"))
    assert(script.contains("-- conflict_part") == false) // errored: no banner section
    assert(script.contains("-- ERROR extracting fixdb.conflict_part"))
    assert(script.contains("!sh echo \"Creating table: fruits...\";"))
    assert(script.contains("!sh echo \"adding partitions: fixdb.sales_part...\";"))
    // table sections sorted by name within each database
    val idx = Seq("defaults_part", "fruits", "sales_part", "upper_part")
      .map(t => script.indexOf(s"-- $t\n"))
    assert(idx == idx.sorted && idx.forall(_ >= 0))
  }

  test("extract honors table pattern") {
    val result = DdlExtract.extract(spark, "fixdb", "fru*|sales*", ctx)
    assert(result.reports.map(_.table).sorted == Seq("fruits", "sales_part"))
  }

  // --- golden file (SURVEY §5.2 #6: format stability) -------------------
  test("golden: context-mode script matches the committed golden file") {
    val script = DdlExtract.extract(spark, "fixdb", "*", ctx).script
    val normalized = script
      .replace(s"file:$dataDir", "file:$DATA")
      .replace(dataDir, "$DATA")
    val goldenPath = java.nio.file.Paths.get("src/test/resources/golden/fixdb_context.sql")
    if (sys.env.contains("GRAFT_REGEN_GOLDEN")) {
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.writeString(goldenPath, normalized)
    }
    val golden = java.nio.file.Files.readString(goldenPath)
    assert(normalized == golden,
      "extracted script drifted from golden (GRAFT_REGEN_GOLDEN=1 to regenerate)")
  }

  test("golden: qualified/ADD-mode script matches its golden file") {
    val script = DdlExtract.extract(spark, "fixdb", "sales_part|upper_part", qualAdd).script
    val normalized = script
      .replace(s"file:$dataDir", "file:$DATA")
      .replace(dataDir, "$DATA")
    val goldenPath = java.nio.file.Paths.get("src/test/resources/golden/fixdb_qualified_add.sql")
    if (sys.env.contains("GRAFT_REGEN_GOLDEN")) {
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.writeString(goldenPath, normalized)
    }
    val golden = java.nio.file.Files.readString(goldenPath)
    assert(normalized == golden,
      "extracted script drifted from golden (GRAFT_REGEN_GOLDEN=1 to regenerate)")
  }

  // --- round-trip replay (SURVEY §5.2 #5: the strongest check) ----------
  test("round-trip: extract → rename db → replay → catalogs match") {
    val pattern = "fruits|sales_part|defaults_part|upper_part"
    val script = DdlExtract.extract(spark, "fixdb", pattern, ctx).script
    val renamed = script.replace("fixdb", "rtdb")
    spark.sql("DROP DATABASE IF EXISTS rtdb CASCADE")
    ScriptReplay.replay(spark, renamed)

    for (t <- Seq("fruits", "sales_part", "defaults_part", "upper_part")) {
      val orig = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(t, Some("fixdb")))
      val replayed = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(t, Some("rtdb")))
      assert(replayed.schema == orig.schema, s"schema mismatch for $t")
      assert(replayed.partitionColumnNames == orig.partitionColumnNames)

      if (orig.partitionColumnNames.nonEmpty) {
        val origParts = spark.sessionState.catalog
          .listPartitions(TableIdentifier(t, Some("fixdb"))).map(_.spec).sortBy(_.toString)
        val replayedParts = spark.sessionState.catalog
          .listPartitions(TableIdentifier(t, Some("rtdb"))).map(_.spec).sortBy(_.toString)
        assert(replayedParts == origParts, s"partition specs mismatch for $t")
      }
    }
    // data visible through the replayed tables (same external locations)
    assert(spark.table("rtdb.fruits").count() == 3)
    assert(spark.table("rtdb.sales_part").count() == 3)
  }

  test("round-trip in fully-qualified mode (USE_CONTEXT=false)") {
    val script = DdlExtract.extract(spark, "fixdb", "fruits|upper_part", qualAdd).script
    assert(!script.contains("USE fixdb"))
    val renamed = script.replace("fixdb", "rtdb2")
    spark.sql("DROP DATABASE IF EXISTS rtdb2 CASCADE")
    ScriptReplay.replay(spark, renamed)
    assert(spark.table("rtdb2.fruits").count() == 3)
    val parts = spark.sessionState.catalog
      .listPartitions(TableIdentifier("upper_part", Some("rtdb2"))).map(_.spec)
    assert(parts.map(_("k")).sorted == Seq("Beta", "alpha"))
  }
}
