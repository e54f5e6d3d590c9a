package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import DdlExtractor._

/** `fixCreateTable` + assembly semantics pinned to the reference
  * (`ExtractHiveDDL.java:154-191`). */
class DdlExtractorSpec extends AnyFunSuite {

  test("Hive-2.3 single-backtick-pair header is repaired") {
    assert(fixCreateTable("CREATE TABLE `default.test`(") ==
      "CREATE TABLE `default`.`test`(")
  }
  test("already-qualified header unchanged (dbPart ends with backtick)") {
    assert(fixCreateTable("CREATE TABLE `default`.`test`(") ==
      "CREATE TABLE `default`.`test`(")
  }
  test("no backticks → unchanged (Spark-emitted headers)") {
    assert(fixCreateTable("CREATE TABLE spark_catalog.fixdb.fruits (") ==
      "CREATE TABLE spark_catalog.fixdb.fruits (")
  }
  test("no dot → unchanged") {
    assert(fixCreateTable("CREATE TABLE `test`(") == "CREATE TABLE `test`(")
  }
  test("dot before backtick → unchanged (si < ei fails)") {
    assert(fixCreateTable("CREATE TABLE x.y `z`") == "CREATE TABLE x.y `z`")
  }

  test("assemble joins lines and terminates with ; (ExtractHiveDDL.java:165-170)") {
    assert(assemble(Seq("CREATE TABLE `db.t`(", "  a INT)")) ==
      "CREATE TABLE `db`.`t`(\n  a INT);")
  }
  test("assemble leaves non-CREATE first lines alone") {
    assert(assemble(Seq("-- x", "b")) == "-- x\nb;")
  }

  test("stripVolatileProps removes a lone transient_lastDdlTime block") {
    val lines = Seq("CREATE TABLE t (", "  a INT)", "USING parquet",
      "TBLPROPERTIES (", "  'transient_lastDdlTime' = '123')")
    assert(stripVolatileProps(lines) ==
      Seq("CREATE TABLE t (", "  a INT)", "USING parquet"))
  }
  test("stripVolatileProps keeps other properties") {
    val lines = Seq("CREATE TABLE t (", "  a INT)",
      "TBLPROPERTIES (", "  'transient_lastDdlTime' = '123',", "  'owner' = 'me')")
    assert(stripVolatileProps(lines) ==
      Seq("CREATE TABLE t (", "  a INT)", "TBLPROPERTIES (", "  'owner' = 'me')"))
  }
  test("stripVolatileProps no-op without a TBLPROPERTIES block") {
    val lines = Seq("CREATE TABLE t (", "  a INT)", "USING parquet")
    assert(stripVolatileProps(lines) == lines)
  }
  test("stripVolatileProps: a ')' ending a property VALUE is not the block end") {
    val lines = Seq("CREATE TABLE t (", "  a INT)",
      "TBLPROPERTIES (", "  'comment' = 'stats (approx)',",
      "  'transient_lastDdlTime' = '123',", "  'owner' = 'me')")
    assert(stripVolatileProps(lines) ==
      Seq("CREATE TABLE t (", "  a INT)", "TBLPROPERTIES (",
        "  'comment' = 'stats (approx)',", "  'owner' = 'me')"))
  }
  test("stripVolatileProps: \\'-escaped quotes inside values don't flip quote state") {
    // SHOW CREATE TABLE emits embedded quotes as \' — the unbalanced
    // paren and the quote inside 'it\'s (raw)' must both stay inert
    val lines = Seq("CREATE TABLE t (", "  a INT)",
      "TBLPROPERTIES (", "  'comment' = 'it\\'s (raw',",
      "  'transient_lastDdlTime' = '123',", "  'path' = 'a\\\\',",
      "  'owner' = 'me')")
    assert(stripVolatileProps(lines) ==
      Seq("CREATE TABLE t (", "  a INT)", "TBLPROPERTIES (",
        "  'comment' = 'it\\'s (raw',", "  'path' = 'a\\\\',",
        "  'owner' = 'me')"))
  }
}

class ExtractConfigSpec extends AnyFunSuite {
  test("boolEnv: unset → default (ExtractHiveDDL.java:79-83)") {
    assert(ExtractConfig.boolEnv(Map.empty, "X", default = true))
    assert(!ExtractConfig.boolEnv(Map.empty, "X", default = false))
  }
  test("boolEnv: parseBoolean semantics (only 'true' is true)") {
    assert(ExtractConfig.boolEnv(Map("X" -> "true"), "X", default = false))
    assert(ExtractConfig.boolEnv(Map("X" -> "TRUE"), "X", default = false))
    assert(!ExtractConfig.boolEnv(Map("X" -> "1"), "X", default = true))
    assert(!ExtractConfig.boolEnv(Map("X" -> "yes"), "X", default = true))
  }
  test("fromEnv defaults: MSCK + context mode") {
    assert(ExtractConfig.fromEnv(Map.empty) == ExtractConfig(useAddSql = false, useContext = true))
  }
}

class ScriptWriterSpec extends AnyFunSuite {
  private val ctx = ExtractConfig(useContext = true)
  private val qual = ExtractConfig(useContext = false)

  test("table section format, unpartitioned (ExtractHiveDDL.java:125-131)") {
    val s = ScriptWriter.tableSection("db1", "t1", "CREATE TABLE t1 (a INT);", Nil)
    assert(s ==
      "\n--------------------------------------\n" +
      "-- t1\n" +
      "--------------------------------------\n" +
      "!sh echo \"Creating table: t1...\";\n" +
      "CREATE TABLE t1 (a INT);\n")
  }
  test("table section format, partitioned (ExtractHiveDDL.java:132-135)") {
    val s = ScriptWriter.tableSection("db1", "t1", "CREATE TABLE t1 (a INT);",
      Seq("MSCK REPAIR TABLE t1;"))
    assert(s.endsWith(
      "CREATE TABLE t1 (a INT);\n\n" +
      "!sh echo \"adding partitions: db1.t1...\";\n" +
      "MSCK REPAIR TABLE t1;\n"))
  }
  test("database header: context vs qualified (ExtractHiveDDL.java:101-105)") {
    assert(ScriptWriter.databaseHeader("db1", ctx) ==
      "CREATE DATABASE IF NOT EXISTS db1;\nUSE db1;\n\n")
    assert(ScriptWriter.databaseHeader("db1", qual) ==
      "CREATE DATABASE IF NOT EXISTS db1;\n")
  }
}

class ScriptReplaySpec extends AnyFunSuite {
  test("statements: skips comments and !sh lines, splits on ; at EOL") {
    val script =
      """CREATE DATABASE IF NOT EXISTS db1;
        |USE db1;
        |
        |--------------------------------------
        |-- t1
        |--------------------------------------
        |!sh echo "Creating table: t1...";
        |CREATE TABLE t1 (
        |  a INT)
        |USING parquet;
        |
        |MSCK REPAIR TABLE t1;
        |""".stripMargin
    assert(ScriptReplay.statements(script) == Seq(
      "CREATE DATABASE IF NOT EXISTS db1",
      "USE db1",
      "CREATE TABLE t1 (\n  a INT)\nUSING parquet",
      "MSCK REPAIR TABLE t1"))
  }

  test("statements: quoted `;` at EOL and quoted `--` lines stay in their statement") {
    val script =
      """CREATE TABLE t1 (`a;` INT COMMENT 'x;
        |-- y', b STRING COMMENT "it\"s;
        |!z") COMMENT 'it\'s;
        |';
        |-- t2
        |USE db1;
        |""".stripMargin
    assert(ScriptReplay.statements(script) == Seq(
      "CREATE TABLE t1 (`a;` INT COMMENT 'x;\n-- y', b STRING COMMENT \"it\\\"s;\n!z\") " +
        "COMMENT 'it\\'s;\n'",
      "USE db1"))
  }
}
