package graft.catalog

import graft.TestSpark
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Catalog layer at volume: the reference's operating envelope was
  * whole databases (its partition cap alone was 32767) — this suite
  * drives extraction across many tables and a many-partition table and
  * checks completeness, ordering and the lifted partition cap.
  */
class CatalogScaleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.hive

  test("extraction sweeps many tables completely and in order") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS scaledb")
    val names = (0 until 30).map(i => f"t$i%03d")
    names.foreach { t =>
      s.sql(s"CREATE TABLE IF NOT EXISTS scaledb.$t (a INT, b STRING) USING parquet")
    }
    def hiveCalls = HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS.getCount
    val before = hiveCalls
    val result = DdlExtract.extract(s, "scaledb", "*", ExtractConfig())
    val calls = hiveCalls - before
    assert(result.tableCount == 30 && result.errorCount == 0)
    // listing plus one bulk fetch per database: no per-table round trip
    assert(calls < 30, s"$calls Hive client calls for 30 tables")
    // every table got a complete section, emitted in sorted order
    val positions = names.map(t => result.script.indexOf(s"-- $t\n"))
    assert(positions.forall(_ >= 0))
    assert(positions == positions.sorted)
    assert("CREATE TABLE".r.findAllIn(result.script).size == 30)
  }

  test("many-partition table: full ADD-mode listing, sorted, uncapped shape") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS scaledb")
    s.sql("DROP TABLE IF EXISTS scaledb.wide_part")
    s.sql("""CREATE TABLE scaledb.wide_part (v INT, k STRING)
            |USING parquet PARTITIONED BY (k)""".stripMargin)
    val specs = (0 until 200).map(i => f"PARTITION (k='p$i%04d')")
    // batch ADDs to bound metastore round trips
    specs.grouped(50).foreach { batch =>
      s.sql(s"ALTER TABLE scaledb.wide_part ADD IF NOT EXISTS ${batch.mkString(" ")}")
    }
    val lines = PartitionRestore.restoreLines(s, "scaledb", "wide_part",
      ExtractConfig(useAddSql = true))
    assert(lines.size == 200)
    assert(lines == lines.sorted) // deterministic order
    assert(lines.head.contains("(k='p0000')") && lines.last.contains("(k='p0199')"))
    // MSCK mode stays a single statement no matter the partition count
    assert(PartitionRestore.restoreLines(s, "scaledb", "wide_part",
      ExtractConfig(useAddSql = false)) == Seq("MSCK REPAIR TABLE wide_part;"))
  }
}
