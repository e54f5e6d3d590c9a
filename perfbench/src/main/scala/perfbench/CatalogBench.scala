package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.catalog._
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class TableSpec(name: String, columns: Seq[(String, String)], format: String,
                           partitionColumns: Seq[String], partitions: Seq[Seq[String]],
                           restore: String)

final case class DbSpec(name: String, tables: Seq[TableSpec])

/** The `catalog` and `catalog.replay` layers: builds the synthetic
  * metastore described by a generated spec, then times
  * `DdlExtract.extractToFile` (workload `catalog_extract`); a traced run
  * also replays the extracted script into databases that do not exist
  * yet. */
object CatalogBench {
  val DbPattern = "pb_*"

  def readSpec(path: String): Seq[DbSpec] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    root.get("databases").elements().asScala.map { d =>
      DbSpec(d.get("name").asText, d.get("tables").elements().asScala.map { t =>
        TableSpec(t.get("name").asText,
          t.get("columns").elements().asScala.map(c => (c.get(0).asText, c.get(1).asText)).toSeq,
          t.get("format").asText, strings(t.get("partition_columns")),
          t.get("partitions").elements().asScala.map(strings).toSeq, t.get("restore").asText)
      }.toSeq)
    }.toSeq
  }

  /** Creates every database, table and partition of the spec. Tables are
    * external (explicit LOCATION), so dropping them keeps their directories. */
  def build(spark: SparkSession, spec: Seq[DbSpec], dataRoot: String): Unit =
    for (db <- spec) {
      spark.sql(s"CREATE DATABASE `${db.name}`")
      for (t <- db.tables) {
        val cols = (t.columns ++ t.partitionColumns.map(_ -> "STRING"))
          .map { case (n, ty) => s"`$n` $ty" }.mkString(", ")
        val loc = s"$dataRoot/${db.name}/${t.name}"
        val storage =
          if (t.format == "hive") "STORED AS ORC"
          else "USING parquet" +
            (if (t.partitionColumns.isEmpty) "" else t.partitionColumns.mkString(" PARTITIONED BY (", ", ", ")"))
        spark.sql(s"CREATE TABLE `${db.name}`.`${t.name}` ($cols) $storage LOCATION '$loc'")
        t.partitions.grouped(100).foreach { batch =>
          val specs = batch.map(vals => t.partitionColumns.zip(vals)
            .map { case (c, v) => s"$c='$v'" }.mkString("PARTITION (", ", ", ")"))
          spark.sql(s"ALTER TABLE `${db.name}`.`${t.name}` ADD IF NOT EXISTS ${specs.mkString(" ")}")
        }
      }
    }

  def dropAll(spark: SparkSession, spec: Seq[DbSpec]): Unit =
    spec.foreach(db => spark.sql(s"DROP DATABASE IF EXISTS `${db.name}` CASCADE"))

  /** Per table: schema, partition columns and sorted partition specs. */
  def snapshot(spark: SparkSession, spec: Seq[DbSpec]): Map[String, String] = {
    val cat = spark.sessionState.catalog
    (for (db <- spec; t <- db.tables) yield {
      val id = TableIdentifier(t.name, Some(db.name))
      val meta = cat.getTableMetadata(id)
      val parts =
        if (meta.partitionColumnNames.isEmpty) Seq.empty
        else cat.listPartitions(id).map(_.spec.toSeq.sorted.mkString(",")).sorted
      s"${db.name}.${t.name}" ->
        s"${meta.schema.catalogString} | ${meta.partitionColumnNames.mkString(",")} | ${parts.mkString(";")}"
    }).toMap
  }

  /** Output checks of one extracted script; each failed check is one message. */
  def scriptChecks(spec: Seq[DbSpec], result: DdlExtract.ExtractResult, script: String): Seq[String] = {
    val tables = spec.flatMap(_.tables)
    val lines = script.linesIterator.toSeq
    val banners = lines.count(_.startsWith("!sh echo \"Creating table: "))
    val missing = for (db <- spec; t <- db.tables
                       if !script.contains(s"\n-- ${t.name}\n")) yield s"${db.name}.${t.name}"
    val wantAdd = tables.filter(_.restore == "add").map(_.partitions.size).sum
    val wantMsck = tables.count(t => t.restore == "msck" || t.restore == "plain")
    val add = lines.count(_.startsWith("ALTER TABLE "))
    val msck = lines.count(_.startsWith("MSCK REPAIR TABLE "))
    Seq(
      (banners == tables.size && missing.isEmpty) ->
        s"sections: $banners for ${tables.size} tables, missing ${missing.take(3).mkString(",")}",
      (add == wantAdd) -> s"ADD PARTITION lines: $add, expected $wantAdd",
      (msck == wantMsck) -> s"MSCK lines: $msck, expected $wantMsck",
      (result.errorCount == 0 && result.tableCount == tables.size) ->
        s"table reports: ${result.tableCount} with ${result.errorCount} errors",
    ).collect { case (false, msg) => msg }
  }

  private def hiveCalls: Long = HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS.getCount
  private def partitionsFetched: Long = HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED.getCount

  /** Statement kind for the replay layer's per-kind metrics. */
  def kindOf(stmt: String): String = {
    val s = stmt.toUpperCase
    if (s.startsWith("CREATE DATABASE")) "create_db"
    else if (s.startsWith("CREATE TABLE")) "create_table"
    else if (s.startsWith("ALTER TABLE") && s.contains(" ADD PARTITION")) "add_partition"
    else if (s.startsWith("MSCK")) "msck"
    else "other"
  }

  val ReplayKinds: Seq[String] = Seq("create_db", "create_table", "add_partition", "msck")

  /** The replay layer, one statement at a time: parse time, statement
    * count and per-kind time, latency percentiles and Hive client calls.
    * Expects the spec's databases to be absent. */
  def tracedReplay(spark: SparkSession, script: String, tracer: Tracer): Map[String, Double] = {
    val (stmts, parseS) = Stats.timed(tracer.span("catalog.replay.parse")(ScriptReplay.statements(script)))
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val calls = mutable.Map.empty[String, Long].withDefaultValue(0L)
    tracer.span("catalog.replay") {
      stmts.foreach { s =>
        val kind = kindOf(s)
        val h0 = hiveCalls
        val (_, dt) = Stats.timed(tracer.span(s"catalog.replay.$kind")(spark.sql(s).collect()))
        times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
        calls(kind) += hiveCalls - h0
      }
    }
    val perKind = ReplayKinds.flatMap { k =>
      val ts = times.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq
      Seq(s"catalog.replay.${k}_s" -> ts.sum,
        s"catalog.replay.${k}_p50_ms" -> Stats.percentile(ts, 0.5) * 1000,
        s"catalog.replay.${k}_p99_ms" -> Stats.percentile(ts, 0.99) * 1000,
        s"catalog.replay.${k}_hive_calls" -> calls(k).toDouble)
    }
    (perKind ++ Seq(
      "catalog.replay.parse_s" -> parseS,
      "catalog.replay.statements" -> stmts.size.toDouble)).toMap
  }

  /** The extractor's layers called one at a time, serially, from here:
    * listing, per-table DDL, per-table restore planning and the script
    * write; plus the Hive counters of one full extract. */
  def tracedLayers(spark: SparkSession, script: String, out: String, tracer: Tracer,
                   extractS: Double): Map[String, Double] = {
    val cfg = ExtractConfig()
    val h0 = hiveCalls
    val p0 = partitionsFetched
    val result = DdlExtract.extractToFile(spark, DbPattern, "*", Paths.get(out), cfg)
    val extractCalls = hiveCalls - h0
    val extractParts = partitionsFetched - p0
    val tables = tracer.span("catalog.list") {
      CatalogOps.listDatabases(spark, DbPattern)
        .flatMap(db => CatalogOps.listTables(spark, db, "*").map(db -> _))
    }
    val ddl = tables.map { case (db, t) =>
      Stats.timed(tracer.span("catalog.ddl")(DdlExtractor.tableCreateSql(spark, db, t)))._2
    }
    val restore = tables.map { case (db, t) =>
      Stats.timed(tracer.span("catalog.restore")(PartitionRestore.restoreLines(spark, db, t, cfg)))._2
    }
    tracer.span("catalog.write")(ScriptWriter.write(Paths.get(out), script))
    val self = tracer.selfSeconds
    val serial = Seq("catalog.list", "catalog.ddl", "catalog.restore", "catalog.write")
      .map(self.getOrElse(_, 0.0)).sum
    val lines = script.linesIterator.toSeq
    Map(
      "catalog.extract_s" -> extractS,
      "catalog.list_s" -> self.getOrElse("catalog.list", 0.0),
      "catalog.ddl_s" -> ddl.sum,
      "catalog.ddl_p50_ms" -> Stats.percentile(ddl, 0.5) * 1000,
      "catalog.ddl_p99_ms" -> Stats.percentile(ddl, 0.99) * 1000,
      "catalog.restore_s" -> restore.sum,
      "catalog.restore_p50_ms" -> Stats.percentile(restore, 0.5) * 1000,
      "catalog.restore_p99_ms" -> Stats.percentile(restore, 0.99) * 1000,
      "catalog.write_s" -> self.getOrElse("catalog.write", 0.0),
      "catalog.hive_calls" -> extractCalls.toDouble,
      "catalog.partitions_fetched" -> extractParts.toDouble,
      "catalog.fanout_gain" -> (if (extractS > 0) serial / extractS else 0.0),
      "catalog.script_bytes" -> script.getBytes("UTF-8").length.toDouble,
      "catalog.add_lines" -> lines.count(_.startsWith("ALTER TABLE ")).toDouble,
      "catalog.msck_lines" -> lines.count(_.startsWith("MSCK REPAIR TABLE ")).toDouble,
      "catalog.table_errors" -> result.errorCount.toDouble)
  }

  /** Workload `catalog_extract`: one operation is one
    * `DdlExtract.extractToFile` with the default config. */
  def extractRun(spark: SparkSession, spec: Seq[DbSpec], dataRoot: String, work: String,
                 seconds: Double, tracer: Tracer, res: RunResult): Unit = {
    res.setup("build_s")(build(spark, spec, dataRoot))
    val out = s"$work/extract.sql"
    var first: Array[Byte] = null
    def extractOnce(): Timing = {
      res.attempted += 1
      val (r, t) = Timing.of(DdlExtract.extractToFile(spark, DbPattern, "*", Paths.get(out), ExtractConfig()))
      val bytes = Files.readAllBytes(Paths.get(out))
      if (first == null) first = bytes
      res.fail(scriptChecks(spec, r, new String(bytes, "UTF-8")) ++
        (if (java.util.Arrays.equals(bytes, first)) Nil else Seq("script bytes differ from the first pass")))
      t
    }
    // the JIT keeps compiling the Hive client, Derby and DataNucleus
    // paths for about 25 extracts, each a little faster than the last
    // (about twice as fast in the end), and how soon a run gets there
    // varies; 24 untimed extracts bring every run near that plateau
    res.setup("warm_s")((1 to 24).foreach(_ => extractOnce()))
    res.loop(seconds, tracer)(_ => extractOnce())
    if (tracer.enabled) {
      tracer.run = "layers"
      val extractS = Stats.median(res.passes.filter(_.traced).map(_.wallS).toSeq)
      val script = new String(first, "UTF-8")
      res.layers ++= tracedLayers(spark, script, out, tracer, extractS)
      tracer.run = "replay"
      val before = snapshot(spark, spec)
      dropAll(spark, spec)
      res.attempted += 1
      res.layers ++= tracedReplay(spark, script, tracer)
      res.fail(replayProblems(before, snapshot(spark, spec)))
    }
  }

  def replayProblems(before: Map[String, String], after: Map[String, String]): Seq[String] =
    before.keys.toSeq.sorted.filter(k => after.get(k) != before.get(k))
      .take(3).map(k => s"replayed $k differs: ${after.get(k)} vs ${before(k)}")
}
