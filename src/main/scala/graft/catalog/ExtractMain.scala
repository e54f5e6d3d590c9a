package graft.catalog

import java.nio.file.Paths

/** CLI entry point, argument-compatible with the reference
  * (`ExtractHiveDDL.java:34-73`):
  * {{{ ExtractMain <database name pattern> <table name pattern> <output file> }}}
  * Flags come from the same env vars (`USE_ADD_SQL`, `USE_CONTEXT`).
  *
  * Connects to whatever Hive metastore the Spark conf points at
  * (embedded Derby by default locally; hive-site.xml on a cluster).
  * `GRAFT_METASTORE_DIR` isolates the local Derby+warehouse location.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    println(s"${args.length} args: ${args.toSeq}")
    if (args.length != 3) {
      println("Usage: ")
      println("arg[0] = database name pattern")
      println("arg[1] = table name pattern")
      println("arg[2] = output file name")
      sys.exit(-1)
    }
    val Array(databasePattern, tablePattern, outFile) = args
    val cfg = ExtractConfig.fromEnv()

    println("database pattern = " + databasePattern)
    println("table pattern = " + tablePattern)
    println("output file = " + outFile)
    println("use add partition SQL = " + cfg.useAddSql)
    println("fully qualify table names = " + !cfg.useContext)

    val st = System.currentTimeMillis()
    val spark = HiveSessions.local("graft-extract",
      sys.env.get("GRAFT_METASTORE_DIR"))
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = DdlExtract.extractToFile(spark, databasePattern, tablePattern,
        Paths.get(outFile), cfg)
      println(s"${result.databases.size} databases")
      println(s"extracted ${result.tableCount} tables (${result.errorCount} errors)")
      result.reports.filter(_.error.nonEmpty)
        .foreach(r => System.err.println(s"ERROR ${r.db}.${r.table}: ${r.error.get}"))
    } finally spark.stop()
    val duration = System.currentTimeMillis() - st
    println("Total time = " + duration + " (" + duration / 1000 + " seconds)")
  }
}
