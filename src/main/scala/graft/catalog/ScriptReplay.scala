package graft.catalog

import org.apache.spark.sql.SparkSession

/** Replays an extracted DDL script against a Spark session — the
  * consumer side of the reference's workflow (its scripts were replayed
  * with beeline, `README.md:2-4`; beeline's `!sh` escapes and `--`
  * comments are skipped here the same way beeline treats them as
  * non-SQL).
  *
  * Statement boundaries are `;` at end of line — the exact shape
  * [[ScriptWriter]] emits — outside any `'…'`, `"…"` or `` `…` ``
  * quote, so a quoted comment or property value holding `;` + newline,
  * or a line that starts `--`, stays inside its statement.
  */
object ScriptReplay {

  def statements(script: String): Seq[String] = {
    val stmts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var open = 0.toChar // the quote a value is open in, 0 outside one
    for (line <- script.linesIterator) {
      val t = line.trim
      if (open != 0 || !(t.startsWith("--") || t.startsWith("!"))) {
        var escaped = false
        line.foreach { c =>
          if (escaped) escaped = false
          else if (open != 0) {
            if (c == '\\' && open != '`') escaped = true
            else if (c == open) open = 0
          } else if (c == '\'' || c == '"' || c == '`') open = c
        }
        if (open == 0 && t.endsWith(";")) {
          cur ++= line.substring(0, line.lastIndexOf(';'))
          val stmt = cur.toString.trim
          if (stmt.nonEmpty) stmts += stmt
          cur.clear()
        } else {
          cur ++= line
          cur += '\n'
        }
      }
    }
    val rest = cur.toString.trim
    if (rest.nonEmpty) stmts += rest
    stmts.result()
  }

  /** Execute every statement in order; returns the statement count. */
  def replay(spark: SparkSession, script: String): Int = {
    val stmts = statements(script)
    stmts.foreach(s => spark.sql(s).collect())
    stmts.size
  }
}
