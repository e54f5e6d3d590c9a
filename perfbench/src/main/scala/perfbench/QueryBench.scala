package perfbench

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One query in a traced pass: span seconds, exec-layer counts and the
  * cache entries it left behind. */
final case class QueryTrace(s: Double, fnS: Double, execS: Double, counts: ExecCounts, cached: Int)

/** The `queries` and `exec` layers: query functions from
  * `SparkEntry.queries` over generated parquet tables, each timed as the
  * query-function call (with the eager work it does) plus the
  * materialization of its result. */
object QueryBench {

  /** Drops what a query left cached, as `graft.Bench` does between queries. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** The query order of pass `pass`, drawn from the run seed. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def execMetrics(c: ExecCounts, wallS: Double, cached: Int): Seq[(String, Double)] = Seq(
    "exec.jobs" -> c.jobs.toDouble,
    "exec.stages" -> c.stages.toDouble,
    "exec.tasks" -> c.tasks.toDouble,
    "exec.task_run_s" -> c.taskRunMs / 1000.0,
    "exec.busy_frac" -> (if (wallS > 0) c.taskRunMs / 1000.0 / (wallS * Host.cores) else 0.0),
    "exec.shuffle_read_mb" -> c.shuffleReadB / 1048576.0,
    "exec.shuffle_write_mb" -> c.shuffleWriteB / 1048576.0,
    "exec.spill_mb" -> c.spillB / 1048576.0,
    "exec.gc_s" -> c.gcMs / 1000.0,
    "exec.cached_after" -> cached.toDouble)

  def run(spark: SparkSession, names: Seq[String], sfDir: String, work: String,
          seconds: Double, seed: Long, tracer: Tracer, listener: Option[ExecListener],
          res: RunResult): Unit = {
    val fns = SparkEntry.queries
    // warm-up and output check in one pass: every result goes to parquet
    // for the DuckDB oracle compare, which run.py does after this JVM ends
    res.setup("warm_s") {
      order(names, seed, 0).foreach { q =>
        res.attempted += 1
        try fns(q)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$work/out/$q")
        catch { case e: Exception => res.fail(Seq(s"$q: ${e.toString.take(300)}")) }
        reset(spark)
      }
    }
    // one more untimed pass: the JIT is still compiling after the first,
    // and a timed pass right after it lands where run-to-run times differ
    // most
    res.setup("warm_s") {
      for (q <- order(names, seed, -1)) {
        try Bench.materialize(fns(q)(spark, sfDir))
        catch { case _: Exception => () }
        reset(spark)
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json.value(oracle))

    val tracedRuns = mutable.ArrayBuffer.empty[Map[String, QueryTrace]]
    var passNo = 0
    res.loop(seconds, tracer) { traced =>
      passNo += 1
      val perQuery = mutable.LinkedHashMap.empty[String, QueryTrace]
      val total = order(names, seed, passNo).foldLeft(Timing.zero) { (acc, q) =>
        res.attempted += 1
        val before = listener.filter(_ => traced).map(_.snapshot(spark))
        val t = try {
          val (_, t) = Timing.of(tracer.span(s"queries.$q") {
            val df = tracer.span(s"queries.$q.fn")(fns(q)(spark, sfDir))
            tracer.span(s"queries.$q.exec")(Bench.materialize(df))
          })
          t
        } catch { case e: Exception => res.fail(Seq(s"$q: ${e.toString.take(300)}")); Timing.zero }
        for (b <- before; l <- listener) {
          def last(n: String) = tracer.named(n).lastOption.map(_.seconds).getOrElse(0.0)
          perQuery(q) = QueryTrace(last(s"queries.$q"), last(s"queries.$q.fn"),
            last(s"queries.$q.exec"), l.snapshot(spark) - b, ExecListener.cachedNow(spark))
        }
        reset(spark)
        acc + t
      }
      if (traced) tracedRuns += perQuery.toMap
      total
    }

    if (tracer.enabled) {
      val last = tracedRuns.last
      for (q <- names) {
        def med(f: QueryTrace => Double) = Stats.median(tracedRuns.toSeq.map(r => f(r(q))))
        res.layers ++= Seq(
          s"queries.$q.s" -> med(_.s), s"queries.$q.fn_s" -> med(_.fnS),
          s"queries.$q.exec_s" -> med(_.execS),
          s"exec.$q.stages" -> last(q).counts.stages.toDouble,
          s"exec.$q.tasks" -> last(q).counts.tasks.toDouble,
          s"exec.$q.cached_after" -> last(q).cached.toDouble)
      }
      res.layers ++= execMetrics(last.values.map(_.counts).reduce(_ + _),
        last.values.map(_.s).sum, last.values.map(_.cached).sum)
    }
  }
}
