package perfbench

import graft.catalog.HiveSessions
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** What one run measured; written as `result.json` for `run.py`. */
final class RunResult {
  val setupParts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val passes: mutable.ArrayBuffer[Pass] = mutable.ArrayBuffer.empty
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val calibrationMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L

  def setup[A](part: String)(body: => A): A = {
    val (r, dt) = Stats.timed(body)
    setupParts(part) = setupParts.getOrElse(part, 0.0) + dt
    r
  }

  /** Counts one failed operation when `found` holds any problem. */
  def fail(found: Seq[String]): Unit =
    if (found.nonEmpty) {
      failed += 1
      problems ++= found.take(math.max(0, 5 - problems.size))
    }

  /** The timed region: whole passes in a closed loop until `seconds` have
    * gone by, at least three, so that a pass a little shorter or longer
    * than a third of `seconds` does not change which passes the median
    * reads. A traced run alternates untraced and traced passes, so both
    * see the same warm-up state; the difference of their medians is the
    * tracing overhead. */
  def loop(seconds: Double, tracer: Tracer)(op: Boolean => Timing): Unit = {
    calibrationMs += Host.calibrationMs
    val t0 = System.nanoTime()
    var n = 0
    while (n < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = tracer.enabled && n % 2 == 1
      tracer.run = s"pass-$n"
      tracer.active = traced
      passes += Pass.measure(traced)(op(traced))
      tracer.active = tracer.enabled
      n += 1
    }
    calibrationMs += Host.calibrationMs
  }

  def json(selfSeconds: Map[String, Double]): String = Json.obj(
    "setup" -> setupParts.toMap,
    "self_s" -> selfSeconds,
    "passes" -> passes.map(Pass.toJson),
    "calibration_ms" -> calibrationMs.toSeq,
    "attempted" -> attempted,
    "failed" -> failed,
    "problems" -> problems.toSeq,
    "layers" -> layers.toMap).text
}

/** Benchmark runner, one run of one workload in a fresh JVM:
  * {{{ perfbench.Main --workload <name> --seconds <s> --seed <n> --trace <0|1>
  *       --work <dir> --input <spec.json | parquet dir> [--queries q1,q2,...]
  *       --launched-ms <epoch ms when the JVM was started> }}}
  * One client thread drives the program in a closed loop. The result is
  * written to `<work>/result.json` and the trace spans, in a traced run,
  * to `<work>/spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val seed = opts("seed").toLong
    val work = opts("work")
    val input = opts("input")
    val tracer = new Tracer(opts("trace") == "1")
    val res = new RunResult
    res.setupParts("launch_s") = (System.currentTimeMillis() - opts("launched-ms").toLong) / 1000.0
    val catalog = workload.startsWith("catalog_")

    val spark: SparkSession = res.setup("session_s") {
      val s =
        if (catalog) HiveSessions.local("perfbench", Some(s"$work/hive"))
        else graft.Sessions.local("perfbench")
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val listener = if (tracer.enabled) Some(new ExecListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    try {
      workload match {
        case "catalog_extract" =>
          CatalogBench.extractRun(spark, CatalogBench.readSpec(input), s"$work/data", work,
            seconds, tracer, res)
        case _ =>
          QueryBench.run(spark, opts("queries").split(",").toSeq, input, work, seconds, seed,
            tracer, listener, res)
      }
      if (catalog) listener.foreach { l =>
        // the catalog workload runs no Spark jobs; the exec layer should read ~0
        res.layers ++= QueryBench.execMetrics(l.snapshot(spark), 0.0, 0)
      }
      Files.writeString(Paths.get(s"$work/result.json"), res.json(tracer.selfSeconds))
      if (tracer.enabled) tracer.writeJsonl(s"$work/spans.jsonl")
    } finally spark.stop()
  }
}
