package perfbench

import java.lang.management.{ManagementFactory, MemoryPoolMXBean, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One span: a timed call at a layer boundary. `parent` is the index of
  * the enclosing span in the same tracer (-1 at top level) and `run`
  * names the pass it belongs to. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, used from the single client thread. While
  * not `active` (always, in an untraced run) it runs the wrapped call
  * and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var run: String = "setup"
  var active: Boolean = enabled

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = spans.size
      spans += Span(name, 0L, 0L, stack.headOption.getOrElse(-1), run)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = spans(id).copy(startNs = t0, endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  def named(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq

  /** Span duration minus the part its direct children cover, summed per name. */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.indices.groupMapReduce(i => spans(i).name)(i =>
      (spans(i).endNs - spans(i).startNs - childNs(i)) / 1e9)(_ + _)
  }

  def writeJsonl(path: String): Unit = {
    val lines = spans.map { s =>
      Json.obj("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "run" -> s.run).text
    }
    Files.write(Paths.get(path), lines.asJava)
  }
}

/** Process CPU, heap-pool peaks (the way `graft.Verify`'s heap probe reads
  * them) and host load from `/proc`. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools: Seq[MemoryPoolMXBean] =
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq.filter(_.getType == MemoryType.HEAP)

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def collections: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount.max(0L)).sum

  /** Busy CPU seconds of the whole host since boot (all cores), from the
    * first line of /proc/stat; 0 where /proc is unavailable. */
  def hostBusySeconds: Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toDouble)
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6) + f.lift(7).getOrElse(0.0)) / 100.0
    } catch { case _: Exception => 0.0 }

  /** Milliseconds a fixed single-thread integer loop takes: the host's
    * speed right now. Hypervisor-level contention that /proc/stat does
    * not show still slows this loop. Best of three runs. */
  def calibrationMs: Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 1L
      var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42L) println(x) // keeps the loop from being optimized away
      (System.nanoTime() - t0) / 1e6
    }.min

  def load1: Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => 0.0 }
}

/** Wall and process-CPU seconds of one call or a sum of calls. */
final case class Timing(wallS: Double, cpuS: Double) {
  def +(o: Timing): Timing = Timing(wallS + o.wallS, cpuS + o.cpuS)
}

object Timing {
  val zero: Timing = Timing(0.0, 0.0)

  def of[A](body: => A): (A, Timing) = {
    val c0 = Host.cpuSeconds
    val t0 = System.nanoTime()
    val r = body
    (r, Timing((System.nanoTime() - t0) / 1e9, Host.cpuSeconds - c0))
  }
}

/** Measurements of one timed pass. `otherCpuS` is the CPU time the rest
  * of the host used during the pass: /proc/stat busy time minus this
  * process's own CPU time. `collections` counts garbage collections
  * inside the pass; while it is 0 the heap peak is the pass's allocation
  * plus what it started with. */
final case class Pass(wallS: Double, cpuS: Double, heapMb: Double, otherCpuS: Double,
                      load1: Double, collections: Long, traced: Boolean)

object Pass {
  /** Runs one pass; `body` returns the timing of the operations in it.
    * Collects garbage and resets the heap peaks first, outside the
    * timed region. */
  def measure(traced: Boolean)(body: => Timing): Pass = {
    System.gc()
    Host.resetHeapPeaks()
    val busy0 = Host.hostBusySeconds
    val cpu0 = Host.cpuSeconds
    val gc0 = Host.collections
    val t = body
    val other = math.max(0.0, Host.hostBusySeconds - busy0 - (Host.cpuSeconds - cpu0))
    Pass(t.wallS, t.cpuS, Host.heapPeakMb, other, Host.load1, Host.collections - gc0, traced)
  }

  def toJson(p: Pass): Json.RawJson = Json.obj("wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
    "heap_mb" -> p.heapMb, "other_cpu_s" -> p.otherCpuS, "load1" -> p.load1,
    "collections" -> p.collections, "traced" -> p.traced)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile, `q` in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => graft.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => graft.Json.quote(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case raw: RawJson => raw.text
    case other => graft.Json.quote(other.toString)
  }

  final case class RawJson(text: String)

  def obj(kvs: (String, Any)*): RawJson = RawJson(value(scala.collection.immutable.ListMap(kvs: _*)))
}
