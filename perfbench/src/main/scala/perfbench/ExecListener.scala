package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Totals of the `exec` layer (Spark execution) between two snapshots. */
final case class ExecCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                            taskRunMs: Long = 0, shuffleReadB: Long = 0,
                            shuffleWriteB: Long = 0, spillB: Long = 0, gcMs: Long = 0) {
  def -(o: ExecCounts): ExecCounts = ExecCounts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskRunMs - o.taskRunMs, shuffleReadB - o.shuffleReadB,
    shuffleWriteB - o.shuffleWriteB, spillB - o.spillB, gcMs - o.gcMs)
  def +(o: ExecCounts): ExecCounts = ExecCounts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskRunMs + o.taskRunMs, shuffleReadB + o.shuffleReadB,
    shuffleWriteB + o.shuffleWriteB, spillB + o.spillB, gcMs + o.gcMs)
}

/** Counts jobs, completed stages and tasks, executor run time, shuffle
  * bytes, spill and GC time. Registered only in traced runs. */
final class ExecListener extends SparkListener {
  private var c = ExecCounts()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c + ExecCounts(0, 0, 1, m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
  }

  /** Totals so far, after every queued event has been delivered. */
  def snapshot(spark: SparkSession): ExecCounts = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(c)
  }
}

object ExecListener {
  /** Persisted RDDs plus SQL cache entries still held right now. */
  def cachedNow(spark: SparkSession): Int = {
    val sqlEntries =
      try {
        val f = spark.sharedState.cacheManager.getClass.getDeclaredField("cachedData")
        f.setAccessible(true)
        f.get(spark.sharedState.cacheManager).asInstanceOf[scala.collection.Seq[_]].size
      } catch {
        case _: ReflectiveOperationException | _: ClassCastException =>
          if (spark.sharedState.cacheManager.isEmpty) 0 else 1
      }
    spark.sparkContext.getPersistentRDDs.size + sqlEntries
  }
}
