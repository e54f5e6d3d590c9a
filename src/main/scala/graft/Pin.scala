package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The one way to hold an intermediate result: `dfs` stay persisted
  * (plan and size statistics kept, unlike `localCheckpoint`) while
  * `body` runs and are unpersisted when it returns or throws. A frame
  * built over a pin that must outlive the scope is computed inside it
  * and returned as `result.localCheckpoint(eager = true)`.
  */
object Pin {
  def during[T](dfs: DataFrame*)(body: => T): T = {
    dfs.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try body
    finally dfs.foreach(_.unpersist(blocking = false))
  }

  /** `df` coalesced to one partition per
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` of its
    * estimated size, between 1 and `defaultParallelism` — the floor AQE
    * applies to shuffle reads, for loop state AQE never re-plans (pinned
    * or checkpointed inputs keep the partition count they were built
    * with, and every scan of them pays one task per partition).
    * `coalesce` adds no shuffle and never raises the count.
    */
  def fit(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val floor = BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = df.sparkSession.sparkContext.defaultParallelism
    df.coalesce(((bytes + floor - 1) / floor).max(1).min(cap).toInt)
  }
}
