package graft

import org.apache.spark.sql.{DataFrame, GraftPlanApi}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The two ways to hold an intermediate result. [[during]] keeps frames
  * persisted for a scope and releases them when it ends. [[cut]] ends a
  * frame's lineage for good, and is the only lineage cut in the code.
  * A frame built over a pin that must outlive the scope is computed
  * inside it and returned through [[cut]].
  */
object Pin {
  def during[T](dfs: DataFrame*)(body: => T): T = {
    dfs.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try body
    finally dfs.foreach(_.unpersist(blocking = false))
  }

  /** `df` materialized once, eagerly, as a local checkpoint: one Spark
    * job, after which the frame reads the stored blocks and none of its
    * lineage. Unlike `Dataset.localCheckpoint`, whose plan leaf keeps
    * the pre-execution size estimate (a 1,000-row aggregate over 2M
    * rows read as 23 MB and joined by sort-merge), the leaf carries the
    * measured row count and stored bytes, so the planner broadcasts a
    * small cut like any small table. The blocks live until the
    * ContextCleaner reclaims them after the frame is dropped; a failed
    * job releases the blocks it stored.
    *
    * Cut where a frame is read by two or more actions or plan branches,
    * is loop state, leaves a [[during]] scope, or freezes a
    * nondeterministic evaluation — nowhere else.
    */
  def cut(df: DataFrame): DataFrame = GraftPlanApi.measured(df) { rows =>
    val held = rows.localCheckpoint()
    try held.count()
    catch { case e: Throwable => held.unpersist(blocking = false); throw e }
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
