package graft

import org.apache.spark.sql.DataFrame
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
}
