package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source bounded-depth breadth-first search over an edge list —
  * the frontier-expansion primitive behind "customers-also-bought"
  * graph walks, contamination-neighborhood tracing, and bounded
  * reachability queries generally.
  *
  * Each level is one equi-join of the (small) frontier against the
  * edge list plus one anti-join against the visited set — the classic
  * message-passing BFS with no driver-side graph state. The level
  * structure IS breadth-first order, so the first time a node is
  * reached its hop count is minimal by construction; the anti-join
  * guarantees each node is expanded exactly once.
  *
  * Scale design (100 TB lens): the edge list is persisted once and
  * re-read every level (shuffling on `src` each time — pre-bucketing
  * the edge table on `src` would make every level's expansion join
  * shuffle-free on the edge side); the frontier and visited sets are
  * node-sized, not edge-sized. Each level's frontier is materialized
  * by [[graft.Pin.cut]], truncating the iterative lineage exactly as
  * [[PageRank]] does, so depth is bounded by memory, not by plan
  * growth. Early exit on an empty frontier costs nothing extra — the
  * count that detects it is the same action that materializes the
  * level.
  */
object Bfs {

  /** @param edges   directed edges, columns `src`, `dst` (long ids);
    *                pass both orientations for an undirected walk
    * @param seeds   hop-0 nodes, single column `node`
    * @param maxHops inclusive depth bound
    * @return (node, hop): minimum hop count from any seed, hop ≤
    *         maxHops; seeds themselves appear with hop 0
    */
  def minHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = edges.select(col("src"), col("dst"))
    graft.Pin.during(e) {
      var visited = seeds.select(col("node")).distinct()
        .withColumn("hop", lit(0)).transform(graft.Pin.cut)
      var frontier = visited
      var hop = 1
      while (hop <= maxHops && !frontier.isEmpty) {
        val next = frontier
          .join(e, frontier("node") === e("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti")
          .withColumn("hop", lit(hop))
          .transform(graft.Pin.cut)
        visited = visited.union(next).transform(graft.Pin.cut)
        frontier = next
        hop += 1
      }
      visited
    }
  }
}
