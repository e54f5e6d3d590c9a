package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in exact integer arithmetic.
  *
  * Ranks are scaled longs (`scale` = 1.0) and every step is integer
  * div/mod, so the result is bit-identical across engines, partition
  * counts, and add orders — the floating-point formulation is none of
  * those, and a declared query could not be oracle-checked. With
  * damping d = num/den and per-node seed mass `scale`:
  *
  *   rank'(v) = scale·(den−num)/den + num·Σ_{(u,v)∈E} (rank(u) div outdeg(u)) div den
  *
  * Dangling mass (nodes with no out-edges) is dropped, matching the
  * common sparse formulation; iterations are a declared constant, not
  * run-to-convergence — both engines compute the same fixpoint prefix.
  *
  * Scale design: the edge list is coalesced to its data size
  * ([[graft.Pin.fit]]) and pinned with its out-degrees — it is reused
  * every iteration. Each iteration is one join of the edges with the
  * rank table plus ONE partial-aggregated shuffle on the node: the
  * node set's base terms and the edge contributions are unioned and
  * summed together, so every node keeps its row through its base row
  * without a join back to the node set. That is the textbook O(iters)
  * round structure — no driver-side state, no collect; rank-table size
  * is |V|, edge table |E|, both partition-parallel. Overflow bound:
  * total in-flight mass is ≤ |V|·scale, so |V|·scale must stay below
  * 2^63 (document at call site; 10^6 nodes at the default scale is
  * safe by 3 orders).
  */
object PageRank {

  /** The edge list is sized with [[graft.Pin.fit]], the three static
    * tables (fitted edges, node set, degree-joined edges) are pinned
    * while the fixpoint is computed, and the result is returned as an
    * eager local checkpoint, so no cache outlives the call. On the
    * `query_graph` benchmark (4 cores, `BENCH_GRAPH_AB.json`) the
    * fitted edges and the one-aggregation round took a traced pass
    * from 272 tasks in 72 stages to 59 in 59, and q82 in that pass
    * from 1.33 to 1.07 s.
    *
    * @param edges two columns `src`, `dst` (long node ids); multi-edges
    *              should be `.distinct()`-ed by the caller if unwanted
    * @param iters number of synchronous iterations (≥ 0)
    * @param broadcastRanks when the node set fits in executor memory
    *              (catalog-sized graphs like part↔supplier), broadcast
    *              the rank table into each iteration's edge join —
    *              the round's partial-agg shuffle is then its only
    *              one. Leave false for web-scale graphs, where
    *              ranks must stay partitioned.
    * @return one row per node: `node`, `rank` (scaled long)
    */
  def run(edges: DataFrame, iters: Int,
          scale: Long = 1000000000000L,
          dampNum: Long = 85, dampDen: Long = 100,
          broadcastRanks: Boolean = false,
          seeds: Option[DataFrame] = None): DataFrame = {
    val bc: DataFrame => DataFrame =
      if (broadcastRanks) org.apache.spark.sql.functions.broadcast else identity
    // personalized PageRank (Page et al. 1999 §6, "personalized"
    // teleport): restart mass lands only on the seed set instead of
    // uniformly — ranks then measure importance RELATIVE to the seeds
    // (topic-conditioned curation: "what supplies this part family").
    // The un-normalized form keeps the same integer base magnitude on
    // seeds and 0 elsewhere — ranking-equivalent to the 1/|S|
    // normalization, exactly representable, and identical to uniform
    // PageRank when every node seeds.
    val e = graft.Pin.fit(edges)
    val allNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val nodes = seeds match {
      case Some(s) => allNodes.join(
          s.select(col("node")).distinct().withColumn("__seed", lit(true)),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__seed"), lit(false)).as("__seed"))
      case None => allNodes.withColumn("__seed", lit(true))
    }
    // out-degree as a window count: one shuffle on src, versus the
    // groupBy+join formulation's two passes over the edge list
    val edgesDeg = e
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    // all three static tables are pinned: the caller's edge plan is
    // often itself expensive (a distinct over a fact table) and feeds
    // the node set, the degree join and the contrib joins; `nodes`
    // re-enters the plan at every iteration's aggregation, `edgesDeg`
    // at every contrib join
    graft.Pin.during(e, nodes, edgesDeg) {
      val base = scale / dampDen * (dampDen - dampNum)
      // each node's restart term, summed with its in-edge contributions:
      // the base row keeps a node nothing points to in the table
      val baseTerms = nodes.select(col("node"),
        when(col("__seed"), lit(base)).otherwise(lit(0L)).as("b"), lit(0L).as("c"))
      var ranks = nodes.select(col("node"),
        when(col("__seed"), lit(scale)).otherwise(lit(0L)).as("rank"))
      for (_ <- 1 to iters) {
        val contrib = edgesDeg
          .join(bc(ranks), edgesDeg("src") === ranks("node"))
          .select(col("dst").as("node"), lit(0L).as("b"),
            expr("rank div outdeg").as("c"))
        ranks = baseTerms.union(contrib)
          .groupBy(col("node"))
          .agg((sum(col("b")) + expr(s"($dampNum * sum(c)) div $dampDen")).as("rank"))
      }
      // one eager materialization fills and consumes all three pins
      // (edge plan → nodes/degrees → iterations); the checkpointed
      // fixpoint is reclaimed by the ContextCleaner once the caller
      // drops the reference
      ranks.localCheckpoint(true)
    }
  }
}
