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
  * Scale design: the edge list (joined with out-degrees once, persisted
  * — it is reused every iteration) shuffles on `src`; each iteration is
  * one partial-aggregated shuffle on `dst` plus one left join back to
  * the node set. That is the textbook O(iters) round structure — no
  * driver-side state, no collect; rank-table size is |V|, edge table
  * |E|, both partition-parallel. Overflow bound: total in-flight mass
  * is ≤ |V|·scale, so |V|·scale must stay below 2^63 (document at call
  * site; 10^6 nodes at the default scale is safe by 3 orders).
  */
object PageRank {

  /** The three static tables (edge plan, node set, degree-joined
    * edges) are pinned while the fixpoint is computed, and the result
    * is returned as an eager local checkpoint, so no cache outlives
    * the call. Against leaving the pins filled by the caller's first
    * action, measured at sf0.1 on 4 cores (`graft.Bench`, min of three
    * min-of-3 invocations): q82 2.79 → 2.75 s, q140 2.89 → 3.68 s
    * (q140's runs spread 3.7–5.1 s).
    *
    * @param edges two columns `src`, `dst` (long node ids); multi-edges
    *              should be `.distinct()`-ed by the caller if unwanted
    * @param iters number of synchronous iterations (≥ 0)
    * @param broadcastRanks when the node set fits in executor memory
    *              (catalog-sized graphs like part↔supplier), broadcast
    *              the rank table into each iteration's joins — one
    *              small partial-agg shuffle per iteration instead of
    *              three edge-sized ones. Leave false for web-scale
    *              graphs, where ranks must stay partitioned.
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
    val allNodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
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
    val edgesDeg = edges
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    // all three static tables are pinned: the caller's edge plan is
    // often itself expensive (a distinct over a fact table) and feeds
    // the node set, the degree join and the contrib joins; `nodes`
    // re-enters the plan at every iteration's left join, `edgesDeg` at
    // every contrib join
    graft.Pin.during(edges, nodes, edgesDeg) {
      val base = scale / dampDen * (dampDen - dampNum)
      var ranks = nodes.select(col("node"),
        when(col("__seed"), lit(scale)).otherwise(lit(0L)).as("rank"))
      for (_ <- 1 to iters) {
        val contrib = edgesDeg
          .join(bc(ranks), edgesDeg("src") === ranks("node"))
          .select(col("dst"), expr("rank div outdeg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        ranks = nodes
          .join(bc(contrib), nodes("node") === contrib("dst"), "left")
          .select(col("node"),
            (when(col("__seed"), lit(base)).otherwise(lit(0L))
              + expr(s"($dampNum * coalesce(s, 0L)) div $dampDen")).as("rank"))
      }
      // one eager materialization fills and consumes all three pins
      // (edge plan → nodes/degrees → iterations); the checkpointed
      // fixpoint is reclaimed by the ContextCleaner once the caller
      // drops the reference
      ranks.localCheckpoint(true)
    }
  }
}
