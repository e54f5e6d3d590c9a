package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan,
  * Albert & Kumara 2007), determinized for oracle checking.
  *
  * Every node starts as its own community; each round a node adopts
  * the label that is MOST FREQUENT among its neighbors' current
  * labels, ties breaking toward the smallest label value. The
  * classic formulation updates asynchronously in random visit order —
  * unreproducible across engines — so this is the synchronous
  * variant with a total tie order: both engines compute the identical
  * label table after any fixed number of rounds (the unrolled-oracle
  * precedent of q82 PageRank / q112 BPE). Frequency voting is what
  * separates this from connected components (q54/q155's min-label
  * flood): LPA splits dense regions into multiple communities where
  * CC would merge everything reachable.
  *
  * Scale design: each round is one shuffle join (edges ⋈ labels on
  * the neighbor endpoint), one partially-aggregated (node, label)
  * count, and a node-partitioned window argmax — all keyed on node
  * ids, no driver state, intermediate sizes bounded by |E| and |V|.
  * Rounds are a declared constant, so the lineage depth is fixed and
  * no convergence test (a driver-side global) is needed. The edge
  * table is coalesced to its data size ([[graft.Pin.fit]]) before it
  * is pinned, so every round's scan of it runs one task per ~1 MB of
  * edges (at most one per core) instead of one per partition its
  * derivation happened to produce.
  */
object LabelPropagation {

  /** @param edges two columns `src`, `dst` (long node ids). Directed:
    *              node `src` hears the label of `dst`. Pass both
    *              directions for an undirected graph. The node spine
    *              is the distinct `src` set; a node whose neighbors
    *              carry no votes in some round (possible on directed
    *              inputs where every `dst` of a node never occurs as
    *              a `src`) KEEPS its previous label rather than
    *              dropping from the table — so the output always has
    *              exactly one row per spine node. For undirected
    *              (both-directions) input every node votes every
    *              round and the keep-prior branch never fires.
    * @param iters number of synchronous voting rounds (≥ 0)
    * @return (node, label) after `iters` rounds
    */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    // the edge table is |E|-bounded narrow longs and feeds EVERY
    // round's vote join (each round is its own checkpoint action) —
    // persist it or the upstream edge derivation (a distinct over the
    // source fact table in q211) re-runs once per round
    val e = graft.Pin.fit(edges.select(col("src"), col("dst")))
    graft.Pin.during(e) {
      var labels = e.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      for (_ <- 1 to iters) {
        val votes = e
          .join(labels.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src"), col("label"))
          .agg(count(lit(1)).as("cnt"))
        val winners = votes
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("src"))
              .orderBy(col("cnt").desc, col("label"))))
          .where(col("rk") === 1)
          .select(col("src").as("node"), col("label").as("new_label"))
        // `labels` feeds BOTH the vote join above and the keep-prior
        // coalesce below — pin it each round or the plan self-references
        // twice per round and replays ~2^rounds times (the classifier
        // lineage trap, round 13)
        labels = labels.join(winners, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("new_label"), col("label")).as("label"))
          .transform(graft.Pin.cut)
      }
      labels
    }
  }
}
