package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q-digest — the engine's MERGEABLE QUANTILE sketch (Shrivastava,
  * Buragohain, Agrawal & Suri, SenSys 2004; mergeability per Agarwal
  * et al., "Mergeable Summaries", PODS 2012 §3), completing the
  * monitoring-sketch triad beside HLL (distinct counts, q56/q78) and
  * Count-Min (point frequencies, q194/q198): per-partition / per-day /
  * per-batch summaries merge into the period summary WITHOUT ever
  * rescanning history, and any quantile is answered from the merged
  * digest within a deterministic rank envelope — the percentile-drift
  * monitor q49's exact rescan can't provide incrementally.
  *
  * Two tiers, chosen per use (both exercised by the declared queries):
  *  - COMPRESSED partials ([[graft.functions.QDigestSketchAgg]] per
  *    group, [[graft.functions.QDigestMergeAgg]] to combine) — the
  *    paper's bandwidth-optimal form: each partial is ≤ 3k nodes
  *    whatever the data, merge = node-wise addition + one
  *    recompression. The merge is NOT linear (compression redistributes
  *    mass), so the declared query's oracle replays the exact two-stage
  *    path.
  *  - LINEAR partials (leaf histograms, [[appendBatchHist]]): each
  *    partial is the exact bucket histogram (bounded by the 2^levels
  *    universe, not the corpus), merge = plain addition — EXACTLY equal
  *    to the one-shot build whatever the batch boundaries, the CMS-grid
  *    linearity discipline. Compression then runs once at serve time.
  *    This is the store tier: at datacenter scale a 2^12-bucket partial
  *    is already tiny, and linearity buys exactly-once convergence
  *    proofs (the q198 shared-oracle pin) that compressed partials
  *    cannot give.
  *
  * Determinism: everything — bucketing, compression, the in-order
  * cumulative walk — is integer arithmetic replayable in any SQL
  * engine; no RNG, no order dependence (see [[graft.functions.QDigestBuf]]).
  */
object QDigest {

  /** In-order quantile estimates from a digest column: for each group
    * row (`grpCols`*, `nodesCol` array<struct<lvl, idx, cnt>>) and each
    * integer percent in `pcts`, the paper's rank query — walk nodes in
    * (hi ASC, lo DESC) order (children before the ancestors that
    * contain them), report the first node whose cumulative count
    * reaches tgt = ⌈n·pct/100⌉ (integer-exact: (n·pct + 99) div 100).
    * Output: (grpCols*, n, n_nodes, pct, est_b) where est_b is the
    * reported node's upper bucket.
    *
    * Scale shape: the window runs per group over DIGEST nodes (≤ 3k
    * rows, bounded by the sketch, not the corpus) — a deliberate
    * exception to the no-per-group-window rule, exactly like reading
    * any other sketch. */
  def quantiles(digests: DataFrame, grpCols: Seq[String], nodesCol: String,
                pcts: Seq[Int]): DataFrame = {
    val g = grpCols.map(col)
    val nodes = digests
      .select(g :+ explode(col(nodesCol)).as("nd"): _*)
      .select(g ++ Seq(
        col("nd.cnt").as("cnt"),
        expr("nd.idx * shiftleft(1L, nd.lvl)").as("lo"),
        expr("(nd.idx + 1) * shiftleft(1L, nd.lvl) - 1").as("hi")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("hi").asc, col("lo").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = nodes.withColumn("cum", sum(col("cnt")).over(w))
    // digest-sized in-row fold (≤ 3k elements per GROUP row — the
    // interpreted-HOF cost is bounded by the sketch, not the corpus)
    val tot = digests.select(g ++ Seq(
      aggregate(col(nodesCol), lit(0L), (a, x) => a + x.getField("cnt")).as("n"),
      size(col(nodesCol)).as("n_nodes")): _*)
    val tgts = tot.withColumn("pct",
        explode(array(pcts.map(p => lit(p)).toIndexedSeq: _*)))
      .withColumn("tgt", expr("(n * pct + 99) div 100"))
    tgts.join(cum, grpCols)
      .where(col("cum") >= col("tgt"))
      .groupBy(g ++ Seq(col("n"), col("n_nodes"), col("pct"), col("tgt")): _*)
      .agg(min(col("hi")).as("est_b"))
  }

  // ------------------------------------------------------------------
  // Persisted leaf-histogram store with streaming incremental
  // maintenance — the linear tier (see object scaladoc), mirroring
  // CountMin's grid store discipline verbatim: batchId-idempotent
  // appends guarded by _SUCCESS markers, a monotone compacted_upto
  // high-water mark so batches replayed after compaction no-op, and
  // write-then-swap compaction.
  // ------------------------------------------------------------------

  /** The per-group leaf histogram of `df` — the linear partial:
    * (grpCols*, idx, cnt), one row per observed bucket. */
  def leafHist(df: DataFrame, bucketCol: String,
               grpCols: Seq[String]): DataFrame =
    df.groupBy((grpCols.map(col) :+ col(bucketCol).as("idx")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Absorbs one batch into a persisted histogram store: the batch's
    * own leaf histogram lands under `hists/` — idempotently per
    * batchId, replay-safe across compactions via the high-water mark
    * (the CountMin.appendBatchGrid contract). History is never read. */
  def appendBatchHist(batch: DataFrame, bucketCol: String,
                      grpCols: Seq[String], store: String,
                      batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    batchId match {
      case Some(id) =>
        if (highWater(spark, store).exists(id <= _)) return
        val sub = s"$store/hists/batch_$id"
        val success = new org.apache.hadoop.fs.Path(s"$sub/_SUCCESS")
        val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(success))
          leafHist(batch, bucketCol, grpCols).write.mode("overwrite").parquet(sub)
      case None =>
        leafHist(batch, bucketCol, grpCols).write.mode("append")
          .parquet(s"$store/hists")
    }
  }

  private[graft] def highWater(spark: org.apache.spark.sql.SparkSession,
                               store: String): Option[Long] = {
    val marker = new org.apache.hadoop.fs.Path(s"$store/compacted_upto")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  private def writeHighWater(spark: org.apache.spark.sql.SparkSession,
                             store: String, id: Long): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$store/compacted_upto")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // single create-overwrite publish: the delete-then-rename this
    // replaces had a crash window (marker deleted, rename not yet
    // done) in which NO marker existed while compaction had already
    // removed old batch_ dirs — a replayed batch would re-append mass
    // already folded into the compacted histogram. A crash mid-write
    // now leaves a partial marker that fails highWater's toLong
    // loudly instead of silently double-counting.
    val out = fs.create(marker, true)
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The store's merged histogram: every persisted partial summed
    * bucket-wise — by linearity, equal to the one-shot histogram over
    * everything absorbed, whatever the batch boundaries were. */
  def readMergedHist(spark: org.apache.spark.sql.SparkSession,
                     store: String, grpCols: Seq[String]): DataFrame =
    graft.llm.TextDedup.readStore(spark, s"$store/hists")
      .groupBy((grpCols.map(col) :+ col("idx")): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Write-then-swap compaction of the per-batch partials into one
    * merged histogram file-set, with the high-water mark written
    * before the swap (crash between the two leaves a batch counted
    * once and blocked from re-append — safe, never double-counted;
    * the CountMin.compactGridStore reasoning applies verbatim). */
  def compactHistStore(spark: org.apache.spark.sql.SparkSession,
                       store: String, grpCols: Seq[String]): Unit = {
    if (!graft.llm.TextDedup.storeNonEmpty(spark, s"$store/hists")) return
    val hists = new org.apache.hadoop.fs.Path(s"$store/hists")
    val fs = hists.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchIds = fs.listStatus(hists).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("batch_") => s.stripPrefix("batch_").toLong }
    val merged = readMergedHist(spark, store, grpCols).coalesce(1)
    graft.Pin.during(merged) {
      merged.count() // pin the pre-swap read before the marker blocks replays
      if (batchIds.nonEmpty) {
        val hw = math.max(batchIds.max, highWater(spark, store).getOrElse(Long.MinValue))
        writeHighWater(spark, store, hw)
      }
      graft.llm.TextDedup.compactSwap(spark, s"$store/hists", merged)
    }
  }

  /** Digest of a merged leaf histogram: each (grpCols*, idx, cnt) row
    * becomes a level-0 node and one [[graft.functions.QDigestMergeAgg]]
    * compression runs per group — the serve-time step of the linear
    * tier. Output: (grpCols*, nodes). */
  def digestOfHist(hist: DataFrame, grpCols: Seq[String],
                   levels: Int, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(hist.sparkSession)
    hist
      .select(grpCols.map(col) :+ array(struct(
        lit(0).as("lvl"), col("idx").cast("long").as("idx"),
        col("cnt").cast("long").as("cnt"))).as("nd"): _*)
      .groupBy(grpCols.map(col): _*)
      .agg(expr(s"qdigest_merge(nd, $levels, $k)").as("nodes"))
  }
}
