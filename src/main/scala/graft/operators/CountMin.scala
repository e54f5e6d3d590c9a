package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-Min sketch — the mergeable point-frequency estimator
  * (Cormode & Muthukrishnan, "An improved data stream summary: the
  * count-min sketch and its applications", J. Algorithms 2005). A d×w
  * counter grid; every occurrence of a term increments one counter
  * per row (bucket = h_r(term) mod w), and a term's estimate is the
  * MIN over its d counters — an overestimate by construction (other
  * terms can only ADD to a counter, never subtract), within εN with
  * probability 1−δ at w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.
  *
  * Where it sits in the engine's sketch family: HLL (q56/q78) answers
  * distinct-count, Misra–Gries ([[graft.functions.FreqItemsAgg]],
  * q85) answers "which terms are heavy" with a candidate set that
  * needs an exact re-count pass, CMS answers POINT frequency for any
  * term with no second pass and no per-term state — the grid is
  * O(d·w) regardless of cardinality.
  *
  * Scale design (100 TB lens): a sketch is one aggregation to d·w
  * cells — partial aggregation does the map-side combine, the shuffle
  * moves at most partitions×d·w cell rows, and the grid itself is a
  * few KB however large the corpus. Sketches MERGE BY CELL-WISE
  * ADDITION (the linearity that makes them the distributed/streaming
  * counter of choice): per-partition, per-day, or per-stream-batch
  * partials sum to exactly the sketch of the union, so history is
  * never rescanned — [[merge]] of per-day sketches is bit-identical
  * to one global build, the q78/q87 re-aggregation discipline.
  *
  * Hashes are the engine's portable [[graft.functions.PolyHash]] over
  * `"r:term"` (one independent function per grid row by prefix
  * salting), so the grid — and therefore every estimate — is exactly
  * reproducible by any SQL engine: no sampling, no RNG, no
  * platform-dependent hash.
  */
object CountMin {

  /** Per-group d×w sketch grids: one pass over `df`, output
    * (`grpCols`*, r, b, c) — the count of `termCol` occurrences
    * hashing to bucket `b` on grid row `r` within each group. Empty
    * cells are absent (sparse form); [[merge]]/[[estimates]] treat
    * absent as zero. `grpCols` empty builds one global grid.
    */
  def sketch(df: DataFrame, termCol: String, d: Int, w: Int,
             grpCols: Seq[String] = Nil): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1 rows and w >= 2 buckets; got d=$d w=$w")
    GraftFunctions.ensureRegistered(df.sparkSession)
    val keyed = df
      .select((grpCols.map(col) :+ col(termCol).cast("string").as("t")): _*)
      .withColumn("r", explode(sequence(lit(0), lit(d - 1))))
      .withColumn("b", pmod(
        call_function("poly_hash",
          concat(col("r").cast("string"), lit(":"), col("t"))), lit(w.toLong)))
    keyed.groupBy((grpCols.map(col) :+ col("r")) :+ col("b"): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** Cell-wise addition of per-group sketch grids into one grid —
    * CMS linearity: merge(sketch(A), sketch(B)) = sketch(A ∪ B)
    * exactly, whatever the grouping that produced the partials.
    * Output: (r, b, c). */
  def merge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("r"), col("b")).agg(sum(col("c")).as("c"))

  /** Point-frequency estimates for `terms` (a 1-column frame of
    * distinct terms) against a merged grid: est = MIN over the d grid
    * rows of the term's cell, with an ABSENT sparse cell counting as
    * zero (left join + coalesce). That honors [[sketch]]'s sparse-form
    * contract for every probe, observed or not: an observed term has
    * all d of its cells present (its own increments are in every row),
    * so its estimate is the classic CMS min; a never-observed term is
    * missing at least the cells where no other term collided, so its
    * min is 0 — not a spurious collision-inflated count. Terms join
    * the d·w-cell grid on (r, b) — the grid side is broadcast-sized by
    * construction. Output: (term string, est long). */
  def estimates(grid: DataFrame, terms: DataFrame, termCol: String,
                d: Int, w: Int): DataFrame = {
    GraftFunctions.ensureRegistered(terms.sparkSession)
    val probes = terms
      .select(col(termCol).cast("string").as("term")).distinct()
      .withColumn("r", explode(sequence(lit(0), lit(d - 1))))
      .withColumn("b", pmod(
        call_function("poly_hash",
          concat(col("r").cast("string"), lit(":"), col("term"))), lit(w.toLong)))
    probes.join(broadcast(grid), Seq("r", "b"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  // ------------------------------------------------------------------
  // Persisted grid store with streaming incremental maintenance
  // ------------------------------------------------------------------

  /** Absorbs one batch into a persisted grid store at `store`: the
    * batch's d×w grid lands under `grids/` — with `batchId` set (the
    * `foreachBatch` id), idempotently in `grids/batch_<id>/` guarded
    * by the `_SUCCESS` marker (the q171/ANN-store replay discipline:
    * a replayed micro-batch whose subdirectory already committed
    * skips the write, so counts are exactly-once). History is never
    * read, let alone rescanned — CMS linearity means absorbing a
    * batch is writing its own grid.
    */
  def appendBatchGrid(batch: DataFrame, termCol: String, d: Int, w: Int,
                      store: String, batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    batchId match {
      case Some(id) =>
        // Replay-safe by construction: a batch at or below the
        // compaction high-water mark was already folded into the
        // merged grid (its _SUCCESS marker is gone, but the marker
        // file remembers it) — re-appending it would double-count.
        if (highWater(spark, store).exists(id <= _)) return
        val sub = s"$store/grids/batch_$id"
        val success = new org.apache.hadoop.fs.Path(s"$sub/_SUCCESS")
        val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(success))
          sketch(batch, termCol, d, w).write.mode("overwrite").parquet(sub)
      case None =>
        sketch(batch, termCol, d, w).write.mode("append").parquet(s"$store/grids")
    }
  }

  /** Highest batchId ever folded into the merged grid by
    * [[compactGridStore]] — absent until the first compaction. */
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
    // single create-overwrite publish (see QDigest.writeHighWater):
    // the delete-then-rename it replaces left a no-marker crash
    // window in which a replayed batch would double-count.
    val out = fs.create(marker, true)
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The store's merged grid: every persisted partial summed
    * cell-wise — equal to the one-shot grid over everything absorbed,
    * whatever the batch boundaries were. */
  def readMergedGrid(spark: org.apache.spark.sql.SparkSession,
                     store: String): DataFrame =
    merge(graft.llm.TextDedup.readStore(spark, s"$store/grids"))

  /** Folds the per-batch partials into one merged grid file-set
    * (write-then-swap, the shared store discipline). UNLIKE the
    * row-granular stores (dedup signatures, ANN codes), a grid store
    * has no per-row identity to self-heal on: compacting flattens the
    * per-batch `_SUCCESS` markers, so a micro-batch replayed AFTER
    * its directory was compacted away would otherwise double-count.
    * The store is replay-safe BY CONSTRUCTION instead of by caller
    * discipline: before the swap, the highest `batch_<id>` being
    * folded is recorded in a `compacted_upto` marker (monotone,
    * write-then-rename), and [[appendBatchGrid]] skips any batch at
    * or below it — a replayed micro-batch whose directory was
    * compacted away becomes a no-op, the same exactly-once guarantee
    * the set-based n-gram store gets from SET semantics. The marker
    * is written BEFORE the swap: a crash between the two leaves a
    * batch counted once in the un-compacted store and blocked from
    * re-append — safe, never double-counted. Sprawl is d·w cells per
    * batch (not corpus-sized), so compaction stays a rare maintenance
    * action rather than a per-cycle need. */
  def compactGridStore(spark: org.apache.spark.sql.SparkSession,
                       store: String): Unit = {
    if (!graft.llm.TextDedup.storeNonEmpty(spark, s"$store/grids")) return
    val grids = new org.apache.hadoop.fs.Path(s"$store/grids")
    val fs = grids.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchIds = fs.listStatus(grids).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("batch_") => s.stripPrefix("batch_").toLong }
    val merged = readMergedGrid(spark, store).coalesce(1)
    graft.Pin.during(merged) {
      merged.count() // pin the pre-swap read before the marker blocks replays
      if (batchIds.nonEmpty) {
        val hw = math.max(batchIds.max, highWater(spark, store).getOrElse(Long.MinValue))
        writeHighWater(spark, store, hw)
      }
      graft.llm.TextDedup.compactSwap(spark, s"$store/grids", merged)
    }
  }
}
