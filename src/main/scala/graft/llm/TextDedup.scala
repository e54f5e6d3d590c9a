package graft.llm

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parameterized deduplication operators over any document corpus —
  * the library API behind the declared q27–q30 queries (which pin one
  * configuration each against the DuckDB oracle). All operators take
  * (df, idCol, textCol) plus algorithm parameters and return plain
  * DataFrames, so they compose with arbitrary pipelines.
  *
  * Scale designs are documented per operator in
  * [[graft.queries.Dedup]]; thresholds are rationals (num/den) so
  * prefix lengths use exact integer arithmetic.
  */
object TextDedup {

  /** Exact dedup: content-hash grouping with a min-id survivor policy.
    * Output: idCol, text_sha, n_copies, kept.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = df.select(col(idCol), sha2(col(textCol), 256).as("text_sha"))
    val g = d.groupBy(col("text_sha"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
    d.join(g, "text_sha")
      .select(col(idCol), col("text_sha"), col("n_copies"),
        (col(idCol) === col("keep_id")).as("kept"))
  }

  /** Spreads a narrow source across the full shuffle parallelism
    * before a CPU-heavy per-row stage. A small parquet file arrives as
    * ONE input partition, and AQE coalesces by *bytes*, so without an
    * explicit partition count the expensive projection (higher-order
    * shingle/gram lambdas) runs single-threaded regardless of cores.
    * The O(rows) shuffle is noise next to the projection it feeds; the
    * explicit count is honored (not re-coalesced) by AQE.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Per-document distinct word n-gram shingles, poly-hashed:
    * (idCol, hs: sorted array<long>, sz). One native rolling-hash pass
    * per document ([[graft.functions.ShingleHashes]]) — the
    * higher-order-lambda pipeline it replaced materialized every
    * shingle string and re-hashed each codepoint n times through
    * interpreted lambda calls.
    *
    * Downstream operators reference this UNPERSISTED on purpose:
    * caching the array-heavy output costs more in serialization than
    * recomputing the (scan + native hash) pass per consumer — measured
    * A/B after the native rewrite; the opposite held for the old
    * lambda pipeline.
    */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    spread(df).select(col(idCol), split(col(textCol), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col(idCol), expr(s"shingle_hashes(toks, $n)").as("hs"))
      .withColumn("sz", size(col("hs")))
  }

  /** Exact Jaccard near-dup pairs at threshold `tNum/tDen`, via
    * prefix + length + positional filtering (all lossless).
    * Output: d1, d2, jac.
    *
    * The positional filter is PPJoin's: a token shared at rank `rnk1`
    * of d1's frequency-sorted shingles and `rnk2` of d2's bounds the
    * achievable overlap by `1 + min(sz1-rnk1, sz2-rnk2)`; pairs whose
    * bound can't reach the required overlap
    * `ceil(t/(1+t) * (sz1+sz2))` are pruned before the candidate set
    * materializes. The bound is exact for the first shared token and
    * pairs survive if ANY shared token passes, so no true pair is
    * lost; the verification join then touches a fraction of the
    * shared-token pairs.
    */
  def jaccardNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, tNum: Int = 3, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    val sh = hashedShingles(df, idCol, textCol, n)
    val ex = sh.select(col(idCol), col("sz"), explode(col("hs")).as("h"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    val prefix = ex.join(dfreq, "h")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("dfreq"), col("h"))))
      .where(col("rnk") <= col("sz") - expr(s"($tNum*sz + ${tDen - 1}) div $tDen") + 1)
      .select(col(idCol), col("h"), col("sz"), col("rnk"))
    // required overlap α = ceil(tNum/(tNum+tDen) * (sz1+sz2))
    val alpha =
      expr(s"($tNum*(a.sz + b.sz) + ${tNum + tDen - 1}) div ${tNum + tDen}")
    val cand = prefix.as("a").join(prefix.as("b"),
        col(s"a.h") === col(s"b.h") && col(s"a.$idCol") < col(s"b.$idCol") &&
          col("a.sz") * tDen >= col("b.sz") * tNum &&
          col("b.sz") * tDen >= col("a.sz") * tNum &&
          lit(1) + least(col("a.sz") - col("a.rnk"),
            col("b.sz") - col("b.rnk")) >= alpha)
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2")).distinct()
    val s1 = sh.select(col(idCol).as("d1"), col("hs").as("hs1"), col("sz").as("sz1"))
    val s2 = sh.select(col(idCol).as("d2"), col("hs").as("hs2"), col("sz").as("sz2"))
    cand.join(s1, "d1").join(s2, "d2")
      .withColumn("inter", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("jac", col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .where(col("jac") >= lit(tNum.toDouble / tDen))
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** Containment near-dup pairs: `|A∩B| / min(|A|,|B|) ≥ tNum/tDen`
    * over distinct word n-gram shingles — the near-SUPERSET detector.
    * A short document embedded in a much longer one scores near 1
    * here while its Jaccard vanishes (the union is dominated by the
    * longer doc), so this is the variant that catches quotes,
    * boilerplate wrappers and page-within-page duplication.
    * Output: d1, d2, containment (d1 = the smaller-or-equal side).
    *
    * Prefix filtering adapts asymmetrically: the required overlap
    * `ceil(t·|S|)` constrains only the SMALLER set S, so a true pair
    * must share a shingle among S's rarest `|S| - ceil(t|S|) + 1`
    * (lossless, same argument as Jaccard) — the candidate join probes
    * the smaller side's prefix against the larger side's FULL
    * postings. No length filter applies (that asymmetry is the
    * point); rarity ordering keeps the posting lists short where it
    * matters.
    */
  def containmentNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, tNum: Int = 9, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    val sh = hashedShingles(df, idCol, textCol, n)
    val ex = sh.select(col(idCol), col("sz"), explode(col("hs")).as("h"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    val prefix = ex.join(dfreq, "h")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("dfreq"), col("h"))))
      .where(col("rnk") <= col("sz") - expr(s"($tNum*sz + ${tDen - 1}) div $tDen") + 1)
      .select(col(idCol), col("h"), col("sz"))
    // smaller side's prefix probes the full postings of larger docs;
    // ties in size keep both orientations out via the id tie-break
    val cand = prefix.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col(s"a.$idCol") < col(s"b.$idCol"))))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2")).distinct()
    val s1 = sh.select(col(idCol).as("d1"), col("hs").as("hs1"), col("sz").as("sz1"))
    val s2 = sh.select(col(idCol).as("d2"), col("hs").as("hs2"), col("sz").as("sz2"))
    cand.join(s1, "d1").join(s2, "d2")
      .withColumn("inter", size(array_intersect(col("hs1"), col("hs2"))))
      // exact integer threshold test; the double ratio is output-only
      .where(col("inter") * tDen >= least(col("sz1"), col("sz2")) * tNum)
      .withColumn("containment", col("inter") / least(col("sz1"), col("sz2")))
      .select(col("d1"), col("d2"), col("containment"))
  }

  /** Benchmark decontamination: flag corpus documents that share any
    * word n-gram with a (small) benchmark/eval set — the standard
    * test-set-overlap check run before training (n-gram overlap
    * decontamination as popularized by the GPT-3 appendix; public
    * method, independent implementation).
    *
    * Output: one row per contaminated corpus doc —
    * (idCol, n_shingles, n_overlap, contamination, bench_id) where
    * `contamination` = overlapping / total distinct shingles and
    * `bench_id` is the smallest benchmark doc contributing a hit.
    *
    * Scale design: the benchmark side is eval-set sized (≤ millions
    * of n-grams), so its distinct shingle table is built once,
    * aggregated to (h → min bench id), and BROADCAST; the 100 TB
    * corpus side is one scan + native rolling-hash pass + broadcast
    * hash probe — no corpus-wide shuffle. Only matched (doc, h) rows
    * (contaminated docs only) reach the final per-doc aggregation.
    */
  def contaminationOverlap(corpus: DataFrame, bench: DataFrame,
                           idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val bset = hashedShingles(bench, idCol, textCol, n)
      .select(col(idCol).as("bid"), explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(min(col("bid")).as("bid"))
    val corp = hashedShingles(corpus, idCol, textCol, n)
      .select(col(idCol), col("sz"), explode(col("hs")).as("h"))
    corp.join(broadcast(bset), "h")
      .groupBy(col(idCol), col("sz"))
      .agg(count(lit(1)).as("n_overlap"), min(col("bid")).as("bench_id"))
      .select(col(idCol), col("sz").as("n_shingles"), col("n_overlap"),
        (col("n_overlap") / col("sz")).as("contamination"), col("bench_id"))
  }

  /** MinHash signatures (in-row native pass) + LSH band candidates
    * with signature-estimated and exact Jaccard similarity.
    * Output: d1, d2, est_sim, jac. `k` must be `bands * rowsPerBand`.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 12, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val sh = hashedShingles(df, idCol, textCol, n)
    // signatures are row-local ([[graft.functions.MinHashSig]], same
    // affine hashes as the typed MinHashAggregator — cross-pinned in
    // FunctionProperties): no shingle explode, no per-doc shuffle
    val sig = sh.select(col(idCol), col("sz"), col("hs"),
      expr(s"minhash_sig(hs, $k)").as("sig"))
    val banded = bandify(sig, idCol, k, bands)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"),
        col("a.hs").as("hs1"), col("b.hs").as("hs2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .dropDuplicates("d1", "d2")
    cand
      .withColumn("est_sim",
        expr("long_vector_eq_count(sig1, sig2)") / k.toDouble)
      .withColumn("inter", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("jac", col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .select(col("d1"), col("d2"), col("est_sim"), col("jac"))
  }

  /** Precision/recall of a scored candidate pair list against a scored
    * exact ground truth, swept over similarity thresholds — the
    * evaluation harness for the approximate dedup tier: at each
    * threshold τ a pair is *predicted* if its candidate score ≥ τ and
    * *true* if its exact score ≥ τ; a pair absent from a side scores
    * −1 there (below every τ). MinHash/SimHash banding trades recall
    * for join cost exactly like ANN indexing does
    * ([[graft.llm.VectorSearch.recallAtK]]) — this puts the number on
    * the trade so band/row counts can be tuned from measurements.
    *
    * Both inputs carry (d1, d2, score); duplicates are collapsed. One
    * full-outer join on the pair key + one conditional aggregation per
    * threshold (thresholds explode in-row — no extra scan). Pair
    * lists are candidate-sized, never corpus-sized, so evaluation cost
    * is bounded by the dedup run being evaluated.
    * Output: threshold, tp, fp, fn, prec, rec (rounded to 6 decimals;
    * null when the denominator is 0).
    */
  def pairEvalByThreshold(predicted: DataFrame, truth: DataFrame,
                          thresholds: Seq[Double],
                          predScoreCol: String = "est_sim",
                          truthScoreCol: String = "jac"): DataFrame = {
    val p = predicted.select(col("d1"), col("d2"), col(predScoreCol).as("__ps"))
      .dropDuplicates("d1", "d2")
    val t = truth.select(col("d1"), col("d2"), col(truthScoreCol).as("__ts"))
      .dropDuplicates("d1", "d2")
    val ps = coalesce(col("__ps"), lit(-1.0))
    val ts = coalesce(col("__ts"), lit(-1.0))
    p.join(t, Seq("d1", "d2"), "full_outer")
      .select(ps.as("__ps"), ts.as("__ts"),
        explode(array(thresholds.map(lit(_)): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("__ps") >= col("threshold") && col("__ts") >= col("threshold"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__ps") >= col("threshold") && col("__ts") < col("threshold"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("__ps") < col("threshold") && col("__ts") >= col("threshold"), 1L)
          .otherwise(0L)).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        round(col("tp") / nullif(col("tp") + col("fp"), lit(0L)), 6).as("prec"),
        round(col("tp") / nullif(col("tp") + col("fn"), lit(0L)), 6).as("rec"))
  }

  /** Writes the MinHash signature store for `df` — the artifact an
    * incremental dedup pipeline persists so the NEXT refresh can dedup
    * a new batch against history without rescanning the corpus.
    * Schema: (idCol, sz, hs, sig) — keeping the shingle-hash sets `hs`
    * alongside the k-long signature is what lets the next run verify
    * exact Jaccard against history without the original text.
    *
    * Scale shape: one scan + native hash pass over the corpus, no
    * shuffle at all — the store is written with the source's
    * partitioning. At 100 TB the store is a small fraction of corpus
    * bytes (ids + hashes, no text).
    */
  def writeSignatureStore(df: DataFrame, idCol: String, textCol: String,
                          path: String, n: Int = 3, k: Int = 12,
                          append: Boolean = false): Unit =
    hashedShingles(df, idCol, textCol, n)
      .select(col(idCol), col("sz"), col("hs"),
        expr(s"minhash_sig(hs, $k)").as("sig"))
      .write.mode(if (append) "append" else "overwrite").parquet(path)

  /** Content-hash store for EXACT incremental dedup: one row per
    * distinct content hash with the minimum id that owns it — the
    * exact-dedup counterpart of [[writeSignatureStore]]. Text never
    * enters the store; at 100 TB it is a (32-byte hash, id) table, a
    * vanishing fraction of corpus bytes.
    */
  def writeHashStore(df: DataFrame, idCol: String, textCol: String,
                     path: String): Unit =
    df.select(sha2(col(textCol), 256).as("text_sha"), col(idCol))
      .groupBy(col("text_sha")).agg(min(col(idCol)).as("keep_id"))
      .write.mode("overwrite").parquet(path)

  /** Exact dedup of a NEW batch against the persisted hash store:
    * classifies every batch document as `dup_of_history` (hash already
    * in the store), `dup_in_batch` (first seen in this batch, but not
    * by this row), or `unique`, with the canonical surviving id. The
    * history side is the read-back store — (hash, keep_id) rows, no
    * text, never recomputed.
    *
    * Scale shape: one hash pass over the batch, one shuffle on the
    * 256-bit hash shared by the store join and the in-batch min — raw
    * text bytes never shuffle.
    */
  def exactDedupAgainstStore(newBatch: DataFrame, idCol: String,
                             textCol: String, storePath: String): DataFrame =
    exactClassify(newBatch, idCol, textCol,
      readStore(newBatch.sparkSession, storePath))

  /** The classification join behind [[exactDedupAgainstStore]] and
    * [[exactDedupBatchAndMaintain]]. A store row whose `keep_id` is
    * the batch doc's own id is the doc meeting its OWN persisted hash
    * (a replayed micro-batch, or a re-ingest) — not a duplicate: it
    * falls through to the in-batch classification. */
  private def exactClassify(newBatch: DataFrame, idCol: String,
                            textCol: String, store: DataFrame): DataFrame = {
    val h = newBatch.select(col(idCol), sha2(col(textCol), 256).as("text_sha"))
    val batchMin = h.groupBy(col("text_sha")).agg(min(col(idCol)).as("batch_keep"))
    h.join(store, Seq("text_sha"), "left")
      .join(batchMin, "text_sha")
      .select(col(idCol), col("text_sha"),
        when(col("keep_id").isNotNull && col("keep_id") =!= col(idCol),
          "dup_of_history")
          .when(col("keep_id").isNull && col(idCol) =!= col("batch_keep"),
            "dup_in_batch")
          .otherwise("unique").as("status"),
        when(col("keep_id").isNotNull && col("keep_id") =!= col(idCol),
          col("keep_id")).otherwise(col("batch_keep")).as("canonical_id"))
  }

  /** `foreachBatch` body for STREAMING exact dedup — the exact-hash
    * counterpart of [[dedupBatchAndMaintain]], completing the
    * maintenance story at both incremental tiers: classify the
    * micro-batch against the persisted hash store (empty store ⇒
    * in-batch classification only), then append the `unique` rows'
    * (hash, keep_id) entries so later batches dedup against history ∪
    * everything kept so far. Idempotent per `batchId` exactly like
    * the signature cycle (committed `batch_<id>` subdirectory ⇒ the
    * replay skips the append; its docs meet their own stored hashes
    * and classify `unique`/`dup_in_batch` again, not as duplicates of
    * themselves). Returns the materialized classification.
    */
  def exactDedupBatchAndMaintain(batch: DataFrame, idCol: String,
                                 textCol: String, storePath: String,
                                 batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val store =
      if (storeNonEmpty(spark, storePath)) readStore(spark, storePath)
      else {
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("text_sha", StringType),
            StructField("keep_id", batch.schema(idCol).dataType))))
      }
    val classified = exactClassify(batch, idCol, textCol, store)
      .transform(graft.Pin.cut)
    val additions = classified.where(col("status") === "unique")
      .select(col("text_sha"), col(idCol).as("keep_id"))
    batchId match {
      case Some(id) =>
        val sub = s"$storePath/batch_$id"
        val success = new org.apache.hadoop.fs.Path(s"$sub/_SUCCESS")
        val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(success))
          additions.write.mode("overwrite").parquet(sub)
      case None =>
        additions.write.mode("append").parquet(storePath)
    }
    classified
  }

  /** LSH band explosion over a signature table: one row per (id, band)
    * with the band's row-concatenated key. Shared by the self-join and
    * the against-history paths so both sides band identically.
    */
  private def bandify(sig: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandKeyExpr = (0 until rows)
      .map(r => s"cast(sig[band*$rows+$r] as string)").mkString("concat_ws(',', ", ", ", ")")
    sig.select(col(idCol), col("sig"), col("sz"), col("hs"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .withColumn("bkey", expr(bandKeyExpr))
  }

  /** Incremental near-dup: dedup a NEW batch against the persisted
    * signature store of everything already ingested — the production
    * 100 TB refresh shape, where history is read back as (id, hs, sig)
    * rows and never recomputed from text. Candidates are LSH band
    * matches between store and batch; each carries the
    * signature-estimated and exact Jaccard similarity (exact thanks to
    * the stored shingle sets).
    *
    * Output: d_hist, d_new, est_sim, jac.
    *
    * Scale shape: signatures are computed ONLY for the new batch
    * (typically ≪ history); the join shuffles both sides on the band
    * key — history moves (id, band-key, hs) bytes, not text — and only
    * band-bucket matches reach the verify arithmetic. The same store
    * path is then extended by appending the batch's signatures
    * ([[writeSignatureStore]] on the batch with `Append` semantics at
    * the caller's discretion).
    */
  def dedupAgainstStore(newBatch: DataFrame, idCol: String, textCol: String,
                        storePath: String, n: Int = 3, k: Int = 12,
                        bands: Int = 4): DataFrame =
    dedupAgainstStoreKeyed(newBatch, idCol, textCol, storePath, n, k, bands)
      .dropDuplicates("d_hist", "d_new")
      .select(col("d_hist"), col("d_new"), col("est_sim"), col("jac"))

  /** [[dedupAgainstStore]] plus the HISTORY side's content fingerprint
    * (`hist_ckey` — a 64-bit hash of the stored shingle set), one row
    * per (d_hist, d_new, hist_ckey). The extra column is what lets
    * [[dedupBatchAndMaintain]]'s replay suppression key on (id,
    * content) instead of id alone: with id-only suppression, a doc_id
    * that legitimately RECURS across batches (a re-crawl, a CDC
    * update) would have its genuine duplicate-against-history pair
    * silently dropped on every later batch that contains the same id.
    */
  private[llm] def dedupAgainstStoreKeyed(newBatch: DataFrame, idCol: String,
                                          textCol: String, storePath: String,
                                          n: Int, k: Int,
                                          bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val spark = newBatch.sparkSession
    GraftFunctions.ensureRegistered(spark)
    val hist = bandify(readStore(spark, storePath), idCol, k, bands)
    val sh = hashedShingles(newBatch, idCol, textCol, n)
    val fresh = bandify(
      sh.select(col(idCol), col("sz"), col("hs"),
        expr(s"minhash_sig(hs, $k)").as("sig")), idCol, k, bands)
    val cand = hist.as("a").join(fresh.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col(s"a.$idCol").as("d_hist"), col(s"b.$idCol").as("d_new"),
        xxhash64(col("a.hs")).as("hist_ckey"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"),
        col("a.hs").as("hs1"), col("b.hs").as("hs2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .dropDuplicates("d_hist", "d_new", "hist_ckey")
    cand
      .withColumn("est_sim",
        expr("long_vector_eq_count(sig1, sig2)") / k.toDouble)
      .withColumn("inter", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("jac", col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .select(col("d_hist"), col("d_new"), col("hist_ckey"),
        col("est_sim"), col("jac"))
  }

  /** The band-folded join key for the BUCKETED store path: band index
    * prepended to the band's row-concatenated signature key, so the
    * whole LSH candidate condition is ONE equi-join column — which is
    * what lets it be the bucket column. */
  private def foldBandKey(banded: DataFrame): DataFrame =
    banded.withColumn("bbkey",
      concat_ws(":", col("band"), col("bkey"))).drop("band", "bkey")

  /** [[writeSignatureStore]]'s bucketed form: the store is persisted
    * PRE-BANDED — one row per (id, band) with the folded band key —
    * and `bucketBy(buckets, bbkey)` into a catalog table. The point
    * is the 100 TB refresh asymmetry: history is orders of magnitude
    * larger than any batch, and the plain parquet store pays a full
    * shuffle of history's band rows on EVERY refresh; the bucketed
    * layout moves that shuffle to write time, ONCE, after which every
    * [[dedupAgainstBandedStore]] run shuffles only the new batch into
    * the store's bucketing (plan-asserted in `PipelineSpec`: the
    * history side scans `Bucketed: true` with no Exchange above it).
    * Storage trade: `bands`× row multiplication (sig/hs repeated per
    * band row) — the explicit opt-in documented on
    * [[compactSignatureStore]].
    */
  def writeBandedSignatureStore(df: DataFrame, idCol: String, textCol: String,
                                table: String, n: Int = 3, k: Int = 12,
                                bands: Int = 4, buckets: Int = 8): Unit = {
    require(k % bands == 0, "k must be divisible by bands")
    val sig = hashedShingles(df, idCol, textCol, n)
      .select(col(idCol), col("sz"), col("hs"),
        expr(s"minhash_sig(hs, $k)").as("sig"))
    foldBandKey(bandify(sig, idCol, k, bands))
      .write.format("parquet")
      .bucketBy(buckets, "bbkey").sortBy("bbkey")
      .mode("overwrite").saveAsTable(table)
  }

  /** [[dedupAgainstStore]] against a [[writeBandedSignatureStore]]
    * table: identical pairs, different physical plan — history's band
    * rows are read in bucket order and joined in place; only the
    * batch's (tiny) band rows shuffle. Output: d_hist, d_new,
    * est_sim, jac.
    */
  def dedupAgainstBandedStore(newBatch: DataFrame, idCol: String,
                              textCol: String, table: String, n: Int = 3,
                              k: Int = 12, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val spark = newBatch.sparkSession
    GraftFunctions.ensureRegistered(spark)
    val hist = spark.table(table)
    val sh = hashedShingles(newBatch, idCol, textCol, n)
    val fresh = foldBandKey(bandify(
      sh.select(col(idCol), col("sz"), col("hs"),
        expr(s"minhash_sig(hs, $k)").as("sig")), idCol, k, bands))
    val cand = hist.as("a").join(fresh.as("b"), col("a.bbkey") === col("b.bbkey"))
      .select(col(s"a.$idCol").as("d_hist"), col(s"b.$idCol").as("d_new"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"),
        col("a.hs").as("hs1"), col("b.hs").as("hs2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .dropDuplicates("d_hist", "d_new")
    cand
      .withColumn("est_sim",
        expr("long_vector_eq_count(sig1, sig2)") / k.toDouble)
      .withColumn("inter", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("jac", col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .select(col("d_hist"), col("d_new"), col("est_sim"), col("jac"))
  }

  /** Partial-overlap (shared-passage) detection via a winnowing
    * fingerprint inverted index — MOSS-style (Schleimer, Wilkerson,
    * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03): documents sharing at least `minShared` selected
    * fingerprints are flagged with the shared count and the overlap
    * fraction vs the smaller fingerprint set. This catches documents
    * that QUOTE each other — partial duplication MinHash's whole-set
    * Jaccard dilutes below threshold.
    *
    * Output: d1, d2, n_shared, overlap.
    *
    * Scale shape: one in-row `winnow_set` pass (O(L) rolling hash, no
    * gram shuffle), then an equi-join on fingerprint. Fingerprints
    * present in more than `maxDocFreq` documents are dropped first —
    * boilerplate passages are non-discriminative, and the cap bounds
    * every join bucket to ≤ maxDocFreq² pairs, the skew guard that
    * keeps a viral passage from going quadratic at 100 TB.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 16, minShared: Int = 2,
                         maxDocFreq: Int = 20): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val sel = spread(df)
      .select(col(idCol), expr(s"winnow_set($textCol, $k, $w)").as("fps"))
      .where(col("fps").isNotNull)
    val ex = sel.select(col(idCol), size(col("fps")).as("n_sel"),
      explode(col("fps")).as("fp"))
    val keep = ex.groupBy(col("fp"))
      .agg(count(lit(1)).as("dfreq"))
      .where(col("dfreq") <= maxDocFreq)
      .select(col("fp"))
    val filtered = ex.join(keep, "fp")
    filtered.as("a").join(filtered.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        col("a.n_sel").as("n1"), col("b.n_sel").as("n2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(col("d1"), col("d2"), col("n_shared"),
        (col("n_shared") / least(col("n1"), col("n2")).cast("double"))
          .as("overlap"))
  }

  /** Exact repeated-substring spans — the token-span tier of exact
    * dedup ("Deduplicating Training Data Makes Language Models
    * Better", Lee et al., ACL 2022, arXiv:2107.06499: remove every
    * substring of ≥ `minTokens` tokens that occurs more than once in
    * the corpus). Spark-first restatement of their suffix-array scan:
    * every length-`minTokens` token window is materialized in-row and
    * counted corpus-wide; a window whose token sequence occurs more
    * than once anywhere (other documents OR elsewhere in the same
    * document) is duplicated; per document, overlapping/adjacent
    * duplicated windows merge into maximal spans (gaps-and-islands
    * over start positions). Any repeated substring of length
    * ≥ `minTokens` is exactly a union of duplicated windows, so the
    * merged spans reproduce the suffix-array answer's span boundaries
    * at this granularity.
    *
    * Output: (idCol, span_start, span_end, span_tokens) — 1-based
    * token positions, one row per maximal duplicated span.
    *
    * Scale shape: windows build in-row (no join, no explode-join
    * back); the corpus-wide count is one partially-aggregated shuffle
    * keyed on the window's token string (exact — no hash-collision
    * false positives; at 100 TB prepend `xxhash64(gram)` to the key
    * to shuffle 8-byte prefixes ahead of the string compare, same
    * plan shape); the duplicated-window semi-join is the second and
    * last shuffle; the island merge windows only within
    * (document, start) — never a global window.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 15): DataFrame = {
    require(minTokens >= 2, "minTokens must be >= 2")
    val grams = spread(df)
      .select(col(idCol), split(col(textCol), " ").as("toks"))
      .where(size(col("toks")) >= minTokens)
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(1), size(col("toks")) - minTokens + 1),
          s => array_join(slice(col("toks"), s, lit(minTokens)), " ")))
          .as(Seq("off", "g")))
      .select(col(idCol), (col("off") + 1).cast("long").as("s"), col("g"))
    val dup = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n")).where(col("n") > 1).select(col("g"))
    val hits = grams.join(dup, "g")
      .select(col(idCol), col("s"), (col("s") + minTokens - 1).as("e"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"))
    hits
      .withColumn("brk",
        when(col("s") > coalesce(
          max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(-1L)) + 1, 1).otherwise(0))
      .withColumn("isl", sum(col("brk")).over(w))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Applies [[repeatedSpans]] to the corpus: every token covered by
    * a duplicated span is removed and the document re-assembled from
    * its surviving tokens — the conservative (remove-ALL-occurrences)
    * variant of Lee et al.'s scrub. The keep-one-occurrence variant
    * needs a canonical-survivor election per duplicated substring
    * cluster, which merged islands don't preserve; removing every
    * occurrence is deterministic, strictly stronger dedup, and the
    * policy C4 applies to its repeated three-sentence spans.
    *
    * Output: (idCol, n_tokens, n_removed, clean_text). Documents with
    * no duplicated span pass through with n_removed = 0; a fully
    * duplicated document yields clean_text = ''.
    *
    * Scale shape: [[repeatedSpans]]'s two shuffles, plus one equi
    * join of the corpus to its per-document span list (spans per doc
    * are bounded by tokens per doc, so the collected list is
    * row-sized); the scrub itself is an in-row higher-order filter —
    * no range join, no explode of the corpus.
    */
  def scrubSpans(df: DataFrame, idCol: String, textCol: String,
                 minTokens: Int = 15): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, minTokens)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    df.join(spans, Seq(idCol), "left")
      .select(col(idCol), split(col(textCol), " ").as("toks"),
        coalesce(col("spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
          .as("spans"))
      .select(col(idCol), size(col("toks")).cast("long").as("n_tokens"),
        filter(
          zip_with(col("toks"),
            sequence(lit(1L), size(col("toks")).cast("long")),
            (t, p) => struct(t.as("t"), p.as("p"))),
          tp => !exists(col("spans"),
            sp => tp.getField("p").between(
              sp.getField("span_start"), sp.getField("span_end"))))
          .as("kept"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        array_join(transform(col("kept"), _.getField("t")), " ")
          .as("clean_text"))
  }

  /** Read a signature/hash store laid out as root-level parquet files,
    * per-`batchId` subdirectories, or a mix — `recursiveFileLookup`
    * reads them uniformly without partition inference, so batch jobs
    * and the streaming maintenance cycle share one store. */
  /** Single read entry for every persisted store (shared with the
    * vector-index store): recovers an interrupted [[compactSwap]]
    * first, then reads the root and any per-batch subdirectories. */
  private[graft] def readStore(spark: SparkSession, path: String): DataFrame = {
    recoverSwap(spark, path)
    spark.read.option("recursiveFileLookup", "true").parquet(path)
  }

  /** If a crash between [[compactSwap]]'s two renames left the store
    * moved aside (`.old` exists, the store path does not), one rename
    * restores it — readers and the next compaction both call this, so
    * the store is never observably missing. */
  private[llm] def recoverSwap(spark: SparkSession, storePath: String): Unit = {
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(storePath + ".old")
    if (!fs.exists(store) && fs.exists(old)) fs.rename(old, store)
  }

  /** True iff the store already holds at least one parquet data file
    * (at the root or inside a per-batch subdirectory). */
  private[graft] def storeNonEmpty(spark: SparkSession, storePath: String): Boolean = {
    recoverSwap(spark, storePath)
    val path = new org.apache.hadoop.fs.Path(storePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) && {
      val it = fs.listFiles(path, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Compact a dedup store in place: the per-batch append cycle
    * accumulates one subdirectory of small files per micro-batch, and
    * the against-history band join pays for every one of them in file
    * listing and scan tasks. Compaction rewrites the store as
    * `outFiles` parquet files at the root, dropping any duplicate id
    * rows a legacy non-idempotent append double-wrote (first row wins
    * — signatures for one id are identical by determinism). The
    * compacted copy is fully written to a sibling path first, then
    * swapped in, so a crash mid-compaction leaves the original store
    * intact. Not safe under concurrent readers of the same path — run
    * it between refresh cycles (at 100 TB the swap would be a
    * catalog/view flip instead).
    *
    * A further scale lever documented here deliberately NOT applied:
    * re-bucketing the store by band key would make the
    * against-history join shuffle-free on the history side; it
    * multiplies store size by `bands` (one row per (id, band)), a
    * trade the caller should opt into at a known batch:history ratio.
    */
  def compactSignatureStore(spark: SparkSession, storePath: String,
                            outFiles: Int = 1): Unit = {
    if (!storeNonEmpty(spark, storePath)) return // nothing to compact
    val store = readStore(spark, storePath)
    compactSwap(spark, storePath,
      store.dropDuplicates(store.columns.head).repartition(outFiles))
  }

  /** [[compactSignatureStore]]'s exact-dedup counterpart: merges
    * appended (text_sha, keep_id) fragments, re-resolving the
    * canonical id as the minimum across fragments. */
  def compactHashStore(spark: SparkSession, storePath: String,
                       outFiles: Int = 1): Unit = {
    if (!storeNonEmpty(spark, storePath)) return // nothing to compact
    compactSwap(spark, storePath,
      readStore(spark, storePath)
        .groupBy(col("text_sha")).agg(min(col("keep_id")).as("keep_id"))
        .repartition(outFiles))
  }

  /** TARGETED DELETION from a persisted store — the
    * right-to-be-forgotten verb of the incremental-store family: the
    * given ids' rows are removed with one anti-join and the store is
    * rewritten through [[compactSwap]] (which also folds per-batch
    * fragments, so a delete doubles as a compaction).
    *
    * Exactness is structural: every store in this family keeps
    * PER-DOCUMENT-INDEPENDENT rows (signatures, hashes — no
    * cross-document statistics), so deleting rows by id is exactly
    * equivalent to rebuilding the store from the retained documents —
    * the property `PipelineSpec` pins byte-wise. Stores with
    * cross-document statistics (BM25's df/N/T) must instead re-derive
    * those aggregates from retained postings; their additive-fragment
    * layout makes that the same compaction pass.
    *
    * Scale shape: one shuffle-free anti-join against a broadcast
    * forget-set (deletion lists are tiny relative to the corpus) and
    * one rewrite of the store — amortized as the compaction the
    * refresh cycle owes anyway; history TEXT is never rescanned.
    */
  def deleteFromStore(spark: SparkSession, storePath: String,
                      ids: DataFrame, idCol: String): Unit = {
    if (!storeNonEmpty(spark, storePath)) return // nothing to delete from
    compactSwap(spark, storePath,
      readStore(spark, storePath)
        .join(broadcast(ids.select(col(idCol))), Seq(idCol), "left_anti"))
  }

  /** Write-then-swap: `compacted` (already shaped into its final
    * partitioning/order by the caller) is fully written to a sibling
    * path first, then swapped in via two renames — the store is moved
    * aside (`.old`), the compacted copy renamed into place, and only
    * then is the old copy deleted. Each rename is a single metadata
    * operation, so there is NO window in which the store path is
    * simply gone (the earlier delete-then-rename had one); a crash
    * between the renames leaves both `.old` and `.compacting`, and
    * the recovery preamble of the NEXT compaction (or a manual
    * `mv .old back`) restores service — the data always exists in
    * full at at least one path. Stale sibling paths from an
    * interrupted run are cleaned up front: `.old` is renamed back if
    * the store path is missing, otherwise discarded. */
  private[graft] def compactSwap(spark: SparkSession, storePath: String,
                               compacted: DataFrame): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new org.apache.hadoop.fs.Path(storePath)
    val tmp = new org.apache.hadoop.fs.Path(storePath + ".compacting")
    val old = new org.apache.hadoop.fs.Path(storePath + ".old")
    recoverSwap(spark, storePath) // crash between the two renames
    if (fs.exists(old)) fs.delete(old, true) // stale aside from a completed swap
    compacted.write.mode("overwrite").parquet(tmp.toString)
    // a store path that does not exist yet (a fresh store whose first
    // write IS this compaction) has nothing to move aside — the swap
    // degrades to a plain rename-into-place instead of throwing
    if (fs.exists(store) && !fs.rename(store, old))
      throw new java.io.IOException(s"compactSwap: cannot move $store aside")
    if (!fs.rename(tmp, store)) {
      fs.rename(old, store) // roll back; the original store is intact
      throw new java.io.IOException(s"compactSwap: cannot swap $tmp in")
    }
    fs.delete(old, true)
  }

  /** `foreachBatch` body for STREAMING incremental dedup — the
    * continuous form of the [[writeSignatureStore]] /
    * [[dedupAgainstStore]] refresh cycle: dedup the micro-batch
    * against the store (empty store ⇒ no history pairs) AND against
    * itself (two duplicates arriving in one micro-batch are reported
    * with the smaller id on the `d_hist` side — without the self pass
    * they would never pair and both would enter the store), then
    * append only the SURVIVORS' signatures so later batches dedup
    * against history ∪ everything kept so far. Returns the duplicate
    * pairs found, ALREADY MATERIALIZED (locally checkpointed): the
    * result must be pinned before the append mutates the store the
    * lazy plan would re-read.
    *
    * Exactly-once: pass the `foreachBatch` `batchId` and the append
    * becomes idempotent — survivors land in a per-batch subdirectory
    * (`batch_<id>`), and a replayed micro-batch whose subdirectory
    * already committed (its `_SUCCESS` marker exists) skips the write;
    * a partial directory from a mid-write crash lacks the marker and
    * is safely overwritten. State stays on disk, not in the state
    * store — the store IS the stream's state, shared with batch jobs
    * (readers traverse subdirectories transparently). With
    * `batchId = None` the append degrades to the non-idempotent
    * root-level form for ad-hoc batch use.
    */
  def dedupBatchAndMaintain(batch: DataFrame, idCol: String, textCol: String,
                            storePath: String, n: Int = 3, k: Int = 12,
                            bands: Int = 4,
                            batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val histPairs =
      if (storeNonEmpty(spark, storePath))
        // replay determinism: at original processing time the store
        // never contains this batch's docs (the append happens below),
        // so history pairs have d_hist outside the batch BY
        // CONSTRUCTION. On a replayed micro-batch whose store append
        // already committed, the batch's own survivors are in the
        // store — matching against them (itself, or a batch sibling
        // already counted by selfPairs) is a replay artifact that
        // would double rows in any downstream per-batch sink. The
        // anti-join reproduces the original histPairs exactly in both
        // timelines — keyed on (id, content fingerprint), NOT id
        // alone: a doc_id that legitimately recurs across batches
        // (re-crawl, CDC update) has a DIFFERENT stored shingle set,
        // so its genuine against-history pair survives; only the
        // store row this very batch wrote (same id, same content) is
        // suppressed. (64-bit fingerprint collision odds ~2⁻⁶⁴ — the
        // minhash-band false-positive floor dwarfs it.)
        dedupAgainstStoreKeyed(batch, idCol, textCol, storePath, n, k, bands)
          .join(hashedShingles(batch, idCol, textCol, n)
              .select(col(idCol).as("d_hist"),
                xxhash64(col("hs")).as("hist_ckey")),
            Seq("d_hist", "hist_ckey"), "left_anti")
          .dropDuplicates("d_hist", "d_new")
          .select(col("d_hist"), col("d_new"), col("est_sim"), col("jac"))
      else {
        import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
        val idType = batch.schema(idCol).dataType
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("d_hist", idType), StructField("d_new", idType),
            StructField("est_sim", DoubleType), StructField("jac", DoubleType))))
      }
    val selfPairs = minHashLshPairs(batch, idCol, textCol, n, k, bands)
      .select(col("d1").as("d_hist"), col("d2").as("d_new"),
        col("est_sim"), col("jac"))
    val pairs = histPairs.unionByName(selfPairs).transform(graft.Pin.cut)
    val dupIds = pairs.select(col("d_new")).distinct()
      .withColumnRenamed("d_new", idCol)
    val survivors = batch.join(dupIds, Seq(idCol), "left_anti")
    batchId match {
      case Some(id) =>
        val sub = s"$storePath/batch_$id"
        val success = new org.apache.hadoop.fs.Path(s"$sub/_SUCCESS")
        val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(success))
          writeSignatureStore(survivors, idCol, textCol, sub, n, k)
      case None =>
        writeSignatureStore(survivors, idCol, textCol, storePath, n, k,
          append = true)
    }
    pairs
  }

  /** Connected components over a near-dup pair list: every document in
    * a component gets the component's minimum id as `cluster_id` — the
    * step that turns pairwise matches into dedup groups (keep one doc
    * per cluster).
    *
    * Two execution tiers, picked from the *measured* edge count:
    *
    *  - **Driver union-find** when the deduplicated edge list is small
    *    (≤ `driverEdgeLimit`). The pair list is already the
    *    *aggregated* output of an expensive similarity join — near-dup
    *    pairs are a vanishing fraction of the corpus — so collecting
    *    it is not a hot-path collect; it is the same shape as
    *    collecting an aggregation result. Union-find with
    *    min-rooted merging finishes in milliseconds and needs zero
    *    extra Spark jobs, where any iterative dataflow pays
    *    per-round job-scheduling latency regardless of data size.
    *  - **Alternating large-star/small-star contraction** (the
    *    published MapReduce CC algorithm of Kiveris et al.,
    *    "Connected Components in MapReduce and Beyond", SoCC'14)
    *    above the limit: converges in O(log n) rounds
    *    independent of graph diameter, unlike min-label propagation
    *    whose round count a single long duplicate chain stretches to
    *    the chain length. Each round is two groupBy shuffles over the
    *    current edge set; edges only ever re-point at smaller ids, so
    *    the set shrinks toward one star per component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          driverEdgeLimit: Long = 1L << 20): DataFrame = {
    // canonical undirected edge set (small id second, like the star
    // orientation); referencing `pairs` ONCE keeps the upstream
    // similarity pipeline single-execution even when unpersisted
    val edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val labels = graft.Pin.during(edges) {
      if (edges.count() <= driverEdgeLimit) driverUnionFind(pairs.sparkSession, edges)
      else starContraction(edges)._1
    }
    labels.select(col("u").as("doc_id"), col("cluster_id"))
  }

  /** Driver-side union-find over a collected edge list, min-rooted:
    * when two trees merge the smaller root stays root, so every root
    * is its component's minimum id and `find` IS the cluster label.
    * Ids are whatever the edge columns hold (long, string, …).
    * Strings are compared as UTF-8 bytes (codepoint order) via
    * [[org.apache.spark.unsafe.types.UTF8String]] — `String.compareTo`
    * is UTF-16 code-unit order, which disagrees with Spark's `min()`
    * on supplementary-plane characters, and both CC tiers must pick
    * identical cluster ids. Other atomic types compare through
    * [[java.lang.Comparable]], which matches Spark's ordering.
    */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
                              edges: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val idType = edges.schema("u").dataType
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (sa: String, sb: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(sa)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(sb)) < 0
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    edges.collect().foreach { row =>
      val (u, v) = (row.get(0), row.get(1))
      parent.putIfAbsent(u, u)
      parent.putIfAbsent(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        if (lt(ru, rv)) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val rows: java.util.List[org.apache.spark.sql.Row] =
      parent.keySet.asScala.toSeq
        .map(u => org.apache.spark.sql.Row(u, find(u))).asJava
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("u", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType))))
  }

  /** One large-star round: every node attaches its strictly-larger
    * neighbors to the smallest node it can see (itself included).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: orient edges (big → small); every node
    * re-points its smaller neighbors (and itself) at the smallest.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = or.groupBy(col("u")).agg(min(col("v")).as("m"))
    or.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Alternating star-contraction to a fixed point; at convergence the
    * edge set is a star forest rooted at each component's minimum, so
    * the edges ARE the (node → cluster) labels. Convergence test is
    * two-stage: a cheap (count, order-independent checksum) signature
    * per round — one aggregate — and, only when the signature repeats,
    * an exact set-equality confirmation (`exceptAll.isEmpty`; both
    * sides are `distinct()` outputs, so equal count + empty difference
    * ⇒ equal sets). The exact pass normally runs once, at convergence,
    * and turns a checksum collision from wrong labels into one extra
    * round. Each round is cut ([[graft.Pin.cut]]) so lineage stays flat.
    * Returns the labels and the round count (exposed for the
    * diameter-independence test).
    */
  private[llm] def starContraction(edges0: DataFrame): (DataFrame, Int) = {
    var e = edges0.transform(graft.Pin.cut)
    var signature = e.agg(count(lit(1)), sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")))
      .head()
    var rounds = 0
    var converged = e.isEmpty
    while (!converged) {
      val next = smallStar(largeStar(e)).transform(graft.Pin.cut)
      val sig = next.agg(count(lit(1)), sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")))
        .head()
      rounds += 1
      converged = sig == signature && next.exceptAll(e).isEmpty
      signature = sig
      e = next
    }
    val roots = e.select(col("v")).distinct()
      .select(col("v").as("u"), col("v").as("cluster_id"))
    (e.select(col("u"), col("v").as("cluster_id")).union(roots).distinct(),
      rounds)
  }

  /** SimHash fingerprints (weighted n-gram bits) and near-dup pairs by
    * banded blocking + XOR popcount. Blocking is lossless for
    * `maxHamming < bands`. Output: d1, d2, fp1, fp2, hamming.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2, bits: Int = 32, bands: Int = 4,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < bands, "banded blocking is lossless only for hamming < bands")
    require(bits % bands == 0, "bits must be divisible by bands")
    GraftFunctions.ensureRegistered(df.sparkSession)
    val bandBits = bits / bands
    // fingerprints are row-local ([[graft.functions.SimHashFp]]): one
    // in-row pass per document, no gram shuffle at all — the only
    // shuffle in this operator is the banded candidate join below
    val fps = spread(df).select(col(idCol), split(col(textCol), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col(idCol), expr(s"simhash_fp(toks, $n, $bits)").as("fp"))
    val banded = fps.select(col(idCol), col("fp"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .withColumn("bkey", expr(s"(fp >> (band * $bandBits)) & ${(1L << bandBits) - 1}"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        col("a.fp").as("fp1"), col("b.fp").as("fp2")).distinct()
      .withColumn("hamming", expr("bit_count(fp1 ^ fp2)"))
      .where(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("fp1"), col("fp2"),
        col("hamming").cast("int").as("hamming"))
  }

  /** Sorted-neighborhood (SNM) near-dup pairs — the sort-based
    * blocking family, complementing the hash-based blockers
    * (MinHash/SimHash bands, PPJoin prefixes): order the corpus by a
    * sort key (here the text itself, id tie-break), then compare each
    * document only against its next `window − 1` neighbors by
    * distinct-token Jaccard. Finds the near-identical-prefix
    * duplicates sort order co-locates, at a guaranteed
    * (window−1)·n comparison budget — no bucket-skew blowup by
    * construction, the property hash blockers cannot promise.
    *
    * Ranks come from [[graft.operators.GlobalRank]] — range-partition
    * + per-partition row_number + offset prefix-sum — so there is no
    * single-partition window anywhere; the neighbor pairing is a plain
    * equi-join on the rank. Jaccard is |∩|/|∪| of distinct token sets,
    * an int/int double division — engine-exact.
    * Output: d1, d2 (rank order), jaccard.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              window: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    require(window >= 2, "window must cover at least one neighbor")
    val ranked = graft.operators.GlobalRank
      .withGlobalRank(df.select(col(idCol), col(textCol)),
        Seq(col(textCol), col(idCol)), "r")
    val probes = ranked
      .select(col(idCol).as("d1"), col(textCol).as("t1"), col("r"),
        explode(expr(s"sequence(1, ${window - 1})")).as("delta"))
      .withColumn("r2", col("r") + col("delta"))
    probes.join(
        ranked.select(col(idCol).as("d2"), col(textCol).as("t2"),
          col("r").as("r2")), "r2")
      .withColumn("n1", array_distinct(split(col("t1"), " ")))
      .withColumn("n2", array_distinct(split(col("t2"), " ")))
      .withColumn("inter", size(array_intersect(col("n1"), col("n2"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("n1")) + size(col("n2")) - col("inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
  }
}
