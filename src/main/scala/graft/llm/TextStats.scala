package graft.llm

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parameterized text-analysis operators — the per-document enrichment
  * API behind q34–q37/q52. Each returns the input with added columns
  * (or a grouped stat table), so stages chain into a cleaning
  * pipeline: language-ID → quality filter → sample → fingerprint.
  */
object TextStats {

  /** Whitespace-token column helper. */
  private def toks(textCol: String): Column = split(col(textCol), " ")

  /** One row per adjacent-token pair (`w1`, `w2`) of `textCol`,
    * carrying the `keep` columns; docs under two tokens have none. */
  private def bigramPairs(df: DataFrame, textCol: String, keep: Column*): DataFrame =
    df.select(keep :+ toks(textCol).as("t"): _*)
      .where(size(col("t")) >= 2)
      .select(keep :+ explode(expr(
        "transform(slice(t, 1, size(t) - 1), (w, i) -> struct(w AS w1, t[i + 1] AS w2))")).as("p"): _*)
      .select(keep ++ Seq(col("p.w1"), col("p.w2")): _*)

  /** Grouped token statistics (single tokenize+explode pass; doc-level
    * stats ride on each document's pos=0 row).
    * Output: groupCols*, n_docs, n_tokens, avg_tokens, max_tok_len,
    * n_bpe_tokens, n_vocab.
    */
  def tokenStats(df: DataFrame, textCol: String, bpePattern: String,
                 groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    df.select(g :+ toks(textCol).as("toks") :+
        expr(s"size(regexp_extract_all($textCol, '$bpePattern', 0))").cast("long").as("n_bpe"): _*)
      .select(g :+ col("n_bpe") :+ posexplode(col("toks")).as(Seq("pos", "tok")): _*)
      .groupBy(g: _*)
      .agg(count(when(col("pos") === 0, 1)).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        (count(lit(1)) / count(when(col("pos") === 0, 1))).as("avg_tokens"),
        max(length(col("tok"))).cast("int").as("max_tok_len"),
        sum(when(col("pos") === 0, col("n_bpe"))).as("n_bpe_tokens"),
        countDistinct(col("tok")).as("n_vocab"))
  }

  /** Adds `predicted`: stopword-occurrence argmax over the given
    * per-language word lists; ties break by list order (pass sorted
    * keys for alphabetical priority).
    */
  def withPredictedLanguage(df: DataFrame, textCol: String,
                            stopwords: Seq[(String, Seq[String])]): DataFrame = {
    val langs = stopwords.map(_._1)
    val scored = stopwords.foldLeft(df.withColumn("__toks", toks(textCol))) {
      case (acc, (l, words)) =>
        acc.withColumn(s"__s_$l", expr(
          s"size(filter(__toks, t -> array_contains(array(${words.map(w => s"'$w'").mkString(",")}), t)))"))
    }
    val predicted = langs.init.foldRight(lit(langs.last): Column) { (l, rest) =>
      val others = langs.filterNot(_ == l)
      when(others.map(o => col(s"__s_$l") >= col(s"__s_$o")).reduce(_ && _), lit(l))
        .otherwise(rest)
    }
    scored.withColumn("predicted", predicted)
      .drop("__toks" +: langs.map(l => s"__s_$l"): _*)
  }

  /** Adds `score` ∈ [0,1]: length/stopword/short-token quality signal
    * with the given weights (must sum to 1 for a [0,1] range).
    */
  def withQualityScore(df: DataFrame, textCol: String, stopwords: Seq[String],
                       wLength: Double = 0.5, wStop: Double = 0.25,
                       wLong: Double = 0.25, fullLengthTokens: Int = 100): DataFrame =
    df.withColumn("__toks", toks(textCol))
      .withColumn("score",
        least(lit(1.0), size(col("__toks")) / fullLengthTokens.toDouble) * wLength
          + (expr(s"size(filter(__toks, t -> array_contains(array(${stopwords.map(w => s"'$w'").mkString(",")}), t)))")
            / size(col("__toks"))) * wStop
          + (lit(1.0) - expr("size(filter(__toks, t -> length(t) <= 2))") / size(col("__toks"))) * wLong)
      .drop("__toks")

  /** Adds winnowing fingerprint stats (`ws` struct: n_kgrams,
    * n_selected, checksum, min_fp, max_fp) — one O(L) native pass.
    * Documents shorter than k+w-1 chars are dropped (no full window).
    */
  def withWinnowStats(df: DataFrame, textCol: String, k: Int = 8, w: Int = 16): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    df.where(length(col(textCol)) >= k + w - 1)
      .withColumn("ws", expr(s"winnow_stats($textCol, $k, $w)"))
  }

  /** Adds `sample_bucket` (stable content-hash bucket in [0, buckets));
    * filter `sample_bucket < rate` for a reproducible sample —
    * identical across runs, engines and partitionings.
    */
  def withSampleBucket(df: DataFrame, textCol: String, buckets: Int = 100): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    df.withColumn("sample_bucket", pmod(GraftFunctions.polyHash(textCol), lit(buckets)))
  }

  /** Deterministic weighted sampling without replacement — the
    * Efraimidis–Spirakis A-ES scheme (arXiv:cs/0508091, the k-smallest
    * -priority formulation) with a stable content hash standing in for
    * the random draw: priority = key / weight, the k smallest win.
    * Doubling a row's weight halves its priority, doubling its odds
    * over the hash ensemble — while staying reproducible across runs,
    * engines, and partitionings (the same trade [[withSampleBucket]]
    * makes for the unweighted case). `keyCol` must be a deterministic
    * non-negative hash of the row's content (e.g. `poly_hash`);
    * weights must be positive.
    *
    * Shape at scale: orderBy+limit plans as TakeOrdered — per-
    * partition k-heaps merged on the driver, no global sort, no
    * shuffle of the losers. Output: rk, idCol, weightCol, pri
    * (rounded 6; the rank window runs post-limit over k rows).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     keyCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pri"), col(idCol))
    df.select(col(idCol), col(weightCol),
        (col(keyCol).cast("double") / col(weightCol)).as("pri"))
      .orderBy(col("pri"), col(idCol)).limit(k)
      .withColumn("rk", row_number().over(w).cast("int"))
      .select(col("rk"), col(idCol), col(weightCol),
        round(col("pri"), 6).as("pri"))
  }

  /** Per-document n-gram repetition metrics — the Gopher-style
    * machine-text quality rules (published in Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher"):
    * `top_gram_frac` = share of all `nTop`-gram occurrences taken by
    * the single most frequent one; `dup_gram_frac` = share of
    * `nDup`-gram occurrences that are repeats. Boilerplate and
    * degenerate generations score high on both; clean prose scores
    * low. Fractions are rounded to 6 decimals in-operator so
    * downstream decimal-sum averaging stays engine-exact.
    *
    * Scale shape: ZERO shuffles — the metrics are per-document, so
    * each row's gram counts come from one in-row native pass
    * ([[graft.functions.GramStats]]); the explode → GROUP BY
    * (doc, gram) formulation this replaced shuffled every gram
    * occurrence twice for a row-local computation.
    * Output: idCol, top_gram_frac, dup_gram_frac (docs shorter than
    * `max(nTop, nDup)` tokens are dropped — no full gram exists).
    */
  /** Bigram language-model counts: adjacent-token pair frequencies
    * with the conditional probability P(w2 | w1) = cnt / ctx_cnt,
    * where ctx_cnt is w1's total bigram-context count. The building
    * block of n-gram LM estimation and collocation mining.
    *
    * Scale shape: the pair stream is generated in-row (zip of two
    * array slices — no self-join on token position), partially
    * aggregated map-side on (w1, w2), and the context totals come
    * from a second partial aggregation of the already-small count
    * table — the corpus text is never shuffled. Vocabulary-sized
    * output, corpus-sized input.
    * Output: w1, w2, cnt, ctx_cnt, cond_p.
    */
  def bigramModel(df: DataFrame, textCol: String): DataFrame = {
    val pairs = bigramPairs(df, textCol)
    val counts = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
    val ctx = counts.groupBy(col("w1")).agg(sum(col("cnt")).as("ctx_cnt"))
    counts.join(ctx, "w1")
      .select(col("w1"), col("w2"), col("cnt"), col("ctx_cnt"),
        (col("cnt") / col("ctx_cnt")).as("cond_p"))
  }

  /** Interpolated Kneser–Ney bigram model (Kneser & Ney 1995; the
    * Chen & Goodman 1998 interpolated form) — the smoothing that
    * backs off to CONTINUATION counts rather than raw unigram
    * frequency, so "Francisco" (frequent but only ever after "San")
    * stops stealing probability from genuinely versatile words:
    * {{{
    * P(w2|w1) = (c(w1,w2) − D)/c(w1·)
    *          + D · N₁₊(w1·)/c(w1·) · N₁₊(·w2)/N₁₊(··)
    * }}}
    * with absolute discount D (every observed bigram has c ≥ 1 ≥ D so
    * the max(·,0) clamp is vacuous). All sufficient statistics are
    * re-aggregations of the (w1,w2) count table: c(w1·) and the left
    * fan-out N₁₊(w1·) group by w1, the continuation count N₁₊(·w2)
    * groups by w2, and the bigram-type total N₁₊(··) is one row —
    * after the single corpus-sized pair shuffle everything is bounded
    * by vocabulary², never corpus size. Complements [[bigramModel]]
    * (MLE) and the add-one smoothing in [[bigramSurprise]].
    *
    * Output: w1, w2, cnt, ctx_cnt, n1p_left, cont_cnt, p_kn (double;
    * the caller rounds — each term is a bigint-derived double division
    * in a fixed association order, so it is engine-exact).
    */
  def kneserNeyBigram(df: DataFrame, textCol: String,
                      discount: Double = 0.75): DataFrame = {
    val pairs = bigramPairs(df, textCol)
    // the model (vocabulary²-bounded) materializes once — its FOUR
    // consumers below (ctx, cont, types, the join spine) would
    // otherwise each re-run the final aggregate over the (reused)
    // pair-stream exchange; the bigramSurprise pin, same reasoning
    val counts = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .transform(graft.Pin.cut)
    val ctx = counts.groupBy(col("w1"))
      .agg(sum(col("cnt")).as("ctx_cnt"), count(lit(1)).as("n1p_left"))
    val cont = counts.groupBy(col("w2")).agg(count(lit(1)).as("cont_cnt"))
    val types = counts.agg(count(lit(1)).as("n_bigram_types"))
    // association order mirrors the oracle SQL exactly:
    // (cnt−D)/ctx + ((D·n1p)/ctx) · (cont/B)
    counts.join(ctx, "w1").join(cont, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("cnt"), col("ctx_cnt"),
        col("n1p_left"), col("cont_cnt"),
        ((col("cnt").cast("double") - lit(discount)) / col("ctx_cnt") +
          lit(discount) * col("n1p_left").cast("double") / col("ctx_cnt") *
            (col("cont_cnt").cast("double") / col("n_bigram_types"))).as("p_kn"))
  }

  /** Per-document bigram LM familiarity: the mean add-one-smoothed
    * conditional probability P(w2 | w1) = (cnt+1)/(ctx+V) of the
    * document's own adjacent-token pairs under the corpus bigram model
    * ([[bigramModel]] counts; V = bigram-successor vocabulary). Low
    * scores mark documents whose phrasing the corpus has never seen —
    * the log-free twin of perplexity filtering (each smoothed p is one
    * bigint/bigint double division, so scores are engine-exact without
    * transcendentals; the mean is a decimal sum of round(p, 9) terms).
    *
    * Shape at scale: pairs are generated in-row and partially
    * aggregated map-side, so the model build shuffles vocabulary²
    * rows, not corpus rows; the model→pairs scoring join shuffles on
    * (w1, w2) — with a frequency-pruned model (`minCount`) the model
    * side broadcasts instead. Output: idCol, n_bigrams, avg_p.
    */
  def bigramSurprise(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the pair stream feeds both the model build and the scoring join;
    // materializing it once halves the corpus tokenization passes
    val pairs = bigramPairs(df, textCol, col(idCol))
      .transform(graft.Pin.cut)
    // the model (vocabulary²-bounded) also materializes once: its three
    // consumers below would otherwise each re-shuffle the pair stream
    val counts = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .transform(graft.Pin.cut)
    val ctx = counts.groupBy(col("w1")).agg(sum(col("cnt")).as("ctx_cnt"))
    val vocab = counts.agg(countDistinct(col("w2")).as("vs"))
    val model = counts.join(ctx, "w1").crossJoin(broadcast(vocab))
    pairs.join(model, Seq("w1", "w2"))
      .withColumn("p",
        (col("cnt") + lit(1)).cast("double") / (col("ctx_cnt") + col("vs")).cast("double"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(round(col("p"), 9).cast(org.apache.spark.sql.types.DecimalType(27, 9)))
          .cast("double") / count(lit(1)), 6).as("avg_p"))
  }

  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      nTop: Int = 2, nDup: Int = 3): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val minToks = math.max(nTop, nDup)
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col(idCol), toks(textCol).as("toks"))
      .where(size(col("toks")) >= minToks)
      .select(col(idCol),
        expr(s"gram_stats(toks, $nTop)").as("gt"),
        expr(s"gram_stats(toks, $nDup)").as("gd"))
      .select(col(idCol),
        round(col("gt.maxc") / col("gt.total"), 6).as("top_gram_frac"),
        round(col("gd.dupc") / col("gd.total"), 6).as("dup_gram_frac"))
  }

  // ------------------------------------------------------------------
  // n-gram novelty (train/eval overlap) + persisted window store
  // ------------------------------------------------------------------

  /** Every n-token window of `textCol` as one row: (carryCols*, w).
    * Docs shorter than n tokens emit nothing (they have no windows).
    * Window positions are preserved as multiplicity — a window
    * repeated in a doc emits one row per occurrence. */
  def ngramWindows(df: DataFrame, carryCols: Seq[String], textCol: String,
                   n: Int): DataFrame = {
    require(n >= 1, s"window size must be >= 1; got $n")
    df.withColumn("__s", toks(textCol))
      .where(size(col("__s")) >= n)
      .select(carryCols.map(col) :+
        explode(expr(s"transform(sequence(1, size(__s) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(__s, i, $n)))")).as("w"): _*)
  }

  /** Per-document novelty of `eval` against a train-window set
    * (`trainW`: one column `w`, duplicate rows allowed — membership
    * is a LEFT SEMI probe, so duplicates on the train side cannot fan
    * out). Output: keyCols*, n_windows, n_seen, novelty — the
    * fraction of the doc's windows (per POSITION) absent from the
    * train set, the Carlini-style memorization / train-eval-overlap
    * metric as a continuous per-document score. */
  def noveltyAgainst(trainW: DataFrame, eval: DataFrame,
                     keyCols: Seq[String], textCol: String,
                     n: Int): DataFrame = {
    val evalW = ngramWindows(eval, keyCols, textCol, n)
    val tot = evalW.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_windows"))
    val seen = evalW.join(trainW.select(col("w")), Seq("w"), "left_semi")
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_seen"))
    tot.join(seen, keyCols, "left").na.fill(0L, Seq("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen").cast("double") / col("n_windows"), 6))
  }

  /** One-shot novelty: train windows reduced to one distinct set, one
    * membership equi-join. At 100 TB swap the string keys for their
    * 64-bit `poly_hash` — same plan, fixed-width shuffle keys,
    * engine-replayable collisions. */
  def novelty(train: DataFrame, eval: DataFrame, keyCols: Seq[String],
              textCol: String, n: Int): DataFrame =
    noveltyAgainst(ngramWindows(train, Nil, textCol, n).distinct(),
      eval, keyCols, textCol, n)

  /** Absorbs one train batch into a persisted window store: the
    * batch's OWN distinct windows land under `windows/` — with
    * `batchId` set, idempotently in `windows/batch_<id>/` behind the
    * `_SUCCESS` marker (the shared store replay discipline). History
    * is never read: window sets union by concatenation, and
    * duplicate rows across batches are harmless to the semi-join
    * probe (see [[noveltyAgainst]]) — [[compactNgramStore]] dedups
    * them for size, not for correctness. */
  def appendNgramBatch(batch: DataFrame, textCol: String, n: Int,
                       store: String, batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val w = ngramWindows(batch, Nil, textCol, n).distinct()
    batchId match {
      case Some(id) =>
        val sub = s"$store/windows/batch_$id"
        val success = new org.apache.hadoop.fs.Path(s"$sub/_SUCCESS")
        val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(success))
          w.write.mode("overwrite").parquet(sub)
      case None =>
        w.write.mode("append").parquet(s"$store/windows")
    }
  }

  /** The store's window set (duplicates across batches possible —
    * callers probe it with a semi-join). */
  def readNgramStore(spark: org.apache.spark.sql.SparkSession,
                     store: String): DataFrame =
    TextDedup.readStore(spark, s"$store/windows")

  /** Write-then-swap dedup + fold of the per-batch window sets —
    * safe to run any time (unlike an additive grid, a SET is
    * idempotent under replay: a re-appended batch adds only
    * duplicate rows, which the semi-join ignores and the next
    * compaction folds). */
  def compactNgramStore(spark: org.apache.spark.sql.SparkSession,
                        store: String, outFiles: Int = 1): Unit = {
    if (!TextDedup.storeNonEmpty(spark, s"$store/windows")) return
    TextDedup.compactSwap(spark, s"$store/windows",
      readNgramStore(spark, store).distinct().repartition(outFiles))
  }
}
