package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The learned quality-classifier family over the `documents` table —
  * train/score (q203), streaming scoring from the frozen model store
  * (q206), and the evaluation suite (calibration q207, threshold
  * sweep q208, AUC q209, conformal coverage q220), all serving from
  * one published weight table
  * ([[graft.llm.QualityClassifier.loadOrTrainWeights]]). Split out of
  * [[Text]] in round 15 (pure file move, no behavior change).
  */
object TextClassifierEval {
  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Text.docs(spark, sfDir)

  // ---------------------------------------------------------------- q203
  /** Trained quality classifier over the document pool
    * ([[graft.llm.QualityClassifier]]) — the learned filter verb the
    * rule-based selectors (q172 DSIR, q173 Stupid-Backoff, q36
    * heuristics) can't express: hashed bag-of-words + intercept +
    * length features, logistic regression fit by 4 exact-arithmetic
    * full-batch GD rounds, then score + threshold over every doc.
    * The label here is the C4-style length heuristic
    * (n_chars ≥ 300) standing in for human/curated-vs-crawl labels —
    * the synthetic corpus carries no real quality signal (token
    * distributions are flat across langs), so the DEMO label is one
    * the model can provably learn (~91% train accuracy); the
    * pipeline — featurize, train, score, filter — is the verb, and
    * `QualityClassifierSpec` pins that it learns a planted
    * content-based signal too. In the nine-stage pretraining
    * capstone (q184) this slots between the heuristic quality gate
    * and the dedup stages: train on the curated slice, score the
    * pool, keep above threshold.
    *
    * Oracle: the ENTIRE training run is replayed by DuckDB as 4
    * unrolled CTE rounds (the q82/q112 precedent) — per-doc scores
    * hash-checked implies every intermediate weight table matched.
    */
  /** Shared scoring pass behind the classifier family (q203/q207/q208/
    * q209/q220): every doc scored under the q203-configuration model
    * READ FROM THE FROZEN MODEL STORE
    * ([[graft.llm.QualityClassifier.loadOrTrainWeights]]) —
    * train-once/evaluate-many: the first family member a session runs
    * trains and publishes the 66-row weight table; every later one
    * (and q206's streaming scorer) reads it and pays only its own
    * featurize-and-score scan. Training is deterministic, so results
    * — and the shared oracle, which replays training inline — are
    * identical whichever query built the store. Output: (doc_id,
    * label int, score double), eagerly pinned so each consumer
    * aggregates a 1-scan-deep plan. */
  private[queries] val qcCfg =
    graft.llm.QualityClassifier.Config(buckets = 64, eta = 5.0, rounds = 4)

  private[queries] def classifierWeights(spark: SparkSession,
                                         sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val labels = d.select(col("doc_id").as("id"),
      when(col("n_chars") >= 300, 1).otherwise(0).as("y"))
    graft.llm.QualityClassifier.loadOrTrainWeights(d, "doc_id", "text",
      labels, qcCfg, graft.Tables.scratchDir(spark, "qcmodel", sfDir))
  }

  private def classifierScored(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.llm.QualityClassifier
    val d = docs(spark, sfDir)
    val labels = d.select(col("doc_id").as("id"),
      when(col("n_chars") >= 300, 1).otherwise(0).as("y"))
    val w = classifierWeights(spark, sfDir)
    QualityClassifier.score(QualityClassifier.featurize(d, "doc_id", "text", qcCfg), w)
      .join(labels, "id")
      .select(col("id").as("doc_id"), col("y").as("label"), col("score"))
      .transform(graft.Pin.cut)
  }

  def q203(spark: SparkSession, sfDir: String): DataFrame =
    classifierScored(spark, sfDir)
      .withColumn("keep", col("score") >= 0.5)
      .orderBy(col("doc_id"))

  /** The q203 training replay up to a `scored` CTE — shared oracle
    * prefix for q203 (keep/threshold), q207 (calibration bins) and
    * q208 (threshold sweep). */
  private val q203Ctes: String = {
    val ph = graft.functions.PolyHash.duckdbSql("t")
    val B = 64
    val head =
      s"""WITH base AS (
         |  SELECT doc_id, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y,
         |    string_split(text, ' ') AS s
         |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
         |meta AS (SELECT doc_id, y, len(s) AS l FROM base),
         |tk AS (SELECT doc_id, $ph % $B AS b
         |       FROM (SELECT doc_id, unnest(s) AS t FROM base)),
         |bow AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY 1, 2),
         |f AS (
         |  SELECT doc_id, b, CAST(ROUND(CAST(n AS DOUBLE) / l, 9) AS DECIMAL(12,9)) AS x
         |  FROM bow JOIN meta USING (doc_id)
         |  UNION ALL SELECT doc_id, $B AS b, CAST(1 AS DECIMAL(12,9)) AS x FROM meta
         |  UNION ALL SELECT doc_id, ${B + 1} AS b,
         |    CAST(ROUND(l / 100.0, 9) AS DECIMAL(12,9)) AS x FROM meta),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM meta),
         |w0 AS (SELECT CAST(r.i AS BIGINT) AS b, CAST(0 AS DECIMAL(18,9)) AS w
         |       FROM range(0, ${B + 2}) r(i))""".stripMargin
    val gd = (1 to 4).map { r =>
      s""",
         |e$r AS (
         |  SELECT doc_id, CAST(ROUND(y - ROUND(1.0 / (1.0 + EXP(-CAST(z AS DOUBLE))), 9), 9)
         |    AS DECIMAL(10,9)) AS e
         |  FROM (SELECT doc_id, SUM(x * w) AS z FROM f JOIN w${r - 1} USING (b) GROUP BY doc_id)
         |  JOIN meta USING (doc_id)),
         |g$r AS (SELECT b, SUM(e * x) AS g FROM f JOIN e$r USING (doc_id) GROUP BY b),
         |w$r AS (
         |  SELECT b, CAST(ROUND(CAST(w AS DOUBLE) +
         |    5.0 * CAST(COALESCE(g, 0) AS DOUBLE) / n, 9) AS DECIMAL(18,9)) AS w
         |  FROM w${r - 1} LEFT JOIN g$r USING (b) CROSS JOIN nn)""".stripMargin
    }.mkString
    val tail =
      s""",
         |scored AS (
         |  SELECT m.doc_id, m.y AS label,
         |    ROUND(1.0 / (1.0 + EXP(-CAST(z AS DOUBLE))), 9) AS score
         |  FROM (SELECT doc_id, SUM(x * w) AS z FROM f JOIN w4 USING (b) GROUP BY doc_id) zf
         |  JOIN meta m USING (doc_id))""".stripMargin
    head + gd + tail
  }

  val q203Sql: String =
    s"""$q203Ctes
       |SELECT doc_id, label, score, (score >= 0.5) AS keep
       |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q206
  /** q203's trained quality filter SERVED STREAMING — the production
    * "train offline, score online" shape: the classifier trains once
    * on the static corpus (frozen (B+2)-row weight table), then the
    * documents arrive as three file-source micro-batches and each
    * batch is featurized and scored in `foreachBatch` against the
    * broadcast frozen weights, appending to a batchId-idempotent
    * score store (the q171/q183/q198 replay discipline: a replayed
    * micro-batch whose subdirectory committed skips the write). The
    * oracle IS q203's: streamed per-batch scoring must reproduce the
    * one-shot corpus scoring row-for-row, which pins that
    * featurization is genuinely per-document (any corpus-level
    * statistic leaking into [[graft.llm.QualityClassifier.featurize]]
    * would make batch and corpus features diverge) and that serving
    * never retrains.
    *
    * Scale shape: per micro-batch work is one in-row featurize pass +
    * one broadcast join — no history read, no state beyond the O(B)
    * weight table; the score store appends forever without
    * compaction pressure (one row per doc, row-granular identity).
    */
  def q206(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.llm.QualityClassifier
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val cfg = qcCfg
    val d = docs(spark, sfDir)
    // frozen-model store (shared with the whole classifier family):
    // the streaming scorer reads the same published weights the batch
    // evaluations read — the train-once/evaluate-many lifecycle
    val w = classifierWeights(spark, sfDir)
    val base = graft.Tables.scratchDir(spark, "qcstream", sfDir)
    val stager = graft.streaming.FileStager(spark, base)
    val now = System.currentTimeMillis()
    val src = d.select(col("doc_id"), col("n_chars"), col("text"))
    stager.stage(src.where(col("doc_id") % 3 === 0), "batch1", now - 90000)
    stager.stage(src.where(col("doc_id") % 3 === 1), "batch2", now - 60000)
    stager.stage(src.where(col("doc_id") % 3 === 2), "batch3", now - 30000)
    val store = s"$base/scores"
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_chars", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stager.srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val bf = QualityClassifier.featurize(batch, "doc_id", "text", cfg)
        val scored = QualityClassifier.score(bf, w)
          .join(batch.select(col("doc_id").as("id"),
            when(col("n_chars") >= 300, 1).otherwise(0).as("y")), "id")
          .select(col("id").as("doc_id"), col("y").as("label"),
            col("score"), (col("score") >= 0.5).as("keep"))
        val sub = s"$store/batch_$bid"
        val ok = new org.apache.hadoop.fs.Path(s"$sub/_SUCCESS")
        if (!ok.getFileSystem(batch.sparkSession.sparkContext
            .hadoopConfiguration).exists(ok))
          scored.write.mode("overwrite").parquet(sub)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.option("recursiveFileLookup", "true").parquet(store)
      .orderBy(col("doc_id"))
  }

  /** Exact score-decile bin: the scale-9 score is lifted to an exact
    * integer (round kills the float ulp) before the decile division,
    * so 0.3 lands in bin 3 in both engines — `floor(score*10)` on raw
    * doubles would bin 0.3 as 2 (0.3·10 = 2.999…96 in IEEE). */
  private val binExpr =
    "least(9, cast(round(score * 1000000000) as bigint) div 100000000)"
  private val binExprDuck =
    "LEAST(9, CAST(round(score * 1000000000) AS BIGINT) // 100000000)"

  // ---------------------------------------------------------------- q207
  /** Calibration audit of the trained quality classifier (q203) —
    * the reliability-diagram verb (Guo et al., "On Calibration of
    * Modern Neural Networks", ICML 2017) every production filter
    * needs before its scores can be thresholded or mixed: scores
    * bucketed into deciles, each bin reporting its size, mean
    * predicted probability and empirical positive rate, and the
    * |confidence − accuracy| gap whose n-weighted sum is ECE. The
    * logistic filter is trusted only where the gap is small; a large
    * top-bin gap means the 0.5 cut of q203 keeps junk with
    * confidence. Arithmetic discipline: bin membership is decided in
    * exact integers (see [[binExpr]]), bin means accumulate the
    * scale-9 score decimals exactly then round once at 6.
    *
    * Scale shape: one aggregation of the scored pool to ≤10 bin rows
    * — partial-aggregated, corpus-independent output; composes with
    * q206's streamed scores unchanged (the store holds the same
    * (doc_id, label, score) rows).
    */
  def q207(spark: SparkSession, sfDir: String): DataFrame =
    classifierScored(spark, sfDir)
      .withColumn("bin", expr(binExpr))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("label")).as("pos"),
        round(sum(col("score").cast("decimal(12,9)")).cast("double") /
          count(lit(1)), 6).as("avg_score"))
      .withColumn("pos_rate", round(col("pos").cast("double") / col("n"), 6))
      .withColumn("gap", round(abs(col("avg_score") - col("pos_rate")), 6))
      .select(col("bin").cast("int").as("bin"), col("n"), col("pos"),
        col("avg_score"), col("pos_rate"), col("gap"))
      .orderBy(col("bin"))

  val q207Sql: String =
    s"""$q203Ctes,
       |agg AS (
       |  SELECT $binExprDuck AS bin, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(label) AS BIGINT) AS pos,
       |    ROUND(CAST(SUM(CAST(score AS DECIMAL(12,9))) AS DOUBLE) / COUNT(*), 6) AS avg_score
       |  FROM scored GROUP BY 1)
       |SELECT CAST(bin AS INT) AS bin, n, pos, avg_score,
       |  ROUND(CAST(pos AS DOUBLE) / n, 6) AS pos_rate,
       |  ROUND(ABS(avg_score - ROUND(CAST(pos AS DOUBLE) / n, 6)), 6) AS gap
       |FROM agg ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q208
  /** Operating-point sweep for the trained filter (q203) — the
    * precision/recall/F1 curve over decile thresholds that picks the
    * production cut: at each threshold t ∈ {0.0, 0.1, …, 0.9}, a doc
    * is kept iff score ≥ t, and the sweep reports the confusion
    * counts and rates. All counts are exact integer cumulative sums
    * down the decile spine; each rate is one rational rounded at 6
    * (F1 computed directly as 2tp/(2tp+fp+fn) — never from the
    * already-rounded precision/recall). Empty cells guard to NULL.
    *
    * Scale shape: the corpus reduces to ≤10 bin rows in one partial
    * aggregation; the cumulative window runs over the 10-row decile
    * spine (bounded by construction, not by data — allowlisted in
    * `PlanAuditSpec` with this justification).
    */
  def q208(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = classifierScored(spark, sfDir)
      .withColumn("bin", expr(binExpr))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
    val spine = spark.range(0, 10).select(col("id").as("t10"))
    val j = spine
      .join(agg.withColumnRenamed("bin", "t10"), Seq("t10"), "left")
      .na.fill(0L, Seq("n", "pos"))
    val cum = Window.orderBy(col("t10").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    j.withColumn("tp", sum(col("pos")).over(cum))
      .withColumn("fp", sum(col("n") - col("pos")).over(cum))
      .withColumn("fn", sum(col("pos")).over(all) - col("tp"))
      .select(col("t10").cast("int").as("t10"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0, lit(null))
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
          .as("prec"),
        when(col("tp") + col("fn") === 0, lit(null))
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
          .as("rec"),
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(null))
          .otherwise(round(lit(2.0) * col("tp") /
            (lit(2) * col("tp") + col("fp") + col("fn")), 6))
          .as("f1"))
      .orderBy(col("t10"))
  }

  val q208Sql: String =
    s"""$q203Ctes,
       |agg AS (
       |  SELECT $binExprDuck AS bin, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(label) AS BIGINT) AS pos
       |  FROM scored GROUP BY 1),
       |filled AS (
       |  SELECT s.i AS t10, COALESCE(a.n, 0) AS n, COALESCE(a.pos, 0) AS pos
       |  FROM range(0, 10) s(i) LEFT JOIN agg a ON a.bin = s.i),
       |cum AS (
       |  SELECT t10,
       |    CAST(SUM(pos) OVER (ORDER BY t10 DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
       |    CAST(SUM(n - pos) OVER (ORDER BY t10 DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
       |    CAST(SUM(pos) OVER () AS BIGINT) AS allpos
       |  FROM filled)
       |SELECT CAST(t10 AS INT) AS t10, tp, fp, (allpos - tp) AS fn,
       |  CASE WHEN tp + fp = 0 THEN NULL
       |       ELSE ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
       |  CASE WHEN allpos = 0 THEN NULL
       |       ELSE ROUND(CAST(tp AS DOUBLE) / allpos, 6) END AS rec,
       |  CASE WHEN 2 * tp + fp + (allpos - tp) = 0 THEN NULL
       |       ELSE ROUND(2.0 * tp / (2 * tp + fp + (allpos - tp)), 6) END AS f1
       |FROM cum ORDER BY t10""".stripMargin

  // ---------------------------------------------------------------- q209
  /** Exact ROC-AUC of the trained quality classifier — the
    * threshold-free ranking metric completing the q207/q208 eval
    * family (Hanley & McNeil 1982: AUC = P(score⁺ > score⁻), the
    * Mann-Whitney U statistic). Computed EXACTLY from the pair
    * identity: 2·U = Σ_groups 2·pos_g·cumneg_<g + pos_g·neg_g (ties
    * count half, kept integer by the doubling), over per-distinct-
    * score groups; AUC = 2U / (2·npos·nneg), one rational rounded
    * at 6.
    *
    * Scale shape: the pool reduces to per-distinct-score groups in
    * one partial aggregation; the cumulative negative count below
    * each group is [[graft.operators.GlobalRank.withPrefixSum]] —
    * range-repartitioned, per-partition windowed, offset by a
    * partition-count-sized table — so NO data-sized single-partition
    * window anywhere (a naked `SUM() OVER (ORDER BY score)` would be
    * exactly the cliff the GlobalRank family removes). The (npos,
    * nneg) totals ride a 1-row broadcast. 2·npos·nneg overflows
    * int64 beyond ~2·10⁹ positives×negatives — widen the U sum to
    * decimal at that scale (q172's documented trade).
    */
  def q209(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = classifierScored(spark, sfDir)
    val groups = scored.groupBy(col("score"))
      .agg(sum(col("label")).cast("long").as("pos_g"),
        sum(lit(1L) - col("label")).cast("long").as("neg_g"))
    val withCum = graft.operators.GlobalRank
      .withPrefixSum(groups, Seq(col("score")), "neg_g", "cumneg")
    val tot = scored.agg(sum(col("label")).cast("long").as("npos"),
      sum(lit(1L) - col("label")).cast("long").as("nneg"))
    withCum
      .select((lit(2L) * col("pos_g") * col("cumneg") +
        col("pos_g") * col("neg_g")).as("u2"))
      .agg(sum(col("u2")).as("u2"))
      .crossJoin(broadcast(tot))
      .select(col("npos"), col("nneg"),
        (col("npos") * col("nneg")).as("pairs"),
        round(col("u2").cast("double") /
          (lit(2.0) * col("npos") * col("nneg")), 6).as("auc"))
  }

  val q209Sql: String =
    s"""$q203Ctes,
       |groups AS (
       |  SELECT score, CAST(SUM(label) AS BIGINT) AS pos_g,
       |    CAST(SUM(1 - label) AS BIGINT) AS neg_g
       |  FROM scored GROUP BY score),
       |cum AS (
       |  SELECT pos_g, neg_g,
       |    CAST(COALESCE(SUM(neg_g) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumneg
       |  FROM groups),
       |tot AS (
       |  SELECT CAST(SUM(label) AS BIGINT) AS npos,
       |    CAST(SUM(1 - label) AS BIGINT) AS nneg
       |  FROM scored),
       |u AS (SELECT CAST(SUM(2 * pos_g * cumneg + pos_g * neg_g) AS BIGINT) AS u2 FROM cum)
       |SELECT npos, nneg, (npos * nneg) AS pairs,
       |  ROUND(CAST(u2 AS DOUBLE) / (2.0 * npos * nneg), 6) AS auc
       |FROM u CROSS JOIN tot""".stripMargin

  // ---------------------------------------------------------------- q220
  /** Split-conformal calibration of the trained classifier (Vovk et
    * al. 2005; the Angelopoulos & Bates 2023 split recipe) — the
    * distribution-free uncertainty layer that completes the q203
    * evaluation suite: a deterministic 20% calibration split
    * (doc_id mod 5), nonconformity = 1 − score of the TRUE class,
    * conformal threshold = the ⌈(n+1)(1−α)⌉-th smallest calibration
    * nonconformity at α = 0.1 (an exact order statistic via
    * [[graft.operators.GlobalRank]] — partition-parallel, never a
    * single-partition sort), then the two conformal guarantees
    * measured on the held-out 80%: achieved coverage (≥ 1−α in
    * expectation under exchangeability) and mean prediction-set size
    * (the efficiency metric — a set of 2 on a binary task means the
    * classifier abstained). Every comparison is between scale-9
    * doubles both engines compute identically.
    */
  def q220(spark: SparkSession, sfDir: String): DataFrame = {
    val withE = classifierScored(spark, sfDir)
      .withColumn("e_true", when(col("label") === 1,
        round(lit(1.0) - col("score"), 9)).otherwise(col("score")))
    val cal = withE.where(col("doc_id") % 5 === 0)
    val hold = withE.where(col("doc_id") % 5 =!= 0)
    val nc = cal.agg(count(lit(1)).as("n_cal"))
    val thr = graft.operators.GlobalRank
      .withGlobalRank(cal.select(col("doc_id"), col("e_true")),
        Seq(col("e_true"), col("doc_id")), "rk")
      .crossJoin(broadcast(nc))
      .where(col("rk") === expr("(9 * (n_cal + 1) + 9) div 10"))
      .select(col("n_cal"), col("rk").as("m"), col("e_true").as("thr"))
    hold.crossJoin(broadcast(thr))
      .groupBy(col("n_cal"), col("m"), col("thr"))
      .agg(count(lit(1)).as("n_eval"),
        round(sum(when(col("e_true") <= col("thr"), 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("coverage"),
        round(sum(when(round(lit(1.0) - col("score"), 9) <= col("thr"), 1L)
            .otherwise(0L) +
          when(col("score") <= col("thr"), 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("avg_set_size"))
      .select(col("n_cal"), col("m"), col("thr"), col("n_eval"),
        col("coverage"), col("avg_set_size"))
  }

  val q220Sql: String =
    s"""$q203Ctes,
       |ev AS (
       |  SELECT doc_id, label, score,
       |    CASE WHEN label = 1 THEN ROUND(1.0 - score, 9) ELSE score END AS e_true
       |  FROM scored),
       |cal AS (SELECT * FROM ev WHERE doc_id % 5 = 0),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
       |rkd AS (
       |  SELECT e_true,
       |    ROW_NUMBER() OVER (ORDER BY e_true, doc_id) AS rk
       |  FROM cal),
       |th AS (
       |  SELECT n_cal, CAST(rk AS BIGINT) AS m, e_true AS thr
       |  FROM rkd CROSS JOIN nc
       |  WHERE rk = (9 * (n_cal + 1) + 9) // 10),
       |hold AS (SELECT * FROM ev WHERE doc_id % 5 <> 0)
       |SELECT n_cal, m, thr, CAST(COUNT(*) AS BIGINT) AS n_eval,
       |  ROUND(SUM(CASE WHEN e_true <= thr THEN 1 ELSE 0 END) /
       |    CAST(COUNT(*) AS DOUBLE), 6) AS coverage,
       |  ROUND(SUM((CASE WHEN ROUND(1.0 - score, 9) <= thr THEN 1 ELSE 0 END) +
       |            (CASE WHEN score <= thr THEN 1 ELSE 0 END)) /
       |    CAST(COUNT(*) AS DOUBLE), 6) AS avg_set_size
       |FROM hold CROSS JOIN th
       |GROUP BY n_cal, m, thr""".stripMargin


  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q203_quality_classifier", q203 _, Some(q203Sql)),
    // oracle = q203's: streamed frozen-weight scoring must reproduce
    // the one-shot corpus scoring row-for-row (the q159/q188/q198
    // shared-oracle precedent)
    ("q206_stream_quality_scoring", q206 _, Some(q203Sql)),
    ("q207_classifier_calibration", q207 _, Some(q207Sql)),
    ("q208_threshold_sweep", q208 _, Some(q208Sql)),
    ("q209_classifier_auc", q209 _, Some(q209Sql)),
    ("q220_conformal_coverage", q220 _, Some(q220Sql))
  )
}
