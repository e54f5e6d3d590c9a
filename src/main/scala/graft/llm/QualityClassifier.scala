package graft.llm

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained document-quality classifier — the fastText-class filter
  * that curates pretraining corpora (Joulin et al., "Bag of Tricks
  * for Efficient Text Classification", EACL 2017; the GPT-3/WebText
  * quality-filtering recipe in Brown et al. 2020 §A): hashed
  * bag-of-words features, logistic regression trained by full-batch
  * gradient descent, then a score-threshold keep/drop decision over
  * the whole pool. This is the LEARNED sibling of the engine's
  * rule-based selectors — DSIR importance weights (q172),
  * Stupid-Backoff perplexity (q173), heuristic quality scores (q20
  * family): instead of a hand-set formula, the filter's decision
  * boundary is fit to labels.
  *
  * Determinism/parity design (the q82/q112 unrolled-round
  * discipline): every training round is exact-arithmetic dataflow —
  * features are scale-9 decimals, the z = Σ x·w dot product
  * accumulates in exact DECIMAL (summation order cannot move it),
  * the only transcendental (the sigmoid) is computed once per doc
  * per round in double and immediately rounded at scale 9, and the
  * weight update rounds at scale 9 before the next round. A fixed
  * round count (no convergence test on floats) makes the trained
  * model — and every downstream score — reproducible bit-for-bit by
  * any SQL engine, which is how the DuckDB oracle replays the entire
  * training run.
  *
  * Scale design (100 TB lens): one corpus scan builds the long-form
  * feature table (in-row hashing, partial-aggregated (doc, bucket)
  * counts); each GD round is two aggregations — per-doc z under a
  * BROADCAST of the (B+2)-row weight table, then a per-bucket
  * gradient reduce — so a round shuffles (docs, buckets)-bounded
  * partials, never pairs, and the model state is O(B) however large
  * the corpus. The feature table persists across rounds (the
  * PageRank static-table pattern) so the corpus is scanned once, not
  * once per round. Training on a labeled SAMPLE and scoring the full
  * pool — the production shape — is the same code with two different
  * inputs to [[train]] and [[score]].
  */
object QualityClassifier {

  /** `buckets` hashed token buckets + 2 engineered features: bucket
    * B is the intercept (x = 1), bucket B+1 is doc length / 100 —
    * the standard "bag of tricks" add-ons that make a BoW linear
    * model able to express length-sensitive quality rules. */
  final case class Config(buckets: Int = 64, eta: Double = 5.0, rounds: Int = 4)

  private def sigmoid9(z: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-z.cast("double"))), 9)

  /** Long-form feature table (id, b, x decimal(12,9)) from whitespace
    * tokens: x_b = round(count_b / len, 9) for hashed buckets,
    * 1 for the intercept, round(len/100, 9) for the length feature.
    * Frequencies (not raw counts) keep every feature O(1)-bounded so
    * one learning rate fits all buckets. */
  def featurize(docs: DataFrame, idCol: String, textCol: String,
                cfg: Config = Config()): DataFrame = {
    GraftFunctions.ensureRegistered(docs.sparkSession)
    val b = cfg.buckets
    val base = docs.select(col(idCol).as("id"), split(col(textCol), " ").as("s"))
      .where(size(col("s")) >= 1)
    val meta = base.select(col("id"), size(col("s")).as("l"))
    val bow = base.select(col("id"), explode(col("s")).as("t"))
      .select(col("id"), (GraftFunctions.polyHash("t") % b).as("b"))
      .groupBy(col("id"), col("b")).agg(count(lit(1)).as("n"))
    bow.join(meta, "id")
      .select(col("id"), col("b"),
        round(col("n").cast("double") / col("l"), 9).cast("decimal(12,9)").as("x"))
      .unionByName(meta.select(col("id"), lit(b.toLong).as("b"),
        lit(1).cast("decimal(12,9)").as("x")))
      .unionByName(meta.select(col("id"), lit(b + 1L).as("b"),
        round(col("l") / lit(100.0), 9).cast("decimal(12,9)").as("x")))
  }

  /** `cfg.rounds` full-batch GD rounds from w = 0 over `feats`
    * (from [[featurize]]) and integer labels (id, y ∈ {0, 1}):
    * w ← round(w + η · Σ_docs (y − σ₉(Σ_b x·w)) · x / N, 9).
    * Returns the (B+2)-row weight table (b, w decimal(18,9)). The
    * weight table is broadcast every round; `feats` should be
    * persisted by the caller if it is expensive to recompute. */
  def train(feats: DataFrame, labels: DataFrame,
            cfg: Config = Config()): DataFrame = {
    val spark = feats.sparkSession
    val n = labels.count()
    require(n > 0, "quality classifier needs at least one labeled doc")
    var w = spark.range(0, cfg.buckets + 2)
      .select(col("id").as("b"), lit(0).cast("decimal(18,9)").as("w"))
    for (_ <- 1 to cfg.rounds) {
      val e = feats.join(broadcast(w), "b")
        .groupBy(col("id")).agg(sum(col("x") * col("w")).as("z"))
        .join(labels, "id")
        .select(col("id"),
          round(col("y") - sigmoid9(col("z")), 9).cast("decimal(10,9)").as("e"))
      val g = feats.join(e, "id")
        .groupBy(col("b")).agg(sum(col("e") * col("x")).as("g"))
      // (B+2) rows, checkpointed EVERY round: w_r references w_{r-1}
      // twice (through the error term and the update), so an unpinned
      // loop builds an exponentially self-referencing DAG — round r
      // re-evaluates the whole weight lineage ~2^r times (measured at
      // sf1: 75→25 s for the train-and-score pass once pinned). Each
      // checkpoint is a 66-row local materialization that runs the
      // round's two aggregations exactly once — the q82 PageRank
      // static-table pattern applied to the model state.
      w = w.join(g, Seq("b"), "left")
        .select(col("b"),
          round(col("w").cast("double") +
            (lit(cfg.eta) * coalesce(col("g"), lit(0)).cast("double")) /
              lit(n.toDouble), 9)
            .cast("decimal(18,9)").as("w"))
        .transform(graft.Pin.cut)
    }
    w
  }

  /** Train-once / evaluate-many: the frozen-model store. Returns the
    * committed weight table at `store` if one exists; otherwise
    * featurizes `docs`, trains, publishes the (B+2)-row table to
    * `store` (parquet commit — the `_SUCCESS` marker is the
    * completed-build signal, the q171/q198 store discipline), and
    * returns the published copy. Training is exact deterministic
    * arithmetic, so a rebuild by any session writes byte-identical
    * weights — evaluation queries reading the store score against the
    * SAME model the training query published, which is what makes the
    * family's shared oracle (which replays training once) valid for
    * all of them.
    *
    * Scale shape: this is the production classifier lifecycle — the
    * expensive train pass runs once; every evaluation
    * (calibration, threshold sweep, AUC, conformal coverage) and every
    * scoring batch reads 66 frozen rows and pays only its own
    * featurize-and-score scan. */
  def loadOrTrainWeights(docs: DataFrame, idCol: String, textCol: String,
                         labels: DataFrame, cfg: Config,
                         store: String): DataFrame = {
    val spark = docs.sparkSession
    val success = new org.apache.hadoop.fs.Path(s"$store/_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(success)) {
      val feats = featurize(docs, idCol, textCol, cfg)
      val w = graft.Pin.during(feats) {
        train(feats, labels, cfg) // eagerly checkpointed per round
      }
      w.coalesce(1).write.mode("overwrite").parquet(store)
    }
    spark.read.parquet(store)
  }

  /** Per-doc quality score σ₉(Σ_b x·w) ∈ [0, 1] under a trained
    * weight table — one broadcast join + one per-doc reduce over the
    * pool, the cheap full-corpus pass of the production filter. */
  def score(feats: DataFrame, weights: DataFrame): DataFrame =
    feats.join(broadcast(weights), "b")
      .groupBy(col("id")).agg(sum(col("x") * col("w")).as("z"))
      .select(col("id"), sigmoid9(col("z")).as("score"))
}
