package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gate over the whole declared inventory: no query may
  * regress into a cartesian product, and broadcast nested-loop joins
  * are allowed only where they are the intended physical shape
  * (brute-force kNN's ≠-join and the skyline dominance anti-join).
  * Catches accidental join-condition loss at plan level, before any
  * benchmark run would.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.hive
  private val sfDir = "/root/testdata/sf0.001"

  // BNLJ is the deliberate physical plan for these:
  private val bnljAllowed = Set(
    "q31_cosine_knn",       // all-pairs ≠ join (exact baseline)
    "q48_skyline",          // dominance anti-join over tiny local skylines
    "q21_scalar_subquery",  // 1-row broadcast threshold join
    "q62_bloom_prefilter_join", // 1-row bloom-bitset broadcast onto the probe scan
    "q66_tfidf_search",     // 1-row corpus-size broadcast into the scoring agg
    "q85_heavy_hitters",    // 1-row token-total broadcast into the share filter
    "q89_bigram_surprise",  // 1-row vocab-size broadcast into the smoothing
    "q90_bm25_search",      // 1-row (N, total-tokens) broadcast into the scoring agg
    "q96_triangle_census",  // 1-row count crossjoins assembling the census row
    "q97_chisq_independence", // 1-row grand-total broadcast into the grid
    "q99_sliding_mau_sketch", // 1-row max-day broadcast bounding the spine
    "q100_weighted_allocation", // 1-row budget-total broadcast into apportionment
    "q103_join_skew_stats", // 1-row histogram-total broadcast into the shares
    "q110_column_profile_approx", // 1-row exact-distinct frames broadcast into the envelope checks
    "q115_pq_search", // PQ ADC scans every corpus CODE per query by design (codes, not vectors)
    "q127_temperature_mixture", // 1-row weight-total broadcast into the budget division (q100's shape)
    "q133_lm_examples", // 1-row vocab-size broadcast into the negative-draw modulus
    "q134_ann_recall", // q31's exact baseline IS the eval ground truth (all-pairs by definition)
    "q139_cluster_terms", // 1-row group-count broadcast into the idf (q66's shape)
    "q141_hard_triplets", // declared-quadratic mining baseline (q31's shape; ANN-mined at scale)
    "q143_referential_integrity", // 1-row orphan-count crossjoins assembling each audit row
    "q150_purged_time_split", // 1-row (min-day, n-days) spine broadcast onto the scan
    "q152_skipgram_pairs", // 1-row vocab-size broadcast into the negative-draw modulus
    "q149_sq8_rerank", // SQ8 candidate gen scans every corpus CODE per query (q115's shape)
    "q154_matryoshka_recall", // both sides are the declared-quadratic exact baseline (q134's shape)
    "q158_rrf_fusion", // inherits q66/q90's 1-row corpus-stat broadcasts
    "q159_bm25_incremental", // 1-row (N,T) stats merge + q90's corpus broadcast
    "q160_neyman_sample", // 1-row weight-total broadcast into the apportionment (q100's shape)
    "q161_markov_holdout_eval", // 1-row min-day broadcast onto the event scan
    "q163_collocation_lift", // two 1-row corpus-total broadcasts into the lift
    "q167_fleiss_kappa", // 1-row item-stats x 1-row category-stats crossjoin
    "q172_dsir_sample", // 1-row corpus-totals broadcast into the bucket-lambda table
    "q173_lm_quality_filter", // 1-row LM-token-total broadcast into the transition scoring
    "q174_binary_hamming_search", // Hamming candidate gen scans every 16-byte sign code per query (q149's shape)
    "q177_cuped_experiment", // 1-row CUPED sufficient-statistics broadcast onto the per-user stream (q100's shape)
    "q179_heaps_curve", // 1-row corpus-size broadcast + 10x10 decile triangle join over decile aggregates
    "q187_source_kl_divergence", // 1-row corpus-token-total broadcast into the KL terms
    "q188_bm25_maxscore", // q90's 1-row (N,T) broadcast + 1-row theta-threshold broadcast into the sieve
    "q189_bm25_champion_lists", // q90's 1-row (N,T) broadcast on the exhaustive-fallback path
    "q191_entity_resolution_capped", // 1-row dropped-block report broadcast onto the decision summary
    "q194_countmin_frequency", // 1-row event-total broadcast into the envelope boolean (q85's shape)
    "q198_stream_countmin_maintain", // q194's report tail: the same 1-row total broadcast
    "q202_sequential_patterns", // |Σ|^≤3 pattern spine (155 rows) + 1-row user-total broadcast
    "q209_classifier_auc", // 1-row (npos, nneg) totals broadcast into the AUC denominator
    "q210_kneser_ney_bigram", // 1-row bigram-type-total broadcast into the continuation term
    "q216_pca_power_iteration", // 1-row N/trace/λ-stat broadcasts onto the 64-dim loading table
    "q218_qld_search", // |q|-row term-stat + 1-row corpus-total broadcasts (q90's shape)
    "q220_conformal_coverage") // 1-row n_cal + 1-row conformal-threshold broadcasts

  test("no declared query plans a cartesian product; BNLJ only where intended") {
    // streaming queries execute on materialization, not plan-inspectable
    // the same way — their plans are exercised by their own suite
    val skip = Set("q40_stream_daily_window", "q41_stream_sliding_window",
      "q42_stream_session_window", "q43_stream_dedup_daily",
      "q69_stream_stream_join", "q76_stream_static_join",
      "q84_stream_upsert_snapshot")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => skip(n) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else None
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every declared query outputs only atomic columns") {
    // the driver's DuckDB compare loads results into pandas and sorts
    // every column; an array/map/struct cell is unhashable there and
    // crashes the whole row (q30's HUGEINT and q56's array<double>
    // both shipped before this gate existed) — fail locally instead
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        fn(spark, sfDir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("ivfSearch: salted shuffle-hash expansion, no SMJ re-sort of the pair stream") {
    // The round-15 regression class: ivfSearch's public form cuts its
    // result, so audit the LAZY pipeline directly.
    // Assertions pin the scale-critical shape: (a) the expansion join
    // stays a ShuffledHashJoin on the salted key (the explicit
    // repartition + hint — with a handful of coarse lists the bare key
    // has fewer distinct values than the session has cores); (b) no
    // SortMergeJoin anywhere — an SMJ here means some input reached the
    // planner with an inflated size estimate (every broadcast flipped
    // to SMJ and re-sorted the N²/nlist pair stream, measured 14 s →
    // 430 s at sf1 when a cut still kept its pre-execution estimate);
    // (c) no cartesian. The former "codebook join broadcasts" assert is
    // obsolete: since round 14 the centroid codebook enters as fold-in
    // literals, not a join.
    val e = Tables.load(spark, sfDir, "embeddings")
    val p = graft.llm.VectorSearch
      .ivfSearchPlan(e, "vec_id", "embedding", "label", k = 3, nprobe = 2)(
        _.queryExecution.executedPlan.toString)
    assert(p.contains("ShuffledHashJoin"),
      "expected the salted expansion join to be a ShuffledHashJoin")
    assert(!p.contains("SortMergeJoin"),
      "SMJ in the IVF pipeline means join statistics were lost")
    assert(!p.contains("CartesianProduct"))
  }

  test("a cut small aggregate broadcasts into a join with a larger frame") {
    // ROADMAP S2: a 1,000-row aggregate over 2M rows keeps a ~23 MB
    // pre-execution estimate, above the broadcast threshold. Its cut
    // (Pin.cut) carries the measured size, so with AQE on the join
    // against a 3M-row frame is planned as a broadcast hash join,
    // without the two hash shuffles of a sort-merge join.
    import org.apache.spark.sql.functions.sum
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val small = Pin.cut(spark.range(0, 2000000, 1, 4)
      .selectExpr("id % 1000 AS k", "id AS v").groupBy("k").agg(sum("v").as("s")))
    val big = spark.range(0, 3000000, 1, 4).selectExpr("id % 5000 AS k", "id AS w")
    val plan = big.join(small, "k").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q117: the partition filter prunes at the scan, not post-read") {
    // the partitioned layout's whole point: the event_type predicate
    // must land in PartitionFilters (directory-level pruning at
    // planning time), NOT in the row-level data filters
    val plan = SparkEntry.queries("q117_partition_pruning")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(pf.contains("event_type"),
      s"expected event_type in PartitionFilters, plan had: [$pf]")
    // round-7 regression guard: a pruned PLAN can still read collapsed
    // data (the ts-unit bug produced 1 partition and a green plan
    // assert over wrong rows) — pin the ROWS too: one result row per
    // distinct purchase day, same day set as the unpartitioned scan
    val expectedDays = Tables.load(spark, sfDir, "events")
      .where(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
      .distinct().count()
    val rows = SparkEntry.queries("q117_partition_pruning")(spark, sfDir).count()
    assert(rows == expectedDays && rows > 1,
      s"pruned read returned $rows day rows, direct scan has $expectedDays")
  }

  test("q159: query terms push down to the postings-store scan") {
    // the incremental-index claim rests on this: a refresh must read
    // only the query terms' posting rows, not the whole store — the
    // `tok IN (...)` predicate has to reach the parquet scan
    val plan = SparkEntry.queries("q159_bm25_incremental")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(tok"),
      s"expected In(tok, ...) in PushedFilters over the postings store")
  }

  test("q79: the decile is rank arithmetic, not a single-partition NTILE window") {
    // NTILE OVER (ORDER BY ...) funnels all of orders through one
    // partition; q79 must instead derive the tile from GlobalRank's
    // partition-parallel rank. Assert the window function is gone and
    // the only data-sized window is the per-range-partition row_number
    val plan = SparkEntry.queries("q79_ntile_deciles")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ntile("),
      "q79 regressed to the NTILE window function")
    assert(plan.contains("windowspecdefinition(__pid"),
      "expected the data-sized window to be partitioned by __pid")
  }

  test("q219: the top-k window sorts bucket-thresholded candidates, not the corpus") {
    // the round-14 two-pass histogram threshold: the row_number
    // window's input must be the `bk >= bk_thr` candidate filter (fed
    // by the broadcast per-type threshold join), so no per-type full
    // sort of the positive-value set survives in the plan
    val plan = SparkEntry.queries("q219_hill_tail_index")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bk_thr"),
      "expected the bucket-threshold candidate filter feeding the window")
    assert(plan.contains("BroadcastHashJoin"),
      "expected the per-type threshold table to broadcast")
    // and the candidate set is genuinely a filter: rows entering the
    // exact window are a strict subset of the positive values
    import org.apache.spark.sql.functions.col
    val posRows = Tables.load(spark, sfDir, "events").where(col("value") > 0).count()
    val q = SparkEntry.queries("q219_hill_tail_index")(spark, sfDir)
    assert(q.count() > 0 && posRows > 101,
      "demo data too small to exercise the threshold path")
  }

  test("no declared query plans an unpartitioned data-sized window") {
    // the complement of the BNLJ gate: `row_number() OVER (ORDER BY …)`
    // with no PARTITION BY funnels the whole input through ONE
    // partition — correct at sf0.1, a cliff at web-corpus scale (the
    // Vocab.build class of bug, removed in round 9 via GlobalRank).
    // Structural exemptions, both partition-count/limit-bounded by
    // construction:
    //   (a) GlobalRank's own offsets window — orders by __pid, runs
    //       over one row per range partition, never data rows;
    //   (b) windows whose input sits above a GlobalLimit (q103's
    //       post-limit rank: ≤ limit rows remain).
    // Everything else must be named below with a written justification.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan, Window => LWindow}
    val boundedAllowed = Map(
      "q86_concurrency_sweep" -> "carry-in prefix sum over per-day bucket aggregates (time-span-bounded, not row-count-bounded)",
      "q100_weighted_allocation" -> "window over per-language strata (|langs|, not corpus)",
      "q158_rrf_fusion" -> "rank windows over the topK=20 fused candidates, not the corpus",
      "q160_neyman_sample" -> "apportionment window over per-stratum rows (|strata|, not corpus)",
      "q208_threshold_sweep" -> "cumulative confusion counts over the 10-row decile spine (bounded by construction, not by data)")
    val skip = Set("q40_stream_daily_window", "q41_stream_sliding_window",
      "q42_stream_session_window", "q43_stream_dedup_daily",
      "q69_stream_stream_join", "q76_stream_static_join",
      "q84_stream_upsert_snapshot")
    def pidOnly(w: LWindow): Boolean =
      w.partitionSpec.isEmpty && w.orderSpec.nonEmpty &&
        w.orderSpec.forall(_.child.references.forall(_.name == "__pid"))
    def aboveLimit(p: LogicalPlan): Boolean =
      p.collectFirst { case _: GlobalLimit => () }.isDefined
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => skip(n) || boundedAllowed.contains(n) }
      .flatMap { case (name, fn) =>
        fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty && !pidOnly(w) &&
            !aboveLimit(w.child) =>
            s"$name: unpartitioned window over ${w.orderSpec.map(_.sql).mkString(", ")}"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("column pruning reaches the scan (spot checks)") {
    def readSchema(name: String): String = {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    }
    // q02 projects 3 of orders' 6 columns — the scan must not read more
    val q02Cols = readSchema("q02_top_orders").split(",").map(_.split(":")(0).trim).toSet
    assert(q02Cols == Set("o_orderkey", "o_totalprice", "o_orderdate"))
    // q06 needs 3 of lineitem's 11 columns
    val q06Cols = readSchema("q06_filter_agg").split(",").map(_.split(":")(0).trim).toSet
    assert(q06Cols == Set("l_quantity", "l_extendedprice", "l_discount"))
  }
}
