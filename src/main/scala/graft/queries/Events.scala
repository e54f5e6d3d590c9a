package graft.queries

import graft.{Num, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Batch analytics over the `events` table (JSON props, time windows,
  * sessionization). The streaming variants of these shapes live in
  * [[graft.streaming.EventStreams]]; these batch forms are the
  * oracle-checkable versions.
  *
  * `events.ts` has drifted between parquet logical types across
  * testdata drops (ns, then µs) — [[graft.Tables.loadEvents]] probes
  * the file's actual type. Oracle-checked queries still truncate `ts`
  * to full seconds (or coarser) before any comparison or output, so
  * results are unit-insensitive by construction.
  */
object Events {
  private def ev(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")

  // ---------------------------------------------------------------- q23
  /** JSON extraction (`from_json`) + per-type stats over the parsed key. */
  def q23(spark: SparkSession, sfDir: String): DataFrame =
    ev(spark, sfDir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", IntegerType))))
          .getField("k").as("k"),
        col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).cast(LongType).as("sum_k"),
        min(col("k")).cast(IntegerType).as("min_k"),
        max(col("k")).cast(IntegerType).as("max_k"),
        Num.dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))

  val q23Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  CAST(SUM(CAST(json_extract_string(props, '$$.k') AS INT)) AS BIGINT) AS sum_k,
       |  CAST(MIN(CAST(json_extract_string(props, '$$.k') AS INT)) AS INT) AS min_k,
       |  CAST(MAX(CAST(json_extract_string(props, '$$.k') AS INT)) AS INT) AS max_k,
       |  ${Num.dsumSql("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Tumbling daily window: the batch twin of the streaming windowed agg.
    * Shuffles only (day, event_type) — cardinality-bounded at any scale.
    */
  def q24(spark: SparkSession, sfDir: String): DataFrame =
    ev(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
      .orderBy(col("day"), col("event_type"))

  val q24Sql: String =
    s"""SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
       |  COUNT(*) AS n, ${Num.dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Sessionization via gap detection: lag → new-session flag → running
    * sum as session id → per-session stats. One shuffle on user_id; all
    * three window functions share the same partitioning.
    * Timestamps truncated to seconds first (ns-vs-µs parity).
    */
  def q25(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts_s"), col("value"))
      .withColumn("prev_ts", lag(col("ts_s"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts_s").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(cum).cast(LongType))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_s").cast("long")) - min(col("ts_s").cast("long")))
          .cast(LongType).as("duration_s"),
        Num.dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q25Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, DATE_TRUNC('second', ts) AS ts_s, value FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, ts_s, value,
       |    CASE WHEN LAG(ts_s) OVER w IS NULL
       |         OR DATE_DIFF('second', LAG(ts_s) OVER w, ts_s) > 1800
       |    THEN 1 ELSE 0 END AS new_session
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
       |sessions AS (
       |  SELECT user_id, event_id, ts_s, value,
       |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id, COUNT(*) AS n_events,
       |  CAST(DATE_DIFF('second', MIN(ts_s), MAX(ts_s)) AS BIGINT) AS duration_s,
       |  ${Num.dsumSql("value")} AS sum_value
       |FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Per-user funnel: conditional aggregation (pivot-by-hand) + first/last
    * event via min/max struct ordering.
    */
  def q26(spark: SparkSession, sfDir: String): DataFrame =
    ev(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        count(when(col("event_type") === "error", 1)).as("n_error"),
        min(struct(col("event_id"), col("event_type"))).getField("event_type").as("first_type"),
        max(struct(col("event_id"), col("event_type"))).getField("event_type").as("last_type"))
      .orderBy(col("user_id"))

  val q26Sql: String =
    """SELECT user_id, COUNT(*) AS n,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
      |  ARG_MIN(event_type, event_id) AS first_type,
      |  ARG_MAX(event_type, event_id) AS last_type
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q38
  /** As-of join, completing the theta/range/as-of family: each
    * purchase is matched to the most recent strictly-prior view of the
    * same user. Implemented as a single window pass over the unioned
    * ordered stream — one shuffle on user_id, no join at all (the
    * union+window formulation of as-of, which at any scale beats a
    * per-row backward range join).
    */
  def q38(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev(spark, sfDir)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).cast("long").as("ts_s"))
      .withColumn("prior_view",
        last(when(col("event_type") === "view",
          struct(col("ts_s"), col("event_id"))), ignoreNulls = true).over(byUser))
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        col("prior_view.event_id").as("view_event_id"),
        (col("ts_s") - col("prior_view.ts_s")).as("gap_s"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q38Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |w AS (
      |  SELECT user_id, event_id, event_type, ts_s,
      |    last_value(CASE WHEN event_type = 'view'
      |               THEN struct_pack(ts_s := ts_s, event_id := event_id) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_s, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
      |  FROM e)
      |SELECT user_id, event_id,
      |  prior_view.event_id AS view_event_id,
      |  ts_s - prior_view.ts_s AS gap_s
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q39
  /** Range join, time-bucketed: views of the same user within the hour
    * before each purchase. Instead of an inequality-only join (BNLJ at
    * scale), views land in hour buckets and each purchase probes its
    * two covering buckets — an equi-join on (user_id, bucket) with a
    * cheap residual range filter. Bucket fan-out is a constant 2.
    */
  def q39(spark: SparkSession, sfDir: String): DataFrame = {
    val e = ev(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        date_trunc("second", col("ts")).cast("long").as("ts_s"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_s"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("ts_s").as("v_ts"), col("value"),
        expr("ts_s div 3600").as("bucket"))
    val probes = purchases
      .withColumn("bucket", explode(expr("array(ts_s div 3600 - 1, ts_s div 3600)")))
    val joined = probes.join(views, Seq("user_id", "bucket"))
      .where(col("v_ts") >= col("ts_s") - 3600 && col("v_ts") < col("ts_s"))
      .groupBy(col("user_id"), col("event_id"))
      .agg(count(lit(1)).as("n_views_1h"), Num.dsum(col("value")).as("view_value_1h"))
    purchases.join(joined, Seq("user_id", "event_id"), "left")
      .select(col("user_id"), col("event_id"),
        coalesce(col("n_views_1h"), lit(0L)).as("n_views_1h"),
        coalesce(col("view_value_1h"), lit(0.0)).as("view_value_1h"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q39Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, value,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
       |  FROM events),
       |p AS (SELECT user_id, event_id, ts_s FROM e WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, ts_s AS v_ts, value FROM e WHERE event_type = 'view')
       |SELECT p.user_id, p.event_id,
       |  COUNT(v.v_ts) AS n_views_1h,
       |  COALESCE(${Num.dsumSql("v.value")}, 0.0) AS view_value_1h
       |FROM p LEFT JOIN v
       |  ON v.user_id = p.user_id AND v.v_ts >= p.ts_s - 3600 AND v.v_ts < p.ts_s
       |GROUP BY p.user_id, p.event_id
       |ORDER BY p.user_id, p.event_id""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Salted two-stage aggregation — the skew pattern as a first-class
    * operator. A hot key (one bot user at 100 TB) turns a plain
    * `groupBy(user_id)` into a single-straggler stage; salting splits
    * each key across 8 partial groups, shuffles the *partials*, and
    * recombines — identical results (decimal partials re-sum exactly),
    * bounded per-task key width. The oracle is the unsalted query.
    */
  def q45(spark: SparkSession, sfDir: String): DataFrame = {
    val partials = ev(spark, sfDir)
      .withColumn("salt", pmod(col("event_id"), lit(8)))
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(27, 4))).as("pv"))
    partials.groupBy(col("user_id"))
      .agg(sum(col("pn")).as("n"),
        sum(col("pv")).cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
      .orderBy(col("user_id"))
  }

  val q45Sql: String =
    s"""SELECT user_id, COUNT(*) AS n, ${Num.dsumSql("value")} AS sum_value
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Skew-safe sessionization: q25's shuffle key is `user_id` alone, so
    * one bot user at 100 TB makes one straggler task. This variant
    * keys the shuffle on `(user_id, day)` — sessions are bounded to a
    * calendar day (a documented semantic bound, standard for daily
    * pipeline runs), so a hot user's events spread across as many
    * tasks as days and per-task state stays bounded.
    */
  def q53(spark: SparkSession, sfDir: String): DataFrame = {
    val byUserDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts_s"), col("event_id"))
    val cum = byUserDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts_s"), col("value"))
      .withColumn("day", date_trunc("day", col("ts_s")).cast("date"))
      .withColumn("prev_ts", lag(col("ts_s"), 1).over(byUserDay))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts_s").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(cum).cast(LongType))
      .groupBy(col("user_id"), col("day"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_s").cast("long")) - min(col("ts_s").cast("long")))
          .cast(LongType).as("duration_s"),
        Num.dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("day"), col("session_id"))
  }

  val q53Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, DATE_TRUNC('second', ts) AS ts_s,
       |    CAST(DATE_TRUNC('day', ts) AS DATE) AS day, value FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, day, ts_s, value,
       |    CASE WHEN LAG(ts_s) OVER w IS NULL
       |         OR DATE_DIFF('second', LAG(ts_s) OVER w, ts_s) > 1800
       |    THEN 1 ELSE 0 END AS new_session
       |  FROM e WINDOW w AS (PARTITION BY user_id, day ORDER BY ts_s, event_id)),
       |sessions AS (
       |  SELECT user_id, day, ts_s, value,
       |    CAST(SUM(new_session) OVER (PARTITION BY user_id, day ORDER BY ts_s, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged)
       |SELECT user_id, day, session_id, COUNT(*) AS n_events,
       |  CAST(DATE_DIFF('second', MIN(ts_s), MAX(ts_s)) AS BIGINT) AS duration_s,
       |  ${Num.dsumSql("value")} AS sum_value
       |FROM sessions GROUP BY user_id, day, session_id
       |ORDER BY user_id, day, session_id""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Map-function surface: `props` parsed as MAP<STRING,INT> (dynamic
    * keys, unlike q23's fixed struct), then map_keys/explode/value
    * aggregation per key name.
    */
  def q46(spark: SparkSession, sfDir: String): DataFrame =
    ev(spark, sfDir)
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.IntegerType)).as("m"))
      .select(col("event_type"), size(col("m")).as("n_keys"),
        explode(col("m")).as(Seq("key", "v")))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast(org.apache.spark.sql.types.LongType).as("sum_v"),
        min(col("v")).cast(org.apache.spark.sql.types.IntegerType).as("min_v"),
        max(col("v")).cast(org.apache.spark.sql.types.IntegerType).as("max_v"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy(col("key"))

  val q46Sql: String =
    """WITH kv AS (
      |  SELECT event_type, unnest(json_keys(props)) AS key,
      |    CAST(json_extract_string(props, '$.' || unnest(json_keys(props))) AS INT) AS v
      |  FROM events)
      |SELECT key, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v,
      |  CAST(MIN(v) AS INT) AS min_v, CAST(MAX(v) AS INT) AS max_v,
      |  COUNT(DISTINCT event_type) AS n_types
      |FROM kv GROUP BY key ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Z-order layout clustering ([[graft.operators.ZOrder]]): Morton-
    * interleave (user_id, day) and take the top 6 z-bits as the shard
    * id — the `OPTIMIZE ZORDER BY` shape. The per-shard distinct
    * counts in the output ARE the locality evidence: each shard covers
    * a small rectangle of (user, day) space, so predicates on either
    * dimension prune shards. All in-row bit math; one shuffle for the
    * shard summary.
    */
  def q68(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ev(spark, sfDir)
      .select((col("user_id") % 256).as("x"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").%(256).as("y"))
    graft.operators.ZOrder
      .shardByZ(base, col("x"), col("y"), bits = 8, shardBits = 6)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("min_z"),
        max(col("z")).as("max_z"),
        countDistinct(col("x")).as("n_x"), countDistinct(col("y")).as("n_y"))
      .orderBy(col("shard"))
  }

  val q68Sql: String =
    """WITH base AS (
      |  SELECT event_id, user_id % 256 AS x,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 256 AS y
      |  FROM events),
      |zv AS (
      |  SELECT event_id, x, y,
      |    CAST(SUM(((x >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i)) +
      |             ((y >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))
      |      AS BIGINT) AS z
      |  FROM base CROSS JOIN range(0, 8) r(i) GROUP BY event_id, x, y)
      |SELECT CAST(z >> 10 AS INT) AS shard, COUNT(*) AS n,
      |  MIN(z) AS min_z, MAX(z) AS max_z,
      |  COUNT(DISTINCT x) AS n_x, COUNT(DISTINCT y) AS n_y
      |FROM zv GROUP BY shard ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Z-score outlier detection over event values, grouped by type:
    * rows more than 3 sample standard deviations from their group
    * mean ([[graft.operators.Outliers]]). The moment sums are exact
    * decimals and the mean/std/z arithmetic runs in one written
    * order, so the 3σ cut itself is engine-exact — no rounded-edge
    * flakiness at the threshold.
    */
  def q75(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Outliers
      .flag(ev(spark, sfDir), "value", Seq("event_type"), threshold = 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
        round(col("z"), 6).as("z"))
      .orderBy(col("event_id"))

  val q75Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS dn,
      |    CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS dsx,
      |    CAST(SUM(CAST(value * value AS DECIMAL(38,4))) AS DOUBLE) AS dsxx
      |  FROM events GROUP BY event_type HAVING COUNT(*) >= 2),
      |z AS (
      |  SELECT e.event_id, e.event_type, e.value,
      |    dsx / dn AS mean,
      |    sqrt((dn * dsxx - dsx * dsx) / (dn * (dn - 1.0))) AS std
      |  FROM events e JOIN s USING (event_type))
      |SELECT event_id, event_type, value,
      |  ROUND(mean, 6) AS mean, ROUND(std, 6) AS std,
      |  ROUND((value - mean) / std, 6) AS z
      |FROM z WHERE std > 0.0 AND ABS((value - mean) / std) > 3.0
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Sweep-line interval concurrency ([[graft.operators.Sweep]]): each
    * event opens a 30-minute half-open activity span; the query reports
    * the peak number of simultaneously-open spans per day. The operator
    * runs the scalable two-level form — day-partitioned running sums
    * plus a carry prefix over the tiny day dimension — while the
    * oracle is the classic single-sort global sweep; both are exact
    * integer arithmetic with end-before-start tie order, so they agree
    * bit-for-bit.
    */
  def q86(spark: SparkSession, sfDir: String): DataFrame = {
    val spans = ev(spark, sfDir)
      .select(date_trunc("second", col("ts")).cast("long").as("start_s"))
      .withColumn("end_s", col("start_s") + 1800L)
    graft.operators.Sweep
      .maxConcurrent(spans, t => to_date(timestamp_seconds(t)))
      .withColumnRenamed("bucket", "day")
      .orderBy(col("day"))
  }

  val q86Sql: String =
    """WITH spans AS (
      |  SELECT CAST(epoch(DATE_TRUNC('second', ts)) AS BIGINT) AS start_s,
      |    CAST(epoch(DATE_TRUNC('second', ts)) AS BIGINT) + 1800 AS end_s
      |  FROM events),
      |p AS (
      |  SELECT start_s AS t, 1 AS delta FROM spans
      |  UNION ALL
      |  SELECT end_s AS t, -1 AS delta FROM spans),
      |r AS (
      |  SELECT t, SUM(delta) OVER (ORDER BY t, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM p)
      |SELECT CAST(to_timestamp(t) AS DATE) AS day,
      |  CAST(MAX(run) AS BIGINT) AS max_concurrent
      |FROM r GROUP BY 1 ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q93
  /** First-order Markov transition matrix over per-user event
    * sequences: P(next type | current type) with counts and row
    * totals. One shuffle on user_id for the `lead` window (ordered by
    * truncated ts + event_id, ns-parity as q25); the transition pairs
    * partially aggregate map-side onto an event-type² result, so the
    * matrix stays tiny at any event volume. Probabilities are
    * bigint/bigint double divisions — engine-exact.
    */
  def q93(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
    ev(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).as("ts_s"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("ctx_cnt",
        sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("next_type"), col("cnt"), col("ctx_cnt"),
        round(col("cnt").cast("double") / col("ctx_cnt").cast("double"), 6).as("p"))
      .orderBy(col("event_type"), col("next_type"))
  }

  val q93Sql: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY date_trunc('second', ts), event_id) AS next_type
      |  FROM events),
      |c AS (SELECT event_type, next_type, COUNT(*) AS cnt FROM seq
      |      WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, cnt,
      |  CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS ctx_cnt,
      |  ROUND(cnt / CAST(SUM(cnt) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS p
      |FROM c ORDER BY event_type, next_type""".stripMargin

  // ---------------------------------------------------------------- q98
  /** Retention cohort matrix: users grouped by first-seen week, the
    * share of each cohort still active k weeks later. Two shuffles,
    * both on bounded keys: one groupBy user_id for the cohort
    * assignment (users ≪ events after the distinct), one on
    * (cohort, offset) whose cardinality is weeks². The (user, week)
    * distinct happens FIRST, so raw event volume never reaches the
    * cohort join; retention is an exact bigint/bigint division.
    */
  def q98(spark: SparkSession, sfDir: String): DataFrame = {
    val uw = ev(spark, sfDir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
      // (users × weeks)-bounded; materialized once so the cohort
      // assignment and the activity join don't each rescan raw events
      .transform(graft.Pin.cut)
    val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    val m = uw.join(first, "user_id")
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort_week")) / 7).cast(IntegerType))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val w = Window.partitionBy(col("cohort_week"))
    m.withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(w))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size").cast("double"), 6)
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q98Sql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |f AS (SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY 1),
      |m AS (
      |  SELECT cohort_week,
      |    CAST(datediff('day', cohort_week, wk) // 7 AS INT) AS week_offset,
      |    CAST(COUNT(*) AS BIGINT) AS n_active
      |  FROM uw JOIN f USING (user_id) GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, n_active,
      |  MAX(CASE WHEN week_offset = 0 THEN n_active END)
      |    OVER (PARTITION BY cohort_week) AS cohort_size,
      |  ROUND(n_active / CAST(MAX(CASE WHEN week_offset = 0 THEN n_active END)
      |    OVER (PARTITION BY cohort_week) AS DOUBLE), 6) AS retention
      |FROM m ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------------------------- q99
  /** Trailing 7-day active users per day, twice: exactly, and as a
    * mergeable HLL-sketch union — the sliding-MAU pattern where
    * 100 TB of history is never rescanned (daily sketches are built
    * once; each day's trailing window UNIONS seven tiny sketches).
    * Both sides use the same in-row day-expansion (each daily row
    * contributes to days d..d+6 via `sequence()`+explode) instead of
    * a range join, so the only shuffles are on day keys. The sketch
    * estimate is pinned by a ±5 % envelope boolean against the exact
    * count (default lgConfigK=12 ⇒ ~1.6 % standard error), keeping
    * the row fully hash-checkable, as q78.
    */
  def q99(spark: SparkSession, sfDir: String): DataFrame = {
    val dayUser = ev(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .transform(graft.Pin.cut) // (days × users)-bounded; shared by both sides
    val maxDay = dayUser.agg(max(col("day")).as("max_day"))
    // exact side: expand each (day, user) to its 7 target days
    val exact = dayUser
      .select(explode(expr("sequence(day, date_add(day, 6))")).as("day_t"),
        col("user_id"))
      .groupBy(col("day_t"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    // sketch side: per-day sketches, then 7-way union per target day
    val est = dayUser
      .groupBy(col("day")).agg(hll_sketch_agg(col("user_id")).as("sk"))
      .select(explode(expr("sequence(day, date_add(day, 6))")).as("day_t"),
        col("sk"))
      .groupBy(col("day_t"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
        count(lit(1)).as("n_days_seen"))
    exact.join(est, "day_t").crossJoin(broadcast(maxDay))
      .where(col("day_t") <= col("max_day"))
      .select(col("day_t").as("day"), col("n_exact"), col("n_days_seen"),
        (col("est") >= col("n_exact") * 0.95 &&
          col("est") <= col("n_exact") * 1.05).as("est_in_envelope"))
      .orderBy(col("day"))
  }

  val q99Sql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |mx AS (SELECT MAX(day) AS max_day FROM du),
      |ex AS (
      |  SELECT CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS DATE) AS day_t,
      |    day, user_id
      |  FROM du)
      |SELECT day_t AS day,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days_seen,
      |  TRUE AS est_in_envelope
      |FROM ex CROSS JOIN mx WHERE day_t <= max_day
      |GROUP BY day_t ORDER BY day_t""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Point-in-time dimension join: each event is matched to the
    * dimension version (the customer's latest order price) in effect
    * on the event's day. Implemented as the MERGED-STREAM window —
    * union dimension changes (kind 0) and facts (kind 1), one window
    * per key ordered by (day, kind, key2), `last(value, ignoreNulls)`
    * — which is linear with ONE shuffle on the join key, where the
    * naive formulation is an inequality range join plus a per-fact
    * row_number dedup (the oracle runs exactly that formulation,
    * proving equivalence). Same-day semantics: a dimension change
    * sorts before facts of that day (kind 0 < 1) and the latest
    * orderkey wins among same-day changes — deterministic in both
    * engines.
    */
  def q107(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables.load(spark, sfDir, "orders")
      .select(col("o_custkey").as("k"), to_date(col("o_orderdate")).as("day"),
        col("o_orderkey").as("ord"), col("o_totalprice").as("p"),
        lit(0).as("kind"), lit(null).cast(LongType).as("event_id"))
    val facts = ev(spark, sfDir)
      .select(col("user_id").as("k"), to_date(col("ts")).as("day"),
        col("event_id").as("ord"), lit(null).cast("double").as("p"),
        lit(1).as("kind"), col("event_id"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("day"), col("kind"), col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("eff_p", last(col("p"), ignoreNulls = true).over(w))
      .where(col("kind") === 1)
      .groupBy(col("k").as("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(col("eff_p")).as("n_matched"),
        Num.dsum(col("eff_p")).as("sum_matched_price"))
      .orderBy(col("user_id"))
  }

  val q107Sql: String =
    """WITH dim AS (
      |  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
      |    o_orderkey AS okey, o_totalprice AS p
      |  FROM orders),
      |f AS (SELECT user_id AS k, event_id, CAST(ts AS DATE) AS d FROM events),
      |j AS (
      |  SELECT f.k, f.event_id, dim.p,
      |    ROW_NUMBER() OVER (PARTITION BY f.k, f.event_id
      |      ORDER BY dim.d DESC, dim.okey DESC) AS rn
      |  FROM f JOIN dim ON dim.k = f.k AND dim.d <= f.d),
      |m AS (SELECT k, event_id, p FROM j WHERE rn = 1)
      |SELECT f.k AS user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(m.p) AS BIGINT) AS n_matched,
      |  CAST(SUM(CAST(m.p AS DECIMAL(27,4))) AS DOUBLE) AS sum_matched_price
      |FROM f LEFT JOIN m USING (k, event_id)
      |GROUP BY f.k ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q117
  /** Hive-style partitioned layout + partition pruning — the on-disk
    * contract that makes a selective 100 TB read touch only its
    * directories: events are written `partitionBy("event_type")`, the
    * read filters one type, and Catalyst prunes at PLANNING time
    * (`PartitionFilters` on the scan — asserted in `PlanAuditSpec`),
    * so the other partitions' files are never listed into the scan,
    * let alone read. The oracle computes the same aggregate from the
    * unpartitioned source: layout must be invisible to results.
    */
  def q117(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.Tables.scratchDir(spark, "part", sfDir)
    ev(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(base)
    spark.read.parquet(base)
      .where(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Num.dsum(col("value")).as("sum_value"))
      .orderBy(col("day"))
  }

  val q117Sql: String =
    s"""SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
       |  COUNT(*) AS n,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  ${Num.dsumSql("value")} AS sum_value
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY 1 ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q132
  /** q38's as-of join through the CUSTOM PLANNER OPERATOR
    * ([[graft.plans.AsOf.join]] → `AsOfJoinPlan` → `AsOfStrategy` →
    * `AsOfJoinExec`): purchases and views enter as two separate
    * relations, each hash-partitioned on the user and sorted by
    * (user, ts, id) by Catalyst's EnsureRequirements, then one
    * forward merge per co-partition finds each purchase's last
    * strictly-prior view — O(|L|+|R|) per partition, no window
    * materialization, exchanges elidable for bucketed inputs.
    * Identical output contract to q38 (the union+window form), so
    * the same oracle hash-checks the custom exec end to end.
    */
  def q132(spark: SparkSession, sfDir: String): DataFrame = {
    val e = ev(spark, sfDir)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).cast("long").as("ts_s"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_s"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_event_id"),
        col("ts_s").as("view_ts_s"))
    graft.plans.AsOf.join(purchases, views,
        Seq("user_id"), Seq("v_user"),
        Seq("ts_s", "event_id"), Seq("view_ts_s", "view_event_id"))
      .select(col("user_id"), col("event_id"), col("view_event_id"),
        (col("ts_s") - col("view_ts_s")).as("gap_s"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // ---------------------------------------------------------------- q146
  /** Multi-touch linear attribution with exact-cents allocation: each
    * purchase's value (in integer cents) splits equally across the
    * user's view/click touches in the preceding 7 days, remainder
    * cents going to the EARLIEST touches (largest-remainder a.k.a.
    * Hamilton apportionment with equal weights — q100's discipline,
    * so Σ allocations ≡ purchase cents with zero rounding drift);
    * purchases with no touch window report under '(none)'. The
    * last-touch funnel (q26) answers "did they convert"; this answers
    * "which touch types earn the revenue".
    *
    * Scale shape: the touch↔purchase match is a time-bounded interval
    * join on user (the q39 family — bucket by (user, day) at 100 TB);
    * the rank/count window partitions on purchase id, bounded by one
    * purchase's 7-day touch neighborhood. Output is touch-type-sized.
    */
  def q146(spark: SparkSession, sfDir: String): DataFrame = {
    val e = ev(spark, sfDir)
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"),
        round(col("value") * 100).cast("bigint").as("cents"))
    val t = e.where(col("event_type").isin("view", "click"))
      .select(col("event_id").as("tid"), col("user_id").as("tuid"),
        col("ts").as("tts"), col("event_type").as("touch_type"))
    val touchCond = col("user_id") === col("tuid") &&
      col("tts") < col("pts") &&
      col("tts") >= col("pts") - expr("INTERVAL 7 DAYS")
    val byPurchase = Window.partitionBy(col("pid"))
    val alloc = p.join(t, touchCond)
      .withColumn("rk", row_number().over(
        byPurchase.orderBy(col("tts"), col("tid"))))
      .withColumn("n", count(lit(1)).over(byPurchase))
      .select(col("touch_type"),
        (expr("cents div n")
          + when(col("rk") <= col("cents") % col("n"), 1L).otherwise(0L)).as("ac"))
    val attributed = alloc
      .groupBy(col("touch_type").as("event_type"))
      .agg(count(lit(1)).as("n_touches"), sum(col("ac")).as("attributed_cents"))
    val none = p.join(t, touchCond, "left_anti")
      .agg(count(lit(1)).as("n_touches"), sum(col("cents")).as("attributed_cents"))
      .select(lit("(none)").as("event_type"), col("n_touches"),
        col("attributed_cents"))
    attributed.unionByName(none).orderBy(col("event_type"))
  }

  val q146Sql: String =
    """WITH p AS (
      |  SELECT event_id AS pid, user_id, ts AS pts,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT event_id AS tid, user_id, ts AS tts, event_type
      |  FROM events WHERE event_type IN ('view', 'click')),
      |j AS (
      |  SELECT p.pid, p.cents, t.event_type,
      |    ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY t.tts, t.tid) AS rk,
      |    COUNT(*) OVER (PARTITION BY p.pid) AS n
      |  FROM p JOIN t ON p.user_id = t.user_id
      |    AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY),
      |a AS (
      |  SELECT event_type,
      |    cents // n + CASE WHEN rk <= cents % n THEN 1 ELSE 0 END AS ac
      |  FROM j)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(SUM(ac) AS BIGINT) AS attributed_cents
      |FROM a GROUP BY event_type
      |UNION ALL
      |SELECT '(none)', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(cents) AS BIGINT)
      |FROM p WHERE NOT EXISTS (
      |  SELECT 1 FROM t WHERE t.user_id = p.user_id
      |    AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY)
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q150
  /** Purged time-series cross-validation folds with a 1-day embargo
    * (López de Prado's purged k-fold, the leakage-safe temporal
    * counterpart of q119's cluster-level split): the event span is cut
    * into 5 contiguous day-range test folds, and for each fold every
    * event within one day of the fold boundary is EMBARGOED — excluded
    * from training so that leakage through temporally-adjacent rows
    * (sessions straddling the cut, label horizons overlapping it)
    * cannot inflate eval metrics.
    *
    * Scale design: the fold spine is a 1-row global (min-day, n-days)
    * aggregate broadcast onto the scan (allowlisted 1-row BNLJ); the
    * ×5 fold fan-out is an in-row `explode(sequence(...))` — no join,
    * no extra shuffle; the only shuffle is the 5-row final groupBy.
    * Every step is integer day arithmetic — engine-exact.
    */
  def q150(spark: SparkSession, sfDir: String): DataFrame = {
    val nFolds = 5
    val e = ev(spark, sfDir).select(to_date(col("ts")).as("day"))
    val spine = e.agg(min(col("day")).as("d0"),
      (datediff(max(col("day")), min(col("day"))) + 1).as("n_days"))
    e.crossJoin(broadcast(spine))
      .withColumn("w", ceil(col("n_days") / lit(nFolds.toDouble)).cast(IntegerType))
      .withColumn("d", datediff(col("day"), col("d0")))
      .select(col("d"), col("w"), col("n_days"),
        explode(sequence(lit(0), lit(nFolds - 1))).as("fold"))
      .withColumn("lo", col("fold") * col("w"))
      .withColumn("hi", least((col("fold") + 1) * col("w") - 1, col("n_days") - 1))
      .withColumn("cls",
        when(col("d").between(col("lo"), col("hi")), "test")
          .when(col("d").between(col("lo") - 1, col("hi") + 1), "embargo")
          .otherwise("train"))
      .groupBy(col("fold"))
      .agg(
        sum(when(col("cls") === "train", 1).otherwise(0)).cast(LongType).as("n_train"),
        sum(when(col("cls") === "test", 1).otherwise(0)).cast(LongType).as("n_test"),
        sum(when(col("cls") === "embargo", 1).otherwise(0)).cast(LongType).as("n_embargo"))
      .orderBy(col("fold"))
  }

  val q150Sql: String =
    """WITH spine AS (
      |  SELECT MIN(CAST(ts AS DATE)) AS d0,
      |    DATE_DIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) + 1 AS n_days
      |  FROM events),
      |e AS (
      |  SELECT DATE_DIFF('day', d0, CAST(ts AS DATE)) AS d,
      |    CAST(CEIL(n_days / 5.0) AS INT) AS w, n_days
      |  FROM events CROSS JOIN spine),
      |x AS (
      |  SELECT d, w, n_days, CAST(f.fold AS INT) AS fold
      |  FROM e CROSS JOIN (SELECT UNNEST(range(0, 5)) AS fold) f),
      |c AS (
      |  SELECT fold, d, fold * w AS lo,
      |    LEAST((fold + 1) * w - 1, n_days - 1) AS hi
      |  FROM x)
      |SELECT fold,
      |  CAST(SUM(CASE WHEN d NOT BETWEEN lo - 1 AND hi + 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |  CAST(SUM(CASE WHEN d BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
      |  CAST(SUM(CASE WHEN d BETWEEN lo - 1 AND hi + 1
      |            AND d NOT BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT) AS n_embargo
      |FROM c GROUP BY fold ORDER BY fold""".stripMargin

  // ---------------------------------------------------------------- q161
  /** Temporal-holdout evaluation of a first-order Markov next-event
    * model: transition counts are learned on the first 24 days, the
    * prediction for each source type is the argmax target (ties →
    * lexicographic), and accuracy is measured on the held-out tail —
    * the train-on-past / evaluate-on-future regime every sequence
    * model must be scored under (evaluating on the training window,
    * or splitting randomly, leaks — the q150 purged-fold concern in
    * its simplest form). All counts integer; accuracy is one exact
    * integer ratio per row.
    *
    * Scale: one lag window per user partition (q93's shape), one
    * cardinality-bounded (prev, cur) count, a broadcast |types|-row
    * prediction table, and a (prev)-keyed eval groupBy.
    */
  def q161(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = ev(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val minDay = e.agg(min(to_date(col("ts"))).as("d0"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = e.crossJoin(broadcast(minDay))
      .withColumn("d", datediff(to_date(col("ts")), col("d0")))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .where(col("prev").isNotNull)
      .select(col("prev"), col("event_type").as("cur"), col("d"))
    val train = pairs.where(col("d") < 24)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cnt"))
    val pred = train
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("prev")).orderBy(col("cnt").desc, col("cur"))))
      .where(col("rn") === 1)
      .select(col("prev"), col("cur").as("predicted"))
    pairs.where(col("d") >= 24)
      .join(broadcast(pred), Seq("prev"), "left")
      .groupBy(col("prev"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("cur") === col("predicted"), 1).otherwise(0))
          .cast(LongType).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct") / col("n_test").cast("double"), 6))
      .orderBy(col("prev"))
  }

  val q161Sql: String =
    """WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
      |seq AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
      |    DATE_DIFF('day', d0, CAST(ts AS DATE)) AS d
      |  FROM events CROSS JOIN d0),
      |pairs AS (SELECT prev, event_type AS cur, d FROM seq WHERE prev IS NOT NULL),
      |train AS (SELECT prev, cur, COUNT(*) AS cnt FROM pairs WHERE d < 24 GROUP BY 1, 2),
      |pred AS (
      |  SELECT prev, cur AS predicted FROM (
      |    SELECT prev, cur,
      |      ROW_NUMBER() OVER (PARTITION BY prev ORDER BY cnt DESC, cur) AS rn
      |    FROM train) WHERE rn = 1)
      |SELECT p.prev, CAST(COUNT(*) AS BIGINT) AS n_test,
      |  CAST(SUM(CASE WHEN p.cur = r.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  ROUND(SUM(CASE WHEN p.cur = r.predicted THEN 1 ELSE 0 END) /
      |        CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
      |FROM pairs p LEFT JOIN pred r USING (prev)
      |WHERE p.d >= 24 GROUP BY p.prev ORDER BY p.prev""".stripMargin

  // ---------------------------------------------------------------- q164
  /** q132's custom-exec as-of join with a TOLERANCE bound (pandas
    * `merge_asof` tolerance, QuestDB ASOF ... TOLERANCE): each
    * purchase matches its last strictly-prior view of the same user
    * ONLY if that view is at most 48 hours stale — staler matches
    * null-pad exactly like no-match rows. This is the staleness
    * contract of feature-store point-in-time joins (a feature older
    * than the freshness SLA must not leak into training rows).
    *
    * Exercises the one `AsOfJoinExec` feature q132 doesn't: the
    * emit-time tolerance check inside the forward merge (monotone in
    * the sort order, so the merge never rewinds — still O(|L|+|R|)
    * per co-partition). The oracle reproduces the semantics through a
    * structurally different plan: q38's union+window last-prior-view
    * pass with the staleness predicate applied at emit.
    */
  def q164(spark: SparkSession, sfDir: String): DataFrame = {
    val e = ev(spark, sfDir)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).cast("long").as("ts_s"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_s"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_event_id"),
        col("ts_s").as("view_ts_s"))
    graft.plans.AsOf.join(purchases, views,
        Seq("user_id"), Seq("v_user"),
        Seq("ts_s", "event_id"), Seq("view_ts_s", "view_event_id"),
        tolerance = Some(172800L))
      .select(col("user_id"), col("event_id"), col("view_event_id"),
        (col("ts_s") - col("view_ts_s")).as("gap_s"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q164Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |w AS (
      |  SELECT user_id, event_id, event_type, ts_s,
      |    last_value(CASE WHEN event_type = 'view'
      |               THEN struct_pack(ts_s := ts_s, event_id := event_id) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_s, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
      |  FROM e)
      |SELECT user_id, event_id,
      |  CASE WHEN ts_s - prior_view.ts_s <= 172800
      |       THEN prior_view.event_id END AS view_event_id,
      |  CASE WHEN ts_s - prior_view.ts_s <= 172800
      |       THEN ts_s - prior_view.ts_s END AS gap_s
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q177
  /** CUPED variance-reduced experiment readout (Deng et al., WSDM
    * 2013): users are hash-assigned to two variants, the metric is
    * each user's second-half-of-month spend and the covariate their
    * first-half spend (both in exact integer cents from ONE scan —
    * no join between periods), and the adjusted metric
    * y − θ·(x − x̄) removes the pre-period component of the variance
    * with θ = cov(x,y)/var(x) from the pooled integer sufficient
    * statistics (n, Σx, Σy, Σx², Σxy — one 1-row aggregate). The
    * standard experimentation-platform readout: same point estimate
    * in expectation, tighter CI, here with every input to the double
    * arithmetic an exact integer so both engines compute bit-equal
    * means.
    *
    * Scale: one scan → per-user partial-aggregated shuffle; the
    * sufficient-statistics row broadcasts back (q100's allowlisted
    * 1-row shape); adjusted values re-aggregate per variant through
    * an order-independent DECIMAL sum. θ guards the zero-variance
    * corner (tiny fixtures) to 0.
    */
  def q177(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = ev(spark, sfDir)
      .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(dayofmonth(col("ts")) <= 15, col("vc")).otherwise(0L)).as("x"),
        sum(when(dayofmonth(col("ts")) > 15, col("vc")).otherwise(0L)).as("y"))
      .withColumn("variant", expr(
        "CAST((((user_id * 1103515245 + 12345) % 2147483648) div 1024) % 2 AS INT)"))
    val stats = perUser.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
      sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"))
    perUser.crossJoin(broadcast(stats))
      .withColumn("den", expr(
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"))
      .withColumn("theta", expr(
        """CASE WHEN den = 0.0D THEN 0.0D ELSE
          |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den END""".stripMargin))
      .withColumn("y_adj", expr(
        "CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        round(expr("CAST(SUM(y) AS DOUBLE) / (100.0D * COUNT(*))"), 6).as("mean_raw"),
        round(expr(
          "CAST(SUM(CAST(y_adj AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) / 100.0D"), 6)
          .as("mean_cuped"),
        round(max(col("theta")), 6).as("theta"))
      .orderBy(col("variant"))
  }

  val q177Sql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN date_part('day', ts) <= 15
      |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
      |    SUM(CASE WHEN date_part('day', ts) > 15
      |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y,
      |    CAST((((user_id * 1103515245 + 12345) % 2147483648) // 1024) % 2 AS INT) AS variant
      |  FROM events GROUP BY user_id),
      |st AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
      |    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
      |  FROM pu),
      |adj AS (
      |  SELECT pu.variant, pu.y,
      |    CAST(pu.y AS DOUBLE) -
      |      (CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0.0
      |            ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END)
      |      * (CAST(pu.x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS y_adj,
      |    CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0.0
      |         ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS theta
      |  FROM pu CROSS JOIN st)
      |SELECT variant, COUNT(*) AS n_users,
      |  ROUND(CAST(SUM(y) AS DOUBLE) / (100.0 * COUNT(*)), 6) AS mean_raw,
      |  ROUND(CAST(SUM(CAST(y_adj AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) / 100.0, 6) AS mean_cuped,
      |  ROUND(MAX(theta), 6) AS theta
      |FROM adj GROUP BY variant ORDER BY variant""".stripMargin

  // ---------------------------------------------------------------- q178
  /** Seasonal-lag anomaly detection on daily event volumes — the
    * robust-statistics monitoring verb next to q75's per-value
    * z-score: per event type, the residual of each day's count
    * against its 7-day-lagged value (seasonal-naive forecast) is
    * flagged when it exceeds 3× the series' median absolute
    * deviation. MAD bands don't blow up when the anomaly itself
    * inflates the spread — the property that makes this the standard
    * pipeline-health check where mean/std breaks.
    *
    * Determinism: counts and residuals are integers; the two medians
    * interpolate exact halves (both engines average the middle pair),
    * so the 3·MAD threshold compare is exact-IEEE on both sides. The
    * seasonal lag is an equi-join on (type, day−7), not a window.
    *
    * Scale: the raw scan reduces to (types × days) rows in one
    * partially-aggregated shuffle; everything after is
    * codebook-sized. Per-series rows stay bounded by the calendar
    * window, series count scales horizontally.
    */
  def q178(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = ev(spark, sfDir)
      .groupBy(col("event_type"), dayofmonth(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val prev = daily.select(col("event_type"), (col("day") + 7).as("day"),
      col("cnt").as("prev_cnt"))
    val res = daily.join(prev, Seq("event_type", "day"))
      .withColumn("resid", col("cnt") - col("prev_cnt"))
    val med = res.groupBy(col("event_type"))
      .agg(expr("percentile(resid, 0.5D)").as("med"))
    val mad = res.join(med, "event_type")
      .groupBy(col("event_type"))
      .agg(expr("percentile(abs(resid - med), 0.5D)").as("mad"))
    res.join(mad, "event_type")
      .select(col("event_type"), col("day"), col("cnt"), col("prev_cnt"),
        col("resid"), round(col("mad"), 6).as("mad"),
        when(abs(col("resid")) > lit(3.0) * col("mad"), 1).otherwise(0)
          .cast("int").as("flagged"))
      .orderBy(col("event_type"), col("day"))
  }

  val q178Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_part('day', ts) AS INT) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |res AS (
      |  SELECT d.event_type, d.day, d.cnt, p.cnt AS prev_cnt,
      |    d.cnt - p.cnt AS resid
      |  FROM daily d JOIN daily p
      |    ON p.event_type = d.event_type AND p.day = d.day - 7),
      |med AS (SELECT event_type, median(resid) AS med FROM res GROUP BY 1),
      |madt AS (
      |  SELECT r.event_type, median(abs(r.resid - m.med)) AS mad
      |  FROM res r JOIN med m USING (event_type) GROUP BY 1)
      |SELECT r.event_type, r.day, r.cnt, r.prev_cnt, r.resid,
      |  ROUND(m.mad, 6) AS mad,
      |  CAST(CASE WHEN abs(r.resid) > 3.0 * m.mad THEN 1 ELSE 0 END AS INT) AS flagged
      |FROM res r JOIN madt m USING (event_type)
      |ORDER BY r.event_type, r.day""".stripMargin

  // ---------------------------------------------------------------- q194
  /** Count-Min sketch point-frequency estimation
    * ([[graft.operators.CountMin]] — Cormode & Muthukrishnan 2005)
    * over per-user event counts, built the MERGEABLE way: one d×w
    * grid per day, merged by cell-wise addition into the full-period
    * grid (CMS linearity — the q78/q87 never-rescan-history
    * discipline applied to point frequencies; the oracle builds the
    * global grid directly, so the per-day-partials-then-merge path is
    * hash-checked equal to the one-shot build). Estimates = min over
    * the d counters per user; output is the top-20 users by exact
    * count with their estimate, overcount (≥ 0 by construction — CMS
    * never undercounts) and a deterministic ≤ 3N/w envelope boolean
    * (the paper's εN at w = ⌈e/ε⌉, e rounded up to 3), the
    * q56/q78-style check that the hash grid behaves.
    *
    * Scale shape: the sketch pass is one partial-aggregated shuffle
    * of ≤ partitions·d·w cell rows; the merged grid (d·w cells) is
    * broadcast to the probe join; exact counts cost one group-by —
    * present here only because the evaluation reports estimate vs
    * truth (production serves estimates from the grid alone).
    */
  /** q194/q198's shared report tail: top-20 users by exact count with
    * their grid estimate, overcount, and the 3N/w envelope boolean. */
  private def cmsReport(e: DataFrame, grid: DataFrame,
                        d: Int, w: Int): DataFrame = {
    import graft.operators.CountMin
    val est = CountMin.estimates(grid, e.select("user_id"), "user_id", d, w)
    val exact = e.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    val tot = e.agg(count(lit(1)).as("n_total"))
    exact.join(est, exact("user_id").cast("string") === est("term"))
      .crossJoin(broadcast(tot))
      .withColumn("overcount", col("est") - col("n_exact"))
      .select(col("user_id"), col("n_exact"), col("est").as("n_est"),
        col("overcount"),
        (col("overcount") * w <= lit(3) * col("n_total")).as("within_bound"))
      .orderBy(col("n_exact").desc, col("user_id"))
      .limit(20)
  }

  def q194(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.CountMin
    val d = 4; val w = 128
    // four consumers (grid build, probe set, exact counts, total) each
    // re-scanned + re-spread the events table; pin the 2-column
    // projection once (§2.4)
    val e = ev(spark, sfDir).select(col("user_id"), to_date(col("ts")).as("day"))
    graft.Pin.during(e) {
      val grid = CountMin.merge(CountMin.sketch(e, "user_id", d, w, Seq("day")))
      cmsReport(e, grid, d, w).transform(graft.Pin.cut)
    }
  }

  val q194Sql: String = {
    val d = 4; val w = 128
    val ph = graft.functions.PolyHash.duckdbSql(
      "(CAST(r.r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))")
    s"""WITH e AS (SELECT user_id FROM events),
       |tot AS (SELECT COUNT(*) AS n FROM e),
       |cells AS (
       |  SELECT r, b, COUNT(*) AS c FROM (
       |    SELECT r.r AS r, ($ph % $w) AS b
       |    FROM e CROSS JOIN range(0, $d) r(r))
       |  GROUP BY r, b),
       |probes AS (
       |  SELECT user_id, r.r AS r, ($ph % $w) AS b
       |  FROM (SELECT DISTINCT user_id FROM e) CROSS JOIN range(0, $d) r(r)),
       |est AS (
       |  SELECT p.user_id, MIN(c.c) AS n_est
       |  FROM probes p JOIN cells c ON c.r = p.r AND c.b = p.b
       |  GROUP BY p.user_id),
       |ex AS (SELECT user_id, COUNT(*) AS n_exact FROM e GROUP BY user_id)
       |SELECT ex.user_id, ex.n_exact, est.n_est,
       |  est.n_est - ex.n_exact AS overcount,
       |  ((est.n_est - ex.n_exact) * $w <= 3 * tot.n) AS within_bound
       |FROM ex JOIN est USING (user_id) CROSS JOIN tot
       |ORDER BY ex.n_exact DESC, ex.user_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q198
  /** STREAMING Count-Min grid maintenance — q171/q183's
    * store-as-stream-state lifecycle applied to the frequency sketch
    * ([[graft.operators.CountMin.appendBatchGrid]]): the events
    * arrive as two mtime-ordered file-source micro-batches, each
    * `foreachBatch` writes ONLY its own batch's d×w grid to the
    * persisted store (idempotent per batchId — a replayed batch whose
    * subdirectory committed skips the write, so no double-counting),
    * history is never read during absorption. After the drain the
    * per-batch partials are compacted into one merged grid
    * (write-then-swap, safe here because the stream has committed —
    * see [[graft.operators.CountMin.compactGridStore]]'s replay
    * caveat) and estimates are served from it. The oracle IS q194's:
    * by CMS linearity the streamed, batch-partitioned build must
    * converge to the identical global grid — the same
    * shared-oracle convergence pin as q183/q175.
    */
  def q198(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.CountMin
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val d = 4; val w = 128
    val e = ev(spark, sfDir).select(col("event_id"), col("user_id"))
    val base = graft.Tables.scratchDir(spark, "cmsstream", sfDir)
    val stager = graft.streaming.FileStager(spark, base)
    val srcDir = stager.srcDir
    val now = System.currentTimeMillis()
    stager.stage(e.where(pmod(col("event_id"), lit(2)) === 0), "batch1", now - 60000)
    stager.stage(e.where(pmod(col("event_id"), lit(2)) === 1), "batch2", now - 30000)
    val store = s"$base/store"
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("user_id", LongType, nullable = false)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        CountMin.appendBatchGrid(batch, "user_id", d, w, store,
          batchId = Some(bid))
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    CountMin.compactGridStore(spark, store)
    cmsReport(e, CountMin.readMergedGrid(spark, store), d, w)
  }

  // ---------------------------------------------------------------- q199
  /** Population Stability Index drift monitor — the standard
    * production check that a feature's distribution hasn't shifted
    * between a reference window and the current one (credit-scoring
    * lineage; PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref), the
    * symmetrized KL whose conventional alert thresholds are 0.1/0.2):
    * per event_type, `value` is binned into 10 equal-width bins FIXED
    * BY THE REFERENCE window's [min, max] (current-period values
    * outside clamp to the edge bins — drift must move mass, not move
    * the ruler), counts are Laplace-smoothed (+1 per bin) so empty
    * cells stay finite and deterministic, and the per-bin terms
    * follow the engine's portable-log discipline (q173/q187): each
    * double term rounded once at scale 9, then exact DECIMAL
    * accumulation so summation order cannot move the hash. The
    * companion monitor for embedding drift is q142 (centroid moves);
    * this is its tabular-feature sibling — together they are the
    * retrain/recalibrate trigger pair.
    *
    * Scale shape: two filtered scans reduce to (type × 10)-bin count
    * grids — partial aggregation does the map-side combine and
    * everything after the two groupBys is bounded by types·bins, not
    * events. Types absent from the reference window have no defined
    * binning (they are new categories, the q143/q148 audits' job) and
    * are excluded by construction. Types present in the reference but
    * ABSENT from the current window — the maximal-drift case — are
    * kept: nc joins LEFT with n_cur coalesced to 0, so every current
    * bin smooths to 1/(0+10) and the PSI is finite, large, and
    * alerting, instead of the type silently vanishing from the
    * monitor.
    */
  def q199(spark: SparkSession, sfDir: String): DataFrame = {
    val bins = 10
    val split = lit("2024-01-16").cast("date")
    val e = ev(spark, sfDir)
      .select(col("event_type"), col("value"), to_date(col("ts")).as("day"))
    val ref = e.where(col("day") < split)
    val cur = e.where(col("day") >= split)
    val rng = ref.groupBy(col("event_type"))
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    def binCounts(df: DataFrame, cName: String): DataFrame =
      df.join(broadcast(rng), "event_type")
        .withColumn("b", when(col("mx") === col("mn"), lit(0)).otherwise(
          least(lit(bins - 1), greatest(lit(0),
            floor((col("value") - col("mn")) / (col("mx") - col("mn")) * bins)
              .cast("int")))))
        .groupBy(col("event_type"), col("b"))
        .agg(count(lit(1)).as(cName))
    val spine = rng.select(col("event_type"))
      .withColumn("b", explode(sequence(lit(0), lit(bins - 1))))
    val nr = ref.groupBy(col("event_type")).agg(count(lit(1)).as("n_ref"))
    val nc = cur.groupBy(col("event_type")).agg(count(lit(1)).as("n_cur"))
    val pc = (coalesce(col("c_cur"), lit(0L)) + 1).cast("double") /
      (col("n_cur") + bins).cast("double")
    val pr = (coalesce(col("c_ref"), lit(0L)) + 1).cast("double") /
      (col("n_ref") + bins).cast("double")
    spine
      .join(binCounts(ref, "c_ref"), Seq("event_type", "b"), "left")
      .join(binCounts(cur, "c_cur"), Seq("event_type", "b"), "left")
      .join(broadcast(nr), "event_type")
      .join(broadcast(nc), Seq("event_type"), "left")
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
      .withColumn("term", round((pc - pr) * log(pc / pr), 9))
      .groupBy(col("event_type"))
      .agg(min(col("n_ref")).as("n_ref"), min(col("n_cur")).as("n_cur"),
        round(sum(col("term")
          .cast(org.apache.spark.sql.types.DecimalType(27, 9))).cast("double"), 6)
          .as("psi"))
      .withColumn("drifted", col("psi") > lit(0.2))
      .orderBy(col("event_type"))
  }

  val q199Sql: String =
    """WITH e AS (
      |  SELECT event_type, value, CAST(ts AS DATE) AS day FROM events),
      |ref AS (SELECT * FROM e WHERE day < DATE '2024-01-16'),
      |cur AS (SELECT * FROM e WHERE day >= DATE '2024-01-16'),
      |rng AS (SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
      |        FROM ref GROUP BY event_type),
      |spine AS (SELECT event_type, r.i AS b FROM rng CROSS JOIN range(0, 10) r(i)),
      |rb AS (
      |  SELECT event_type, b, COUNT(*) AS c_ref FROM (
      |    SELECT e.event_type,
      |      CASE WHEN mx = mn THEN 0
      |           ELSE LEAST(9, GREATEST(0,
      |             CAST(floor((value - mn) / (mx - mn) * 10) AS INT))) END AS b
      |    FROM ref e JOIN rng USING (event_type))
      |  GROUP BY event_type, b),
      |cb AS (
      |  SELECT event_type, b, COUNT(*) AS c_cur FROM (
      |    SELECT e.event_type,
      |      CASE WHEN mx = mn THEN 0
      |           ELSE LEAST(9, GREATEST(0,
      |             CAST(floor((value - mn) / (mx - mn) * 10) AS INT))) END AS b
      |    FROM cur e JOIN rng USING (event_type))
      |  GROUP BY event_type, b),
      |nr AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ref FROM ref GROUP BY event_type),
      |nc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cur FROM cur GROUP BY event_type),
      |terms AS (
      |  SELECT s.event_type, nr.n_ref, COALESCE(nc.n_cur, 0) AS n_cur,
      |    ROUND((
      |      (CAST(COALESCE(cb.c_cur, 0) + 1 AS DOUBLE) / CAST(COALESCE(nc.n_cur, 0) + 10 AS DOUBLE)) -
      |      (CAST(COALESCE(rb.c_ref, 0) + 1 AS DOUBLE) / CAST(nr.n_ref + 10 AS DOUBLE))
      |    ) * ln(
      |      (CAST(COALESCE(cb.c_cur, 0) + 1 AS DOUBLE) / CAST(COALESCE(nc.n_cur, 0) + 10 AS DOUBLE)) /
      |      (CAST(COALESCE(rb.c_ref, 0) + 1 AS DOUBLE) / CAST(nr.n_ref + 10 AS DOUBLE))
      |    ), 9) AS term
      |  FROM spine s
      |  LEFT JOIN rb USING (event_type, b) LEFT JOIN cb USING (event_type, b)
      |  JOIN nr USING (event_type) LEFT JOIN nc USING (event_type))
      |SELECT event_type, MIN(n_ref) AS n_ref, MIN(n_cur) AS n_cur,
      |  ROUND(CAST(SUM(CAST(term AS DECIMAL(27, 9))) AS DOUBLE), 6) AS psi,
      |  (ROUND(CAST(SUM(CAST(term AS DECIMAL(27, 9))) AS DOUBLE), 6) > 0.2) AS drifted
      |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q202
  /** Sequential-pattern support mining over per-user event sequences —
    * the classic market-basket-with-ORDER verb (Agrawal & Srikant,
    * "Mining sequential patterns", ICDE 1995; PrefixSpan, Pei et al.
    * ICDE 2001): for every gapped subsequence pattern of length ≤ 3
    * over the event-type alphabet, the number of users whose
    * time-ordered event sequence CONTAINS it. Containment is the
    * greedy-earliest match (provably equivalent to existence of any
    * match), unrolled to three `array_position`-on-suffix steps of
    * pure integer logic — deterministic and engine-portable. q92
    * counts unordered co-occurrence and q93 adjacent transitions;
    * this counts order-with-gaps, the pattern class both miss.
    *
    * Scale shape: the pattern space is enumerated, not grown — with a
    * bounded alphabet |Σ| and length ≤ L it is Σ^1..Σ^L rows (155
    * here), a broadcast spine; each user's sequence is assembled by
    * ONE grouped in-row sort (bounded by per-user activity, the q25
    * sessionization shape) and each (user, pattern) check is one
    * in-row O(|seq|) pass. At an unbounded alphabet the same
    * support-counting runs per PrefixSpan projection instead of a
    * pre-enumerated spine — candidate generation changes, the
    * per-user containment check does not.
    */
  def q202(spark: SparkSession, sfDir: String): DataFrame = {
    val e = ev(spark, sfDir)
    val seqs = e.groupBy(col("user_id"))
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("s"))
      .select(col("user_id"), expr("transform(s, x -> x.event_type)").as("seq"))
    val types = e.select("event_type").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val pats =
      types.map(a => (a, 1, a, "", "")) ++
      (for { a <- types; b <- types } yield (s"$a>$b", 2, a, b, "")) ++
      (for { a <- types; b <- types; c <- types } yield (s"$a>$b>$c", 3, a, b, c))
    import spark.implicits._
    val spine = pats.toDF("pattern", "len", "e1", "e2", "e3")
    val q1 = array_position(col("seq"), col("e1"))
    val r2 = array_position(
      slice(col("seq"), (q1 + 1).cast("int"), size(col("seq"))), col("e2"))
    val a2 = when(q1 > 0 && r2 > 0, q1 + r2).otherwise(lit(0L))
    val r3 = array_position(
      slice(col("seq"), (a2 + 1).cast("int"), size(col("seq"))), col("e3"))
    val present = when(col("len") === 1, q1 > 0)
      .when(col("len") === 2, a2 > 0)
      .otherwise(a2 > 0 && r3 > 0)
    val tot = seqs.agg(count(lit(1)).as("nu"))
    seqs.crossJoin(broadcast(spine))
      .where(present)
      .groupBy(col("pattern"), col("len"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .select(col("pattern"), col("len"), col("n_users"),
        round(col("n_users").cast("double") / col("nu"), 6).as("ratio"))
      .orderBy(col("len"), col("pattern"))
  }

  val q202Sql: String =
    """WITH s AS (
      |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY user_id),
      |ty AS (SELECT DISTINCT event_type AS t FROM events),
      |pat AS (
      |  SELECT t AS pattern, 1 AS len, t AS e1, '' AS e2, '' AS e3 FROM ty
      |  UNION ALL
      |  SELECT a.t || '>' || b.t, 2, a.t, b.t, '' FROM ty a, ty b
      |  UNION ALL
      |  SELECT a.t || '>' || b.t || '>' || c.t, 3, a.t, b.t, c.t
      |  FROM ty a, ty b, ty c),
      |chk AS (
      |  SELECT pattern, len,
      |    CASE WHEN len = 1 THEN q1 > 0
      |         WHEN len = 2 THEN a2 > 0
      |         ELSE a2 > 0 AND
      |           COALESCE(list_position(seq[(a2+1):], e3), 0) > 0 END AS present
      |  FROM (
      |    SELECT pattern, len, seq, e3, q1,
      |      CASE WHEN q1 > 0 AND COALESCE(list_position(seq[(q1+1):], e2), 0) > 0
      |           THEN q1 + list_position(seq[(q1+1):], e2) ELSE 0 END AS a2
      |    FROM (
      |      SELECT p.pattern, p.len, p.e2, p.e3, u.seq,
      |        COALESCE(list_position(u.seq, p.e1), 0) AS q1
      |      FROM pat p CROSS JOIN s u))),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM s)
      |SELECT pattern, len, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / nu, 6) AS ratio
      |FROM chk CROSS JOIN tot WHERE present
      |GROUP BY pattern, len, nu ORDER BY len, pattern""".stripMargin

  // ---------------------------------------------------------------- q214
  /** Exact two-sample Kolmogorov–Smirnov drift test per event_type —
    * q199's rank-statistic sibling: PSI sees drift through a fixed
    * 10-bin grid (it can miss a shift that stays inside bins), KS is
    * the binning-free supremum |F_ref − F_cur| over the pooled
    * empirical CDFs, with the classical α = 0.05 rejection threshold
    * 1.358·√((n₁+n₂)/(n₁·n₂)). Same reference/current windows as q199
    * (split at 2024-01-16). Types present in the reference but absent
    * from the current window — the maximal-drift blind spot q199 was
    * called on in round 12 — fall out naturally here: F_cur ≡ 0 gives
    * KS = 1 and an alert. New types with no reference distribution
    * remain the q143/q148 audits' job.
    *
    * Scale shape: one (type, value) partial-agg shuffle collapses
    * events to distinct values; the CDFs are type-PARTITIONED windows
    * over those; n₁/n₂ are type-bounded broadcasts. All comparisons
    * are integer-derived double divisions — engine-exact; √ is IEEE
    * correctly-rounded in both engines.
    */
  def q214(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val split = lit("2024-01-16").cast("date")
    val e = ev(spark, sfDir)
      .select(col("event_type"), col("value"),
        (to_date(col("ts")) < split).cast("long").as("is_ref"))
    val cells = e.groupBy(col("event_type"), col("value"))
      .agg(sum(col("is_ref")).as("c1"),
        sum(lit(1L) - col("is_ref")).as("c2"))
    val totals = e.groupBy(col("event_type"))
      .agg(sum(col("is_ref")).as("n_ref"),
        sum(lit(1L) - col("is_ref")).as("n_cur"))
      .where(col("n_ref") > 0)
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val f1 = sum(col("c1")).over(w).cast("double") / col("n_ref")
    val f2 = when(col("n_cur") === 0, lit(0.0))
      .otherwise(sum(col("c2")).over(w).cast("double") / col("n_cur"))
    val crit = lit(1.358) *
      sqrt((col("n_ref") + col("n_cur")).cast("double") /
        (col("n_ref") * col("n_cur")).cast("double"))
    cells.join(broadcast(totals), "event_type")
      .withColumn("gap", abs(f1 - f2))
      .groupBy(col("event_type"), col("n_ref"), col("n_cur"))
      .agg(round(max(col("gap")), 6).as("ks"))
      .withColumn("drifted",
        when(col("n_cur") === 0, lit(true)).otherwise(col("ks") > crit))
      .select(col("event_type"), col("n_ref"), col("n_cur"), col("ks"),
        col("drifted"))
      .orderBy(col("event_type"))
  }

  val q214Sql: String =
    """WITH e AS (
      |  SELECT event_type, value,
      |    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 1 ELSE 0 END AS is_ref
      |  FROM events),
      |cells AS (
      |  SELECT event_type, value, CAST(SUM(is_ref) AS BIGINT) AS c1,
      |    CAST(SUM(1 - is_ref) AS BIGINT) AS c2
      |  FROM e GROUP BY event_type, value),
      |totals AS (
      |  SELECT event_type, CAST(SUM(is_ref) AS BIGINT) AS n_ref,
      |    CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
      |  FROM e GROUP BY event_type HAVING SUM(is_ref) > 0),
      |gaps AS (
      |  SELECT c.event_type, t.n_ref, t.n_cur,
      |    ABS(
      |      CAST(SUM(c1) OVER (PARTITION BY c.event_type ORDER BY value) AS DOUBLE) / n_ref -
      |      CASE WHEN n_cur = 0 THEN 0.0
      |           ELSE CAST(SUM(c2) OVER (PARTITION BY c.event_type ORDER BY value) AS DOUBLE) / n_cur
      |      END) AS gap
      |  FROM cells c JOIN totals t USING (event_type))
      |SELECT event_type, n_ref, n_cur, ROUND(MAX(gap), 6) AS ks,
      |  CASE WHEN n_cur = 0 THEN true
      |       ELSE ROUND(MAX(gap), 6) >
      |         1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE))
      |  END AS drifted
      |FROM gaps GROUP BY event_type, n_ref, n_cur
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q217
  /** Sequential probability-ratio test (Wald 1945) monitor — the
    * always-valid alternative to q177's fixed-horizon CUPED analysis:
    * per experiment arm (user_id parity), each event is a Bernoulli
    * trial (success = purchase) and the monitor tracks the cumulative
    * log-likelihood ratio of H₁: p = 0.20 against H₀: p = 0.18,
    * stopping the day it crosses Wald's α = β = 0.05 boundaries
    * ±ln 19. The LLR is computed per day from CUMULATIVE counts in a
    * single expression — k·ln(p₁/p₀) + (n−k)·ln((1−p₁)/(1−p₀)) — so
    * there is no float accumulation to drift: two long×constant
    * products and one add, with the JVM-evaluated log constants
    * interpolated verbatim into the oracle SQL.
    *
    * Scale shape: events partially aggregate to (arm × day) cells
    * map-side; the running totals are arm-PARTITIONED windows over
    * those time-bounded cells. Nothing downstream of the first
    * group-by is corpus-sized.
    */
  def q217(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (p0, p1) = (0.18, 0.20)
    val c1 = math.log(p1 / p0)
    val c2 = math.log((1 - p1) / (1 - p0))
    val bound = math.log(19.0) // (1-β)/α = β/(1-α)⁻¹ at α = β = 0.05
    val daily = ev(spark, sfDir)
      .select((col("user_id") % 2).cast("int").as("variant"),
        to_date(col("ts")).as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("s"))
      .groupBy(col("variant"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("s")).as("k"))
    val w = Window.partitionBy(col("variant")).orderBy(col("day"))
    daily
      .withColumn("n_cum", sum(col("n")).over(w))
      .withColumn("k_cum", sum(col("k")).over(w))
      .withColumn("llr", round(
        col("k_cum") * lit(c1) + (col("n_cum") - col("k_cum")) * lit(c2), 6))
      .withColumn("decision",
        when(col("llr") >= bound, "accept_h1")
          .when(col("llr") <= -bound, "accept_h0")
          .otherwise("continue"))
      .select(col("variant"), col("day"), col("n_cum"), col("k_cum"),
        col("llr"), col("decision"))
      .orderBy(col("variant"), col("day"))
  }

  val q217Sql: String = {
    val c1 = math.log(0.20 / 0.18)
    val c2 = math.log(0.80 / 0.82)
    val bound = math.log(19.0)
    s"""WITH daily AS (
       |  SELECT CAST(user_id % 2 AS INT) AS variant, CAST(ts AS DATE) AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM events GROUP BY 1, 2),
       |cum AS (
       |  SELECT variant, day,
       |    CAST(SUM(n) OVER (PARTITION BY variant ORDER BY day) AS BIGINT) AS n_cum,
       |    CAST(SUM(k) OVER (PARTITION BY variant ORDER BY day) AS BIGINT) AS k_cum
       |  FROM daily)
       |SELECT variant, day, n_cum, k_cum,
       |  ROUND(k_cum * CAST($c1 AS DOUBLE) + (n_cum - k_cum) * CAST($c2 AS DOUBLE), 6) AS llr,
       |  CASE WHEN ROUND(k_cum * CAST($c1 AS DOUBLE) + (n_cum - k_cum) * CAST($c2 AS DOUBLE), 6) >= CAST($bound AS DOUBLE)
       |         THEN 'accept_h1'
       |       WHEN ROUND(k_cum * CAST($c1 AS DOUBLE) + (n_cum - k_cum) * CAST($c2 AS DOUBLE), 6) <= -CAST($bound AS DOUBLE)
       |         THEN 'accept_h0'
       |       ELSE 'continue' END AS decision
       |FROM cum ORDER BY variant, day""".stripMargin
  }

  // ---------------------------------------------------------------- q219
  /** Hill tail-index estimator (Hill 1975) per event_type — the
    * heavy-tail diagnostic behind capacity planning and loss-risk
    * monitoring: over the k = 100 largest positive values,
    * {{{ α̂ = k / Σ_{i≤k} ln(x_(i) / x_(k+1)) }}}
    * (α̂ ≈ the Pareto exponent; smaller = heavier tail). Complements
    * q180's Zipf rank-frequency fit (token frequencies) with the
    * VALUE-distribution tail, and q75's z-scores (which assume thin
    * tails — exactly what this estimator checks). The top-k multiset
    * is well-defined under ties (ordering is by value alone), so the
    * estimate is engine-exact under the portable-log discipline.
    * Types with fewer than k+1 positive values are excluded (no
    * (k+1)-th order statistic to anchor the tail).
    *
    * Scale shape — the q91-documented TWO-PASS HISTOGRAM THRESHOLD,
    * implemented (round 14): pass 1 histograms each type's positive
    * values into 1/32-octave geometric buckets (⌊32·log₂ v⌋ — value-
    * agnostic, so one scan, no pre-pass for min/max) and finds, per
    * type, the highest bucket whose top-down cumulative count reaches
    * k+1; pass 2 re-filters the scan to `bucket ≥ threshold` and runs
    * the exact row_number top-(k+1) over those CANDIDATES only. The
    * bucket function is monotone in value, so candidates ⊇ the true
    * top-(k+1); a type with < k+1 positives thresholds at its min
    * bucket (keeps everything) and then drops at the rn = k+1 anchor
    * exactly as before. The only per-type sort in the plan is over
    * the candidate slice (~k plus one bucket's width — for a type
    * whose values span even one octave, ≪ its row count; a
    * degenerate all-equal-value type degrades to the old full sort,
    * never worse). The cumulative window runs over the histogram —
    * |types| × |buckets| rows, never event rows. Oracle unchanged:
    * the selection is exact, only the plan differs.
    */
  def q219(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 100
    val pos = ev(spark, sfDir)
      .where(col("value") > 0)
      .select(col("event_type"), col("value"))
    val bucketed = pos.withColumn("bk",
      floor(log(col("value")) * lit(32.0 / math.log(2.0))).cast("long"))
    val hist = bucketed.groupBy(col("event_type"), col("bk"))
      .agg(count(lit(1)).as("c"))
    val wh = Window.partitionBy(col("event_type")).orderBy(col("bk").desc)
    val thr = hist.withColumn("cum", sum(col("c")).over(wh))
      .groupBy(col("event_type"))
      .agg(coalesce(max(when(col("cum") >= k + 1, col("bk"))),
        min(col("bk"))).as("bk_thr"))
    val cand = bucketed.join(broadcast(thr), "event_type")
      .where(col("bk") >= col("bk_thr"))
      .select(col("event_type"), col("value"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc)
    val ranked = cand.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k + 1)
    val thresh = ranked.where(col("rn") === k + 1)
      .select(col("event_type"), col("value").as("x_k1"))
    ranked.where(col("rn") <= k)
      .join(thresh, "event_type")
      .withColumn("t", round(log(col("value") / col("x_k1")), 9))
      .groupBy(col("event_type"), col("x_k1"))
      .agg(count(lit(1)).cast("int").as("n_tail"),
        round(lit(k.toDouble) /
          sum(col("t").cast(org.apache.spark.sql.types.DecimalType(27, 9)))
            .cast("double"), 6).as("alpha"))
      .select(col("event_type"), col("n_tail"), round(col("x_k1"), 6).as("x_k1"),
        col("alpha"))
      .orderBy(col("event_type"))
  }

  val q219Sql: String =
    """WITH pos AS (
      |  SELECT event_type, value FROM events WHERE value > 0),
      |ranked AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC) AS rn
      |  FROM pos),
      |top AS (SELECT * FROM ranked WHERE rn <= 101),
      |thresh AS (SELECT event_type, value AS x_k1 FROM top WHERE rn = 101)
      |SELECT t.event_type, CAST(COUNT(*) AS INT) AS n_tail,
      |  ROUND(x_k1, 6) AS x_k1,
      |  ROUND(CAST(100 AS DOUBLE) /
      |    CAST(SUM(CAST(ROUND(ln(t.value / th.x_k1), 9) AS DECIMAL(27,9))) AS DOUBLE),
      |    6) AS alpha
      |FROM top t JOIN thresh th USING (event_type)
      |WHERE t.rn <= 100
      |GROUP BY t.event_type, th.x_k1
      |ORDER BY t.event_type""".stripMargin

  // ---------------------------------------------------------------- q226
  /** Mergeable QUANTILE sketch — the missing third monitoring sketch
    * beside HLL (distinct, q78/q99) and Count-Min (frequency,
    * q194/q198): a q-digest ([[graft.operators.QDigest]]; Shrivastava
    * et al. SenSys 2004, mergeability per Agarwal et al. PODS 2012)
    * over `events.value`, built the mergeable way — one digest per
    * (event_type, day) via the [[graft.functions.QDigestSketchAgg]]
    * typed aggregate, merged per type by
    * [[graft.functions.QDigestMergeAgg]] (node-wise addition + ONE
    * recompression, the paper's merge). Values quantize to a 2^12
    * dyadic universe (bucket = ⌊value·8⌋ clamped — [0, 512) in value
    * space); k = 256 gives the paper's rank envelope
    * ε·n = levels·⌊n/k⌋ ≈ 4.7%·n.
    *
    * Output per type: digest size, p50/p90/p99 estimates with their
    * exact counterparts (computed on the same bucket lattice) and
    * deterministic envelope booleans — est's exact rank must reach the
    * target (guaranteed by the in-order walk: every counted node ends
    * at or below est) and overshoot it by at most 2·levels·⌊n/k⌋ (2×
    * the paper's bound: merged digests can carry up to double mass per
    * node before recompression re-checks them). The oracle replays the
    * ENTIRE two-stage path — per-day build+compress, node-sum, final
    * recompress — as programmatically generated CTE chains (the q222
    * materialized-round discipline), because q-digest merge is NOT
    * linear and a one-shot oracle would not be a valid check.
    *
    * Scale shape: the sketch pass is one partial-aggregated shuffle
    * (buffers are leaf histograms bounded by the 4096-bucket universe,
    * never the corpus); the merge shuffles ≤ 3k nodes per day; serve
    * windows run over digest nodes. The exact sides exist only because
    * the evaluation reports estimate vs truth — production serves from
    * the digest alone and never rescans.
    */
  private val qdLevels = 12
  private val qdK = 256
  private val qdPcts = Seq(50, 90, 99)

  /** ⌊value·8⌋ clamped to the [0, 4096) bucket universe — [0, 512) in
    * value space covers events.value's [0.01, ~490] range. */
  private def qdBucket(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(lit(4095L), greatest(lit(0L), floor(v * 8).cast("long")))

  /** q226/q227's shared report tail: per event_type, digest size and
    * p50/p90/p99 estimate-vs-exact with envelope booleans. `e` carries
    * (event_type, b); `digests` carries (event_type, nodes). */
  private def qdReport(e: DataFrame, digests: DataFrame): DataFrame = {
    import graft.operators.QDigest
    val est = QDigest.quantiles(digests, Seq("event_type"), "nodes", qdPcts)
    val bc = e.groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("c"))
    // per-type window over ≤ 4096 bucket rows — bounded by the
    // universe, not the corpus (the digest-read exception)
    val wb = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val bcum = bc.withColumn("cum", sum(col("c")).over(wb))
    val exact = est.select(col("event_type"), col("pct"), col("tgt"))
      .join(bcum, Seq("event_type"))
      .where(col("cum") >= col("tgt"))
      .groupBy(col("event_type"), col("pct"))
      .agg(min(col("b")).as("ex_b"))
    val ranks = est.select(col("event_type"), col("pct"), col("est_b"))
      .join(bc, Seq("event_type"))
      .groupBy(col("event_type"), col("pct"))
      .agg(sum(when(col("b") < col("est_b"), col("c")).otherwise(0L)).as("r_lo"),
        sum(when(col("b") <= col("est_b"), col("c")).otherwise(0L)).as("r_hi"))
    def pc(p: Int, c: org.apache.spark.sql.Column) = max(when(col("pct") === p, c))
    est.join(exact, Seq("event_type", "pct"))
      .join(ranks, Seq("event_type", "pct"))
      .withColumn("within", col("r_hi") >= col("tgt") &&
        col("r_lo") <= col("tgt") +
          lit(2L * qdLevels) * greatest(lit(1L), expr(s"n div $qdK")))
      .groupBy(col("event_type"), col("n"), col("n_nodes"))
      .agg(
        pc(50, col("est_b").cast("double") / 8).as("p50_est"),
        pc(50, col("ex_b").cast("double") / 8).as("p50_exact"),
        pc(50, col("within")).as("w50"),
        pc(90, col("est_b").cast("double") / 8).as("p90_est"),
        pc(90, col("ex_b").cast("double") / 8).as("p90_exact"),
        pc(90, col("within")).as("w90"),
        pc(99, col("est_b").cast("double") / 8).as("p99_est"),
        pc(99, col("ex_b").cast("double") / 8).as("p99_exact"),
        pc(99, col("within")).as("w99"))
      .select(col("event_type"), col("n"), col("n_nodes"),
        col("p50_est"), col("p50_exact"), col("w50"),
        col("p90_est"), col("p90_exact"), col("w90"),
        col("p99_est"), col("p99_exact"), col("w99"))
      .orderBy(col("event_type"))
  }

  def q226(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // NULL values are excluded EXPLICITLY on both sides (see q226Sql):
    // qdigest_sketch skips nulls while the exact side would bucket
    // them as a NULL group, and Spark's nulls-first vs DuckDB's
    // nulls-last window order over b would diverge the cumulative
    // ranks — the contract must not rest on the generator never
    // emitting one.
    val e = ev(spark, sfDir).where(col("value").isNotNull)
      .select(col("event_type"),
        to_date(col("ts")).as("day"), qdBucket(col("value")).as("b"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(expr(s"qdigest_sketch(b, $qdLevels, $qdK)").as("nodes"))
    val merged = daily.groupBy(col("event_type"))
      .agg(expr(s"qdigest_merge(nodes, $qdLevels, $qdK)").as("nodes"))
    qdReport(e.select(col("event_type"), col("b")), merged)
  }

  /** One q-digest compression chain as unrolled CTEs: takes `{p}s0`
    * (keys*, lvl, idx, cnt) and `tTbl` (keys*, t), emits `{p}s1` …
    * `{p}s{levels}` replaying [[graft.functions.QDigestBuf.finish]]'s
    * per-level rule exactly. */
  private def qdCompressSql(p: String, keys: Seq[String], tTbl: String): String = {
    val kl = keys.mkString(", ")
    (0 until qdLevels).map { l =>
      val cq = keys.map(k => s"c.$k = q.$k").mkString(" AND ")
      val nd = keys.map(k => s"n.$k = d.$k").mkString(" AND ")
      val tn = keys.map(k => s"t.$k = n.$k").mkString(" AND ")
      val td = keys.map(k => s"t.$k = d.$k").mkString(" AND ")
      val coal = keys.map(k => s"COALESCE(c.$k, q.$k) AS $k").mkString(", ")
      val nk = keys.map(k => s"n.$k").mkString(", ")
      val dk = keys.map(k => s"d.$k").mkString(", ")
      s"""${p}ch$l AS MATERIALIZED (
         |  SELECT $kl, idx // 2 AS p, SUM(cnt) AS csum
         |  FROM ${p}s$l WHERE lvl = $l GROUP BY $kl, idx // 2),
         |${p}pr$l AS MATERIALIZED (
         |  SELECT $kl, idx AS p, cnt AS pcnt FROM ${p}s$l WHERE lvl = ${l + 1}),
         |${p}de$l AS MATERIALIZED (
         |  SELECT $coal, COALESCE(c.p, q.p) AS p,
         |    COALESCE(c.csum, 0) AS csum, COALESCE(q.pcnt, 0) AS pcnt
         |  FROM ${p}ch$l c FULL JOIN ${p}pr$l q ON $cq AND c.p = q.p),
         |${p}s${l + 1} AS MATERIALIZED (
         |  SELECT $kl, lvl, idx, cnt FROM ${p}s$l WHERE lvl <> $l AND lvl <> ${l + 1}
         |  UNION ALL
         |  SELECT $nk, n.lvl, n.idx, n.cnt
         |  FROM ${p}s$l n
         |    JOIN ${p}de$l d ON $nd AND n.idx // 2 = d.p
         |    JOIN $tTbl t ON $tn
         |  WHERE n.lvl = $l AND d.csum + d.pcnt > t.t
         |  UNION ALL
         |  SELECT $dk, ${l + 1} AS lvl, d.p AS idx,
         |    CASE WHEN d.csum + d.pcnt <= t.t THEN d.csum + d.pcnt ELSE d.pcnt END AS cnt
         |  FROM ${p}de$l d JOIN $tTbl t ON $td
         |  WHERE CASE WHEN d.csum + d.pcnt <= t.t THEN d.csum + d.pcnt ELSE d.pcnt END > 0)""".stripMargin
    }.mkString(",\n")
  }

  /** The serve tail shared by both oracles: quantiles from `ms12`
    * (g, lvl, idx, cnt) + exact/envelope sides from `qe` (g, b),
    * using `mn` (g, n). */
  private val qdServeSql: String =
    s"""nodes AS (
       |  SELECT g, cnt, idx * (1 << lvl) AS lo, (idx + 1) * (1 << lvl) - 1 AS hi
       |  FROM ms$qdLevels),
       |cum AS (
       |  SELECT g, hi, lo, cnt, SUM(cnt) OVER (PARTITION BY g ORDER BY hi ASC, lo DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM nodes),
       |nn AS (SELECT g, CAST(COUNT(*) AS INT) AS n_nodes FROM ms$qdLevels GROUP BY g),
       |tg AS MATERIALIZED (
       |  SELECT g, n, pct, (n * pct + 99) // 100 AS tgt
       |  FROM mn CROSS JOIN (VALUES (50), (90), (99)) pcts(pct)),
       |est AS MATERIALIZED (
       |  SELECT t.g, t.pct, t.tgt, t.n, MIN(c.hi) AS est_b
       |  FROM tg t JOIN cum c ON c.g = t.g AND c.cum >= t.tgt
       |  GROUP BY t.g, t.pct, t.tgt, t.n),
       |bc AS MATERIALIZED (SELECT g, b, COUNT(*) AS c FROM qe GROUP BY g, b),
       |bcum AS (
       |  SELECT g, b, SUM(c) OVER (PARTITION BY g ORDER BY b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM bc),
       |ex AS (
       |  SELECT t.g, t.pct, MIN(b.b) AS ex_b
       |  FROM tg t JOIN bcum b ON b.g = t.g AND b.cum >= t.tgt
       |  GROUP BY t.g, t.pct),
       |rk AS (
       |  SELECT e.g, e.pct,
       |    COALESCE(SUM(CASE WHEN bc.b < e.est_b THEN bc.c ELSE 0 END), 0) AS r_lo,
       |    COALESCE(SUM(CASE WHEN bc.b <= e.est_b THEN bc.c ELSE 0 END), 0) AS r_hi
       |  FROM est e JOIN bc ON bc.g = e.g GROUP BY e.g, e.pct),
       |fin AS (
       |  SELECT e.g, e.n, e.pct, e.est_b, x.ex_b,
       |    (r.r_hi >= e.tgt AND
       |     r.r_lo <= e.tgt + 2 * $qdLevels * GREATEST(1, e.n // $qdK)) AS within
       |  FROM est e JOIN ex x ON x.g = e.g AND x.pct = e.pct
       |    JOIN rk r ON r.g = e.g AND r.pct = e.pct)
       |SELECT f.g AS event_type, f.n AS n, nn.n_nodes,
       |  MAX(CASE WHEN pct = 50 THEN CAST(est_b AS DOUBLE) / 8 END) AS p50_est,
       |  MAX(CASE WHEN pct = 50 THEN CAST(ex_b AS DOUBLE) / 8 END) AS p50_exact,
       |  MAX(CASE WHEN pct = 50 THEN within END) AS w50,
       |  MAX(CASE WHEN pct = 90 THEN CAST(est_b AS DOUBLE) / 8 END) AS p90_est,
       |  MAX(CASE WHEN pct = 90 THEN CAST(ex_b AS DOUBLE) / 8 END) AS p90_exact,
       |  MAX(CASE WHEN pct = 90 THEN within END) AS w90,
       |  MAX(CASE WHEN pct = 99 THEN CAST(est_b AS DOUBLE) / 8 END) AS p99_est,
       |  MAX(CASE WHEN pct = 99 THEN CAST(ex_b AS DOUBLE) / 8 END) AS p99_exact,
       |  MAX(CASE WHEN pct = 99 THEN within END) AS w99
       |FROM fin f JOIN nn ON nn.g = f.g
       |GROUP BY f.g, f.n, nn.n_nodes
       |ORDER BY event_type""".stripMargin

  val q226Sql: String =
    s"""WITH qe AS MATERIALIZED (
       |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
       |    LEAST(4095, GREATEST(0, CAST(floor(value * 8) AS BIGINT))) AS b
       |  FROM events WHERE value IS NOT NULL),
       |dn AS MATERIALIZED (SELECT g, day, CAST(COUNT(*) AS BIGINT) AS n FROM qe GROUP BY g, day),
       |dt AS MATERIALIZED (SELECT g, day, n // $qdK AS t FROM dn),
       |ds0 AS MATERIALIZED (SELECT g, day, 0 AS lvl, b AS idx, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM qe GROUP BY g, day, b),
       |${qdCompressSql("d", Seq("g", "day"), "dt")},
       |ms0 AS MATERIALIZED (SELECT g, lvl, idx, CAST(SUM(cnt) AS BIGINT) AS cnt
       |  FROM ds$qdLevels GROUP BY g, lvl, idx),
       |mn AS MATERIALIZED (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM ms0 GROUP BY g),
       |mt AS MATERIALIZED (SELECT g, n // $qdK AS t FROM mn),
       |${qdCompressSql("m", Seq("g"), "mt")},
       |$qdServeSql""".stripMargin

  // ---------------------------------------------------------------- q227
  /** STREAMING q-digest store maintenance — the q198 lifecycle applied
    * to the quantile sketch, on the LINEAR tier (see
    * [[graft.operators.QDigest]]'s two-tier scaladoc): events arrive
    * as two mtime-ordered micro-batches; each `foreachBatch` persists
    * ONLY its own per-type LEAF HISTOGRAM (bounded by the 4096-bucket
    * universe, batchId-idempotent, replay-safe across compaction via
    * the high-water mark); history is never read during absorption.
    * After the drain, compaction merges partials by plain addition
    * (write-then-swap) and serving compresses the merged histogram
    * once ([[graft.operators.QDigest.digestOfHist]]) before the same
    * quantile report as q226. The oracle is the ONE-SHOT build (leaf
    * histogram → single compression): unlike q226's compressed-partial
    * path, linear partials make the batch split provably invisible —
    * the convergence pin that justifies the tier.
    */
  def q227(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.QDigest
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // same explicit NULL exclusion (both sides) as q226 — the digest
    // skips nulls, the exact side would not
    val e = ev(spark, sfDir).where(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        qdBucket(col("value")).as("b"))
    val base = graft.Tables.scratchDir(spark, "qdstream", sfDir)
    val stager = graft.streaming.FileStager(spark, base)
    val srcDir = stager.srcDir
    val now = System.currentTimeMillis()
    stager.stage(e.where(pmod(col("event_id"), lit(2)) === 0), "batch1", now - 60000)
    stager.stage(e.where(pmod(col("event_id"), lit(2)) === 1), "batch2", now - 30000)
    val store = s"$base/store"
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("b", LongType, nullable = false)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        QDigest.appendBatchHist(batch, "b", Seq("event_type"), store,
          batchId = Some(bid))
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    QDigest.compactHistStore(spark, store, Seq("event_type"))
    val digests = QDigest.digestOfHist(
      QDigest.readMergedHist(spark, store, Seq("event_type")),
      Seq("event_type"), qdLevels, qdK)
    qdReport(e.select(col("event_type"), col("b")), digests)
  }

  val q227Sql: String =
    s"""WITH qe AS MATERIALIZED (
       |  SELECT event_type AS g,
       |    LEAST(4095, GREATEST(0, CAST(floor(value * 8) AS BIGINT))) AS b
       |  FROM events WHERE value IS NOT NULL),
       |ms0 AS MATERIALIZED (SELECT g, 0 AS lvl, b AS idx, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM qe GROUP BY g, b),
       |mn AS MATERIALIZED (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM ms0 GROUP BY g),
       |mt AS MATERIALIZED (SELECT g, n // $qdK AS t FROM mn),
       |${qdCompressSql("m", Seq("g"), "mt")},
       |$qdServeSql""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q23_events_json_stats", q23 _, Some(q23Sql)),
    ("q24_events_daily_window", q24 _, Some(q24Sql)),
    ("q25_events_sessionization", q25 _, Some(q25Sql)),
    ("q26_events_user_funnel", q26 _, Some(q26Sql)),
    ("q38_asof_prior_view", q38 _, Some(q38Sql)),
    ("q39_range_join_views_1h", q39 _, Some(q39Sql)),
    ("q45_skew_salted_agg", q45 _, Some(q45Sql)),
    ("q46_map_functions", q46 _, Some(q46Sql)),
    ("q53_sessionization_day_bucketed", q53 _, Some(q53Sql)),
    ("q68_zorder_layout", q68 _, Some(q68Sql)),
    ("q75_zscore_outliers", q75 _, Some(q75Sql)),
    ("q86_concurrency_sweep", q86 _, Some(q86Sql)),
    ("q93_event_transitions", q93 _, Some(q93Sql)),
    ("q98_retention_cohorts", q98 _, Some(q98Sql)),
    ("q99_sliding_mau_sketch", q99 _, Some(q99Sql)),
    ("q107_pit_join", q107 _, Some(q107Sql)),
    ("q117_partition_pruning", q117 _, Some(q117Sql)),
    ("q132_asof_custom_exec", q132 _, Some(q38Sql)),
    ("q146_multitouch_attribution", q146 _, Some(q146Sql)),
    ("q150_purged_time_split", q150 _, Some(q150Sql)),
    ("q161_markov_holdout_eval", q161 _, Some(q161Sql)),
    ("q164_asof_tolerance", q164 _, Some(q164Sql)),
    ("q177_cuped_experiment", q177 _, Some(q177Sql)),
    ("q178_seasonal_anomaly", q178 _, Some(q178Sql)),
    ("q194_countmin_frequency", q194 _, Some(q194Sql)),
    // oracle = q194's: the streamed batch-partitioned grid must
    // converge to the identical global grid (CMS linearity — the
    // q183/q175 shared-oracle precedent)
    ("q198_stream_countmin_maintain", q198 _, Some(q194Sql)),
    ("q199_psi_drift", q199 _, Some(q199Sql)),
    ("q202_sequential_patterns", q202 _, Some(q202Sql)),
    ("q214_ks_drift", q214 _, Some(q214Sql)),
    ("q217_sprt_monitor", q217 _, Some(q217Sql)),
    ("q219_hill_tail_index", q219 _, Some(q219Sql)),
    ("q226_qdigest_quantiles", q226 _, Some(q226Sql)),
    ("q227_stream_qdigest_maintain", q227 _, Some(q227Sql))
  )
}
