package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contiguous global ranking without a single-partition window.
  *
  * `row_number() OVER (ORDER BY …)` with no PARTITION BY moves every
  * row to one partition — the classic scale cliff. This operator
  * computes the same contiguous 1..n rank fully partition-parallel:
  *
  *   1. range-repartition on the sort key (Spark's parallel sort
  *      layout: equal keys co-locate, partitions cover disjoint key
  *      ranges in order);
  *   2. per-partition `row_number` (parallel, no data movement);
  *   3. per-partition row counts → prefix-sum offsets (a partition-
  *      count-sized table, window-scanned on the driver-side scale of
  *      hundreds of rows, never data rows);
  *   4. global rank = partition offset + local row number.
  *
  * The range-partitioned frame is cut ([[graft.Pin.cut]]) before step 2:
  * range boundaries come from sampling, so two lazy evaluations of the
  * same plan could otherwise disagree on partition membership between
  * the offsets pass and the join-back.
  *
  * The total order must be deterministic — pass a tie-breaking unique
  * column last in `sortCols`.
  */
object GlobalRank {

  /** Step 1: `df` range-partitioned on `sortCols`, tagged with its
    * partition id `__pid` and cut, so the sampled range bounds are
    * evaluated once for every later pass. */
  private def rangeCut(df: DataFrame, sortCols: Seq[Column]): DataFrame =
    df.repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(graft.Pin.cut)

  /** Σ `c` over the partitions before this row's, in `__pid` order
    * (0 for the first): a partition's offset in the global order. */
  private def offsetOf(c: Column): Column =
    coalesce(sum(c).over(
      Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  /** Shared frame: every row carries its contiguous global rank
    * (`__grank`) and the total row count (`__total`, same value on
    * every row — it rides along in the broadcast offsets table, so no
    * separate count job rescans the data). */
  private def rankedWithTotal(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val ranged = rangeCut(df, sortCols)
    val local = ranged.withColumn("__rn",
      row_number().over(Window.partitionBy(col("__pid")).orderBy(sortCols: _*)))
    val offsets = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__offset", offsetOf(col("__cnt")))
      .withColumn("__total",
        sum(col("__cnt")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__pid"), col("__offset"), col("__total"))
    local.join(broadcast(offsets), "__pid")
      .withColumn("__grank", (col("__offset") + col("__rn")).cast("long"))
      .drop("__pid", "__rn", "__offset")
  }

  /** Adds `rankCol` (bigint, contiguous from 1) ranking by `sortCols`. */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column], rankCol: String): DataFrame =
    rankedWithTotal(df, sortCols)
      .withColumn(rankCol, col("__grank"))
      .drop("__grank", "__total")

  /** Adds `outCol` (bigint): the EXCLUSIVE prefix sum of `valueCol`
    * over the global `sortCols` order — Σ of `valueCol` over all rows
    * strictly before this one — fully partition-parallel by the same
    * three-step layout as the rank: range-repartition, per-partition
    * windowed prefix, partition-total offsets (a partition-count-sized
    * table, never data rows). `SUM(v) OVER (ORDER BY …)` without
    * PARTITION BY funnels everything through one partition — the same
    * scale cliff this operator family exists to remove.
    *
    * The total order must be deterministic AND unique (ties would make
    * the exclusive prefix depend on arbitrary intra-tie order) — pass
    * a unique key last in `sortCols`, or pre-aggregate to unique keys
    * as the AUC consumer (q209) does. */
  def withPrefixSum(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                    outCol: String): DataFrame = {
    val ranged = rangeCut(df, sortCols)
    val local = ranged.withColumn("__lps",
      coalesce(sum(col(valueCol)).over(
        Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offsets = ranged.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__psum"))
      .withColumn("__offset", offsetOf(col("__psum")))
      .select(col("__pid"), col("__offset"))
    local.join(broadcast(offsets), "__pid")
      .withColumn(outCol, (col("__offset") + col("__lps")).cast("long"))
      .drop("__pid", "__lps", "__offset")
  }

  /** Adds `tileCol` (int, 1..tiles) with EXACT `NTILE(tiles)`
    * semantics — the first `n mod tiles` tiles get the extra
    * remainder row — but fully partition-parallel: the tile is pure
    * arithmetic on the contiguous global rank and the total count,
    * both produced by [[rankedWithTotal]] without a single-partition
    * window. (`NTILE(k) OVER (ORDER BY …)` funnels the whole dataset
    * through one partition — the same scale cliff as naked
    * `row_number`.)
    */
  def withNtile(df: DataFrame, sortCols: Seq[Column], tiles: Int,
                tileCol: String): DataFrame = {
    require(tiles >= 1, "tiles must be >= 1")
    rankedWithTotal(df, sortCols)
      .withColumn("__base", expr(s"__total div $tiles"))
      .withColumn("__rem", expr(s"__total % $tiles"))
      .withColumn("__bulge", col("__rem") * (col("__base") + 1))
      .withColumn(tileCol,
        when(col("__grank") <= col("__bulge"),
          expr("(__grank - 1) div (__base + 1) + 1"))
          // __base > 0 here: base == 0 forces total == rem < tiles,
          // so every rank r <= rem = bulge takes the first branch
          .otherwise(expr("__rem + (__grank - __bulge - 1) div __base + 1"))
          .cast("int"))
      .drop("__grank", "__total", "__base", "__rem", "__bulge")
  }
}
