package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 analytic queries (q77–q83): invariants that the DuckDB
  * oracle cannot express (plan shape, sketch envelopes, cross-query
  * consistency) plus a pure-Scala reference for the integer PageRank.
  */
class AnalyticsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.hive
  private val sfDir = "/root/testdata/sf0.001"

  // ---------------------------------------------------------- PageRank
  /** Pure-Scala reference of the exact integer formulation in
    * [[graft.operators.PageRank]] — same div/mod arithmetic, driver
    * loop over an adjacency map.
    */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
                          scale: Long, num: Long = 85, den: Long = 100,
                          seeds: Option[Set[Long]] = None): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val seeded = seeds.getOrElse(nodes.toSet)
    val base = scale / den * (den - num)
    var rank = nodes.map(n => n -> (if (seeded(n)) scale else 0L)).toMap
    for (_ <- 1 to iters) {
      val contrib = edges
        .groupBy(_._2).view
        .mapValues(_.map { case (s, _) => rank(s) / outdeg(s) }.sum).toMap
      rank = nodes.map(n => n ->
        ((if (seeded(n)) base else 0L) + num * contrib.getOrElse(n, 0L) / den)).toMap
    }
    rank
  }

  /** 4 has no in-edges (its rank is its base term alone), 5 has no
    * out-edges (its mass is dropped); 1 is the hub. */
  private val sourceAndSink =
    Seq((1L, 2L), (2L, 1L), (3L, 1L), (1L, 3L), (4L, 1L), (2L, 5L))

  private def pageRank(edges: Seq[(Long, Long)], iters: Int, broadcastRanks: Boolean,
                       seeds: Option[Set[Long]] = None): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    graft.operators.PageRank
      .run(edges.toDF("src", "dst"), iters, scale = 1000000L,
        broadcastRanks = broadcastRanks, seeds = seeds.map(_.toSeq.toDF("node")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("PageRank matches the pure integer reference on an asymmetric graph") {
    val s = spark
    import s.implicits._
    // star-with-backedge: 1→2, 2→1, 3→1, 1→3 (node 1 is the hub)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L), (1L, 3L))
    val got = graft.operators.PageRank
      .run(edges.toDF("src", "dst"), iters = 4, scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refPageRank(edges, 4, 1000000L))
    // the hub must outrank the leaves, and leaves tie by symmetry
    assert(got(1L) > got(2L) && got(2L) == got(3L))
  }

  test("PageRank returns identical ranks and drops the intermediate caches") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L), (1L, 3L))
    val before = s.sparkContext.getPersistentRDDs.keySet
    val got = graft.operators.PageRank
      .run(edges.toDF("src", "dst"), iters = 4, scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refPageRank(edges, 4, 1000000L))
    // the three MEMORY_AND_DISK intermediates must be unpersisted; only
    // the localCheckpoint of the returned fixpoint may remain (it is
    // ContextCleaner-reclaimed once the reference drops)
    val leaked = s.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.filterNot(_.name == null)
      .filterNot(_.toString.contains("Checkpoint"))
    assert(s.sparkContext.getPersistentRDDs.size - before.size <= 1,
      s"expected at most the checkpoint RDD to remain, got extra: $leaked")
  }

  test("PageRank conserves mass on a cycle (every node keeps seed rank)") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val got = graft.operators.PageRank
      .run(edges.toDF("src", "dst"), iters = 5, scale = 1000000000L)
      .collect().map(_.getLong(1))
    assert(got.forall(_ == 1000000000L))
  }

  test("PageRank keeps source-only and dangling nodes under both rank joins") {
    val want = refPageRank(sourceAndSink, 4, 1000000L)
    assert(want.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // a node nothing points to keeps exactly its restart term
    assert(want(4L) == 1000000L / 100 * 15)
    assert(pageRank(sourceAndSink, 4, broadcastRanks = true) == want)
    assert(pageRank(sourceAndSink, 4, broadcastRanks = false) == want)
  }

  test("personalized PageRank matches the integer reference with a seed set") {
    val seeds = Set(3L, 4L)
    val want = refPageRank(sourceAndSink, 4, 1000000L, seeds = Some(seeds))
    // the seeded source keeps its restart term
    assert(want(4L) == 1000000L / 100 * 15)
    assert(want.keySet == Set(1L, 2L, 3L, 4L, 5L))
    val bc = pageRank(sourceAndSink, 4, broadcastRanks = true, seeds = Some(seeds))
    assert(bc == want)
    assert(pageRank(sourceAndSink, 4, broadcastRanks = false, seeds = Some(seeds)) == bc)
    // an unseeded node with no in-edges keeps its row, at rank 0
    val unseededSource = refPageRank(sourceAndSink, 4, 1000000L, seeds = Some(Set(3L)))
    assert(unseededSource(4L) == 0L)
    assert(pageRank(sourceAndSink, 4, broadcastRanks = true, seeds = Some(Set(3L))) ==
      unseededSource)
  }

  // ------------------------------------------------------- q77 … q81
  test("q77: names are the sorted 5-prefix and customer counts total") {
    val rows = graft.queries.Analytics.q77(spark, sfDir).collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.load(spark, sfDir, "customer").count())
    rows.foreach { r =>
      val names = r.getString(2).split(",")
      assert(names.length <= 5 && (names sameElements names.sorted))
    }
  }

  test("q78: merged-sketch estimates land in the declared envelope") {
    val rows = graft.queries.Analytics.q78(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.forall(_.getBoolean(3)),
      "HLL union estimate outside ±5% of exact distinct")
  }

  test("q79: ten deciles, counts total, boundaries monotonic") {
    val rows = graft.queries.Analytics.q79(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10))
    assert(rows.map(_.getLong(1)).sum ==
      Tables.load(spark, sfDir, "orders").count())
    val bounds = rows.map(r => (r.getDouble(2), r.getDouble(3)))
    bounds.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi <= lo2, "decile ranges overlap")
    }
  }

  test("q80: trailing 7-day revenue is at least the day's revenue") {
    val rows = graft.queries.Analytics.q80(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(3) >= r.getDouble(2) - 1e-6))
  }

  test("q81: grand-total level matches the full row count") {
    val rows = graft.queries.Analytics.q81(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).toSet == Set(0L, 1L, 3L))
    val grand = rows.filter(_.getLong(2) == 3L)
    assert(grand.length == 1)
    assert(grand.head.getLong(3) ==
      Tables.load(spark, sfDir, "lineitem").count())
  }

  // ------------------------------------------------------------ Sweep
  /** Brute-force reference: concurrency at point-times only, bucketed;
    * same half-open tie rule (end applies before start).
    */
  private def refMaxConcurrent(spans: Seq[(Long, Long)],
                               bucket: Long => Long): Map[Long, Long] = {
    val points = spans.flatMap { case (s, e) => Seq((s, 1L), (e, -1L)) }
      .sortBy { case (t, d) => (t, d) }
    var run = 0L
    val perBucket = scala.collection.mutable.Map.empty[Long, Long]
    points.foreach { case (t, d) =>
      run += d
      val b = bucket(t)
      perBucket.update(b, math.max(perBucket.getOrElse(b, Long.MinValue), run))
    }
    perBucket.toMap
  }

  test("Sweep.maxConcurrent matches brute force incl. cross-bucket carry") {
    val s = spark
    import s.implicits._
    // spans cross the bucket-10 boundaries; [8,9) nests; [22,31) carries
    val spans = Seq((1L, 25L), (5L, 12L), (8L, 9L), (22L, 31L), (2L, 5L), (5L, 7L))
    val got = graft.operators.Sweep
      .maxConcurrent(spans.toDF("start_s", "end_s"),
        t => floor(t / 10).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refMaxConcurrent(spans, _ / 10))
  }

  test("Sweep half-open tie rule: touching spans never overlap") {
    val s = spark
    import s.implicits._
    val spans = Seq((0L, 5L), (5L, 10L), (10L, 15L))
    val got = graft.operators.Sweep
      .maxConcurrent(spans.toDF("start_s", "end_s"), t => lit(0L))
      .collect().map(_.getLong(1))
    assert(got.toSeq == Seq(1L))
  }

  // ------------------------------------------------------------- q83
  test("q83: bucketed join plans without a join-side shuffle") {
    val df = graft.queries.Analytics.q83(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1, s"join side shuffled, plan:\n$plan")
    assert(plan.contains("SortMergeJoin"), "merge hint did not pin SMJ")
    assert(plan.contains("Bucketed: true"), "scan did not use bucketing")
  }

  // ------------------------------------------------------------- q92
  test("q92 in-row pair expansion equals the naive self-join") {
    val s = spark
    import s.implicits._
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val naive = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // full matrix (drop the query's top-20) from the in-row expansion
    val inRow = graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .where(size(col("ps")) >= 2)
      .select(explode(expr(
        """flatten(transform(ps,
          |  (x, i) -> transform(slice(ps, i + 2, size(ps)),
          |    y -> struct(x AS p1, y AS p2))))""".stripMargin)).as("e"))
      .groupBy(col("e.p1"), col("e.p2")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(inRow == naive)
  }

  // ------------------------------------------------------------- q94
  test("gap-fill emits a complete per-type calendar with forward-filled gaps") {
    val rows = graft.queries.Analytics.q94(spark, sfDir).collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      val days = rs.map(_.getDate(1).toLocalDate)
      // spine completeness: every day between min and max exactly once
      assert(days.length ==
        java.time.temporal.ChronoUnit.DAYS.between(days.min, days.max) + 1)
      assert(days.distinct.length == days.length)
      // first row is never a gap (spine starts at an observed day) and
      // filled values are never null after it
      assert(!rs.sortBy(_.getDate(1).getTime).head.getBoolean(2))
      assert(rs.forall(!_.isNullAt(3)))
    }
  }

  test("gap-fill carries the previous observed value across a hole") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    val ev = Seq(
      ("a", Timestamp.valueOf("2024-01-01 10:00:00"), 5.0),
      ("a", Timestamp.valueOf("2024-01-04 10:00:00"), 7.0))
      .toDF("event_type", "ts", "value")
    ev.createOrReplaceTempView("q94_test_events")
    // same shape as q94, inline over the tiny frame
    import org.apache.spark.sql.expressions.Window
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("rev"))
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("day"), col("rev").isNull.as("is_gap"),
        last(col("rev"), ignoreNulls = true).over(w).as("filled"))
      .orderBy(col("day")).collect()
    assert(got.length == 4)
    assert(got.map(_.getBoolean(1)).toSeq == Seq(false, true, true, false))
    assert(got.map(_.getDouble(2)).toSeq == Seq(5.0, 5.0, 5.0, 7.0))
  }

  // ------------------------------------------------------------- q95
  test("SCD2 intervals: versions are contiguous, non-overlapping, one current per key") {
    val rows = graft.queries.Analytics.q95(spark, sfDir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val hist = rs.sortBy(_.getInt(5))
      assert(hist.map(_.getInt(5)).toSeq == (1 to hist.length))
      // each version's valid_to is the next version's valid_from
      hist.sliding(2).foreach {
        case Array(a, b) => assert(a.getDate(4) == b.getDate(3))
        case _ =>
      }
      // exactly the last version is current (valid_to NULL)
      assert(hist.count(_.getBoolean(6)) == 1 && hist.last.getBoolean(6))
    }
  }

  // ------------------------------------------------------------- q97
  test("chi-square grid covers every (lang, source) cell and sums to the scalar statistic") {
    val rows = graft.queries.Text.q97(spark, sfDir).collect()
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val langs = docs.map(_._1).distinct.length
    val sources = docs.map(_._2).distinct.length
    assert(rows.length == langs * sources) // full grid, absent cells included
    assert(rows.map(_.getLong(2)).sum == docs.length) // observed counts partition N
    // contributions reproduce the scalar chi² from a flat Scala count
    val n = docs.length.toDouble
    val rt = docs.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    val ct = docs.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val o = docs.groupBy(identity).view.mapValues(_.length.toDouble).toMap
    // keys.toSeq: a for-yield over Set keys would collect the per-cell
    // contributions into a Set and silently dedupe equal values
    val want = (for (l <- rt.keys.toSeq; s <- ct.keys.toSeq) yield {
      val e = rt(l) * ct(s) / n
      val d = o.getOrElse((l, s), 0.0) - e
      d * d / e
    }).sum
    val got = rows.map(_.getDouble(4)).sum
    assert(math.abs(got - want) < 1e-3)
  }

  // ------------------------------------------------------------- q98
  test("retention cohorts: offset 0 is complete and retention never exceeds 1") {
    val rows = graft.queries.Events.q98(spark, sfDir).collect()
    val byCohort = rows.groupBy(_.getDate(0))
    byCohort.foreach { case (_, rs) =>
      val at0 = rs.filter(_.getInt(1) == 0)
      assert(at0.length == 1 && at0.head.getDouble(4) == 1.0)
      rs.foreach { r =>
        assert(r.getLong(2) <= r.getLong(3)) // n_active <= cohort_size
        assert(r.getDouble(4) <= 1.0 && r.getDouble(4) > 0.0)
      }
    }
  }

  // ------------------------------------------------------------- q99
  test("sliding MAU: sketch estimate stays in the declared envelope, window spans <= 7 days") {
    val rows = graft.queries.Events.q99(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"estimate out of envelope on ${r.getDate(0)}")
      val nd = r.getLong(2)
      assert(nd >= 1 && nd <= 7)
    }
    // a trailing window can never hold fewer users than its busiest
    // single day: check the last full-window day against daily actives
    val daily = graft.Tables.load(spark, sfDir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .groupBy("day").count().collect().map(r => r.getDate(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      daily.get(r.getDate(0)).foreach(d => assert(r.getLong(1) >= d))
    }
  }

  // ------------------------------------------------------------ q100
  test("weighted allocation: quotas sum to the budget and selection fills every quota") {
    val rows = graft.queries.Text.q100(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum == 100L) // largest-remainder exactness
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(2)) // n_kept == quota
      assert(r.getLong(2) <= r.getLong(1)) // quota <= stratum size
    }
    // proportionality within one slot: quota is floor or ceil of share
    val n = rows.map(_.getLong(1)).sum.toDouble
    rows.foreach { r =>
      val share = 100.0 * r.getLong(1) / n
      assert(r.getLong(2) >= math.floor(share) && r.getLong(2) <= math.ceil(share))
    }
  }

  // ------------------------------------------------------------ q101
  test("snapshot diff classifies every key exactly once, null-safely") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, Some(10.0), "A"), (2L, Some(20.0), "B"),
      (3L, None: Option[Double], "C"), (4L, Some(40.0), "D"))
      .toDF("k", "v", "tag")
    val curr = Seq((2L, Some(21.0), "B"), (3L, None: Option[Double], "C"),
      (4L, Some(40.0), "E"), (5L, Some(50.0), "F"))
      .toDF("k", "v", "tag")
    val got = graft.operators.Diff
      .snapshotDiff(base, curr, Seq("k"), Seq("v", "tag"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1 only in base; 2 repriced; 3 identical incl. null v (<=>);
    // 4 tag changed; 5 only in curr
    assert(got == Map(1L -> "removed", 2L -> "changed", 3L -> "unchanged",
      4L -> "changed", 5L -> "added"))
  }

  // ------------------------------------------------------------ q102
  test("column profile matches per-column recomputation") {
    val rows = graft.queries.Analytics.q102(spark, sfDir).collect()
    val o = graft.Tables.load(spark, sfDir, "orders")
    val n = o.count()
    rows.foreach { r =>
      val c = r.getString(0)
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == o.filter(col(c).isNull).count())
      assert(r.getLong(3) == o.select(c).distinct().count())
    }
  }

  // ------------------------------------------------------------ q103
  test("join-size pre-flight predicts the executed self-join cardinality exactly") {
    val first = graft.queries.Analytics.q103(spark, sfDir).collect().head
    val li = graft.Tables.load(spark, sfDir, "lineitem").select(col("l_partkey"))
    val actual = li.join(li.withColumnRenamed("l_partkey", "k"),
      col("l_partkey") === col("k")).count()
    assert(first.getLong(4) == actual) // total_pairs column
  }

  // ------------------------------------------------------------- q96
  test("triangle census counts a known graph exactly") {
    val s = spark
    import s.implicits._
    // triangle 1-2-3 plus pendant edge 3-4: wedges with p1<p2 oriented
    // edges {12,13,23,34}: (1,2)+(2,3)→(1,3)✓; (1,3)+(3,4)→(1,4)✗;
    // (2,3)+(3,4)→(2,4)✗ ⇒ 3 wedges, 1 closed
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("p1", "p2")
      .localCheckpoint()
    val closing = e.select(col("p1").as("ca"), col("p2").as("cc"), lit(1).as("hit"))
    val census = e.as("ab").join(e.as("bc"), col("ab.p2") === col("bc.p1"))
      .select(col("ab.p1").as("a"), col("bc.p2").as("c"))
      .join(closing, col("a") === col("ca") && col("c") === col("cc"), "left")
      .agg(count(lit(1)).as("n_wedges"), count(col("hit")).as("n_triangles"))
      .collect().head
    assert(census.getLong(0) == 3 && census.getLong(1) == 1)
  }

  test("referential integrity separates null keys from orphans") {
    val s = spark
    import s.implicits._
    import graft.operators.Quality.FkCheck
    val fact = Seq(Some(1L), Some(1L), Some(7L), None)
      .toDF("fk") // 7 dangles, one null, 1 resolves twice
    val dim = Seq(1L, 2L).toDF("pk")
    val clean = Seq(Some(2L)).toDF("fk")
    // two edges on the SAME fact (one even on the same column) pin the
    // group-by-fact single-scan path alongside the independent fact
    val dim2 = Seq(7L).toDF("pk2")
    val got = graft.operators.Quality.referentialIntegrity(Seq(
      FkCheck("fact.fk->dim", fact, "fk", dim, "pk"),
      FkCheck("fact.fk->dim2", fact, "fk", dim2, "pk2"),
      FkCheck("clean.fk->dim", clean, "fk", dim, "pk")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got("fact.fk->dim") == ((4L, 1L, 1L, false)))
    assert(got("fact.fk->dim2") == ((4L, 1L, 2L, false)))
    assert(got("clean.fk->dim") == ((1L, 0L, 0L, true)))
  }

  test("kAnonymity generalizes under-k groups and flags residual risk") {
    val s = spark
    import s.implicits._
    // lang a: (s1 ×3 safe with k=3), (s2 ×1, s3 ×1 → generalize to 2,
    // still < 3 → at_risk). lang b: (s1 ×2, s2 ×1 → generalize to 3, safe).
    val df = Seq(("a", "s1"), ("a", "s1"), ("a", "s1"), ("a", "s2"),
      ("a", "s3"), ("b", "s1"), ("b", "s1"), ("b", "s2"))
      .toDF("lang", "source")
    val got = graft.operators.Quality.kAnonymity(df, Seq("lang"), "source", k = 3L)
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1))) ->
        ((r.getLong(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(got(("a", Some("s1"))) == ((3L, false, false)))
    assert(got(("a", None)) == ((2L, true, true))) // generalized, still < k
    assert(got(("b", None)) == ((3L, true, false))) // generalized, now safe
    assert(got.size == 3) // under-k fine groups never publish raw
  }
}
