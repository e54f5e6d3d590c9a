package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantized Lloyd k-means over an embedding column — the clustering
  * stage of semantic dedup (cluster embeddings, keep one representative
  * per cluster; cf. "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication", Abbas et al., arXiv:2303.09540)
  * and the trainer for IVF codebooks ([[VectorSearch.ivfSearch]]
  * consumes a label column; `assign` produces one).
  *
  * All arithmetic is exact integer math so results are deterministic
  * and engine-portable (the DuckDB oracle reproduces them bit-for-bit):
  *  - vectors are quantized once to 1e-6 units (`round(x*1e6)` as
  *    long — both engines round half-away-from-zero on the identical
  *    double);
  *  - distances are exact long sums of squared coordinate
  *    differences (64 dims × (1.2e6)² ≈ 9e13 ≪ 2^63);
  *  - centroid updates divide exact coordinate sums by the cluster
  *    size with truncating integer division (Java `/` = DuckDB `//`),
  *    i.e. centroids live on the same 1e-6 lattice as the vectors.
  * Initial centroids are the vectors of the k smallest ids — the
  * deterministic stand-in for k-means|| seeding (which is the right
  * init at scale but is randomized, so not oracle-checkable).
  *
  * Execution shape at 100 TB: the codebook (k×dim longs) lives on the
  * driver, exactly like Spark MLlib's KMeans. Each assignment pass is
  * a map-side in-row argmin against centroid *literals* — no join, no
  * shuffle, whole-stage codegen'd higher-order functions. Each update
  * pass is one partial-aggregated shuffle of k×dim groups. Cost per
  * iteration = one scan + one tiny shuffle, independent of k·n pair
  * count.
  */
object KMeans {

  /** 1e-6-lattice quantization of a float/double vector column. */
  def quantize(vecCol: Column): Column =
    transform(vecCol, x => round(x.cast("double") * 1000000d).cast("long"))

  /** In-row argmin over centroid literals: returns (cid, d2) struct.
    * `cents` must be sorted by cid so that `array_position`'s
    * first-occurrence semantics break distance ties toward the
    * smallest cid (the oracle's `ORDER BY d2, cid`). */
  private def assignExpr(sv: Column, cents: Seq[(Int, Array[Long])]): Column = {
    val centArr = array(cents.map { case (_, m) => array(m.map(lit).toIndexedSeq: _*) }: _*)
    val cidArr = array(cents.map { case (cid, _) => lit(cid) }: _*)
    // codegen'd native L2 ([[graft.functions.LongVectorL2]]) — the
    // zip_with/aggregate fold it replaced ran interpreted per
    // (vector, centroid) pair; callers register via ensureRegistered
    val d2s = transform(centArr, m => call_function("long_vector_l2", sv, m))
    val best = array_min(d2s)
    struct(
      element_at(cidArr, array_position(d2s, best).cast("int")).as("cid"),
      best.as("d2"))
  }

  /** Trains the codebook: `passes - 1` Lloyd updates from the
    * deterministic seed (the k smallest ids' quantized vectors),
    * returned as driver-side (cid, centroid) pairs — k×dim longs, the
    * same shape MLlib keeps on the driver. Exposed so consumers that
    * need the centroids themselves (PQ distance tables, IVF codebook
    * literals) share one training path with [[assign]]. */
  def train(df: DataFrame, idCol: String, vecCol: String,
            k: Int = 8, passes: Int = 2): Seq[(Int, Array[Long])] = {
    require(k >= 1 && passes >= 1, "k and passes must be >= 1")
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    // pinned: the seed collect plus every Lloyd round re-scans this,
    // and the input may carry an upstream exchange (Tables.load spreads
    // byte-small embedding files) — evaluate it once, like MLlib's
    // handlePersistence. Bounded: (id, quantized vec) rows, released
    // when training returns.
    val sv = df.select(col(idCol), quantize(col(vecCol)).as("sv"))
    graft.Pin.during(sv) {
      // deterministic seed: the k smallest ids' vectors, cid = rank.
      // k rows to the driver — the codebook collect, not a data collect.
      val cents: Seq[(Int, Array[Long])] =
        sv.orderBy(col(idCol)).limit(k).collect().zipWithIndex.map {
          case (r, i) => (i, r.getSeq[Long](1).toArray)
        }.toIndexedSeq
      // an empty corpus trains an empty codebook (and must not reach
      // assignExpr, whose empty-array literal would type as VOID) — the
      // upstream-stage-emptied-the-corpus case a cleaning pipeline can
      // legitimately produce (the sf1 scale probe hit it through q184's
      // decontamination stage)
      if (cents.isEmpty) cents else lloyd(sv, idCol, cents, passes)
    }
  }

  /** `passes - 1` Lloyd updates over a pre-quantized (idCol, sv)
    * frame from caller-provided initial centroids — the shared tail
    * of [[train]] (first-k seed) and [[trainParallelInit]]
    * (k-means|| seed). */
  private def lloyd(sv: DataFrame, idCol: String,
                    init: Seq[(Int, Array[Long])],
                    passes: Int): Seq[(Int, Array[Long])] = {
    var cents = init
    for (_ <- 1 until passes) {
      val a = sv.select(col(idCol), col("sv"),
        assignExpr(col("sv"), cents).getField("cid").as("cid"))
      // one shuffle of (cid, dim) partial sums; k×dim rows back
      val upd = a.select(col("cid"), posexplode(col("sv")).as(Seq("d", "v")))
        .groupBy(col("cid"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .collect()
      cents = upd.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (cid, rows) =>
        val m = new Array[Long](rows.length)
        rows.foreach(r => m(r.getInt(1)) = r.getLong(2) / r.getLong(3))
        (cid, m)
      }.toIndexedSeq
    }
    cents
  }

  /** k-means‖ (scalable k-means++) initialization, determinized
    * (Bahmani, Moseley, Vattani, Kumar & Vassilvitskii, "Scalable
    * K-Means++", VLDB 2012), followed by the shared Lloyd tail — the
    * production replacement for [[train]]'s documented first-k-by-id
    * seed:
    *
    *  1. C ← the min-id vector (deterministic singleton seed);
    *  2. `rounds` oversampling rounds: each point x is drawn with
    *     probability min(1, ℓ·d²(x,C)/φ), φ = Σ d², using a
    *     DETERMINISTIC Bernoulli draw in place of the paper's RNG —
    *     point x enters iff `draw(x, r)·φ < ℓ·d²·2²⁰`, where draw =
    *     two Lehmer/MINSTD steps over poly_hash('kpp<r>:' ++ id)
    *     taken mod 2²⁰ (see the in-code note on low-bit uniformity),
    *     exact integer arithmetic on both engines
    *     (φ ≤ N·64·(2.4·10⁶)² needs 128-bit: DECIMAL(38,0) here,
    *     HUGEINT in the oracle; the products stay ≤ ~10²⁶ ≪ 10³⁸).
    *     A point already in C has d² = 0 and can never re-enter;
    *  3. weights: every point assigns to its nearest candidate
    *     (tie → smallest candidate id), w(c) = |assigned|;
    *  4. recluster the ~ℓ·rounds candidates to k centers with
    *     WEIGHTED GREEDY MAXIMIN (first pick = max weight, then
    *     argmax w(c)·d²(c, picked), ties → min id) — the
    *     deterministic, oracle-replayable stand-in for the paper's
    *     randomized weighted k-means++ recluster;
    *  5. `passes − 1` Lloyd updates from those k centers (cid =
    *     pick order).
    *
    * Execution shape at 100 TB — the point of k-means‖: each round
    * is ONE scan computing in-row d² against ≤ ℓ·rounds candidate
    * literals plus a candidate-sized collect (codebook-scale, like
    * MLlib's `initKMeansParallel`); the recluster runs on ≤ ℓ·rounds
    * driver-side rows. No scan ever shuffles corpus rows. A corpus
    * with fewer than k distinct candidates trains a smaller codebook
    * (empty corpus → empty codebook, as [[train]]).
    */
  def trainParallelInit(df: DataFrame, idCol: String, vecCol: String,
                        k: Int = 8, ell: Int = 8, rounds: Int = 3,
                        passes: Int = 2): Seq[(Int, Array[Long])] = {
    require(k >= 1 && ell >= 1 && rounds >= 1 && passes >= 1,
      "k, ell, rounds and passes must be >= 1")
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val M = 1048576L // 2^20 draw resolution
    // cut: re-scanned once per round + twice after
    val sv = df.select(col(idCol), quantize(col(vecCol)).as("sv"))
      .transform(graft.Pin.cut)
    val seed = sv.orderBy(col(idCol)).limit(1).collect()
    if (seed.isEmpty) return Seq.empty
    var cand: Seq[(Long, Array[Long])] =
      seed.toIndexedSeq.map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    for (r <- 1 to rounds) {
      val cents = cand.sortBy(_._1).zipWithIndex
        .map { case ((_, v), i) => (i, v) }
      val d2 = sv.select(col(idCol), col("sv"),
        assignExpr(col("sv"), cents).getField("d2").as("d2"))
      val phi = d2.agg(sum(col("d2").cast(dec))).head().getDecimal(0)
      // Loud guard on the scaladoc'd φ bound: past it, Spark's
      // non-ANSI DECIMAL(38,0) multiply in the Bernoulli filter NULLs
      // silently (rows silently unselected) while the oracle's HUGEINT
      // errors — fail here instead of silently diverging. draw < 2²⁰,
      // so draw·φ stays exact while φ < 10³⁸/2²⁰ ≈ 9.5·10³¹; the
      // require uses 10³¹ for an order-of-magnitude headroom.
      require(phi == null ||
        phi.compareTo(new java.math.BigDecimal("1e31")) < 0,
        s"k-means|| oversampling potential phi=$phi exceeds the exact " +
          "DECIMAL(38,0) draw bound (1e31); quantize coarser or " +
          "subsample the corpus before trainParallelInit")
      if (phi != null && phi.signum > 0) {
        // poly_hash alone is NOT a usable draw: the base-31
        // polynomial's low 20 bits are badly non-uniform on short
        // sequential-id strings (measured at sf1: zero values below
        // 19606 of 2²⁰ — zero draws ever fired; a hash-of-hash still
        // clustered into [77k, 650k]). Two Lehmer/MINSTD steps
        // (×48271 mod 2³¹−1 — full-period multiplier, products
        // < 2⁴⁷ so no overflow in either engine) scramble it to
        // Poisson-consistent uniformity at every tested scale.
        val p31 = lit(2147483647L)
        val h1 = call_function("poly_hash",
          concat(lit(s"kpp$r:"), col(idCol).cast("string")))
        val draw =
          (h1 + lit(1L)) * lit(48271L) % p31 * lit(48271L) % p31 % lit(M)
        val selected = d2
          .where(draw.cast(dec) * lit(phi) <
            col("d2").cast(dec) * lit(ell * M))
          .select(col(idCol), col("sv")).collect()
        cand = cand ++ selected.toIndexedSeq
          .map(r2 => (r2.getLong(0), r2.getSeq[Long](1).toArray))
      }
    }
    // weights: candidate-sized aggregate of an in-row assignment
    val byId = cand.sortBy(_._1)
    val wRows = sv.select(assignExpr(col("sv"),
        byId.zipWithIndex.map { case ((_, v), i) => (i, v) })
        .getField("cid").as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("w")).collect()
    val w = wRows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    final case class Cand(id: Long, vec: Array[Long], w: Long)
    val cs = byId.zipWithIndex.map { case ((id, v), i) =>
      Cand(id, v, w.getOrElse(i, 0L))
    }
    def dist2(a: Array[Long], b: Array[Long]): BigInt = {
      var s = BigInt(0); var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += BigInt(d) * d; i += 1 }
      s
    }
    // weighted greedy maximin over the tiny candidate set
    val first = cs.maxBy(c => (c.w, -c.id))
    val picked = scala.collection.mutable.ArrayBuffer(first)
    while (picked.length < math.min(k, cs.length)) {
      // already-picked ids are excluded outright (their maximin score
      // is 0, but so is a zero-weight or duplicate-vector candidate's
      // — exclusion keeps the pick well-defined in that degenerate
      // case too, mirrored by the oracle's anti-join)
      val remaining = cs.filterNot(c => picked.exists(_.id == c.id))
      val next = remaining.maxBy { c =>
        (BigInt(c.w) * picked.map(p => dist2(c.vec, p.vec)).min, -c.id)
      }
      picked += next
    }
    lloyd(sv, idCol, picked.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.vec) }, passes)
  }

  /** In-row assignment of every row to its nearest centroid in a
    * caller-provided codebook: (idCol, cid int, d2 long). */
  def assignWith(df: DataFrame, idCol: String, vecCol: String,
                 cents: Seq[(Int, Array[Long])]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    // empty codebook (trained on an emptied corpus) assigns nothing —
    // schema-stable empty result instead of a VOID-typed array literal
    if (cents.isEmpty)
      df.select(col(idCol), lit(0).cast("int").as("cid"),
        lit(0L).as("d2")).limit(0)
    else
      df.select(col(idCol), quantize(col(vecCol)).as("sv"))
        .select(col(idCol), assignExpr(col("sv"), cents).as("a"))
        .select(col(idCol), col("a.cid").as("cid"), col("a.d2").as("d2"))
  }

  /** Runs `passes` assignment passes (centroids update between passes,
    * not after the last). Returns one row per input row:
    * (idCol, cid int, d2 long) against the final centroids. A cluster
    * that loses all members simply drops out of the codebook. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             k: Int = 8, passes: Int = 2): DataFrame =
    assignWith(df, idCol, vecCol, train(df, idCol, vecCol, k, passes))

  /** Per-cluster summary of a final assignment: size, representative
    * (min id — the semantic-dedup survivor), exact within-cluster
    * squared scatter on the 1e-6 lattice. */
  def clusterSummary(assigned: DataFrame, idCol: String): DataFrame =
    assigned.groupBy(col("cid").as("cluster_id"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("rep_id"),
        sum(col("d2")).as("wss"))

  /** Incremental codebook maintenance from sufficient statistics —
    * the clustering member of the engine's incremental family (exact
    * hash store q113, signature store q109, streaming cycle): a
    * codebook trained on `hist` absorbs a new `batch` WITHOUT
    * rescanning history, because per-cluster coordinate sums and
    * counts are a sufficient statistic for the Lloyd update. Both
    * halves assign in-row against the trained centroid literals; the
    * refreshed centroid is `(hist_sum + batch_sum) div (n_h + n_b)`
    * per dimension (exact lattice arithmetic, identical to a full
    * Lloyd round over the union), and `move2` = Σ_d (new_d − old_d)²
    * reports how far each center moved — the rebuild-trigger signal,
    * the codebook-side twin of [[VectorSearch.centroidDrift]].
    *
    * Scale shape: training sees only `hist` (at refresh time: only
    * its stored stats); the batch pass is one in-row assignment +
    * one (k×dims)-group partial-agg shuffle. At 100 TB the (cid, d,
    * sum, n) table IS the store — k×dims rows, re-read per refresh
    * while the history vectors stay cold.
    * Output: cid, n_hist, n_batch (0 for unrefreshed clusters),
    * move2.
    */
  def incrementalSummary(hist: DataFrame, batch: DataFrame,
                         idCol: String, vecCol: String,
                         k: Int = 8, passes: Int = 2): DataFrame = {
    val cents = train(hist, idCol, vecCol, k, passes)
    def stats(df: DataFrame) = df
      .select(col(idCol), quantize(col(vecCol)).as("sv"))
      .select(col("sv"), assignExpr(col("sv"), cents).getField("cid").as("cid"))
      .select(col("cid"), posexplode(col("sv")).as(Seq("d", "v")))
      .groupBy(col("cid"), col("d"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val h = stats(hist)
      .select(col("cid"), col("d"), col("s").as("hs"), col("n").as("hn"))
    val b = stats(batch)
      .select(col("cid").as("bcid"), col("d").as("bd"),
        col("s").as("bs"), col("n").as("bn"))
    import hist.sparkSession.implicits._
    val old = cents.flatMap { case (cid, m) =>
      m.zipWithIndex.map { case (v, d) => (cid, d, v) }
    }.toDF("ocid", "od", "old")
    h.join(b, col("cid") === col("bcid") && col("d") === col("bd"), "left")
      .join(broadcast(old), col("cid") === col("ocid") && col("d") === col("od"))
      .withColumn("nd",
        expr("(hs + coalesce(bs, 0L)) div (hn + coalesce(bn, 0L))"))
      .groupBy(col("cid"))
      .agg(max(col("hn")).as("n_hist"),
        max(coalesce(col("bn"), lit(0L))).as("n_batch"),
        sum((col("nd") - col("old")) * (col("nd") - col("old"))).as("move2"))
  }
}
