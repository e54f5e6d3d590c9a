package graft.llm

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Parameterized similarity-search operators over any embedding corpus
  * — the library API behind q31/q32/q33/q47. Vectors are
  * `array<float>`; all cosines come from the exact scaled-long dot
  * product ([[graft.functions.VectorDotScaled]]), so results are
  * deterministic and engine-portable.
  */
object VectorSearch {

  private def dot(c1: String, c2: String): String =
    s"cast(vector_dot_scaled($c1, $c2) as double) / 1e12"

  /** Spreads a narrow source across the full shuffle parallelism. A
    * small parquet file scans as ONE partition, and AQE coalesces
    * shuffles by *bytes* — so anything quadratic downstream (the
    * brute-force join, the per-bucket self-join) would otherwise run
    * single-threaded no matter how many cores exist. The O(n) shuffle
    * is always worth it ahead of an O(n²) operator; the explicit
    * partition count is honored (not re-coalesced) by AQE.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Salt count for the salted list-expansion joins, derived from the
    * ACTUAL list count (round 16; previously a flat 32): the HOME side
    * replicates ×salts, so salts are sized as the minimum that keeps
    * the join key space (nlist × salts) at ≥ 4× the shuffle
    * parallelism — enough distinct keys for an even hash spread
    * (guide §2.5's 20-100× rule scaled to these row counts) without
    * replicating the home side a single byte more than the skew
    * relief needs. When nlist itself exceeds 4× the core count (the
    * production √N codebook regime) salts collapse to 1 and the home
    * side is not replicated at all. Still capped at 32 (the round-15
    * bound) so home-side shuffle volume can never scale with the
    * configured partition count. */
  private def saltCount(spark: org.apache.spark.sql.SparkSession,
                        nlist: Int): Int = {
    val nPart = spark.sessionState.conf.numShufflePartitions
    math.max(1, math.min(32, (4 * nPart + nlist - 1) / math.max(1, nlist)))
  }

  /** Adds an exact L2 norm column. */
  def withNorm(df: DataFrame, vecCol: String, normCol: String = "nrm"): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    df.withColumn(normCol, sqrt(expr(dot(vecCol, vecCol))))
  }

  /** Exact brute-force cosine top-k per vector via the bounded-heap
    * native aggregate. Output: va, rn, vb, cos. Quadratic by
    * definition — the baseline; use [[annTopK]] at scale.
    *
    * cos(a,b) = cos(b,a), so the join emits only `va < vb` pairs —
    * half the dot products — and an inline two-row explode mirrors
    * each pair into both orientations before the per-vector top-k
    * (one pass; no recompute and no persist of the pair stream).
    */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val e = withNorm(df, vecCol)
    // streamed side spread across cores; build side stays narrow for
    // the broadcast
    val a = spread(e)
      .select(col(idCol).as("va"), col(vecCol).as("ea"), col("nrm").as("na"))
    val b = e.select(col(idCol).as("vb"), col(vecCol).as("eb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("va") < col("vb"))
      .withColumn("cos", expr(dot("ea", "eb")) / (col("na") * col("nb")))
      .select(explode(array(
        struct(col("va"), col("vb"), col("cos")),
        struct(col("vb").as("va"), col("va").as("vb"), col("cos")))).as("p"))
      .select(col("p.va").as("va"), col("p.vb").as("vb"), col("p.cos").as("cos"))
      .groupBy(col("va"))
      .agg(expr(s"topk_neighbors(vb, cos, $k)").as("top"))
      .select(col("va"), posexplode(col("top")).as(Seq("pos", "n")))
      .select(col("va"), (col("pos") + 1).cast("int").as("rn"),
        col("n.vb").as("vb"), col("n.cos").as("cos"))
  }

  /** Scalar quantization (SQ8) search with exact rerank: each vector is
    * compressed to one byte per dimension against the corpus-wide
    * per-dimension [min, max] range, candidates are generated by the
    * symmetric quantized-code dot product (pure BIGINT arithmetic —
    * engine-exact by construction), and only the top-`m` candidates per
    * query are reranked with the exact cosine on the full vectors.
    *
    * Scale design: this is the middle tier between raw brute force
    * (q31) and PQ (q115) — codes are 4× smaller than float32 vectors,
    * so the candidate scan reads a quarter of the bytes, and the exact
    * rerank touches only `m` full vectors per query instead of the
    * corpus. The per-dimension stats are a `dim`-row aggregation result
    * (bounded by dimensionality, not corpus size — the same justified
    * driver-collect shape as the k-means centroids); quantization and
    * both dot products are in-row. Candidate generation scans every
    * CODE per query (q115's allowlisted shape); at cluster scale it
    * composes with IVF list pruning.
    *
    * Quantization rounds with `floor(v + 0.5)` — bit-identical in any
    * IEEE engine, unlike `round()` whose half-way rule differs across
    * engines. Code dots fit comfortably: 64 · 255² < 2²³.
    */
  def sq8Rerank(df: DataFrame, idCol: String, vecCol: String,
                m: Int = 10, k: Int = 3): DataFrame = {
    val codes = sq8Codes(df, idCol, vecCol)
    val a = spread(codes).select(col(idCol).as("va"), col("q").as("qa"))
    val b = codes.select(col(idCol).as("vb"), col("q").as("qb"))
    val cand = a.join(broadcast(b), col("va") =!= col("vb"))
      .withColumn("score", codeDot)
      .groupBy(col("va"))
      .agg(expr(s"topk_neighbors(vb, score, $m)").as("top"))
      .select(col("va"), explode(col("top")).as("n"))
      .select(col("va"), col("n.vb").as("vb"))
    exactRerank(df, idCol, vecCol, cand, k)
  }

  /** SQ8 byte codes against the corpus-wide per-dimension [min, max]
    * range: (idCol, q array<bigint>). The per-dimension stats are a
    * `dim`-row aggregation result (bounded by dimensionality, not
    * corpus size — the justified driver-collect shape); quantization
    * is in-row. `floor(v + 0.5)` rounding is bit-identical in any
    * IEEE engine, unlike `round()` whose half-way rule differs. */
  private def sq8Codes(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    sq8CodesFrozen(df, idCol, vecCol, sq8Stats(df, vecCol))

  /** Per-dimension [min, max] over `df` — the SQ8 codebook stats, a
    * dim-row driver collect (bounded by dimensionality). */
  private def sq8Stats(df: DataFrame, vecCol: String): Seq[(Int, Double, Double)] =
    df.select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** SQ8 quantization against a GIVEN per-dimension [min, max] table —
    * the frozen-codebook form the incremental index path needs: a new
    * batch is coded with the stats of the index build, so history is
    * never rescanned. Values outside the frozen range clamp to the
    * code boundary (0/255) — a no-op when stats come from the coded
    * corpus itself, as in [[sq8Rerank]]. */
  private def sq8CodesFrozen(df: DataFrame, idCol: String, vecCol: String,
                             stats: Seq[(Int, Double, Double)]): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val mnArr = array(stats.map(s => lit(s._2)): _*)
    val mxArr = array(stats.map(s => lit(s._3)): _*)
    df.withColumn("mn_a", mnArr).withColumn("mx_a", mxArr)
      .withColumn("q", expr(
        s"""transform($vecCol, (x, i) ->
           |  CASE WHEN element_at(mx_a, i + 1) = element_at(mn_a, i + 1) THEN 0L
           |       ELSE GREATEST(0L, LEAST(255L,
           |            CAST(floor((CAST(x AS DOUBLE) - element_at(mn_a, i + 1))
           |              / (element_at(mx_a, i + 1) - element_at(mn_a, i + 1))
           |              * 255.0D + 0.5D) AS BIGINT))) END)""".stripMargin))
      .select(col(idCol), col("q"))
  }

  /** Symmetric quantized-code dot product over (qa, qb) — pure BIGINT
    * arithmetic via the codegen'd [[graft.functions.LongVectorDot]]
    * (the declarative `aggregate(zip_with(...))` form ran interpreted
    * with a boxed intermediate array per pair — the dominant cost of
    * the all-pairs candidate scan in the sf1 probe). Engine-exact by
    * construction: `SUM(a.q * b.q)` reproduces it. 64 · 255² < 2²³. */
  private def codeDot: Column = expr("CAST(long_vector_dot(qa, qb) AS DOUBLE)")

  /** Exact-cosine rerank of a (va, vb) candidate set: joins the full
    * vectors for only the candidates (m per query, not the corpus)
    * and keeps the top-`k` by exact cosine. */
  private[graft] def exactRerank(df: DataFrame, idCol: String, vecCol: String,
                          cand: DataFrame, k: Int): DataFrame = {
    val e = withNorm(df, vecCol)
    cand
      .join(e.select(col(idCol).as("va"), col(vecCol).as("ea"),
        col("nrm").as("na")), "va")
      .join(e.select(col(idCol).as("vb"), col(vecCol).as("eb"),
        col("nrm").as("nb")), "vb")
      .withColumn("cos", expr(dot("ea", "eb")) / (col("na") * col("nb")))
      .groupBy(col("va"))
      .agg(expr(s"topk_neighbors(vb, cos, $k)").as("top"))
      .select(col("va"), posexplode(col("top")).as(Seq("pos", "n")))
      .select(col("va"), (col("pos") + 1).cast("int").as("rn"),
        col("n.vb").as("vb"), col("n.cos").as("cos"))
  }

  /** IVF-pruned SQ8 search + exact rerank — the composed production
    * tier [[sq8Rerank]]'s scaladoc promises: the coarse quantizer
    * ([[ivfAssign]] — per-label centroids, the q57 machinery) prunes
    * the candidate scan to each query's `nprobe` nearest inverted
    * lists, the SQ8 code dot ranks ONLY those lists' codes (byte
    * codes, 4× smaller than float32), and the exact cosine reranks
    * only the surviving top-`m` per query.
    *
    * Scale shape vs [[sq8Rerank]]: the code scan drops from
    * corpus²/query-set to nprobe/nlist of it, and at production nlist
    * grows with the corpus (√N coarse centroids is the standard
    * sizing), keeping per-query candidate cost flat. Execution: the
    * probed and home sides shuffle once on list_id (a co-partitioned
    * equi-join — no broadcast of a corpus-sized side, unlike the
    * baseline's broadcast build), scoring is in-row, and the rerank
    * touches m full vectors per query.
    */
  def sq8IvfRerank(df: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, m: Int = 10, k: Int = 3,
                   nprobe: Int = 2): DataFrame = {
    ivfCandidateRerank(df, idCol, vecCol, labelCol,
      sq8Codes(df, idCol, vecCol), "q", "qa", "qb",
      codeDot, m, k, nprobe)
  }

  /** Attribute-FILTERED IVF+SQ8 search — the filtered-vector-search
    * production verb (tenant/ACL/metadata-scoped ANN): queries from
    * the `queryPred` slice search ONLY the vectors satisfying
    * `catalogPred`, with the filter applied as a PRE-FILTER on the
    * candidate side of the scan, before top-`m` ranking. The
    * distinction matters for recall, not just cost: POST-filtering
    * (rank top-m over everything, then drop non-matching) returns
    * fewer than `m` usable candidates whenever non-matching vectors
    * crowd the top — at 1% selectivity a post-filtered top-10 is
    * usually empty. Pre-filtering keeps the top-`m` guarantee among
    * the matching sub-catalog at the cost of evaluating the (cheap,
    * stored-attribute) predicate inside the scan — the standard
    * design in filtered-ANN systems.
    *
    * Plumbing: [[sq8IvfRerank]]'s scaffolding with the predicates
    * pushed into the probe/home sides of the candidate join — the
    * codebook, codes, and assignments are computed over the FULL
    * corpus (one shared index serves every filter), only the scan is
    * scoped. Both predicates see the id column. Output: va, rn, vb,
    * cos, with every vb satisfying `catalogPred`.
    */
  def sq8IvfFilteredRerank(df: DataFrame, idCol: String, vecCol: String,
                           labelCol: String, queryPred: Column,
                           catalogPred: Column, m: Int = 10, k: Int = 3,
                           nprobe: Int = 2): DataFrame = {
    ivfCandidateRerank(df, idCol, vecCol, labelCol,
      sq8Codes(df, idCol, vecCol), "q", "qa", "qb",
      codeDot, m, k, nprobe,
      probeFilter = queryPred, homeFilter = catalogPred)
  }

  /** Shared IVF candidate-generation scaffolding for the quantized
    * tiers (SQ8 [[sq8IvfRerank]], packed-Hamming
    * [[binaryHammingIvfRerank]]): the nprobe coarse assignment is
    * persisted and materialized ONCE (probed and home sides both read
    * it), the probe side joins its tier's codes and is salted, the
    * (small, per-list) home side replicates across the salts, and the
    * scored candidates keep top-`m` per query before the exact
    * rerank. One definition means a salting/pin-lifecycle fix
    * lands in every tier at once.
    *
    * Salting rationale: at test scale nlist (10 labels) is far below
    * the core count, so a plain list_id join would run the entire
    * candidate scan in nlist tasks. Salting the probe side and
    * replicating the per-list home side restores full parallelism —
    * the q45 skew-salted shape. At production nlist ≫ cores and salts
    * can drop to 1.
    *
    * `codes` carries (idCol, `codeCol`); the probe/home sides alias it
    * to `aliasA`/`aliasB`, which `score` references (higher = closer).
    */
  private def ivfCandidateRerank(df: DataFrame, idCol: String,
                                 vecCol: String, labelCol: String,
                                 codes: DataFrame, codeCol: String,
                                 aliasA: String, aliasB: String,
                                 score: Column, m: Int, k: Int,
                                 nprobe: Int,
                                 probeFilter: Column = lit(true),
                                 homeFilter: Column = lit(true)): DataFrame = {
    // Materialize the codes ONCE (id → code payload, corpus-rows tiny):
    // without the barrier, CollapseProject hoists the deterministic
    // code-computing expression up through the candidate join and
    // re-evaluates it PER PAIR — for the packed-sign tier that was an
    // interpreted 64-step fold × |candidate pairs| (measured 3.9 s vs
    // 1.6 s for the sf0.1 candidate stage; quadratically worse with
    // corpus growth, since pairs outnumber rows by the list size).
    val codesA = codes.select(col(idCol).as("va"), col(codeCol).as(aliasA))
    val codesB = codes.select(col(idCol).as("vb"), col(codeCol).as(aliasB))
    val cents = ivfCodebook(df, vecCol, labelCol)
    val assign = assignToCents(df, idCol, vecCol, cents, nprobe)
    val salts = saltCount(df.sparkSession, cents.size)
    val cand = graft.Pin.during(codes, assign) {
      codes.count()
      assign.count() // materialize once; probed + home both read it
      val probed = assign.where(probeFilter)
        .select(col(idCol).as("va"), col("list_id"))
        .join(codesA, "va")
        .withColumn("salt", pmod(hash(col("va")), lit(salts)))
      val home = assign.where(col("rn") === 1 && homeFilter)
        .select(col(idCol).as("vb"), col("list_id"))
        .join(codesB, "vb")
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      // The candidate join EXPANDS ~list-size× past its inputs, which
      // AQE cannot see: with byte-sized codes both inputs fall under the
      // broadcast threshold and the pre-expansion stream coalesces to a
      // handful of partitions — the 10⁷–10⁸-pair scan and the top-m
      // aggregate then run nearly serially, defeating the salting
      // entirely (measured at sf1: 40–55 s candidate stage for the
      // 4-int PQ codes vs ~9 s fixed; the SQ8 tier only escaped because
      // its 64-long codes exceed the broadcast threshold). The explicit
      // numbered repartition pins the join's parallelism (AQE does not
      // coalesce user-specified partition counts) and the shuffle-hash
      // hint keeps the planner from converting the small build side
      // back into a broadcast.
      val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
      probed.repartition(nPart, col("list_id"), col("salt"))
        .hint("shuffle_hash")
        .join(home, Seq("list_id", "salt"))
        .where(col("va") =!= col("vb"))
        .withColumn("score", score)
        .groupBy(col("va"))
        .agg(expr(s"topk_neighbors(vb, score, $m)").as("top"))
        .select(col("va"), explode(col("top")).as("n"))
        .select(col("va"), col("n.vb").as("vb"))
        // one eager materialization of the m-per-query id pairs — the
        // narrowest point of the pipeline — after which the corpus-sized
        // code and assignment pins are dropped HERE instead of holding
        // executor memory for the session; the checkpointed pairs are
        // reclaimed by the ContextCleaner once the caller drops the
        // result
        .transform(graft.Pin.cut)
    }
    exactRerank(df, idCol, vecCol, cand, k)
  }

  /** 1-bit binary-quantization search with Hamming-distance candidate
    * generation and exact rerank — the smallest-scan ANN tier beside
    * SQ8 ([[sq8Rerank]], 4× smaller than float32) and PQ: each 64-dim
    * float32 vector packs into TWO 32-bit sign words, so the candidate
    * scan reads 16 bytes per vector instead of 256 (16×), and each
    * pair costs two XORs + two popcounts of register-width integers
    * (codegen'd `bit_count`, no branches, no array traversal). Bit i
    * is set iff dimension i strictly exceeds the corpus mean of that
    * dimension, tested in exact scaled-long space (`sv[i]·N > Σsv[i]`)
    * so codes are engine-identical by construction — no float or
    * decimal rounding knife-edge near the threshold. Candidates =
    * top-`m` per query by ascending Hamming distance (ties toward the
    * smaller id); only those `m` full vectors are reranked by the
    * exact cosine.
    *
    * Scale design: the per-dimension sums are a dim-row aggregation
    * (bounded by dimensionality, the [[sq8Rerank]] shape); the code
    * scan is the declared all-pairs baseline shape but over 16-byte
    * codes, and at cluster scale it composes with IVF list pruning
    * exactly as SQ8 does in [[sq8IvfRerank]]. Two 32-bit words keep
    * every shift below the BIGINT sign bit, making the packing
    * portable integer arithmetic in any engine, and the layout
    * generalizes to ⌈d/32⌉ words for wider embeddings.
    */
  def binaryHammingRerank(df: DataFrame, idCol: String, vecCol: String,
                          m: Int = 10, k: Int = 3): DataFrame = {
    val codes = binaryCodes(df, idCol, vecCol)
    val a = spread(codes)
      .select(col(idCol).as("va"), col("c0").as("c0a"), col("c1").as("c1a"))
    val b = codes
      .select(col(idCol).as("vb"), col("c0").as("c0b"), col("c1").as("c1b"))
    val cand = a.join(broadcast(b), col("va") =!= col("vb"))
      .withColumn("score",
        -expr("CAST(bit_count(c0a ^ c0b) + bit_count(c1a ^ c1b) AS DOUBLE)"))
      .groupBy(col("va"))
      .agg(expr(s"topk_neighbors(vb, score, $m)").as("top"))
      .select(col("va"), explode(col("top")).as("n"))
      .select(col("va"), col("n.vb").as("vb"))
    exactRerank(df, idCol, vecCol, cand, k)
  }

  /** Sign-bit codes (idCol, c0, c1): bit (i mod 32) of word ⌊i/32⌋ is
    * set iff `sv[i]·N > Σ_corpus sv[i]` — strictly-above-mean in exact
    * scaled-long arithmetic ([[KMeans.quantize]]'s 1e6 lattice). The
    * per-dimension sums are a dim-row driver collect (bounded by
    * dimensionality, not corpus size — the [[sq8Rerank]] shape).
    */
  private[graft] def binaryCodes(df: DataFrame, idCol: String,
                                 vecCol: String): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val sv = KMeans.quantize(col(vecCol))
    val stats = df
      .select(posexplode(sv).as(Seq("i", "s")))
      .groupBy(col("i"))
      .agg(sum(col("s")).as("tot"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(stats.nonEmpty && stats.length <= 64,
      s"binaryCodes packs two 32-bit words; got dim ${stats.length}")
    val totArr = array(stats.toIndexedSeq.map(s => lit(s._2)): _*)
    val n = stats.head._3
    // ragged input would silently mis-threshold: every dimension must
    // have been observed in every vector for `sv[i]·N > tot[i]` to be
    // the strictly-above-mean test
    require(stats.forall(_._3 == n),
      s"binaryCodes requires equal-length vectors; per-dimension counts " +
        s"range ${stats.map(_._3).min}..${stats.map(_._3).max}")
    // native codegen'd packing ([[graft.functions.PackedSignWord]]) —
    // the `aggregate(sequence(lo,hi),…)` fold it replaced ran
    // interpreted, 32 boxed steps per word per row
    def word(w: Int): Column = {
      val lo = w * 32
      val hi = math.min(stats.length, lo + 32) - 1
      if (lo > hi) lit(0L)
      else call_function("packed_sign_word", col("sv"), totArr,
        lit(n), lit(lo), lit(hi))
    }
    df.withColumn("sv", sv)
      .select(col(idCol), word(0).as("c0"), word(1).as("c1"))
  }

  /** Packed sign-bit codes (idCol, code): [[binaryCodes]]'s two 32-bit
    * words collapsed into ONE 64-bit word per 64 dims — 8 bytes per
    * vector instead of 16, one XOR + one popcount per pair instead of
    * two. Bit i (including bit 63, the BIGINT sign bit — two's
    * complement makes `shiftleft(1L, 63)` a plain negative long that
    * XOR/popcount treat as 64 flat bits in both engines) is set iff
    * `sv[i]·N > Σ_corpus sv[i]`, the same strictly-above-mean test in
    * exact scaled-long arithmetic, so codes stay engine-identical.
    * The layout generalizes to ⌈d/64⌉ words for wider embeddings.
    */
  private[graft] def packedSignCodes(df: DataFrame, idCol: String,
                                     vecCol: String): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val sv = KMeans.quantize(col(vecCol))
    val stats = df
      .select(posexplode(sv).as(Seq("i", "s")))
      .groupBy(col("i"))
      .agg(sum(col("s")).as("tot"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(stats.nonEmpty && stats.length <= 64,
      s"packedSignCodes packs one 64-bit word; got dim ${stats.length}")
    val n = stats.head._3
    require(stats.forall(_._3 == n),
      s"packedSignCodes requires equal-length vectors; per-dimension " +
        s"counts range ${stats.map(_._3).min}..${stats.map(_._3).max}")
    val totArr = array(stats.toIndexedSeq.map(s => lit(s._2)): _*)
    // native codegen'd packing ([[graft.functions.PackedSignWord]]) —
    // the interpreted 64-step `aggregate(sequence(…))` fold this
    // replaced was the q181 tier-cost anomaly: boxed per-step lambda
    // evaluation per row, and (pre-barrier) re-evaluated per candidate
    // pair when CollapseProject hoisted it into the IVF join
    val word = call_function("packed_sign_word", col("sv"), totArr,
      lit(n), lit(0), lit(stats.length - 1))
    df.withColumn("sv", sv)
      .select(col(idCol), word.as("code"))
  }

  /** IVF-pruned binary-Hamming search — [[binaryHammingRerank]]
    * composed with the coarse quantizer exactly as [[sq8IvfRerank]]
    * composed SQ8: each query probes its `nprobe` nearest lists and
    * Hamming-scans only the PACKED sign codes whose home list is
    * probed, so the candidate scan is both list-pruned (÷ nlist/nprobe
    * vs [[binaryHammingRerank]]'s corpus-wide scan) and 8 bytes per
    * vector ([[packedSignCodes]] — one XOR + one popcount per pair).
    * Candidates = top-`m` per query by ascending Hamming distance
    * (ties toward the smaller id); only those `m` full vectors are
    * reranked by the exact cosine. Every (query, candidate) pair
    * appears at most once — home lists are unique — so no dedup is
    * needed.
    *
    * Scale design: the list join is salted like [[sq8IvfRerank]] (at
    * test scale nlist is below the core count; at production nlist
    * ∝ √N, salts drop to 1); codes and assignments are each one
    * corpus pass; everything else is bounded by m·queries. This is
    * the production tier of the 1-bit ladder — q174's corpus-wide
    * scan stays as the declared baseline. Output: va, rn, vb, cos.
    */
  def binaryHammingIvfRerank(df: DataFrame, idCol: String, vecCol: String,
                             labelCol: String, m: Int = 10, k: Int = 3,
                             nprobe: Int = 2): DataFrame = {
    ivfCandidateRerank(df, idCol, vecCol, labelCol,
      packedSignCodes(df, idCol, vecCol), "code", "ca", "cb",
      -expr("CAST(bit_count(ca ^ cb) AS DOUBLE)"), m, k, nprobe)
  }

  /** IVF-pruned product-quantization search + exact rerank — the
    * IVFPQ composition (Jégou, Douze, Schmid, TPAMI 2011 §IV; the
    * production FAISS index shape): the coarse quantizer prunes the
    * code scan to each query's `nprobe` inverted lists exactly as
    * [[sq8IvfRerank]] / [[binaryHammingIvfRerank]] do, and within the
    * probed lists candidate pairs are ranked by SYMMETRIC
    * product-quantizer distance (SDC) — both sides reduced to their
    * `mSub` codebook codes, the pair distance a sum of `mSub` lookups
    * into precomputed k×k inter-centroid tables. The tables are
    * driver-side literals (mSub · kCode² longs — for the default
    * 4·16 entries), so the per-pair cost is mSub integer array
    * lookups inside whole-stage codegen: no vector arithmetic at all
    * in the candidate scan, against codes of mSub small ints per
    * vector (the smallest code footprint of the ladder beside the
    * packed sign word). The surviving top-`m` per query are reranked
    * with the exact cosine.
    *
    * All SDC arithmetic is exact: codebooks live on the 1e-6 scaled
    * lattice ([[KMeans.train]]), table entries are exact long
    * ||C_s[i] − C_s[j]||², and the per-pair sum (< 2⁵³) casts to
    * double losslessly for the top-k ordering — so candidate sets
    * are engine-identical and the whole tier is oracle-checkable.
    *
    * Scale design: training = mSub tiny codebook collects; encode =
    * ONE in-row pass (mSub argmins against literals, no shuffle);
    * the candidate join inherits [[ivfCandidateRerank]]'s salted
    * list-pruned shape and persist lifecycle. At 100 TB the mSub-byte
    * codes ride where raw vectors never could — the same argument as
    * [[pqSearch]], with the corpus-wide scan cut to nprobe/nlist.
    */
  def pqIvfRerank(df: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, mSub: Int = 4, kCode: Int = 4,
                  passes: Int = 2, m: Int = 10, k: Int = 3,
                  nprobe: Int = 2): DataFrame = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % mSub == 0, s"dim $dim must divide into $mSub subspaces")
    val sub = dim / mSub
    // per-subspace codebooks via the shared Lloyd trainer (pqSearch's
    // training path, one tiny driver collect per subspace)
    val books: Seq[Seq[(Int, Array[Long])]] = (0 until mSub).map { s =>
      KMeans.train(
        df.select(col(idCol), slice(col(vecCol), s * sub + 1, sub).as("subv")),
        idCol, "subv", kCode, passes)
    }
    // encode: one in-row pass, mSub argmins against codebook literals
    // (array_position is 1-based and first-occurrence → ties toward
    // the lower code, the oracle's ORDER BY d2, pos)
    val codeCols = (0 until mSub).map { s =>
      val centArr = array(books(s).map { case (_, c) =>
        array(c.map(lit).toIndexedSeq: _*) }: _*)
      val sv = KMeans.quantize(slice(col(vecCol), s * sub + 1, sub))
      val d2s = transform(centArr, c => call_function("long_vector_l2", sv, c))
      array_position(d2s, array_min(d2s)).cast("int")
    }
    val codes = df.select(col(idCol), array(codeCols: _*).as("pq"))
    // symmetric distance tables, exact long ||C_s[i] − C_s[j]||² on
    // the scaled lattice — computed once on the driver, shipped as
    // nested literals (1-based on both axes, matching the codes)
    val tabs: Seq[Column] = books.map { cents =>
      val cs = cents.map(_._2)
      array(cs.map { a =>
        array(cs.map { b =>
          lit(a.zip(b).map { case (x, y) => val d = x - y; d * d }.sum)
        }.toIndexedSeq: _*)
      }.toIndexedSeq: _*)
    }
    val sdc = (0 until mSub).map { s =>
      element_at(element_at(tabs(s), element_at(col("pa"), s + 1)),
        element_at(col("pb"), s + 1))
    }.reduce(_ + _)
    ivfCandidateRerank(df, idCol, vecCol, labelCol,
      codes, "pq", "pa", "pb", -sdc.cast("double"), m, k, nprobe)
  }

  /** Deterministic pseudo-random hyperplane coefficient for plane `j`,
    * dimension `i`. The stream index is `j * dim + i` so planes stay
    * linearly independent at any dimension (a fixed stride would make
    * (j, i) pairs collide for dim > stride); for the default dim = 64
    * this matches the oracle fragment in
    * [[graft.queries.Similarity]] exactly.
    */
  /** Johnson–Lindenstrauss random-sign projection (Achlioptas,
    * "Database-friendly random projections", PODS'01): reduces `dim`
    * to `outDims` by multiplying with a ±1 sign matrix derived
    * deterministically from a quadratic congruential hash of the flat
    * k = j·dim + i index (bit 30 of a·k² + c·k mod 2³¹) — no stored
    * matrix, no randomness, so any engine reproduces it bit-for-bit
    * over the 1e-6 quantized lattice. The hash must be NONLINEAR in
    * k: a separable hash (i·a + j·b mod 2) collapses to a rank-1
    * checkerboard, and even an affine LCG's top bit nearly alternates
    * over consecutive k, which for even `dim` makes every row the
    * same checkerboard again — the k² term is what scatters the
    * signs. Validated element-wise: all rows distinct (incl.
    * negations), row sums and pairwise row dot products at the
    * ±O(√dim) scale a random sign matrix gives. The standard pre-ANN shrink: at 100 TB,
    * projecting 64→16 dims cuts every downstream shuffle, bucket key
    * and distance computation by 4× while JL preserves pairwise
    * distances within (1±ε).
    *
    * Output: (idCol, dim int, val long) — one row per reduced
    * coordinate. Execution: one in-row pass (nested higher-order
    * aggregate over codegen'd integer arithmetic), then a posexplode;
    * no shuffle at all.
    */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                outDims: Int = 16): DataFrame = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val sv = KMeans.quantize(col(vecCol))
    val proj = expr(
      s"""transform(sequence(0, ${outDims - 1}), j ->
         |  aggregate(sequence(0, ${dim - 1}), 0L,
         |    (acc, i) -> acc + element_at(sv, i + 1)
         |      * (case when (cast(1103515245 as bigint) * (j * $dim + i) * (j * $dim + i)
         |               + 12345 * (j * $dim + i))
         |               % 2147483648 >= 1073741824 then 1 else -1 end)))""".stripMargin)
    df.select(col(idCol), sv.as("sv"))
      .select(col(idCol), posexplode(proj).as(Seq("dim", "val")))
      .select(col(idCol), col("dim").cast("int").as("dim"), col("val"))
  }

  /** Product-quantization encode + asymmetric-distance (ADC) search
    * (Jégou, Douze, Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): the vector is split into `m`
    * subspaces, each quantized against its own small codebook
    * (trained by the shared quantized-Lloyd path,
    * [[KMeans.train]] per slice), so a 64-dim float vector compresses
    * to `m` small code ids; a query's distance to any corpus vector
    * is then approximated as the sum of its exact subspace distances
    * to the CENTROIDS the codes name — computed in-row against
    * codebook literals, never touching the original corpus vectors.
    *
    * Output: one row per query — (query_id, nn_id, adc_d2): the
    * ADC-nearest corpus vector (self excluded), ties broken by id.
    *
    * Scale shape: training = m tiny codebook collects (k×subdim longs
    * each); encode = ONE in-row pass over the corpus (m argmins
    * against literals, no join/shuffle); search = broadcast of the
    * (small) query set against the (m×small-int) code table — the
    * whole corpus participates as codes, which is the point: at 100 TB
    * the codes fit where the raw vectors never could, and the only
    * per-query work is an integer table lookup + sum. All arithmetic
    * on the exact 1e-6 lattice → deterministic, oracle-checkable.
    */
  def pqSearch(df: DataFrame, idCol: String, vecCol: String,
               queries: DataFrame, m: Int = 4, k: Int = 4,
               passes: Int = 2): DataFrame = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    // per-subspace codebooks via the shared Lloyd trainer (slice is
    // 1-based); the corpus is scanned once per training pass per
    // subspace — m×passes cheap scans at codebook-train time
    val books: Seq[Seq[(Int, Array[Long])]] = (0 until m).map { s =>
      KMeans.train(
        df.select(col(idCol), slice(col(vecCol), s * sub + 1, sub).as("subv")),
        idCol, "subv", k, passes)
    }
    // encode: one in-row pass, m argmins against codebook literals
    val codeCols = (0 until m).map { s =>
      val cents = books(s)
      val centArr = array(cents.map { case (_, c) =>
        array(c.map(lit).toIndexedSeq: _*) }: _*)
      val sv = KMeans.quantize(slice(col(vecCol), s * sub + 1, sub))
      val d2s = transform(centArr, c => call_function("long_vector_l2", sv, c))
      array_position(d2s, array_min(d2s)).cast("int").as(s"code_$s")
    }
    val codes = df.select((col(idCol) +: codeCols): _*)
    // ADC: per (query, corpus-code) row, distance = Σ_s ||q_s − C_s[code_s]||²
    // — the codebook lookup is element_at into the same literals
    val q = queries.select(col(idCol).as("query_id"),
      KMeans.quantize(col(vecCol)).as("qv"))
    val adc = (0 until m).map { s =>
      val cents = books(s)
      val centArr = array(cents.map { case (_, c) =>
        array(c.map(lit).toIndexedSeq: _*) }: _*)
      val qSub = slice(col("qv"), s * sub + 1, sub)
      call_function("long_vector_l2", qSub, element_at(centArr, col(s"code_$s")))
    }.reduce(_ + _)
    codes.join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), adc.as("adc_d2"))
      .groupBy(col("query_id"))
      .agg(min(struct(col("adc_d2"), col(idCol))).as("best"))
      .select(col("query_id"), col(s"best.$idCol").as("nn_id"),
        col("best.adc_d2").as("adc_d2"))
  }

  private def planeVal(dim: Int): String =
    s"(((CAST(1103515245 AS BIGINT) * (j * $dim + i) + 12345) % 2147483648) / 1073741824.0 - 1.0)"

  /** Random-hyperplane LSH bucket ids: sign pattern of `planes`
    * projections (scaled-long exact folds). Output: idCol, vecCol,
    * nrm, bucket.
    *
    * `probe` selects a disjoint plane set (global plane indices
    * `probe*planes ... probe*planes+planes-1`), so unioning runs at
    * probe = 0..L-1 is multi-probe ANN: every probe is an independent
    * partition of the space, and a pair missed by one probe's buckets
    * can collide in another's — recall grows with L at L× candidate
    * cost, with no change to the per-probe plan shape.
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 planes: Int = 4, dim: Int = 64, probe: Int = 0): DataFrame = {
    val e = spread(withNorm(df, vecCol))
    val j0 = probe * planes
    e.select(col(idCol), col(vecCol), col("nrm"),
        explode(expr(s"sequence($j0, ${j0 + planes - 1})")).as("j"))
      .withColumn("s", expr(
        s"""aggregate(sequence(0, ${dim - 1}), cast(0 as bigint), (acc, i) ->
           |  acc + cast(round(cast($vecCol[i] as double) * ${planeVal(dim)} * 1e12) as bigint))""".stripMargin))
      .groupBy(col(idCol))
      .agg(sum(expr(s"if(s > 0, cast(1 as bigint) << (j - $j0), 0)")).as("bucket"),
        first(col(vecCol)).as(vecCol), first(col("nrm")).as("nrm"))
  }

  /** All probes' bucket ids in ONE corpus scan: projections for every
    * global plane index `0 ... probes*planes-1` are exploded together
    * and folded by (id, probe) in a single shuffle. Identical bucket
    * keys to per-probe [[lshBuckets]] (same plane stream, bit position
    * `j % planes`), but the scan count and downstream join count stay
    * 1 regardless of the probe count — the multi-probe recall knob
    * must not multiply passes over a 100 TB corpus.
    * Output: idCol, vecCol, nrm, probe, bucket.
    */
  def lshBucketsMulti(df: DataFrame, idCol: String, vecCol: String,
                      planes: Int = 4, dim: Int = 64,
                      probes: Int = 1): DataFrame = {
    val e = spread(withNorm(df, vecCol))
    e.select(col(idCol), col(vecCol), col("nrm"),
        explode(expr(s"sequence(0, ${probes * planes - 1})")).as("j"))
      .withColumn("s", expr(
        s"""aggregate(sequence(0, ${dim - 1}), cast(0 as bigint), (acc, i) ->
           |  acc + cast(round(cast($vecCol[i] as double) * ${planeVal(dim)} * 1e12) as bigint))""".stripMargin))
      .groupBy(col(idCol), expr(s"j div $planes").as("probe"))
      .agg(sum(expr(s"if(s > 0, cast(1 as bigint) << (j % $planes), 0)")).as("bucket"),
        first(col(vecCol)).as(vecCol), first(col("nrm")).as("nrm"))
  }

  /** Within-bucket pairs with cosine, the shared core of ANN top-k and
    * threshold search. `pairFilter` narrows the raw (va, vb) pair set;
    * `keys` is the blocking key set (bucket, or probe+bucket).
    */
  private def bucketPairs(bucketed: DataFrame, idCol: String, vecCol: String,
                          pairFilter: Column,
                          keys: Seq[String] = Seq("bucket")): DataFrame = {
    val a = bucketed.select((keys.map(col) :+ col(idCol).as("va") :+
      col(vecCol).as("ea") :+ col("nrm").as("na")): _*)
    val b = bucketed.select((keys.map(col) :+ col(idCol).as("vb") :+
      col(vecCol).as("eb") :+ col("nrm").as("nb")): _*)
    a.join(b, keys).where(pairFilter)
      .withColumn("cos", expr(dot("ea", "eb")) / (col("na") * col("nb")))
  }

  /** Approximate top-k: exact search within each LSH bucket.
    * Output: va, bucket, rn, nn, cos. Singleton-bucket vectors yield
    * no rows (recall trade-off; multi-probe = union over plane sets).
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              planes: Int = 4, dim: Int = 64): DataFrame =
    bucketPairs(lshBuckets(df, idCol, vecCol, planes, dim), idCol, vecCol,
      col("va") =!= col("vb"))
      .groupBy(col("va"), col("bucket"))
      .agg(expr(s"topk_neighbors(vb, cos, $k)").as("top"))
      .select(col("va"), col("bucket").cast("long").as("bucket"),
        posexplode(col("top")).as(Seq("pos", "n")))
      .select(col("va"), col("bucket"), (col("pos") + 1).cast("int").as("rn"),
        col("n.vb").as("nn"), col("n.cos").as("cos"))

  /** Multi-probe approximate top-k: candidates are the union of
    * within-bucket pairs over `probes` disjoint plane sets, deduped on
    * (va, vb) (the cosine is probe-independent, so the dedup keeps a
    * deterministic value), then ranked per vector. Output: va, rn, nn,
    * cos. Recall is strictly non-decreasing in `probes` (each probe
    * only adds candidates) — asserted against single-probe in
    * `LlmApiSpec`.
    */
  def annTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String, k: Int,
                        planes: Int = 4, dim: Int = 64, probes: Int = 2): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    // top-k WITHIN each probe first: a pair in the global top-k ranks
    // ≤ k inside every probe that generated it, so per-probe bounded
    // heaps (map-side reduction to ≤ k rows) are lossless — the
    // cross-probe dedup then shuffles k rows per (vector, probe)
    // instead of every within-bucket pair
    val perProbe = bucketPairs(
        lshBucketsMulti(df, idCol, vecCol, planes, dim, probes), idCol, vecCol,
        col("va") =!= col("vb"), keys = Seq("probe", "bucket"))
      .groupBy(col("va"), col("probe"))
      .agg(expr(s"topk_neighbors(vb, cos, $k)").as("top"))
      .select(col("va"), explode(col("top")).as("n"))
      .select(col("va"), col("n.vb").as("vb"), col("n.cos").as("cos"))
      .dropDuplicates("va", "vb")
    perProbe.groupBy(col("va"))
      .agg(expr(s"topk_neighbors(vb, cos, $k)").as("top"))
      .select(col("va"), posexplode(col("top")).as(Seq("pos", "n")))
      .select(col("va"), (col("pos") + 1).cast("int").as("rn"),
        col("n.vb").as("nn"), col("n.cos").as("cos"))
  }

  /** Embedding near-dup pairs: within-bucket pairs over a cosine
    * threshold, unioned over `probes` disjoint plane sets (deduped —
    * see [[annTopKMultiProbe]]). Output: va, vb, cos (va < vb).
    */
  def thresholdPairs(df: DataFrame, idCol: String, vecCol: String,
                     minCos: Double, planes: Int = 4, dim: Int = 64,
                     probes: Int = 1): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    bucketPairs(lshBucketsMulti(df, idCol, vecCol, planes, dim, probes),
        idCol, vecCol, col("va") < col("vb"), keys = Seq("probe", "bucket"))
      .where(col("cos") >= minCos)
      .select(col("va"), col("vb"), col("cos"))
      .dropDuplicates("va", "vb")
  }

  /** SemDeDup — semantic deduplication ("SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", Abbas et
    * al., arXiv:2303.09540). The paper's scaling trick is the whole
    * design: k-means clusters ([[KMeans.assign]], exact lattice
    * arithmetic) bound the pairwise cosine search, so the join is
    * per-cluster quadratic, never corpus². Within each cluster, every
    * pair with cosine ≥ `minCos` is a semantic-duplicate pair, and
    * the member FARTHER from its centroid survives — the paper's
    * keep-low-centroid-similarity rule (retain the less-typical
    * example); exact-tie d2 breaks toward the smaller id.
    *
    * Output: one verdict row per vector — (idCol, cid, d2, kept).
    *
    * Scale shape: assignment is the k-means scan (broadcast centroid
    * literals, no join); the pair join shuffles once on cid and its
    * cost is Σ|cluster|² — k is the knob that caps it (the paper runs
    * k=50k on web scale); the removal set joins back by id (a
    * broadcast in practice: |removed| ≤ pairs ≪ corpus).
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               k: Int = 8, passes: Int = 2,
               minCos: Double = 0.4): DataFrame = {
    val a = KMeans.assign(df, idCol, vecCol, k, passes)
    val e = withNorm(spread(df).select(col(idCol), col(vecCol)), vecCol)
      .join(a, idCol)
    val ea = e.select(col(idCol).as("ida"), col(vecCol).as("va"),
      col("nrm").as("na"), col("cid"), col("d2").as("da"))
    val eb = e.select(col(idCol).as("idb"), col(vecCol).as("vb"),
      col("nrm").as("nb"), col("cid"), col("d2").as("db"))
    val removed = ea.join(eb, Seq("cid"))
      .where(col("ida") < col("idb"))
      .withColumn("cos", expr(dot("va", "vb")) / (col("na") * col("nb")))
      .where(col("cos") >= minCos)
      .select(when(col("db") > col("da") ||
          (col("db") === col("da") && col("idb") < col("ida")),
        col("ida")).otherwise(col("idb")).as("rid"))
      .distinct()
    a.join(removed, col(idCol) === col("rid"), "left")
      .select(col(idCol), col("cid"), col("d2"), col("rid").isNull.as("kept"))
  }

  /** k-center greedy (farthest-point traversal) — the classic
    * 2-approximation coreset / diversity-selection pass (Gonzalez,
    * "Clustering to minimize the maximum intercluster distance",
    * 1985; the core-set active-learning selector of Sener & Savarese,
    * arXiv:1708.00489): start from the smallest id, repeatedly add
    * the point FARTHEST from the current selection (max over points
    * of min over selected of d2), ties toward the smaller id. All
    * distances are exact longs on [[KMeans.quantize]]'s 1e-6 lattice,
    * so the traversal is deterministic and engine-portable.
    *
    * Output: (round int, idCol, radius long) — the picked point per
    * round and its distance to the selection at pick time (round r's
    * radius is the exact covering radius of the first r centers; the
    * seed's is 0).
    *
    * Scale shape: identical to [[KMeans.train]] — each round is one
    * in-row scan against selected-center literals plus a 1-row
    * argmax collect; k rounds, no joins, no pairwise blow-up.
    */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    GraftFunctions.ensureRegistered(spark)
    val sv = df.select(col(idCol), KMeans.quantize(col(vecCol)).as("sv"))
    val seed = sv.orderBy(col(idCol)).limit(1).collect()(0)
    var picks = List((0, seed.getLong(0), 0L))
    var cents = List(seed.getSeq[Long](1).toArray)
    for (r <- 1 until k) {
      val centArr = array(cents.map(m =>
        array(m.map(lit).toIndexedSeq: _*)): _*)
      val minD2 = array_min(transform(centArr, m =>
        call_function("long_vector_l2", col("sv"), m)))
      val p = sv.where(!col(idCol).isin(picks.map(_._2): _*))
        .select(col(idCol), minD2.as("d2"), col("sv"))
        .orderBy(col("d2").desc, col(idCol)).limit(1).collect()(0)
      picks = picks :+ ((r, p.getLong(0), p.getLong(1)))
      cents = cents :+ p.getSeq[Long](2).toArray
    }
    import spark.implicits._
    picks.toDF("round", idCol, "radius")
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * "The use of MMR, diversity-based reranking for reordering
    * documents and producing summaries", SIGIR 1998) — the
    * serving-side diversity reranker: from the `n` nearest candidates
    * to a query vector, greedily pick `k` results maximizing
    * relevance-minus-redundancy, so near-duplicate hits don't crowd
    * the result page. With similarity = negative exact squared L2 on
    * [[KMeans.quantize]]'s 1e-6 lattice and λ = 1/2, each round's
    * objective ×2 is the integer `min_{s∈S} d2(d,s) − d2(q,d)`
    * (maximize; ties toward the smaller id) — exact long arithmetic
    * end to end, so the selection order is deterministic and
    * engine-portable. The first pick is the most relevant candidate
    * (the MMR base case: S empty, redundancy term zero).
    *
    * Scale shape: the query vector is a 1-row collect, the candidate
    * pool is one distributed TakeOrdered bounded by the SERVING PAGE
    * SIZE `n` (not the corpus), and the greedy loop is O(k·n) driver
    * arithmetic on that bounded pool — the same justified-collect
    * class as the codebook reads. Contrast [[kCenterGreedy]], whose
    * selection pool IS the corpus and therefore scans per round.
    * Upstream, pool generation composes with any ANN tier (IVF/SQ8/
    * PQ candidates instead of the exact TakeOrdered) unchanged.
    *
    * Output: (round int, idCol long, rel_d2 long, div_d2 long) —
    * the pick per round, its distance to the query, and its distance
    * to the nearest already-selected result at pick time (0 for the
    * first pick).
    */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String,
                n: Int = 20, k: Int = 5): DataFrame = {
    require(k >= 1 && n >= k, s"need n >= k >= 1; got n=$n k=$k")
    val spark = df.sparkSession
    GraftFunctions.ensureRegistered(spark)
    val sv = df.select(col(idCol), KMeans.quantize(col(vecCol)).as("sv"))
    val q = sv.orderBy(col(idCol)).limit(1).collect()(0)
    val qid = q.getLong(0)
    val qArr = array(q.getSeq[Long](1).map(lit).toIndexedSeq: _*)
    val pool = sv.where(col(idCol) =!= qid)
      .select(col(idCol),
        call_function("long_vector_l2", col("sv"), qArr).as("d2q"), col("sv"))
      .orderBy(col("d2q"), col(idCol)).limit(n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var out = List.empty[(Int, Long, Long, Long)]
    var selected = List.empty[Array[Long]]
    var remaining = pool.toList
    for (r <- 1 to math.min(k, pool.length)) {
      val pick =
        if (r == 1) remaining.minBy(p => (p._2, p._1))
        else remaining.minBy { p =>
          (-(selected.map(s => d2(p._3, s)).min - p._2), p._1)
        }
      val dv = if (r == 1) 0L else selected.map(s => d2(pick._3, s)).min
      out = out :+ ((r, pick._1, pick._2, dv))
      selected = selected :+ pick._3
      remaining = remaining.filterNot(_._1 == pick._1)
    }
    import spark.implicits._
    out.toDF("round", idCol, "rel_d2", "div_d2")
  }

  /** BATCH Maximal-Marginal-Relevance reranking — [[mmrSelect]]'s
    * greedy diversification run for EVERY query of a slice at once,
    * the distributed serving-side path (one MMR pass per result page
    * would be a driver loop per query; this is `rounds` dataframe
    * passes for ALL queries): candidates come from the shared
    * IVF+SQ8 index ([[sq8IvfFilteredRerank]] with `k = m`, so all
    * `m` candidates arrive ranked by exact cosine), pairwise
    * candidate-candidate cosines are computed once (m² per query,
    * bounded by the page size, never corpus²), and each greedy round
    * picks per query the argmax of the λ = 1/2 MMR objective ×2 =
    * `cos(q,d) − max_{s∈S} cos(d,s)` (ties toward the smaller id)
    * through one bounded per-query window. Round 1 is the most
    * relevant candidate (S empty; max_sim NULL).
    *
    * Scale shape: every shuffle keys on the query id (or
    * (query, candidate)); windows partition on the query id over ≤ m
    * rows; the candidate set and pair matrix are eagerly
    * checkpointed ONCE and reused across rounds instead of replaying
    * the ANN scan per round. Output: va, round, vb, rel_cos,
    * max_sim.
    */
  def mmrSelectBatch(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, queryPred: Column, m: Int = 10,
                     rounds: Int = 3, nprobe: Int = 2): DataFrame = {
    require(rounds >= 1 && m >= rounds, s"need m >= rounds >= 1; got m=$m rounds=$rounds")
    import org.apache.spark.sql.expressions.Window
    val cand = sq8IvfFilteredRerank(df, idCol, vecCol, labelCol,
        queryPred, lit(true), m = m, k = m, nprobe = nprobe)
      .select(col("va"), col("vb"), col("cos"))
      .transform(graft.Pin.cut) // reused by every round + the pair matrix
    val e = withNorm(df, vecCol)
    val pairs = cand.select(col("va"), col("vb").as("b1"))
      .join(cand.select(col("va"), col("vb").as("b2")), "va")
      .where(col("b1") =!= col("b2"))
      .join(e.select(col(idCol).as("b1"), col(vecCol).as("e1"),
        col("nrm").as("n1")), "b1")
      .join(e.select(col(idCol).as("b2"), col(vecCol).as("e2"),
        col("nrm").as("n2")), "b2")
      .withColumn("pcos", expr(dot("e1", "e2")) / (col("n1") * col("n2")))
      .select(col("va"), col("b1"), col("b2"), col("pcos"))
      .transform(graft.Pin.cut) // m² per query, probed every round
    var selAcc = cand
      .withColumn("rr", row_number().over(
        Window.partitionBy(col("va")).orderBy(col("cos").desc, col("vb"))))
      .where(col("rr") === 1)
      .select(col("va"), lit(1).as("round"), col("vb"), col("cos"),
        lit(null).cast("double").as("max_sim"))
    for (r <- 2 to rounds) {
      val selected = selAcc.select(col("va"), col("vb").as("b2"))
      val ms = pairs.join(selected, Seq("va", "b2"))
        .groupBy(col("va"), col("b1")).agg(max(col("pcos")).as("max_sim"))
        .select(col("va"), col("b1").as("vb"), col("max_sim"))
      val pick = cand
        .join(selAcc.select(col("va"), col("vb")), Seq("va", "vb"), "left_anti")
        .join(ms, Seq("va", "vb"))
        .withColumn("rr", row_number().over(Window.partitionBy(col("va"))
          .orderBy((col("cos") - col("max_sim")).desc, col("vb"))))
        .where(col("rr") === 1)
        .select(col("va"), lit(r).as("round"), col("vb"), col("cos"),
          col("max_sim"))
      selAcc = selAcc.unionByName(pick)
    }
    selAcc.select(col("va"), col("round"), col("vb"),
      round(col("cos"), 6).as("rel_cos"), round(col("max_sim"), 6).as("max_sim"))
  }

  /** Per-dimension centroid table — the IVF coarse quantizer's
    * codebook: (labelCol, i, c). Exact decimal sums make the centroid
    * doubles order-independent and engine-portable; one shuffle keyed
    * on (label, dim), output is tiny (lists × dims) and broadcastable.
    */
  private def centroidDims(df: DataFrame, vecCol: String,
                           labelCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
      .groupBy(col(labelCol), col("i"))
      .agg((sum(col("x").cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("c"))

  /** Per-label centroids + cohesion (the IVF coarse quantizer).
    * Output: label, n_vectors, avg_dist.
    */
  def labelCentroids(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String): DataFrame = {
    val dims = df.select(col(idCol), col(labelCol),
        posexplode(col(vecCol)).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
    val dist = dims.join(centroidDims(df, vecCol, labelCol), Seq(labelCol, "i"))
      .groupBy(col(idCol), col(labelCol))
      .agg(sqrt(sum(expr("cast((x - c) * (x - c) as decimal(38,12))"))
        .cast("double")).as("d"))
    dist.groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vectors"),
        (sum(col("d").cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as("avg_dist"))
  }

  /** Ranks every vector against every centroid by exact squared L2
    * distance (label tie-break) and keeps the `nprobe` nearest lists.
    * Output: idCol, list_id, rn (1 = the vector's home list).
    *
    * Scale shape: the codebook is a driver-side collect of lists ×
    * dims rows (the justified codebook shape — [[KMeans.train]],
    * [[sq8Rerank]]'s per-dimension stats), and the whole ranking is
    * ONE in-row pass against centroid literals: per row, `d2` to each
    * centroid by the exact decimal fold, an in-row `sort_array` over
    * (d2, list) structs — the same (d2, label) tie-break the window
    * form used — and a `slice` to `nprobe`. No explode, no join, no
    * shuffle, no window. The previous dataflow (dims explode ×
    * codebook broadcast join → n·lists·dims rows through an
    * aggregation → per-vector window) cost O(n·lists·dims) SHUFFLED
    * bytes, which at √N-sized nlist made the assignment itself the
    * tier's bottleneck (measured at sf1, 141 lists: 49 s of a 53 s
    * run; this form runs 3.9 s warm — first execution pays ~20 s of
    * codegen/JIT for the lists-wide projection, a per-session
    * constant, not a per-batch cost). Arithmetic is unchanged — per-term
    * `cast((x-c)² as decimal(38,12))` folded by exact decimal
    * addition, associative, so d2 is bit-identical to the shuffled
    * sum and every downstream rank matches the oracle.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                labelCol: String, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    assignToCents(df, idCol, vecCol, ivfCodebook(df, vecCol, labelCol), nprobe)
  }

  /** The coarse-quantizer codebook collect behind [[ivfAssign]]:
    * lists × dims rows, exactly what the broadcast carried; sorted by
    * label only for stable expression layout. Split out (round 16) so
    * the salted-join call sites can size their salt count from the
    * ACTUAL list count ([[saltCount]]) without a second pass. */
  private def ivfCodebook(df: DataFrame, vecCol: String,
                          labelCol: String): Seq[(Any, Array[Double])] =
    centroidDims(df, vecCol, labelCol).collect()
      .groupBy(_.get(0)).toSeq
      .sortBy(_._1.toString)
      .map { case (label, rows) =>
        val dim = rows.map(_.getInt(1)).max + 1
        val arr = new Array[Double](dim)
        rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        (label: Any, arr)
      }

  /** In-row nprobe-assignment against a GIVEN codebook — the shared
    * core of [[ivfAssign]] (codebook computed from the corpus) and the
    * incremental store path (codebook read frozen from the index). */
  private def assignToCents(df: DataFrame, idCol: String, vecCol: String,
                            cents: Seq[(Any, Array[Double])],
                            nprobe: Int): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val entries = cents.map { case (label, arr) =>
      // decimal-exact per-centroid distance in one codegen'd pass
      // ([[graft.functions.DecimalL2]] — bit-identical to the decimal
      // SUM the shuffled form computed; see its scaladoc)
      val cArr = array(arr.map(lit).toIndexedSeq: _*)
      struct(call_function("decimal_l2", col(vecCol), cArr).as("d2"),
        lit(label).as("list_id"))
    }
    spread(df).select(col(idCol),
        posexplode(slice(sort_array(array(entries: _*)), 1, nprobe))
          .as(Seq("pos", "s")))
      .select(col(idCol), col("s.list_id").as("list_id"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  // ------------------------------------------------------------------
  // Persisted IVF+SQ8 index with incremental maintenance
  // ------------------------------------------------------------------

  /** Builds a persisted IVF+SQ8 index at `store` from `history`:
    * `centroids/` (the coarse-quantizer codebook: list_id, i, c),
    * `stats/` (the SQ8 per-dimension [min, max]), and `codes/` (one
    * row per indexed vector: vid, home list_id, byte codes) — with
    * history itself entering through [[appendIvfSq8Batch]], so the
    * build and every later refresh run the identical code path.
    *
    * This is the incremental-maintenance counterpart for the ANN
    * pillar (the q109/q147/q155/q159 store discipline applied to
    * vector search): after the build, new batches are absorbed by
    * [[appendIvfSq8Batch]] against the FROZEN codebook — the standard
    * production contract (FAISS-style add-after-train): assignments
    * and codes of indexed vectors never change under appends, so the
    * index is append-only and history is never rescanned or re-coded.
    * Codebook drift is a monitored, deliberate re-train decision
    * ([[centroidDrift]] is the monitor), not a side effect of every
    * append.
    */
  def buildIvfSq8Store(history: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, store: String): Unit = {
    // one history pass feeds the three build phases: the centroid
    // write, the stats collect, and the initial append each run their
    // own action(s) over `history`, and without the pin each re-paid
    // the upstream scan (plus any load-time spread exchange) — guide
    // §2.4. Values are unchanged; only the recompute is removed.
    graft.Pin.during(history) {
      centroidDims(history, vecCol, labelCol)
        .select(col(labelCol).cast("long").as("list_id"), col("i"), col("c"))
        .write.mode("overwrite").parquet(s"$store/centroids")
      val spark = history.sparkSession
      import spark.implicits._
      sq8Stats(history, vecCol).toDF("i", "mn", "mx")
        .write.mode("overwrite").parquet(s"$store/stats")
      appendIvfSq8Batch(history, idCol, vecCol, store)
    }
  }

  /** Absorbs one new batch into the index: the batch is assigned to
    * its home list and SQ8-coded against the FROZEN codebook/stats
    * (two tiny store reads — lists×dims and dims rows), then appended
    * to `codes/`. History is untouched: no rescan, no re-code. Batch
    * values outside the frozen range clamp to the code boundary.
    *
    * Exactly-once: with `batchId` set (the `foreachBatch` id, or any
    * caller-chosen refresh epoch) the append becomes idempotent —
    * codes land in `codes/batch_<id>/`, and a replayed batch whose
    * subdirectory already committed (its `_SUCCESS` marker exists)
    * skips the write; a partial directory from a mid-write crash
    * lacks the marker and is safely overwritten. This is the q171
    * signature-store discipline applied to the ANN index. With
    * `batchId = None` the append degrades to the non-idempotent
    * root-level form for ad-hoc batch use. */
  def appendIvfSq8Batch(batch: DataFrame, idCol: String, vecCol: String,
                        store: String,
                        batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val cents = readCentroids(spark, store)
    val stats = readSq8Stats(spark, store)
    val home = assignToCents(batch, idCol, vecCol, cents, nprobe = 1)
      .where(col("rn") === 1)
      .select(col(idCol), col("list_id"))
    val coded = sq8CodesFrozen(batch, idCol, vecCol, stats)
      .join(home, idCol)
      .select(col(idCol).as("vid"), col("list_id"), col("q"))
    batchId match {
      case Some(id) =>
        val sub = s"$store/codes/batch_$id"
        val success = new org.apache.hadoop.fs.Path(s"$sub/_SUCCESS")
        val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(success))
          coded.write.mode("overwrite").parquet(sub)
      case None =>
        coded.write.mode("append").parquet(s"$store/codes")
    }
  }

  /** Write-then-swap compaction for the `codes/` store — the
    * [[graft.llm.TextDedup.compactSignatureStore]] pattern applied to
    * the ANN index: every [[appendIvfSq8Batch]] leaves one more
    * file-set (root-level or per-batch subdirectory) that every
    * subsequent [[ivfSq8StoreSearch]] must enumerate and scan; this
    * merges them into `outFiles` parquet files at the `codes/` root,
    * dropping any duplicate `vid` rows a legacy non-idempotent append
    * double-wrote (first row wins — codes for one vid are identical
    * by frozen-codebook determinism). The compacted copy is fully
    * written to a sibling path first, then swapped in, so a crash
    * mid-compaction leaves the original store intact. Centroids and
    * stats are single overwrite-written file-sets and never sprawl,
    * so only `codes/` needs the cycle. Run between refresh cycles
    * (at 100 TB the swap is a catalog/view flip). */
  def compactIvfSq8Store(spark: org.apache.spark.sql.SparkSession,
                         store: String, outFiles: Int = 1): Unit = {
    if (!TextDedup.storeNonEmpty(spark, s"$store/codes")) return // fresh store
    TextDedup.compactSwap(spark, s"$store/codes",
      readCodes(spark, store).repartition(outFiles))
  }

  /** Right-to-be-forgotten deletion from the persisted ANN index —
    * [[graft.llm.TextDedup.deleteFromStore]]'s contract applied to
    * the vector store: every `codes/` row whose vid is in `forget`
    * (a 1-column frame of ids) is removed by one anti-join against
    * the broadcast forget-set and a write-then-swap rewrite of
    * `codes/` (doubling as compaction — the rewrite flattens batch
    * sprawl exactly like [[compactIvfSq8Store]], and a crash
    * mid-rewrite leaves the original store intact). Deletion is
    * complete BY THE STORE'S STRUCTURE: `codes/` holds exactly one
    * row per indexed vector, so removing the row removes every byte
    * derived from that vector. The `centroids/` and `stats/`
    * artifacts are aggregate model parameters (means and ranges over
    * the training corpus), not per-subject rows — they are retained,
    * and their drift away from the post-deletion corpus is the same
    * monitored re-train decision as any append drift
    * ([[centroidDrift]]).
    *
    * Scale shape: forget-sets are small (a deletion request batch) —
    * broadcast anti-join, one store-sized rewrite, no search
    * downtime (readers see old-or-new, never a partial store).
    */
  def deleteFromIvfStore(spark: org.apache.spark.sql.SparkSession,
                         store: String, forget: DataFrame): Unit = {
    val fids = forget.toDF("vid")
    TextDedup.compactSwap(spark, s"$store/codes",
      readCodes(spark, store)
        .join(broadcast(fids), Seq("vid"), "left_anti"))
  }

  /** `codes/` read shared by search and compaction: tolerant of
    * root-level files, per-`batchId` subdirectories, or a mix.
    * Duplicate `vid` rows — the acknowledged crash window where a
    * compaction flattens a batch's `_SUCCESS` marker before the
    * stream checkpoint commits, so the replayed append double-indexes
    * — are dropped HERE, not only at the next compaction: a duplicate
    * code row would otherwise occupy two of a query's `m` candidate
    * slots and displace a genuine neighbor until the store is next
    * compacted (first row wins — codes for one vid are identical by
    * frozen-codebook determinism, so the choice is immaterial). Cost:
    * one hash shuffle of the 8-byte-code rows per search, the price
    * of a correct replay window. */
  // shared store reader: recursive per-batch traversal + interrupted-
  // compaction recovery live in ONE place (TextDedup.readStore)
  private def readCodes(spark: org.apache.spark.sql.SparkSession,
                        store: String): DataFrame =
    TextDedup.readStore(spark, s"$store/codes").dropDuplicates("vid")

  /** Searches the persisted index: each query vector is assigned to
    * its `nprobe` nearest frozen lists and SQ8-coded in-row (same
    * value as its stored code by construction), the store's `codes/`
    * supply the candidates of those lists (byte codes only — the
    * 4×-smaller scan; full vectors are NOT read here), the integer
    * code dot keeps top-`m` per query, and only those `m` join back
    * to `corpus` full vectors for the exact-cosine rerank.
    *
    * The list join is salted exactly like [[sq8IvfRerank]] — at test
    * scale nlist is far below the core count; at production nlist
    * (∝ √N) salts can drop to 1. Output: va, rn, vb, cos.
    */
  def ivfSq8StoreSearch(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, store: String,
                        m: Int = 10, k: Int = 3, nprobe: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    val cents = readCentroids(spark, store)
    val stats = readSq8Stats(spark, store)
    val salts = saltCount(spark, cents.size)
    val probed = assignToCents(queries, idCol, vecCol, cents, nprobe)
      .select(col(idCol).as("va"), col("list_id"))
      .join(sq8CodesFrozen(queries, idCol, vecCol, stats)
        .select(col(idCol).as("va"), col("q").as("qa")), "va")
      .withColumn("salt", pmod(hash(col("va")), lit(salts)))
    val home = readCodes(spark, store)
      .select(col("vid").as("vb"), col("list_id"), col("q").as("qb"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    val cand = probed.join(home, Seq("list_id", "salt"))
      .where(col("va") =!= col("vb"))
      .withColumn("score", codeDot)
      .groupBy(col("va"))
      .agg(expr(s"topk_neighbors(vb, score, $m)").as("top"))
      .select(col("va"), explode(col("top")).as("n"))
      .select(col("va"), col("n.vb").as("vb"))
    exactRerank(corpus, idCol, vecCol, cand, k)
  }

  /** Frozen codebook read: lists × dims rows, driver-side (the
    * justified codebook collect shape). */
  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            store: String): Seq[(Any, Array[Double])] =
    spark.read.parquet(s"$store/centroids").collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (l, rs) =>
        val dim = rs.map(_.getInt(1)).max + 1
        val arr = new Array[Double](dim)
        rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        (l: Any, arr)
      }

  /** Frozen SQ8 stats read: dims rows, driver-side. */
  private def readSq8Stats(spark: org.apache.spark.sql.SparkSession,
                           store: String): Seq[(Int, Double, Double)] =
    spark.read.parquet(s"$store/stats").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** IVF search: each query probes its `nprobe` nearest inverted lists
    * and exact-searches the vectors whose HOME list (rank-1
    * assignment) is one of them — the standard coarse-quantizer ANN.
    * Every pair appears at most once (home lists are unique), so no
    * candidate dedup is needed. Output: va, rn, nn, cos.
    *
    * Recall grows with `nprobe` at linearly growing candidate cost;
    * candidates per query ≈ nprobe × corpus/lists, versus the corpus
    * itself for [[cosineTopK]]. All distances and cosines are exact
    * scaled-long/decimal arithmetic, so results are deterministic and
    * oracle-checkable.
    */
  def ivfSearch(df: DataFrame, idCol: String, vecCol: String,
                labelCol: String, k: Int, nprobe: Int = 1): DataFrame =
    ivfSearchPlan(df, idCol, vecCol, labelCol, k, nprobe)(graft.Pin.cut)

  /** [[ivfSearch]]'s LAZY pipeline, handed to `use` while the caches it
    * reads are pinned — split out so plan-audit tests can inspect the
    * physical shape that the public entry point's eager checkpoint
    * would otherwise hide. A frame `use` returns must not read the
    * pins lazily. */
  private[graft] def ivfSearchPlan[T](df: DataFrame, idCol: String, vecCol: String,
                                      labelCol: String, k: Int,
                                      nprobe: Int)(use: DataFrame => T): T = {
    // Execution shape (the ivfCandidateRerank discipline, round 15):
    //  - the ASSIGNMENT (N×nprobe narrow rows) and the normed vectors
    //    are corpus-sized and read only inside this call, so they are
    //    pinned for its scope (Pin.during) and released when it ends.
    //    Either hold keeps true size statistics — a cut's leaf carries
    //    its measured size — and those decide every downstream join:
    //    a frame planned with a stale, inflated estimate turned each
    //    broadcast into a sort-merge join that re-shuffled and
    //    re-SORTED the ~N²/nlist-row pair stream (measured at sf1:
    //    14 s → 430 s). The pin also evaluates any upstream exchange
    //    (Tables.load spreads byte-small embedding files) or
    //    label-computing join (q166/q205 train a quantizer) exactly
    //    once.
    //  - vectors are attached to the probed/home sides BEFORE the
    //    expansion join, so nothing joins the pair stream after it
    //    explodes — it flows straight through the cosine projection
    //    into the bounded-heap topk_neighbors aggregate.
    //  - the expansion join is salted and explicitly repartitioned:
    //    with a handful of coarse lists the join key alone has fewer
    //    distinct values than the session has cores, and AQE cannot
    //    see the ~list-size× expansion behind it.
    //  - the RESULT (N×k rows) is cut (graft.Pin.cut) — the
    //    narrowest point of the pipeline — after which the two
    //    corpus-sized caches are dropped instead of pinning executor
    //    memory for the session. The N²/nlist pair table itself is
    //    never materialized anywhere (the round-13 heap lesson).
    val spark = df.sparkSession
    // no eager counts: the first consumer (ivfAssign's centroid
    // collect) fills the e cache, and the block manager computes each
    // cached partition once even when one job reads it from two sides
    val e = withNorm(df, vecCol)
      .select(col(idCol), col(vecCol), col(labelCol), col("nrm"))
    graft.Pin.during(e) {
      val cents = ivfCodebook(e, vecCol, labelCol)
      val assign = assignToCents(e, idCol, vecCol, cents, nprobe)
      graft.Pin.during(assign) {
        val salts = saltCount(spark, cents.size)
        val probed = assign.select(col(idCol).as("va"), col("list_id"))
          .join(e.select(col(idCol).as("va"), col(vecCol).as("ea"),
            col("nrm").as("na")), "va")
          .withColumn("salt", pmod(hash(col("va")), lit(salts)))
        val home = assign.where(col("rn") === 1)
          .select(col(idCol).as("vb"), col("list_id"))
          .join(e.select(col(idCol).as("vb"), col(vecCol).as("eb"),
            col("nrm").as("nb")), "vb")
          .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
        val nPart = spark.sessionState.conf.numShufflePartitions
        val out = probed.repartition(nPart, col("list_id"), col("salt"))
          .hint("shuffle_hash")
          .join(home, Seq("list_id", "salt"))
          .where(col("va") =!= col("vb"))
          .withColumn("cos", expr(dot("ea", "eb")) / (col("na") * col("nb")))
          .groupBy(col("va"))
          .agg(expr(s"topk_neighbors(vb, cos, $k)").as("top"))
          .select(col("va"), posexplode(col("top")).as(Seq("pos", "n")))
          .select(col("va"), (col("pos") + 1).cast("int").as("rn"),
            col("n.vb").as("nn"), col("n.cos").as("cos"))
        use(out)
      }
    }
  }

  /** Per-label centroid drift between two embedding snapshots —
    * distribution-shift monitoring for an embedding pipeline: when a
    * re-embedding run (new model, new corpus slice) moves a label's
    * centroid, downstream ANN indexes and k-means codebooks built on
    * the old geometry degrade silently; this measures the move.
    * drift² = Σ_dims (cA_d − cB_d)², with centroid means computed
    * from exact decimal sums and the squared terms decimal-summed
    * (order-independent — the q33 arithmetic discipline), so the
    * number is engine-portable. Labels present in only one snapshot
    * drop (inner join) — a disappearing label is schema drift, not
    * centroid drift.
    *
    * Scale shape: each snapshot reduces to a (labels × dims)-row
    * centroid table in one partially-aggregated shuffle; the
    * comparison join and final per-label sum are codebook-sized.
    * Output: labelCol, n_a, n_b, drift2 (rounded 6).
    */
  def centroidDrift(a: DataFrame, b: DataFrame, vecCol: String,
                    labelCol: String): DataFrame = {
    def cents(df: DataFrame) = df
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
      .groupBy(col(labelCol), col("i"))
      .agg((sum(col("x").cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("c"), count(lit(1)).as("n"))
    val ca = cents(a).select(col(labelCol), col("i"),
      col("c").as("ca"), col("n").as("na"))
    val cb = cents(b).select(col(labelCol).as("__lb"), col("i").as("__ib"),
      col("c").as("cb"), col("n").as("nb"))
    ca.join(cb, ca(labelCol) === col("__lb") && col("i") === col("__ib"))
      .groupBy(col(labelCol))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        round(sum(expr("cast((ca - cb) * (ca - cb) as decimal(38,12))"))
          .cast("double"), 6).as("drift2"))
  }

  /** Hard-triplet mining for contrastive/metric training (the
    * batch-hard strategy of Hermans et al. arXiv:1703.07737 §3, run
    * corpus-wide): for every anchor, the *hardest positive* is its
    * least-similar same-label vector and the *hardest negative* its
    * most-similar different-label vector; the margin between them is
    * what a triplet loss would push on. Anchors missing either side
    * (singleton label, or only one label in the corpus) are dropped.
    *
    * Ties break toward the smaller neighbor id via lexicographic
    * struct min/max — no window, one conditional aggregation over the
    * pair stream. Like [[cosineTopK]] this scans all pairs
    * (declared-quadratic baseline); at scale, mine from an ANN
    * candidate set instead ([[annTopK]] output joined to labels) —
    * same aggregation, bucketed fan-out.
    * Output: va, pos_id, pos_cos, neg_id, neg_cos, margin (= neg −
    * pos cosine, rounded 6).
    */
  def hardTriplets(df: DataFrame, idCol: String, vecCol: String,
                   labelCol: String): DataFrame = {
    val e = withNorm(df, vecCol)
    val a = spread(e).select(col(idCol).as("va"), col(vecCol).as("ea"),
      col("nrm").as("na"), col(labelCol).as("la"))
    val b = e.select(col(idCol).as("vb"), col(vecCol).as("eb"),
      col("nrm").as("nb"), col(labelCol).as("lb"))
    a.join(broadcast(b), col("va") =!= col("vb"))
      .withColumn("cos", expr(dot("ea", "eb")) / (col("na") * col("nb")))
      .groupBy(col("va"))
      .agg(
        min(when(col("la") === col("lb"),
          struct(col("cos").as("cos"), col("vb").as("vb")))).as("pos"),
        max(when(col("la") =!= col("lb"),
          struct(col("cos").as("cos"), (col("vb") * -1).as("nvb")))).as("neg"))
      .where(col("pos").isNotNull && col("neg").isNotNull)
      .select(col("va"),
        col("pos.vb").as("pos_id"), round(col("pos.cos"), 6).as("pos_cos"),
        (col("neg.nvb") * -1).as("neg_id"), round(col("neg.cos"), 6).as("neg_cos"),
        round(col("neg.cos") - col("pos.cos"), 6).as("margin"))
  }

  /** Per-query recall@k of an approximate ranked-neighbor list against
    * the exact one — the evaluation harness that closes the ANN loop:
    * every index here ([[annTopK]], [[annTopKMultiProbe]],
    * [[ivfSearch]], [[adcSearch]]) trades recall for candidate cost,
    * and this operator measures the trade on the index's own output.
    *
    * Both inputs are ranked lists with columns (`queryCol`, `rn`,
    * neighbor); rows with `rn > k` are ignored, so passing lists built
    * at a larger k evaluates a shallower cut. The base set is the
    * EXACT side's query points: a query the index dropped entirely
    * (e.g. a singleton LSH bucket) scores recall 0 rather than
    * disappearing from the average.
    *
    * Scale shape: both inputs are top-k lists — k·n rows, not corpus-
    * sized — so the overlap join and the per-query count shuffle k·n
    * rows on (query, neighbor). The corpus itself is never touched;
    * evaluation cost is independent of vector dimensionality.
    * Output: va, n_hits, recall (= n_hits / k, rounded to 6 decimals).
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int,
                queryCol: String = "va", exactNnCol: String = "vb",
                approxNnCol: String = "nn"): DataFrame = {
    val e = exact.where(col("rn") <= k)
      .select(col(queryCol).as("va"), col(exactNnCol).as("nn"))
    val a = approx.where(col("rn") <= k)
      .select(col(queryCol).as("va"), col(approxNnCol).as("nn"))
    val hits = e.join(a, Seq("va", "nn"), "left_semi")
      .groupBy(col("va")).agg(count(lit(1)).as("__h"))
    e.groupBy(col("va")).agg(count(lit(1)).as("__n"))
      .join(hits, Seq("va"), "left")
      .select(col("va"),
        coalesce(col("__h"), lit(0L)).cast("int").as("n_hits"),
        round(coalesce(col("__h"), lit(0L)) / lit(k.toDouble), 6).as("recall"))
  }
}
