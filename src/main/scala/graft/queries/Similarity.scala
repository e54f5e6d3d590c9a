package graft.queries

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (`array<float>[64]`).
  *
  * Numeric portability: dot products are computed by
  * [[graft.functions.VectorDotScaled]] — per-dimension double products
  * rounded to integer 1e-12 units and summed as longs. The sum is
  * exact, order-independent, and inside whole-stage codegen (the
  * Decimal-typed fold it replaced ran interpreted and was the round-1
  * bench's worst offender); the oracle reproduces it with
  * `SUM(CAST(round(x*y*1e12) AS BIGINT))`. Cosines and rankings then
  * agree bit-for-bit across engines.
  *
  * Scale design (100 TB lens):
  *  - q31 (brute force) is the *correctness baseline*: the pair
  *    fan-out is an explicit crossJoin with the smaller side
  *    broadcast. It is quadratic by definition — the scale path is
  *    q32;
  *  - q32 buckets vectors by random-hyperplane LSH (deterministic
  *    pseudo-random planes), turning all-pairs into per-bucket pairs —
  *    an equi-join on the bucket id that shuffles each vector once.
  *    At 100 TB the plane count grows with the corpus, keeping
  *    per-bucket cardinality bounded; singleton-bucket vectors yield
  *    no neighbor (standard ANN recall trade-off, mitigated by
  *    multi-probe/repetition — unions of the same plan);
  *  - q33 computes per-label centroids — the coarse-quantizer step of
  *    an IVF index — with one shuffle keyed on (label, dim).
  */
object Similarity {

  private def emb(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    Tables.load(spark, sfDir, "embeddings")
  }

  /** DuckDB mirror of the exact scaled-long dot product
    * ([[graft.llm.VectorSearch]]): `$i` ranges over 0..63 from
    * `range(0, 64) t(i)`. */
  private def dotSqlDuck(c1: String, c2: String): String =
    s"CAST(SUM(CAST(round(CAST($c1[i+1] AS DOUBLE) * CAST($c2[i+1] AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12"

  // ---------------------------------------------------------------- q31
  /** Brute-force cosine top-k (k=3) per vector — the exact baseline.
    * Per-group top-k runs as a typed aggregation
    * ([[graft.functions.TopKNeighbors]]): the map side reduces each
    * group to ≤k rows before the shuffle, where the row_number-window
    * form it replaced shuffled and fully sorted all n² candidates.
    */
  def q31(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .cosineTopK(emb(spark, sfDir), "vec_id", "embedding", k = 3)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))

  val q31Sql: String =
    s"""WITH nrm AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY a.vec_id, b.vec_id),
       |ranked AS (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM pairs)
       |SELECT va, rn, vb, ROUND(cos, 6) AS cos FROM ranked WHERE rn <= 3
       |ORDER BY va, rn""".stripMargin

  // ---------------------------------------------------------------- q32
  /** LSH-bucketed approximate nearest neighbor: 4 deterministic
    * pseudo-random hyperplanes → 16 sign buckets → exact top-1 within
    * bucket. Bucket ids are computed in-row; the only shuffle is the
    * per-bucket self-join.
    */
  private val planeVal =
    // deterministic pseudo-random plane coefficient in [-1, 1) for (j, i)
    "(((CAST(1103515245 AS BIGINT) * (j * 64 + i) + 12345) % 2147483648) / 1073741824.0 - 1.0)"

  def q32(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .annTopK(emb(spark, sfDir), "vec_id", "embedding", k = 1)
      .select(col("va"), col("bucket"), col("nn"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"))

  val q32Sql: String =
    s"""WITH nrm AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |proj AS (
       |  SELECT vec_id, j,
       |    SUM(CAST(round(CAST(embedding[i+1] AS DOUBLE) * $planeVal * 1e12)
       |             AS BIGINT)) AS s
       |  FROM nrm CROSS JOIN range(0, 4) tj(j) CROSS JOIN range(0, 64) t(i)
       |  GROUP BY vec_id, j),
       |bucketed AS (
       |  SELECT vec_id, SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS bucket
       |  FROM proj GROUP BY vec_id),
       |pairs AS (
       |  SELECT x.bucket, a.vec_id AS va, b.vec_id AS vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM bucketed x JOIN nrm a ON a.vec_id = x.vec_id
       |  JOIN bucketed y ON y.bucket = x.bucket AND y.vec_id <> x.vec_id
       |  JOIN nrm b ON b.vec_id = y.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY x.bucket, a.vec_id, b.vec_id),
       |ranked AS (
       |  SELECT va, bucket, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM pairs)
       |SELECT va, CAST(bucket AS BIGINT) AS bucket, vb AS nn, ROUND(cos, 6) AS cos
       |FROM ranked WHERE rn = 1 ORDER BY va""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Per-label centroids + within-cluster cohesion — the IVF coarse
    * quantizer as a query: explode to (label, dim, x), one shuffle on
    * (label, dim) for exact centroid sums, then per-vector distances.
    */
  def q33(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .labelCentroids(emb(spark, sfDir), "vec_id", "embedding", "label")
      .select(col("label"), col("n_vectors"), round(col("avg_dist"), 6).as("avg_dist"))
      .orderBy(col("label"))

  val q33Sql: String =
    """WITH dims AS (
      |  SELECT vec_id, label, i, CAST(embedding[i+1] AS DOUBLE) AS x
      |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
      |centroids AS (
      |  SELECT label, i,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
      |  FROM dims GROUP BY label, i),
      |dist AS (
      |  SELECT vec_id, d.label,
      |    sqrt(CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE)) AS dd
      |  FROM dims d JOIN centroids USING (label, i)
      |  GROUP BY vec_id, d.label)
      |SELECT label, COUNT(*) AS n_vectors,
      |  ROUND(CAST(SUM(CAST(dd AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS avg_dist
      |FROM dist GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Embedding-cosine near-dup pairs: same hyperplane-LSH bucketing as
    * q32, but emitting all within-bucket pairs over a similarity
    * threshold instead of top-1 — the embedding-space dedup operator.
    * Cross-bucket pairs are unseen by design (ANN recall trade-off;
    * multi-probe = union of rotated-plane runs of this same plan); the
    * oracle applies identical bucketing, so the contract is exact.
    */
  def q47(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .thresholdPairs(emb(spark, sfDir), "vec_id", "embedding", minCos = 0.4)
      .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("vb"))

  val q47Sql: String =
    s"""WITH nrm AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |proj AS (
       |  SELECT vec_id, j,
       |    SUM(CAST(round(CAST(embedding[i+1] AS DOUBLE) * $planeVal * 1e12)
       |             AS BIGINT)) AS s
       |  FROM nrm CROSS JOIN range(0, 4) tj(j) CROSS JOIN range(0, 64) t(i)
       |  GROUP BY vec_id, j),
       |bucketed AS (
       |  SELECT vec_id, SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS bucket
       |  FROM proj GROUP BY vec_id),
       |pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM bucketed x JOIN nrm a ON a.vec_id = x.vec_id
       |  JOIN bucketed y ON y.bucket = x.bucket AND x.vec_id < y.vec_id
       |  JOIN nrm b ON b.vec_id = y.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY a.vec_id, b.vec_id)
       |SELECT va, vb, ROUND(cos, 6) AS cos FROM pairs WHERE cos >= 0.4
       |ORDER BY va, vb""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Multi-probe ANN: the recall control q32 documents. Two disjoint
    * 4-plane sets (global plane indices 0-3 and 4-7) bucket the space
    * independently; candidates are the union of both probes' bucket
    * pairs, deduped, then ranked top-1 per vector. Any pair separated
    * by probe 0's planes can still collide under probe 1's, so recall
    * strictly grows with the probe count at linear candidate cost
    * (`LlmApiSpec` asserts the improvement against single-probe).
    */
  def q55(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .annTopKMultiProbe(emb(spark, sfDir), "vec_id", "embedding",
        k = 1, planes = 4, dim = 64, probes = 2)
      .select(col("va"), col("rn"), col("nn"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"))

  /** Plane coefficient for global plane index expression `p`. */
  private def coefSql(p: String): String =
    s"(((CAST(1103515245 AS BIGINT) * (($p) * 64 + i) + 12345) % 2147483648) / 1073741824.0 - 1.0)"

  val q55Sql: String =
    s"""WITH nrm AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |proj AS (
       |  SELECT vec_id, l, jl,
       |    SUM(CAST(round(CAST(embedding[i+1] AS DOUBLE) * ${coefSql("l*4 + jl")} * 1e12)
       |             AS BIGINT)) AS s
       |  FROM nrm CROSS JOIN range(0, 2) tl(l) CROSS JOIN range(0, 4) tj(jl)
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY vec_id, l, jl),
       |bucketed AS (
       |  SELECT vec_id, l,
       |    SUM(CASE WHEN s > 0 THEN 1::BIGINT << jl ELSE 0 END) AS bucket
       |  FROM proj GROUP BY vec_id, l),
       |cand AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
       |         FROM bucketed x JOIN bucketed y
       |         ON x.l = y.l AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |pairs AS (
       |  SELECT c.va, c.vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM cand c JOIN nrm a ON a.vec_id = c.va JOIN nrm b ON b.vec_id = c.vb
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY c.va, c.vb),
       |ranked AS (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM pairs)
       |SELECT va, CAST(rn AS INT) AS rn, vb AS nn, ROUND(cos, 6) AS cos
       |FROM ranked WHERE rn = 1 ORDER BY va""".stripMargin

  // ---------------------------------------------------------------- q57
  /** IVF search (k=3, nprobe=2): the coarse quantizer q33 builds,
    * actually probed. Vectors are assigned to their nearest per-label
    * centroid (exact decimal L2, label tie-break); each query
    * exact-searches the union of its 2 nearest inverted lists. The
    * codebook join is a broadcast; the search join shuffles on
    * list_id — candidates per query are nprobe/lists of the corpus
    * instead of all of it, which is the entire point of IVF at 100 TB.
    */
  def q57(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .ivfSearch(emb(spark, sfDir), "vec_id", "embedding", "label",
        k = 3, nprobe = 2)
      .select(col("va"), col("rn"), col("nn"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))

  val q57Sql: String =
    s"""WITH nrm AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |dims AS (
       |  SELECT vec_id, label, i, CAST(embedding[i+1] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
       |cents AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM dims GROUP BY label, i),
       |d2 AS (
       |  SELECT d.vec_id, c.label,
       |    CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE) AS d2
       |  FROM dims d JOIN cents c USING (i) GROUP BY d.vec_id, c.label),
       |assign AS (
       |  SELECT vec_id, label,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, label) AS arn
       |  FROM d2),
       |pairs AS (
       |  SELECT p.vec_id AS va, h.vec_id AS vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM assign p JOIN assign h
       |    ON p.label = h.label AND h.arn = 1 AND p.arn <= 2
       |    AND p.vec_id <> h.vec_id
       |  JOIN nrm a ON a.vec_id = p.vec_id JOIN nrm b ON b.vec_id = h.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY p.vec_id, h.vec_id),
       |ranked AS (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM pairs)
       |SELECT va, CAST(rn AS INT) AS rn, vb AS nn, ROUND(cos, 6) AS cos
       |FROM ranked WHERE rn <= 3 ORDER BY va, rn""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Quantized-Lloyd k-means (k=8, 2 assignment passes) over the
    * embeddings — the clustering stage of semantic dedup. Exact
    * integer arithmetic throughout ([[graft.llm.KMeans]] scaladoc);
    * `rep_id` is the per-cluster semantic-dedup survivor, `wss` the
    * exact within-cluster squared scatter in 1e-6 lattice units.
    */
  def q61(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.KMeans
      .clusterSummary(
        graft.llm.KMeans.assign(emb(spark, sfDir), "vec_id", "embedding",
          k = 8, passes = 2),
        "vec_id")
      .select(col("cluster_id"), col("n"), col("rep_id"), col("wss"))
      .orderBy(col("cluster_id"))

  /** Shared k-means CTE chain (k=8, 2 passes, 64 dims): `a2` is the
    * final (vec_id, cid, d2) assignment — q61 summarizes it, q116
    * ranks it for outliers. */
  private val kmeansCtes: String =
    """sv AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
      |  FROM embeddings),
      |c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, sv AS m
      |  FROM (SELECT * FROM sv ORDER BY vec_id LIMIT 8)),
      |d1 AS (
      |  SELECT v.vec_id, c.cid,
      |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
      |  FROM sv v CROSS JOIN c0 c CROSS JOIN range(0, 64) r(i)
      |  GROUP BY v.vec_id, c.cid),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d1) WHERE rn = 1),
      |c1 AS (
      |  SELECT cid, list(m ORDER BY d) AS m FROM (
      |    SELECT a.cid, r.i AS d,
      |      CAST(SUM(v.sv[r.i+1]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
      |    FROM a1 a JOIN sv v USING (vec_id) CROSS JOIN range(0, 64) r(i)
      |    GROUP BY a.cid, r.i)
      |  GROUP BY cid),
      |d2p AS (
      |  SELECT v.vec_id, c.cid,
      |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
      |  FROM sv v CROSS JOIN c1 c CROSS JOIN range(0, 64) r(i)
      |  GROUP BY v.vec_id, c.cid),
      |a2 AS (
      |  SELECT vec_id, cid, d2 FROM (
      |    SELECT vec_id, cid, d2,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d2p) WHERE rn = 1)""".stripMargin

  val q61Sql: String =
    s"""WITH $kmeansCtes
       |SELECT cid AS cluster_id, COUNT(*) AS n, MIN(vec_id) AS rep_id,
       |  CAST(SUM(d2) AS BIGINT) AS wss
       |FROM a2 GROUP BY cid ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------- q116
  /** Embedding-space outliers: the three vectors FARTHEST from their
    * cluster centroid, per cluster — the far-tail prune of semantic
    * data cleaning (mislabeled / off-distribution points sit far from
    * every centroid). Pure composition: the q61 assignment
    * ([[graft.llm.KMeans.assign]], exact lattice d2) ranked by a
    * per-cluster window — the window partitions on cid (bounded k),
    * never globally. Shares the oracle's entire CTE chain with q61.
    */
  def q116(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.llm.KMeans
      .assign(emb(spark, sfDir), "vec_id", "embedding", k = 8, passes = 2)
      .withColumn("r", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("d2").desc, col("vec_id"))))
      .where(col("r") <= 3)
      .select(col("cid").as("cluster_id"), col("r"), col("vec_id"), col("d2"))
      .orderBy(col("cluster_id"), col("r"))
  }

  val q116Sql: String =
    s"""WITH $kmeansCtes
       |SELECT cid AS cluster_id, CAST(r AS INT) AS r, vec_id, d2 FROM (
       |  SELECT vec_id, cid, d2,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2 DESC, vec_id) AS r
       |  FROM a2) WHERE r <= 3 ORDER BY cluster_id, r""".stripMargin

  // ---------------------------------------------------------------- q115
  /** Product-quantization ADC search
    * ([[graft.llm.VectorSearch.pqSearch]]): 64-dim embeddings split
    * into 4×16-dim subspaces, each with a 4-entry codebook trained by
    * the shared quantized-Lloyd path (2 passes, q61 arithmetic);
    * every vector compresses to 4 code ids, and each of the 20 query
    * vectors finds its ADC-nearest corpus vector through codebook
    * lookups alone. The oracle re-derives all four codebooks (the
    * q61 CTE chain per subspace), re-encodes the corpus, and rebuilds
    * the ADC tables — training, encoding, and search are all
    * hash-checked.
    */
  def q115(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    graft.llm.VectorSearch
      .pqSearch(e, "vec_id", "embedding",
        queries = e.where(col("vec_id") < 20), m = 4, k = 4, passes = 2)
      .orderBy(col("query_id"))
  }

  val q115Sql: String = {
    val m = 4; val sub = 16
    // per-subspace codebook training: q61's CTE chain on the slice,
    // then positional (rank-by-cid) indexing to mirror the engine's
    // array_position encoding
    def bookCtes(s: Int): String = {
      val lo = s * sub + 1; val hi = (s + 1) * sub
      s"""sv$s AS (SELECT vec_id, sv[$lo:$hi] AS sv FROM svq),
         |c0$s AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, sv AS m
         |  FROM (SELECT * FROM sv$s ORDER BY vec_id LIMIT 4)),
         |d1$s AS (
         |  SELECT v.vec_id, c.cid,
         |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
         |  FROM sv$s v CROSS JOIN c0$s c CROSS JOIN range(0, $sub) r(i)
         |  GROUP BY v.vec_id, c.cid),
         |a1$s AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM d1$s) WHERE rn = 1),
         |cb$s AS (
         |  SELECT CAST(row_number() OVER (ORDER BY cid) AS INT) AS pos, m FROM (
         |    SELECT cid, list(mm ORDER BY d) AS m FROM (
         |      SELECT a.cid, r.i AS d,
         |        CAST(SUM(v.sv[r.i+1]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mm
         |      FROM a1$s a JOIN sv$s v USING (vec_id) CROSS JOIN range(0, $sub) r(i)
         |      GROUP BY a.cid, r.i)
         |    GROUP BY cid)),
         |dc$s AS (
         |  SELECT v.vec_id, c.pos,
         |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
         |  FROM sv$s v CROSS JOIN cb$s c CROSS JOIN range(0, $sub) r(i)
         |  GROUP BY v.vec_id, c.pos),
         |code$s AS (
         |  SELECT vec_id, pos AS code FROM (
         |    SELECT vec_id, pos,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, pos) AS rn
         |    FROM dc$s) WHERE rn = 1),
         |dt$s AS (
         |  SELECT q.query_id, b.pos,
         |    CAST(SUM((q.qv[$lo + i] - b.m[i+1]) * (q.qv[$lo + i] - b.m[i+1])) AS BIGINT) AS d
         |  FROM q CROSS JOIN cb$s b CROSS JOIN range(0, $sub) r(i)
         |  GROUP BY q.query_id, b.pos)""".stripMargin
    }
    val codeCols = (0 until m).map(s => s"c$s.code AS k$s").mkString(", ")
    val codeJoins = (1 until m)
      .map(s => s"JOIN code$s c$s USING (vec_id)").mkString(" ")
    val dtJoins = (0 until m)
      .map(s => s"JOIN dt$s t$s ON t$s.query_id = q.query_id AND t$s.pos = codes.k$s")
      .mkString("\n  ")
    val adcSum = (0 until m).map(s => s"t$s.d").mkString(" + ")
    s"""WITH svq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, sv AS qv FROM svq WHERE vec_id < 20),
       |${(0 until m).map(bookCtes).mkString(",\n")},
       |codes AS (SELECT c0.vec_id, $codeCols FROM code0 c0 $codeJoins),
       |pairs AS (
       |  SELECT q.query_id, codes.vec_id, $adcSum AS adc_d2
       |  FROM codes CROSS JOIN q
       |  $dtJoins
       |  WHERE codes.vec_id <> q.query_id)
       |SELECT query_id, vec_id AS nn_id, adc_d2 FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_d2, vec_id) AS rn FROM pairs) WHERE rn = 1
       |ORDER BY query_id""".stripMargin
  }

  // ---------------------------------------------------------------- q118
  /** JL random-sign projection ([[graft.llm.VectorSearch.jlProject]]):
    * 64 → 16 dims through the deterministic index-hash sign matrix,
    * every reduced coordinate an exact lattice integer the oracle
    * recomputes from the same arithmetic. Restricted to vec_id < 100
    * so the declared result stays compact; the operator itself is one
    * shuffle-free in-row pass over any corpus size.
    */
  def q118(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .jlProject(emb(spark, sfDir).where(col("vec_id") < 100),
        "vec_id", "embedding", outDims = 16)
      .orderBy(col("vec_id"), col("dim"))

  val q118Sql: String =
    """WITH sv AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
      |  FROM embeddings WHERE vec_id < 100)
      |SELECT vec_id, CAST(j AS INT) AS dim,
      |  CAST(SUM(sv[i + 1] * (CASE WHEN (CAST(1103515245 AS BIGINT) * (j * 64 + i) * (j * 64 + i)
      |    + 12345 * (j * 64 + i)) % 2147483648 >= 1073741824 THEN 1 ELSE -1 END)) AS BIGINT) AS val
      |FROM sv CROSS JOIN range(0, 16) t(j) CROSS JOIN range(0, 64) r(i)
      |GROUP BY vec_id, j ORDER BY vec_id, dim""".stripMargin

  // ---------------------------------------------------------------- q124
  /** SemDeDup ([[graft.llm.VectorSearch.semDedup]], Abbas et al.
    * 2023): the q61 k-means assignment bounds the pairwise cosine
    * search to within-cluster pairs; pairs at cosine ≥ 0.4 (q47's
    * proven-exact threshold and dot arithmetic) are semantic
    * duplicates and the member farther from its centroid survives.
    * The oracle re-derives the clustering (q61's CTE chain), the
    * exact pairwise cosines, and the keep rule — one verdict row per
    * vector, all hash-checked.
    */
  def q124(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .semDedup(emb(spark, sfDir), "vec_id", "embedding",
        k = 8, passes = 2, minCos = 0.4)
      .orderBy(col("vec_id"))

  val q124Sql: String =
    s"""WITH $kmeansCtes,
       |nrm AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i)
       |  GROUP BY vec_id, embedding),
       |pairs AS (
       |  SELECT x.vec_id AS va, y.vec_id AS vb,
       |    ANY_VALUE(x.d2) AS da, ANY_VALUE(y.d2) AS db,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) /
       |      (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  JOIN nrm a ON a.vec_id = x.vec_id
       |  JOIN nrm b ON b.vec_id = y.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY x.vec_id, y.vec_id),
       |rem AS (
       |  SELECT DISTINCT CASE
       |    WHEN db > da OR (db = da AND vb < va) THEN va ELSE vb
       |    END AS rid
       |  FROM pairs WHERE cos >= 0.4)
       |SELECT a2.vec_id, a2.cid, a2.d2, rem.rid IS NULL AS kept
       |FROM a2 LEFT JOIN rem ON rem.rid = a2.vec_id
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q130
  /** k-center greedy diversity selection
    * ([[graft.llm.VectorSearch.kCenterGreedy]], Gonzalez 1985 /
    * Sener & Savarese core-sets): 4 rounds of farthest-point
    * traversal over the embeddings, exact lattice distances. The
    * oracle unrolls every round — seed, per-round min-distance table,
    * argmax pick — so the full traversal (selection order AND
    * covering radii) is hash-checked.
    */
  def q130(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .kCenterGreedy(emb(spark, sfDir), "vec_id", "embedding", k = 4)
      .orderBy(col("round"))

  private def kCenterCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """sv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
        |  FROM embeddings),
        |sel0 AS (SELECT vec_id, sv FROM sv ORDER BY vec_id LIMIT 1)""".stripMargin)
    for (r <- 1 until k) {
      val sel = (0 until r).map {
        case 0 => "SELECT vec_id, sv FROM sel0"
        case i => s"SELECT s.vec_id, s.sv FROM sv s JOIN p$i USING (vec_id)"
      }.mkString(" UNION ALL ")
      sb.append(s""",
        |d$r AS (
        |  SELECT vec_id, MIN(dd) AS d2 FROM (
        |    SELECT v.vec_id AS vec_id,
        |      CAST(SUM((v.sv[i+1] - c.sv[i+1]) * (v.sv[i+1] - c.sv[i+1]))
        |        AS BIGINT) AS dd
        |    FROM sv v CROSS JOIN ($sel) c CROSS JOIN range(0, 64) t(i)
        |    GROUP BY v.vec_id, c.vec_id)
        |  GROUP BY vec_id),
        |p$r AS (
        |  SELECT vec_id, d2 FROM d$r
        |  WHERE vec_id NOT IN (SELECT vec_id FROM ($sel))
        |  ORDER BY d2 DESC, vec_id LIMIT 1)""".stripMargin)
    }
    sb.toString
  }

  val q130Sql: String = {
    val rounds = (1 until 4).map(r =>
      s"UNION ALL SELECT $r AS round, vec_id, d2 AS radius FROM p$r")
      .mkString("\n")
    s"""WITH ${kCenterCtes(4)}
       |SELECT 0 AS round, vec_id, CAST(0 AS BIGINT) AS radius FROM sel0
       |$rounds
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q134
  /** Recall@3 of the IVF index (q57's configuration: nprobe=2 over the
    * 5 label lists) measured against the exact brute-force top-3 (q31)
    * — the ANN evaluation loop run inside the engine. Every index in
    * [[graft.llm.VectorSearch]] trades recall for candidate cost;
    * this query puts a number on the trade, per query point, on the
    * index's own output ([[graft.llm.VectorSearch.recallAtK]]).
    *
    * Scale shape: the two searches dominate (and carry their own
    * plans); the evaluation itself joins two k·n-row ranked lists on
    * (query, neighbor) — corpus-size-independent. At 100 TB this is
    * how nprobe gets tuned: run on a sampled query set, sweep nprobe,
    * read the recall column.
    */
  def q134(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val exact = graft.llm.VectorSearch.cosineTopK(e, "vec_id", "embedding", k = 3)
    val approx = graft.llm.VectorSearch.ivfSearch(e, "vec_id", "embedding", "label",
      k = 3, nprobe = 2)
    graft.llm.VectorSearch.recallAtK(exact, approx, k = 3).orderBy(col("va"))
  }

  val q134Sql: String =
    s"""WITH nrm AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |epairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY a.vec_id, b.vec_id),
       |exact3 AS (
       |  SELECT va, vb FROM (
       |    SELECT va, vb,
       |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |    FROM epairs) WHERE rn <= 3),
       |dims AS (
       |  SELECT vec_id, label, i, CAST(embedding[i+1] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
       |cents AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM dims GROUP BY label, i),
       |d2 AS (
       |  SELECT d.vec_id, c.label,
       |    CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE) AS d2
       |  FROM dims d JOIN cents c USING (i) GROUP BY d.vec_id, c.label),
       |assign AS (
       |  SELECT vec_id, label,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, label) AS arn
       |  FROM d2),
       |ipairs AS (
       |  SELECT p.vec_id AS va, h.vec_id AS vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM assign p JOIN assign h
       |    ON p.label = h.label AND h.arn = 1 AND p.arn <= 2
       |    AND p.vec_id <> h.vec_id
       |  JOIN nrm a ON a.vec_id = p.vec_id JOIN nrm b ON b.vec_id = h.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY p.vec_id, h.vec_id),
       |approx3 AS (
       |  SELECT va, vb FROM (
       |    SELECT va, vb,
       |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |    FROM ipairs) WHERE rn <= 3),
       |hits AS (
       |  SELECT e.va, COUNT(*) AS h
       |  FROM exact3 e JOIN approx3 a ON a.va = e.va AND a.vb = e.vb
       |  GROUP BY e.va),
       |base AS (SELECT va, COUNT(*) AS n FROM exact3 GROUP BY va)
       |SELECT b.va, CAST(COALESCE(h, 0) AS INT) AS n_hits,
       |  ROUND(COALESCE(h, 0) / 3.0, 6) AS recall
       |FROM base b LEFT JOIN hits USING (va) ORDER BY va""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Cluster labeling: the q61 k-means semantic clusters explained by
    * their top-3 distinctive terms via class-based tf·idf
    * ([[graft.llm.Lexical.distinctiveTerms]]) — embeddings pick the
    * clusters, text explains them, the missing "what IS this cluster"
    * step between semantic clustering (q61) and curation decisions
    * like q124's SemDeDup or q119's split audit.
    *
    * Scale shape: k-means as q61 (broadcast centroid literals); the
    * assignment joins `documents` on the id axis (same key, hash
    * join); token scoring partially aggregates on (cid, term) and the
    * idf tables are vocabulary-sized broadcasts. The final window
    * partitions on the 8 bounded cluster ids.
    */
  def q139(spark: SparkSession, sfDir: String): DataFrame = {
    val assign = graft.llm.KMeans.assign(emb(spark, sfDir), "vec_id", "embedding",
      k = 8, passes = 2)
    val d = Tables.load(spark, sfDir, "documents")
    val joined = assign.select(col("vec_id"), col("cid"))
      .join(d.select(col("doc_id"), col("text")), col("doc_id") === col("vec_id"))
    graft.llm.Lexical.distinctiveTerms(joined, "cid", "text", topK = 3)
      .orderBy(col("cid"), col("rk"))
  }

  val q139Sql: String =
    s"""WITH $kmeansCtes,
       |toks AS (SELECT a2.cid, unnest(string_split(d.text, ' ')) AS term
       |         FROM a2 JOIN documents d ON d.doc_id = a2.vec_id),
       |tf AS (SELECT cid, term, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY cid, term),
       |gf AS (SELECT term, COUNT(*) AS gf FROM tf GROUP BY term),
       |ng AS (SELECT COUNT(DISTINCT cid) AS ng FROM tf),
       |scored AS (SELECT cid, term,
       |             CAST(tf * ((ng * 1000000) // gf) AS BIGINT) AS score
       |           FROM tf JOIN gf USING (term) CROSS JOIN ng)
       |SELECT cid, CAST(rk AS INT) AS rk, term, score FROM (
       |  SELECT cid, term, score,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY score DESC, term) AS rk
       |  FROM scored)
       |WHERE rk <= 3 ORDER BY cid, rk""".stripMargin

  // ---------------------------------------------------------------- q141
  /** Batch-hard triplet mining over the labeled embeddings
    * ([[graft.llm.VectorSearch.hardTriplets]]): per anchor, the
    * least-similar same-label vector and most-similar other-label
    * vector — the training pairs a contrastive embedding model would
    * consume, mined inside the engine. The margin column is the
    * quantity a triplet loss optimizes; negative margins mark label
    * regions the current embedding already confuses.
    */
  def q141(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .hardTriplets(emb(spark, sfDir), "vec_id", "embedding", "label")
      .orderBy(col("va"))

  val q141Sql: String =
    s"""WITH nrm AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, label, embedding),
       |p AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    ANY_VALUE(a.label) AS la, ANY_VALUE(b.label) AS lb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY a.vec_id, b.vec_id),
       |pos AS (
       |  SELECT va, vb, cos FROM (
       |    SELECT va, vb, cos,
       |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos ASC, vb) AS rn
       |    FROM p WHERE la = lb) WHERE rn = 1),
       |neg AS (
       |  SELECT va, vb, cos FROM (
       |    SELECT va, vb, cos,
       |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |    FROM p WHERE la <> lb) WHERE rn = 1)
       |SELECT pos.va, pos.vb AS pos_id, ROUND(pos.cos, 6) AS pos_cos,
       |  neg.vb AS neg_id, ROUND(neg.cos, 6) AS neg_cos,
       |  ROUND(neg.cos - pos.cos, 6) AS margin
       |FROM pos JOIN neg ON pos.va = neg.va
       |ORDER BY pos.va""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Embedding-distribution drift between two corpus snapshots
    * ([[graft.llm.VectorSearch.centroidDrift]]): per label, the
    * squared L2 move of the centroid from the even-id half to the
    * odd-id half (the id parity standing in for before/after a
    * re-embedding run). The monitoring number that says when ANN
    * indexes and codebooks built on the old geometry need a rebuild.
    */
  def q142(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    graft.llm.VectorSearch.centroidDrift(
      e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
      "embedding", "label")
      .orderBy(col("label"))
  }

  val q142Sql: String =
    """WITH dims AS (
      |  SELECT vec_id, label, i, CAST(embedding[i+1] AS DOUBLE) AS x,
      |    vec_id % 2 AS half
      |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
      |cents AS (
      |  SELECT label, half, i,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c,
      |    COUNT(*) AS n
      |  FROM dims GROUP BY label, half, i),
      |j AS (
      |  SELECT a.label, a.i, a.c AS ca, b.c AS cb, a.n AS na, b.n AS nb
      |  FROM cents a JOIN cents b
      |    ON a.label = b.label AND a.i = b.i AND a.half = 0 AND b.half = 1)
      |SELECT label, CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
      |  ROUND(CAST(SUM(CAST((ca - cb) * (ca - cb) AS DECIMAL(38,12))) AS DOUBLE), 6)
      |    AS drift2
      |FROM j GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q147
  /** Incremental k-means codebook maintenance
    * ([[graft.llm.KMeans.incrementalSummary]]): the codebook trains on
    * the even-id half, then absorbs the odd-id batch from sufficient
    * statistics alone — history sums + counts, never a history rescan
    * — and reports each center's exact squared move. Completes the
    * incremental-maintenance family (q113 exact store, q109/q122
    * signature stores, streaming cycle) for the clustering tier, and
    * pairs with q142: drift says the data moved, move2 says how far
    * the codebook must follow.
    */
  def q147(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    graft.llm.KMeans.incrementalSummary(
      e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 8, passes = 2)
      .orderBy(col("cid"))
  }

  val q147Sql: String =
    """WITH sv AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
      |  FROM embeddings),
      |sve AS (SELECT * FROM sv WHERE vec_id % 2 = 0),
      |svo AS (SELECT * FROM sv WHERE vec_id % 2 = 1),
      |c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, sv AS m
      |  FROM (SELECT * FROM sve ORDER BY vec_id LIMIT 8)),
      |d1 AS (
      |  SELECT v.vec_id, c.cid,
      |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
      |  FROM sve v CROSS JOIN c0 c CROSS JOIN range(0, 64) r(i)
      |  GROUP BY v.vec_id, c.cid),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d1) WHERE rn = 1),
      |c1 AS (
      |  SELECT cid, list(m ORDER BY d) AS m FROM (
      |    SELECT a.cid, r.i AS d,
      |      CAST(SUM(v.sv[r.i+1]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
      |    FROM a1 a JOIN sve v USING (vec_id) CROSS JOIN range(0, 64) r(i)
      |    GROUP BY a.cid, r.i)
      |  GROUP BY cid),
      |d2e AS (
      |  SELECT v.vec_id, c.cid,
      |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
      |  FROM sve v CROSS JOIN c1 c CROSS JOIN range(0, 64) r(i)
      |  GROUP BY v.vec_id, c.cid),
      |a2e AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d2e) WHERE rn = 1),
      |d2o AS (
      |  SELECT v.vec_id, c.cid,
      |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
      |  FROM svo v CROSS JOIN c1 c CROSS JOIN range(0, 64) r(i)
      |  GROUP BY v.vec_id, c.cid),
      |a2o AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d2o) WHERE rn = 1),
      |hist AS (
      |  SELECT a.cid, r.i AS d, CAST(SUM(v.sv[r.i+1]) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM a2e a JOIN sve v USING (vec_id) CROSS JOIN range(0, 64) r(i)
      |  GROUP BY a.cid, r.i),
      |bat AS (
      |  SELECT a.cid, r.i AS d, CAST(SUM(v.sv[r.i+1]) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM a2o a JOIN svo v USING (vec_id) CROSS JOIN range(0, 64) r(i)
      |  GROUP BY a.cid, r.i),
      |upd AS (
      |  SELECT h.cid, h.d, h.n AS hn, COALESCE(b.n, 0) AS bn,
      |    (h.s + COALESCE(b.s, 0)) // (h.n + COALESCE(b.n, 0)) AS nd
      |  FROM hist h LEFT JOIN bat b ON h.cid = b.cid AND h.d = b.d)
      |SELECT u.cid, CAST(MAX(u.hn) AS BIGINT) AS n_hist,
      |  CAST(MAX(u.bn) AS BIGINT) AS n_batch,
      |  CAST(SUM((u.nd - c.m[u.d+1]) * (u.nd - c.m[u.d+1])) AS BIGINT) AS move2
      |FROM upd u JOIN c1 c ON u.cid = c.cid
      |GROUP BY u.cid ORDER BY u.cid""".stripMargin

  // ---------------------------------------------------------------- q149
  /** SQ8 scalar-quantized search + exact rerank
    * ([[graft.llm.VectorSearch.sq8Rerank]]): byte codes against the
    * per-dimension corpus range generate top-10 candidates by
    * integer code dot, then ONLY those 10 are reranked with the exact
    * cosine — the byte-per-dim middle tier between brute force (q31)
    * and PQ (q115). Candidate arithmetic is all-BIGINT, so candidate
    * sets are engine-exact; the reranked cosine reuses the scaled-long
    * dot. Output shape matches q31 for direct comparison.
    */
  def q149(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .sq8Rerank(emb(spark, sfDir), "vec_id", "embedding", m = 10, k = 3)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))

  // Exact-vector contraction: the SQ8 score is a pure function of the
  // two embeddings, so the quadratic candidate scan runs over DISTINCT
  // vectors (`vg`), scored as one list_dot_product per rep pair
  // (integer codes, exact in a double up to 255²·64 « 2^53). Per-query
  // top-10 candidates are recovered exactly: a member of group gb can
  // rank within any query's top 10 iff the count of candidates in
  // strictly-higher-score groups (`hc`, counted with the query's own
  // group shrunk by the self-exclusion) is at most 10 — every kept
  // level expands through membership and the original
  // (score DESC, vb) row_number re-ranks. Lossless at every scale; on
  // the duplicate-dense sf1 scale-up it removes the 100× blow-up that
  // timed the all-pairs form out.
  val q149Sql: String =
    s"""WITH vg AS (
       |  SELECT MIN(vec_id) AS rep, COUNT(*) AS cnt, list(vec_id) AS ids, embedding
       |  FROM embeddings GROUP BY embedding),
       |dims AS (
       |  SELECT rep, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM vg CROSS JOIN range(0, 64) t(i)),
       |st AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY i),
       |qd AS (
       |  SELECT rep, d.i,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT) END AS q
       |  FROM dims d JOIN st USING (i)),
       |qv AS (SELECT rep, list(CAST(q AS DOUBLE) ORDER BY i) AS v FROM qd GROUP BY rep),
       |gs AS (
       |  SELECT a.rep AS ga, b.rep AS gb,
       |    CAST(list_dot_product(a.v, b.v) AS BIGINT) AS score
       |  FROM qv a CROSS JOIN qv b),
       |gc AS (
       |  SELECT ga, gb, score,
       |    CASE WHEN ga = gb THEN vb.cnt - 1 ELSE vb.cnt END AS eff
       |  FROM gs JOIN vg vb ON vb.rep = gb
       |  WHERE NOT (ga = gb AND vb.cnt = 1)),
       |lvl AS (SELECT ga, score, SUM(eff) AS ecnt FROM gc GROUP BY ga, score),
       |lvl2 AS (SELECT ga, score,
       |    COALESCE(SUM(ecnt) OVER (PARTITION BY ga ORDER BY score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS hc
       |  FROM lvl),
       |keep AS (SELECT gc.ga, gc.gb, gc.score FROM gc
       |         JOIN lvl2 ON lvl2.ga = gc.ga AND lvl2.score = gc.score
       |         WHERE lvl2.hc <= 10),
       |mem AS (SELECT rep, unnest(ids) AS vec_id FROM vg),
       |cand AS (
       |  SELECT va, vb FROM (
       |    SELECT ma.vec_id AS va, mb.vec_id AS vb,
       |      ROW_NUMBER() OVER (PARTITION BY ma.vec_id ORDER BY k.score DESC, mb.vec_id) AS crn
       |    FROM keep k JOIN mem ma ON ma.rep = k.ga JOIN mem mb ON mb.rep = k.gb
       |    WHERE ma.vec_id <> mb.vec_id) WHERE crn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |ex AS (
       |  SELECT c.va, c.vb,
       |    (${dotSqlDuck("x.embedding", "y.embedding")}) / (ANY_VALUE(x.nrm) * ANY_VALUE(y.nrm)) AS cos
       |  FROM cand c JOIN nrm x ON x.vec_id = c.va JOIN nrm y ON y.vec_id = c.vb
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY c.va, c.vb)
       |SELECT va, rn, vb, ROUND(cos, 6) AS cos FROM (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM ex) WHERE rn <= 3
       |ORDER BY va, rn""".stripMargin

  // ---------------------------------------------------------------- q165
  /** IVF-pruned SQ8 search + exact rerank
    * ([[graft.llm.VectorSearch.sq8IvfRerank]]) — the composed
    * production tier behind q149's all-pairs baseline: the q57 coarse
    * quantizer (per-label centroids, nprobe=2) prunes the code scan
    * to each query's two nearest inverted lists, the SQ8 byte-code
    * dot ranks only those lists' codes, and the exact cosine reranks
    * the surviving top-10. The sf1 scale probe measured the
    * unpruned baseline at 467 s (its cost is corpus², every vector
    * being a query); this tier's scan is nprobe/nlist of that and
    * flat per query once nlist scales ∝ √N. Output shape matches
    * q149/q31 for direct recall comparison.
    */
  def q165(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .sq8IvfRerank(emb(spark, sfDir), "vec_id", "embedding", "label",
        m = 10, k = 3, nprobe = 2)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))

  // Exact-vector contraction (the q149 pattern): coarse assignment,
  // SQ8 codes and scores are pure functions of the embedding given the
  // centroid/range statistics, which stay vec-level (they are cheap
  // single-pass aggregates). Candidate GROUPS arrive through the
  // probe-list = home-list join; the strictly-higher-count window
  // prune and membership expansion recover each query's exact top-10.
  val q165Sql: String =
    s"""WITH vg AS (
       |  SELECT MIN(vec_id) AS rep, COUNT(*) AS cnt, list(vec_id) AS ids, embedding
       |  FROM embeddings GROUP BY embedding),
       |dims AS (
       |  SELECT vec_id, label, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
       |cents AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM dims GROUP BY label, i),
       |st AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY i),
       |rdims AS (
       |  SELECT rep, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM vg CROSS JOIN range(0, 64) t(i)),
       |rd2 AS (
       |  SELECT d.rep, c.label,
       |    CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE) AS d2
       |  FROM rdims d JOIN cents c USING (i) GROUP BY d.rep, c.label),
       |rassign AS (
       |  SELECT rep, label,
       |    ROW_NUMBER() OVER (PARTITION BY rep ORDER BY d2, label) AS arn
       |  FROM rd2),
       |qd AS (
       |  SELECT rep, d.i,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT) END AS q
       |  FROM rdims d JOIN st USING (i)),
       |qv AS (SELECT rep, list(CAST(q AS DOUBLE) ORDER BY i) AS v FROM qd GROUP BY rep),
       |gs AS (
       |  SELECT p.rep AS ga, h.rep AS gb,
       |    CAST(list_dot_product(a.v, b.v) AS BIGINT) AS score
       |  FROM rassign p JOIN rassign h
       |    ON p.label = h.label AND h.arn = 1 AND p.arn <= 2
       |  JOIN qv a ON a.rep = p.rep JOIN qv b ON b.rep = h.rep),
       |gc AS (
       |  SELECT ga, gb, score,
       |    CASE WHEN ga = gb THEN vb.cnt - 1 ELSE vb.cnt END AS eff
       |  FROM gs JOIN vg vb ON vb.rep = gb
       |  WHERE NOT (ga = gb AND vb.cnt = 1)),
       |lvl AS (SELECT ga, score, SUM(eff) AS ecnt FROM gc GROUP BY ga, score),
       |lvl2 AS (SELECT ga, score,
       |    COALESCE(SUM(ecnt) OVER (PARTITION BY ga ORDER BY score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS hc
       |  FROM lvl),
       |keep AS (SELECT gc.ga, gc.gb, gc.score FROM gc
       |         JOIN lvl2 ON lvl2.ga = gc.ga AND lvl2.score = gc.score
       |         WHERE lvl2.hc <= 10),
       |mem AS (SELECT rep, unnest(ids) AS vec_id FROM vg),
       |cand AS (
       |  SELECT va, vb FROM (
       |    SELECT ma.vec_id AS va, mb.vec_id AS vb,
       |      ROW_NUMBER() OVER (PARTITION BY ma.vec_id ORDER BY k.score DESC, mb.vec_id) AS crn
       |    FROM keep k JOIN mem ma ON ma.rep = k.ga JOIN mem mb ON mb.rep = k.gb
       |    WHERE ma.vec_id <> mb.vec_id) WHERE crn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |ex AS (
       |  SELECT c.va, c.vb,
       |    (${dotSqlDuck("x.embedding", "y.embedding")}) / (ANY_VALUE(x.nrm) * ANY_VALUE(y.nrm)) AS cos
       |  FROM cand c JOIN nrm x ON x.vec_id = c.va JOIN nrm y ON y.vec_id = c.vb
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY c.va, c.vb)
       |SELECT va, rn, vb, ROUND(cos, 6) AS cos FROM (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM ex) WHERE rn <= 3
       |ORDER BY va, rn""".stripMargin

  // ---------------------------------------------------------------- q166
  /** IVF search through a k-means-TRAINED coarse quantizer
    * ([[graft.llm.KMeans.assign]] k=8 feeding
    * [[graft.llm.VectorSearch.ivfSearch]] as its `labelCol`) — the
    * composition the sf1 scale probe called for: q57/q165 quantize on
    * the 10 data labels, which fixes nlist at the label cardinality
    * and leaves the per-list scan asymptotically linear in the corpus;
    * here the quantizer is an unsupervised codebook whose size is a
    * deploy-time knob, so nlist can grow ∝ √N with the corpus (the
    * standard IVF sizing) with zero operator changes — `ivfSearch`
    * takes the assignment column and never asks where it came from.
    *
    * Scale shape: k-means adds one in-row assignment pass per Lloyd
    * round (centroid literals, no shuffle) on top of q57's plan; the
    * search itself keeps ivfSearch's one list_id-keyed shuffle.
    * Output shape matches q57 for direct comparison.
    */
  def q166(spark: SparkSession, sfDir: String): DataFrame =
    kMeansIvf(emb(spark, sfDir), nlist = 8)

  /** q166/q205's search: `e` labelled by an `nlist`-center k-means
    * codebook, then IVF-searched over those labels. */
  private def kMeansIvf(e: DataFrame, nlist: Int): DataFrame = {
    // not cut: ivfSearch pins its normed input once, so the assignment
    // pass (and any upstream load exchange) is already evaluated
    // exactly once; `cid` is read once, and a cut is for frames read
    // more than once (see graft.Pin.cut)
    val cid = graft.llm.KMeans
      .assign(e, "vec_id", "embedding", k = nlist, passes = 2)
      .select(col("vec_id"), col("cid"))
    graft.llm.VectorSearch
      .ivfSearch(e.join(cid, "vec_id"), "vec_id", "embedding", "cid",
        k = 3, nprobe = 2)
      .select(col("va"), col("rn"), col("nn"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))
  }

  // ---------------------------------------------------------------- q205
  /** q166's IVF-through-a-trained-quantizer at the PRODUCTION codebook
    * size — nlist = max(8, ⌊√N⌋), the standard IVF sizing that keeps
    * per-query scan cost ~2√N (nprobe lists of ~N/√N vectors each)
    * instead of the ~N/8 a fixed 8-list codebook degrades to as the
    * corpus grows. q57/q165/q166 pin nlist at a small constant so
    * their oracles stay tractable; this query DECLARES the √N
    * configuration so the benchmark artifact carries the number the
    * deploy-time knob actually ships with (the r9 sf1 probe measured
    * the √N path ~5× cheaper end-to-end than nlist=8; this makes that
    * measurement a standing, oracle-checked artifact instead of a
    * one-off note). Same operator, same output shape as q166 — only
    * k changes, and `ivfSearch` never asks where the labels came
    * from.
    *
    * Scale shape: the k-means codebook is k×64 longs on the driver
    * (141 at sf1, ~10⁴ at 100 TB — still driver-trivial); assignment
    * stays one in-row argmin pass per Lloyd round against centroid
    * literals, and the search keeps ivfSearch's single list_id-keyed
    * shuffle with per-list fan-in now √N-bounded.
    */
  def q205(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    kMeansIvf(e, nlist = math.max(8, math.floor(math.sqrt(e.count().toDouble)).toInt))
  }

  /** q166's CTE chain with the codebook size dynamic: nlist =
    * GREATEST(8, ⌊√N⌋) computed in-query, c0 bounded by a window
    * filter instead of a literal LIMIT. */
  val q205Sql: String =
    s"""WITH kk AS (
       |  SELECT GREATEST(8, CAST(floor(sqrt(COUNT(*))) AS INT)) AS k
       |  FROM embeddings),
       |sv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(rn AS INT) - 1 AS cid, sv AS m FROM (
       |    SELECT sv, row_number() OVER (ORDER BY vec_id) AS rn FROM sv)
       |  WHERE rn <= (SELECT k FROM kk)),
       |d1 AS (
       |  SELECT v.vec_id, c.cid,
       |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
       |  FROM sv v CROSS JOIN c0 c CROSS JOIN range(0, 64) r(i)
       |  GROUP BY v.vec_id, c.cid),
       |a1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d1) WHERE rn = 1),
       |c1 AS (
       |  SELECT cid, list(m ORDER BY d) AS m FROM (
       |    SELECT a.cid, r.i AS d,
       |      CAST(SUM(v.sv[r.i+1]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
       |    FROM a1 a JOIN sv v USING (vec_id) CROSS JOIN range(0, 64) r(i)
       |    GROUP BY a.cid, r.i)
       |  GROUP BY cid),
       |d2p AS (
       |  SELECT v.vec_id, c.cid,
       |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
       |  FROM sv v CROSS JOIN c1 c CROSS JOIN range(0, 64) r(i)
       |  GROUP BY v.vec_id, c.cid),
       |a2 AS (
       |  SELECT vec_id, cid, d2 FROM (
       |    SELECT vec_id, cid, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d2p) WHERE rn = 1),
       |kdims AS (
       |  SELECT e.vec_id, a.cid, t.i, CAST(e.embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM embeddings e JOIN a2 a USING (vec_id)
       |  CROSS JOIN range(0, 64) t(i)),
       |kcents AS (
       |  SELECT cid, i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM kdims GROUP BY cid, i),
       |kd2 AS (
       |  SELECT d.vec_id, c.cid,
       |    CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE) AS d2
       |  FROM kdims d JOIN kcents c USING (i) GROUP BY d.vec_id, c.cid),
       |kassign AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS arn
       |  FROM kd2),
       |nrm AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |pairs AS (
       |  SELECT p.vec_id AS va, h.vec_id AS vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM kassign p JOIN kassign h
       |    ON p.cid = h.cid AND h.arn = 1 AND p.arn <= 2
       |    AND p.vec_id <> h.vec_id
       |  JOIN nrm a ON a.vec_id = p.vec_id JOIN nrm b ON b.vec_id = h.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY p.vec_id, h.vec_id),
       |ranked AS (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM pairs)
       |SELECT va, CAST(rn AS INT) AS rn, vb AS nn, ROUND(cos, 6) AS cos
       |FROM ranked WHERE rn <= 3 ORDER BY va, rn""".stripMargin

  val q166Sql: String =
    s"""WITH $kmeansCtes,
       |kdims AS (
       |  SELECT e.vec_id, a.cid, t.i, CAST(e.embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM embeddings e JOIN a2 a USING (vec_id)
       |  CROSS JOIN range(0, 64) t(i)),
       |kcents AS (
       |  SELECT cid, i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM kdims GROUP BY cid, i),
       |kd2 AS (
       |  SELECT d.vec_id, c.cid,
       |    CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE) AS d2
       |  FROM kdims d JOIN kcents c USING (i) GROUP BY d.vec_id, c.cid),
       |kassign AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS arn
       |  FROM kd2),
       |nrm AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |pairs AS (
       |  SELECT p.vec_id AS va, h.vec_id AS vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM kassign p JOIN kassign h
       |    ON p.cid = h.cid AND h.arn = 1 AND p.arn <= 2
       |    AND p.vec_id <> h.vec_id
       |  JOIN nrm a ON a.vec_id = p.vec_id JOIN nrm b ON b.vec_id = h.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY p.vec_id, h.vec_id),
       |ranked AS (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM pairs)
       |SELECT va, CAST(rn AS INT) AS rn, vb AS nn, ROUND(cos, 6) AS cos
       |FROM ranked WHERE rn <= 3 ORDER BY va, rn""".stripMargin

  // ---------------------------------------------------------------- q174
  /** Binary-quantization (1-bit) search with Hamming candidate scan +
    * exact rerank ([[graft.llm.VectorSearch.binaryHammingRerank]]) —
    * the smallest-scan ANN tier completing the compression ladder:
    * float32 (q31, 256 B/vec) → SQ8 (q149, 64 B) → PQ (q115, 8 B) →
    * sign bits (16 B here as two 32-bit words, 8 B once packed into
    * one word per 64 dims). Bit i = dimension i strictly above its
    * corpus mean, decided in exact scaled-long arithmetic so both
    * engines pack identical codes; candidates = top-10 by ascending
    * Hamming distance (two XOR+popcount ops per pair), then only
    * those 10 full vectors are reranked by exact cosine. Output shape
    * matches q31/q149 for direct recall comparison.
    */
  def q174(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .binaryHammingRerank(emb(spark, sfDir), "vec_id", "embedding", m = 10, k = 3)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))

  val q174Sql: String =
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings),
       |d AS (
       |  SELECT vec_id, t.i, sv[t.i + 1] AS s
       |  FROM sv CROSS JOIN range(0, 64) t(i)),
       |st AS (SELECT i, SUM(s) AS tot, COUNT(*) AS n FROM d GROUP BY i),
       |codes AS (
       |  SELECT vec_id,
       |    BIT_OR(CASE WHEN d.i < 32 AND d.s * st.n > st.tot
       |           THEN (CAST(1 AS BIGINT) << CAST(d.i AS INTEGER))
       |           ELSE CAST(0 AS BIGINT) END) AS c0,
       |    BIT_OR(CASE WHEN d.i >= 32 AND d.s * st.n > st.tot
       |           THEN (CAST(1 AS BIGINT) << CAST(d.i - 32 AS INTEGER))
       |           ELSE CAST(0 AS BIGINT) END) AS c1
       |  FROM d JOIN st USING (i) GROUP BY vec_id),
       |ham AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) AS ham
       |  FROM codes a JOIN codes b ON a.vec_id <> b.vec_id),
       |cand AS (
       |  SELECT va, vb FROM (
       |    SELECT va, vb,
       |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY ham, vb) AS crn
       |    FROM ham) WHERE crn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |ex AS (
       |  SELECT c.va, c.vb,
       |    (${dotSqlDuck("x.embedding", "y.embedding")}) / (ANY_VALUE(x.nrm) * ANY_VALUE(y.nrm)) AS cos
       |  FROM cand c JOIN nrm x ON x.vec_id = c.va JOIN nrm y ON y.vec_id = c.vb
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY c.va, c.vb)
       |SELECT va, rn, vb, ROUND(cos, 6) AS cos FROM (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM ex) WHERE rn <= 3
       |ORDER BY va, rn""".stripMargin

  // ---------------------------------------------------------------- q175
  /** Incremental IVF+SQ8 index maintenance
    * ([[graft.llm.VectorSearch.buildIvfSq8Store]] /
    * `appendIvfSq8Batch` / `ivfSq8StoreSearch`) — the
    * incremental-maintenance counterpart for the ANN pillar, closing
    * the store family (exact-dedup q113, near-dup signatures q122,
    * k-means stats q147, connected components q155, BM25 postings
    * q159): history (80% of the corpus) builds a persisted index —
    * coarse-quantizer codebook, SQ8 range stats, per-vector home list
    * + byte codes — and the refresh batch (the other 20%) is absorbed
    * against the FROZEN codebook (FAISS-style add-after-train): two
    * tiny store reads, no history rescan, no re-coding. The search
    * then runs the batch as queries over the merged index: byte-code
    * candidate scan pruned to nprobe=2 lists, exact-cosine rerank of
    * the top-10. The oracle recomputes the whole thing from the raw
    * split — history-only codebook/stats, frozen-quantized codes for
    * everyone (out-of-range batch values clamp to the code boundary),
    * list-pruned scoring — pinning that the store lifecycle loses
    * nothing vs a from-scratch rebuild. Output shape matches
    * q149/q165 for direct comparison.
    */
  def q175(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val hist = e.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = e.where(pmod(col("vec_id"), lit(5)) === 0)
    val store = graft.Tables.scratchDir(spark, "ivfsq8", sfDir)
    // fresh store per invocation: appends are not idempotent, so a
    // re-run (bench warm-up, repeated Verify) must not double-index
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    graft.llm.VectorSearch.buildIvfSq8Store(hist, "vec_id", "embedding",
      "label", store)
    graft.llm.VectorSearch.appendIvfSq8Batch(batch, "vec_id", "embedding",
      store)
    graft.llm.VectorSearch.ivfSq8StoreSearch(e, batch, "vec_id", "embedding",
        store, m = 10, k = 3, nprobe = 2)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))
  }

  // q165's contraction with the store split: centroid/range stats are
  // HISTORY-only (vec-level, cheap), codes clamp to the frozen range,
  // and only batch members expand as queries.
  val q175Sql: String =
    s"""WITH vg AS (
       |  SELECT MIN(vec_id) AS rep, COUNT(*) AS cnt, list(vec_id) AS ids, embedding
       |  FROM embeddings GROUP BY embedding),
       |dims AS (
       |  SELECT vec_id, label, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
       |cents AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM dims WHERE vec_id % 5 <> 0 GROUP BY label, i),
       |st AS (
       |  SELECT i, MIN(x) AS mn, MAX(x) AS mx
       |  FROM dims WHERE vec_id % 5 <> 0 GROUP BY i),
       |rdims AS (
       |  SELECT rep, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM vg CROSS JOIN range(0, 64) t(i)),
       |qd AS (
       |  SELECT rep, d.i,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE GREATEST(0, LEAST(255,
       |              CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT))) END AS q
       |  FROM rdims d JOIN st USING (i)),
       |qv AS (SELECT rep, list(CAST(q AS DOUBLE) ORDER BY i) AS v FROM qd GROUP BY rep),
       |rd2 AS (
       |  SELECT d.rep, c.label,
       |    CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE) AS d2
       |  FROM rdims d JOIN cents c USING (i) GROUP BY d.rep, c.label),
       |rassign AS (
       |  SELECT rep, label,
       |    ROW_NUMBER() OVER (PARTITION BY rep ORDER BY d2, label) AS arn
       |  FROM rd2),
       |gs AS (
       |  SELECT p.rep AS ga, h.rep AS gb,
       |    CAST(list_dot_product(a.v, b.v) AS BIGINT) AS score
       |  FROM rassign p JOIN rassign h
       |    ON p.label = h.label AND h.arn = 1 AND p.arn <= 2
       |  JOIN qv a ON a.rep = p.rep JOIN qv b ON b.rep = h.rep),
       |gc AS (
       |  SELECT ga, gb, score,
       |    CASE WHEN ga = gb THEN vb.cnt - 1 ELSE vb.cnt END AS eff
       |  FROM gs JOIN vg vb ON vb.rep = gb
       |  WHERE NOT (ga = gb AND vb.cnt = 1)),
       |lvl AS (SELECT ga, score, SUM(eff) AS ecnt FROM gc GROUP BY ga, score),
       |lvl2 AS (SELECT ga, score,
       |    COALESCE(SUM(ecnt) OVER (PARTITION BY ga ORDER BY score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS hc
       |  FROM lvl),
       |keep AS (SELECT gc.ga, gc.gb, gc.score FROM gc
       |         JOIN lvl2 ON lvl2.ga = gc.ga AND lvl2.score = gc.score
       |         WHERE lvl2.hc <= 10),
       |mem AS (SELECT rep, unnest(ids) AS vec_id FROM vg),
       |cand AS (
       |  SELECT va, vb FROM (
       |    SELECT ma.vec_id AS va, mb.vec_id AS vb,
       |      ROW_NUMBER() OVER (PARTITION BY ma.vec_id ORDER BY k.score DESC, mb.vec_id) AS crn
       |    FROM keep k JOIN mem ma ON ma.rep = k.ga JOIN mem mb ON mb.rep = k.gb
       |    WHERE ma.vec_id <> mb.vec_id AND ma.vec_id % 5 = 0) WHERE crn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |ex AS (
       |  SELECT c.va, c.vb,
       |    (${dotSqlDuck("x.embedding", "y.embedding")}) / (ANY_VALUE(x.nrm) * ANY_VALUE(y.nrm)) AS cos
       |  FROM cand c JOIN nrm x ON x.vec_id = c.va JOIN nrm y ON y.vec_id = c.vb
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY c.va, c.vb)
       |SELECT va, rn, vb, ROUND(cos, 6) AS cos FROM (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM ex) WHERE rn <= 3
       |ORDER BY va, rn""".stripMargin

  // ---------------------------------------------------------------- q183
  /** STREAMING ANN index maintenance — q171's store-maintenance
    * pattern applied to the q175 IVF+SQ8 index: history (vec_id % 5
    * ≠ 0) builds the persisted index, then the refresh flow (the
    * remaining 20%, staged as two mtime-ordered parquet files) is
    * consumed as a file-source stream whose `foreachBatch` absorbs
    * each micro-batch against the FROZEN codebook with the
    * batchId-scoped idempotent append and runs the write-then-swap
    * compaction INSIDE the loop — the store never sprawls more than
    * one uncompacted batch. The cycle is self-healing under replay:
    * a crash between append and checkpoint-commit replays the batch
    * after compaction has flattened its `_SUCCESS` marker, so the
    * re-append double-indexes — and the next compaction's
    * first-row-wins vid dedup removes the duplicates again (codes
    * are deterministic under the frozen codebook, so dropped rows
    * are byte-identical). `IvfStoreSpec` pins exactly that cycle.
    *
    * After the drain, the absorbed batch runs as queries over the
    * merged index. The final store is semantically identical to
    * q175's single-append build — frozen history codebook/stats,
    * history ∪ batch indexed — so the oracle IS q175's: the
    * streaming lifecycle must lose nothing vs the batch one.
    */
  def q183(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}
    val e = emb(spark, sfDir)
    val base = graft.Tables.scratchDir(spark, "ivfstream", sfDir)
    val stager = graft.streaming.FileStager(spark, base)
    val srcDir = stager.srcDir
    val now = System.currentTimeMillis()
    stager.stage(e.where(pmod(col("vec_id"), lit(10)) === 0), "batch1", now - 60000)
    stager.stage(e.where(pmod(col("vec_id"), lit(10)) === 5), "batch2", now - 30000)
    val store = s"$base/store"
    graft.llm.VectorSearch.buildIvfSq8Store(
      e.where(pmod(col("vec_id"), lit(5)) =!= 0), "vec_id", "embedding",
      "label", store)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false),
      StructField("label", IntegerType, nullable = false)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.llm.VectorSearch.appendIvfSq8Batch(batch, "vec_id",
          "embedding", store, batchId = Some(bid))
        graft.llm.VectorSearch.compactIvfSq8Store(batch.sparkSession, store)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.llm.VectorSearch.ivfSq8StoreSearch(e,
        e.where(pmod(col("vec_id"), lit(5)) === 0), "vec_id", "embedding",
        store, m = 10, k = 3, nprobe = 2)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))
  }

  // ---------------------------------------------------------------- q181
  /** IVF-pruned binary-Hamming search
    * ([[graft.llm.VectorSearch.binaryHammingIvfRerank]]) — the
    * production tier of the 1-bit ladder, composing q174's sign-bit
    * quantization with the coarse quantizer exactly as q165 composed
    * SQ8 with IVF: codes pack into ONE 64-bit word per vector (8 B —
    * half of q174's two 32-bit words; bit 63 rides the BIGINT sign
    * bit, which XOR/popcount treat as a flat bit in both engines),
    * and the Hamming scan is pruned to the nprobe=2 nearest inverted
    * lists instead of the whole corpus. Candidates = top-10 by
    * ascending Hamming distance (ties toward the smaller id), then
    * exact-cosine rerank of those 10. q174 stays as the declared
    * corpus-wide baseline; output shape matches q165/q174 for direct
    * recall comparison.
    */
  def q181(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .binaryHammingIvfRerank(emb(spark, sfDir), "vec_id", "embedding",
        "label", m = 10, k = 3, nprobe = 2)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))

  val q181Sql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, label, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
       |cents AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM dims GROUP BY label, i),
       |d2 AS (
       |  SELECT d.vec_id, c.label,
       |    CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE) AS d2
       |  FROM dims d JOIN cents c USING (i) GROUP BY d.vec_id, c.label),
       |assign AS (
       |  SELECT vec_id, label,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, label) AS arn
       |  FROM d2),
       |sv AS (
       |  SELECT vec_id, list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings),
       |d AS (
       |  SELECT vec_id, t.i, sv[t.i + 1] AS s
       |  FROM sv CROSS JOIN range(0, 64) t(i)),
       |st AS (SELECT i, SUM(s) AS tot, COUNT(*) AS n FROM d GROUP BY i),
       |codes AS (
       |  SELECT vec_id,
       |    BIT_OR(CASE WHEN d.s * st.n > st.tot
       |           THEN CASE WHEN d.i = 63 THEN (-9223372036854775807 - 1)
       |                ELSE (CAST(1 AS BIGINT) << CAST(d.i AS INTEGER)) END
       |           ELSE CAST(0 AS BIGINT) END) AS code
       |  FROM d JOIN st USING (i) GROUP BY vec_id),
       |ham AS (
       |  SELECT p.vec_id AS va, h.vec_id AS vb,
       |    bit_count(xor(a.code, b.code)) AS ham
       |  FROM assign p JOIN assign h
       |    ON p.label = h.label AND h.arn = 1 AND p.arn <= 2
       |    AND p.vec_id <> h.vec_id
       |  JOIN codes a ON a.vec_id = p.vec_id
       |  JOIN codes b ON b.vec_id = h.vec_id),
       |cand AS (
       |  SELECT va, vb FROM (
       |    SELECT va, vb,
       |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY ham, vb) AS crn
       |    FROM ham) WHERE crn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |ex AS (
       |  SELECT c.va, c.vb,
       |    (${dotSqlDuck("x.embedding", "y.embedding")}) / (ANY_VALUE(x.nrm) * ANY_VALUE(y.nrm)) AS cos
       |  FROM cand c JOIN nrm x ON x.vec_id = c.va JOIN nrm y ON y.vec_id = c.vb
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY c.va, c.vb)
       |SELECT va, rn, vb, ROUND(cos, 6) AS cos FROM (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM ex) WHERE rn <= 3
       |ORDER BY va, rn""".stripMargin

  // ---------------------------------------------------------------- q192
  /** IVF-pruned product-quantization search + exact rerank
    * ([[graft.llm.VectorSearch.pqIvfRerank]]) — the IVFPQ composition
    * (Jégou 2011 §IV, the production FAISS shape) completing the
    * quantization ladder's composed tiers: q165 = IVF+SQ8 (64 B
    * codes), q181 = IVF+sign-bit (8 B), q192 = IVF+PQ (4 small-int
    * codes), all three behind the same salted candidate scaffolding.
    * The q57 coarse quantizer prunes to nprobe=2 lists; within them
    * pairs rank by symmetric PQ distance — 4 lookups into the
    * driver-computed 4×4 inter-centroid tables, no vector arithmetic
    * in the scan; the top-10 rerank with the exact cosine. The oracle
    * re-derives the four codebooks (q115's training CTEs), re-encodes
    * the distinct vectors, rebuilds the SDC tables, and replays the
    * probe-list candidate generation in q165's contracted form.
    * Output shape matches q165/q181 for direct recall comparison.
    */
  def q192(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .pqIvfRerank(emb(spark, sfDir), "vec_id", "embedding", "label",
        mSub = 4, kCode = 4, passes = 2, m = 10, k = 3, nprobe = 2)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))

  val q192Sql: String = {
    val m = 4; val sub = 16
    // per-subspace codebook training CONTRACTED to distinct vectors
    // with multiplicity weights (the q149/q165 oracle style): Lloyd
    // assignment is a pure function of the vector, and the weighted
    // mean Σ cnt·sv / Σ cnt is integer-identical to the row-level
    // mean — lossless at every scale, and the quadratic-ish training
    // CTEs run over reps instead of the replicated corpus (the
    // vec-level form stacked on the candidate stage timed out the
    // 600 s sf1 oracle budget)
    def bookCtes(s: Int): String = {
      val lo = s * sub + 1; val hi = (s + 1) * sub
      s"""rsv$s AS (SELECT rep, cnt, sv[$lo:$hi] AS sv FROM rsvq),
         |c0$s AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid,
         |    sv[$lo:$hi] AS m
         |  FROM seed),
         |d1$s AS (
         |  SELECT v.rep, v.cnt, c.cid,
         |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
         |  FROM rsv$s v CROSS JOIN c0$s c CROSS JOIN range(0, $sub) r(i)
         |  GROUP BY v.rep, v.cnt, c.cid),
         |a1$s AS (
         |  SELECT rep, cnt, cid FROM (
         |    SELECT rep, cnt, cid,
         |      ROW_NUMBER() OVER (PARTITION BY rep ORDER BY d2, cid) AS rn
         |    FROM d1$s) WHERE rn = 1),
         |cb$s AS (
         |  SELECT CAST(row_number() OVER (ORDER BY cid) AS INT) AS pos, m FROM (
         |    SELECT cid, list(mm ORDER BY d) AS m FROM (
         |      SELECT a.cid, r.i AS d,
         |        CAST(SUM(v.sv[r.i+1] * a.cnt) AS BIGINT)
         |          // CAST(SUM(a.cnt) AS BIGINT) AS mm
         |      FROM a1$s a JOIN rsv$s v USING (rep) CROSS JOIN range(0, $sub) r(i)
         |      GROUP BY a.cid, r.i)
         |    GROUP BY cid)),
         |tab$s AS (
         |  SELECT a.pos AS pa, b.pos AS pb,
         |    CAST(SUM((a.m[i+1] - b.m[i+1]) * (a.m[i+1] - b.m[i+1])) AS BIGINT) AS d
         |  FROM cb$s a CROSS JOIN cb$s b CROSS JOIN range(0, $sub) r(i)
         |  GROUP BY a.pos, b.pos),
         |rdc$s AS (
         |  SELECT v.rep, c.pos,
         |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
         |  FROM rsv$s v CROSS JOIN cb$s c CROSS JOIN range(0, $sub) r(i)
         |  GROUP BY v.rep, c.pos),
         |rcode$s AS (
         |  SELECT rep, pos AS k$s FROM (
         |    SELECT rep, pos,
         |      ROW_NUMBER() OVER (PARTITION BY rep ORDER BY d2, pos) AS rn
         |    FROM rdc$s) WHERE rn = 1)""".stripMargin
    }
    val rcodeJoins = (1 until m)
      .map(s => s"JOIN rcode$s r$s USING (rep)").mkString(" ")
    val codeSel = (0 until m).map(s => s"r$s.k$s").mkString(", ")
    val tabJoins = (0 until m)
      .map(s => s"JOIN tab$s t$s ON t$s.pa = ca.k$s AND t$s.pb = cdb.k$s")
      .mkString("\n  ")
    val sdcSum = (0 until m).map(s => s"t$s.d").mkString(" + ")
    s"""WITH vg AS (
       |  SELECT MIN(vec_id) AS rep, COUNT(*) AS cnt, list(vec_id) AS ids, embedding
       |  FROM embeddings GROUP BY embedding),
       |rsvq AS (
       |  SELECT rep, cnt, list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM vg),
       |mem AS (SELECT rep, unnest(ids) AS vec_id FROM vg),
       |seed AS (
       |  SELECT m.vec_id, r.sv FROM mem m JOIN rsvq r USING (rep)
       |  ORDER BY m.vec_id LIMIT 4),
       |dims AS (
       |  SELECT vec_id, label, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
       |cents AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM dims GROUP BY label, i),
       |rdims AS (
       |  SELECT rep, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM vg CROSS JOIN range(0, 64) t(i)),
       |rd2 AS (
       |  SELECT d.rep, c.label,
       |    CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE) AS d2
       |  FROM rdims d JOIN cents c USING (i) GROUP BY d.rep, c.label),
       |rassign AS (
       |  SELECT rep, label,
       |    ROW_NUMBER() OVER (PARTITION BY rep ORDER BY d2, label) AS arn
       |  FROM rd2),
       |${(0 until m).map(bookCtes).mkString(",\n")},
       |rcodes AS (SELECT r0.rep, $codeSel FROM rcode0 r0 $rcodeJoins),
       |gs AS (
       |  SELECT p.rep AS ga, h.rep AS gb, -($sdcSum) AS score
       |  FROM rassign p JOIN rassign h
       |    ON p.label = h.label AND h.arn = 1 AND p.arn <= 2
       |  JOIN rcodes ca ON ca.rep = p.rep
       |  JOIN rcodes cdb ON cdb.rep = h.rep
       |  $tabJoins),
       |gc AS (
       |  SELECT ga, gb, score,
       |    CASE WHEN ga = gb THEN vb.cnt - 1 ELSE vb.cnt END AS eff
       |  FROM gs JOIN vg vb ON vb.rep = gb
       |  WHERE NOT (ga = gb AND vb.cnt = 1)),
       |lvl AS (SELECT ga, score, SUM(eff) AS ecnt FROM gc GROUP BY ga, score),
       |lvl2 AS (SELECT ga, score,
       |    COALESCE(SUM(ecnt) OVER (PARTITION BY ga ORDER BY score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS hc
       |  FROM lvl),
       |keep AS (SELECT gc.ga, gc.gb, gc.score FROM gc
       |         JOIN lvl2 ON lvl2.ga = gc.ga AND lvl2.score = gc.score
       |         WHERE lvl2.hc <= 10),
       |cand AS (
       |  SELECT va, vb FROM (
       |    SELECT ma.vec_id AS va, mb.vec_id AS vb,
       |      ROW_NUMBER() OVER (PARTITION BY ma.vec_id ORDER BY k.score DESC, mb.vec_id) AS crn
       |    FROM keep k JOIN mem ma ON ma.rep = k.ga JOIN mem mb ON mb.rep = k.gb
       |    WHERE ma.vec_id <> mb.vec_id) WHERE crn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |ex AS (
       |  SELECT c.va, c.vb,
       |    (${dotSqlDuck("x.embedding", "y.embedding")}) / (ANY_VALUE(x.nrm) * ANY_VALUE(y.nrm)) AS cos
       |  FROM cand c JOIN nrm x ON x.vec_id = c.va JOIN nrm y ON y.vec_id = c.vb
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY c.va, c.vb)
       |SELECT va, rn, vb, ROUND(cos, 6) AS cos FROM (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM ex) WHERE rn <= 3
       |ORDER BY va, rn""".stripMargin
  }

  // ---------------------------------------------------------------- q151
  /** Weighted majority-vote label aggregation with annotator
    * reliability (one deterministic round of the Dawid–Skene EM
    * shape): five synthetic annotators with hash-derived error rates
    * 10%–50% each label every item; round 1 takes the per-item
    * majority (ties → smaller label), annotator weight = #items in
    * agreement with that majority; round 2 revotes with those integer
    * weights. Output: per annotator, the round-1 weight and round-2
    * agreement count — the reliability ranking a crowd-label pipeline
    * uses to prune annotators before training.
    *
    * Scale design: label generation is an in-row ×5 explode (no join);
    * both vote rounds shuffle on `vec_id` only; the 5-row weights
    * table broadcasts back onto the obs stream. All arithmetic is
    * integer — engine-exact.
    */
  def q151(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val obs = emb(spark, sfDir)
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        explode(sequence(lit(0), lit(4))).as("a"))
      .withColumn("err",
        pmod(col("vec_id") * lit(1103515245L) + col("a") * lit(12345L), lit(100L)))
      .withColumn("shift",
        pmod(col("vec_id") * lit(69069L) + col("a") * lit(363L), lit(9L)) + 1)
      .withColumn("obs",
        when(col("err") < (col("a") + 1) * 10,
          pmod(col("label") + col("shift"), lit(10L)))
          .otherwise(col("label")))
      .select(col("vec_id"), col("a"), col("obs"))
    val byItem = Window.partitionBy(col("vec_id"))
    val maj = obs.groupBy(col("vec_id"), col("obs")).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(byItem.orderBy(col("c").desc, col("obs"))))
      .where(col("rn") === 1).select(col("vec_id"), col("obs").as("maj"))
    val weights = obs.join(maj, "vec_id")
      .groupBy(col("a"))
      .agg(sum(when(col("obs") === col("maj"), 1).otherwise(0))
        .cast(LongType).as("weight"))
    val wmaj = obs.join(broadcast(weights), "a")
      .groupBy(col("vec_id"), col("obs")).agg(sum(col("weight")).as("w"))
      .withColumn("rn", row_number().over(byItem.orderBy(col("w").desc, col("obs"))))
      .where(col("rn") === 1).select(col("vec_id"), col("obs").as("wmaj"))
    obs.join(wmaj, "vec_id")
      .groupBy(col("a"))
      .agg(sum(when(col("obs") === col("wmaj"), 1).otherwise(0))
        .cast(LongType).as("n_agree_weighted"))
      .join(weights, "a")
      .select(col("a").cast(IntegerType).as("annotator"), col("weight"),
        col("n_agree_weighted"))
      .orderBy(col("annotator"))
  }

  val q151Sql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(t.a AS INT) AS a
      |  FROM embeddings CROSS JOIN (SELECT UNNEST(range(0, 5)) AS a) t),
      |obs AS (
      |  SELECT vec_id, a,
      |    CASE WHEN (vec_id * 1103515245 + a * 12345) % 100 < (a + 1) * 10
      |         THEN (label + 1 + (vec_id * 69069 + a * 363) % 9) % 10
      |         ELSE label END AS obs
      |  FROM base),
      |maj AS (
      |  SELECT vec_id, obs AS maj FROM (
      |    SELECT vec_id, obs, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY COUNT(*) DESC, obs) AS rn
      |    FROM obs GROUP BY vec_id, obs) WHERE rn = 1),
      |wts AS (
      |  SELECT a, CAST(SUM(CASE WHEN obs = maj THEN 1 ELSE 0 END) AS BIGINT) AS weight
      |  FROM obs JOIN maj USING (vec_id) GROUP BY a),
      |wmaj AS (
      |  SELECT vec_id, obs AS wmaj FROM (
      |    SELECT vec_id, obs, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY SUM(weight) DESC, obs) AS rn
      |    FROM obs JOIN wts USING (a) GROUP BY vec_id, obs) WHERE rn = 1)
      |SELECT a AS annotator, ANY_VALUE(weight) AS weight,
      |  CAST(SUM(CASE WHEN obs = wmaj THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_weighted
      |FROM obs JOIN wmaj USING (vec_id) JOIN wts USING (a)
      |GROUP BY a ORDER BY annotator""".stripMargin

  // ---------------------------------------------------------------- q167
  /** Fleiss' kappa over q151's synthetic annotator stream
    * ([[graft.operators.Agreement.fleissKappa]]) — the
    * chance-corrected inter-annotator agreement that decides whether
    * crowd labels are trainable at all, BEFORE q151's weighted vote
    * decides which label to keep. Five deterministic annotators with
    * 10%–50% hash-derived error rates label every embedding; the
    * operator reduces the stream to exact integer cell counts and
    * evaluates P_o, P_e, κ with one rounding per output.
    *
    * Scale design: one (item, label)-keyed shuffle, then
    * categories-sized and 1-row aggregates — no window, no per-item
    * state; the synthetic labeling itself is an in-row ×5 explode.
    */
  def q167(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val obs = emb(spark, sfDir)
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        explode(sequence(lit(0), lit(4))).as("a"))
      .withColumn("err",
        pmod(col("vec_id") * lit(1103515245L) + col("a") * lit(12345L), lit(100L)))
      .withColumn("shift",
        pmod(col("vec_id") * lit(69069L) + col("a") * lit(363L), lit(9L)) + 1)
      .withColumn("obs",
        when(col("err") < (col("a") + 1) * 10,
          pmod(col("label") + col("shift"), lit(10L)))
          .otherwise(col("label")))
      .select(col("vec_id"), col("obs"))
    graft.operators.Agreement.fleissKappa(obs, "vec_id", "obs", nRaters = 5)
  }

  val q167Sql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(t.a AS INT) AS a
      |  FROM embeddings CROSS JOIN (SELECT UNNEST(range(0, 5)) AS a) t),
      |obs AS (
      |  SELECT vec_id, a,
      |    CASE WHEN (vec_id * 1103515245 + a * 12345) % 100 < (a + 1) * 10
      |         THEN (label + 1 + (vec_id * 69069 + a * 363) % 9) % 10
      |         ELSE label END AS obs
      |  FROM base),
      |cells AS (SELECT vec_id, obs, COUNT(*) AS nij FROM obs GROUP BY vec_id, obs),
      |istats AS (
      |  SELECT CAST(SUM(nij * nij) AS DOUBLE) AS sum_sq,
      |         CAST(SUM(nij) AS DOUBLE) AS t_obs
      |  FROM cells),
      |cstats AS (
      |  SELECT CAST(SUM(CAST(cj AS HUGEINT) * cj) AS DOUBLE) AS sum_cj2,
      |         COUNT(*) AS n_cats
      |  FROM (SELECT obs, SUM(nij) AS cj FROM cells GROUP BY obs))
      |SELECT CAST(t_obs / 5 AS BIGINT) AS n_items,
      |  CAST(n_cats AS INT) AS n_cats,
      |  ROUND((sum_sq - t_obs) / (t_obs * 4.0), 6) AS po,
      |  ROUND(sum_cj2 / (t_obs * t_obs), 6) AS pe,
      |  ROUND(((sum_sq - t_obs) / (t_obs * 4.0) - sum_cj2 / (t_obs * t_obs))
      |        / (1.0 - sum_cj2 / (t_obs * t_obs)), 6) AS kappa
      |FROM istats CROSS JOIN cstats""".stripMargin

  // ---------------------------------------------------------------- q154
  /** Matryoshka truncation evaluation: recall@3 of brute-force search
    * on the FIRST 16 of 64 dimensions against the full-dimension
    * exact top-3 — the measurement that justifies serving truncated
    * (matryoshka) embeddings at scale, where a prefix scan reads 4×
    * fewer bytes exactly like SQ8 reads 4× fewer than float32. Both
    * sides are the declared-quadratic exact baseline (q31/q134's
    * allowlisted shape); the division is exact-integer-over-integer.
    */
  def q154(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val full = graft.llm.VectorSearch
      .cosineTopK(e, "vec_id", "embedding", k = 3)
      .select(col("va"), col("vb"))
    val pre = graft.llm.VectorSearch
      .cosineTopK(e.withColumn("emb16", slice(col("embedding"), 1, 16)),
        "vec_id", "emb16", k = 3)
      .select(col("va"), col("vb"), lit(1).as("hit"))
    full.join(pre, Seq("va", "vb"), "left")
      .agg(
        lit(3).cast(org.apache.spark.sql.types.IntegerType).as("k"),
        countDistinct(col("va")).as("n_queries"),
        round(sum(coalesce(col("hit"), lit(0))) /
          (lit(3.0) * countDistinct(col("va"))), 6).as("recall"))
  }

  val q154Sql: String = {
    val dot16 =
      "CAST(SUM(CAST(round(CAST(%s[i+1] AS DOUBLE) * CAST(%s[i+1] AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12"
    s"""WITH nrmF AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |fp AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM nrmF a JOIN nrmF b ON a.vec_id <> b.vec_id
       |  CROSS JOIN range(0, 64) t(i) GROUP BY 1, 2),
       |f3 AS (SELECT va, vb FROM (
       |  SELECT va, vb, ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM fp) WHERE rn <= 3),
       |nrmP AS (
       |  SELECT vec_id, embedding, sqrt(${dot16.format("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 16) t(i) GROUP BY vec_id, embedding),
       |pp AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    (${dot16.format("a.embedding", "b.embedding")}) / (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM nrmP a JOIN nrmP b ON a.vec_id <> b.vec_id
       |  CROSS JOIN range(0, 16) t(i) GROUP BY 1, 2),
       |p3 AS (SELECT va, vb FROM (
       |  SELECT va, vb, ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM pp) WHERE rn <= 3)
       |SELECT CAST(3 AS INT) AS k,
       |  (SELECT COUNT(DISTINCT va) FROM f3) AS n_queries,
       |  ROUND((SELECT COUNT(*) FROM f3 JOIN p3 USING (va, vb)) /
       |        (3.0 * (SELECT COUNT(DISTINCT va) FROM f3)), 6) AS recall""".stripMargin
  }

  // ---------------------------------------------------------------- q193
  /** MMR diversified top-k ([[graft.llm.VectorSearch.mmrSelect]] —
    * Carbonell & Goldstein, SIGIR 1998): the smallest-id vector is
    * the query, its 20 nearest candidates (exact lattice L2) are the
    * pool, and 5 results are picked greedily maximizing the λ = 1/2
    * MMR objective ×2 = `min_{s∈S} d2(d,s) − d2(q,d)` in exact long
    * arithmetic (first pick = most relevant). The oracle re-derives
    * the pool and unrolls all five greedy rounds (the q130 style),
    * so the selection ORDER — not just the set — is hash-checked.
    */
  def q193(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .mmrSelect(emb(spark, sfDir), "vec_id", "embedding", n = 20, k = 5)
      .orderBy(col("round"))

  val q193Sql: String = {
    val n = 20; val k = 5
    val sb = new StringBuilder
    sb.append(s"""WITH sv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
      |  FROM embeddings),
      |q AS (SELECT vec_id, sv FROM sv ORDER BY vec_id LIMIT 1),
      |dq AS (
      |  SELECT v.vec_id,
      |    CAST(SUM((v.sv[i+1] - q.sv[i+1]) * (v.sv[i+1] - q.sv[i+1])) AS BIGINT) AS d2q
      |  FROM sv v CROSS JOIN q CROSS JOIN range(0, 64) t(i)
      |  WHERE v.vec_id <> q.vec_id GROUP BY v.vec_id),
      |pool AS (SELECT vec_id, d2q FROM dq ORDER BY d2q, vec_id LIMIT $n),
      |psv AS (SELECT p.vec_id, p.d2q, s.sv FROM pool p JOIN sv s USING (vec_id)),
      |pd AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    CAST(SUM((a.sv[i+1] - b.sv[i+1]) * (a.sv[i+1] - b.sv[i+1])) AS BIGINT) AS d2
      |  FROM psv a JOIN psv b ON a.vec_id <> b.vec_id CROSS JOIN range(0, 64) t(i)
      |  GROUP BY a.vec_id, b.vec_id),
      |p1 AS (SELECT vec_id, d2q, CAST(0 AS BIGINT) AS dv
      |       FROM pool ORDER BY d2q, vec_id LIMIT 1)""".stripMargin)
    for (r <- 2 to k) {
      val selset = (1 until r).map(i => s"SELECT vec_id FROM p$i")
        .mkString(" UNION ALL ")
      sb.append(s""",
        |p$r AS (
        |  SELECT vec_id, d2q, dv FROM (
        |    SELECT p.vec_id AS vec_id, p.d2q AS d2q, MIN(pd.d2) AS dv
        |    FROM pool p JOIN pd ON pd.ia = p.vec_id AND pd.ib IN ($selset)
        |    WHERE p.vec_id NOT IN ($selset)
        |    GROUP BY p.vec_id, p.d2q)
        |  ORDER BY (dv - d2q) DESC, vec_id LIMIT 1)""".stripMargin)
    }
    sb.append((1 to k)
      .map(r => s"SELECT $r AS round, vec_id, d2q AS rel_d2, dv AS div_d2 FROM p$r")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY round"))
    sb.toString
  }

  /** q165's contracted IVF+SQ8 oracle, parameterized by a candidate
    * (member) predicate and a query predicate — the shared oracle
    * behind the filtered-search (q196) and store-deletion (q195)
    * variants. `queryIsMember` states whether every query satisfies
    * the member predicate (then a query's own group loses one
    * candidate to self-exclusion) or the two slices are disjoint
    * (then self-exclusion never fires). The codebook, SQ8 stats and
    * assignments are always FULL-corpus — one shared index serves
    * every filter, and deletion does not retrain (see
    * [[graft.llm.VectorSearch.deleteFromIvfStore]]).
    */
  private def ivfSq8FilteredSql(memberPred: String, queryPred: String,
                                queryIsMember: Boolean): String =
    s"""${ivfSq8FilteredCtes(memberPred, queryPred, queryIsMember)}
       |SELECT va, rn, vb, ROUND(cos, 6) AS cos FROM (
       |  SELECT va, vb, cos,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
       |  FROM ex) WHERE rn <= 3
       |ORDER BY va, rn""".stripMargin

  /** The WITH chain of [[ivfSq8FilteredSql]] up to `ex` (va, vb, cos —
    * the exact cosine of every surviving top-10 candidate pair), so
    * composed oracles (q201's MMR rounds) can extend it. */
  private def ivfSq8FilteredCtes(memberPred: String, queryPred: String,
                                 queryIsMember: Boolean): String = {
    val (effExpr, gcWhere) =
      if (queryIsMember)
        ("CASE WHEN ga = gb THEN f.fcnt - 1 ELSE f.fcnt END",
          "WHERE NOT (ga = gb AND f.fcnt = 1)")
      else ("f.fcnt", "")
    s"""WITH vg AS (
       |  SELECT MIN(vec_id) AS rep, COUNT(*) AS cnt, list(vec_id) AS ids, embedding
       |  FROM embeddings GROUP BY embedding),
       |mem AS (SELECT rep, unnest(ids) AS vec_id FROM vg),
       |fmem AS (SELECT rep, vec_id FROM mem WHERE $memberPred),
       |fct AS (SELECT rep, COUNT(*) AS fcnt FROM fmem GROUP BY rep),
       |dims AS (
       |  SELECT vec_id, label, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
       |cents AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM dims GROUP BY label, i),
       |st AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY i),
       |rdims AS (
       |  SELECT rep, t.i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM vg CROSS JOIN range(0, 64) t(i)),
       |rd2 AS (
       |  SELECT d.rep, c.label,
       |    CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,12))) AS DOUBLE) AS d2
       |  FROM rdims d JOIN cents c USING (i) GROUP BY d.rep, c.label),
       |rassign AS (
       |  SELECT rep, label,
       |    ROW_NUMBER() OVER (PARTITION BY rep ORDER BY d2, label) AS arn
       |  FROM rd2),
       |qd AS (
       |  SELECT rep, d.i,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT) END AS q
       |  FROM rdims d JOIN st USING (i)),
       |qv AS (SELECT rep, list(CAST(q AS DOUBLE) ORDER BY i) AS v FROM qd GROUP BY rep),
       |gs AS (
       |  SELECT p.rep AS ga, h.rep AS gb,
       |    CAST(list_dot_product(a.v, b.v) AS BIGINT) AS score
       |  FROM rassign p JOIN rassign h
       |    ON p.label = h.label AND h.arn = 1 AND p.arn <= 2
       |  JOIN qv a ON a.rep = p.rep JOIN qv b ON b.rep = h.rep),
       |gc AS (
       |  SELECT ga, gb, score, $effExpr AS eff
       |  FROM gs JOIN fct f ON f.rep = gb
       |  $gcWhere),
       |lvl AS (SELECT ga, score, SUM(eff) AS ecnt FROM gc GROUP BY ga, score),
       |lvl2 AS (SELECT ga, score,
       |    COALESCE(SUM(ecnt) OVER (PARTITION BY ga ORDER BY score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS hc
       |  FROM lvl),
       |keep AS (SELECT gc.ga, gc.gb, gc.score FROM gc
       |         JOIN lvl2 ON lvl2.ga = gc.ga AND lvl2.score = gc.score
       |         WHERE lvl2.hc <= 10),
       |cand AS (
       |  SELECT va, vb FROM (
       |    SELECT ma.vec_id AS va, mb.vec_id AS vb,
       |      ROW_NUMBER() OVER (PARTITION BY ma.vec_id ORDER BY k.score DESC, mb.vec_id) AS crn
       |    FROM keep k JOIN mem ma ON ma.rep = k.ga JOIN fmem mb ON mb.rep = k.gb
       |    WHERE ma.vec_id <> mb.vec_id AND ($queryPred)) WHERE crn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id, embedding),
       |ex AS (
       |  SELECT c.va, c.vb,
       |    (${dotSqlDuck("x.embedding", "y.embedding")}) / (ANY_VALUE(x.nrm) * ANY_VALUE(y.nrm)) AS cos
       |  FROM cand c JOIN nrm x ON x.vec_id = c.va JOIN nrm y ON y.vec_id = c.vb
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY c.va, c.vb)""".stripMargin
  }

  // ---------------------------------------------------------------- q195
  /** Right-to-be-forgotten deletion from the persisted ANN index
    * ([[graft.llm.VectorSearch.deleteFromIvfStore]]) — q190's RTBF
    * contract applied to the vector store: the full corpus builds a
    * q175-style IVF+SQ8 index, a forget-set (vec_id ≡ 3 mod 7) is
    * deleted by anti-join + write-then-swap rewrite of `codes/`, and
    * the post-deletion search (queries = the vec_id ≡ 0 mod 5 slice
    * minus forgotten) must behave as if the forgotten vectors were
    * never indexed — no forgotten id may appear as a neighbor, and no
    * candidate slot may be consumed by one. The codebook and SQ8
    * stats are retained aggregates (model parameters, not per-subject
    * rows — the scaladoc's RTBF boundary), so the oracle trains on
    * the FULL corpus and filters only the candidate membership.
    */
  def q195(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val forget = e.where(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"))
    val store = graft.Tables.scratchDir(spark, "ivfrtbf", sfDir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    graft.llm.VectorSearch.buildIvfSq8Store(e, "vec_id", "embedding",
      "label", store)
    graft.llm.VectorSearch.deleteFromIvfStore(spark, store, forget)
    val kept = e.where(pmod(col("vec_id"), lit(7)) =!= 3)
    val queries = kept.where(pmod(col("vec_id"), lit(5)) === 0)
    graft.llm.VectorSearch.ivfSq8StoreSearch(kept, queries, "vec_id",
        "embedding", store, m = 10, k = 3, nprobe = 2)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))
  }

  val q195Sql: String = ivfSq8FilteredSql(
    memberPred = "vec_id % 7 <> 3",
    queryPred = "ma.vec_id % 5 = 0 AND ma.vec_id % 7 <> 3",
    queryIsMember = true)

  // ---------------------------------------------------------------- q196
  /** Attribute-filtered ANN search
    * ([[graft.llm.VectorSearch.sq8IvfFilteredRerank]]) — the
    * tenant/ACL-scoped vector-search verb: queries from the
    * vec_id ≡ 0 mod 3 slice search ONLY the vec_id ≡ 1 mod 3
    * sub-catalog, with the predicate applied as a PRE-FILTER inside
    * the candidate scan (top-10 among MATCHING vectors, then exact
    * rerank) — the recall-preserving side of the pre-vs-post-filter
    * design choice the operator's scaladoc spells out. One shared
    * full-corpus index serves the filter; only the scan is scoped.
    */
  def q196(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .sq8IvfFilteredRerank(emb(spark, sfDir), "vec_id", "embedding", "label",
        queryPred = pmod(col("vec_id"), lit(3)) === 0,
        catalogPred = pmod(col("vec_id"), lit(3)) === 1,
        m = 10, k = 3, nprobe = 2)
      .select(col("va"), col("rn"), col("vb"), round(col("cos"), 6).as("cos"))
      .orderBy(col("va"), col("rn"))

  val q196Sql: String = ivfSq8FilteredSql(
    memberPred = "vec_id % 3 = 1",
    queryPred = "ma.vec_id % 3 = 0",
    queryIsMember = false)

  // ---------------------------------------------------------------- q201
  /** BATCH MMR serving ([[graft.llm.VectorSearch.mmrSelectBatch]]) —
    * q193's diversification run distributed over a whole query slice
    * at once (vec_id ≡ 0 mod 50): each query's 10 IVF+SQ8 candidates
    * arrive exact-cosine-ranked, the m² pairwise candidate cosines
    * are computed once, and three greedy rounds pick per query the
    * λ = 1/2 MMR argmax through bounded per-query windows — the
    * result-page de-crowding pass a retrieval stack runs after ANN,
    * at ANN's own scale. The oracle extends q165's contracted CTE
    * chain (shared via the filtered builder) with the pair matrix
    * and three unrolled selection rounds, so the per-query selection
    * ORDER is hash-checked across every query of the slice.
    */
  def q201(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.VectorSearch
      .mmrSelectBatch(emb(spark, sfDir), "vec_id", "embedding", "label",
        queryPred = pmod(col("vec_id"), lit(50)) === 0,
        m = 10, rounds = 3, nprobe = 2)
      .orderBy(col("va"), col("round"))

  val q201Sql: String = {
    val ctes = ivfSq8FilteredCtes(memberPred = "TRUE",
      queryPred = "ma.vec_id % 50 = 0", queryIsMember = true)
    val rounds = 3
    val sb = new StringBuilder(ctes)
    sb.append(s""",
      |cand10 AS (
      |  SELECT va, vb, cos FROM (
      |    SELECT va, vb, cos,
      |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
      |    FROM ex) WHERE rn <= 10),
      |pc AS (
      |  SELECT a.va, a.vb AS b1, b.vb AS b2,
      |    (${dotSqlDuck("x.embedding", "y.embedding")}) / (ANY_VALUE(x.nrm) * ANY_VALUE(y.nrm)) AS pcos
      |  FROM cand10 a JOIN cand10 b ON a.va = b.va AND a.vb <> b.vb
      |  JOIN nrm x ON x.vec_id = a.vb JOIN nrm y ON y.vec_id = b.vb
      |  CROSS JOIN range(0, 64) t(i)
      |  GROUP BY a.va, a.vb, b.vb),
      |s1 AS (
      |  SELECT va, vb, cos FROM (
      |    SELECT va, vb, cos,
      |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rr
      |    FROM cand10) WHERE rr = 1)""".stripMargin)
    for (r <- 2 to rounds) {
      val selUnion = (1 until r).map(i => s"SELECT va, vb FROM s$i")
        .mkString(" UNION ALL ")
      sb.append(s""",
        |m$r AS (
        |  SELECT c.va, c.vb, c.cos, MAX(p.pcos) AS max_sim
        |  FROM cand10 c
        |  JOIN pc p ON p.va = c.va AND p.b1 = c.vb
        |  JOIN ($selUnion) s ON s.va = c.va AND s.vb = p.b2
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM ($selUnion) e WHERE e.va = c.va AND e.vb = c.vb)
        |  GROUP BY c.va, c.vb, c.cos),
        |s$r AS (
        |  SELECT va, vb, cos, max_sim FROM (
        |    SELECT va, vb, cos, max_sim,
        |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY (cos - max_sim) DESC, vb) AS rr
        |    FROM m$r) WHERE rr = 1)""".stripMargin)
    }
    sb.append(("""
      |SELECT va, 1 AS round, vb, ROUND(cos, 6) AS rel_cos,
      |  CAST(NULL AS DOUBLE) AS max_sim FROM s1""" +
      (2 to rounds).map(r => s"""
      |UNION ALL
      |SELECT va, $r AS round, vb, ROUND(cos, 6) AS rel_cos,
      |  ROUND(max_sim, 6) AS max_sim FROM s$r""").mkString + """
      |ORDER BY va, round""").stripMargin)
    sb.toString
  }

  // ---------------------------------------------------------------- q216
  /** Principal-direction estimation over the embedding corpus — the
    * whitening/decorrelation diagnostic that precedes PQ/IVF index
    * tuning (Jégou et al. 2011 §5 recommend rotating away a dominant
    * direction) — in fully exact arithmetic:
    *
    *  1. quantize once: q = ⌊256·x + 0.5⌋ (|q| ≤ 136 here);
    *  2. DISTRIBUTED covariance: the (i ≤ j) upper triangle of
    *     S = Σ q qᵀ is generated IN-ROW (one `explode` of 2080 pair
    *     products per vector, no self-join) and partially aggregated
    *     map-side, so the shuffle carries 2080 keys × partitions —
    *     never corpus rows. C = N·S − m mᵀ in exact longs. This pass
    *     is the 100 TB part: one scan, one bounded-key shuffle;
    *  3. two exact power-iteration matvecs from the uniform vector
    *     (w = C·1 in longs, z = C·w in DECIMAL(38,0)). Worst-case
    *     overflow bound, NO cancellation assumed: |C_ij| ≤ N·S_ij +
    *     |m_i·m_j| ≤ 2·N²·136², so the int64 entries of C (and w's
    *     64-term sums) hold only to N ≈ 2×10⁷ at this quantization —
    *     and the HUGEINT/DECIMAL(38,0) z-step inherits the same
    *     factor. For CENTERED data (|Σ q_i| ≪ N·136, i.e. |m_i m_j|
    *     and the N·S cross term shrink toward N·Var ≈ N·136²) the
    *     bound relaxes to N ≈ 10⁸⁺; past either limit Spark's
    *     non-ANSI decimal NULLs silently while DuckDB errors, so
    *     scale-up must re-derive the bound, not trust this one. The
    *     moment eigenvalue estimate is
    *     λ̂ = (uᵀC²u)/(uᵀCu) = wᵀw / Σw.
    *
    * Convergence honesty: two unnormalized matvecs are what exact
    * integer/decimal arithmetic affords (a third overflows 38 digits);
    * on a flat spectrum this is a direction ESTIMATE — production
    * would keep iterating in floats with renormalization. The declared
    * query pins the exact-arithmetic core: the covariance pass, both
    * matvec loadings (scaled to max |·| = 1), per-dimension variance
    * shares (C_ii/trace), and λ̂.
    */
  def q216(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = emb(spark, sfDir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 256 + 0.5) AS BIGINT))")
        .as("qv"))
    val n = q.agg(count(lit(1)).as("n"))
    // 64 rows, two broadcast consumers — pin so the corpus scan runs once
    val m = q.select(posexplode(col("qv")).as(Seq("i", "qi")))
      .groupBy(col("i")).agg(sum(col("qi")).as("m"))
      .transform(graft.Pin.cut)
    // CHAINED generators, not a nested higher-order transform: Spark
    // evaluates lambda functions interpreted, and an interpreted
    // 2080-struct-per-row fold was measured 2 orders slower than the
    // codegen'd posexplode→posexplode pipeline below (sf1 probe,
    // round 13). Same shape either way: all pair products generated
    // in-stage, partial-aggregated map-side, shuffle = 2080 keys ×
    // partitions — never corpus rows.
    val sUpper = q
      .select(col("qv"), posexplode(col("qv")).as(Seq("i", "qi")))
      .select(col("i"), col("qi"), posexplode(col("qv")).as(Seq("j", "qj")))
      .where(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("qi") * col("qj")).as("s"))
    // 2080 rows; eagerly pinned — four consumers below (w, z, trace,
    // diagonal) must not each replay the corpus-sized covariance pass
    val cUpper = sUpper
      .join(broadcast(m.select(col("i"), col("m").as("m_i"))), "i")
      .join(broadcast(m.select(col("i").as("j"), col("m").as("m_j"))), "j")
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("n") * col("s") - col("m_i") * col("m_j")).as("c"))
      .transform(graft.Pin.cut)
    val cFull = cUpper.select(col("i"), col("j"), col("c"))
      .union(cUpper.where(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("c")))
    val w = cFull.groupBy(col("i")).agg(sum(col("c")).as("w"))
    val z = cFull
      .join(broadcast(w.select(col("i").as("j"), col("w").cast(dec).as("wj"))), "j")
      .groupBy(col("i")).agg(sum(col("c").cast(dec) * col("wj")).as("z"))
    val trace = cUpper.where(col("i") === col("j"))
      .agg(sum(col("c")).cast("double").as("trace"))
    val tot = w.agg(
      sum(col("w").cast(dec) * col("w").cast(dec)).as("wtw"),
      sum(col("w").cast(dec)).as("sw"),
      max(abs(col("w"))).cast("double").as("wmax"))
    val zm = z.agg(max(abs(col("z"))).cast("double").as("zmax"))
    w.join(z, "i")
      .join(broadcast(cUpper.where(col("i") === col("j"))
        .select(col("i"), col("c").as("c_ii"))), "i")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(zm))
      .crossJoin(broadcast(trace))
      .select(col("i").as("dim"),
        round(col("w").cast("double") / col("wmax"), 6).as("loading_1"),
        round(col("z").cast("double") / col("zmax"), 6).as("loading_2"),
        round(col("c_ii").cast("double") / col("trace"), 6).as("var_share"),
        round(col("wtw").cast("double") / col("sw").cast("double"), 6)
          .as("lambda_est"))
      .orderBy(col("dim"))
  }

  val q216Sql: String =
    """WITH q AS (
      |  SELECT vec_id, r.i AS i,
      |    CAST(FLOOR(CAST(embedding[r.i + 1] AS DOUBLE) * 256 + 0.5) AS BIGINT) AS q
      |  FROM embeddings CROSS JOIN range(0, 64) r(i)),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
      |m AS (SELECT i, CAST(SUM(q) AS BIGINT) AS m FROM q GROUP BY i),
      |s AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS s
      |      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      |      GROUP BY a.i, b.i),
      |cu AS (SELECT s.i, s.j, n.n * s.s - mi.m * mj.m AS c
      |       FROM s CROSS JOIN n
      |       JOIN m mi ON s.i = mi.i JOIN m mj ON s.j = mj.i),
      |c AS (SELECT i, j, c FROM cu UNION ALL
      |      SELECT j AS i, i AS j, c FROM cu WHERE i <> j),
      |w AS (SELECT i, CAST(SUM(c) AS BIGINT) AS w FROM c GROUP BY i),
      |z AS (SELECT c.i, SUM(CAST(c.c AS HUGEINT) * wj.w) AS z
      |      FROM c JOIN w wj ON c.j = wj.i GROUP BY c.i),
      |tr AS (SELECT CAST(SUM(c) AS DOUBLE) AS trace FROM cu WHERE i = j),
      |tot AS (SELECT SUM(CAST(w AS HUGEINT) * w) AS wtw,
      |               SUM(CAST(w AS HUGEINT)) AS sw,
      |               CAST(MAX(ABS(w)) AS DOUBLE) AS wmax FROM w),
      |zm AS (SELECT CAST(MAX(ABS(z)) AS DOUBLE) AS zmax FROM z)
      |SELECT w.i AS dim,
      |  ROUND(CAST(w.w AS DOUBLE) / wmax, 6) AS loading_1,
      |  ROUND(CAST(z.z AS DOUBLE) / zmax, 6) AS loading_2,
      |  ROUND(CAST(cd.c AS DOUBLE) / trace, 6) AS var_share,
      |  ROUND(CAST(wtw AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS lambda_est
      |FROM w JOIN z ON w.i = z.i
      |JOIN (SELECT i, c FROM cu WHERE i = j) cd ON w.i = cd.i
      |CROSS JOIN tot CROSS JOIN zm CROSS JOIN tr
      |ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------- q222
  /** k-means‖ (scalable k-means++) initialization + Lloyd, end to
    * end under the oracle ([[graft.llm.KMeans.trainParallelInit]]):
    * deterministic min-id seed, 3 oversampling rounds of poly-hash
    * Bernoulli draws with ℓ = k = 8, candidate weighting, weighted
    * greedy-maximin recluster to k centers, one Lloyd update, final
    * assignment — q61's summary shape (n / rep_id / wss per cluster)
    * so the two inits are directly comparable; the spec pins the
    * inertia (Σ wss) improvement over q61's first-k-by-id seed. The
    * oracle unrolls every stage as CTEs: per-round min-distance +
    * HUGEINT φ + hash-threshold selection, the candidate weight
    * pass, 7 anti-joined maximin picks, then the q61 Lloyd chain
    * from the picked centers.
    */
  def q222(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    graft.llm.KMeans
      .clusterSummary(
        graft.llm.KMeans.assignWith(e, "vec_id", "embedding",
          graft.llm.KMeans.trainParallelInit(e, "vec_id", "embedding",
            k = 8, ell = 8, rounds = 3, passes = 2)),
        "vec_id")
      .select(col("cluster_id"), col("n"), col("rep_id"), col("wss"))
      .orderBy(col("cluster_id"))
  }

  val q222Sql: String = {
    val M = 1048576L // 2^20 draw resolution — must match trainParallelInit
    val ell = 8
    def dmin(name: String, cands: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT p.vid AS vec_id, MIN(p.d2) AS d2 FROM (
         |    SELECT v.vec_id AS vid, c.vec_id AS cid,
         |      CAST(SUM((v.sv[i+1]-c.sv[i+1])*(v.sv[i+1]-c.sv[i+1])) AS BIGINT) AS d2
         |    FROM sv v CROSS JOIN $cands c CROSS JOIN range(0, 64) r(i)
         |    GROUP BY 1, 2) p
         |  GROUP BY 1)""".stripMargin
    def round(r: Int): String = {
      // Lehmer-mixed draw (see trainParallelInit: the raw hash's low
      // bits are non-uniform on sequential-id strings)
      val h = graft.functions.PolyHash
        .duckdbSql(s"'kpp$r:' || CAST(v.vec_id AS VARCHAR)")
      val draw = s"((($h) + 1) * 48271) % 2147483647 * 48271 % 2147483647 % $M"
      s"""${dmin(s"d$r", s"k${r - 1}")},
         |p$r AS MATERIALIZED (SELECT SUM(CAST(d2 AS HUGEINT)) AS phi FROM d$r),
         |s$r AS MATERIALIZED (
         |  SELECT v.vec_id, v.sv FROM sv v JOIN d$r dd USING (vec_id) CROSS JOIN p$r
         |  WHERE CAST(($draw) AS HUGEINT) * phi
         |      < CAST(dd.d2 AS HUGEINT) * ${ell * M}),
         |k$r AS MATERIALIZED (SELECT * FROM k${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    }
    def pick(j: Int): String =
      s"""m$j AS MATERIALIZED (
         |  SELECT c.vec_id, ANY_VALUE(c.sv) AS sv,
         |    CAST(ANY_VALUE(c.w) AS HUGEINT) * MIN(cd.d2) AS score
         |  FROM cw c JOIN cd ON cd.ia = c.vec_id
         |  JOIN g${j - 1} p ON cd.ib = p.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM g${j - 1})
         |  GROUP BY c.vec_id),
         |g$j AS MATERIALIZED (SELECT * FROM g${j - 1} UNION ALL
         |  SELECT vec_id, sv, $j AS ord FROM (
         |    SELECT vec_id, sv FROM m$j ORDER BY score DESC, vec_id LIMIT 1))""".stripMargin
    s"""WITH sv AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings),
       |k0 AS MATERIALIZED (SELECT vec_id, sv FROM sv ORDER BY vec_id LIMIT 1),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |pair AS MATERIALIZED (
       |  SELECT v.vec_id AS vid, c.vec_id AS cid,
       |    CAST(SUM((v.sv[i+1]-c.sv[i+1])*(v.sv[i+1]-c.sv[i+1])) AS BIGINT) AS d2
       |  FROM sv v CROSS JOIN k3 c CROSS JOIN range(0, 64) r(i)
       |  GROUP BY 1, 2),
       |wa AS MATERIALIZED (SELECT vid, cid FROM (
       |  SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn
       |  FROM pair) WHERE rn = 1),
       |cw AS MATERIALIZED (
       |  SELECT c.vec_id, c.sv, COALESCE(w.w, 0) AS w FROM k3 c
       |  LEFT JOIN (SELECT cid, CAST(COUNT(*) AS BIGINT) AS w FROM wa GROUP BY cid) w
       |    ON c.vec_id = w.cid),
       |cd AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    CAST(SUM((a.sv[i+1]-b.sv[i+1])*(a.sv[i+1]-b.sv[i+1])) AS BIGINT) AS d2
       |  FROM k3 a CROSS JOIN k3 b CROSS JOIN range(0, 64) r(i)
       |  GROUP BY 1, 2),
       |g0 AS MATERIALIZED (SELECT vec_id, sv, 0 AS ord FROM cw ORDER BY w DESC, vec_id LIMIT 1),
       |${(1 to 7).map(pick).mkString(",\n")},
       |c0p AS MATERIALIZED (SELECT ord AS cid, sv AS m FROM g7),
       |dl1 AS MATERIALIZED (
       |  SELECT v.vec_id, c.cid,
       |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
       |  FROM sv v CROSS JOIN c0p c CROSS JOIN range(0, 64) r(i)
       |  GROUP BY v.vec_id, c.cid),
       |al1 AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM dl1) WHERE rn = 1),
       |cl1 AS MATERIALIZED (
       |  SELECT cid, list(m ORDER BY d) AS m FROM (
       |    SELECT a.cid, r.i AS d,
       |      CAST(SUM(v.sv[r.i+1]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
       |    FROM al1 a JOIN sv v USING (vec_id) CROSS JOIN range(0, 64) r(i)
       |    GROUP BY a.cid, r.i)
       |  GROUP BY cid),
       |dl2 AS MATERIALIZED (
       |  SELECT v.vec_id, c.cid,
       |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
       |  FROM sv v CROSS JOIN cl1 c CROSS JOIN range(0, 64) r(i)
       |  GROUP BY v.vec_id, c.cid),
       |al2 AS MATERIALIZED (
       |  SELECT vec_id, cid, d2 FROM (
       |    SELECT vec_id, cid, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM dl2) WHERE rn = 1)
       |SELECT cid AS cluster_id, COUNT(*) AS n, MIN(vec_id) AS rep_id,
       |  CAST(SUM(d2) AS BIGINT) AS wss
       |FROM al2 GROUP BY cid ORDER BY cluster_id""".stripMargin
  }

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q31_cosine_knn", q31 _, Some(q31Sql)),
    ("q32_ann_lsh_buckets", q32 _, Some(q32Sql)),
    ("q33_label_centroids", q33 _, Some(q33Sql)),
    ("q47_embedding_cosine_neardup", q47 _, Some(q47Sql)),
    ("q55_ann_multiprobe", q55 _, Some(q55Sql)),
    ("q57_ivf_search", q57 _, Some(q57Sql)),
    ("q61_kmeans_semantic", q61 _, Some(q61Sql)),
    ("q115_pq_search", q115 _, Some(q115Sql)),
    ("q116_embedding_outliers", q116 _, Some(q116Sql)),
    ("q118_jl_projection", q118 _, Some(q118Sql)),
    ("q124_semantic_dedup", q124 _, Some(q124Sql)),
    ("q130_kcenter_coreset", q130 _, Some(q130Sql)),
    ("q134_ann_recall", q134 _, Some(q134Sql)),
    ("q139_cluster_terms", q139 _, Some(q139Sql)),
    ("q141_hard_triplets", q141 _, Some(q141Sql)),
    ("q142_centroid_drift", q142 _, Some(q142Sql)),
    ("q147_incremental_kmeans", q147 _, Some(q147Sql)),
    ("q149_sq8_rerank", q149 _, Some(q149Sql)),
    ("q151_label_vote", q151 _, Some(q151Sql)),
    ("q154_matryoshka_recall", q154 _, Some(q154Sql)),
    ("q165_ivf_sq8_search", q165 _, Some(q165Sql)),
    ("q166_ivf_kmeans_search", q166 _, Some(q166Sql)),
    ("q205_ivf_sqrtn_search", q205 _, Some(q205Sql)),
    ("q167_fleiss_kappa", q167 _, Some(q167Sql)),
    ("q174_binary_hamming_search", q174 _, Some(q174Sql)),
    ("q175_ivf_store_incremental", q175 _, Some(q175Sql)),
    ("q181_ivf_hamming_search", q181 _, Some(q181Sql)),
    ("q192_ivf_pq_search", q192 _, Some(q192Sql)),
    // same oracle as q175 by design: the streamed maintenance cycle
    // must converge to the identical merged index
    ("q183_stream_ivf_maintain", q183 _, Some(q175Sql)),
    ("q193_mmr_diverse_topk", q193 _, Some(q193Sql)),
    ("q195_ann_store_rtbf", q195 _, Some(q195Sql)),
    ("q196_filtered_ann_search", q196 _, Some(q196Sql)),
    ("q201_mmr_batch_serving", q201 _, Some(q201Sql)),
    ("q216_pca_power_iteration", q216 _, Some(q216Sql)),
    ("q222_kmeans_parallel_init", q222 _, Some(q222Sql))
  )
}
