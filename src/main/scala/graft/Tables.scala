package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** Test-table access for the driver-generated parquet star schema
  * (see TESTDATA.md / FIXTURES.md).
  *
  * All engine queries read through here so that column pruning and
  * predicate pushdown reach the parquet scan (the reads are plain
  * `spark.read.parquet`, fully Catalyst-visible — no caching layer
  * that would hide pushdown).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped scratch directory for queries that exercise a
    * side-effect store (q109/q113/q114/q117): keyed by the Spark
    * `applicationId` so concurrent sessions on the same machine never
    * race on one path, and by the FULL canonical dataset path (not its
    * 32-bit hashCode, which can collide across datasets) so two sfDirs
    * never cross-contaminate results within a session.
    */
  def scratchDir(spark: SparkSession, kind: String, sfDir: String): String = {
    cleanStaleScratch(spark)
    val ds = new java.io.File(sfDir).getAbsolutePath
      .replaceAll("[^A-Za-z0-9._-]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
      s"${spark.sparkContext.applicationId}_$ds"
  }

  /** How long a scratch store from another session may sit untouched
    * before [[cleanStaleScratch]] reclaims it. Long enough that any
    * live session (whose stores are being written/read continuously)
    * is never at risk; short enough that repeated rounds don't grow
    * the machine's tmpdir without bound. */
  private[graft] val scratchMaxAgeMs: Long = 6L * 3600 * 1000

  private val scratchCleaned = new java.util.concurrent.atomic.AtomicBoolean(false)

  private[graft] def resetScratchCleanerForTest(): Unit =
    scratchCleaned.set(false)

  /** Best-effort reclamation of PRIOR sessions' scratch stores: keyed
    * directories under tmpdir matching `graft_*` whose applicationId
    * is not this session's and whose tree hasn't been touched within
    * [[scratchMaxAgeMs]]. Runs once per JVM, never throws (a store
    * vanishing under a concurrent deleter is fine), and never touches
    * this session's own stores — their names embed the live
    * applicationId. */
  private[graft] def cleanStaleScratch(spark: SparkSession): Unit = {
    if (!scratchCleaned.compareAndSet(false, true)) return
    val appId = spark.sparkContext.applicationId
    val now = System.currentTimeMillis()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def newestMtime(f: java.io.File): Long =
      if (f.isDirectory)
        (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty)
          .map(newestMtime(_)).toSeq).max
      else f.lastModified()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    try Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_") &&
        !f.getName.contains(appId))
      .filter(f => now - newestMtime(f) > scratchMaxAgeMs)
      .foreach(f => try rm(f) catch { case _: Exception => () })
    catch { case _: Exception => () }
  }

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Row-count keys of the fact tables whose queries run CPU-heavy
    * pre-shuffle map stages (tokenize / shingle / hash / decode /
    * JSON-parse). Parquet assigns read tasks by BYTES and can never
    * split below a row group — at sf1, documents.parquet is 0.84 MB
    * in ONE row group, so the whole text/media family was running its
    * expensive map stage on a single core of 24 (measured round 14:
    * q121 12.3 s → 0.7 s once parallelized). Media/text work must
    * parallelize by ROW COUNT, not byte size; when one of these
    * tables arrives with fewer splits than half the session's shuffle
    * parallelism, [[load]] hash-repartitions it on its key (an
    * 8-byte/row-ish shuffle). At production scale the tables are
    * byte-huge, split naturally, and the guard never fires.
    *
    * `embeddings` spreads too (round 15): round 14 had excluded it
    * because the repartition exchange under the IVF pipeline's
    * multiply-referenced assignment subtree regressed q166 18× at sf1
    * — fixed at the consumer instead of pinning the input layout: the
    * k-means training input and the IVF assignment table are now
    * pinned once (`KMeans.train` / `VectorSearch.ivfSearch` hold their
    * bounded intermediates with [[graft.Pin.during]]), so an upstream
    * exchange is evaluated once per pipeline, not once per job.
    */
  private val spreadKeys =
    Map("documents" -> "doc_id", "events" -> "event_id",
      "embeddings" -> "vec_id")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df =
      if (name == "events") loadEvents(spark, sfDir)
      else spark.read.parquet(path(sfDir, name))
    val target = spark.sessionState.conf.numShufflePartitions
    spreadKeys.get(name) match {
      // the getNumPartitions probe (a plan-to-RDD conversion: file
      // listing + split planning) runs only for spread-keyed tables —
      // non-keyed loads never pay it
      case Some(k) if df.rdd.getNumPartitions < math.max(2, target / 2) =>
        df.repartition(target, org.apache.spark.sql.functions.col(k))
      case _ => df
    }
  }

  /** `events.ts` has shipped with two different parquet logical types
    * across testdata drops: TIMESTAMP(MICROS) (current), which Spark
    * reads natively, and TIMESTAMP(NANOS), which Spark 4 refuses to
    * infer (`Illegal Parquet type` at schema inference). Never hard-code
    * the unit: try the native read and keep it when `ts` arrives as a
    * real timestamp; otherwise fall back to an explicit schema that
    * reads the INT64 physical column as a raw nanosecond long and
    * truncates to microseconds — the truncation Spark ≤3.x applied
    * implicitly for NANOS data. Both paths are pinned by fixtures in
    * `TablesSpec` and the real testdata by `TestdataCanarySpec`.
    */
  private val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val p = path(sfDir, "events")
    val native = scala.util.Try(spark.read.parquet(p)).toOption.flatMap { df =>
      // a natively-readable file without a ts column is a testdata-drop
      // change this loader can't paper over — fail loudly, don't fall
      // through to the raw-int64 path (which would also miss it)
      require(df.schema.fieldNames.contains("ts"),
        s"events at $p has no 'ts' column; schema: ${df.schema.simpleString}")
      df.schema("ts").dataType match {
        case TimestampType => Some(df)
        // parquet isAdjustedToUTC=false infers as NTZ; the session TZ is
        // pinned to UTC everywhere (Sessions/HiveSessions), so the cast
        // maps wall-clock to the identical instant — same values the
        // DuckDB oracle sees reading the file as a naive timestamp.
        case TimestampNTZType =>
          Some(df.withColumn("ts", col("ts").cast(TimestampType)))
        case _ => None // raw int64 (NANOS-era physical long) → fallback
      }
    }
    native.getOrElse {
      val raw = spark.read.schema(eventsRawSchema).parquet(p)
      val (d, m) = rawTsUnit(spark, p, raw)
      raw.withColumn("ts", timestamp_micros(expr(s"ts div $d * $m")))
    }.select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Epoch-unit inference for a RAW int64 `ts` column, by magnitude:
    * seconds ≈ 1.7e9, millis ≈ 1.7e12, micros ≈ 1.7e15, nanos ≈ 1.7e18
    * — four orders of magnitude apart, unambiguous for any date between
    * 1973 and 2255. Returns `(div, mul)` such that
    * `ts div d * m` is microseconds. The round-7 incident (testdata
    * silently moved ns → µs while the loader divided by 1000, folding
    * thirty 2024 days onto one 1970 day) is why the unit is PROBED,
    * never assumed; probed once per path per process (one max-scan).
    */
  private val probedRawUnits =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private[graft] def rawTsUnit(spark: SparkSession, p: String,
                               raw: DataFrame): (Long, Long) =
    probedRawUnits.computeIfAbsent(p, { _ =>
      val probe = raw.agg(max(abs(col("ts")))).head()
      if (probe.isNullAt(0)) (1000L, 1L) // empty table: ns (historical)
      else probe.getLong(0) match {
        case v if v >= 100000000000000000L => (1000L, 1L)   // ns → µs
        case v if v >= 100000000000000L => (1L, 1L)         // µs
        case v if v >= 100000000000L => (1L, 1000L)         // ms → µs
        case _ => (1L, 1000000L)                            // s → µs
      }
    })

  /** Register every test table as a temp view named after the table. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}

/** Numeric helpers shared by the declared queries.
  *
  * Double summation is order-dependent, and Spark and the DuckDB oracle
  * will not add partitions in the same order. Casting each addend to a
  * decimal makes the sum exact (and therefore order-independent); the
  * final cast back to double is a single deterministic conversion that
  * yields bit-identical values in both engines. Every money/quantity
  * aggregate in the declared inventory goes through these.
  */
object Num {
  /** Exact, order-independent sum of a (≤4-decimal-digit) double column. */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(27, scale))).cast(DoubleType)

  /** Exact average: decimal sum divided by count, both deterministic. */
  def davg(c: Column, scale: Int = 4): Column =
    (sum(c.cast(DecimalType(27, scale))).cast(DoubleType) / count(c))

  /** SQL fragment mirroring [[dsum]] for the DuckDB oracle. */
  def dsumSql(expr: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(27,$scale))) AS DOUBLE)"

  /** SQL fragment mirroring [[davg]]. */
  def davgSql(expr: String, scale: Int = 4): String =
    s"(CAST(SUM(CAST($expr AS DECIMAL(27,$scale))) AS DOUBLE) / COUNT($expr))"
}
