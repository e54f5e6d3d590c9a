package graft.queries

import graft.Tables
import graft.functions.{GraftFunctions, PolyHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pretraining-pipeline capstone v2 (q184) — the full modern cleaning
  * chain composed end-to-end from the library operators, each stage
  * feeding the next and every stage's survivor set hash-pinned:
  *
  *   s1 exact dedup            [[graft.llm.TextDedup.exactDuplicates]]
  *   s2 repeated-span scrub    [[graft.llm.TextDedup.scrubSpans]]
  *   s3 quality floor          [[graft.llm.TextStats.withQualityScore]]
  *   s4 LM quality filter      (Stupid-Backoff reject list, q173)
  *   s5 decontamination        [[graft.llm.TextDedup.contaminationOverlap]]
  *   s6 near-dup prune         [[graft.llm.TextDedup.minHashLshPairs]]
  *   s7 SemDeDup               [[graft.llm.VectorSearch.semDedup]]
  *   s8 DSIR selection         (importance-resampling top-k, q172)
  *   s9 tokenize and pack      [[graft.llm.Vocab.bpeMergesWithVocab]] →
  *                             [[graft.llm.Vocab.bpeEncodeFromVocab]] →
  *                             [[graft.llm.Packer.packCounts]]
  *
  * v1 (q126) chained four stages; v2 adds the round-8/9 operators so
  * the whole production ladder — including the model-based filters
  * (LM scoring, semantic dedup, importance weighting) and the
  * training-shard assembly — is ONE oracle-replayed CTE chain: the
  * DuckDB side recomputes all nine stages from the raw tables, so the
  * *composition* (which filter sees which survivor set, computed on
  * which text revision) is hash-checked, not just each operator in
  * isolation. Each stage emits (n_docs, sum_doc_ids, sum_tokens,
  * checksum) where checksum is the poly-hash sum of the stage's
  * CURRENT text — so a single scrubbed token differing anywhere in
  * the pipe moves the row hash.
  *
  * Composition semantics worth pinning (each deliberate):
  *  - spans are mined on the EXACT-DEDUPED corpus (s1), not raw —
  *    duplicate docs would otherwise make every window "repeated";
  *  - quality/LM/DSIR all read the SCRUBBED text revision;
  *  - the LM filter trains on s3's `lang='en'` slice and rejects the
  *    100 worst-scoring docs (ties toward the smaller id); docs with
  *    no transitions bypass the filter (nothing to score);
  *  - the benchmark set arrives RAW from outside the cleaning pipe
  *    (q126's rule) — eval sets are never themselves cleaned;
  *  - SemDeDup runs its k-means on the s6 SURVIVORS' embeddings
  *    (doc_id = vec_id), not the raw corpus: the restricted seeding
  *    (first 8 surviving ids) is part of the pinned semantics;
  *  - DSIR's raw AND target distributions are estimated on s7 — the
  *    selection sees only data that survived cleaning;
  *  - BPE merges (4 rounds) are learned on the FINAL selection, the
  *    shard-assembly-time tokenizer fit.
  *
  * Scale shape: every stage keeps its own operator's documented plan
  * (hash-only dedup shuffle, corpus-wide window counts, broadcast
  * bench/λ/LM-count tables, banded LSH join, k-bounded k-means,
  * TakeOrdered selections); stages glue by doc_id equi/anti-joins
  * that AQE broadcasts as survivor sets shrink. Nothing here adds a
  * shuffle the standalone operators didn't already have.
  */
object Capstone {
  private val P = PolyHash.Mod // 2^31 - 1
  private val DsirBuckets = 512
  private val LmRejectK = 100
  private val DsirKeepK = 100

  private def docs(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    Tables.load(spark, sfDir, "documents")
  }

  // ------------------------------------------------------- Spark side

  /** Stupid-Backoff LM filter over `corpus` (doc_id, lang, text): the
    * q173 scoring pipeline parameterized by its input — train
    * bigram/unigram counts on the `lang='en'` slice, score every doc
    * with transitions, and checkpoint all but the `n` worst (score asc,
    * id asc). */
  private def lmFilter(corpus: DataFrame, n: Int): DataFrame = {
    val toks = corpus.select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("s"))
    // trans feeds the bigram counts AND the scoring spine; uni enters
    // the scoring join twice (cv, cw) plus the total. Without the pins
    // each consumer re-tokenizes the corpus (§2.4); both tables are
    // reduced (no text column / vocabulary-sized).
    val trans = toks.where(size(col("s")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), " +
          "(a, b) -> struct(a AS v, b AS w))")).as("p"))
      .select(col("doc_id"), col("lang"), col("p.v"), col("p.w"))
    val uni = toks.where(col("lang") === "en")
      .select(explode(col("s")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    graft.Pin.during(trans, uni) {
      val big = trans.where(col("lang") === "en")
        .groupBy(col("v"), col("w")).agg(count(lit(1)).as("cb"))
      val tot = uni.agg(sum(col("cw")).as("nn"))
      val rejects = trans
        .join(big, Seq("v", "w"), "left")
        .join(uni.withColumnRenamed("w", "v").withColumnRenamed("cw", "cv"),
          Seq("v"), "left")
        .join(uni, Seq("w"), "left")
        .na.fill(0L, Seq("cb", "cv", "cw"))
        .crossJoin(broadcast(tot))
        .withColumn("ls", round(log(
          when(col("cb") > 0, col("cb").cast("double") / col("cv").cast("double"))
            .when(col("cw") > 0,
              lit(0.4) * col("cw").cast("double") / col("nn").cast("double"))
            .otherwise(lit(0.4) * lit(0.4) / col("nn").cast("double"))), 9)
          .cast("decimal(27,9)"))
        .groupBy(col("doc_id"))
        .agg((sum(col("ls")).cast("double") / count(lit(1))).as("avg_logscore"))
        .orderBy(col("avg_logscore").asc, col("doc_id"))
        .limit(n)
        .select(col("doc_id"))
      corpus.join(rejects, Seq("doc_id"), "left_anti").transform(graft.Pin.cut)
    }
  }

  /** DSIR top-`n` selection over `corpus` (doc_id, lang, text): the
    * q172 pipeline parameterized by its input — hashed-bigram
    * Naive-Bayes log importance weight toward the `lang='en'` target
    * slice, checkpointed deterministic top-k (weight desc, id asc). */
  private def dsirSelect(corpus: DataFrame, n: Int): DataFrame = {
    val bg = corpus.select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("s"))
      .where(size(col("s")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("g"))
      .select(col("doc_id"), col("lang"),
        (GraftFunctions.polyHash("g") % DsirBuckets).as("b"))
    // three consumers (raw, tgt, per-doc counts) — pin the hashed
    // bigram stream once instead of re-tokenizing per consumer (§2.4);
    // reduced to (doc_id, lang, bucket), no text
    graft.Pin.during(bg) {
      val raw = bg.groupBy(col("b")).agg(count(lit(1)).as("r"))
      val tgt = bg.where(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("t"))
      val buckets = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("t"))
      val tot = buckets.agg(sum(col("r")).as("rr"), sum(col("t")).as("tt"))
      val lam = buckets.crossJoin(broadcast(tot))
        .withColumn("lam",
          round(log(((col("t") + 1) * (col("rr") + DsirBuckets)).cast("double") /
            ((col("r") + 1) * (col("tt") + DsirBuckets)).cast("double")), 9)
            .cast("decimal(27,9)"))
        .select(col("b"), col("lam"))
      val top = bg.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
        .join(broadcast(lam), "b")
        .groupBy(col("doc_id"))
        // decimal(10,0) × decimal(27,9) stays exact at 38 digits —
        // q172's documented overflow-vs-scale trade
        .agg(sum(col("n").cast("decimal(10,0)") * col("lam"))
          .cast("double").as("logw"))
        .orderBy(col("logw").desc, col("doc_id"))
        .limit(n)
        .select(col("doc_id"))
      corpus.join(top, "doc_id").transform(graft.Pin.cut)
    }
  }

  /** One stage-summary row: n_docs, sum_doc_ids, whitespace-token
    * total, and the poly-hash checksum of the stage's current text. */
  private def stat(name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_ids"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_tokens"),
        sum(GraftFunctions.polyHash("text")).as("checksum"))
      .withColumn("stage", lit(name))
      .select(col("stage"), col("n_docs"), col("sum_doc_ids"),
        col("sum_tokens"), col("checksum"))

  def q184(spark: SparkSession, sfDir: String): DataFrame = {
    // the raw table feeds s1 twice (survivor join + dedup input) and
    // the bench slice — pin it so the scan + spread-repartition run
    // once (§2.4)
    val d = docs(spark, sfDir)
    graft.Pin.during(d) {
      // Stage boundaries are cut (graft.Pin.cut, eager):
      // several downstream operators run driver-side iterations with
      // their own actions (k-means passes, BPE merge rounds, the
      // stage-stat union's nine branches), and without lineage
      // truncation every such action would re-execute the whole chain
      // prefix — at 100 TB the pins become persisted stage tables,
      // which is how a production pipeline stages anyway.
      // s1: exact dedup, min-id survivors
      val s1 = d.select(col("doc_id"), col("lang"), col("source"), col("text"))
        .join(graft.llm.TextDedup.exactDuplicates(d, "doc_id", "text")
          .where(col("kept")).select("doc_id"), "doc_id")
        .transform(graft.Pin.cut)
      // s2: repeated-span scrub on the deduped corpus; text := clean_text
      val s2 = s1.drop("text")
        .join(graft.llm.TextDedup.scrubSpans(s1, "doc_id", "text", minTokens = 15)
          .select(col("doc_id"), col("clean_text").as("text")), "doc_id")
        .transform(graft.Pin.cut)
      // s3: quality floor on the scrubbed text
      val s3 = graft.llm.TextStats
        .withQualityScore(s2, "text", Seq("a", "the"))
        .where(col("score") >= 0.5).drop("score")
        .transform(graft.Pin.cut)
      // s4: Stupid-Backoff LM filter — reject the 100 worst
      val s4 = lmFilter(s3, LmRejectK)
      // s5: decontamination — bench arrives RAW from outside the pipe
      val bench = d.where(col("doc_id") % 97 === 0)
      val corpus = s4.where(col("doc_id") % 97 =!= 0)
      val contaminated = graft.llm.TextDedup
        .contaminationOverlap(corpus, bench, "doc_id", "text", n = 3)
        .select("doc_id").distinct()
      val s5 = corpus.join(contaminated, Seq("doc_id"), "left_anti")
        .transform(graft.Pin.cut)
      // s6: near-dup prune (q126's non-transitive pair rule)
      val removed = graft.llm.TextDedup
        .minHashLshPairs(s5, "doc_id", "text", n = 3, k = 12, bands = 4)
        .where(col("jac") >= 0.6)
        .select(col("d2").as("doc_id")).distinct()
      val s6 = s5.join(removed, Seq("doc_id"), "left_anti")
        .transform(graft.Pin.cut)
      // s7: SemDeDup on the SURVIVORS' embeddings (doc_id = vec_id)
      val e = Tables.load(spark, sfDir, "embeddings")
      val sem = graft.llm.VectorSearch.semDedup(
        e.join(s6.select(col("doc_id").as("vec_id")), "vec_id")
          .transform(graft.Pin.cut),
        "vec_id", "embedding", k = 8, passes = 2, minCos = 0.4)
      val s7 = s6.join(sem.where(col("kept"))
        .select(col("vec_id").as("doc_id")), "doc_id")
        .transform(graft.Pin.cut)
      // s8: DSIR selection — top 100 toward the en target
      val s8 = dsirSelect(s7, DsirKeepK)
      // s9: tokenizer fit + encode + pack on the final selection —
      // encode from the learner's merged vocab, and pin the
      // twice-consumed per-doc counts (q128's shape, §2.4)
      val (_, vocabS9) = graft.llm.Vocab.bpeMergesWithVocab(s8, "text", numMerges = 4)
      val counts = graft.llm.Vocab.bpeEncodeFromVocab(s8, "doc_id", "text", vocabS9)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_subwords"),
          sum(col("subword_id").cast("long")).as("id_sum"))
      graft.Pin.during(counts) {
        val pack = graft.llm.Packer
          .packCounts(counts, "doc_id", "n_subwords", capacity = 256, buckets = 8)
          .join(counts, "doc_id")
          .groupBy(col("bucket"), col("batch"))
          .agg(count(lit(1)).as("nd"),
            sum(col("n_tokens").cast("long")).as("sum_subwords"),
            sum(col("id_sum")).as("sum_ids"))
        val packStat = pack.agg(count(lit(1)).as("n_docs"),
            sum(col("nd")).as("sum_doc_ids"),
            sum(col("sum_subwords")).as("sum_tokens"),
            sum(col("sum_ids")).as("checksum"))
          .withColumn("stage", lit("s9_pack"))
          .select(col("stage"), col("n_docs"), col("sum_doc_ids"),
            col("sum_tokens"), col("checksum"))
        stat("s1_exact", s1)
          .unionByName(stat("s2_scrub", s2))
          .unionByName(stat("s3_quality", s3))
          .unionByName(stat("s4_lmfilter", s4))
          .unionByName(stat("s5_decontam", s5))
          .unionByName(stat("s6_neardup", s6))
          .unionByName(stat("s7_semdedup", s7))
          .unionByName(stat("s8_dsir", s8))
          .unionByName(packStat)
          .orderBy(col("stage"))
          .transform(graft.Pin.cut)
      }
    }
  }

  // ------------------------------------------------------ oracle side

  private def ph(c: String): String = PolyHash.duckdbSql(c)

  private def stageStatSql(name: String, cte: String): String =
    // the '' guard: DuckDB's string_split('','') is [''] and
    // unicode('') is -1, so its polyhash of an empty string would be
    // -1 where the engine's is 0 — and fully-scrubbed docs DO carry
    // text = '' from s2 onward
    s"""SELECT '$name' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(CASE WHEN text = '' THEN 0 ELSE ${ph("text")} END) AS BIGINT)
       |    AS checksum
       |FROM $cte""".stripMargin

  val q184Sql: String =
    s"""WITH
       |-- s1: exact dedup (min-id survivors)
       |exk AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
       |s1 AS MATERIALIZED (SELECT d.doc_id, d.lang, d.source, d.text
       |       FROM documents d JOIN exk USING (doc_id)),
       |-- s2: repeated-span scrub mined on s1 (15-token windows)
       |toks1 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS parts FROM s1),
       |grams AS MATERIALIZED (
       |  SELECT doc_id, CAST(s AS BIGINT) AS s,
       |    array_to_string(parts[s:s+14], ' ') AS g
       |  FROM toks1, UNNEST(range(1, len(parts) - 15 + 2)) r(s)),
       |dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
       |hits AS (SELECT doc_id, s, s + 14 AS e FROM grams JOIN dup USING (g)),
       |brk AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |      THEN 1 ELSE 0 END AS brk
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, s, e,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS isl
       |  FROM brk),
       |spans AS (SELECT doc_id, MIN(s) AS ss, MAX(e) AS ee
       |          FROM isl GROUP BY doc_id, isl),
       |tok AS (SELECT doc_id, CAST(p AS BIGINT) AS p, parts[p] AS tokn
       |        FROM toks1, UNNEST(range(1, len(parts) + 1)) r(p)),
       |keptt AS (
       |  SELECT t.doc_id, t.p, t.tokn
       |  FROM tok t LEFT JOIN spans sp
       |    ON sp.doc_id = t.doc_id AND t.p BETWEEN sp.ss AND sp.ee
       |  WHERE sp.doc_id IS NULL),
       |agg2 AS (SELECT doc_id, string_agg(tokn, ' ' ORDER BY p) AS ct
       |         FROM keptt GROUP BY doc_id),
       |s2 AS MATERIALIZED (SELECT s1.doc_id, s1.lang, s1.source,
       |         COALESCE(a.ct, '') AS text
       |       FROM s1 LEFT JOIN agg2 a USING (doc_id)),
       |-- s3: quality floor on the scrubbed text
       |s3 AS MATERIALIZED (SELECT doc_id, lang, source, text FROM (
       |         SELECT doc_id, lang, source, text,
       |           string_split(text, ' ') AS s FROM s2)
       |       WHERE LEAST(1.0, len(s) / 100.0) * 0.5
       |         + (len(list_filter(s, t -> list_contains(['a','the'], t)))
       |            / CAST(len(s) AS DOUBLE)) * 0.25
       |         + (1.0 - len(list_filter(s, t -> length(t) <= 2))
       |            / CAST(len(s) AS DOUBLE)) * 0.25 >= 0.5),
       |-- s4: Stupid-Backoff LM filter trained on s3's en slice
       |base3 AS MATERIALIZED (SELECT doc_id, lang, string_split(text, ' ') AS s FROM s3),
       |tr AS (SELECT doc_id, lang,
       |         unnest([{'v': s[i], 'w': s[i+1]} for i in range(1, len(s))],
       |                recursive := true)
       |       FROM base3 WHERE len(s) >= 2),
       |uc AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM (
       |         SELECT unnest(s) AS w FROM base3 WHERE lang = 'en')
       |       GROUP BY w),
       |bc AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS cb
       |       FROM tr WHERE lang = 'en' GROUP BY v, w),
       |totn AS (SELECT CAST(SUM(cw) AS BIGINT) AS nn FROM uc),
       |scored AS MATERIALIZED (SELECT tr.doc_id,
       |  CAST(ROUND(LN(CASE
       |    WHEN COALESCE(bc.cb, 0) > 0
       |      THEN CAST(bc.cb AS DOUBLE) / CAST(uv.cw AS DOUBLE)
       |    WHEN COALESCE(uw.cw, 0) > 0
       |      THEN 0.4 * CAST(uw.cw AS DOUBLE) / CAST(nn AS DOUBLE)
       |    ELSE 0.4 * 0.4 / CAST(nn AS DOUBLE) END), 9) AS DECIMAL(27,9)) AS ls
       |  FROM tr
       |  LEFT JOIN bc ON tr.v = bc.v AND tr.w = bc.w
       |  LEFT JOIN uc uv ON tr.v = uv.w
       |  LEFT JOIN uc uw ON tr.w = uw.w
       |  CROSS JOIN totn),
       |rej AS (SELECT doc_id FROM (
       |    SELECT doc_id, CAST(SUM(ls) AS DOUBLE) / COUNT(*) AS avg_logscore
       |    FROM scored GROUP BY doc_id
       |    ORDER BY avg_logscore ASC, doc_id LIMIT $LmRejectK)),
       |s4 AS MATERIALIZED (SELECT * FROM s3
       |       WHERE doc_id NOT IN (SELECT doc_id FROM rej)),
       |-- s5: decontamination (bench = RAW doc_id%97 slice)
       |bhash AS (SELECT DISTINCT ${ph("g")} AS h FROM (
       |    SELECT unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
       |                   for i in range(1, len(s) - 1)]) AS g
       |    FROM (SELECT string_split(text, ' ') AS s FROM documents
       |          WHERE doc_id % 97 = 0)
       |    WHERE len(s) >= 3)),
       |hsh3 AS MATERIALIZED (SELECT doc_id, lang, source, text, s,
       |    list_distinct(list_transform(
       |      [s[i] || ' ' || s[i+1] || ' ' || s[i+2]
       |       for i in range(1, len(s) - 1)],
       |      g -> ${ph("g")})) AS hs
       |  FROM (SELECT doc_id, lang, source, text,
       |          string_split(text, ' ') AS s FROM s4)
       |  WHERE doc_id % 97 <> 0),
       |contam AS (SELECT DISTINCT doc_id
       |  FROM (SELECT doc_id, unnest(hs) AS h FROM hsh3 WHERE len(s) >= 3) c
       |  JOIN bhash b USING (h)),
       |s5 AS MATERIALIZED (SELECT * FROM hsh3
       |       WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |-- s6: LSH near-dup prune on s5
       |hx AS (SELECT doc_id, unnest(hs) AS x FROM s5 WHERE len(s) >= 3),
       |params AS (SELECT i, (i*7919 + 1) % $P AS a, (i*104729 + 12345) % $P AS b
       |           FROM range(0, 12) t(i)),
       |sig AS MATERIALIZED (SELECT doc_id, i, MIN((a*x + b) % $P) AS mh
       |        FROM hx CROSS JOIN params GROUP BY doc_id, i),
       |bandkey AS (SELECT doc_id, i // 3 AS band,
       |              string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
       |            FROM sig GROUP BY doc_id, i // 3),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM bandkey a JOIN bandkey b
       |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |rem AS (SELECT DISTINCT d2 AS doc_id FROM (
       |    SELECT d1, d2,
       |      len(list_intersect(x.hs, y.hs)) /
       |      CAST(len(x.hs) + len(y.hs)
       |           - len(list_intersect(x.hs, y.hs)) AS DOUBLE) AS jac
       |    FROM cand JOIN s5 x ON x.doc_id = d1 JOIN s5 y ON y.doc_id = d2)
       |  WHERE jac >= 0.6),
       |s6 AS MATERIALIZED (SELECT doc_id, lang, source, text FROM s5
       |       WHERE doc_id NOT IN (SELECT doc_id FROM rem)),
       |-- s7: SemDeDup on the survivors' embeddings (k=8, 2 passes)
       |sv7 AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    list_transform(e.embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv,
       |    e.embedding
       |  FROM embeddings e JOIN s6 ON e.vec_id = s6.doc_id),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid,
       |    sv AS m
       |  FROM (SELECT * FROM sv7 ORDER BY vec_id LIMIT 8)),
       |kd1 AS (
       |  SELECT v.vec_id, c.cid,
       |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
       |  FROM sv7 v CROSS JOIN c0 c CROSS JOIN range(0, 64) r(i)
       |  GROUP BY v.vec_id, c.cid),
       |ka1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM kd1) WHERE rn = 1),
       |kc1 AS (
       |  SELECT cid, list(m ORDER BY d) AS m FROM (
       |    SELECT a.cid, r.i AS d,
       |      CAST(SUM(v.sv[r.i+1]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
       |    FROM ka1 a JOIN sv7 v USING (vec_id) CROSS JOIN range(0, 64) r(i)
       |    GROUP BY a.cid, r.i)
       |  GROUP BY cid),
       |kd2 AS (
       |  SELECT v.vec_id, c.cid,
       |    CAST(SUM((v.sv[i+1] - c.m[i+1]) * (v.sv[i+1] - c.m[i+1])) AS BIGINT) AS d2
       |  FROM sv7 v CROSS JOIN kc1 c CROSS JOIN range(0, 64) r(i)
       |  GROUP BY v.vec_id, c.cid),
       |ka2 AS MATERIALIZED (
       |  SELECT vec_id, cid, d2 FROM (
       |    SELECT vec_id, cid, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM kd2) WHERE rn = 1),
       |nrm7 AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(CAST(SUM(CAST(round(CAST(embedding[i+1] AS DOUBLE) *
       |      CAST(embedding[i+1] AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm
       |  FROM sv7 CROSS JOIN range(0, 64) t(i)
       |  GROUP BY vec_id, embedding),
       |spairs AS (
       |  SELECT x.vec_id AS va, y.vec_id AS vb,
       |    ANY_VALUE(x.d2) AS da, ANY_VALUE(y.d2) AS db,
       |    (CAST(SUM(CAST(round(CAST(a.embedding[i+1] AS DOUBLE) *
       |       CAST(b.embedding[i+1] AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) /
       |      (ANY_VALUE(a.nrm) * ANY_VALUE(b.nrm)) AS cos
       |  FROM ka2 x JOIN ka2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  JOIN nrm7 a ON a.vec_id = x.vec_id
       |  JOIN nrm7 b ON b.vec_id = y.vec_id
       |  CROSS JOIN range(0, 64) t(i)
       |  GROUP BY x.vec_id, y.vec_id),
       |srem AS (
       |  SELECT DISTINCT CASE
       |    WHEN db > da OR (db = da AND vb < va) THEN va ELSE vb
       |    END AS doc_id
       |  FROM spairs WHERE cos >= 0.4),
       |s7 AS MATERIALIZED (SELECT * FROM s6
       |       WHERE doc_id NOT IN (SELECT doc_id FROM srem)),
       |-- s8: DSIR selection toward the en target, top $DsirKeepK
       |bg AS MATERIALIZED (SELECT doc_id, lang, ${ph("g")} % $DsirBuckets AS b FROM (
       |    SELECT doc_id, lang,
       |      unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS g
       |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS s FROM s7)
       |    WHERE len(s) >= 2)),
       |draw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM bg GROUP BY b),
       |dtgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM bg
       |         WHERE lang = 'en' GROUP BY b),
       |dbk AS (SELECT b, r, COALESCE(t, 0) AS t
       |        FROM draw LEFT JOIN dtgt USING (b)),
       |dtot AS (SELECT CAST(SUM(r) AS BIGINT) AS rr,
       |           CAST(SUM(t) AS BIGINT) AS tt FROM dbk),
       |lam AS (SELECT b,
       |  CAST(ROUND(LN(CAST((t + 1) * (rr + $DsirBuckets) AS DOUBLE) /
       |               CAST((r + 1) * (tt + $DsirBuckets) AS DOUBLE)), 9)
       |    AS DECIMAL(27,9)) AS lam
       |  FROM dbk CROSS JOIN dtot),
       |ddb AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM bg GROUP BY 1, 2),
       |sel AS (SELECT doc_id FROM (
       |    SELECT doc_id, CAST(SUM(CAST(n AS DECIMAL(10,0)) * lam) AS DOUBLE) AS logw
       |    FROM ddb JOIN lam USING (b)
       |    GROUP BY doc_id ORDER BY logw DESC, doc_id LIMIT $DsirKeepK)),
       |s8 AS MATERIALIZED (SELECT * FROM s7 WHERE doc_id IN (SELECT doc_id FROM sel)),
       |-- s9: BPE (4 merges) fit on s8, encode, pack (cap 256, 8 buckets)
       |w0 AS MATERIALIZED (
       |  SELECT array_to_string(string_split(word, ''), ' ') AS sym,
       |    CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM s8)
       |  WHERE length(word) > 0 GROUP BY 1),
       |${bpeRound(1)},
       |${bpeRound(2)},
       |${bpeRound(3)},
       |${bpeRound(4)},
       |wordsubs AS MATERIALIZED (
       |  SELECT replace(sym, ' ', '') AS word, string_split(sym, ' ') AS subs
       |  FROM w4),
       |ptoks AS (
       |  SELECT doc_id, t.wpos AS wpos, t.word AS word FROM (
       |    SELECT doc_id,
       |      unnest([{'wpos': i, 'word': s[i]} for i in range(1, len(s) + 1)]) AS t
       |    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM s8))
       |  WHERE length(t.word) > 0),
       |psubs AS (
       |  SELECT doc_id, wpos, u.spos AS spos, u.subword AS subword FROM (
       |    SELECT doc_id, wpos,
       |      unnest([{'spos': i, 'subword': subs[i]} for i in range(1, len(subs) + 1)]) AS u
       |    FROM ptoks JOIN wordsubs USING (word))),
       |stream AS MATERIALIZED (SELECT doc_id, subword FROM psubs),
       |ids AS (
       |  SELECT subword,
       |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, subword) AS INT) AS subword_id
       |  FROM stream GROUP BY subword),
       |dc AS MATERIALIZED (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_subwords,
       |    CAST(SUM(subword_id) AS BIGINT) AS id_sum
       |  FROM stream JOIN ids USING (subword) GROUP BY doc_id),
       |pc AS (
       |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket, n_subwords, id_sum,
       |    CAST(COALESCE(SUM(n_subwords) OVER (PARTITION BY doc_id % 8
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS prev_cum
       |  FROM dc),
       |packagg AS MATERIALIZED (
       |  SELECT bucket, prev_cum // 256 AS batch, COUNT(*) AS n_docs,
       |    CAST(SUM(n_subwords) AS BIGINT) AS sum_subwords,
       |    CAST(SUM(id_sum) AS BIGINT) AS sum_ids
       |  FROM pc GROUP BY bucket, batch)
       |${stageStatSql("s1_exact", "s1")}
       |UNION ALL ${stageStatSql("s2_scrub", "s2")}
       |UNION ALL ${stageStatSql("s3_quality", "s3")}
       |UNION ALL ${stageStatSql("s4_lmfilter", "s4")}
       |UNION ALL ${stageStatSql("s5_decontam", "s5")}
       |UNION ALL ${stageStatSql("s6_neardup", "s6")}
       |UNION ALL ${stageStatSql("s7_semdedup", "s7")}
       |UNION ALL ${stageStatSql("s8_dsir", "s8")}
       |UNION ALL
       |SELECT 's9_pack' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_docs) AS BIGINT) AS sum_doc_ids,
       |  CAST(SUM(sum_subwords) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(sum_ids) AS BIGINT) AS checksum
       |FROM packagg
       |ORDER BY stage""".stripMargin

  /** One BPE round: argmax pair by (cnt desc, l, r) over w{i-1}, then
    * token-level greedy leftmost merge application → w{i} — the q112
    * oracle fragments parameterized for the capstone chain. */
  private def bpeRound(i: Int): String = {
    val w = s"w${i - 1}"; val b = s"pb$i"; val w2 = s"w$i"
    s"""$b AS (
       |  SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT unnest([{'l': s[i], 'r': s[i+1]} for i in range(1, len(s))]) AS p, freq
       |        FROM (SELECT string_split(sym, ' ') AS s, freq FROM $w))
       |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
       |$w2 AS (
       |  SELECT list_reduce(string_split(sym, ' '),
       |    (acc, x) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND x = b.r
       |      THEN acc || b.r ELSE acc || ' ' || x END) AS sym, freq
       |  FROM $w CROSS JOIN $b b)""".stripMargin
  }

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q184_pretrain_capstone_v2", q184 _, Some(q184Sql))
  )
}
