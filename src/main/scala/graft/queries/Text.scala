package graft.queries

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: token statistics,
  * heuristic language identification, quality scoring, and winnowing
  * fingerprints — the per-document preprocessing stages of a training
  * -data pipeline.
  *
  * Scale design: every operator is embarrassingly per-document (in-row
  * higher-order functions, no explode unless a distinct-count
  * genuinely needs one), aggregated with cardinality-bounded group
  * keys (lang × source). The only shuffles are the final group-bys.
  */
object Text {

  private[queries] def docs(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    Tables.load(spark, sfDir, "documents")
  }

  /** BPE-ish regex: letter runs, digit runs, single other non-space —
    * same dialect-neutral pattern in Java regex and RE2.
    */
  private[queries] val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  private val stop: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和"))
  private val langs = stop.keys.toSeq.sorted // de, en, es, fr, zh

  private def scoreSqlDuck(lang: String): String =
    s"len(list_filter(s, t -> list_contains([${stop(lang).map(w => s"'$w'").mkString(",")}], t)))"

  // ---------------------------------------------------------------- q34
  /** Token statistics per (lang, source): whitespace tokens, distinct
    * vocabulary, longest token, BPE-ish regex token count.
    */
  def q34(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.TextStats
      .tokenStats(docs(spark, sfDir), "text", BpePattern, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        round(col("avg_tokens"), 6).as("avg_tokens"), col("max_tok_len"),
        col("n_bpe_tokens"), col("n_vocab"))
      .orderBy(col("lang"), col("source"))

  val q34Sql: String =
    s"""WITH d AS (
       |  SELECT lang, source, doc_id, string_split(text, ' ') AS s, text FROM documents),
       |per_doc AS (
       |  SELECT lang, source, doc_id, len(s)::BIGINT AS n_toks,
       |    list_max(list_transform(s, t -> length(t)))::INT AS max_tok_len,
       |    len(regexp_extract_all(text, '$BpePattern'))::BIGINT AS n_bpe
       |  FROM d),
       |per_group AS (
       |  SELECT lang, source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |    CAST(SUM(n_toks) AS BIGINT) / COUNT(*) AS avg_tokens,
       |    MAX(max_tok_len) AS max_tok_len,
       |    CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
       |  FROM per_doc GROUP BY lang, source),
       |vocab AS (
       |  SELECT lang, source, COUNT(DISTINCT tok) AS n_vocab FROM (
       |    SELECT lang, source, unnest(s) AS tok FROM d)
       |  GROUP BY lang, source)
       |SELECT lang, source, n_docs, n_tokens, ROUND(avg_tokens, 6) AS avg_tokens,
       |  max_tok_len, n_bpe_tokens, n_vocab
       |FROM per_group JOIN vocab USING (lang, source)
       |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Heuristic language-ID (stopword-occurrence argmax, alphabetical
    * tie-break) vs the labeled lang: a confusion matrix.
    */
  def q35(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.TextStats
      .withPredictedLanguage(docs(spark, sfDir), "text", stop.toSeq.sortBy(_._1))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  val q35Sql: String = {
    val scoreCols = langs.map(l => s"${scoreSqlDuck(l)} AS s_$l").mkString(",\n    ")
    val caseChain = langs.init.map { l =>
      val conds = langs.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n      ")
    s"""WITH scored AS (
       |  SELECT lang,
       |    $scoreCols
       |  FROM (SELECT lang, string_split(text, ' ') AS s FROM documents))
       |SELECT lang,
       |  CASE $caseChain ELSE '${langs.last}' END AS predicted,
       |  COUNT(*) AS n
       |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
  }

  // ---------------------------------------------------------------- q36
  /** Quality scoring: length/stopword/short-token signals combined
    * into a deterministic [0,1] score, bucketed per lang.
    */
  def q36(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.TextStats
      .withQualityScore(docs(spark, sfDir), "text",
        stop.values.flatten.toSeq.distinct.sorted)
      .withColumn("bucket",
        when(col("score") >= 0.7, "high")
          .when(col("score") >= 0.45, "medium").otherwise("low"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        round((sum(col("score").cast("decimal(38,12)")).cast("double") /
          count(lit(1))), 6).as("avg_score"))
      .orderBy(col("lang"), col("bucket"))

  val q36Sql: String = {
    val allStops = stop.values.flatten.toSeq.distinct.sorted.map(w => s"'$w'").mkString(",")
    s"""WITH d AS (
       |  SELECT lang, doc_id, n_chars, string_split(text, ' ') AS s FROM documents),
       |scored AS (
       |  SELECT lang,
       |    LEAST(1.0, len(s) / 100.0) * 0.5
       |      + (len(list_filter(s, t -> list_contains([$allStops], t))) / CAST(len(s) AS DOUBLE)) * 0.25
       |      + (1.0 - len(list_filter(s, t -> length(t) <= 2)) / CAST(len(s) AS DOUBLE)) * 0.25 AS score
       |  FROM d),
       |bucketed AS (
       |  SELECT lang, score,
       |    CASE WHEN score >= 0.7 THEN 'high'
       |         WHEN score >= 0.45 THEN 'medium' ELSE 'low' END AS bucket
       |  FROM scored)
       |SELECT lang, bucket, COUNT(*) AS n,
       |  ROUND(CAST(SUM(CAST(score AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS avg_score
       |FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin
  }

  // ---------------------------------------------------------------- q37
  /** Winnowing fingerprints: char 8-gram poly-hashes, window-16 minima,
    * distinct selected hashes, reduced to a bounded row per document
    * with an order-independent checksum.
    *
    * Runs as one native O(L) pass ([[graft.functions.WinnowStats]]:
    * rolling hash + monotonic-deque minima) — the declarative
    * `transform(sequence…, array_min(slice…))` form it replaced is
    * O(L·(k+w)) and was a bench hot spot; the oracle still computes
    * that naive form, pinning the rolling arithmetic to the spec.
    */
  def q37(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.TextStats
      .withWinnowStats(docs(spark, sfDir), "text", k = 8, w = 16)
      .select(col("doc_id"), col("ws.n_kgrams").as("n_kgrams"),
        col("ws.n_selected").as("n_selected"), col("ws.checksum").as("checksum"),
        col("ws.min_fp").as("min_fp"), col("ws.max_fp").as("max_fp"))
      .orderBy(col("doc_id"))

  val q37Sql: String = {
    val k = 8; val w = 16
    val ph = graft.functions.PolyHash
    s"""WITH kh AS (
       |  SELECT doc_id,
       |    [list_reduce(list_prepend(0::BIGINT, [unicode(c)::BIGINT for c in string_split(substring(text, i, $k), '')]), (acc, c) -> (acc * ${ph.Base} + c) % ${ph.Mod}) for i in range(1, length(text) - ${k - 2})] AS kh
       |  FROM documents WHERE length(text) >= ${k + w - 1}),
       |sel AS (
       |  SELECT doc_id, len(kh) AS n_kgrams,
       |    list_distinct([list_min(kh[i:i+${w - 1}]) for i in range(1, len(kh) - ${w - 2})]) AS sel
       |  FROM kh)
       |SELECT doc_id, n_kgrams, len(sel) AS n_selected,
       |  list_reduce(list_prepend(0::BIGINT, sel), (acc, v) -> (acc + v) % ${ph.Mod}) AS checksum,
       |  list_min(sel) AS min_fp, list_max(sel) AS max_fp
       |FROM sel ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q52
  /** Reproducible stratified sampling — the training-data subsampling
    * primitive. Membership is `poly_hash(text) mod 100 < rate(lang)`:
    * content-hash-based, so the sample is stable across runs, engines,
    * partitionings and cluster sizes (seeded `sample()` is none of
    * those), and rates are per-stratum (downsample dominant en, keep
    * all zh).
    */
  def q52(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.TextStats
      .withSampleBucket(docs(spark, sfDir), "text", buckets = 100)
      .withColumnRenamed("sample_bucket", "bucket")
      .withColumn("rate",
        when(col("lang") === "en", 20)
          .when(col("lang") === "zh", 100)
          .otherwise(50))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("bucket") < col("rate"), 1)).as("n_sampled"),
        min(when(col("bucket") < col("rate"), col("doc_id"))).as("first_kept"))
      .orderBy(col("lang"))

  val q52Sql: String =
    s"""WITH d AS (
       |  SELECT lang, doc_id,
       |    ${graft.functions.PolyHash.duckdbSql("text")} % 100 AS bucket,
       |    CASE WHEN lang = 'en' THEN 20 WHEN lang = 'zh' THEN 100 ELSE 50 END AS rate
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_total,
       |  COUNT(CASE WHEN bucket < rate THEN 1 END) AS n_sampled,
       |  MIN(CASE WHEN bucket < rate THEN doc_id END) AS first_kept
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q59
  /** N-gram repetition quality per language — the Gopher-style
    * machine-text filters ([[graft.llm.TextStats.repetitionStats]]):
    * average top-2-gram share, average duplicate-3-gram share, and
    * the count of documents over the repetition threshold. Per-doc
    * fractions are long/long double divisions rounded to 6 decimals,
    * so the per-language decimal averages are engine-exact.
    */
  def q59(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    graft.llm.TextStats.repetitionStats(d, "doc_id", "text")
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(graft.Num.davg(col("top_gram_frac"), 8), 6).as("avg_top2_frac"),
        round(graft.Num.davg(col("dup_gram_frac"), 8), 6).as("avg_dup3_frac"),
        sum(when(col("top_gram_frac") >= 0.2, 1L).otherwise(0L)).as("n_repetitive"))
      .orderBy(col("lang"))
  }

  val q59Sql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS s FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |g2 AS (SELECT doc_id, unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS gram
       |       FROM base),
       |c2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY doc_id, gram),
       |t2 AS (SELECT doc_id,
       |         ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS topf
       |       FROM c2 GROUP BY doc_id),
       |g3 AS (SELECT doc_id,
       |         unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)]) AS gram
       |       FROM base),
       |c3 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g3 GROUP BY doc_id, gram),
       |d3 AS (SELECT doc_id,
       |         ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
       |           / CAST(SUM(c) AS DOUBLE), 6) AS dupf
       |       FROM c3 GROUP BY doc_id),
       |j AS (SELECT base.doc_id, base.lang, topf, dupf
       |      FROM base JOIN t2 USING (doc_id) JOIN d3 USING (doc_id))
       |SELECT lang, COUNT(*) AS n_docs,
       |  ROUND(${graft.Num.davgSql("topf", 8)}, 6) AS avg_top2_frac,
       |  ROUND(${graft.Num.davgSql("dupf", 8)}, 6) AS avg_dup3_frac,
       |  CAST(SUM(CASE WHEN topf >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q63
  /** PII redaction ([[graft.llm.Redact]]): the synthetic tables carry
    * no organic PII, so the query first composes deterministic contact
    * strings from customer keys (phone only on even keys, email only
    * on keys divisible by 3 — the counts must genuinely vary), then
    * runs the ordered ruleset. Everything is in-row regex work; the
    * oracle replays the identical construction and patterns (RE2 ∩
    * Java regex subset, 'g' flag on the DuckDB side).
    */
  def q63(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))
    val contact = c.withColumn("contact", concat(
      col("c_name"),
      when(col("c_custkey") % 2 === 0, concat(lit(" ph "),
        lpad((col("c_custkey") % 100).cast("string"), 2, "0"), lit("-"),
        lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("c_nationkey").cast("long") * 173 % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("c_custkey") % 3 === 0, concat(lit(" em "),
        lower(col("c_mktsegment")), lit("."), col("c_custkey").cast("string"),
        lit("@example.com"))).otherwise(lit("")),
      lit(" end")))
    graft.llm.Redact.redact(contact, "contact")
      .select(col("c_custkey"), col("redacted"),
        col("n_phone"), col("n_email"), col("n_num"))
      .orderBy(col("c_custkey"))
  }

  val q63Sql: String =
    """WITH contact AS (
      |  SELECT c_custkey,
      |    c_name ||
      |    CASE WHEN c_custkey % 2 = 0 THEN ' ph ' ||
      |      lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-' ||
      |      lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
      |      lpad(CAST(CAST(c_nationkey AS BIGINT) * 173 % 10000 AS VARCHAR), 4, '0')
      |      ELSE '' END ||
      |    CASE WHEN c_custkey % 3 = 0 THEN ' em ' ||
      |      lower(c_mktsegment) || '.' || CAST(c_custkey AS VARCHAR) || '@example.com'
      |      ELSE '' END || ' end' AS s0
      |  FROM customer),
      |r1 AS (
      |  SELECT c_custkey,
      |    CAST(len(regexp_extract_all(s0, '\d{2}-\d{3}-\d{4}')) AS INT) AS n_phone,
      |    regexp_replace(s0, '\d{2}-\d{3}-\d{4}', '[PHONE]', 'g') AS s1
      |  FROM contact),
      |r2 AS (
      |  SELECT c_custkey, n_phone,
      |    CAST(len(regexp_extract_all(s1, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_email,
      |    regexp_replace(s1, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g') AS s2
      |  FROM r1)
      |SELECT c_custkey,
      |  regexp_replace(s2, '\d{4,}', '[NUM]', 'g') AS redacted,
      |  n_phone, n_email,
      |  CAST(len(regexp_extract_all(s2, '\d{4,}')) AS INT) AS n_num
      |FROM r2 ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Vocabulary build + token-id encoding ([[graft.llm.Vocab]]): ids
    * rank by (freq desc, token asc) — deterministic across engines —
    * and the encoded corpus is the (doc_id, pos, token_id) stream a
    * training pipeline ships. Corpus-scale work is one partial-
    * aggregated count and one broadcast join; only the |V|-sized
    * ranking runs in a single partition.
    */
  def q65(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val vocab = graft.llm.Vocab.build(d, "text")
    graft.llm.Vocab.encode(d, "doc_id", "text", vocab)
      .orderBy(col("doc_id"), col("pos"))
  }

  val q65Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, CAST(i AS INT) AS pos, s[CAST(i AS INT) + 1] AS tok
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
      |  CROSS JOIN range(0, 1024) r(i)
      |  WHERE i < len(s) AND s[CAST(i AS INT) + 1] <> ''),
      |vocab AS (
      |  SELECT tok,
      |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS INT) AS token_id
      |  FROM toks GROUP BY tok)
      |SELECT doc_id, pos, token_id
      |FROM toks JOIN vocab USING (tok)
      |ORDER BY doc_id, pos""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Overlapping-window chunking ([[graft.llm.Chunker]]): 32-token
    * windows at stride 24 — the training-sample prep stage. The
    * portable rolling hash fingerprints each window for chunk-level
    * dedup; chunk counts come from exact integer ceil-division.
    */
  def q67(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.Chunker.chunk(docs(spark, sfDir), "doc_id", "text",
        window = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_id"))

  val q67Sql: String = {
    val ph = graft.functions.PolyHash
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
       |nch AS (
       |  SELECT doc_id, s,
       |    CASE WHEN len(s) <= 32 THEN 1
       |         ELSE CAST((len(s) - 32 + 23) // 24 AS INT) + 1 END AS nch
       |  FROM base),
       |ch AS (
       |  SELECT doc_id, CAST(k AS INT) AS chunk_id,
       |    s[CAST(k AS INT) * 24 + 1 : CAST(k AS INT) * 24 + 32] AS chunk
       |  FROM nch CROSS JOIN range(0, 1024) r(k) WHERE k < nch)
       |SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS n_tokens,
       |  ${ph.duckdbSql("array_to_string(chunk, ' ')")} AS chunk_hash
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ---------------------------------------------------------------- q70
  /** Concat-and-cut sequence packing ([[graft.llm.Packer]]): documents
    * laid end-to-end per hash bucket, cut every 256 tokens; output is
    * the per-(bucket, batch) fill summary. Buckets are the
    * parallelism unit — packing is sequential only within a bucket.
    */
  def q70(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.Packer.pack(docs(spark, sfDir), "doc_id", "text",
        capacity = 256, buckets = 8)
      .groupBy(col("bucket"), col("batch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("bucket"), col("batch"))

  val q70Sql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, bucket, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev_cum
      |  FROM d)
      |SELECT bucket, prev_cum // 256 AS batch, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      |FROM c GROUP BY bucket, batch ORDER BY bucket, batch""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Bigram language-model head: the 50 most frequent adjacent-token
    * pairs with conditional probability P(w2 | w1). cond_p is a
    * double division of the same two BIGINTs in both engines —
    * bit-identical; ties in cnt break on (w1, w2).
    */
  def q74(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.TextStats.bigramModel(docs(spark, sfDir), "text")
      .select(col("w1"), col("w2"), col("cnt"), col("ctx_cnt"),
        round(col("cond_p"), 6).as("cond_p"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(50)

  val q74Sql: String =
    """WITH d AS (SELECT string_split(text, ' ') AS s FROM documents),
      |bg AS (SELECT unnest(s[1:len(s)-1]) AS w1, unnest(s[2:len(s)]) AS w2
      |       FROM d WHERE len(s) >= 2),
      |c AS (SELECT w1, w2, COUNT(*) AS cnt FROM bg GROUP BY w1, w2),
      |t AS (SELECT w1, w2, cnt,
      |        CAST(SUM(cnt) OVER (PARTITION BY w1) AS BIGINT) AS ctx_cnt
      |      FROM c)
      |SELECT w1, w2, cnt, ctx_cnt,
      |  ROUND(cnt / CAST(ctx_cnt AS DOUBLE), 6) AS cond_p
      |FROM t ORDER BY cnt DESC, w1, w2 LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Heavy hitters without a full-vocabulary shuffle: a mergeable
    * Misra–Gries candidate pass ([[graft.functions.FreqItemsAgg]],
    * capacity 256 ⇒ every token with share > 1/257 guaranteed
    * surviving), then an exact re-count of candidates only, filtered
    * at share > 1/200 — above the guarantee line, so the result is
    * exact and independent of partition/merge order. At 100 TB this
    * shuffles 256 counters per partition + the ~dozens of candidate
    * keys, never the full token key space.
    */
  def q85(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = docs(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val sketch = toks.agg(
      expr("freq_candidates(tok, 256)").as("cands"),
      count(lit(1)).as("total"))
    val cands = sketch.select(explode(col("cands")).as("tok"))
    toks.join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(sketch.select(col("total"))))
      .filter(col("n") * 200 > col("total"))
      .select(col("tok"), col("n"),
        round(col("n") / col("total").cast("double"), 6).as("share"))
      .orderBy(col("n").desc, col("tok"))
  }

  val q85Sql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |ne AS (SELECT tok FROM toks WHERE tok <> ''),
      |t AS (SELECT COUNT(*) AS total FROM ne),
      |c AS (SELECT tok, COUNT(*) AS n FROM ne GROUP BY tok)
      |SELECT tok, n, ROUND(n / CAST(total AS DOUBLE), 6) AS share
      |FROM c, t WHERE n * 200 > total ORDER BY n DESC, tok""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Per-document bigram LM familiarity
    * ([[graft.llm.TextStats.bigramSurprise]]): the 20 documents whose
    * adjacent-token pairs the corpus model finds least probable — the
    * log-free perplexity filter that catches gibberish / boilerplate
    * phrasing a unigram quality score misses. Every smoothed
    * probability is one bigint/bigint double division, so the ranking
    * is engine-exact.
    */
  def q89(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.TextStats.bigramSurprise(docs(spark, sfDir), "doc_id", "text")
      .orderBy(col("avg_p"), col("doc_id"))
      .limit(20)

  val q89Sql: String =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
      |p AS (SELECT doc_id, unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS g
      |      FROM base WHERE len(s) >= 2),
      |pp AS (SELECT doc_id, string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2 FROM p),
      |m AS (SELECT w1, w2, COUNT(*) AS cnt FROM pp GROUP BY 1, 2),
      |cx AS (SELECT w1, SUM(cnt) AS ctx_cnt FROM m GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT w2) AS vs FROM m)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(CAST(SUM(CAST(ROUND((m.cnt + 1) / CAST(cx.ctx_cnt + v.vs AS DOUBLE), 9)
      |    AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*), 6) AS avg_p
      |FROM pp JOIN m USING (w1, w2) JOIN cx USING (w1) CROSS JOIN v
      |GROUP BY doc_id ORDER BY avg_p, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Per-(source, lang) quota sampling — the domain-balancing step of
    * a web-scale training mix: keep at most 50 documents per stratum,
    * chosen by content-hash order (stable across runs, engines and
    * partitionings, like q52's buckets), and pin the exact kept set
    * with its doc-id sum. The declared form ranks with one window over
    * each stratum; at 100 TB the same selection runs as a two-pass
    * hash-histogram threshold (find the 50th-smallest hash per
    * stratum, then filter), which needs no per-stratum sort.
    */
  def q91(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"), col("lang"))
      .orderBy(col("h"), col("doc_id"))
    docs(spark, sfDir)
      .select(col("source"), col("lang"), col("doc_id"),
        GraftFunctions.polyHash("text").as("h"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("rn") <= 50, 1)).as("n_kept"),
        sum(when(col("rn") <= 50, col("doc_id"))).as("sum_kept_ids"))
      .orderBy(col("source"), col("lang"))
  }

  val q91Sql: String =
    s"""WITH d AS (
       |  SELECT source, lang, doc_id,
       |    ${graft.functions.PolyHash.duckdbSql("text")} AS h FROM documents),
       |r AS (SELECT source, lang, doc_id,
       |  row_number() OVER (PARTITION BY source, lang ORDER BY h, doc_id) AS rn FROM d)
       |SELECT source, lang, COUNT(*) AS n_total,
       |  COUNT(CASE WHEN rn <= 50 THEN 1 END) AS n_kept,
       |  CAST(SUM(CASE WHEN rn <= 50 THEN doc_id END) AS BIGINT) AS sum_kept_ids
       |FROM r GROUP BY source, lang ORDER BY source, lang""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Chi-square independence cross-tab over (lang × source): observed
    * counts against the independence expectation rᵢ·cⱼ/N, with each
    * cell's χ² contribution in cleared-fraction integer form
    * (o·N − rᵢ·cⱼ)²/(N·rᵢ·cⱼ) — one bigint/bigint double division per
    * cell, engine-exact. The full grid (including never-observed
    * cells, which proper χ² must count) is the cross join of the two
    * marginal tables — cardinality-bounded, never corpus-sized; the
    * corpus is touched once by the counts aggregation.
    */
  def q97(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = docs(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      // grid-bounded (langs × sources); materialized once so the four
      // consumers below share a single corpus scan
      .transform(graft.Pin.cut)
    val langT = counts.groupBy(col("lang")).agg(sum(col("n")).as("rt"))
    val srcT = counts.groupBy(col("source")).agg(sum(col("n")).as("ct"))
    val tot = counts.agg(sum(col("n")).as("nn"))
    langT.crossJoin(srcT).crossJoin(broadcast(tot))
      .join(counts, Seq("lang", "source"), "left")
      .withColumn("n_obs", coalesce(col("n"), lit(0L)))
      .withColumn("dev", col("n_obs") * col("nn") - col("rt") * col("ct"))
      .select(col("lang"), col("source"), col("n_obs"),
        round((col("rt") * col("ct")).cast("double") / col("nn").cast("double"), 6)
          .as("expected"),
        round((col("dev") * col("dev")).cast("double") /
          (col("nn") * col("rt") * col("ct")).cast("double"), 6).as("contrib"))
      .orderBy(col("lang"), col("source"))
  }

  val q97Sql: String =
    """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, SUM(n) AS rt FROM c GROUP BY 1),
      |s AS (SELECT source, SUM(n) AS ct FROM c GROUP BY 1),
      |t AS (SELECT SUM(n) AS nn FROM c),
      |g AS (SELECT lang, source, rt, ct, nn FROM r CROSS JOIN s CROSS JOIN t)
      |SELECT g.lang, g.source, COALESCE(c.n, 0) AS n_obs,
      |  ROUND(CAST(rt * ct AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS expected,
      |  ROUND(CAST((COALESCE(c.n, 0) * nn - rt * ct) * (COALESCE(c.n, 0) * nn - rt * ct)
      |    AS DOUBLE) / CAST(nn * rt * ct AS DOUBLE), 6) AS contrib
      |FROM g LEFT JOIN c ON g.lang = c.lang AND g.source = c.source
      |ORDER BY g.lang, g.source""".stripMargin

  // ---------------------------------------------------------------- q100
  /** Weighted stratum allocation + deterministic selection: apportion
    * a global budget of 100 sample slots across languages
    * proportionally to stratum size by largest-remainder (Hamilton)
    * rounding — exact integer arithmetic, remainder ties broken by
    * lang — then select each stratum's quota by content-hash order
    * (stable across runs/engines/partitionings, as q52/q91). The
    * apportionment runs on the marginal table (5 rows); only the
    * final selection touches per-document rows, with one window per
    * stratum. Output pins the kept set via its doc-id sum.
    */
  def q100(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 100
    val strata = docs(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    val tot = strata.agg(sum(col("n_total")).as("nn"))
    val alloc = strata.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($k * n_total) div nn"))
      .withColumn("rem", expr(s"($k * n_total) % nn"))
      .withColumn("extra_rank",
        row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
      .withColumn("n_extra",
        lit(k) - sum(col("base")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("quota",
        (col("base") + when(col("extra_rank") <= col("n_extra"), 1L).otherwise(0L))
          .as("quota"))
      .select(col("lang"), col("n_total"), col("quota"))
    val ranked = docs(spark, sfDir)
      .select(col("lang"), col("doc_id"), GraftFunctions.polyHash("text").as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
    ranked.join(broadcast(alloc), "lang")
      .groupBy(col("lang"))
      .agg(first(col("n_total")).as("n_total"), first(col("quota")).as("quota"),
        count(when(col("rn") <= col("quota"), 1)).as("n_kept"),
        sum(when(col("rn") <= col("quota"), col("doc_id"))).as("sum_kept_ids"))
      .orderBy(col("lang"))
  }

  val q100Sql: String =
    s"""WITH strata AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total FROM documents GROUP BY 1),
       |tot AS (SELECT SUM(n_total) AS nn FROM strata),
       |alloc AS (
       |  SELECT lang, n_total,
       |    (100 * n_total) // nn AS base, (100 * n_total) % nn AS rem,
       |    ROW_NUMBER() OVER (ORDER BY (100 * n_total) % nn DESC, lang) AS extra_rank,
       |    100 - SUM((100 * n_total) // nn) OVER () AS n_extra
       |  FROM strata CROSS JOIN tot),
       |q AS (SELECT lang, n_total,
       |  CAST(base + CASE WHEN extra_rank <= n_extra THEN 1 ELSE 0 END
       |    AS BIGINT) AS quota FROM alloc),
       |ranked AS (
       |  SELECT lang, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY ${graft.functions.PolyHash.duckdbSql("text")}, doc_id) AS rn
       |  FROM documents)
       |SELECT r.lang, q.n_total, q.quota,
       |  COUNT(CASE WHEN r.rn <= q.quota THEN 1 END) AS n_kept,
       |  CAST(SUM(CASE WHEN r.rn <= q.quota THEN r.doc_id END) AS BIGINT) AS sum_kept_ids
       |FROM ranked r JOIN q ON r.lang = q.lang
       |GROUP BY r.lang, q.n_total, q.quota ORDER BY r.lang""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Line-format roundtrip ([[graft.sources.TextFormats]]): documents
    * written to gzip JSONL and fully-quoted CSV, read back with
    * explicit schemas, and aggregated per lang with a content-hash sum
    * — so row counts, numeric columns AND every text byte must survive
    * both encodings (a lossy quote/escape/charset bug becomes a hash
    * mismatch). The oracle computes the same aggregate straight from
    * parquet: the interchange formats must be invisible to results.
    */
  def q114(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.TextFormats
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val base = graft.Tables.scratchDir(spark, "fmt", sfDir)
    TextFormats.writeJsonl(d, s"$base/jsonl")
    TextFormats.writeCsv(d, s"$base/csv")
    def agg(df: DataFrame, fmt: String): DataFrame =
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(GraftFunctions.polyHash("text")).as("sum_hash"))
        .select(lit(fmt).as("fmt"), col("lang"), col("n_docs"),
          col("sum_chars"), col("sum_hash"))
    agg(TextFormats.readCsv(spark, s"$base/csv", TextFormats.documentsSchema), "csv")
      .unionByName(agg(
        TextFormats.readJsonl(spark, s"$base/jsonl", TextFormats.documentsSchema),
        "jsonl"))
      .orderBy(col("fmt"), col("lang"))
  }

  val q114Sql: String =
    s"""WITH h AS (
       |  SELECT lang, n_chars,
       |    ${graft.functions.PolyHash.duckdbSql("text")} AS ph FROM documents),
       |a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(ph) AS BIGINT) AS sum_hash FROM h GROUP BY 1)
       |SELECT 'csv' AS fmt, lang, n_docs, sum_chars, sum_hash FROM a
       |UNION ALL
       |SELECT 'jsonl', lang, n_docs, sum_chars, sum_hash FROM a
       |ORDER BY fmt, lang""".stripMargin

  // ---------------------------------------------------------------- q168
  /** XML roundtrip ([[graft.sources.TextFormats.writeXml]] /
    * `readXml` — Spark 4's built-in XML source): q114's contract
    * extended to the remaining interchange format a pipeline meets at
    * its edges (feed drops, sitemap-style exports). Documents are
    * written as gzip `<doc>` elements, read back with the explicit
    * schema, and aggregated per lang with the content-hash sum, so
    * entity escaping, whitespace handling and numeric parsing must
    * all be byte-lossless — the oracle computes the same aggregate
    * straight from parquet.
    */
  def q168(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.TextFormats
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val base = graft.Tables.scratchDir(spark, "fmtxml", sfDir)
    TextFormats.writeXml(d, s"$base/xml")
    TextFormats.readXml(spark, s"$base/xml", TextFormats.documentsSchema)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(GraftFunctions.polyHash("text")).as("sum_hash"))
      .select(lit("xml").as("fmt"), col("lang"), col("n_docs"),
        col("sum_chars"), col("sum_hash"))
      .orderBy(col("lang"))
  }

  val q168Sql: String =
    s"""WITH h AS (
       |  SELECT lang, n_chars,
       |    ${graft.functions.PolyHash.duckdbSql("text")} AS ph FROM documents)
       |SELECT 'xml' AS fmt, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(ph) AS BIGINT) AS sum_hash
       |FROM h GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q127
  /** Temperature-based domain mixture sampling — the
    * mixture-flattening step of a multi-domain training mix (the
    * τ-sampling of Conneau & Lample's XLM, arXiv:1901.07291 §3.1, and
    * the up/down-weighting behind GPT-3-style data mixtures): each
    * source's share of a global token budget is proportional to
    * `tokens^τ` at τ = 1/2, so large domains are down-sampled and
    * small ones up-sampled relative to natural proportions. All
    * arithmetic is exact — the weight is the integer
    * `floor(sqrt(tokens))` (IEEE sqrt of an exactly-representable
    * long is correctly rounded in both engines), the budget is an
    * integer floor division of the weight share, and the selection is
    * the greedy content-hash-ordered prefix whose cumulative tokens
    * fit the budget (stable across runs/engines/partitionings, as
    * q52/q91/q100; the doc that crosses the line is excluded).
    *
    * Scale shape: the stratum table is grid-bounded and broadcast;
    * per-document work is one window per stratum keyed on (hash, id)
    * — q91's shape, with the same documented two-pass
    * histogram-threshold alternative at 100 TB.
    */
  def q127(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budgetTokens = 8000
    val toks = docs(spark, sfDir).select(col("source"), col("doc_id"),
      GraftFunctions.polyHash("text").as("h"),
      size(split(col("text"), " ")).cast("long").as("nt"))
    val budg = toks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"), sum(col("nt")).as("tokens_total"))
      .withColumn("w",
        floor(sqrt(col("tokens_total").cast("double"))).cast("long"))
      .crossJoin(broadcast(
        toks.groupBy(col("source")).agg(sum(col("nt")).as("t"))
          .agg(sum(floor(sqrt(col("t").cast("double"))).cast("long")).as("sw"))))
      .withColumn("token_budget", expr(s"($budgetTokens * w) div sw"))
    val ranked = toks.withColumn("cum",
      sum(col("nt")).over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
    ranked.join(broadcast(budg), "source")
      .groupBy(col("source"))
      .agg(first(col("n_total")).as("n_total"),
        first(col("tokens_total")).as("tokens_total"),
        first(col("w")).as("weight"),
        first(col("token_budget")).as("token_budget"),
        count(when(col("cum") <= col("token_budget"), 1)).as("n_kept"),
        sum(when(col("cum") <= col("token_budget"), col("nt"))).as("tokens_kept"),
        sum(when(col("cum") <= col("token_budget"), col("doc_id"))).as("sum_kept_ids"))
      .orderBy(col("source"))
  }

  val q127Sql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    ${graft.functions.PolyHash.duckdbSql("text")} AS h,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents),
       |wts AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
       |    CAST(SUM(nt) AS BIGINT) AS tokens_total,
       |    CAST(floor(sqrt(CAST(CAST(SUM(nt) AS BIGINT) AS DOUBLE))) AS BIGINT) AS w
       |  FROM d GROUP BY source),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sw FROM wts),
       |budg AS (
       |  SELECT source, n_total, tokens_total, w,
       |    (8000 * w) // sw AS token_budget
       |  FROM wts CROSS JOIN tot),
       |ranked AS (
       |  SELECT source, doc_id, nt,
       |    CAST(SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id)
       |      AS BIGINT) AS cum
       |  FROM d)
       |SELECT r.source, b.n_total, b.tokens_total, b.w AS weight,
       |  CAST(b.token_budget AS BIGINT) AS token_budget,
       |  COUNT(CASE WHEN r.cum <= b.token_budget THEN 1 END) AS n_kept,
       |  CAST(SUM(CASE WHEN r.cum <= b.token_budget THEN r.nt END)
       |    AS BIGINT) AS tokens_kept,
       |  CAST(SUM(CASE WHEN r.cum <= b.token_budget THEN r.doc_id END)
       |    AS BIGINT) AS sum_kept_ids
       |FROM ranked r JOIN budg b USING (source)
       |GROUP BY r.source, b.n_total, b.tokens_total, b.w, b.token_budget
       |ORDER BY r.source""".stripMargin

  // ---------------------------------------------------------------- q128
  /** Tokenize-and-pack: the training-batch producer — the learned BPE
    * tokenizer (q112's merges applied by q120's encode) feeds the
    * concat-and-cut packer (q70's [[graft.llm.Packer]], here
    * [[graft.llm.Packer.packCounts]] over SUBWORD counts rather than
    * whitespace tokens). Output is the per-(bucket, batch) fill
    * summary with a subword-id checksum, so merge learning, encode,
    * id assignment AND batch assembly are hash-checked as one chain —
    * the last mile between a cleaned corpus and a training shard.
    */
  def q128(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val (_, vocab) = graft.llm.Vocab.bpeMergesWithVocab(d, "text", numMerges = 4)
    // per-doc subword counts are consumed twice (the pack assignment
    // and the join back); the pin stops the corpus-sized encode
    // stream + window from executing twice (§2.4)
    val counts = graft.llm.Vocab.bpeEncodeFromVocab(d, "doc_id", "text", vocab)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_subwords"),
        sum(col("subword_id").cast("long")).as("id_sum"))
    graft.Pin.during(counts) {
      graft.llm.Packer
        .packCounts(counts, "doc_id", "n_subwords", capacity = 256, buckets = 8)
        .join(counts, "doc_id")
        .groupBy(col("bucket"), col("batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("sum_subwords"),
          sum(col("id_sum")).as("sum_subword_ids"))
        .orderBy(col("bucket"), col("batch"))
        .transform(graft.Pin.cut)
    }
  }

  val q128Sql: String =
    s"""WITH ${TextTokenizers.bpeCorpusCte},
       |${TextTokenizers.bpeRoundsCtes(4, applyLast = true)},
       |wordsubs AS (
       |  SELECT replace(sym, ' ', '') AS word, string_split(sym, ' ') AS subs FROM w4),
       |toks AS (
       |  SELECT doc_id, t.wpos AS wpos, t.word AS word FROM (
       |    SELECT doc_id, unnest([{'wpos': i, 'word': s[i]} for i in range(1, len(s) + 1)]) AS t
       |    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
       |  WHERE length(t.word) > 0),
       |subs AS (
       |  SELECT doc_id, wpos, u.spos AS spos, u.subword AS subword FROM (
       |    SELECT doc_id, wpos,
       |      unnest([{'spos': i, 'subword': subs[i]} for i in range(1, len(subs) + 1)]) AS u
       |    FROM toks JOIN wordsubs USING (word))),
       |stream AS (SELECT doc_id, subword FROM subs),
       |ids AS (
       |  SELECT subword,
       |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, subword) AS INT) AS subword_id
       |  FROM stream GROUP BY subword),
       |dc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_subwords,
       |    CAST(SUM(subword_id) AS BIGINT) AS id_sum
       |  FROM stream JOIN ids USING (subword) GROUP BY doc_id),
       |c AS (
       |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket, n_subwords, id_sum,
       |    CAST(COALESCE(SUM(n_subwords) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev_cum
       |  FROM dc)
       |SELECT bucket, prev_cum // 256 AS batch, COUNT(*) AS n_docs,
       |  CAST(SUM(n_subwords) AS BIGINT) AS sum_subwords,
       |  CAST(SUM(id_sum) AS BIGINT) AS sum_subword_ids
       |FROM c GROUP BY bucket, batch ORDER BY bucket, batch""".stripMargin

  // ---------------------------------------------------------------- q133
  /** LM training-example assembly ([[graft.llm.LmData.examples]]):
    * 4-token context → next-token prediction rows with 2 deterministic
    * NCE negative draws per example (hash-rank into the
    * frequency-sorted vocabulary). The oracle rebuilds the windows,
    * the vocabulary ranking, and every negative draw — the full
    * (context, word, label) training set is hash-checked.
    */
  def q133(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.LmData.examples(docs(spark, sfDir), "doc_id", "text",
        context = 4, negatives = 2)
      .orderBy(col("doc_id"), col("pos"), col("label").desc, col("word"))

  val q133Sql: String = {
    val ph = graft.functions.PolyHash
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS s FROM documents),
       |exs AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS pos,
       |    array_to_string(s[p-4:p-1], ' ') AS context, s[p] AS target
       |  FROM toks, UNNEST(range(5, len(s) + 1)) r(p)),
       |vocab AS (
       |  SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) - 1 AS BIGINT) AS rank
       |  FROM (SELECT w, COUNT(*) AS c
       |        FROM (SELECT unnest(s) AS w FROM toks) GROUP BY w)),
       |vsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
       |neg AS (
       |  SELECT e.doc_id, e.pos, e.context, vc.w
       |  FROM exs e CROSS JOIN vsize CROSS JOIN range(1, 3) t(j)
       |  JOIN vocab vc ON vc.rank =
       |    ${ph.duckdbSql("(e.context || '#' || e.target || '#' || CAST(t.j AS VARCHAR))")} % v)
       |SELECT doc_id, pos, context, target AS word, 1 AS label FROM exs
       |UNION ALL
       |SELECT doc_id, pos, context, w AS word, 0 AS label FROM neg
       |ORDER BY doc_id, pos, label DESC, word""".stripMargin
  }

  // ---------------------------------------------------------------- q144
  /** Length-weighted deterministic document sample
    * ([[graft.llm.TextStats.weightedSample]], Efraimidis–Spirakis
    * A-ES with the content poly-hash as the draw): 50 docs, odds
    * proportional to `n_chars` — the "sample by token mass, not by
    * document count" selection a mixture builder wants, reproducible
    * bit-for-bit. TakeOrdered shape: per-partition heaps, no global
    * sort.
    */
  def q144(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    graft.llm.TextStats.weightedSample(
      d.withColumn("hv", graft.functions.GraftFunctions.polyHash("text")),
      "doc_id", "n_chars", "hv", k = 50)
  }

  val q144Sql: String =
    s"""WITH h AS (
       |  SELECT doc_id, n_chars, ${graft.functions.PolyHash.duckdbSql("text")} AS hv
       |  FROM documents),
       |p AS (SELECT doc_id, n_chars, CAST(hv AS DOUBLE) / n_chars AS pri FROM h)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pri, doc_id) AS INT) AS rk,
       |  doc_id, n_chars, ROUND(pri, 6) AS pri
       |FROM p ORDER BY pri, doc_id LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q145
  /** k-anonymity audit over the (lang, source) quasi-identifiers
    * ([[graft.operators.Quality.kAnonymity]], k = 5): publishable
    * group sizes, with under-k groups suppressing `source` and
    * re-aggregating per language — the release-gate check a corpus
    * with provenance columns needs before publication, and the
    * privacy-side sibling of the q63 PII redaction pass.
    */
  def q145(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Quality
      .kAnonymity(docs(spark, sfDir), Seq("lang"), "source", k = 5L)
      .orderBy(col("lang"), coalesce(col("source"), lit("")))

  val q145Sql: String =
    """WITH c AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_rows
      |  FROM documents GROUP BY lang, source),
      |safe AS (
      |  SELECT lang, source, n_rows, false AS generalized, false AS at_risk
      |  FROM c WHERE n_rows >= 5),
      |gen AS (
      |  SELECT lang, CAST(NULL AS VARCHAR) AS source,
      |    CAST(SUM(n_rows) AS BIGINT) AS n_rows, true AS generalized,
      |    (CAST(SUM(n_rows) AS BIGINT) < 5) AS at_risk
      |  FROM c WHERE n_rows < 5 GROUP BY lang)
      |SELECT * FROM (SELECT * FROM safe UNION ALL SELECT * FROM gen)
      |ORDER BY lang, COALESCE(source, '')""".stripMargin

  // ---------------------------------------------------------------- q148
  /** Does `source` determine `lang`? The approximate-FD audit
    * ([[graft.operators.Quality.functionalDependency]], g₃ error) over
    * the documents provenance columns: per source, the majority
    * language and the exact fraction of rows breaking the dependency.
    * On a crawl corpus this is the "one feed, one language" sanity
    * check whose violations are exactly the mislabeled-language
    * candidates the q35 classifier should re-score.
    */
  def q148(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Quality
      .functionalDependency(docs(spark, sfDir), "source", "lang")
      .orderBy(col("source"))

  val q148Sql: String =
    """WITH c AS (
      |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM documents GROUP BY source, lang),
      |r AS (
      |  SELECT source, lang, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, lang) AS rk
      |  FROM c)
      |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_rhs,
      |  MAX(CASE WHEN rk = 1 THEN lang END) AS majority_lang,
      |  CAST(SUM(CASE WHEN rk <> 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_violations,
      |  ROUND(SUM(CASE WHEN rk <> 1 THEN cnt ELSE 0 END) / CAST(SUM(cnt) AS DOUBLE), 6) AS g3
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q152
  /** Skip-gram training-pair extraction (word2vec-style data prep):
    * symmetric (center, context) pairs within a ±2 window, the top-50
    * pairs by frequency, and for each a DETERMINISTIC negative sample —
    * the vocabulary word whose frequency rank equals
    * `poly_hash(center ⊔ context) mod |V|` (hash-seeded stand-in for
    * the unigram-table draw, reproducible across engines and runs).
    *
    * Scale design: pair generation is entirely in-row — a higher-order
    * `transform` over the token array emits both directions of each
    * window pair with no self-join (a positions self-join would be
    * per-doc quadratic in window size × length); the only shuffles are
    * the pair-count and vocab-count groupBys. The vocab ranking runs
    * through [[graft.operators.GlobalRank]] — partition-parallel, no
    * single-partition window even at web-corpus vocab sizes — and the
    * rank→negative join broadcasts the vocab.
    */
  def q152(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val toks = d.select(split(col("text"), " ").as("s"))
    val pairs = toks.select(explode(expr(
      """flatten(transform(s, (c, i) ->
        |  flatten(transform(slice(s, i + 2, 2), x ->
        |    array(struct(c AS center, x AS context),
        |          struct(x AS center, c AS context))))))""".stripMargin)).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
    val top = pairs.groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("center"), col("context"))
      .limit(50)
    val vocabCounts = d.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val vocab = graft.operators.GlobalRank
      .withGlobalRank(vocabCounts, Seq(col("freq").desc, col("tok")), "rank")
      .withColumn("rank", (col("rank") - 1).cast("int"))
      .select(col("tok"), col("rank"))
    val vocabSize = vocab.agg(count(lit(1)).as("vs"))
    top.crossJoin(broadcast(vocabSize))
      .withColumn("nrank", expr("poly_hash(center || ' ' || context) % vs"))
      .join(broadcast(vocab), col("nrank") === col("rank"))
      .select(col("center"), col("context"), col("cnt"), col("tok").as("neg"))
      .orderBy(col("cnt").desc, col("center"), col("context"))
  }

  val q152Sql: String = {
    val h = graft.functions.PolyHash.duckdbSql("t.center || ' ' || t.context")
    s"""WITH toks AS (SELECT string_split(text, ' ') AS s FROM documents),
       |b1 AS (SELECT unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS g
       |       FROM toks WHERE len(s) >= 2),
       |b2 AS (SELECT unnest([s[i] || ' ' || s[i+2] for i in range(1, len(s) - 1)]) AS g
       |       FROM toks WHERE len(s) >= 3),
       |fwd AS (SELECT string_split(g, ' ')[1] AS center, string_split(g, ' ')[2] AS context
       |        FROM (SELECT g FROM b1 UNION ALL SELECT g FROM b2)),
       |sym AS (SELECT center, context FROM fwd
       |        UNION ALL SELECT context AS center, center AS context FROM fwd),
       |top AS (SELECT center, context, COUNT(*) AS cnt FROM sym GROUP BY 1, 2
       |        ORDER BY cnt DESC, center, context LIMIT 50),
       |vocab AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) - 1 AS rank
       |          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |          GROUP BY tok),
       |v AS (SELECT COUNT(*) AS vs FROM vocab)
       |SELECT t.center, t.context, t.cnt, w.tok AS neg
       |FROM top t CROSS JOIN v JOIN vocab w ON w.rank = ($h) % v.vs
       |ORDER BY t.cnt DESC, t.center, t.context""".stripMargin
  }

  // ---------------------------------------------------------------- q163
  /** Collocation mining by PMI lift: rank bigrams by
    * P(ab) / (P(a)·P(b)) = c(ab)·N_tok² / (N_big·c(a)·c(b)) — the
    * log-free rational form of pointwise mutual information (the
    * ranking is order-isomorphic to PMI since log is monotone), with a
    * min-count floor of 5 against the low-frequency PMI explosion.
    * This is the phrase-vocabulary induction step (word2vec's phrase
    * pass, tokenizer multi-word entries): q89 scores DOCUMENTS by
    * average bigram probability; this scores BIGRAMS by association.
    *
    * Every factor is an exact integer; the products run in
    * DECIMAL(38,0) (Spark) / HUGEINT (oracle) so c(ab)·N_tok² cannot
    * wrap int64 even at web-corpus token counts (non-ANSI Spark wraps
    * silently where DuckDB raises — exact wide arithmetic keeps the
    * two engines honest with each other); one double division per
    * bigram, rounded once. Shuffles: bigram count, unigram count, two
    * 1-row total broadcasts, TakeOrdered top-20.
    */
  def q163(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val toks = d.select(split(col("text"), " ").as("s"))
    val bigrams = toks.select(explode(expr(
        "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), " +
          "(a, b) -> struct(a, b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val uni = d.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val nTok = uni.agg(sum(col("cw")).as("n_tok"))
    val big = bigrams.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val nBig = big.agg(sum(col("c_ab")).as("n_big"))
    big.where(col("c_ab") >= 5)
      .join(broadcast(uni.select(col("w").as("a"), col("cw").as("ca"))), "a")
      .join(broadcast(uni.select(col("w").as("b"), col("cw").as("cb"))), "b")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .withColumn("lift", round(
        (col("c_ab").cast("decimal(38,0)") * col("n_tok") * col("n_tok"))
          .cast("double") /
          (col("n_big").cast("decimal(38,0)") * col("ca") * col("cb"))
            .cast("double"), 6))
      .select(col("a"), col("b"), col("c_ab"), col("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(20)
  }

  val q163Sql: String =
    """WITH s AS (SELECT string_split(text, ' ') AS s FROM documents),
      |bg AS (
      |  SELECT string_split(g, ' ')[1] AS a, string_split(g, ' ')[2] AS b FROM (
      |    SELECT unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS g
      |    FROM s WHERE len(s) >= 2)),
      |uni AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
      |ntk AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_tok FROM uni),
      |big AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b),
      |nbg AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_big FROM big)
      |SELECT g.a, g.b, g.c_ab,
      |  ROUND(CAST(CAST(g.c_ab AS HUGEINT) * t.n_tok * t.n_tok AS DOUBLE) /
      |        CAST(CAST(n.n_big AS HUGEINT) * ua.cw * ub.cw AS DOUBLE), 6) AS lift
      |FROM big g
      |JOIN uni ua ON ua.w = g.a JOIN uni ub ON ub.w = g.b
      |CROSS JOIN ntk t CROSS JOIN nbg n
      |WHERE g.c_ab >= 5
      |ORDER BY lift DESC, g.a, g.b LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q172
  /** DSIR importance-weighted data selection (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every document in the raw pool by how much
    * its hashed-bigram distribution looks like a TARGET corpus (here
    * the `lang = 'en'` slice — the paper's target is any trusted
    * sample), then keep the top-scoring documents. The feature space
    * is the paper's hashed n-gram trick: word bigrams hashed into
    * B = 512 buckets, a bag-of-buckets Naive-Bayes model on each
    * side, add-1 smoothing; a document's importance log-weight is
    * Σ_buckets n_b · [ln p̂_target(b) − ln p̂_raw(b)] — exactly the
    * log importance ratio the paper resamples by. Selection here is
    * deterministic top-k with a doc-id tie-break (the paper's Gumbel
    * perturbation is a sampling layer on the same weights).
    *
    * Scale design: the corpus is scanned once into bigram buckets
    * (in-row poly_hash, no shuffle before the bucket aggregates);
    * both distributions are B-row tables — broadcast however big the
    * corpus; the per-document weight is one partial-aggregated
    * group-by over (doc, bucket) joined against the broadcast λ
    * table; top-k is TakeOrdered. Engine parity: all counts are
    * exact integers, one double division + LN per bucket (the q19
    * LN-round-6 precedent, here rounded at 9 then summed in exact
    * DECIMAL so per-doc accumulation is order-independent — q90's
    * idiom). Integer products (t+1)·(R+B) stay below 2⁶³ up to ~3e9
    * corpus bigrams; beyond that widen to decimal as in q163.
    */
  def q172(spark: SparkSession, sfDir: String): DataFrame = {
    val B = 512
    val d = docs(spark, sfDir)
    val bg = d.select(col("doc_id"), col("lang"), split(col("text"), " ").as("s"))
      .where(size(col("s")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("g"))
      .select(col("doc_id"), col("lang"),
        (GraftFunctions.polyHash("g") % B).as("b"))
    val raw = bg.groupBy(col("b")).agg(count(lit(1)).as("r"))
    val tgt = bg.where(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("t"))
    val buckets = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("t"))
    val tot = buckets.agg(sum(col("r")).as("rr"), sum(col("t")).as("tt"))
    val lam = buckets.crossJoin(broadcast(tot))
      .withColumn("lam",
        round(log(((col("t") + 1) * (col("rr") + B)).cast("double") /
          ((col("r") + 1) * (col("tt") + B)).cast("double")), 9)
          .cast("decimal(27,9)"))
      .select(col("b"), col("lam"))
    bg.groupBy(col("doc_id"), col("lang"), col("b")).agg(count(lit(1)).as("n"))
      .join(broadcast(lam), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).cast("int").as("n_buckets"),
        // n narrowed to decimal(10,0): a bigint × decimal(27,9)
        // product exceeds Spark's 38-digit cap and silently DROPS
        // scale (per-term ~1e-6 rounding, observed at sf0.01);
        // 10+27+1 = 38 keeps the product exact at scale 9. The scale-9
        // decimal sum is then engine-exact and its double cast
        // deterministic — no second rounding, which would sit a
        // coin-flip from the …5e-7 half-boundary
        sum(col("n").cast("decimal(10,0)") * col("lam"))
          .cast("double").as("logw"))
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(100)
  }

  val q172Sql: String = {
    val ph = graft.functions.PolyHash.duckdbSql("g")
    s"""WITH base AS (SELECT doc_id, lang, string_split(text, ' ') AS s FROM documents),
       |bg AS (SELECT doc_id, lang, $ph % 512 AS b FROM (
       |  SELECT doc_id, lang, unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS g
       |  FROM base WHERE len(s) >= 2)),
       |raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM bg GROUP BY b),
       |tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM bg WHERE lang = 'en' GROUP BY b),
       |bk AS (SELECT b, r, COALESCE(t, 0) AS t FROM raw LEFT JOIN tgt USING (b)),
       |tot AS (SELECT CAST(SUM(r) AS BIGINT) AS rr, CAST(SUM(t) AS BIGINT) AS tt FROM bk),
       |lam AS (SELECT b,
       |  CAST(ROUND(LN(CAST((t + 1) * (rr + 512) AS DOUBLE) /
       |               CAST((r + 1) * (tt + 512) AS DOUBLE)), 9) AS DECIMAL(27,9)) AS lam
       |  FROM bk CROSS JOIN tot),
       |db AS (SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY 1, 2, 3)
       |SELECT doc_id, lang, CAST(COUNT(*) AS INT) AS n_buckets,
       |  CAST(SUM(CAST(n AS DECIMAL(10,0)) * lam) AS DOUBLE) AS logw
       |FROM db JOIN lam USING (b)
       |GROUP BY doc_id, lang ORDER BY logw DESC, doc_id LIMIT 100""".stripMargin
  }

  // --------------------------------------------------------------- q173
  /** Stupid-Backoff bigram language-model scoring (Brants et al.,
    * "Large Language Models in Machine Translation", EMNLP 2007) —
    * the CCNet-style perplexity quality filter: train bigram/unigram
    * counts on the TARGET slice (`lang = 'en'`, standing in for the
    * trusted LM corpus), score every document in the pool by its mean
    * per-transition log score, and surface the WORST-scoring
    * documents — the filter's reject list. Per transition v→w:
    * S = c(vw)/c(v) if the bigram was seen, else 0.4·c(w)/N if the
    * unigram was, else 0.4²/N (two backoff penalties to the uniform
    * floor) — Stupid Backoff's whole point is that these unnormalized
    * rational scores need no discounting pass, which is why it scales
    * to web corpora.
    *
    * Scale design: LM training is two count aggregations over one
    * corpus scan; scoring joins transitions against the count tables
    * BY KEY (v), (w), (v,w) — equi-joins Spark may broadcast at this
    * vocab size but that shuffle-partition cleanly at web scale,
    * unlike a driver-side LM dictionary. N is a 1-row broadcast.
    * Engine parity: counts exact; each transition does the same
    * double division chain in both engines, one LN rounded at 9, then
    * exact DECIMAL accumulation so per-doc summation order is
    * irrelevant (q172's idiom); the final mean divides the exact sum
    * by the transition count in double — no second rounding.
    */
  def q173(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val toks = d.select(col("doc_id"), col("lang"), split(col("text"), " ").as("s"))
    val trans = toks.where(size(col("s")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), " +
          "(a, b) -> struct(a AS v, b AS w))")).as("p"))
      .select(col("doc_id"), col("lang"), col("p.v"), col("p.w"))
    val uni = toks.where(col("lang") === "en")
      .select(explode(col("s")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val big = trans.where(col("lang") === "en")
      .groupBy(col("v"), col("w")).agg(count(lit(1)).as("cb"))
    val tot = uni.agg(sum(col("cw")).as("nn"))
    trans
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
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).cast("int").as("n_trans"),
        // decimal-exact sum → double, THEN the mean division in
        // double: one deterministic rounding per transition, none at
        // the aggregate (q172's order-independence argument)
        (sum(col("ls")).cast("double") / count(lit(1))).as("avg_logscore"))
      .orderBy(col("avg_logscore").asc, col("doc_id"))
      .limit(100)
  }

  val q173Sql: String =
    """WITH base AS (SELECT doc_id, lang, string_split(text, ' ') AS s FROM documents),
      |tr AS (SELECT doc_id, lang,
      |  unnest([{'v': s[i], 'w': s[i+1]} for i in range(1, len(s))], recursive := true)
      |  FROM base WHERE len(s) >= 2),
      |uni AS (SELECT unnest(s) AS w FROM base WHERE lang = 'en'),
      |uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM uni GROUP BY w),
      |bc AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS cb FROM tr WHERE lang = 'en' GROUP BY v, w),
      |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS nn FROM uc),
      |scored AS (SELECT tr.doc_id, tr.lang,
      |  CAST(ROUND(LN(CASE
      |    WHEN COALESCE(bc.cb, 0) > 0 THEN CAST(bc.cb AS DOUBLE) / CAST(uv.cw AS DOUBLE)
      |    WHEN COALESCE(uw.cw, 0) > 0 THEN 0.4 * CAST(uw.cw AS DOUBLE) / CAST(nn AS DOUBLE)
      |    ELSE 0.4 * 0.4 / CAST(nn AS DOUBLE) END), 9) AS DECIMAL(27,9)) AS ls
      |  FROM tr
      |  LEFT JOIN bc ON tr.v = bc.v AND tr.w = bc.w
      |  LEFT JOIN uc uv ON tr.v = uv.w
      |  LEFT JOIN uc uw ON tr.w = uw.w
      |  CROSS JOIN tot)
      |SELECT doc_id, lang, CAST(COUNT(*) AS INT) AS n_trans,
      |  CAST(SUM(ls) AS DOUBLE) / COUNT(*) AS avg_logscore
      |FROM scored GROUP BY doc_id, lang
      |ORDER BY avg_logscore ASC, doc_id LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q179
  /** Heaps'-law vocabulary-growth curve — the corpus diagnostic that
    * tells a tokenizer/dedup pipeline how vocabulary scales with
    * corpus size (V ∝ Tᵝ, Heaps 1978): the document stream is cut
    * into ten deterministic deciles by id, and each checkpoint
    * reports cumulative token occurrences and cumulative DISTINCT
    * vocabulary — distinctness via each token's first-seen decile
    * (one groupBy(token).min, never a running distinct), so the
    * curve costs two aggregations regardless of corpus size. A
    * flattening curve means new data stops paying vocabulary;
    * a too-steep one flags OCR noise / boilerplate explosion.
    *
    * Scale: the token stream reduces to per-decile occurrence counts
    * and a (token → first decile) table in one shuffle each; the
    * cumulative step is a 10×10 triangle join over decile-sized
    * aggregates (with the 1-row corpus-size broadcast — both
    * allowlisted bounded shapes). All counts integer.
    */
  def q179(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val n = d.agg(max(col("doc_id")).as("mx")).select((col("mx") + 1).as("N"))
    val tok = d.crossJoin(broadcast(n))
      .withColumn("b", expr("CAST((doc_id * 10) div N AS INT)"))
      .select(col("b"), explode(split(col("text"), " ")).as("w"))
    val occ = tok.groupBy(col("b")).agg(count(lit(1)).as("occ"))
    val fst = tok.groupBy(col("w")).agg(min(col("b")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("nd"))
    val ks = occ.select(col("b").as("k")).distinct()
    val cumT = ks.join(broadcast(occ), col("b") <= col("k"))
      .groupBy(col("k")).agg(sum(col("occ")).as("cum_tokens"))
    val cumD = ks.join(broadcast(fst), col("fb") <= col("k"))
      .groupBy(col("k")).agg(sum(col("nd")).as("cum_distinct"))
    cumT.join(cumD, "k")
      .select((col("k") + 1).as("checkpoint"), col("cum_tokens"),
        col("cum_distinct"))
      .orderBy(col("checkpoint"))
  }

  val q179Sql: String =
    """WITH nn AS (SELECT MAX(doc_id) + 1 AS N FROM documents),
      |tok AS (
      |  SELECT CAST((doc_id * 10) // N AS INT) AS b,
      |    unnest(string_split(text, ' ')) AS w
      |  FROM documents CROSS JOIN nn),
      |occ AS (SELECT b, COUNT(*) AS occ FROM tok GROUP BY b),
      |fstb AS (SELECT MIN(b) AS fb FROM tok GROUP BY w),
      |fst AS (SELECT fb, COUNT(*) AS nd FROM fstb GROUP BY fb),
      |ks AS (SELECT DISTINCT b AS k FROM occ),
      |ct AS (
      |  SELECT k, CAST(SUM(o.occ) AS BIGINT) AS cum_tokens
      |  FROM ks JOIN occ o ON o.b <= ks.k GROUP BY k),
      |cd AS (
      |  SELECT k, CAST(SUM(f.nd) AS BIGINT) AS cum_distinct
      |  FROM ks JOIN fst f ON f.fb <= ks.k GROUP BY k)
      |SELECT k + 1 AS checkpoint, cum_tokens, cum_distinct
      |FROM ct JOIN cd USING (k) ORDER BY checkpoint""".stripMargin

  // ---------------------------------------------------------------- q180
  /** Zipf rank-frequency slope — q179's companion corpus diagnostic:
    * least-squares fit of ln(count) against ln(rank) over the top
    * 1000 tokens (Zipf 1949; slope ≈ −1 for natural text, flatter
    * for template/boilerplate corpora, steeper after aggressive
    * dedup). Portability: each ln is rounded once at scale 9 (the
    * q172/q173 discipline), the regression sufficient statistics
    * accumulate as exact DECIMALs (order-independent), and the final
    * slope/intercept/r² arithmetic runs on doubles cast from those
    * exact sums — bit-equal across engines.
    *
    * Scale: token counts partial-aggregate in one shuffle; top-1000
    * is a TakeOrdered (map-side heaps, no global sort); the ranking
    * window sits above the limit (≤ 1000 rows — the plan-audit
    * gate's bounded exemption); the fit is a 1-row aggregate.
    */
  def q180(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = docs(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(1000)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("c").desc, col("w"))))
      .withColumn("x", round(log(col("rnk").cast("double")), 9))
      .withColumn("y", round(log(col("c").cast("double")), 9))
    top.agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(20,9))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(20,9))")).as("sy"),
        sum(expr("CAST(x * y AS DECIMAL(38,18))")).as("sxy"),
        sum(expr("CAST(x * x AS DECIMAL(38,18))")).as("sxx"),
        sum(expr("CAST(y * y AS DECIMAL(38,18))")).as("syy"))
      .withColumn("dn", expr("CAST(n AS DOUBLE)"))
      .withColumn("cxy", expr(
        "dn * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"))
      .withColumn("cxx", expr(
        "dn * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"))
      .withColumn("cyy", expr(
        "dn * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"))
      .select(
        col("n").cast("long").as("n_tokens"),
        round(expr("cxy / cxx"), 6).as("slope"),
        round(expr(
          "(CAST(sy AS DOUBLE) - (cxy / cxx) * CAST(sx AS DOUBLE)) / dn"), 6)
          .as("intercept"),
        round(expr("(cxy * cxy) / (cxx * cyy)"), 6).as("r2"))
  }

  val q180Sql: String =
    """WITH cnt AS (
      |  SELECT w, COUNT(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |top AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 1000),
      |xy AS (
      |  SELECT ROUND(ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS DOUBLE)), 9) AS x,
      |    ROUND(ln(CAST(c AS DOUBLE)), 9) AS y
      |  FROM top),
      |s AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CAST(x AS DECIMAL(20,9))) AS sx,
      |    SUM(CAST(y AS DECIMAL(20,9))) AS sy,
      |    SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy,
      |    SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx,
      |    SUM(CAST(y * y AS DECIMAL(38,18))) AS syy
      |  FROM xy),
      |d AS (
      |  SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS dn,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
      |    CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy
      |  FROM s)
      |SELECT n AS n_tokens,
      |  ROUND(cxy / cxx, 6) AS slope,
      |  ROUND((dsy - (cxy / cxx) * dsx) / dn, 6) AS intercept,
      |  ROUND((cxy * cxy) / (cxx * cyy), 6) AS r2
      |FROM d""".stripMargin

  // ---------------------------------------------------------------- q186
  /** Blocklist filtering via the native
    * [[graft.functions.MultiNeedleCount]] expression: every document
    * is scanned once against a phrase blocklist (greedy
    * non-overlapping substring counts, summed across needles) and
    * docs with any hit are emitted with a `blocked` policy flag at
    * ≥ 2 hits — the "unsafe-term filter" stage of a cleaning
    * pipeline.
    *
    * Scale design: the needle array is a plan-time literal inside the
    * generated code, so the whole filter is ONE codegen'd projection
    * over the corpus scan — no explode, no join, no shuffle until the
    * final order. The relational alternative (explode needles ×
    * corpus) shuffles |corpus|·|needles| rows; the oracle replays the
    * per-needle replace-arithmetic instead, which is the same greedy
    * scan. For 10⁴+-needle production blocklists the expression's
    * inner loop swaps for one broadcast Aho–Corasick automaton pass
    * (see the expression scaladoc) with this query unchanged.
    */
  def q186(spark: SparkSession, sfDir: String): DataFrame = {
    val needleSql = Blocklist.map(n => s"'$n'").mkString(", ")
    docs(spark, sfDir)
      .withColumn("n_hits",
        expr(s"multi_needle_count(text, array($needleSql))"))
      .where(col("n_hits") > 0)
      .select(col("doc_id"), col("lang"), col("n_hits"),
        (col("n_hits") >= 2).as("blocked"))
      .orderBy(col("doc_id"))
  }

  private val Blocklist =
    Seq("slow scan", "hash join", "slow slow", "table scan", "slow filter")

  val q186Sql: String = {
    val needleSql = Blocklist.map(n => s"'$n'").mkString(", ")
    s"""WITH nl AS (SELECT unnest([$needleSql]) AS nd),
       |h AS (SELECT doc_id, lang,
       |        CAST(SUM((len(text) - len(replace(text, nd, ''))) // len(nd)) AS BIGINT) AS n_hits
       |      FROM documents CROSS JOIN nl GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_hits, (n_hits >= 2) AS blocked
       |FROM h WHERE n_hits > 0 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q187
  /** Per-source unigram KL divergence from the corpus distribution —
    * the domain-skew diagnostic of CCNet-style source curation: a
    * source whose token distribution diverges hard from the corpus
    * (boilerplate, spam, wrong-register text) surfaces with a large
    * D_KL(p_source ‖ p_corpus) = Σ_t p_s(t)·ln(p_s(t)/p(t)).
    *
    * Determinism discipline (the q163/q180 precedent): every term is
    * computed as round((c_st/n_s)·ln((c_st·n)/(c_t·n_s)), 9) from
    * exact integer counts — the integer products stay < 2⁵³ (exact in
    * a double) through ~10¹⁵-token corpora, DECIMAL beyond — then
    * decimal-summed (order-independent) and rounded to 6. KL ≥ 0 with
    * p_s absolutely continuous w.r.t. p by construction (every source
    * token is a corpus token).
    *
    * Scale design: ONE token-level shuffle builds (source, tok)
    * counts; corpus token counts reduce from it on the same `tok` key
    * (vocabulary-sized re-aggregation, no second corpus scan) and
    * join back vocabulary-sized; per-source totals and the corpus
    * total are broadcast scalars. Output is |sources| rows.
    */
  def q187(spark: SparkSession, sfDir: String): DataFrame = {
    val cst = docs(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
    val ct = cst.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val ns = cst.groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_s"), count(lit(1)).as("n_types"))
    val n = cst.agg(sum(col("c_st")).as("n"))
    cst.join(ct, "tok").join(broadcast(ns), "source").crossJoin(broadcast(n))
      .withColumn("term", round(
        (col("c_st").cast("double") / col("n_s").cast("double")) *
          log((col("c_st") * col("n")).cast("double") /
            (col("c_t") * col("n_s")).cast("double")), 9))
      .groupBy(col("source"))
      .agg(min(col("n_s")).as("n_tokens"), min(col("n_types")).as("n_types"),
        round(sum(col("term")
          .cast(org.apache.spark.sql.types.DecimalType(27, 9))).cast("double"), 6)
          .as("kl"))
      .orderBy(col("source"))
  }

  val q187Sql: String =
    """WITH cst AS (
      |  SELECT source, tok, COUNT(*) AS c_st FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY source, tok),
      |ct AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY tok),
      |ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s,
      |         COUNT(*) AS n_types FROM cst GROUP BY source),
      |n AS (SELECT CAST(SUM(c_st) AS BIGINT) AS n FROM cst),
      |terms AS (
      |  SELECT source, n_s, n_types,
      |    ROUND((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
      |          ln(CAST(c_st * n AS DOUBLE) / CAST(c_t * n_s AS DOUBLE)), 9) AS term
      |  FROM cst JOIN ct USING (tok) JOIN ns USING (source) CROSS JOIN n)
      |SELECT source, MIN(n_s) AS n_tokens, MIN(n_types) AS n_types,
      |  ROUND(CAST(SUM(CAST(term AS DECIMAL(27, 9))) AS DOUBLE), 6) AS kl
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q197
  /** Per-document n-gram NOVELTY against a training corpus — the
    * train/eval overlap metric behind memorization evals (Carlini et
    * al., "Quantifying memorization across neural language models",
    * arXiv:2202.07646 measures extractable training n-grams; Lee et
    * al. 2022 §5 reports eval-set overlap the same way): for every
    * doc in the held-out slice (doc_id ≡ 8,9 mod 10), the fraction of
    * its 5-token windows NOT present anywhere in the training slice.
    * An eval doc duplicating a training doc scores novelty ≈ 0 — the
    * leakage q73's boolean decontamination flags, graded here as the
    * continuous per-document metric an eval-suite curator thresholds
    * on. Window positions count individually (a window repeated in
    * the doc weighs each occurrence), matching the token-level
    * "fraction memorized" definition.
    *
    * Scale shape: train windows reduce to ONE distinct set (the q73
    * n-gram discipline) and the membership probe is a single
    * equi-join on the window key — eval windows shuffle once; no
    * pair fan-out, no per-doc rescans. Keys here are the window
    * strings themselves (≤ ~40 bytes); at 100 TB the drop-in swap is
    * the 64-bit `poly_hash` of the window — same plan, fixed-width
    * shuffle keys, engine-replayable collisions.
    */
  def q197(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    graft.llm.TextStats.novelty(
        train = d.where(pmod(col("doc_id"), lit(10)) < 8),
        eval = d.where(pmod(col("doc_id"), lit(10)) >= 8),
        keyCols = Seq("doc_id", "lang"), textCol = "text", n = 5)
      .orderBy(col("doc_id"))
  }

  val q197Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS s FROM documents),
      |trw AS (
      |  SELECT DISTINCT w FROM (
      |    SELECT unnest([array_to_string(s[i:i+4], ' ')
      |                   FOR i IN range(1, len(s) - 3)]) AS w
      |    FROM t WHERE doc_id % 10 < 8)),
      |evw AS (
      |  SELECT doc_id, lang,
      |    unnest([array_to_string(s[i:i+4], ' ')
      |            FOR i IN range(1, len(s) - 3)]) AS w
      |  FROM t WHERE doc_id % 10 >= 8),
      |j AS (
      |  SELECT e.doc_id, e.lang,
      |    CASE WHEN tr.w IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM evw e LEFT JOIN trw tr ON tr.w = e.w)
      |SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_windows,
      |  CAST(SUM(hit) AS BIGINT) AS n_seen,
      |  ROUND(1.0 - CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS novelty
      |FROM j GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q200
  /** q197's novelty metric served from a PERSISTED window store
    * ([[graft.llm.TextStats.appendNgramBatch]] /
    * `compactNgramStore` / `noveltyAgainst`) — the never-rescan-
    * history discipline (q109/q113/q122/q159/q175) applied to the
    * train-overlap eval: the training slice arrives as two batches,
    * each of which writes ONLY its own distinct windows
    * (batchId-idempotent; window sets union by concatenation, and a
    * replayed batch adds only duplicate rows, which the semi-join
    * probe ignores — a SET store is replay-safe even after
    * compaction, unlike the additive q198 grid), the store is
    * compacted write-then-swap, and the eval slice probes it. The
    * oracle IS q197's: the incremental build must converge to the
    * one-shot train-window set.
    */
  def q200(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.llm.TextStats
    val n = 5
    val d = docs(spark, sfDir)
    val store = graft.Tables.scratchDir(spark, "ngramstore", sfDir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    TextStats.appendNgramBatch(d.where(pmod(col("doc_id"), lit(10)) < 4),
      "text", n, store, batchId = Some(0L))
    TextStats.appendNgramBatch(d.where(pmod(col("doc_id"), lit(10)) >= 4 &&
      pmod(col("doc_id"), lit(10)) < 8), "text", n, store, batchId = Some(1L))
    TextStats.compactNgramStore(spark, store)
    TextStats.noveltyAgainst(TextStats.readNgramStore(spark, store),
        d.where(pmod(col("doc_id"), lit(10)) >= 8),
        keyCols = Seq("doc_id", "lang"), textCol = "text", n = n)
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q210
  /** Interpolated Kneser–Ney bigram probabilities
    * ([[graft.llm.TextStats.kneserNeyBigram]], D = 0.75) for the 50
    * most frequent bigrams — the production LM smoothing (continuation
    * -count backoff) next to q74's MLE model and q89's add-one filter.
    * Every factor is a bigint-derived double division in an
    * association order mirrored exactly by the oracle.
    */
  def q210(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.TextStats.kneserNeyBigram(docs(spark, sfDir), "text")
      .select(col("w1"), col("w2"), col("cnt"), col("ctx_cnt"),
        col("n1p_left"), col("cont_cnt"), round(col("p_kn"), 6).as("p_kn"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(50)

  val q210Sql: String =
    """WITH d AS (SELECT string_split(text, ' ') AS s FROM documents),
      |bg AS (SELECT unnest(s[1:len(s)-1]) AS w1, unnest(s[2:len(s)]) AS w2
      |       FROM d WHERE len(s) >= 2),
      |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY w1, w2),
      |ctx AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt,
      |          CAST(COUNT(*) AS BIGINT) AS n1p_left
      |        FROM c GROUP BY w1),
      |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cont_cnt FROM c GROUP BY w2),
      |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types FROM c)
      |SELECT w1, w2, cnt, ctx_cnt, n1p_left, cont_cnt,
      |  ROUND((CAST(cnt AS DOUBLE) - 0.75) / ctx_cnt
      |      + 0.75 * CAST(n1p_left AS DOUBLE) / ctx_cnt
      |        * (CAST(cont_cnt AS DOUBLE) / n_bigram_types), 6) AS p_kn
      |FROM c JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN b
      |ORDER BY cnt DESC, w1, w2 LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q213
  /** Unicode NFC normalization over the corpus — the native
    * [[graft.functions.NfcNormalize]] expression (JDK UAX #15) checked
    * byte-for-byte against DuckDB's utf8proc `nfc_normalize`. The
    * corpus is ASCII-clean, so the query first DECOMPOSES it
    * deterministically (a combining acute U+0301 after every a/e/o/u —
    * the NFD form of á/é/ó/ú), then normalizes: NFC must re-compose
    * every pair into one codepoint, while vowel-free documents (zh)
    * exercise the zero-copy already-normalized fast path. Per-lang
    * codepoint totals before/after make any disagreement visible at
    * single-character resolution.
    *
    * Scale shape: embarrassingly per-row inside whole-stage codegen —
    * the one shuffle is the |langs|-bounded final group-by.
    */
  def q213(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("lang"),
        regexp_replace(col("text"), "([aeou])", "$1\u0301").as("synth"))
      .select(col("lang"), col("synth"),
        expr("nfc_normalize(synth)").as("norm"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("synth"))).cast("bigint").as("chars_nfd"),
        sum(length(col("norm"))).cast("bigint").as("chars_nfc"),
        sum(when(col("norm") === col("synth"), 1L).otherwise(0L))
          .cast("bigint").as("n_already_nfc"))
      .orderBy(col("lang"))

  val q213Sql: String =
    """WITH s AS (
      |  SELECT lang,
      |    regexp_replace(text, '([aeou])', '\1' || chr(769), 'g') AS synth
      |  FROM documents),
      |n AS (SELECT lang, synth, nfc_normalize(synth) AS norm FROM s)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(length(synth)) AS BIGINT) AS chars_nfd,
      |  CAST(SUM(length(norm)) AS BIGINT) AS chars_nfc,
      |  CAST(SUM(CASE WHEN norm = synth THEN 1 ELSE 0 END) AS BIGINT) AS n_already_nfc
      |FROM n GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q215
  /** l-diversity audit ([[graft.operators.Quality.lDiversity]], l = 3)
    * over the customer table: quasi-identifiers (nation, market
    * segment), sensitive attribute = account-balance thousands bucket.
    * The release-safety check k-anonymity (q145) cannot make: a large
    * QI group whose members all share one balance bucket still leaks.
    * Reports both classical forms — distinct-value count and entropy
    * (portable-log discipline) — per QI group.
    */
  def q215(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Quality
      .lDiversity(graft.Tables.load(spark, sfDir, "customer"),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000), l = 3)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  val q215Sql: String =
    s"""WITH base AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS sens
       |  FROM customer),
       |cell AS (
       |  SELECT c_nationkey, c_mktsegment, sens, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM base GROUP BY c_nationkey, c_mktsegment, sens),
       |g AS (
       |  SELECT *, CAST(SUM(cnt) OVER (
       |    PARTITION BY c_nationkey, c_mktsegment) AS BIGINT) AS n_rows
       |  FROM cell),
       |t AS (
       |  SELECT c_nationkey, c_mktsegment, n_rows,
       |    CAST(COUNT(*) AS BIGINT) AS n_sensitive,
       |    ROUND(CAST(0 AS DOUBLE) - CAST(SUM(CAST(ROUND(
       |      (cnt / CAST(n_rows AS DOUBLE)) * LN(cnt / CAST(n_rows AS DOUBLE)),
       |      9) AS DECIMAL(27, 9))) AS DOUBLE), 6) AS entropy
       |  FROM g GROUP BY c_nationkey, c_mktsegment, n_rows)
       |SELECT c_nationkey, c_mktsegment, n_rows, n_sensitive, entropy,
       |  n_sensitive >= 3 AS distinct_ok,
       |  entropy >= ${math.log(3.0)} AS entropy_ok
       |FROM t ORDER BY c_nationkey, c_mktsegment""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q34_token_stats", q34 _, Some(q34Sql)),
    ("q35_lang_id_confusion", q35 _, Some(q35Sql)),
    ("q36_quality_score", q36 _, Some(q36Sql)),
    ("q37_winnow_fingerprint", q37 _, Some(q37Sql)),
    ("q52_stratified_hash_sample", q52 _, Some(q52Sql)),
    ("q59_repetition_quality", q59 _, Some(q59Sql)),
    ("q63_pii_redaction", q63 _, Some(q63Sql)),
    ("q65_vocab_encode", q65 _, Some(q65Sql)),
    ("q67_chunk_windows", q67 _, Some(q67Sql)),
    ("q70_sequence_pack", q70 _, Some(q70Sql)),
    ("q74_bigram_model", q74 _, Some(q74Sql)),
    ("q85_heavy_hitters", q85 _, Some(q85Sql)),
    ("q89_bigram_surprise", q89 _, Some(q89Sql)),
    ("q91_domain_quota", q91 _, Some(q91Sql)),
    ("q97_chisq_independence", q97 _, Some(q97Sql)),
    ("q100_weighted_allocation", q100 _, Some(q100Sql)),
    ("q114_lineformat_roundtrip", q114 _, Some(q114Sql)),
    ("q168_xml_roundtrip", q168 _, Some(q168Sql)),
    ("q127_temperature_mixture", q127 _, Some(q127Sql)),
    ("q128_tokenize_pack", q128 _, Some(q128Sql)),
    ("q133_lm_examples", q133 _, Some(q133Sql)),
    ("q144_weighted_sample", q144 _, Some(q144Sql)),
    ("q145_k_anonymity", q145 _, Some(q145Sql)),
    ("q148_fd_audit", q148 _, Some(q148Sql)),
    ("q152_skipgram_pairs", q152 _, Some(q152Sql)),
    ("q163_collocation_lift", q163 _, Some(q163Sql)),
    ("q172_dsir_sample", q172 _, Some(q172Sql)),
    ("q173_lm_quality_filter", q173 _, Some(q173Sql)),
    ("q179_heaps_curve", q179 _, Some(q179Sql)),
    ("q180_zipf_fit", q180 _, Some(q180Sql)),
    ("q186_blocklist_filter", q186 _, Some(q186Sql)),
    ("q187_source_kl_divergence", q187 _, Some(q187Sql)),
    ("q197_ngram_novelty", q197 _, Some(q197Sql)),
    // oracle = q197's: the incrementally-built window store must
    // converge to the one-shot train-window set (the q183/q198
    // shared-oracle precedent)
    ("q200_novelty_store", q200 _, Some(q197Sql)),
    ("q210_kneser_ney_bigram", q210 _, Some(q210Sql)),
    ("q213_unicode_normalize", q213 _, Some(q213Sql)),
    ("q215_l_diversity", q215 _, Some(q215Sql))
  )

}
