package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Subword tokenizers over the `documents` table — the BPE family
  * (merge training, encode, decode round-trip, fertility) and the
  * unigram-LM (SentencePiece) family (train, encode round-trip,
  * fertility). Split out of [[Text]] in round 15 (pure file move, no
  * behavior change); shared corpus helpers stay on [[Text]].
  */
object TextTokenizers {
  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Text.docs(spark, sfDir)

  // ---------------------------------------------------------------- q112
  // Shared CTE builders for the BPE oracles (q112 learn, q120 encode),
  // unrolling merge rounds in q82's fixed-iteration pattern.
  /** Argmax pair of one round, counted over vocab table `w`. */
  private[queries] def bpeBestCte(w: String, b: String): String =
    s"""$b AS (
       |  SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT unnest([{'l': s[i], 'r': s[i+1]} for i in range(1, len(s))]) AS p, freq
       |        FROM (SELECT string_split(sym, ' ') AS s, freq FROM $w))
       |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin

  /** Token-level greedy leftmost application of `b` onto `w` → `w2`:
    * a left fold over the symbol list that merges (l, r) whenever the
    * accumulated tail token is exactly l and the next symbol is r —
    * identical semantics to the engine's lookaround regex (a merged
    * token l||r can never re-match as l within the round, so no flag
    * is needed). A delimiter-consuming `replace` would merge only
    * alternate occurrences of a run.
    */
  private[queries] def bpeMergeCte(w: String, b: String, w2: String): String =
    s"""$w2 AS (
       |  SELECT list_reduce(string_split(sym, ' '),
       |    (acc, x) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND x = b.r
       |      THEN acc || b.r ELSE acc || ' ' || x END) AS sym, freq
       |  FROM $w CROSS JOIN $b b)""".stripMargin

  private[queries] val bpeCorpusCte: String =
    s"""w0 AS (
       |  SELECT array_to_string(string_split(word, ''), ' ') AS sym,
       |    CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY 1)""".stripMargin

  /** The b1..bN round chain after `w0`; `applyLast` also materializes
    * wN (the fully-merged vocabulary the encode oracle reads). */
  private[queries] def bpeRoundsCtes(n: Int, applyLast: Boolean = false): String =
    (1 to n).map { i =>
      if (i < n || applyLast)
        s"${bpeBestCte(s"w${i - 1}", s"b$i")},\n${bpeMergeCte(s"w${i - 1}", s"b$i", s"w$i")}"
      else bpeBestCte(s"w${i - 1}", s"b$i")
    }.mkString(",\n")

  /** BPE merge learning ([[graft.llm.Vocab.bpeMerges]]): the first
    * three byte-pair merges over the corpus vocabulary, each round an
    * exact frequency-weighted pair count with lexicographic
    * tie-break. The oracle unrolls the identical three rounds as CTEs
    * (q82's fixed-iteration pattern): list-comprehension pair
    * explosion, argmax by (cnt DESC, l, r), token-level greedy
    * leftmost merge application via a list fold — so pair counts,
    * tie-breaks AND merge application are all hash-checked.
    */
  def q112(spark: SparkSession, sfDir: String): DataFrame =
    graft.llm.Vocab.bpeMerges(docs(spark, sfDir), "text", numMerges = 3)
      .orderBy(col("rank"))

  val q112Sql: String =
    s"""WITH $bpeCorpusCte,
       |${bpeRoundsCtes(3)}
       |SELECT CAST(1 AS INT) AS rank, l AS "left", r AS "right", cnt AS pair_cnt FROM b1
       |UNION ALL SELECT 2, l, r, cnt FROM b2
       |UNION ALL SELECT 3, l, r, cnt FROM b3
       |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q120
  /** BPE encode ([[graft.llm.Vocab.bpeEncode]]): tokenize the corpus
    * into subwords with the merges q112 learns (four rounds here) —
    * the encode half of the tokenizer, emitting the (doc_id, pos,
    * subword, subword_id) stream a training pipeline ships. The
    * oracle re-learns the same four merges (unrolled round CTEs),
    * re-applies them to every distinct word with the same greedy
    * fold, and re-derives positions and frequency-ranked ids — so
    * merge application, the word→subword map, cross-word positions
    * AND id assignment are all hash-checked.
    */
  def q120(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    // encode from the learner's own checkpointed merged vocabulary — the
    // corpus word-count scan and the regex merge chain run once, in
    // the learner, instead of once more per wordSubs consumer (§2.4)
    val (_, vocab) = graft.llm.Vocab.bpeMergesWithVocab(d, "text", numMerges = 4)
    graft.llm.Vocab.bpeEncodeFromVocab(d, "doc_id", "text", vocab)
      .orderBy(col("doc_id"), col("pos"))
  }

  val q120Sql: String =
    s"""WITH $bpeCorpusCte,
       |${bpeRoundsCtes(4, applyLast = true)},
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
       |stream AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wpos, spos) - 1 AS INT) AS pos,
       |    subword
       |  FROM subs),
       |ids AS (
       |  SELECT subword,
       |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, subword) AS INT) AS subword_id
       |  FROM stream GROUP BY subword)
       |SELECT doc_id, pos, subword, subword_id
       |FROM stream JOIN ids USING (subword)
       |ORDER BY doc_id, pos""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Tokenizer quality per language: fertility (subword tokens per
    * whitespace word) and compression (non-space characters per token)
    * of the corpus-trained BPE (q112's merges applied by q120's
    * encoder) — the standard pair of metrics for judging whether a
    * tokenizer serves every language equally; high-fertility languages
    * pay more sequence length for the same text, which is a real
    * training-cost and context-budget skew at 100 TB.
    *
    * All counts are integers; each output ratio is one exact
    * integer-over-integer division rounded once. Scale rides q120's
    * shape: encoding is per *distinct word* then broadcast back.
    */
  def q162(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val (_, vocab) = graft.llm.Vocab.bpeMergesWithVocab(d, "text", numMerges = 4)
    val perDocTok = graft.llm.Vocab.bpeEncodeFromVocab(d, "doc_id", "text", vocab)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    d.select(col("doc_id"), col("lang"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("n_words"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_chars"))
      .join(perDocTok, "doc_id")
      .groupBy(col("lang"))
      .agg(sum(col("n_words")).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        round(col("n_tokens") / col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_chars") / col("n_tokens").cast("double"), 6)
          .as("chars_per_token"))
      .orderBy(col("lang"))
  }

  val q162Sql: String =
    s"""WITH $bpeCorpusCte,
       |${bpeRoundsCtes(4, applyLast = true)},
       |wordsubs AS (
       |  SELECT replace(sym, ' ', '') AS word, string_split(sym, ' ') AS subs FROM w4),
       |toks AS (
       |  SELECT doc_id, t.word AS word FROM (
       |    SELECT doc_id, unnest([{'wpos': i, 'word': s[i]} for i in range(1, len(s) + 1)]) AS t
       |    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
       |  WHERE length(t.word) > 0),
       |tok AS (
       |  SELECT doc_id, CAST(SUM(len(subs)) AS BIGINT) AS n_tok
       |  FROM toks JOIN wordsubs USING (word) GROUP BY doc_id),
       |meta AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT) AS n_words,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars
       |  FROM documents)
       |SELECT lang, CAST(SUM(n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  ROUND(SUM(n_tok) / CAST(SUM(n_words) AS DOUBLE), 6) AS fertility,
       |  ROUND(SUM(n_chars) / CAST(SUM(n_tok) AS DOUBLE), 6) AS chars_per_token
       |FROM meta JOIN tok USING (doc_id) GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q204
  /** Tokenizer round-trip at corpus scale — BPE DECODE
    * ([[graft.llm.Vocab.bpeDecode]]): learn the same four merges as
    * q120, encode every document with Sennrich's end-of-word marker
    * (the extra terminal subword that makes the flat stream
    * invertible), decode the flat (doc_id, pos, subword) stream back
    * to text, and emit each document's decoded content hash plus an
    * engine-side equality flag against the original. The oracle is
    * the q114/q168 round-trip pattern: it computes the hash STRAIGHT
    * FROM PARQUET (whitespace-normalized — BPE's token alphabet
    * can't represent space runs; this corpus is single-spaced so
    * normalization is the identity), so the identity
    * decode(encode(x)) = x is hash-checked for every document — a
    * lossy merge application, id mapping, position ordering, or
    * marker handling anywhere in the encode/decode pair becomes a
    * parity mismatch.
    */
  def q204(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val (_, vocab) = graft.llm.Vocab.bpeMergesWithVocab(d, "text", numMerges = 4)
    val enc = graft.llm.Vocab.bpeEncodeFromVocab(d, "doc_id", "text", vocab,
      endOfWord = Some("</w>"))
    val dec = graft.llm.Vocab.bpeDecode(enc, "doc_id")
    val norm = d.select(col("doc_id"), expr(
      "array_join(filter(split(text, ' '), w -> w != ''), ' ')").as("orig"))
    dec.join(norm, "doc_id")
      .select(col("doc_id"), GraftFunctions.polyHash("text").as("decoded_hash"),
        (col("text") === col("orig")).as("matches"))
      .orderBy(col("doc_id"))
  }

  val q204Sql: String = {
    val norm = "array_to_string(list_filter(string_split(text, ' '), w -> len(w) > 0), ' ')"
    s"""SELECT doc_id,
       |  ${graft.functions.PolyHash.duckdbSql(norm)} AS decoded_hash,
       |  TRUE AS matches
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ q223/q224/q225
  // Unigram-LM tokenizer (SentencePiece family) — oracle CTE builders.
  // The DP unrolls over word positions (words are truncated to
  // UnigramMaxW codepoints BEFORE the distinct, both engines), each
  // position joining the ≤ UnigramMaxP prior best-states against the
  // round's vocabulary; backtracking unrolls the same depth. Every
  // stage is MATERIALIZED: the b-chain references each prior level up
  // to 4 times and DuckDB's default CTE inlining would re-expand it
  // exponentially (the q222 lesson).
  private val UnigramMaxW = 12 // max word codepoints (bounds the DP unroll)
  private val UnigramMaxP = 4  // max piece codepoints
  private val UnigramMulti = 64 // multi-char seed vocabulary size
  private val UnigramRounds = 2 // hard-EM rounds

  /** One Viterbi DP + backtrack over `dw` against vocabulary scores
    * `lpTab`, producing `{p}pieces` = (word, k, piece) with k the
    * 1-based step FROM THE WORD END. */
  private def unigramDpCtes(p: String, lpTab: String): String = {
    val bs = (1 to UnigramMaxW).map { i =>
      val priors = (math.max(0, i - UnigramMaxP) until i)
        .map(j => s"SELECT * FROM ${p}b$j").mkString(" UNION ALL ")
      s"""${p}b$i AS MATERIALIZED (
         |  SELECT word, i, s, j FROM (
         |    SELECT b.word, $i AS i, b.s + v.lp AS s, b.i AS j,
         |      ROW_NUMBER() OVER (PARTITION BY b.word
         |        ORDER BY b.s + v.lp DESC, b.i) AS rn
         |    FROM ($priors) b
         |    JOIN $lpTab v ON v.piece = substr(b.word, b.i + 1, $i - b.i)
         |    WHERE length(b.word) >= $i) WHERE rn = 1)""".stripMargin
    }
    val ball = s"""${p}ball AS MATERIALIZED (${(1 to UnigramMaxW)
      .map(i => s"SELECT * FROM ${p}b$i").mkString(" UNION ALL ")})"""
    val ts = (1 to UnigramMaxW).map { k =>
      s"""${p}p$k AS MATERIALIZED (
         |  SELECT t.word, b.j, t.i, $k AS k,
         |    substr(t.word, b.j + 1, t.i - b.j) AS piece
         |  FROM ${p}t${k - 1} t JOIN ${p}ball b ON b.word = t.word AND b.i = t.i
         |  WHERE t.i > 0),
         |${p}t$k AS (SELECT word, j AS i FROM ${p}p$k)""".stripMargin
    }
    val pieces = s"""${p}pieces AS MATERIALIZED (${(1 to UnigramMaxW)
      .map(i => s"SELECT word, k, piece FROM ${p}p$i").mkString(" UNION ALL ")})"""
    (s"""${p}b0 AS MATERIALIZED (
        |  SELECT word, 0 AS i, CAST(0 AS DECIMAL(27,9)) AS s, 0 AS j FROM dw)""".stripMargin
      +: bs) ++ Seq(
      ball,
      s"${p}t0 AS (SELECT word, length(word) AS i FROM dw)") ++
      ts :+ pieces
  }.mkString(",\n")

  /** lp table of a vocabulary CTE: portable-log piece scores. */
  private def unigramLpCte(name: String, vocab: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(ROUND(ln(CAST(cnt AS DOUBLE) / t.t), 9) AS DECIMAL(27,9)) AS lp
       |  FROM $vocab CROSS JOIN
       |    (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM $vocab) t)""".stripMargin

  /** The full training chain: corpus → seed → `UnigramRounds` of
    * (lp → DP → votes → pruned/floored vocab). Ends at v$UnigramRounds. */
  private def unigramTrainCtes: String = {
    val head =
      s"""w0 AS MATERIALIZED (
         |  SELECT substr(word, 1, $UnigramMaxW) AS word,
         |    CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) > 0 GROUP BY 1),
         |dw AS MATERIALIZED (SELECT word FROM w0),
         |sub AS MATERIALIZED (
         |  SELECT substr(word, s.i + 1, l.j) AS piece,
         |    CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM w0 CROSS JOIN range(0, $UnigramMaxW) s(i)
         |    CROSS JOIN range(1, ${UnigramMaxP + 1}) l(j)
         |  WHERE s.i + l.j <= length(word) GROUP BY 1),
         |v0 AS MATERIALIZED (
         |  SELECT piece, cnt FROM sub WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
         |    FROM sub WHERE length(piece) >= 2) WHERE rn <= $UnigramMulti)""".stripMargin
    val rounds = (1 to UnigramRounds).map { r =>
      s"""${unigramLpCte(s"lp${r - 1}", s"v${r - 1}")},
         |${unigramDpCtes(s"r${r}_", s"lp${r - 1}")},
         |votes$r AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM r${r}_pieces JOIN w0 USING (word) GROUP BY piece),
         |v$r AS MATERIALIZED (
         |  SELECT v.piece, GREATEST(COALESCE(vt.cnt, 0), 1) AS cnt
         |  FROM v${r - 1} v LEFT JOIN votes$r vt USING (piece)
         |  WHERE length(v.piece) = 1
         |  UNION ALL
         |  SELECT v.piece, vt.cnt FROM v${r - 1} v JOIN votes$r vt USING (piece)
         |  WHERE length(v.piece) >= 2)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Encode chain on top of training: segment `dw` under the final
    * vocabulary and aggregate per-word piece stats. */
  private def unigramEncodeCtes: String =
    s"""${unigramLpCte("lpf", s"v$UnigramRounds")},
       |${unigramDpCtes("enc_", "lpf")},
       |wnp AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS np
       |        FROM enc_pieces GROUP BY word),
       |wfp AS MATERIALIZED (
       |  SELECT p.word, ANY_VALUE(w.np) AS np,
       |    CAST(SUM((w.np - p.k + 1) *
       |      (${graft.functions.PolyHash.duckdbSql("p.piece")})) AS BIGINT) AS fp,
       |    CASE WHEN string_agg(p.piece, '' ORDER BY p.k DESC) = p.word
       |         THEN 0 ELSE 1 END AS rt_fail
       |  FROM enc_pieces p JOIN wnp w USING (word) GROUP BY p.word)""".stripMargin

  /** Unigram-LM tokenizer TRAINING ([[graft.llm.UnigramLM.train]]):
    * all-substring seed vocabulary (every char + top-64 multi-char by
    * weighted count), then 2 rounds of determinized Viterbi hard-EM —
    * segment every distinct word under ln(c/T) scores (portable-log
    * fixed-point, exact max-plus DP), recount pieces from the Viterbi
    * segmentations, prune unused multi-char pieces, floor chars at 1.
    * Output: the final (piece, cnt) vocabulary. The oracle unrolls
    * the ENTIRE training — seed, both DP/backtrack rounds, prune —
    * as ~90 materialized CTEs, so seeding, scoring, tie-breaks,
    * pruning and the char floor are all hash-checked.
    */
  def q223(spark: SparkSession, sfDir: String): DataFrame = {
    val s = spark
    import s.implicits._
    graft.llm.UnigramLM
      .train(docs(spark, sfDir), "text", rounds = UnigramRounds,
        maxWordLen = UnigramMaxW, maxPieceLen = UnigramMaxP,
        maxMulti = UnigramMulti)
      .map(p => (p.piece, p.cnt)).toDF("piece", "cnt")
      .orderBy(col("piece"))
  }

  val q223Sql: String =
    s"""WITH $unigramTrainCtes
       |SELECT piece, cnt FROM v$UnigramRounds ORDER BY piece""".stripMargin

  /** Unigram-LM ENCODE + round-trip ([[graft.llm.UnigramLM.encode]] /
    * `decode`): the trained tokenizer segments the corpus; per
    * document the query pins the word count, total piece count, an
    * order-sensitive fingerprint Σ (piece_index+1)·poly_hash(piece)
    * over every word's segmentation, and the number of words whose
    * pieces do NOT concatenate back to the word (must be 0 — the
    * decode identity, asserted through real data rather than by
    * construction). Scale: train on the distinct-word table, one
    * broadcast of the word→pieces map onto the token stream.
    */
  def q224(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val vocab = graft.llm.UnigramLM.train(d, "text", rounds = UnigramRounds,
      maxWordLen = UnigramMaxW, maxPieceLen = UnigramMaxP,
      maxMulti = UnigramMulti)
    val wp = graft.llm.UnigramLM
      .wordPieces(d, "text", vocab, UnigramMaxW, UnigramMaxP)
      .transform(graft.Pin.cut) // one segmentation pass, three consumers
    val wordStats = wp
      .select(col("word"), posexplode(col("pieces")).as(Seq("ppos", "piece")))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("np"),
        sum((col("ppos") + 1) * GraftFunctions.polyHash("piece")).as("fp"))
      .join(wp.select(col("word"),
        when(concat_ws("", col("pieces")) === col("word"), 0L)
          .otherwise(1L).as("rt_fail")), "word")
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .select(col("doc_id"), substring(col("w"), 1, UnigramMaxW).as("word"))
      .join(broadcast(wordStats), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
        sum(col("fp")).as("fp"), sum(col("rt_fail")).as("n_rt_fail"))
      .orderBy(col("doc_id"))
  }

  val q224Sql: String =
    s"""WITH $unigramTrainCtes,
       |$unigramEncodeCtes,
       |toks AS (
       |  SELECT doc_id, substr(word, 1, $UnigramMaxW) AS word
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE length(word) > 0)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(np) AS BIGINT) AS n_pieces,
       |  CAST(SUM(fp) AS BIGINT) AS fp,
       |  CAST(SUM(rt_fail) AS BIGINT) AS n_rt_fail
       |FROM toks JOIN wfp USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q162's fertility/compression evaluation RERUN under the unigram
    * tokenizer — the cross-family comparison the two-tokenizer engine
    * exists for (BPE fertility: q162). Stats are over the
    * truncated-word corpus the tokenizer is defined on: n_words,
    * pieces per word (fertility), characters per piece (compression),
    * per language.
    */
  def q225(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val vocab = graft.llm.UnigramLM.train(d, "text", rounds = UnigramRounds,
      maxWordLen = UnigramMaxW, maxPieceLen = UnigramMaxP,
      maxMulti = UnigramMulti)
    val wp = graft.llm.UnigramLM
      .wordPieces(d, "text", vocab, UnigramMaxW, UnigramMaxP)
      .select(col("word"), size(col("pieces")).cast("long").as("np"))
    d.select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .select(col("lang"), substring(col("w"), 1, UnigramMaxW).as("word"))
      .join(broadcast(wp), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        round(col("n_pieces") / col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_chars") / col("n_pieces").cast("double"), 6)
          .as("chars_per_piece"))
      .orderBy(col("lang"))
  }

  val q225Sql: String =
    s"""WITH $unigramTrainCtes,
       |$unigramEncodeCtes,
       |toks AS (
       |  SELECT lang, substr(word, 1, $UnigramMaxW) AS word
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE length(word) > 0)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(np) AS BIGINT) AS n_pieces,
       |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       |  ROUND(SUM(np) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility,
       |  ROUND(SUM(length(word)) / CAST(SUM(np) AS DOUBLE), 6) AS chars_per_piece
       |FROM toks JOIN wfp USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin


  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q112_bpe_merges", q112 _, Some(q112Sql)),
    ("q120_bpe_encode", q120 _, Some(q120Sql)),
    ("q162_tokenizer_fertility", q162 _, Some(q162Sql)),
    ("q204_bpe_decode_roundtrip", q204 _, Some(q204Sql)),
    ("q223_unigram_train", q223 _, Some(q223Sql)),
    ("q224_unigram_encode_roundtrip", q224 _, Some(q224Sql)),
    ("q225_unigram_fertility", q225 _, Some(q225Sql))
  )
}
