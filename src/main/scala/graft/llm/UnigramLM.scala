package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model tokenizer (Kudo, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", ACL'18 — the SentencePiece unigram family),
  * determinized as Viterbi hard-EM so every training round is
  * oracle-replayable — the second dominant subword family next to
  * BPE ([[Vocab.bpeMerges]]):
  *
  *  - SEED: all substrings of length 1..`maxPieceLen` of the
  *    (truncated) distinct words, occurrence-counted with word
  *    frequency weights; the vocabulary keeps EVERY single character
  *    plus the top `maxMulti` multi-char substrings by
  *    (count desc, piece asc).
  *  - E step (hard): each distinct word takes its VITERBI-best
  *    segmentation under piece scores ln(c/T) — the deterministic
  *    argmax in place of the paper's expected-count E step, which is
  *    what makes fixed-round training exactly reproducible across
  *    engines. Scores follow the portable-log discipline: rounded
  *    ONCE at scale 9, then handled as exact fixed-point (long nanos
  *    here, DECIMAL(27,9) in the oracle), so DP comparisons are
  *    engine-identical.
  *  - M step: piece counts = frequency-weighted Viterbi usage;
  *    unused multi-char pieces PRUNE (the unigram-LM vocabulary
  *    shrink), single chars floor at count 1 (SentencePiece's
  *    character-coverage guarantee — every word stays segmentable).
  *
  * Scale design — the BPE vocabulary trick throughout: the corpus is
  * scanned once (word-count aggregate); every EM round runs ONE
  * in-row [[graft.functions.UnigramViterbi]] pass over the
  * Heaps'-law-small distinct-word table plus one vocab-sized
  * aggregate + driver collect (the k-means-codebook shape: the vocab
  * IS the model, ≤ 1 + chars + maxMulti rows). Encoding broadcasts
  * the word→pieces map onto the token stream — map-side at any
  * corpus size.
  *
  * `maxWordLen`: words truncate to their first `maxWordLen`
  * codepoints before anything else (the declared-query cap that
  * bounds the oracle's DP unroll; SentencePiece similarly caps
  * sentence and piece lengths). Truncation happens BEFORE the
  * distinct, so two words sharing a 12-codepoint prefix train and
  * encode as one. Real-corpus consequence: at the default 12,
  * morphologically rich or compounding languages (German, Finnish,
  * Turkish agglutination) segment on a truncated prefix — long
  * compounds lose their tails from BOTH the training statistics and
  * the encode path, biasing piece probabilities toward word-initial
  * morphemes and under-counting fertility for exactly the words
  * subword tokenizers exist to handle. Production training should
  * raise `maxWordLen` to cover the corpus's long tail (SentencePiece
  * defaults its analogous sentence cap orders of magnitude higher);
  * the cost is linear in the cap for the Spark side (one Viterbi
  * lattice row per codepoint) but combinatorial for the declared
  * oracle's unrolled DP, which is why the DECLARED queries keep 12.
  */
object UnigramLM {

  final case class Piece(piece: String, cnt: Long)

  /** (word, freq) of truncated, non-empty whitespace tokens. */
  private def wordTable(df: DataFrame, textCol: String,
                        maxWordLen: Int): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .select(substring(col("w"), 1, maxWordLen).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Seed vocabulary: every single char + top `maxMulti` multi-char
    * substrings by (weighted count desc, piece asc). */
  private def seed(words: DataFrame, maxPieceLen: Int,
                   maxMulti: Int): Seq[Piece] = {
    val subs = words.select(col("freq"),
        explode(expr(
          s"""flatten(transform(sequence(0, length(word) - 1),
             |  s -> transform(sequence(1, least($maxPieceLen, length(word) - s)),
             |    l -> substring(word, s + 1, l))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val chars = subs.where(length(col("piece")) === 1)
    val multi = subs.where(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(maxMulti)
    // vocab-sized collect — the model itself, like the BPE merge table
    chars.unionByName(multi).collect()
      .map(r => Piece(r.getString(0), r.getLong(1))).toIndexedSeq
      .sortBy(_.piece)
  }

  /** round(ln(c/T), 9) as exact nanos — [[graft.functions.UnigramViterbi]]
    * score units. */
  private def lpNanos(vocab: Seq[Piece]): (Array[String], Array[Long]) = {
    val t = vocab.map(_.cnt).sum.toDouble
    (vocab.map(_.piece).toArray,
      vocab.map(p => java.math.BigDecimal.valueOf(math.log(p.cnt / t))
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .movePointRight(9).longValueExact()).toArray)
  }

  private def segCol(vocab: Seq[Piece], maxPieceLen: Int) = {
    val (ps, lps) = lpNanos(vocab)
    call_function("unigram_segment", col("word"), lit(ps), lit(lps),
      lit(maxPieceLen))
  }

  /** `rounds` of Viterbi hard-EM from the seed; returns the final
    * (piece, cnt) vocabulary. */
  def train(df: DataFrame, textCol: String, rounds: Int = 2,
            maxWordLen: Int = 12, maxPieceLen: Int = 4,
            maxMulti: Int = 64): Seq[Piece] = {
    require(rounds >= 0 && maxWordLen >= 1 && maxPieceLen >= 1,
      "rounds >= 0, maxWordLen/maxPieceLen >= 1")
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val words = wordTable(df, textCol, maxWordLen).transform(graft.Pin.cut)
    var vocab = seed(words, maxPieceLen, maxMulti)
    for (_ <- 1 to rounds if vocab.nonEmpty) {
      val votes = words
        .select(col("freq"), explode(segCol(vocab, maxPieceLen)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      vocab = vocab.flatMap { p =>
        val v = votes.getOrElse(p.piece, 0L)
        if (p.piece.codePointCount(0, p.piece.length) == 1)
          Some(Piece(p.piece, math.max(v, 1L))) // char-coverage floor
        else if (v > 0) Some(Piece(p.piece, v)) // unused multi prunes
        else None
      }
    }
    vocab
  }

  /** Per-distinct-word segmentation under a trained vocabulary:
    * (word, freq, pieces array) — the broadcastable word→pieces map. */
  def wordPieces(df: DataFrame, textCol: String, vocab: Seq[Piece],
                 maxWordLen: Int = 12, maxPieceLen: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    wordTable(df, textCol, maxWordLen)
      .select(col("word"), col("freq"),
        segCol(vocab, maxPieceLen).as("pieces"))
  }

  /** Encode the corpus: one row per piece occurrence —
    * (idCol, wpos, ppos, piece), positions 0-based. The corpus-sized
    * pass is a broadcast join of the distinct-word map. */
  def encode(df: DataFrame, idCol: String, textCol: String,
             vocab: Seq[Piece], maxWordLen: Int = 12,
             maxPieceLen: Int = 4): DataFrame = {
    val map = wordPieces(df, textCol, vocab, maxWordLen, maxPieceLen)
      .select(col("word"), col("pieces"))
    df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("wpos", "w")))
      .where(col("w") =!= "")
      .select(col(idCol), col("wpos"),
        substring(col("w"), 1, maxWordLen).as("word"))
      .join(broadcast(map), "word")
      .select(col(idCol), col("wpos"),
        posexplode(col("pieces")).as(Seq("ppos", "piece")))
  }

  /** Detokenize an [[encode]] stream back to (truncated-word) text:
    * pieces concatenate within a word, words join by single spaces.
    * decode(encode(text)) equals text exactly whenever every word is
    * non-empty, single-space-separated and ≤ maxWordLen codepoints —
    * segmentations partition the word, so the identity is structural.
    */
  def decode(stream: DataFrame, idCol: String): DataFrame =
    stream.groupBy(col(idCol), col("wpos"))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(ppos, piece))), x -> x.piece), '')").as("word"))
      .groupBy(col(idCol))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(wpos, word))), x -> x.word), ' ')").as("text"))
}
