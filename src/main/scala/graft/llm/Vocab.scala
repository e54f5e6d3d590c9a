package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frequency-ranked vocabulary construction and token-id encoding —
  * the tokenizer-adjacent stage that turns text into the integer
  * sequences a training pipeline actually ships.
  *
  * `build` ranks distinct tokens by (frequency desc, token asc); the
  * deterministic tie-break makes ids reproducible across runs and
  * engines. The ranking runs through [[graft.operators.GlobalRank]] —
  * fully partition-parallel (range-repartition + per-partition
  * row_number + prefix-sum offsets), so a web-corpus vocabulary
  * (Heaps'-law 10⁷–10⁸ distinct tokens) never funnels through one
  * partition; the corpus-sized work (token counting) is a partial-
  * aggregated group-by. `encode` is a broadcast join of that small
  * vocab onto the exploded token stream — map-side at any corpus
  * scale.
  */
object Vocab {

  /** (token, freq, token_id) ranked 1..|V|. */
  def build(df: DataFrame, textCol: String, sep: String = " "): DataFrame = {
    val counts = df.select(explode(split(col(textCol), sep)).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    graft.operators.GlobalRank
      .withGlobalRank(counts, Seq(col("freq").desc, col("tok")), "token_id")
      .withColumn("token_id", col("token_id").cast("int"))
  }

  /** (idCol, pos, token_id) — one row per token occurrence, positions
    * 0-based within the document. */
  def encode(df: DataFrame, idCol: String, textCol: String,
             vocab: DataFrame, sep: String = " "): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), sep)).as(Seq("pos", "tok")))
      .where(col("tok") =!= "")
      .join(broadcast(vocab.select(col("tok"), col("token_id"))), "tok")
      .select(col(idCol), col("pos"), col("token_id"))

  /** Byte-pair-encoding merge learning (Sennrich, Haddow, Birch,
    * "Neural Machine Translation of Rare Words with Subword Units",
    * ACL'16 — the standard subword tokenizer-training algorithm):
    * learn `numMerges` merges over the frequency-weighted vocabulary.
    * Output: one row per learned merge — (rank, left, right,
    * pair_cnt), rank 1-based in merge order.
    *
    * Scale design — the classic vocabulary trick: the corpus is
    * scanned ONCE (word-count aggregate); every merge round then runs
    * over the distinct-word table (Heaps'-law-small however big the
    * corpus), with each word's symbol string re-derived by `replace`.
    * Per round: one pair-count aggregate + a 1-row argmax collect —
    * the same k-row driver-collect shape as the k-means centroids.
    * Determinism: ties broken by (left, right) lexicographically;
    * merge application is exact token-level greedy leftmost — the
    * lookaround regex (Sennrich's `(?<!\\S)l r(?!\\S)`) matches every
    * non-overlapping occurrence scanning left to right WITHOUT
    * consuming the shared delimiter, so a run like `a a a a` merges
    * pairwise to `aa aa` (a delimiter-consuming replace would merge
    * only alternate occurrences and feed wrong counts to later
    * rounds). The oracle reproduces the same semantics with a greedy
    * left fold over the symbol list. Symbols split at UTF-16 code
    * units (ASCII-safe; a byte-level variant would pre-encode to
    * byte tokens).
    */
  def bpeMerges(df: DataFrame, textCol: String, numMerges: Int,
                sep: String = " "): DataFrame =
    bpeMergesWithVocab(df, textCol, numMerges, sep)._1

  /** [[bpeMerges]] plus the fully-merged vocabulary the learner already
    * maintains internally: returns (merges, vocab) where vocab is
    * (sym, freq) — each distinct word's subwords space-joined with all
    * learned merges applied, and its corpus frequency. The vocab is the
    * learner's own final-round local checkpoint, so
    * [[bpeEncodeFromVocab]] reuses the one corpus word-count scan and
    * the incremental merge applications the learner already paid,
    * instead of re-deriving both per consumer (guide §2.4: the encode
    * path previously re-ran the corpus aggregate plus the full regex
    * merge chain 2-3x). No cache outlives the call: each round's
    * checkpoint is reclaimed by the ContextCleaner once unreferenced.
    */
  def bpeMergesWithVocab(df: DataFrame, textCol: String, numMerges: Int,
                         sep: String = " "): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(split(col(textCol), sep)).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(concat_ws(" ", split(col("word"), "")).as("sym"), col("freq"))
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    // the corpus word count is pinned for the loop (round 1 reads it
    // twice); every later round reads its predecessor's checkpoint
    val vocab = graft.Pin.during(words) {
      var vocab = words
      var exhausted = false
      for (rank <- 1 to numMerges if !exhausted) {
        val best = vocab
          .select(col("freq"), split(col("sym"), " ").as("s"))
          .where(size(col("s")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(s)-2), " +
              "i -> struct(element_at(s, i+1) AS l, element_at(s, i+2) AS r))"))
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, r, cnt) = (best(0).getString(0), best(0).getString(1),
            best(0).getLong(2))
          merges += ((rank, l, r, cnt))
          // token-level greedy leftmost application (see scaladoc);
          // each round's vocab is checkpointed so round j never replays
          // rounds 1..j-1 (or the corpus scan)
          vocab = vocab.withColumn("sym",
              regexp_replace(col("sym"), lit(mergePattern(l, r)),
                lit(java.util.regex.Matcher.quoteReplacement(s"$l$r"))))
            .transform(graft.Pin.cut)
        }
      }
      // no merge learned: the pinned word count leaves as a checkpoint
      if (vocab eq words) graft.Pin.cut(words) else vocab
    }
    (merges.toSeq.toDF("rank", "left", "right", "pair_cnt"), vocab)
  }

  /** Lookaround pattern matching `l r` only at token boundaries of the
    * space-joined symbol string, consuming neither boundary space —
    * leftmost non-overlapping regex replacement is then exactly the
    * token-level greedy merge scan. */
  private def mergePattern(l: String, r: String): String =
    "(?<=^| )" + java.util.regex.Pattern.quote(s"$l $r") + "(?= |$)"

  /** Apply a learned merge table ([[bpeMerges]] output) to tokenize
    * the corpus into subwords — the encode half of the tokenizer,
    * without which the trained merges are unusable. Output: one row
    * per subword occurrence — (idCol, pos int, subword, subword_id
    * int), pos 0-based within the document across word boundaries,
    * subword_id ranking distinct subwords by (corpus frequency desc,
    * subword asc) — the same deterministic id contract as [[build]].
    *
    * Scale design — the same vocabulary trick as training: merges are
    * applied once per DISTINCT word (Heaps'-law-small table), in rank
    * order, each an in-row regex pass; the corpus-sized token stream
    * then broadcast-joins the word→subwords map. Subword ids come from
    * the word-level frequency table (weighted explode of the small
    * map), NOT a second corpus scan. The merge table itself is
    * driver-collected — numMerges rows by construction, the k-row
    * shape of the k-means centroids. The only data-sized window is the
    * per-document position, bounded by document length.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: DataFrame, sep: String = " ",
                endOfWord: Option[String] = None): DataFrame = {
    val ms = merges.orderBy(col("rank"))
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val words = df.select(explode(split(col(textCol), sep)).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val symFinal = ms.foldLeft(concat_ws(" ", split(col("word"), ""))) {
      case (c, (l, r)) =>
        regexp_replace(c, lit(mergePattern(l, r)),
          lit(java.util.regex.Matcher.quoteReplacement(s"$l$r")))
    }
    val wordSubs = words
      .select(col("word"), col("freq"), withMarker(symFinal, endOfWord).as("subs"))
    encodeFromWordSubs(df, idCol, textCol, wordSubs, sep)
  }

  /** [[bpeEncode]] fed by [[bpeMergesWithVocab]]'s checkpointed
    * merged vocabulary instead of the merge table: the word→subwords
    * map is a projection of the vocab — `word` is the sym with its
    * spaces removed, `subs` the sym split on spaces — so the corpus
    * word-count scan and the regex merge chain run ZERO more times
    * here (the legacy [[bpeEncode]] re-ran both once per consumer of
    * `wordSubs`). Values are identical by construction: the learner
    * applied the same `mergePattern` chain incrementally to the same
    * word-count table.
    *
    * PRECONDITIONS: `mergedVocab` was learned on the SAME corpus
    * (`df`, `textCol`, `sep`) — a word the learner never saw is
    * silently dropped (encode other text with [[bpeEncode]]); and no
    * word contains a space, since `word` is rebuilt by deleting the
    * spaces of `sym` (possible only when `sep` is not " ").
    */
  def bpeEncodeFromVocab(df: DataFrame, idCol: String, textCol: String,
                         mergedVocab: DataFrame, sep: String = " ",
                         endOfWord: Option[String] = None): DataFrame = {
    val wordSubs = mergedVocab.select(
      translate(col("sym"), " ", "").as("word"), col("freq"),
      withMarker(col("sym"), endOfWord).as("subs"))
    encodeFromWordSubs(df, idCol, textCol, wordSubs, sep)
  }

  /** Sennrich's end-of-word marker: an extra terminal subword per
    * word makes the FLAT subword stream invertible ([[bpeDecode]]) —
    * without it word boundaries are lost at decode time. Appended
    * after merge application, so segmentation is unchanged and the
    * marker is just one more vocabulary entry with its own id.
    */
  private def withMarker(sym: org.apache.spark.sql.Column,
                         endOfWord: Option[String]): org.apache.spark.sql.Column =
    endOfWord match {
      case Some(m) => concat(split(sym, " "), array(lit(m)))
      case None => split(sym, " ")
    }

  /** The shared encode tail over a (word, freq, subs) map: subword ids
    * from the frequency-weighted explode of the small map, the corpus
    * stream broadcast-joined against it, per-document positions from
    * one bounded window. */
  private def encodeFromWordSubs(df: DataFrame, idCol: String, textCol: String,
                                 wordSubs: DataFrame, sep: String): DataFrame = {
    val subCounts = wordSubs
      .select(col("freq"), explode(col("subs")).as("subword"))
      .groupBy(col("subword")).agg(sum(col("freq")).as("sfreq"))
    val ids = graft.operators.GlobalRank
      .withGlobalRank(subCounts, Seq(col("sfreq").desc, col("subword")), "subword_id")
      .withColumn("subword_id", col("subword_id").cast("int"))
      .select(col("subword"), col("subword_id"))
    val stream = df
      .select(col(idCol),
        posexplode(split(col(textCol), sep)).as(Seq("wpos", "word")))
      .where(col("word") =!= "")
      .join(broadcast(wordSubs.select(col("word"), col("subs"))), "word")
      .select(col(idCol), col("wpos"),
        posexplode(col("subs")).as(Seq("spos", "subword")))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("wpos"), col("spos"))
    stream
      .withColumn("pos", (row_number().over(byDoc) - 1).cast("int"))
      .join(broadcast(ids), "subword")
      .select(col(idCol), col("pos"), col("subword"), col("subword_id"))
  }

  /** Detokenize a marker-carrying subword stream ([[bpeEncode]] with
    * `endOfWord = Some(marker)`) back to text — the decode half of
    * the tokenizer, from the FLAT (id, pos, subword) stream alone:
    * subwords concatenate in pos order, each marker becomes a word
    * boundary, and the trailing boundary is trimmed. For any text
    * with single-space-separated non-empty words,
    * decode(encode(text)) = text exactly.
    *
    * Scale shape: one per-document grouped aggregation; the in-row
    * sort/join is bounded by document length (the q25 sessionization
    * class), so the only shuffle is the groupBy on the doc key —
    * fully partition-parallel at any corpus size. */
  def bpeDecode(stream: DataFrame, idCol: String,
                marker: String = "</w>", sep: String = " "): DataFrame =
    stream.groupBy(col(idCol))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(pos, subword))), x -> x.subword), '')").as("joined"))
      .select(col(idCol),
        rtrim(regexp_replace(col("joined"),
          lit(java.util.regex.Pattern.quote(marker)),
          lit(java.util.regex.Matcher.quoteReplacement(sep)))).as("text"))
}
