package graft.ops.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) Viterbi subword serving — the third
  * tokenizer family next to the BPE merge replay (`Bpe`) and WordPiece
  * greedy longest-match (`WordPiece`). Where MaxMatch commits to the
  * longest piece at each position, Viterbi picks the segmentation that
  * minimizes the total piece cost (quantized −ln unigram probability) —
  * globally optimal for the given costs.
  *
  * The vocabulary is the same deterministic corpus state as WordPiece's
  * (every corpus character + top-200 substrings len 2..4 by
  * occurrence-weighted frequency), but every kept piece carries a COST:
  * round(−ln(wt / Σwt) · 1e4) as an exact integer, the q_surprisal
  * quantization discipline, so the whole serving path is hash-checkable.
  *
  * Scale shape: identical to WordPiece — all vocabulary work on the
  * Heaps'-law-sized distinct-word table, serving as one codegen'd
  * expression (`functions.ViterbiTokenize`, costs ride in the expression
  * as a hash map, no join), weighted back by word counts.
  */
object Unigram {

  /** The deterministic cost table (driver-side, vocab-sized): every
    * single char + topN substrings len 2..maxLen, each at
    * round(−ln(wt/total)·1e4) where wt is the occurrence-weighted
    * substring frequency and total sums over the KEPT vocabulary.
    */
  def vocabCosts(words: DataFrame, topN: Int = 200, maxLen: Int = 4)
      : Seq[(String, Long)] = {
    require(maxLen >= 2, s"maxLen must be >= 2, got $maxLen")
    val w = words.toDF("word", "freq")
    val cand = (1 to maxLen).map(WordPiece.substrings(w, _))
      .reduce(_ unionByName _)
      .groupBy("piece").agg(sum("freq").as("wt"))
    val kept = cand.filter(char_length(col("piece")) === 1)
      .unionByName(cand.filter(char_length(col("piece")) >= 2)
        .orderBy(col("wt").desc, col("piece")).limit(topN))
    val rows = kept.collect()
    val total = rows.map(_.getLong(1)).sum.toDouble
    rows.map(r => r.getString(0) ->
        math.round(-math.log(r.getLong(1) / total) * 10000))
      .sortBy(_._1).toSeq
  }

  /** Corpus piece frequencies under Viterbi serving: (piece,
    * occurrences), occurrences summed over word counts. Matching
    * `WordPiece.pieceFrequencies`'s shape so the two tokenizers compare
    * directly; the oracle certifies optimality by enumerating every
    * segmentation and taking the (cost, path) minimum.
    */
  def pieceFrequencies(docs: DataFrame, textCol: String,
      topN: Int = 200, maxLen: Int = 4): DataFrame = {
    val w = WordPiece.wordFreq(docs, textCol).localCheckpoint(true)
    val costs = vocabCosts(w, topN, maxLen)
    // unk never fires on the vocab's own corpus (all chars kept); the
    // cost just has to be defined and deterministic for foreign input
    val unk =
      if (costs.isEmpty) 10000L else costs.iterator.map(_._2).max + 10000L
    w.select(
        explode(graft.functions.ViterbiTokenize(col("word"), costs, unk))
          .as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum("freq").cast("long").as("occurrences"))
  }
}
