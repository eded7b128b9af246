package graft.ops.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece-style greedy longest-match subword serving (the MaxMatch
  * kernel BERT-family tokenizers run at inference). Complements the BPE
  * trainer (`Bpe`): BPE serves by replaying learned MERGES, WordPiece
  * serves by longest-match against a VOCABULARY — the two tokenizer
  * families a data pipeline meets in practice.
  *
  * The vocabulary here is corpus-derived and fully deterministic so the
  * whole path is oracle-checkable: every single character that appears in
  * any word, plus the `topN` substrings of length 2..`maxLen` ranked by
  * occurrence-weighted frequency (each occurrence weighs the containing
  * word's corpus count; ties break lexicographic). Char coverage
  * guarantees serving never hits the unmatched branch on its own corpus.
  *
  * Scale shape: everything vocabulary-facing runs on the DISTINCT-word
  * table — Heaps' law keeps that orders of magnitude smaller than the
  * corpus (the same reduction `Bpe.train` exploits), so the substring
  * explosion (≤ (maxLen-1)·|word| rows per distinct word) and the top-N
  * cut are cheap regardless of corpus size. Serving is one codegen'd
  * expression (`functions.PieceTokenize`, vocab rides in the expression
  * as a hash set — no join) applied per distinct word, then weighted back
  * by word counts; at 100 TB the same expression applies scan-side to
  * raw text with no driver state beyond the vocab.
  */
object WordPiece {

  /** Distinct words of a text corpus with occurrence counts:
    * (word, freq). Whitespace tokenization over lower(trim(text)) — the
    * corpus-wide convention (matches q_wordcount / Bpe.wordState).
    */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Every length-`l` substring `piece` of each `(word, freq)` row, with
    * the word's `freq`.
    */
  private[llm] def substrings(w: DataFrame, l: Int): DataFrame =
    w.filter(char_length(col("word")) >= l)
      .select(explode(expr(
        s"transform(sequence(1, char_length(word) - $l + 1), " +
          s"i -> substring(word, i, $l))")).as("piece"),
        col("freq"))

  /** The deterministic corpus vocabulary (driver-side, vocab-sized):
    * all single chars plus topN substrings len 2..maxLen by
    * (occurrence-weighted freq desc, piece asc).
    */
  def vocab(words: DataFrame, topN: Int = 200, maxLen: Int = 4)
      : Seq[String] = {
    require(maxLen >= 2, s"maxLen must be >= 2, got $maxLen")
    val w = words.toDF("word", "freq")
    val chars = w.select(explode(expr(
      "transform(sequence(1, char_length(word)), i -> substring(word, i, 1))"
    )).as("piece")).distinct()
    val subs = (2 to maxLen).map(substrings(w, _)).reduce(_ unionByName _)
    val top = subs.groupBy("piece").agg(sum("freq").as("wt"))
      .orderBy(col("wt").desc, col("piece")).limit(topN)
      .select("piece")
    chars.unionByName(top).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
  }

  /** Corpus piece frequencies under greedy longest-match serving:
    * (piece, occurrences), occurrences summed over word counts. The
    * segmentation invariant — pieces concatenate back to their word — is
    * spec-pinned as the length conservation law
    * Σ occurrences·len(piece) == Σ freq·len(word).
    */
  def pieceFrequencies(docs: DataFrame, textCol: String,
      topN: Int = 200, maxLen: Int = 4): DataFrame = {
    // the word table feeds vocab() (two jobs: chars + top-N collect) and
    // the serving pass — materialize the corpus scan once
    val w = wordFreq(docs, textCol).localCheckpoint(true)
    val v = vocab(w, topN, maxLen)
    w.select(
        explode(graft.functions.PieceTokenize(col("word"), v)).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum("freq").cast("long").as("occurrences"))
  }
}
