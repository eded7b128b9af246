package graft.ops.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge training — the tokenizer-
  * training kernel of an LLM data pipeline, in the form that scales:
  * every iteration operates on the aggregated word-count table (vocab-
  * sized), never the corpus; the corpus is scanned exactly once to build
  * that table.
  *
  * Representation: a word is its character tokens plus a `</w>` end
  * marker, joined with DOUBLE spaces and double-space padded at both
  * ends (`"low"` → `"  l  o  w  </w>  "`). A merge of pair (a,b) is then
  * the literal string replace of `" a  b "` with `" ab "` — and because
  * the single-space flanks of the pattern consume only the INNER halves
  * of the double-space boundaries, left-to-right non-overlapping replace
  * (the semantics of both `functions.replace` and DuckDB `replace`)
  * applies the merge exactly like a greedy BPE pass: in `a a a` the
  * first two merge, the third survives. Merged tokens never contain a
  * space, so patterns stay unambiguous at every iteration. This keeps
  * the whole trainer inside exact string operations that hash-match the
  * DuckDB oracle — no UDF tokenizer state, no driver-side corpus.
  *
  * Pair selection is the global argmax by (count desc, pair asc) — a
  * deterministic tie-break both engines replay.
  */
object Bpe {

  /** One row per distinct word: the double-spaced char-token state `s`
    * and the word's occurrence count `c`. The single corpus pass.
    */
  def wordState(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(
        concat(lit("  "), regexp_replace(col("w"), "(.)", "$1  "),
          lit("</w>  ")).as("s"),
        col("c"))

  /** Occurrence-weighted adjacent-pair counts over a word state. Pairs
    * are single-space-joined token bigrams; the 1-token degenerate
    * shingle is space-free and filtered.
    */
  def pairCounts(st: DataFrame): DataFrame =
    st.select(explode(TextOps.shingleStream(col("s"), 2)).as("pr"),
        col("c"))
      .filter(col("pr").contains(" "))
      .groupBy("pr").agg(sum("c").as("cnt"))

  /** The merge-application replace for pair "a b": `" a  b "` → `" ab "`. */
  private def mergeOne(st: DataFrame, pair: String): DataFrame = {
    val Array(a, b) = pair.split(" ", 2)
    st.withColumn("s",
      replace(col("s"), lit(s" $a  $b "), lit(s" ${a + b} ")))
  }

  /** Train `k` merges. The word state is pinned with persist so the
    * corpus aggregation runs once (the first pair-count job materializes
    * the cache); each iteration is then a vocab-sized pair count + a
    * 1-row argmax collect — the standard driver-looped shape of
    * iterative refinement (like ops.TextRank). Every pinned state is
    * blocking-unpersisted before returning: the merge table is driver-
    * resident and independent of the caches, and BpeSpec asserts no
    * RDD survives a train call.
    */
  def train(docs: DataFrame, textCol: String, k: Int)
  : Seq[(Int, String, Long)] = {
    import org.apache.spark.storage.StorageLevel
    var st = wordState(docs, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, Long)]
    try {
      var it = 1
      var continue = true
      while (it <= k && continue) {
        val best = pairCounts(st)
          .orderBy(col("cnt").desc, col("pr").asc).limit(1).collect()
        // that job materialized st's cache — its predecessor is dead
        // weight now; at a realistic k (thousands of merges) retaining
        // every intermediate state would hold O(k) vocab-table copies
        prev.foreach(_.unpersist(blocking = true))
        prev = None
        if (best.isEmpty) continue = false
        else {
          val pr = best(0).getString(0)
          merges += ((it, pr, best(0).getLong(1)))
          if (it < k) {
            prev = Some(st)
            st = mergeOne(st, pr).persist(StorageLevel.MEMORY_AND_DISK)
          }
          it += 1
        }
      }
    } finally {
      prev.foreach(_.unpersist(blocking = true))
      st.unpersist(blocking = true)
    }
    merges.toList
  }

  /** The scale form of [[train]]: the per-iteration
    * argmax stays a 1-row DATAFRAME instead of a driver collect — the
    * merge is applied by broadcast-joining that row into the word state
    * and deriving the replace pattern from the pair COLUMN, so the pair
    * string NEVER crosses to the driver. [[train]] pays a sequential
    * `limit(1).collect()` + plan-resubmit round-trip per merge (the
    * declared 30k-merge boundary); here each iteration is one eager
    * vocab-table checkpoint job and the merge table itself is a single
    * final action over the unioned 1-row argmax frames.
    *
    * Row-identical to [[train]] (BpeSpec asserts it) and replayed by the
    * SAME unrolled-CTE oracle. An exhausted pair table (k beyond the
    * available merges) emits no row for those iterations — the 1-row
    * argmax frame is empty and the left-joined merge is a no-op — which
    * matches the while-loop's break in [[train]].
    *
    * State pinning is EAGER localCheckpoint, per the repo-wide checkpoint
    * discipline (CheckpointRaceSpec: a lazily-checkpointed base with
    * concurrent consumers — exactly this union's branches plus the AQE
    * broadcast futures — can hit the lock-order-inversion deadlock
    * inside Spark). The eager job also truncates lineage every
    * iteration, so the chain stays O(k) work and O(1) plan depth at any
    * k — what a real 30k-merge trainer needs.
    */
  def trainChained(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    var st = wordState(docs, textCol)
    val iters = (1 to k).map { it =>
      st = st.localCheckpoint()
      val best = pairCounts(st)
        .orderBy(col("cnt").desc, col("pr").asc).limit(1)
      // apply the argmax without collecting it: 1-row broadcast
      // left-join (empty argmax → pr NULL → state passes through,
      // the while-loop-exhausted case of train())
      val b = broadcast(best.select(col("pr").as("_mpr")))
      st = st.join(b, lit(true), "left")
        .withColumn("s", when(col("_mpr").isNull, col("s")).otherwise(
          replace(col("s"),
            concat(lit(" "), replace(col("_mpr"), lit(" "), lit("  ")),
              lit(" ")),
            concat(lit(" "), replace(col("_mpr"), lit(" "), lit("")),
              lit(" ")))))
        .drop("_mpr")
      best.select(lit(it).as("it"), col("pr").as("pair"),
        col("cnt").cast("long").as("cnt"))
    }
    iters.reduce(_ union _)
  }

  /** Re-apply already-learned merges as a PURE lineage (no checkpoint,
    * no extra job): one corpus pass through the word aggregation, then
    * `k` chained literal replaces. The form a tokenization-serving pass
    * uses once the merge table is trained.
    */
  def applyMerges(docs: DataFrame, textCol: String,
                  merges: Seq[String]): DataFrame =
    merges.foldLeft(wordState(docs, textCol))(mergeOne)

  /** Token frequencies after the merges: explode the merged state back
    * into tokens, weight by word count.
    */
  def tokenCounts(st: DataFrame): DataFrame =
    st.select(explode(split(trim(col("s")), "\\s+")).as("token"), col("c"))
      .groupBy("token").agg(sum("c").as("cnt"))
}
