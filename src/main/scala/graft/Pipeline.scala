package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops._

/** The rebuilt `IncrementalAutocomplete` dataflow (SURVEY.md §3.1):
  *
  *   text lines → filter/normalize (P1,P2) → per-query counts merged
  *   with the state at query grain (A1,J1) → state: prefix-expand (G1);
  *   top-K: ranked per prefix at query grain (W1,P4) → JSON completions
  *   (A3).
  *
  * Query-grain invariant: a query has one state row per prefix length
  * 2..min(len, 60), each carrying the query's total frequency. So its
  * length-2 row alone holds its count: the merge unions those rows with
  * the batch's normalised lines as `(query, 1)`, sums per query in one
  * shuffle (the partial aggregate counts the batch per task) and expands
  * prefixes after the merge, with the same output rows as merging the
  * exploded state. [[incrementalRun]] verifies the invariant.
  *
  * The top-K never sees the expanded rows either: [[ops.PrefixTopK]]
  * ranks every prefix in one query-sorted pass over the merge, with the
  * same output as [[topCompletions]] over [[expand]], which stays for
  * callers that hold prefix-grain rows.
  *
  * Fixes over the reference, both load-bearing at scale:
  *  - the per-query merge is persisted once and feeds BOTH sinks; the
  *    reference recomputes the plan per sink and overwrites the table it
  *    lazily reads (SURVEY §2.11.1). State I/O is `Main.tick`'s concern.
  *  - deterministic rank ties and collect order (SURVEY §2.11.2/3).
  */
object Pipeline {

  /** lines → (query, frequency). Counting BELOW the prefix generator:
    * prefixes are a function of the query, so the one wide shuffle moves
    * a row per distinct query per task, not the ≤59× exploded fan-out.
    */
  def queryCounts(lines: DataFrame): DataFrame =
    FrequencyAgg.counts(Normalize(lines, "value", "query"), Seq("query"),
      "frequency")

  /** (query, frequency) → (prefix, query, frequency), a row per prefix. */
  def expand(freq: DataFrame): DataFrame =
    freq.select(explode(PrefixExpand.prefixArray(freq("query"))).as("prefix"),
      freq("query"), freq("frequency"))

  /** Stateless per-batch counts: lines → (prefix, query, frequency).
    * This is the legacy `TrendingAutocomplete` core (SURVEY §3.2).
    */
  def batchCounts(lines: DataFrame): DataFrame = expand(queryCounts(lines))

  /** New state (expanded) and top-K (ranked at query grain), both from
    * the persisted per-query merge `merged`, which the caller unpersists.
    * `checkState` throws if the input state broke the invariant; call it
    * once `merged` is built.
    */
  final case class Run(state: DataFrame, topK: DataFrame, merged: DataFrame,
                       checkState: () => Unit)

  /** Merges the batch into `state` at query grain, in one shuffle. The
    * invariant check rides the state scan: the row count must equal the
    * summed fan-out of the length-2 rows, and the summed frequency their
    * frequency × fan-out.
    */
  def incrementalRun(lines: DataFrame, state: DataFrame, k: Int = 10): Run = {
    val obs = new Observation()
    val head = length(state("prefix")) === 2
    val fanOut = least(length(state("query")), lit(60)).cast("long") - 1
    def total(c: Column) = coalesce(sum(c), lit(0L))
    val old = state.observe(obs, count(lit(1)).as("rows"),
      total(when(head, fanOut)).as("head_rows"),
      total(state("frequency")).as("freq"),
      total(when(head, state("frequency") * fanOut)).as("head_freq"))
      .filter(head)
    val batch = Normalize(lines, "value", "query")
      .withColumn("frequency", lit(1L))
    val merged = Merge(old, batch, Seq("query"), "frequency")
      .persist(StorageLevel.MEMORY_AND_DISK)
    Run(expand(merged), PrefixTopK(merged, k), merged, () => {
      val m = obs.get
      if (m("rows") != m("head_rows") || m("freq") != m("head_freq"))
        throw new IllegalStateException(
          s"state breaks the query-grain invariant: $m")
    })
  }

  /** (prefix, query, frequency) → (prefix, completions-json) top-K table
    * over prefix-grain rows; the tick ranks its query-grain merge with
    * [[PrefixTopK]] instead.
    *
    * Skew (SURVEY §4.3): the native Partial+Final WindowGroupLimit ships
    * only k rows per prefix from each map task, so a hot 2-char prefix
    * shuffles k×tasks rows, not its fan-in (plan-audited on a skewed
    * fixture in PlanAuditSpec).
    */
  def topCompletions(freq: DataFrame, k: Int): DataFrame = {
    val ranked = TopK(freq, Seq("prefix"), freq("frequency"),
      Seq(freq("query")), k)
    JsonPack.flat(ranked, "prefix", "rnk", "query")
  }

  /** Empty cumulative state with the canonical schema. */
  def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Tables.freqTable)
}
