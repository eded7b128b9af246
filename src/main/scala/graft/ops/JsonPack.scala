package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A3 + JSON packing (SURVEY.md §2.4/§2.8): assemble ranked completions per
  * prefix into a JSON array.
  *
  * Reference: `groupBy(prefix).agg(collect_list(query))` + `to_json` at
  * `IncrementalAutocomplete.java:126-129`. `collect_list` order is NOT
  * guaranteed to survive the shuffle (hazard SURVEY §2.11.3), so the rebuild
  * collects `struct(rank, query)`, sorts the array explicitly
  * (`sort_array` — structs sort lexicographically, rank first), then projects
  * the query back out. Deterministic under any partitioning.
  *
  * [[flat]] and [[nested]] collect over `Window.partitionBy(group)` and keep
  * the rank-1 row, not a `groupBy`: on [[TopK]] output the rows already sit
  * clustered and sorted by group, so the window adds no Sort and no
  * Exchange, where `collect_list` under `groupBy` plans two
  * `ObjectHashAggregate`s that fall back to sort-based aggregation past 128
  * groups. Precondition: every group has a row of rank 1 (true of [[TopK]]
  * output); a group without one is dropped.
  */
object JsonPack {

  /** (group, rankCol, payload) rows → (group, completions JSON array string)
    * with payloads in rank order. Flat shape — the shipped reference code's
    * canonical output (`["q1","q2"]`).
    */
  def flat(df: DataFrame, group: String, rankCol: String, payload: String,
           out: String = "completions"): DataFrame =
    rankOrdered(df, group, rankCol, struct(df(rankCol), df(payload)),
      a => to_json(a.getField(payload)).as(out))

  /** Nested design-doc shape (SURVEY §2.11.4, `reports-steps/steps.docx`):
    * `[{"query": ..., "frequency": ...}, ...]` in rank order.
    */
  def nested(df: DataFrame, group: String, rankCol: String, query: String,
             freq: String, out: String = "completions"): DataFrame =
    rankOrdered(df, group, rankCol, struct(df(rankCol).as("r"),
      df(query).as("query"), df(freq).as("frequency")),
      a => to_json(transform(a, e => struct(e.getField("query").as("query"),
        e.getField("frequency").as("frequency")))).as(out))

  /** (group, pack(array of `elem` in rank order)) from each group's rank-1
    * row; `elem` must lead with the rank so the array sorts by it.
    */
  private def rankOrdered(df: DataFrame, group: String, rankCol: String,
                          elem: Column, pack: Column => Column): DataFrame =
    df.select(df(group), df(rankCol),
        collect_list(elem).over(Window.partitionBy(df(group))).as("__elems"))
      .filter(col(rankCol) === 1)
      .select(col(group), pack(sort_array(col("__elems"))))

  /** S5 document frame — the reference's MongoDB collection record
    * (`reports-steps/steps.docx` schema; `IncrementalAutocomplete.java:
    * 126-133` builds the same fields for the JDBC fallback): one TYPED
    * document per group, `(group, completions: array<struct<query,
    * frequency>>, last_updated)`, completions in rank order. Unlike
    * [[nested]] (which emits the completions array pre-serialized as a
    * JSON string for the SQL/JDBC surface), this keeps the array TYPED —
    * exactly the frame a document-store connector consumes: a real
    * deployment hands it to the Mongo Spark connector unchanged, and the
    * sandbox writes it as JSON-lines via `Sinks.documentSink` (no broker/
    * mongod exists here; the document layout is what the spec certifies).
    * `lastUpdated` is caller-supplied rather than `current_timestamp()`
    * so tests and replays are deterministic.
    */
  def document(df: DataFrame, group: String, rankCol: String, query: String,
               freq: String, lastUpdated: org.apache.spark.sql.Column,
               out: String = "completions"): DataFrame =
    df.groupBy(df(group))
      .agg(transform(
        sort_array(collect_list(struct(
          df(rankCol).as("r"), df(query).as("query"),
          df(freq).as("frequency")))),
        e => struct(e.getField("query").as("query"),
                    e.getField("frequency").as("frequency"))).as(out))
      .withColumn("last_updated", lastUpdated)
}
