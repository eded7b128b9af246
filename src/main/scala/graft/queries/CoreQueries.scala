package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.ops._
import graft.Pipeline

/** Reference-parity declared queries (SURVEY.md §2 operators P1/P2/G1/A1-A4/
  * J1/W1/S-ops) expressed over the driver testdata, each with a DuckDB
  * oracle. Determinism rules (SURVEY §5.2): explicit tie-breaks, no
  * current_timestamp, aggregates cast to the same type on both sides.
  */
object CoreQueries {

  // Normalized queries `norm(query)` and (prefix, query) frequencies
  // `counts`, prefixes 2..60 chars.
  private val duckPrefixCounts =
    """norm AS (
      |  SELECT lower(trim(text)) AS query FROM documents
      |  WHERE length(trim(text)) >= 2),
      |counts AS (
      |  SELECT prefix, query, CAST(count(*) AS BIGINT) AS frequency FROM (
      |    SELECT substr(query, 1, l) AS prefix, query FROM norm,
      |    LATERAL (SELECT unnest(generate_series(2, least(length(query), 60))) AS l) ls)
      |  GROUP BY 1, 2)""".stripMargin

  // `counts` ranked per prefix by (frequency desc, query).
  private[queries] val duckPrefixRanked =
    s"""$duckPrefixCounts,
      |ranked AS (
      |  SELECT prefix, query, frequency,
      |    row_number() OVER (PARTITION BY prefix
      |      ORDER BY frequency DESC, query) AS rnk FROM counts)""".stripMargin

  val all: Map[String, Q] = Map(

    // P1 — null/short-line filter as a pushdown-friendly native predicate.
    "q_filter" -> Q(
      "SELECT doc_id, text FROM documents WHERE length(trim(text)) >= 2") {
      (s, dir) =>
        val d = table(s, dir, "documents")
        d.filter(Normalize.validLine(d("text"))).select(d("doc_id"), d("text"))
    },

    // P2 — trim+lower normalization.
    "q_normalize" -> Q(
      """SELECT doc_id, lower(trim(text)) AS norm_text
        |FROM documents WHERE length(trim(text)) >= 2""".stripMargin) {
      (s, dir) =>
        val d = table(s, dir, "documents")
        d.filter(Normalize.validLine(d("text")))
          .select(d("doc_id"), Normalize.normalized(d("text")).as("norm_text"))
    },

    // G1 — prefix expansion (lengths 2..60) + count per prefix.
    "q_prefix_expand" -> Q(
      """SELECT prefix, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT substr(q, 1, l) AS prefix FROM (
        |    SELECT lower(trim(p_name)) AS q FROM part
        |    WHERE length(trim(p_name)) >= 2) base,
        |  LATERAL (SELECT unnest(generate_series(2, least(length(q), 60))) AS l) ls
        |) GROUP BY prefix""".stripMargin) {
      (s, dir) =>
        val p = Normalize(table(s, dir, "part"), "p_name", "q")
        FrequencyAgg.counts(PrefixExpand(p, "q"), Seq("prefix"), "cnt")
    },

    // A1 — hash aggregation (count per group).
    "q_agg_count" -> Q(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin) {
      (s, dir) =>
        FrequencyAgg.counts(table(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"), "cnt")
    },

    // J1 — incremental merge: union two disjoint halves, re-sum per key.
    "q_merge" -> Q(
      """SELECT l_partkey, l_returnflag, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
        |  SELECT l_partkey, l_returnflag, count(*) AS cnt FROM lineitem
        |  WHERE l_linenumber <= 3 GROUP BY 1, 2
        |  UNION ALL
        |  SELECT l_partkey, l_returnflag, count(*) AS cnt FROM lineitem
        |  WHERE l_linenumber > 3 GROUP BY 1, 2
        |) GROUP BY 1, 2""".stripMargin) {
      (s, dir) =>
        val li = table(s, dir, "lineitem")
        val keys = Seq("l_partkey", "l_returnflag")
        val h1 = FrequencyAgg.counts(li.filter(li("l_linenumber") <= 3), keys)
        val h2 = FrequencyAgg.counts(li.filter(li("l_linenumber") > 3), keys)
        Merge(h1, h2, keys, "cnt")
    },

    // W1+P4 — top-3 parts per returnflag by summed quantity, deterministic
    // tie-break on the key.
    "q_topk" -> Q(
      """SELECT l_returnflag, l_partkey, sum_qty,
        |  CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT l_returnflag, l_partkey, sum_qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY sum_qty DESC, l_partkey) AS rnk FROM (
        |    SELECT l_returnflag, l_partkey,
        |      CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |    FROM lineitem GROUP BY 1, 2))
        |WHERE rnk <= 3""".stripMargin) {
      (s, dir) =>
        val li = table(s, dir, "lineitem")
        val agg = li.groupBy(li("l_returnflag"), li("l_partkey"))
          .agg(sum(li("l_quantity")).as("sum_qty"))
        TopK(agg, Seq("l_returnflag"), agg("sum_qty"), Seq(agg("l_partkey")), 3)
    },

    // Global sort + limit with tie-break (SURVEY §2.6).
    "q_sort_limit" -> Q(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) {
      (s, dir) =>
        val o = table(s, dir, "orders")
        o.select(o("o_orderkey"), o("o_totalprice"))
          .orderBy(o("o_totalprice").desc, o("o_orderkey").asc)
          .limit(10)
    },

    // A4 — legacy WordCount: split/explode/count.
    "q_wordcount" -> Q(
      """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word""".stripMargin) {
      (s, dir) =>
        val d = table(s, dir, "documents")
        d.select(explode(split(lower(trim(d("text"))), "\\s+")).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    },

    // Full autocomplete dataflow (flat ranked shape): normalize →
    // prefix-expand → count → window top-10 per prefix.
    "q_pipeline" -> Q(
      s"""WITH $duckPrefixCounts
        |SELECT prefix, query, frequency, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT prefix, query, frequency,
        |    row_number() OVER (PARTITION BY prefix
        |      ORDER BY frequency DESC, query) AS rnk FROM counts)
        |WHERE rnk <= 10""".stripMargin) {
      (s, dir) =>
        val lines = table(s, dir, "documents").select(col("text").as("value"))
        val counts = Pipeline.batchCounts(lines)
        TopK(counts, Seq("prefix"), counts("frequency"),
          Seq(counts("query")), 10)
    },

    // A3 — ordered collect_list + to_json (the prefix_suggestions shape).
    "q_topk_collect" -> Q(
      s"""WITH $duckPrefixRanked
        |SELECT prefix, to_json(list(query ORDER BY rnk)) AS completions
        |FROM ranked WHERE rnk <= 5 GROUP BY prefix""".stripMargin) {
      (s, dir) =>
        val lines = table(s, dir, "documents").select(col("text").as("value"))
        val counts = Pipeline.batchCounts(lines)
        val ranked = TopK(counts, Seq("prefix"), counts("frequency"),
          Seq(counts("query")), 5)
        JsonPack.flat(ranked, "prefix", "rnk", "query")
    },
  )
}
