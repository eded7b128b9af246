package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.ops.{Constraints, TopK}
import graft.ops.llm.{Decontaminate, Multimodal, TextOps}

/** Round-3 surface widening: outer/cross joins, set ops, conditional
  * expressions, scalar subqueries, exact percentiles, arg-min/max,
  * collected sets, rank windows, regex extraction, stratified sampling,
  * salted-aggregation parity, and multimodal frame sampling — every query
  * oracle-checked (same determinism rules as AnalyticsQueries: integer
  * cents for money, unique tie-break keys, no raw timestamps).
  */
object ExtendedQueries {

  /** Exact integer cents of a double money column. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  // Orders per priority, in (price cents, orderkey) order.
  private def byPriorityPrice(o: DataFrame): WindowSpec =
    Window.partitionBy(o("o_orderpriority"))
      .orderBy(cents(o("o_totalprice")), o("o_orderkey"))

  // Line items `(flag, l_orderkey, l_linenumber, c)`, `c` the price in
  // cents.
  private def lineCents(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_orderkey"),
        col("l_linenumber"), cents(col("l_extendedprice")).as("c"))

  // Docs sharing any shingle with the 5 probe docs; q_contamination and
  // q_contamination_bloom share this oracle.
  private val duckContamination =
    s"""WITH ${LlmQueries.duckShingles},
      |probe AS (
      |  SELECT DISTINCT unnest(sh) g FROM base WHERE doc_id < 5),
      |hits AS (
      |  SELECT DISTINCT b.doc_id FROM base b, unnest(b.sh) AS t(g)
      |  WHERE b.doc_id >= 5 AND g IN (SELECT g FROM probe))
      |SELECT doc_id FROM hits""".stripMargin

  val all: Map[String, Q] = Map(

    // Runtime bloom-filter join pruning (the 100 TB big-join move Spark's
    // InjectRuntimeFilter performs internally, here explicit and
    // oracle-checked): a bloom built from the FILTERED dim keys prefilters
    // the fact scan BEFORE the shuffle join, so non-matching fact rows
    // never cross the wire; bloom false positives are harmless — the
    // exact join still decides membership, which is why the result stays
    // hash-identical to the plain join. The bloom rides a SCALAR
    // SUBQUERY (Spark's own runtime-filter channel): built once in its
    // own stage, handed to codegen as a reference object — never a
    // plan literal and never the key set itself. An empty dim yields a
    // null bloom; might_contain(null, ·) is null, so the prefilter
    // drops every row — exactly what the exact join would conclude.
    "q_bloom_join" -> Q(
      """SELECT p.p_brand,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) revenue_cents,
        |  CAST(count(*) AS BIGINT) n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size = 1
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val part = table(s, dir, "part")
      val li = table(s, dir, "lineitem")
      val dim = part.filter(col("p_size") === 1)
        .select(col("p_partkey"), col("p_brand"))
      val bloom = org.apache.spark.sql.graft.Bridge.scalarSubquery(
        dim.agg(call_function("graft_bloom_agg", xxhash64(col("p_partkey")),
          lit(100000L), lit(800000L)).as("bf")))
      val pruned = li.filter(call_function("graft_might_contain",
        bloom, xxhash64(col("l_partkey"))))
      pruned.join(dim, pruned("l_partkey") === dim("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(cents(col("l_extendedprice"))).as("revenue_cents"),
          count(lit(1)).as("n_items"))
    },

    // Full-outer join: customers of a nation subset vs per-customer order
    // aggregates — left-only (customers without orders), right-only
    // (customers outside the subset), and matched rows all surface.
    // At scale this is one shuffle on the join key; neither side can be
    // broadcast (both unbounded), which is exactly what full-outer forces.
    "q_join_outer" -> Q(
      """WITH c AS (SELECT c_custkey, c_name FROM customer
        |           WHERE c_nationkey < 10),
        |oa AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS spend_cents
        |       FROM orders GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name,
        |  CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
        |  CAST(coalesce(spend_cents, 0) AS BIGINT) AS spend_cents
        |FROM c FULL JOIN oa ON c_custkey = o_custkey""".stripMargin) {
      (s, dir) =>
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders")
        val cs = c.filter(c("c_nationkey") < 10)
          .select(c("c_custkey"), c("c_name"))
        val oa = o.groupBy(o("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(o("o_totalprice"))).as("spend_cents"))
        cs.join(oa, cs("c_custkey") === oa("o_custkey"), "full_outer")
          .select(coalesce(cs("c_custkey"), oa("o_custkey")).as("custkey"),
            cs("c_name"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("spend_cents"), lit(0L)).as("spend_cents"))
    },

    // Cross join (explicit cartesian — both sides tiny dims; anything
    // larger should be an equi/range join instead).
    "q_cross_join" -> Q(
      "SELECT r_name, n_name FROM region CROSS JOIN nation") { (s, dir) =>
      table(s, dir, "region").crossJoin(table(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
    },

    // UNION ALL (bag semantics — duplicates preserved, unlike q_except/
    // q_intersect's set semantics), re-counted per key.
    "q_union_all" -> Q(
      """SELECT custkey, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT c_custkey AS custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      c.filter(c("c_mktsegment") === "BUILDING")
        .select(c("c_custkey").as("custkey"))
        .unionByName(o.filter(o("o_totalprice") > 300000)
          .select(o("o_custkey").as("custkey")))
        .groupBy("custkey").agg(count(lit(1)).as("n"))
    },

    // CASE WHEN / IN-list conditionals: price bands + urgency flag counts.
    "q_case_when" -> Q(
      """SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
        |            WHEN o_totalprice < 250000 THEN 'mid'
        |            ELSE 'high' END AS band,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      o.groupBy(
          when(o("o_totalprice") < 100000, "low")
            .when(o("o_totalprice") < 250000, "mid")
            .otherwise("high").as("band"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(o("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("n_urgent"))
    },

    // Scalar subquery: orders above the global mean price. The comparison
    // is integer cross-multiplication (price_cents * n > total_cents), so
    // no float mean ever exists to drift between engines.
    "q_scalar_subquery" -> Q(
      """WITH t AS (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |             AS BIGINT) AS tot,
        |           CAST(count(*) AS BIGINT) AS n FROM orders)
        |SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders, t WHERE CAST(round(o_totalprice * 100) AS BIGINT) * t.n
        |  > t.tot""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      val t = o.agg(sum(cents(o("o_totalprice"))).as("tot"),
        count(lit(1)).as("n"))
      o.select(o("o_orderkey"), cents(o("o_totalprice")).as("cents"))
        .crossJoin(t)
        .filter(col("cents") * col("n") > col("tot"))
        .select(col("o_orderkey"), col("cents"))
    },

    // Exact interpolated quartiles per group, over integer cents: the
    // quantile positions (n-1)*q for q in {.25,.5,.75} make the linear
    // interpolation exact in binary floating point — identical in both
    // engines (Spark `percentile` == DuckDB `quantile_cont`).
    "q_percentile" -> Q(
      """SELECT o_orderpriority,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT),
        |    0.25) AS p25,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT),
        |    0.5) AS p50,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT),
        |    0.75) AS p75
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      o.select(o("o_orderpriority"), cents(o("o_totalprice")).as("c"))
        .groupBy("o_orderpriority")
        .agg(expr("percentile(c, 0.25D)").as("p25"),
          expr("percentile(c, 0.5D)").as("p50"),
          expr("percentile(c, 0.75D)").as("p75"))
    },

    // arg_max/arg_min (max_by/min_by) with a composite-unique order value:
    // acctbal cents * 1e12 + custkey is strictly monotone in (acctbal,
    // custkey) while custkey < 1e12 (TPC-H reaches 1e12 keys around
    // SF 6.6M), so ties are impossible and both engines agree. cents
    // <= 1e6 so the product tops out near 1e18 — inside BIGINT.
    "q_minmax_by" -> Q(
      """WITH m AS (SELECT c_nationkey, c_custkey,
        |  CAST(round(c_acctbal * 100) AS BIGINT) * 1000000000000
        |    + c_custkey AS mv
        |  FROM customer)
        |SELECT c_nationkey,
        |  arg_max(c_custkey, mv) AS best_cust,
        |  arg_min(c_custkey, mv) AS worst_cust
        |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer")
      c.select(c("c_nationkey"), c("c_custkey"),
          (cents(c("c_acctbal")) * 1000000000000L + c("c_custkey")).as("mv"))
        .groupBy("c_nationkey")
        .agg(max_by(col("c_custkey"), col("mv")).as("best_cust"),
          min_by(col("c_custkey"), col("mv")).as("worst_cust"))
    },

    // collect_set → sorted array → JSON (set collection with
    // deterministic order; the set-typed twin of q_topk_collect's list).
    "q_collect_set" -> Q(
      """SELECT l_returnflag,
        |  to_json(list(DISTINCT l_linestatus ORDER BY l_linestatus))
        |    AS statuses,
        |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_statuses
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      li.groupBy(li("l_returnflag"))
        .agg(to_json(array_sort(collect_set(li("l_linestatus"))))
            .as("statuses"),
          countDistinct(li("l_linestatus")).as("n_statuses"))
    },

    // Rank-family windows: ntile buckets + percent_rank/cume_dist (exact
    // rationals — one IEEE division of exact ints, identical both engines)
    // over a unique (cents, orderkey) order.
    "q_ntile_window" -> Q(
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)"""
        .stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      val w = byPriorityPrice(o)
      o.select(o("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
    },

    // Regex extraction (RE2-compatible pattern subset so Java regex and
    // DuckDB agree): first long word + digit-run count per document.
    "q_regex_extract" -> Q(
      """SELECT doc_id,
        |  regexp_extract(lower(trim(text)), '([a-z]{7,})', 1) AS first_long,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER)
        |    AS n_digit_runs
        |FROM documents""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      d.select(d("doc_id"),
        regexp_extract(lower(trim(d("text"))), "([a-z]{7,})", 1)
          .as("first_long"),
        TextOps.regexCount(d("text"), "[0-9]+").as("n_digit_runs"))
    },

    // Stratified deterministic sampling: first 20 docs per language by
    // content-digest order — reproducible per-stratum subsampling (the
    // training-data "balanced slice" op; no RNG state, any cluster size).
    "q_stratified_sample" -> Q(
      """SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY sha256(lower(trim(text))), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val w = Window.partitionBy(d("lang"))
        .orderBy(sha2(lower(trim(d("text"))), 256), d("doc_id"))
      d.select(d("doc_id"), d("lang"), row_number().over(w).as("rk"))
        .filter(col("rk") <= 20)
    },

    // Top-3 vocabulary terms per language — grouped counts + per-group
    // window limit (two-phase WindowGroupLimit at scale).
    "q_lang_topk_terms" -> Q(
      """WITH tok AS (
        |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) term
        |  FROM documents),
        |cnt AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt
        |        FROM tok GROUP BY 1, 2)
        |SELECT lang, term, cnt, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT lang, term, cnt, row_number() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, term) AS rnk FROM cnt)
        |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val cnts = d.select(d("lang"),
          explode(TextOps.tokens(d("text"))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      TopK(cnts, Seq("lang"), cnts("cnt"), Seq(cnts("term")), 3)
    },

    // Salted two-phase aggregation: partial agg on (key, salt) then final
    // re-agg on key — the skew-mitigation shape for hot keys, provably
    // result-identical to the plain group-by the oracle runs. The salt
    // never reaches the output; re-aggregation algebra (sum of partial
    // counts/sums) erases it.
    "q_skew_salt" -> Q(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      li.groupBy(li("l_returnflag"), pmod(li("l_orderkey"), lit(16))
          .as("_salt"))
        .agg(count(lit(1)).as("pc"), sum(li("l_quantity")).as("pq"))
        .groupBy("l_returnflag")
        .agg(sum(col("pc")).as("cnt"),
          sum(col("pq")).cast("long").as("sum_qty"))
    },

    // Array-function toolkit over token arrays (the LLM-side column shape):
    // slicing, length, joining — all overrun-safe (slice, not element_at,
    // under ANSI mode).
    "q_array_ops" -> Q(
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') toks FROM documents)
        |SELECT doc_id,
        |  array_to_string(toks[1:3], ' ') AS head3,
        |  CAST(len(toks) AS INTEGER) AS n_toks,
        |  toks[len(toks)] AS last_tok
        |FROM t""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val toks = TextOps.tokens(d("text"))
      d.select(d("doc_id"),
        array_join(slice(toks, 1, 3), " ").as("head3"),
        size(toks).as("n_toks"),
        array_join(slice(toks, -1, 1), "").as("last_tok"))
    },

    // Null-semantics toolkit: nullif / coalesce / null-safe comparison
    // (IS DISTINCT FROM) — the three-valued-logic corners that differ
    // between naive ports and engines.
    "q_null_semantics" -> Q(
      """SELECT c_custkey,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_def,
        |  c_nationkey IS DISTINCT FROM 0 AS not_nation0
        |FROM customer""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer")
      c.select(c("c_custkey"),
        nullif(c("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
        coalesce(nullif(c("c_mktsegment"), lit("BUILDING")), lit("DEFAULT"))
          .as("seg_def"),
        expr("c_nationkey IS DISTINCT FROM 0").as("not_nation0"))
    },

    // Test-set decontamination: flag documents sharing any 3-word shingle
    // with a (small) probe set — here the 5 lowest-id docs stand in for
    // the benchmark set. Probe shingles broadcast (bounded by the probe
    // corpus, not the train corpus); the train side explodes shingles and
    // semi-joins — no train-vs-train pairs ever form.
    "q_contamination" -> Q(duckContamination) { (s, dir) =>
      val d = table(s, dir, "documents")
      Decontaminate.viaJoin(
        d.filter(col("doc_id") >= 5), d.filter(col("doc_id") < 5),
        "doc_id", "text", n = 3)
    },

    // L14c — graded decontamination: q_contamination is the binary
    // drop decision; this is the PaLM/GPT-3-appendix dirtiness SCORE —
    // per corpus doc, how many of its distinct 3-gram shingles appear in
    // the probe set, as count + ppm fraction, so a pipeline can drop
    // above a threshold and keep light-touch docs (one quoted test
    // sentence is salvageable; a verbatim copy is not). Probe shingles
    // broadcast, ONE corpus shingle stream, one doc-keyed count (linear);
    // clean docs surface with n_dirty = 0 via left join — the hash
    // certifies the zeros too, not just the hits.
    "q_contamination_frac" -> Q(
      s"""WITH ${LlmQueries.duckShingles},
        |probe AS (
        |  SELECT DISTINCT unnest(sh) g FROM base WHERE doc_id < 5),
        |tr AS (
        |  SELECT doc_id, unnest(sh) g FROM base WHERE doc_id >= 5),
        |sc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) n_shingles,
        |    CAST(count(*) FILTER (WHERE g IN (SELECT g FROM probe))
        |      AS BIGINT) n_dirty
        |  FROM tr GROUP BY 1)
        |SELECT doc_id, n_shingles, n_dirty,
        |  n_dirty * 1000000 // n_shingles AS dirty_ppm
        |FROM sc""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      Decontaminate.dirtiness(
        d.filter(col("doc_id") >= 5), d.filter(col("doc_id") < 5),
        "doc_id", "text", n = 3)
    },

    // Same decontamination semantics, bloom-prefiltered: the corpus
    // shingle stream is cut to bloom candidates (true hits + FPs) before
    // the exact semi-join, so the join input shrinks by orders of
    // magnitude when the probe set is too big to broadcast comfortably —
    // result identical to q_contamination (FPs die in the exact join),
    // which is why the same oracle applies.
    "q_contamination_bloom" -> Q(duckContamination) { (s, dir) =>
      val d = table(s, dir, "documents")
      Decontaminate.viaBloom(
        d.filter(col("doc_id") >= 5), d.filter(col("doc_id") < 5),
        "doc_id", "text", n = 3,
        estItems = 200000L, numBits = 1600000L)
    },

    // Deterministic corpus sharding (train/val splits at any cluster
    // size): shard = first 8 sha256 hex chars of the normalized text,
    // mod 10 — content-addressed, so re-runs and re-partitioning never
    // move a document between shards.
    "q_shard_split" -> Q(
      """SELECT CAST(('0x' || substr(sha256(lower(trim(text))), 1, 8))::UBIGINT
        |    % 10 AS INTEGER) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      d.groupBy(
          (expr("cast(conv(substr(sha2(lower(trim(text)), 256), 1, 8), 16, 10)" +
            " as bigint)") % 10).cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(d("n_chars")).cast("long").as("total_chars"))
    },

    // Distribution drift between two corpus snapshots/sources: doc-length
    // histograms on a shared equal-width 10-bucket grid (max via broadcast
    // 1-row agg), per-bucket proportions in ppm and the L1 drift
    // contribution — all integer arithmetic, no cross-engine float. The
    // audit run when a new crawl snapshot lands before it joins the mix.
    "q_drift" -> Q(
      """WITH m AS (SELECT CAST(max(n_chars) AS BIGINT) mx FROM documents
        |           WHERE source IN ('src0', 'src1')),
        |b AS (SELECT source,
        |        least(9, (n_chars * 10) // (m.mx + 1)) bucket
        |      FROM documents, m WHERE source IN ('src0', 'src1')),
        |c AS (SELECT bucket,
        |        CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) n_a,
        |        CAST(count(*) FILTER (WHERE source = 'src1') AS BIGINT) n_b
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) ta,
        |             CAST(sum(n_b) AS BIGINT) tb FROM c)
        |SELECT bucket, n_a, n_b,
        |  (n_a * 1000000) // t.ta AS ppm_a,
        |  (n_b * 1000000) // t.tb AS ppm_b,
        |  abs((n_a * 1000000) // t.ta - (n_b * 1000000) // t.tb) AS l1_ppm
        |FROM c, t""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
      val m = d.agg(max(d("n_chars")).cast("long").as("mx"))
      val c = d.crossJoin(m)
        .withColumn("bucket",
          least(lit(9L), expr("(n_chars * 10) div (mx + 1)")))
        .groupBy("bucket")
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("n_b"))
      val t = c.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
      c.crossJoin(t)
        .withColumn("ppm_a", expr("(n_a * 1000000) div ta"))
        .withColumn("ppm_b", expr("(n_b * 1000000) div tb"))
        .withColumn("l1_ppm", abs(col("ppm_a") - col("ppm_b")))
        .select("bucket", "n_a", "n_b", "ppm_a", "ppm_b", "l1_ppm")
    },

    // X55 — exact two-sample Kolmogorov–Smirnov drift test per lang
    // (q_drift's statistically-principled companion: the binned L1
    // profile says HOW the histogram moved; KS gives the
    // distribution-free sup-CDF-gap statistic a drift monitor alerts
    // on). D·n_a·n_b = max over the merged value support of
    // |cum_a·n_b − cum_b·n_a| — exact integers end to end: per-(lang,
    // value) side counts in ONE partial-agg shuffle, cumulative counts
    // + side totals ride ONE lang-partitioned window exchange, and the
    // cross-products are DECIMAL(38) (BIGINT overflows at ~3e9 docs per
    // side — the X51 discipline). ks_ppm is the single mirrored double
    // division; ks_at (the min value attaining the sup) is recovered by
    // an exact join-back against the broadcast 5-row max table, so the
    // argmax needs no ordered-row assumptions. Scale: everything past
    // the per-value rollup is value-support-sized, never doc-sized.
    "q_ks_test" -> Q(
      """WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) v, source
        |           FROM documents WHERE source IN ('src0', 'src1')),
        |c AS (SELECT lang, v,
        |    CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) ca,
        |    CAST(count(*) FILTER (WHERE source = 'src1') AS BIGINT) cb
        |  FROM d GROUP BY 1, 2),
        |cum AS (SELECT lang, v,
        |    sum(ca) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_a,
        |    sum(cb) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_b,
        |    sum(ca) OVER (PARTITION BY lang) ta,
        |    sum(cb) OVER (PARTITION BY lang) tb
        |  FROM c),
        |dn AS (SELECT lang, v, ta, tb,
        |    abs(CAST(cum_a AS HUGEINT) * tb
        |      - CAST(cum_b AS HUGEINT) * ta) dnum
        |  FROM cum),
        |mx AS (SELECT lang, CAST(max(ta) AS BIGINT) n_a,
        |    CAST(max(tb) AS BIGINT) n_b, max(dnum) dmax
        |  FROM dn GROUP BY 1
        |  HAVING max(ta) > 0 AND max(tb) > 0)
        |SELECT mx.lang, n_a, n_b,
        |  CAST(round(1000000 * CAST(dmax AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS BIGINT)
        |    AS ks_ppm,
        |  CAST(min(dn.v) AS BIGINT) AS ks_at
        |FROM mx JOIN dn ON dn.lang = mx.lang AND dn.dnum = mx.dmax
        |GROUP BY 1, 2, 3, 4""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
      val c = d.groupBy(col("lang"), col("n_chars").cast("long").as("v"))
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
      val wCum = Window.partitionBy("lang").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("lang")
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      // feeds the per-lang max aggregate AND the argmax join-back — the
      // eager checkpoint keeps the window exchange single-run (EAGER
      // CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala)
      val dn = c
        .withColumn("cum_a", sum("ca").over(wCum))
        .withColumn("cum_b", sum("cb").over(wCum))
        .withColumn("ta", sum("ca").over(wAll))
        .withColumn("tb", sum("cb").over(wAll))
        .select(col("lang"), col("v"), col("ta"), col("tb"),
          abs(col("cum_a").cast(dec) * col("tb")
            - col("cum_b").cast(dec) * col("ta")).as("dnum"))
        .localCheckpoint(true)
      val mx = dn.groupBy("lang")
        .agg(max("ta").as("n_a"), max("tb").as("n_b"),
          max("dnum").as("dmax"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
      broadcast(mx)
        .join(dn.select(col("lang"), col("dnum"), col("v")),
          Seq("lang")).filter(col("dnum") === col("dmax"))
        .groupBy(col("lang"), col("n_a"), col("n_b"), col("dmax"))
        .agg(min("v").as("ks_at"))
        .select(col("lang"), col("n_a"), col("n_b"),
          round(lit(1000000) * col("dmax").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double")))
            .cast("long").as("ks_ppm"),
          col("ks_at"))
    },

    // X57 — Benford first-digit audit (the fraud/data-quality screen:
    // does a magnitude-spanning money column follow log-uniform digit
    // frequencies?). Prices are fixed to exact integer cents FIRST
    // (round on identical double bits is engine-identical; the repo's
    // money discipline), the leading digit is taken from the decimal
    // string of that integer (pure integer→string, engine-identical —
    // no float log10-of-value whose ulp could flip a digit), and the
    // digit rollup is ONE scan with map-side partials into a 9-row
    // table. Expected ppm = round(1e6·log10(1+1/d)) on the digit
    // CONSTANT (deterministic inputs, mirrored double); observed ppm is
    // an exact integer division against the 1-row broadcast total; the
    // deviation is their integer difference. Scale: output is 9 rows
    // regardless of input size.
    "q_benford" -> Q(
      """WITH c AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) cents
        |  FROM orders WHERE o_totalprice > 0),
        |dg AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        |    AS digit
        |  FROM c WHERE cents > 0),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) n FROM dg
        |      GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) tot FROM g)
        |SELECT digit, n,
        |  (n * 1000000) // tot AS obs_ppm,
        |  CAST(round(1000000 * log10(1.0 + 1.0 / digit)) AS BIGINT)
        |    AS exp_ppm,
        |  (n * 1000000) // tot
        |    - CAST(round(1000000 * log10(1.0 + 1.0 / digit)) AS BIGINT)
        |    AS dev_ppm
        |FROM g, t""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      val g = o.filter(col("o_totalprice") > 0)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        // feeds the total aggregate AND the per-digit output — the
        // eager checkpoint keeps the orders scan single-run (EAGER
        // CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala)
        .localCheckpoint(true)
      val t = g.agg(sum("n").as("tot"))
      val expPpm = round(lit(1000000)
        * log10(lit(1.0) + lit(1.0) / col("digit"))).cast("long")
      g.crossJoin(broadcast(t))
        .select(col("digit"), col("n"),
          expr("(n * 1000000) div tot").as("obs_ppm"),
          expPpm.as("exp_ppm"),
          (expr("(n * 1000000) div tot") - expPpm).as("dev_ppm"))
    },

    // Generic column profiler: per-column null count, exact distinct
    // count, min/max-as-string — ONE scan, one 1-row aggregate (distinct
    // aggs via Expand, still map-side combined), unpivoted with stack.
    "q_profile" -> Q(
      """SELECT 'lang' AS "column", CAST(count(*) AS BIGINT) n_rows,
        |  CAST(count(*) FILTER (WHERE lang IS NULL) AS BIGINT) n_null,
        |  CAST(count(DISTINCT lang) AS BIGINT) n_distinct,
        |  CAST(min(lang) AS VARCHAR) min_s, CAST(max(lang) AS VARCHAR) max_s
        |FROM documents
        |UNION ALL
        |SELECT 'source', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (WHERE source IS NULL) AS BIGINT),
        |  CAST(count(DISTINCT source) AS BIGINT),
        |  CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (WHERE n_chars IS NULL) AS BIGINT),
        |  CAST(count(DISTINCT n_chars) AS BIGINT),
        |  CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |FROM documents""".stripMargin) { (s, dir) =>
      graft.ops.Profile.profile(table(s, dir, "documents"),
        Seq("lang", "source", "n_chars"))
    },

    // X47 — robust outlier fences per event_type (the data-quality
    // complement to q_profile/q_drift: WHICH rows are anomalous, not
    // just how the distribution moved). Quartiles are rank-SELECTED
    // (ceil(n/4) / ceil(3n/4)-th values, never interpolated) over
    // integer micro values (floor(value·1e6): one IEEE multiply + floor,
    // bit-identical across engines — the q_quantize discipline), so
    // fences lo = q1 − 3·IQR / hi = q3 + 3·IQR and every membership test
    // are exact integer comparisons. Types with no outliers surface with
    // n_outliers = 0 via the left join, not by vanishing.
    // X75 — winsorized (clamped) robust aggregation per group: the
    // production answer to "the mean is poisoned by outliers" when you
    // still need a mean, next to q_outliers' fence REPORT. p05/p95 are
    // RANK-SELECTED discrete order statistics (the q_median discipline
    // — exact, engine-identical, no interpolation) picked off ONE
    // group-partitioned window with a unique tie-break; the clamp +
    // clamped integer-cents sum rides the SAME windowed rows joined to
    // the 3-row broadcast quantile table. Scale: one window pass + a
    // group-count-sized broadcast; clamped sums are BIGINT-safe to
    // ~9e11 rows/group at this price scale.
    "q_winsorize" -> Q(
      """WITH v AS (SELECT l_returnflag flag, l_orderkey, l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |r AS (SELECT flag, c,
        |    row_number() OVER (PARTITION BY flag
        |      ORDER BY c, l_orderkey, l_linenumber) rn,
        |    count(*) OVER (PARTITION BY flag) n
        |  FROM v),
        |q AS (SELECT flag,
        |    CAST(max(CASE WHEN rn = ((n - 1) * 5) // 100 + 1 THEN c END)
        |      AS BIGINT) p05,
        |    CAST(max(CASE WHEN rn = ((n - 1) * 95) // 100 + 1 THEN c END)
        |      AS BIGINT) p95
        |  FROM r GROUP BY 1)
        |SELECT r.flag AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  q.p05 AS p05_cents, q.p95 AS p95_cents,
        |  CAST(sum(least(greatest(c, p05), p95)) AS BIGINT)
        |    AS winsorized_cents,
        |  CAST(sum(CASE WHEN c < p05 OR c > p95 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clamped
        |FROM r JOIN q ON q.flag = r.flag
        |GROUP BY 1, 3, 4""".stripMargin) { (s, dir) =>
      val v = lineCents(s, dir)
      val w = Window.partitionBy("flag")
        .orderBy("c", "l_orderkey", "l_linenumber")
      val r = v.select(col("flag"), col("c"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy("flag")).as("n"))
      val q = r.groupBy("flag")
        .agg(max(when(col("rn") ===
            expr("((n - 1) * 5) div 100") + 1, col("c"))).as("p05"),
          max(when(col("rn") ===
            expr("((n - 1) * 95) div 100") + 1, col("c"))).as("p95"))
        .select(col("flag").as("qflag"), col("p05"), col("p95"))
        .localCheckpoint(true) // group-count-sized, broadcast below
      r.join(broadcast(q), col("qflag") === col("flag"))
        .groupBy(col("flag").as("l_returnflag"), col("p05"), col("p95"))
        .agg(count(lit(1)).as("n"),
          sum(least(greatest(col("c"), col("p05")), col("p95")))
            .as("winsorized_cents"),
          sum(when(col("c") < col("p05") || col("c") > col("p95"), 1L)
            .otherwise(0L)).as("n_clamped"))
        .select(col("l_returnflag"), col("n"),
          col("p05").as("p05_cents"), col("p95").as("p95_cents"),
          col("winsorized_cents"), col("n_clamped"))
    },

    // X76 — deterministic Poisson bootstrap: distribution-free
    // confidence intervals for group means at corpus scale (the
    // one-pass online bootstrap of Oza/Russell as used by production
    // metric platforms: each row joins replicate b with a Poisson(1)
    // multiplicity, so B weighted means ARE B resamples — no data
    // duplication, no row shuffling, B·|groups| partial-agg output).
    // Randomness is a deterministic inverse-CDF lookup on a sha256
    // byte of (row key, replicate) — engine-identical, partition-
    // independent, and replayed verbatim by the oracle; the replicate
    // means and the rank-selected p10/p90 band are exact integers with
    // one mirrored division each. The raw point estimate rides the
    // SAME aggregation (the b=0 lane carries unweighted sums) — ONE
    // scan total.
    "q_bootstrap" -> Q(
      """WITH v AS (SELECT l_returnflag flag, l_orderkey, l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) c
        |  FROM lineitem),
        |e AS (SELECT flag, c,
        |    sha256(CAST(l_orderkey AS VARCHAR) || ':'
        |      || CAST(l_linenumber AS VARCHAR)) AS rh,
        |    unnest(generate_series(0, 15)) AS b FROM v),
        |wt AS (SELECT flag, c, b,
        |    CASE WHEN hu < 94 THEN 0 WHEN hu < 188 THEN 1
        |         WHEN hu < 235 THEN 2 WHEN hu < 251 THEN 3
        |         WHEN hu < 255 THEN 4 ELSE 5 END AS w
        |  FROM (SELECT flag, c, b,
        |      CAST(('0x' || substr(rh, 2 * b + 1, 2))::UBIGINT
        |        AS INTEGER) hu
        |    FROM e) h),
        |rep AS (SELECT flag, b, CAST(sum(w) AS BIGINT) nb,
        |    CAST(sum(w * c) AS BIGINT) sb,
        |    CAST(count(*) AS BIGINT) nraw, CAST(sum(c) AS BIGINT) craw
        |  FROM wt GROUP BY 1, 2),
        |m AS (SELECT flag, b,
        |    CAST(round(1000000 * CAST(sb AS DOUBLE) / nb) AS BIGINT)
        |      mean_micro
        |  FROM rep WHERE nb > 0),
        |r AS (SELECT flag, mean_micro,
        |    row_number() OVER (PARTITION BY flag
        |      ORDER BY mean_micro, b) rn,
        |    count(*) OVER (PARTITION BY flag) nrep
        |  FROM m),
        |ci AS (SELECT flag,
        |    CAST(max(nrep) AS BIGINT) n_replicates,
        |    CAST(max(CASE WHEN rn = ((nrep - 1) * 10) // 100 + 1
        |      THEN mean_micro END) AS BIGINT) lo_micro,
        |    CAST(max(CASE WHEN rn = ((nrep - 1) * 90) // 100 + 1
        |      THEN mean_micro END) AS BIGINT) hi_micro
        |  FROM r GROUP BY 1),
        |pt AS (SELECT flag, nraw AS n,
        |    CAST(round(1000000 * CAST(craw AS DOUBLE) / nraw) AS BIGINT)
        |      mean_micro
        |  FROM rep WHERE b = 0 AND nraw > 0)
        |SELECT pt.flag AS l_returnflag, n, pt.mean_micro, n_replicates,
        |  lo_micro, hi_micro
        |FROM pt JOIN ci ON ci.flag = pt.flag""".stripMargin) { (s, dir) =>
      val v = lineCents(s, dir)
      // ONE sha per row — its 32 hex-byte pairs seed all 16 replicate
      // lanes (byte b is replicate b's uniform), 16× fewer digests
      val e = v
        .withColumn("rh",
          expr("sha2(concat_ws(':', l_orderkey, l_linenumber), 256)"))
        .withColumn("b", explode(sequence(lit(0), lit(15))))
      val hu =
        expr("cast(conv(substr(rh, 2 * b + 1, 2), 16, 10) as int)")
      val w = when(col("hu") < 94, 0L).when(col("hu") < 188, 1L)
        .when(col("hu") < 235, 2L).when(col("hu") < 251, 3L)
        .when(col("hu") < 255, 4L).otherwise(5L)
      val rep = e.withColumn("hu", hu).withColumn("w", w)
        .groupBy("flag", "b")
        .agg(sum("w").as("nb"), sum(col("w") * col("c")).as("sb"),
          count(lit(1)).as("nraw"), sum("c").as("craw"))
        // 2 consumers: the replicate-mean ranks and the b=0 point lane
        .localCheckpoint(true)
      val m = rep.filter(col("nb") > 0)
        .select(col("flag"), col("b"),
          round(lit(1000000) * col("sb").cast("double") / col("nb"))
            .cast("long").as("mean_micro"))
      val rw = Window.partitionBy("flag").orderBy("mean_micro", "b")
      val r = m.select(col("flag"), col("mean_micro"),
        row_number().over(rw).as("rn"),
        count(lit(1)).over(Window.partitionBy("flag")).as("nrep"))
      val ci = r.groupBy("flag")
        .agg(max("nrep").as("n_replicates"),
          max(when(col("rn") ===
            expr("((nrep - 1) * 10) div 100") + 1, col("mean_micro")))
            .as("lo_micro"),
          max(when(col("rn") ===
            expr("((nrep - 1) * 90) div 100") + 1, col("mean_micro")))
            .as("hi_micro"))
        .select(col("flag").as("cflag"), col("n_replicates"),
          col("lo_micro"), col("hi_micro"))
      rep.filter(col("b") === 0 && col("nraw") > 0)
        .select(col("flag"), col("nraw").as("n"),
          round(lit(1000000) * col("craw").cast("double") / col("nraw"))
            .cast("long").as("mean_micro"))
        .join(broadcast(ci), col("cflag") === col("flag"))
        .select(col("flag").as("l_returnflag"), col("n"),
          col("mean_micro"), col("n_replicates"), col("lo_micro"),
          col("hi_micro"))
    },

    "q_outliers" -> Q(
      """WITH e AS (SELECT event_type,
        |  CAST(floor(value * 1000000) AS BIGINT) vm, event_id FROM events),
        |r AS (SELECT event_type, vm, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY vm, event_id) rnk,
        |    count(*) OVER (PARTITION BY event_type) n
        |  FROM e),
        |q AS (SELECT event_type, max(n) AS n,
        |    min(CASE WHEN rnk = (n + 3) // 4 THEN vm END) q1,
        |    min(CASE WHEN rnk = (3 * n + 3) // 4 THEN vm END) q3
        |  FROM r GROUP BY 1),
        |f AS (SELECT event_type, n, q1, q3,
        |    q1 - 3 * (q3 - q1) AS lo, q3 + 3 * (q3 - q1) AS hi FROM q),
        |o AS (SELECT e.event_type, CAST(count(*) AS BIGINT) n_out,
        |    min(e.event_id) fo, max(e.event_id) lst
        |  FROM e JOIN f ON e.event_type = f.event_type
        |  WHERE e.vm < f.lo OR e.vm > f.hi GROUP BY 1)
        |SELECT f.event_type, CAST(f.n AS BIGINT) AS n,
        |  CAST(f.q1 AS BIGINT) AS q1_micro, CAST(f.q3 AS BIGINT) AS q3_micro,
        |  CAST(coalesce(o.n_out, 0) AS BIGINT) AS n_outliers,
        |  CAST(o.fo AS BIGINT) AS first_out, CAST(o.lst AS BIGINT) AS last_out
        |FROM f LEFT JOIN o ON f.event_type = o.event_type""".stripMargin) {
      (s, dir) =>
        val e = table(s, dir, "events")
          .select(col("event_type"),
            expr("CAST(floor(value * 1000000) AS BIGINT)").as("vm"),
            col("event_id"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("vm"), col("event_id"))
        val wc = Window.partitionBy("event_type")
        val r = e.withColumn("rnk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wc))
        val q = r.groupBy("event_type")
          .agg(max("n").as("n"),
            min(when(col("rnk") === expr("(n + 3) div 4"), col("vm")))
              .as("q1_micro"),
            min(when(col("rnk") === expr("(3 * n + 3) div 4"), col("vm")))
              .as("q3_micro"))
        val f = q
          .withColumn("lo", expr("q1_micro - 3 * (q3_micro - q1_micro)"))
          .withColumn("hi", expr("q3_micro + 3 * (q3_micro - q1_micro)"))
        val o = e.join(broadcast(f.select("event_type", "lo", "hi")),
            "event_type")
          .filter(col("vm") < col("lo") || col("vm") > col("hi"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_outliers_raw"),
            min("event_id").as("first_out"), max("event_id").as("last_out"))
        f.join(o, Seq("event_type"), "left")
          .select(col("event_type"), col("n"), col("q1_micro"),
            col("q3_micro"),
            coalesce(col("n_outliers_raw"), lit(0L)).as("n_outliers"),
            col("first_out"), col("last_out"))
    },

    // Pearson correlation from EXACT integer sums: n, Σx, Σy, Σxy, Σx²,
    // Σy² accumulate as BIGINTs (quantity ≤ 50, discount×100 ≤ 10 — no
    // overflow), and only the final closed-form formula touches floating
    // point — identical IEEE ops over identical exact inputs in both
    // engines. The built-in corr() streams partial float moments whose
    // merge order varies with partitioning; this shape is the
    // deterministic, scale-safe alternative.
    "q_corr_exact" -> Q(
      s"""WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) sx,
        |    CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) sy,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) sxy,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS BIGINT) sxx,
        |    CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
        |      * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |${LlmQueries.duckPearsonMicro}
        |    AS BIGINT) AS corr_micro
        |FROM s""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val x = li("l_quantity").cast("long")
      val y = round(li("l_discount") * 100).cast("long")
      val sums = li.groupBy(li("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      val nD = col("n").cast("double")
      // emitted as an integer micro-unit, not round(double, 6): Spark's
      // BigDecimal HALF_UP and DuckDB's C-style scaled rounding can
      // disagree on values near a 6th-decimal halfway boundary
      sums.select(col("l_returnflag"), col("n"),
        round(lit(1000000) *
          (nD * col("sxy") - col("sx").cast("double") * col("sy")) /
          (sqrt(nD * col("sxx") - col("sx").cast("double") * col("sx")) *
            sqrt(nD * col("syy") - col("sy").cast("double") * col("sy"))))
          .cast("long").as("corr_micro"))
    },

    // X50 — grouped simple linear regression by exact-integer normal
    // equations (the regr_slope/regr_intercept family, which Spark and
    // DuckDB both ship ONLY as double-accumulating aggregates whose sum
    // order differs between engines): the per-supplier volume-discount
    // curve, discount (basis points) regressed on quantity. The five
    // sufficient statistics (n, Σx, Σy, Σxy, Σx²) are exact BIGINT sums
    // — one partial-aggregating shuffle on the group key, the same
    // plan shape as any hash agg — and slope/intercept are derived per
    // GROUP from those five numbers with the q_corr_exact double-
    // promotion pattern (operands < 2^53, promotion order mirrored on
    // both engines → bit-identical IEEE results). Degenerate groups
    // (n < 2 or zero x-variance) are filtered by the same exact test on
    // both sides. Scale: output is group-count-sized; the 100 TB path
    // upgrades the moment sums to DECIMAL(38,0), nothing else changes.
    "q_regression" -> Q(
      """WITH p AS (
        |  SELECT l_suppkey,
        |    CAST(round(l_quantity) AS BIGINT) AS x,
        |    CAST(round(l_discount * 10000) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_suppkey,
        |    CAST(count(*) AS BIGINT) n,
        |    CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
        |    CAST(sum(x * y) AS BIGINT) sxy,
        |    CAST(sum(x * x) AS BIGINT) sxx
        |  FROM p GROUP BY 1)
        |SELECT l_suppkey, n,
        |  CAST(round(1000000 * (CAST(n AS DOUBLE) * sxy
        |      - CAST(sx AS DOUBLE) * sy) /
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
        |    AS BIGINT) AS slope_ppm,
        |  CAST(round(1000000 * (CAST(sy AS DOUBLE) * sxx
        |      - CAST(sx AS DOUBLE) * sxy) /
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
        |    AS BIGINT) AS intercept_ppm
        |FROM s
        |WHERE n >= 2
        |  AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx != 0
        |""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val x = round(li("l_quantity")).cast("long")
      val y = round(li("l_discount") * 10000).cast("long")
      val sums = li.groupBy(li("l_suppkey"))
        .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double")
      val denom = nD * col("sxx") - sxD * col("sx")
      sums
        .filter(col("n") >= 2 && denom =!= 0d)
        .select(col("l_suppkey"), col("n"),
          round(lit(1000000) * (nD * col("sxy") - sxD * col("sy")) / denom)
            .cast("long").as("slope_ppm"),
          round(lit(1000000) *
            (col("sy").cast("double") * col("sxx") - sxD * col("sxy")) /
            denom)
            .cast("long").as("intercept_ppm"))
    },

    // first_value / last_value / nth_value over an explicit running frame
    // (rows between unbounded preceding and current row).
    "q_first_last" -> Q(
      """SELECT o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER w AS last_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
        .stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      val w = byPriorityPrice(o)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.select(o("o_orderkey"),
        first(o("o_orderkey")).over(w).as("first_key"),
        last(o("o_orderkey")).over(w).as("last_key"),
        nth_value(o("o_orderkey"), 2).over(w).as("second_key"))
    },

    // RANGE window frame (vs q_window_frame's ROWS frames): trailing
    // 1-hour sum per user over event time. RANGE includes ALL peers of
    // the current order value, so the result is deterministic even under
    // timestamp ties — exact integer µs order key + milli values.
    "q_range_frame" -> Q(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) tsu,
        |  CAST(round(value * 1000) AS BIGINT) vm FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(vm) OVER (PARTITION BY user_id ORDER BY tsu
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS hour_sum
        |FROM e""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("tsu"),
          round(col("value") * 1000).cast("long").as("vm"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
        .rangeBetween(-3_600_000_000L, Window.currentRow)
      e.select(col("event_id"), col("user_id"),
        sum(col("vm")).over(w).as("hour_sum"))
    },

    // Multimodal frame sampling: every frame of each payload hashed
    // scan-side (1→N expansion before any shuffle; payloads never move).
    // The stub digests frame-index-prefixed payload bytes — byte-identical
    // to the oracle's string concat since the payload is utf-8 text.
    "q_frame_sample" -> Q(
      """SELECT doc_id AS media_id, i AS frame_idx,
        |  sha256(CAST(i AS VARCHAR) || ':' || text) AS frame_sha
        |FROM documents, (SELECT unnest(generate_series(0, 2)) i) g"""
        .stripMargin) { (s, dir) =>
      val media = Multimodal.fromText(table(s, dir, "documents"),
        "doc_id", "text")
      media.select(col("media_id"),
          posexplode(Multimodal.frameSample(col("payload"),
            col("meta.n_frames"))))
        .select(col("media_id"), col("pos").cast("long").as("frame_idx"),
          col("col").as("frame_sha"))
    },

    // Data-quality expectations gate (ops/Constraints): seven rules
    // across three tables — predicate rules in ONE scan per table,
    // key-uniqueness as a keys-only shuffle, referential integrity as
    // an anti-join — reduced to violation COUNTS (one row per rule;
    // row dumps don't scale to 100 TB audits). Rules are a deliberate
    // mix: integrity rules that HOLD (0 — certifies no false
    // positives) and content rules that FAIL with corpus-specific
    // counts (certifies the counting; an all-zero result would hash
    // trivially). NULL semantics per Constraints scaladoc: a NULL
    // predicate is a violation; NULL keys group together; NULL FKs
    // are skipped.
    "q_constraints" -> Q(
      """SELECT 'doc_id_unique' AS rule, CAST(coalesce(sum(cnt - 1), 0)
        |    AS BIGINT) AS violations
        |  FROM (SELECT count(*) AS cnt FROM documents GROUP BY doc_id)
        |  WHERE cnt > 1
        |UNION ALL SELECT 'text_not_null',
        |  CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
        |    0) AS BIGINT) FROM documents
        |UNION ALL SELECT 'n_chars_consistent',
        |  CAST(coalesce(sum(CASE WHEN NOT coalesce(
        |    n_chars = length(text), false) THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) FROM documents
        |UNION ALL SELECT 'n_chars_le_200',
        |  CAST(coalesce(sum(CASE WHEN NOT coalesce(n_chars <= 200,
        |    false) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM documents
        |UNION ALL SELECT 'lang_allowed',
        |  CAST(coalesce(sum(CASE WHEN NOT coalesce(
        |    lang IN ('en', 'fr'), false) THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) FROM documents
        |UNION ALL SELECT 'orders_custkey_fk', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        |UNION ALL SELECT 'l_quantity_range',
        |  CAST(coalesce(sum(CASE WHEN NOT coalesce(
        |    l_quantity BETWEEN 1 AND 50, false) THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) FROM lineitem""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      Constraints.all(Seq(
        Constraints.unique(docs, "doc_id_unique", Seq("doc_id")),
        Constraints.check(docs, Seq(
          "text_not_null" -> col("text").isNull,
          "n_chars_consistent" ->
            Constraints.fails(col("n_chars") === length(col("text"))),
          "n_chars_le_200" ->
            Constraints.fails(col("n_chars") <= 200),
          "lang_allowed" ->
            Constraints.fails(col("lang").isin("en", "fr")))),
        Constraints.orphans(table(s, dir, "orders"), "o_custkey",
          table(s, dir, "customer"), "c_custkey", "orders_custkey_fk"),
        Constraints.check(table(s, dir, "lineitem"), Seq(
          "l_quantity_range" ->
            Constraints.fails(col("l_quantity").between(1, 50))))))
    },

    // Row-level half of the gate (Constraints.tag / quarantine): the
    // quarantined rows with their reason list — the dead-letter route
    // of an ingest split. Pure scan-side projection+filter (no
    // shuffle, no join); identical code runs on the streaming ingest
    // path because tag is stateless. Reasons are rule-order joined so
    // the oracle hash pins both membership AND order.
    "q_quarantine" -> Q(
      """SELECT doc_id, array_to_string(list_filter(
        |    [CASE WHEN NOT coalesce(n_chars <= 200, false)
        |       THEN 'n_chars_le_200' END,
        |     CASE WHEN NOT coalesce(lang IN ('en', 'fr'), false)
        |       THEN 'lang_allowed' END],
        |    x -> x IS NOT NULL), ',') AS violated
        |FROM documents
        |WHERE NOT coalesce(n_chars <= 200, false)
        |   OR NOT coalesce(lang IN ('en', 'fr'), false)"""
        .stripMargin) { (s, dir) =>
      val (_, bad) = Constraints.quarantine(table(s, dir, "documents"),
        Seq(
          "n_chars_le_200" -> Constraints.fails(col("n_chars") <= 200),
          "lang_allowed" ->
            Constraints.fails(col("lang").isin("en", "fr"))))
      bad.select(col("doc_id"),
        array_join(col("violations"), ",").as("violated"))
    },

    // X12w — the q_quarantine rule set as a STREAMING gate drain: the
    // same rule Columns (Constraints.tag is a stateless projection —
    // append-mode-legal unchanged) applied per micro-batch over the
    // staged corpus stream, each doc emitting one fact per violated
    // rule (or the __clean__ marker) into the append-only dead-letter
    // sink; the rollup hash-matches the batch oracle — the stream
    // loses/duplicates no rows across ≥4 triggers. This is the ingest
    // shape a production pipeline runs: validate at the edge, route
    // bad rows out, never block the stream on a bad record.
    "q_stream_quarantine" -> Q(
      """WITH t AS (SELECT doc_id,
        |    list_filter(
        |      [CASE WHEN NOT coalesce(n_chars <= 200, false)
        |         THEN 'n_chars_le_200' END,
        |       CASE WHEN NOT coalesce(lang IN ('en', 'fr'), false)
        |         THEN 'lang_allowed' END],
        |      x -> x IS NOT NULL) v
        |  FROM documents),
        |e AS (SELECT unnest(CASE WHEN len(v) = 0 THEN ['__clean__']
        |                         ELSE v END) AS rule
        |      FROM t)
        |SELECT rule, CAST(count(*) AS BIGINT) n
        |FROM e GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamQuarantine(s, dir)
    },

    // X86 — grid-bucketed spatial radius self-join: all user pairs
    // within planar distance r = 100, the geospatial join pattern
    // (geohash / S2-cell bucketing) this suite lacked. Coordinates are
    // synthesized deterministically from a sha256 of the user key onto
    // a 1000×1000 grid (the q_seq_pack digest-slice idiom — a LINEAR
    // map like id·c mod 1000 is a rank-1 lattice whose points are
    // maximally SEPARATED and yields zero close pairs; the digest
    // breaks the structure), replayed verbatim by the oracle. The
    // operator itself is exact integer arithmetic: cell = coord div r,
    // candidates come from the ×9 neighbor-cell expansion of the probe
    // side equi-joined on the cell key (cell size = r guarantees
    // completeness: |Δx| ≤ r ⇒ cell delta ∈ {−1,0,1}; a pair co-buckets
    // at exactly ONE offset, so no dedup shuffle), and the verify
    // predicate is integer squared distance — never the quadratic cross
    // join, never a float. Scale: the explode is map-side below the one
    // (cell) exchange; hot cells are bounded by geometry (cell area ~
    // r²), the skew analogue of the kNN bucket cap. Output (a, b,
    // dist2) with a < b, pair-sized.
    "q_grid_join" -> Q(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |p AS (SELECT user_id,
        |    CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 8))
        |      ::UBIGINT % 1000 AS BIGINT) AS x,
        |    CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 9, 8))
        |      ::UBIGINT % 1000 AS BIGINT) AS y
        |  FROM u),
        |l AS (SELECT user_id, x, y,
        |    x // 100 AS cx, y // 100 AS cy FROM p),
        |probe AS (SELECT user_id, x, y, cx + dx.o AS jx, cy + dy.o AS jy
        |  FROM l,
        |    (SELECT unnest([-1, 0, 1]) AS o) dx,
        |    (SELECT unnest([-1, 0, 1]) AS o) dy),
        |cand AS (SELECT a.user_id ua, a.x ax, a.y ay,
        |    b.user_id ub, b.x bx, b.y by2
        |  FROM probe a JOIN l b ON b.cx = a.jx AND b.cy = a.jy
        |  WHERE a.user_id < b.user_id)
        |SELECT ua AS user_a, ub AS user_b,
        |  CAST((ax - bx) * (ax - bx) + (ay - by2) * (ay - by2) AS BIGINT)
        |    AS dist2
        |FROM cand
        |WHERE (ax - bx) * (ax - bx) + (ay - by2) * (ay - by2) <= 10000"""
        .stripMargin) { (s, dir) =>
      def coord(off: Int) =
        (expr(s"cast(conv(substr(sha2(cast(user_id as string), 256), " +
          s"$off, 8), 16, 10) as bigint)") % 1000).as(
          if (off == 1) "x" else "y")
      val p = table(s, dir, "events")
        .select(col("user_id")).distinct()
        .select(col("user_id"), coord(1), coord(9))
        .select(col("user_id"), col("x"), col("y"),
          expr("x div 100").as("cx"), expr("y div 100").as("cy"))
        // 2 consumers: the ×9 probe expansion and the build side
        .localCheckpoint(true)
      val offs = array((-1 to 1).map(lit): _*)
      val probe = p
        .withColumn("dx", explode(offs))
        .withColumn("dy", explode(offs))
        .select(col("user_id").as("ua"), col("x").as("ax"),
          col("y").as("ay"), (col("cx") + col("dx")).as("jx"),
          (col("cy") + col("dy")).as("jy"))
      val build = p.select(col("user_id").as("ub"), col("x").as("bx"),
        col("y").as("by2"), col("cx"), col("cy"))
      val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by2")) * (col("ay") - col("by2"))
      probe.join(build,
          col("cx") === col("jx") && col("cy") === col("jy") &&
            col("ua") < col("ub"))
        .filter(d2 <= 10000)
        .select(col("ua").as("user_a"), col("ub").as("user_b"),
          d2.cast("long").as("dist2"))
    },
  )
}
