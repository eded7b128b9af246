package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.ops._

/** Analytics-extension declared queries (SURVEY.md §2.3 J2, §2.4 ext, §2.5
  * ext, §2.7 ext, §2.8 ext): the general-analytics surface the reference
  * lacks, exercised over the star-schema testdata.
  *
  * Determinism rules for the DuckDB hash-compare (SURVEY §5.2.1):
  *  - money/metric sums go through per-row integer cents/millis
  *    (`round(x*100) :: long`) so the aggregate is exact integer arithmetic —
  *    double summation order differs between engines and would drift hashes;
  *  - window order keys use unique integer ids, never raw timestamps: the
  *    testdata timestamps are ns-precision parquet, which Spark truncates to
  *    µs while DuckDB keeps ns, so a ts tie in Spark may not be a tie in
  *    DuckDB;
  *  - timestamps never appear in output columns — they are projected to
  *    strings (`date_format`) or ints (`year`/`datediff`) first.
  */
object AnalyticsQueries {

  /** Per-row revenue in exact integer cents: round(price*(1-disc)*100).
    * The double product is IEEE-identical in both engines; rounding to an
    * integral double then casting long is exact.
    */
  private def revCents(price: Column, discount: Column) =
    round(price * (lit(1.0) - discount) * 100).cast("long")

  // 12h-gap sessionization in exact µs: `sess(user_id, event_id, tsu, $idx)`
  // with `$idx` the per-user session index.
  private def duckSessions(idx: String) =
    s"""e AS (SELECT user_id, event_id, epoch_us(ts) tsu FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, tsu,
      |    CASE WHEN lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
      |           IS NULL
      |         OR tsu - lag(tsu) OVER (PARTITION BY user_id
      |             ORDER BY tsu, event_id) > 43200000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |sess AS (
      |  SELECT user_id, event_id, tsu,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $idx
      |  FROM flagged)""".stripMargin

  // Per-session event count, duration and first/last event ids.
  private val duckSessionStats =
    """  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(max(tsu) - min(tsu) AS BIGINT) AS dur,
      |  CAST(min(event_id) AS BIGINT) AS first_event,
      |  CAST(max(event_id) AS BIGINT) AS last_event""".stripMargin

  // Sessions keyed by start; q_stream_sessionize and its append twin share
  // this oracle.
  private val duckStreamSessions =
    s"""WITH ${duckSessions("idx")}
      |SELECT user_id,
      |  CAST(min(tsu) AS BIGINT) AS session_start,
      |  CAST(max(tsu) - min(tsu) AS BIGINT) AS dur,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(min(event_id) AS BIGINT) AS first_event,
      |  CAST(max(event_id) AS BIGINT) AS last_event
      |FROM sess GROUP BY user_id, idx""".stripMargin

  // The signup → click → purchase funnel (24h steps); q_funnel and
  // q_stream_funnel share this oracle.
  private val duckFunnel =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) tsu
      |           FROM events),
      |u AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN tsu END) t1
      |  FROM e GROUP BY 1),
      |u2 AS (SELECT u.user_id, u.t1,
      |    min(CASE WHEN e.event_type = 'click' AND e.tsu > u.t1
      |             AND e.tsu <= u.t1 + 86400000000 THEN e.tsu END) t2
      |  FROM u JOIN e ON e.user_id = u.user_id GROUP BY 1, 2),
      |u3 AS (SELECT u2.user_id, u2.t1, u2.t2,
      |    min(CASE WHEN e.event_type = 'purchase' AND e.tsu > u2.t2
      |             AND e.tsu <= u2.t2 + 86400000000 THEN e.tsu END) t3
      |  FROM u2 JOIN e ON e.user_id = u2.user_id GROUP BY 1, 2, 3)
      |SELECT
      |  CAST(count(*) FILTER (WHERE t1 IS NOT NULL) AS BIGINT) n_signup,
      |  CAST(count(*) FILTER (WHERE t2 IS NOT NULL) AS BIGINT)
      |    n_then_click,
      |  CAST(count(*) FILTER (WHERE t3 IS NOT NULL) AS BIGINT)
      |    n_then_purchase
      |FROM u3""".stripMargin

  // Clicks `c(user_id, cid, tsu)` and views `v(user_id, tsu, vid)` in µs,
  // one view id per (user, tsu).
  private val duckClickViews =
    """c AS (SELECT user_id, event_id cid, epoch_us(ts) tsu
      |           FROM events WHERE event_type = 'click'),
      |v0 AS (SELECT user_id, event_id vid, epoch_us(ts) tsu
      |       FROM events WHERE event_type = 'view'),
      |v AS (SELECT user_id, tsu, max(vid) vid FROM v0 GROUP BY 1, 2)"""
      .stripMargin

  // Each click with its latest view at or before it; q_asof_join and
  // q_stream_asof share this oracle.
  private val duckAsofJoin =
    s"""WITH $duckClickViews
      |SELECT c.cid AS click_id, c.user_id, c.tsu AS ts,
      |  v.vid AS view_id, c.tsu - v.tsu AS gap
      |FROM c ASOF LEFT JOIN v
      |  ON c.user_id = v.user_id AND c.tsu >= v.tsu""".stripMargin

  // Spark side of the as-of joins' inputs: clicks `(user_id, tsu,
  // click_id)` and views `(user_id, tsu, view_id)` in µs.
  private def clickViewEvents(s: SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    val e = table(s, dir, "events")
      .withColumn("tsu", expr("ts div 1000"))
    val clicks = e.filter(e("event_type") === "click")
      .select(col("user_id"), col("tsu"), col("event_id").as("click_id"))
    val views = e.filter(e("event_type") === "view")
      .select(col("user_id"), col("tsu"), col("event_id").as("view_id"))
    (clicks, views)
  }

  // Counts of consecutive event-type pairs per user; q_transitions and
  // q_stream_transitions share this oracle.
  private val duckTransitions =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             epoch_us(ts) tsu FROM events),
      |nx AS (SELECT event_type ft,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY tsu, event_id) tt
      |  FROM e)
      |SELECT ft AS from_type, tt AS to_type,
      |  CAST(count(*) AS BIGINT) cnt
      |FROM nx WHERE tt IS NOT NULL GROUP BY 1, 2""".stripMargin

  // Spark side of the transitions' `e` and its per-user time order.
  private def userEvents(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("tsu"))
  private def byUserTime: WindowSpec =
    Window.partitionBy("user_id").orderBy("tsu", "event_id")

  // The 20 most frequent words (ties by word); q_stream_topk and its update
  // twin share this oracle.
  private val duckTopWords =
    """SELECT word, cnt FROM (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
      |      AS word
      |    FROM documents) t
      |  WHERE word <> '' GROUP BY word)
      |ORDER BY cnt DESC, word LIMIT 20""".stripMargin

  // Per text digest: the lowest doc id and the copy count; q_stream_dedup
  // and its update twin share this oracle.
  private val duckDigestCopies =
    """WITH d AS (
      |  SELECT sha256(lower(trim(text))) AS digest, doc_id
      |  FROM documents)
      |SELECT digest, CAST(min(doc_id) AS BIGINT) AS keep_doc,
      |  CAST(count(*) AS BIGINT) AS n_copies
      |FROM d GROUP BY 1""".stripMargin

  // Events in µs split into clicks `c(user_id, click_id, ct)` and views
  // `v(user_id, view_id, vt)`.
  private val duckClickViewTimes =
    """e AS (SELECT user_id, event_id, epoch_us(ts) tsu, event_type
      |  FROM events),
      |c AS (SELECT user_id, event_id AS click_id, tsu AS ct FROM e
      |  WHERE event_type = 'click'),
      |v AS (SELECT user_id, event_id AS view_id, tsu AS vt FROM e
      |  WHERE event_type = 'view')""".stripMargin

  // Event counts per 5-minute tumbling window and type; q_stream_window
  // and its update twin share this oracle.
  private val duckWindowCounts =
    """SELECT strftime(to_timestamp(floor(epoch(ts) / 300) * 300),
      |    '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, CAST(count(*) AS BIGINT) AS cnt
      |FROM events GROUP BY 1, 2""".stripMargin

  // Item count and the exact integer Q5 revenue (cents × (1000 − milli
  // discount)).
  private val duckQ5Revenue =
    """  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (1000 - CAST(round(l_discount * 1000) AS BIGINT)))
      |    AS BIGINT) AS revenue_ppm_cents""".stripMargin

  // Suppliers joined to their nation's name, projected to `cols`.
  private def supplierNations(s: SparkSession, dir: String,
                              cols: Column*): DataFrame = {
    val n = table(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    table(s, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(cols: _*)
  }

  // Spark side of the Q5 revenue: cents × (1000 − milli discount).
  private def q5Rev: Column =
    round(col("l_extendedprice") * 100).cast("long") *
      (lit(1000L) - round(col("l_discount") * 1000).cast("long"))

  val all: Map[String, Q] = Map(

    // J2 — 5-table star join. Dimensions are explicitly broadcast: customer
    // is ~150k rows at sf=1 (fits executors easily); nation/region are tiny.
    // Only lineitem⋈orders shuffles — the unavoidable fact⋈fact exchange,
    // which AQE plans as sort-merge (or shuffled-hash) on l_orderkey.
    "q_join_inner" -> Q(
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"), n("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(revCents(li("l_extendedprice"), li("l_discount")))
            .as("rev_cents"))
    },

    // J2 — left-semi: parts that ship in at least one high-quantity line.
    // Semi joins dedupe on the build side and never widen rows — at scale
    // this is one shuffle (or broadcast of the filtered probe aggregate).
    "q_join_semi" -> Q(
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity > 45)""".stripMargin) {
      (s, dir) =>
        val p = table(s, dir, "part")
        val li = table(s, dir, "lineitem")
        p.join(li.filter(li("l_quantity") > 45),
            p("p_partkey") === li("l_partkey"), "left_semi")
          .select(p("p_partkey"), p("p_name"))
    },

    // J2 — left-anti: customers with no high-value order (the right side is
    // pre-filtered, so the anti join probes a small build set).
    "q_join_anti" -> Q(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)""".stripMargin) {
      (s, dir) =>
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders")
        c.join(o.filter(o("o_totalprice") > 450000),
            c("c_custkey") === o("o_custkey"), "left_anti")
          .select(c("c_custkey"), c("c_name"))
    },

    // §2.4 ext — distinct projection (one shuffle, partial-dedup map-side).
    "q_distinct" -> Q(
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer") { (s, dir) =>
      val c = table(s, dir, "customer")
      c.select(c("c_mktsegment"), c("c_nationkey")).distinct()
    },

    // §2.4 ext — rollup: subtotals + grand total in one pass (Spark plans a
    // single Expand + aggregate; no per-level rescan).
    "q_rollup" -> Q(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) {
      (s, dir) =>
        val li = table(s, dir, "lineitem")
        li.rollup(li("l_returnflag"), li("l_linestatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(li("l_quantity")).cast("long").as("sum_qty"))
    },

    // §2.4 ext — cube: all grouping-set combinations in one Expand pass.
    "q_cube" -> Q(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) {
      (s, dir) =>
        val li = table(s, dir, "lineitem")
        li.cube(li("l_returnflag"), li("l_linestatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(li("l_quantity")).cast("long").as("sum_qty"))
    },

    // §2.4 ext — explicit grouping sets (flag-only, status-only).
    "q_grouping_sets" -> Q(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin) {
      (s, dir) =>
        table(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
        s.sql("""SELECT l_returnflag, l_linestatus,
                |  CAST(count(*) AS BIGINT) AS cnt
                |FROM lineitem_gs
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""
          .stripMargin)
    },

    // §2.4 ext — exact distinct-count aggregation (the oracle-checked twin
    // of the HLL sketch below; Spark plans it as a two-phase expand+agg).
    "q_count_distinct" -> Q(
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      o.groupBy(o("o_orderpriority"))
        .agg(countDistinct(o("o_custkey")).as("n_custs"),
          count(lit(1)).as("cnt"))
    },

    // §2.4 ext — HLL sketch: approx_count_distinct. The sketch estimate is
    // engine-specific (rows-only driver check); ApproxDistinctSpec bounds
    // the relative error against the exact count.
    "q_approx_distinct" -> Q.noOracle { (s, dir) =>
      val o = table(s, dir, "orders")
      o.groupBy(o("o_orderpriority"))
        .agg(approx_count_distinct(o("o_custkey")).as("approx_custs"),
          count(lit(1)).as("cnt"))
    },

    // Mergeable HLL sketch state (Apache DataSketches via
    // hll_sketch_agg/hll_union_agg): per-(priority, status) sketches are
    // the STORED partial state — at 100 TB these are what a nightly job
    // persists per partition/day — and the per-priority rollup merges
    // sketches without rescanning the fact table. Rows-only by design
    // (sketch binaries are engine-specific); the estimate-vs-exact error
    // bound is asserted in ApproxDistinctSpec.
    "q_hll_merge" -> Q.noOracle { (s, dir) =>
      val o = table(s, dir, "orders")
      val partials = o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      partials.groupBy("o_orderpriority")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("est_custs"))
    },

    // GK quantile sketch (approx_percentile): mergeable partial sketches,
    // one pass, rank error <= 1/accuracy — the production quantile path
    // when an exact per-group sort (q_percentile) is too expensive.
    // Rows-only by design (sketch internals are engine-specific); the
    // rank-error bound vs the exact percentile is asserted in
    // ApproxDistinctSpec.
    "q_approx_percentile" -> Q.noOracle { (s, dir) =>
      val l = table(s, dir, "lineitem")
      val cents = round(l("l_extendedprice") * 100).cast("long")
      // Scalar output columns (not one array column): the driver's
      // row-sorter can't hash array cells, and scalars keep the result
      // SQL-comparable for the rows-only check.
      l.groupBy(l("l_returnflag"))
        .agg(approx_percentile(cents,
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000))
          .as("pcts"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"),
          col("pcts").getItem(0).as("p50_cents"),
          col("pcts").getItem(1).as("p90_cents"),
          col("pcts").getItem(2).as("p99_cents"),
          col("cnt"))
    },

    // Count-min sketch heavy-hitter estimation — the third classical
    // sketch next to HLL (distinct) and GK (quantiles): frequency
    // point-estimates from one mergeable aggregation pass. The sketch is
    // built distributedly (Spark's count_min_sketch aggregate), the
    // 1-row binary broadcasts, and the probe side reads it via the
    // graft_cms_estimate expression (the read half Spark never shipped
    // to SQL). Rows-only by design (sketch layout is engine-specific);
    // est ≥ exact always, est ≤ exact + ε·N w.p. ≥ confidence — both
    // bounds asserted in ApproxDistinctSpec.
    // Exact heavy hitters — the hash-verified twin of the CMS sketch
    // below (what q_count_distinct is to the HLL and q_percentile to
    // the GK sketch): same top-20 selection with deterministic ties,
    // no estimate column, fully oracle-checkable. Completes the
    // exact-twin pairing for all three sketch families.
    "q_heavy_hitters" -> Q(
      """SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt FROM (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |    AS term
        |  FROM documents) t
        |GROUP BY term
        |ORDER BY count(*) DESC, term LIMIT 20""".stripMargin) {
      (s, dir) =>
      val d = table(s, dir, "documents")
      d.select(explode(graft.ops.llm.TextOps.tokens(d("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(20)
    },

    "q_cms_heavy_hitters" -> Q.noOracle { (s, dir) =>
      val d = table(s, dir, "documents")
      val tok = d.select(explode(
        graft.ops.llm.TextOps.tokens(d("text"))).as("term"))
      val sk = tok.agg(
        expr("count_min_sketch(term, 0.001d, 0.99d, 42)").as("sk"))
      val top = tok.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(20)
      top.crossJoin(broadcast(sk))
        .select(col("term"), col("exact_cnt"),
          graft.functions.CmsEstimate(col("sk"), col("term"))
            .as("est_cnt"))
    },

    // §2.4 ext — pivot (explicit value list keeps columns deterministic);
    // oracle via conditional aggregation, the portable PIVOT form.
    "q_pivot" -> Q(
      """SELECT l_returnflag,
        |  CAST(count(*) FILTER (l_linestatus = 'F') AS BIGINT) AS F,
        |  CAST(count(*) FILTER (l_linestatus = 'O') AS BIGINT) AS O
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      li.groupBy(li("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
    },

    // §2.4 ext — unpivot/melt: wide metric columns → (metric, value) rows.
    "q_unpivot" -> Q(
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |             l_extendedprice, l_discount, l_tax FROM lineitem)
        |  ON l_quantity, l_extendedprice, l_discount, l_tax
        |  INTO NAME metric VALUE value)""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      li.unpivot(
        Array(li("l_orderkey"), li("l_linenumber")),
        Array(li("l_quantity"), li("l_extendedprice"), li("l_discount"),
          li("l_tax")),
        "metric", "value")
    },

    // §2.8 ext — JSON column extraction (events.props): per-type stats of
    // the extracted integer field.
    "q_json_extract" -> Q(
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |    AS BIGINT) AS sum_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |    AS INTEGER) AS max_k
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
      val k = get_json_object(e("props"), "$.k").cast("int")
      e.groupBy(e("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(k).as("sum_k"), max(k).as("max_k"))
    },

    // Fuzzy join with blocking keys: candidate pairs only within the same
    // (brand, size) block, then exact edit distance — the scalable shape
    // for entity resolution (never all-pairs).
    "q_fuzzy_join" -> Q(
      """SELECT a.p_partkey a, b.p_partkey b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 12""".stripMargin) {
      (s, dir) =>
        val p = table(s, dir, "part")
        val l = p.select(p("p_partkey").as("a"), p("p_brand").as("brand"),
          p("p_size").as("size"), p("p_name").as("name_a"))
        val r = p.select(p("p_partkey").as("b"), p("p_brand").as("brand2"),
          p("p_size").as("size2"), p("p_name").as("name_b"))
        l.join(r, col("brand") === col("brand2") &&
            col("size") === col("size2") && col("a") < col("b"))
          // banded DP + early exit; returns -1 above the threshold and
          // the exact distance otherwise — same rows, same values
          .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 12))
          .filter(col("dist") >= 0)
          .select(col("a"), col("b"), col("dist"))
    },

    // §2.4/§2.6 ext — exact discrete median per group via window position
    // (value at row (n+1) div 2 in value order — tie order irrelevant
    // since the VALUE is selected), in integer cents.
    "q_median" -> Q(
      """SELECT l_returnflag, val AS median_cents FROM (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS val,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(round(l_quantity * 100) AS BIGINT)) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |WHERE rn = (n + 1) // 2""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val valC = round(li("l_quantity") * 100).cast("long")
      val w = Window.partitionBy(li("l_returnflag")).orderBy(valC)
      val wAll = Window.partitionBy(li("l_returnflag"))
      li.select(li("l_returnflag"), valC.as("val"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(wAll).as("n"))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("l_returnflag"), col("val").as("median_cents"))
    },

    // §2.5 ext — window frames over `events`: running sum, lag, sliding
    // 3-row sum. Order key is the unique event_id (not ts: ns-vs-µs
    // truncation would make tie sets differ between engines). Value goes
    // through integer millis so the running sums are exact.
    "q_window_frame" -> Q(
      """SELECT event_id, user_id,
        |  CAST(round(value * 1000) AS BIGINT) AS value_milli,
        |  CAST(sum(CAST(round(value * 1000) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS running_sum,
        |  lag(CAST(round(value * 1000) AS BIGINT), 1) OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS prev_value,
        |  CAST(sum(CAST(round(value * 1000) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum3,
        |  CAST(row_number() OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS INTEGER) AS seq
        |FROM events""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
      WindowFrames.running(e, partition = "user_id", order = "event_id",
        value = e("value"))
    },

    // §2.8 ext — date math, TPC-H Q1 shape: month bucket via date_trunc
    // projected to a string (timestamps never hit the output), revenue in
    // exact cents, datediff vs a fixed epoch.
    "q_date_math" -> Q(
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m')
        |    AS ship_month,
        |  l_returnflag,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(min(date_diff('day', TIMESTAMP '1995-01-01', l_shipdate))
        |    AS INTEGER) AS min_ship_days,
        |  CAST(max(day(l_shipdate)) AS INTEGER) AS max_dom
        |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      li.groupBy(
          date_format(date_trunc("month", li("l_shipdate")), "yyyy-MM")
            .as("ship_month"),
          li("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          sum(li("l_quantity")).cast("long").as("sum_qty"),
          sum(revCents(li("l_extendedprice"), li("l_discount")))
            .as("rev_cents"),
          min(datediff(li("l_shipdate"), lit("1995-01-01")))
            .as("min_ship_days"),
          max(dayofmonth(li("l_shipdate"))).as("max_dom"))
    },

    // §2.7 ext — EXCEPT (distinct semantics in both engines): customers in
    // debt that are not in the BUILDING segment.
    "q_except" -> Q(
      """SELECT c_custkey FROM customer WHERE c_acctbal < 0
        |EXCEPT
        |SELECT c_custkey FROM customer
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer")
      c.filter(c("c_acctbal") < 0).select(c("c_custkey"))
        .except(c.filter(c("c_mktsegment") === "BUILDING")
          .select(c("c_custkey")))
    },

    // §2.7 ext — INTERSECT: BUILDING-segment customers that did order.
    "q_intersect" -> Q(
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders""".stripMargin) {
      (s, dir) =>
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders")
        c.filter(c("c_mktsegment") === "BUILDING").select(c("c_custkey"))
          .intersect(o.select(o("o_custkey").as("c_custkey")))
    },

    // S1 — text scan rollup: line/char counts + the P1 validity predicate,
    // reduced to one row (the text-file path itself is exercised end-to-end
    // in PipelineSpec; the oracle sees the parquet stand-in).
    "q_scan_text" -> Q(
      """SELECT CAST(count(text) AS BIGINT) AS n_lines,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN length(trim(text)) >= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_valid
        |FROM documents""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      d.agg(count(d("text")).as("n_lines"),
        sum(length(d("text"))).as("total_chars"),
        sum(when(Normalize.validLine(d("text")), 1).otherwise(0))
          .as("n_valid"))
    },

    // Histogram: fixed-width binning of order totals (explicit floor —
    // CAST(double) truncates in Spark but rounds in DuckDB).
    "q_histogram" -> Q(
      """SELECT CAST(floor(o_totalprice / 50000) AS INTEGER) AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(min(round(o_totalprice * 100)) AS BIGINT) AS min_cents,
        |  CAST(max(round(o_totalprice * 100)) AS BIGINT) AS max_cents
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      o.groupBy(floor(o("o_totalprice") / 50000).cast("int").as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          min(round(o("o_totalprice") * 100)).cast("long").as("min_cents"),
          max(round(o("o_totalprice") * 100)).cast("long").as("max_cents"))
    },

    // Deterministic hash sampling: keep rows whose content-digest prefix
    // falls below a hex threshold (~1/8 here) — reproducible distributed
    // sampling with no RNG state, the pattern for corpus subsampling.
    "q_sample" -> Q(
      """SELECT doc_id, lang FROM documents
        |WHERE substr(sha256(lower(trim(text))), 1, 2) < '20'""".stripMargin) {
      (s, dir) =>
        val d = table(s, dir, "documents")
        d.filter(substring(sha2(lower(trim(d("text"))), 256), 1, 2) < "20")
          .select(d("doc_id"), d("lang"))
    },

    // As-of join: each click matched to the user's latest view at-or-before
    // it (one shuffle + sort via union/last-over-window — no non-equi
    // probe). Oracle uses DuckDB's native ASOF LEFT JOIN.
    "q_asof_join" -> Q(duckAsofJoin) {
      (s, dir) =>
        val (clicks, views) = clickViewEvents(s, dir)
        TimeJoins.asof(clicks, views, "user_id", "tsu",
            "click_id", "view_id")
          .withColumnRenamed("tsu", "ts")
    },

    // Ordered funnel analysis: signup → click (within 24h) → purchase
    // (within 24h of the click) — the ORDER-sensitive conversion count a
    // plain per-type aggregate can't express. Three chained conditional
    // window-mins over ONE user exchange (every window shares the
    // user_id partition), then a single-row rollup. 150 → 65 → 29 users
    // at sf0.01.
    "q_funnel" -> Q(duckFunnel) { (s, dir) =>
      val win = 86_400_000_000L
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("tsu"))
      val wU = Window.partitionBy("user_id")
      val s1 = e.withColumn("t1",
        min(when(col("event_type") === "signup", col("tsu"))).over(wU))
      val s2 = s1.withColumn("t2",
        min(when(col("event_type") === "click" &&
          col("tsu") > col("t1") && col("tsu") <= col("t1") + win,
          col("tsu"))).over(wU))
      val s3 = s2.withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("tsu") > col("t2") && col("tsu") <= col("t2") + win,
          col("tsu"))).over(wU))
      s3.select(col("user_id"), col("t1"), col("t2"), col("t3"))
        .distinct()
        .agg(count(col("t1")).as("n_signup"),
          count(col("t2")).as("n_then_click"),
          count(col("t3")).as("n_then_purchase"))
    },

    // X73 — multi-touch conversion attribution: for every purchase, the
    // FIRST and LAST non-purchase touchpoint in the trailing 7-day
    // window, credited by event type (the first-touch/last-touch models
    // a marketing stack reports side by side). Touch candidates encode
    // as fixed-width sortable strings (zero-padded tsu ‖ event_id ‖
    // type), so min/max over ONE RANGE-framed window pass ARE the two
    // attribution models — never a purchase×touch range self-join
    // (quadratic per user at 100 TB); both windows share the user
    // exchange. Output is touch-type-pair-bounded at any event volume.
    "q_attribution" -> Q(
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) tsu
        |           FROM events),
        |k AS (SELECT user_id, event_id, event_type, tsu,
        |    CASE WHEN event_type <> 'purchase' THEN
        |      lpad(CAST(tsu AS VARCHAR), 20, '0')
        |        || lpad(CAST(event_id AS VARCHAR), 12, '0')
        |        || event_type END AS tkey
        |  FROM e),
        |w AS (SELECT user_id, event_id, event_type,
        |    min(tkey) OVER (PARTITION BY user_id ORDER BY tsu
        |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) fk,
        |    max(tkey) OVER (PARTITION BY user_id ORDER BY tsu
        |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) lk
        |  FROM k)
        |SELECT coalesce(substr(fk, 33), 'none') AS first_touch,
        |  coalesce(substr(lk, 33), 'none') AS last_touch,
        |  CAST(count(*) AS BIGINT) AS n_conversions
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("tsu"))
      val tkey = when(col("event_type") =!= "purchase",
        concat(lpad(col("tsu").cast("string"), 20, "0"),
          lpad(col("event_id").cast("string"), 12, "0"),
          col("event_type")))
      val w7 = Window.partitionBy("user_id").orderBy("tsu")
        .rangeBetween(-604_800_000_000L, Window.currentRow)
      e.withColumn("tkey", tkey)
        .withColumn("fk", min(col("tkey")).over(w7))
        .withColumn("lk", max(col("tkey")).over(w7))
        .filter(col("event_type") === "purchase")
        .groupBy(
          coalesce(expr("substring(fk, 33)"), lit("none"))
            .as("first_touch"),
          coalesce(expr("substring(lk, 33)"), lit("none"))
            .as("last_touch"))
        .agg(count(lit(1)).as("n_conversions"))
    },

    // Event-transition matrix (first-order Markov counts): how often each
    // event type is followed by each other type within a user's ordered
    // stream — the path-analysis staple behind sankey/flow charts. One
    // lead() window on the user exchange, then a tiny 5x5 rollup.
    "q_transitions" -> Q(duckTransitions) {
      (s, dir) =>
        val e = userEvents(s, dir)
        val w = byUserTime
        e.withColumn("to_type", lead("event_type", 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("cnt"))
    },

    // X62 — second-order event paths (the sequential-pattern companion
    // to q_transitions' first-order Markov counts: the top behavioral
    // trigrams "view→click→purchase"). Two lead() columns ride ONE
    // user-partitioned window pass (order key (ts, event_id) — the
    // unique id breaks ts ties identically on both engines); the path
    // rollup partial-aggs map-side and the top-20 cut is a
    // TakeOrderedAndProject over a total order (cnt desc, then the
    // full path) — never a global sort. Scale: output is min(20,
    // |V|³)-sized; the only data-sized exchange is the user key.
    "q_event_paths" -> Q(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(ts) tsu FROM events),
        |nx AS (SELECT event_type e1,
        |    lead(event_type, 1) OVER w e2,
        |    lead(event_type, 2) OVER w e3
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY tsu, event_id)),
        |p AS (SELECT e1, e2, e3, CAST(count(*) AS BIGINT) n_paths
        |  FROM nx WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |  GROUP BY 1, 2, 3)
        |SELECT e1, e2, e3, n_paths FROM p
        |ORDER BY n_paths DESC, e1, e2, e3 LIMIT 20""".stripMargin) {
      (s, dir) =>
        val e = userEvents(s, dir)
        val w = byUserTime
        e.select(col("event_type").as("e1"),
            lead("event_type", 1).over(w).as("e2"),
            lead("event_type", 2).over(w).as("e3"))
          .filter(col("e2").isNotNull && col("e3").isNotNull)
          .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n_paths"))
          .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
          .limit(20)
    },

    // X63 — transition dwell-time profile (the latency on
    // q_transitions' edges: HOW LONG between consecutive events, per
    // (from, to) pair — the "users stall before purchase" diagnostic).
    // Gaps are exact integer microseconds from the same
    // (ts, event_id)-ordered user window as X62; median and p90 are
    // RANK-SELECTED (the q_median discipline: rn = (n+1) div 2 /
    // ceil(0.9n) = (9n+9) div 10 — exact discrete order statistics,
    // no interpolation, no float) off ONE pair-partitioned rank
    // window; the final per-pair collapse is a max(CASE) partial agg.
    "q_dwell" -> Q(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(ts) tsu FROM events),
        |nx AS (SELECT event_type ft,
        |    lead(event_type) OVER w tt,
        |    lead(tsu) OVER w - tsu gap_us
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY tsu, event_id)),
        |g AS (SELECT ft, tt, gap_us,
        |    row_number() OVER (PARTITION BY ft, tt ORDER BY gap_us) rn,
        |    count(*) OVER (PARTITION BY ft, tt) n
        |  FROM nx WHERE tt IS NOT NULL)
        |SELECT ft AS from_type, tt AS to_type,
        |  CAST(max(n) AS BIGINT) AS n_gaps,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END)
        |    AS BIGINT) AS median_us,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END)
        |    AS BIGINT) AS p90_us
        |FROM g GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val e = userEvents(s, dir)
      val w = byUserTime
      val nx = e.select(col("event_type").as("ft"),
          lead("event_type", 1).over(w).as("tt"),
          (lead("tsu", 1).over(w) - col("tsu")).as("gap_us"))
        .filter(col("tt").isNotNull)
      val wg = Window.partitionBy("ft", "tt").orderBy("gap_us")
      val wn = Window.partitionBy("ft", "tt")
      nx.withColumn("rn", row_number().over(wg))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy(col("ft").as("from_type"), col("tt").as("to_type"))
        .agg(max("n").as("n_gaps"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("gap_us")))
            .as("median_us"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"),
            col("gap_us"))).as("p90_us"))
    },

    // X64 — RFM (recency / frequency / monetary) customer segmentation
    // per market (the classic CRM kernel): each user scored 1..3 on
    // each dimension by EXACT tercile rank within their nation —
    // t = ((rn−1)·3) div n + 1 over a (metric, user_id) total order,
    // the q_ppl_bucket rank-selection discipline (deterministic, no
    // float quantiles); monetary is exact integer millis summed before
    // anything else (the q_window_frame money rule). Recency score is
    // inverted (3 = most recent). One user-key shuffle builds the
    // per-user profile, the global anchor day is a 1-row broadcast, the
    // dimension join broadcasts, and the three rank windows share ONE
    // nation exchange. Output is (nation × 27)-bounded.
    "q_rfm" -> Q(
      """WITH u AS (
        |  SELECT user_id, max(epoch_us(ts) // 86400000000) last_day,
        |    CAST(count(*) AS BIGINT) freq,
        |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
        |      monetary
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(last_day) anchor FROM u),
        |p AS (
        |  SELECT n_name, u.user_id, anchor - last_day AS recency, freq,
        |    monetary
        |  FROM u
        |  JOIN customer ON u.user_id = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey, mx),
        |r AS (
        |  SELECT n_name,
        |    CAST(count(*) OVER wn AS BIGINT) n,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY recency, user_id) AS BIGINT) rr,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY freq, user_id) AS BIGINT) rf,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY monetary, user_id) AS BIGINT) rm
        |  FROM p WINDOW wn AS (PARTITION BY n_name)),
        |s AS (
        |  SELECT n_name,
        |    4 - (((rr - 1) * 3) // n + 1) AS r_score,
        |    ((rf - 1) * 3) // n + 1 AS f_score,
        |    ((rm - 1) * 3) // n + 1 AS m_score
        |  FROM r)
        |SELECT n_name, CAST(r_score AS BIGINT) r_score,
        |  CAST(f_score AS BIGINT) f_score,
        |  CAST(m_score AS BIGINT) m_score,
        |  CAST(count(*) AS BIGINT) n_users
        |FROM s GROUP BY 1, 2, 3, 4""".stripMargin) { (s, dir) =>
      val u = table(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("d"),
          round(col("value") * 1000).cast("long").as("vm"))
        .groupBy("user_id")
        .agg(max("d").as("last_day"), count(lit(1)).as("freq"),
          sum("vm").as("monetary"))
        // feeds the global anchor aggregate AND the scoring pass — ONE
        // events scan (EAGER CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala)
        .localCheckpoint(true)
      val mx = u.agg(max("last_day").as("anchor"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val n = table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val p = u.crossJoin(broadcast(mx))
        .join(broadcast(c), col("user_id") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          (col("anchor") - col("last_day")).as("recency"),
          col("freq"), col("monetary"), col("user_id"))
      def w(o: String) = Window.partitionBy("n_name")
        .orderBy(col(o), col("user_id"))
      val r = p
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy("n_name")))
        .withColumn("rr", row_number().over(w("recency")).cast("long"))
        .withColumn("rf", row_number().over(w("freq")).cast("long"))
        .withColumn("rm", row_number().over(w("monetary")).cast("long"))
      r.select(col("n_name"),
          (lit(4) - (expr("((rr - 1) * 3) div n") + 1))
            .cast("long").as("r_score"),
          (expr("((rf - 1) * 3) div n") + 1).cast("long").as("f_score"),
          (expr("((rm - 1) * 3) div n") + 1).cast("long").as("m_score"))
        .groupBy("n_name", "r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"))
    },

    // X65 — behavioral-diversity profile: Shannon entropy of each
    // user's event-type mix, ln-quantized PER (user, type) term (the
    // q_info_gain float-entropy discipline: −(c/n)·ln(c/n) is
    // micro-quantized before summing, so the per-user entropy is an
    // order-free integer sum), then histogrammed into fixed 0.05-nat
    // bands so the OUTPUT is band-count-bounded at any user
    // cardinality. Two user-key hash aggs + one tiny band rollup —
    // no windows, no joins.
    "q_user_entropy" -> Q(
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) c
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, CAST(sum(c) AS BIGINT) n,
        |    CAST(count(*) AS BIGINT) n_types
        |  FROM c GROUP BY 1),
        |h AS (
        |  SELECT c.user_id, n.n_types,
        |    CAST(sum(CAST(round(-1000000
        |      * (CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      * ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)))
        |      AS BIGINT)) AS BIGINT) h_micro
        |  FROM c JOIN n ON c.user_id = n.user_id
        |  GROUP BY 1, 2)
        |SELECT h_micro // 50000 AS band,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n_types) AS BIGINT) AS sum_types,
        |  CAST(sum(h_micro) AS BIGINT) AS sum_h_micro
        |FROM h GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        // feeds the per-user totals AND the entropy terms — ONE
        // (user, type) shuffle (EAGER CHECKPOINT DISCIPLINE,
        // ops/llm/Dedup.scala)
        .localCheckpoint(true)
      val n = c.groupBy("user_id")
        .agg(sum("c").as("n"), count(lit(1)).as("n_types"))
      val pr = col("c").cast("double") / col("n").cast("double")
      val h = c.join(n, "user_id")
        .select(col("user_id"), col("n_types"),
          round(lit(-1000000) * pr * log(pr)).cast("long").as("hi"))
        .groupBy("user_id", "n_types").agg(sum("hi").as("h_micro"))
      h.select(expr("h_micro div 50000").as("band"), col("n_types"),
          col("h_micro"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_users"), sum("n_types").as("sum_types"),
          sum("h_micro").as("sum_h_micro"))
    },

    // X66 — TPC-H Q5 shape: local-supplier revenue per nation and year.
    // The one join class the suite did not yet exercise: a FACT-TO-FACT
    // equi-join (orders ⋈ lineitem on the order key — at 100 TB both
    // sides shuffle on the key, or co-locate for free if both tables
    // are bucketed by it via Sinks.writeBucketed; the dims broadcast).
    // Revenue is exact integer: cents(extendedprice) · (1000 −
    // milli(discount)) per item — BIGINT-safe to ~10⁹ line items per
    // group (beyond: DECIMAL(38) per the X51 pattern); the Q5 "local"
    // condition (supplier nation = customer nation) rides the supplier
    // join. Scale: one fact-fact exchange pair + broadcast dims + a
    // (nation × year)-sized rollup.
    "q_tpch_q5" -> Q(
      s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |$duckQ5Revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val n = table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = table(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      val rev = q5Rev
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(rev).as("revenue_ppm_cents"))
    },

    // X67 — TPC-H Q4 shape: order-priority checking via an EXISTS
    // semi-join between the two FACT tables (does any line item of the
    // order ship more than 60 days after it was placed?). The semi-join
    // is the right plan — the probe side never widens, late lineitems
    // dedup for free — and at 100 TB it shuffles both facts on the
    // order key exactly once. Timestamp comparisons are exact (integer
    // µs under the hood on both engines).
    "q_tpch_q4" -> Q(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(l,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
    },

    // X68 — TPC-H Q13 shape: the customer order-count DISTRIBUTION,
    // the canonical outer-join histogram (customers with ZERO matching
    // orders must appear in the 0 bucket — an inner join silently drops
    // them; sf0.01 has exactly such a customer). Scale shape: the fact
    // is pre-aggregated to (custkey, cnt) BELOW the outer join — one
    // map-side-combining exchange on the customer key — so the join
    // carries one row per active customer, never one per order; joining
    // the raw fact first and counting after would shuffle every order
    // row twice. The final distribution rollup is count-of-counts-sized.
    "q_tpch_q13" -> Q(
      """WITH oc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders WHERE o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT CAST(coalesce(cnt, 0) AS BIGINT) AS c_count,
        |  CAST(count(*) AS BIGINT) AS custdist
        |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer").select(col("c_custkey"))
      val oc = table(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
      c.join(oc, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    },

    // X69 — TPC-H Q18 shape: large-volume orders — a HAVING-filtered
    // aggregate over the fact DRIVES a join back to the facts (the
    // "group, threshold, rehydrate" pattern). Quantities are integral
    // doubles in the data; round→long makes the per-order sums exact
    // integer so the >150 cut is engine-identical. Scale: one lineitem
    // exchange on the order key builds the qualifying-key set (map-side
    // partials make the HAVING cheap), orders join it on the same key
    // (AQE broadcasts the survivors when they fit — they are
    // threshold-selective by construction), customer stays a broadcast
    // dim; output is one row per qualifying order, no re-aggregation.
    "q_tpch_q18" -> Q(
      """WITH big AS (SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 150)
        |SELECT c_custkey, o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  sum_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey""".stripMargin) { (s, dir) =>
      val big = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .groupBy("l_orderkey")
        .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
      val c = table(s, dir, "customer").select(col("c_custkey"))
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(c), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          col("sum_qty"))
    },

    // X70 — TPC-H Q21 shape (adapted to this schema's columns: "late" =
    // shipped >60 days after the order date): suppliers who were the
    // SOLE late supplier on a multi-supplier order — the EXISTS +
    // NOT-EXISTS pair on the same fact, i.e. a semi-join AND an
    // anti-join against the probe's own derivation. Scale shape: both
    // sides reduce to (orderkey, suppkey)-distinct tables first (one
    // order-key exchange each, dedup map-side), the late set is
    // eager-checkpointed once for its two consumers (semi probe + anti
    // build — the checkpoint discipline), and the self-anti-join keys on
    // the order key so it shuffles order-sized, never line-sized. The
    // per-supplier rollup happens BEFORE the name lookup, so the dim
    // join is supplier-count-sized and broadcasts.
    "q_tpch_q21" -> Q(
      """WITH ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |late AS (SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM ls
        |    WHERE ls.l_orderkey = l1.l_orderkey
        |      AND ls.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val ls = l.select(col("l_orderkey"), col("l_suppkey")).distinct()
      val late = l
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
        .distinct()
        .localCheckpoint(true) // 2 consumers: semi probe + anti build
      val late2 = late.select(col("l_orderkey").as("k2"),
        col("l_suppkey").as("s2"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))
      late
        .join(ls.select(col("l_orderkey").as("k1"),
            col("l_suppkey").as("s1")),
          col("k1") === col("l_orderkey") &&
            col("s1") =!= col("l_suppkey"), "left_semi")
        .join(late2,
          col("k2") === col("l_orderkey") &&
            col("s2") =!= col("l_suppkey"), "left_anti")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
    },

    // X74 — TPC-H Q2 shape: the cheapest-supplier-per-part correlated
    // subquery, decorrelated the way Catalyst itself rewrites it — an
    // aggregate-equality JOIN-BACK that keeps ALL argmin witnesses
    // (ties produce one row each; q_minmax_by's max_by keeps only one,
    // so this is a genuinely different contract). Scale: offers reduce
    // per (part, supplier) in one partial-agg shuffle; the per-part min
    // reuses the part-key clustering; the join-back keys on (part,
    // cost) — never a correlated per-row subquery; the name lookup
    // broadcasts after the rollup.
    "q_tpch_q2" -> Q(
      """WITH offer AS (SELECT l_partkey, l_suppkey,
        |    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cost_cents
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT l_partkey, min(cost_cents) AS best_cents
        |  FROM offer GROUP BY 1)
        |SELECT o.l_partkey AS p_partkey, o.l_suppkey AS s_suppkey,
        |  s_name, o.cost_cents
        |FROM offer o
        |JOIN best b ON b.l_partkey = o.l_partkey
        |  AND o.cost_cents = b.best_cents
        |JOIN supplier ON s_suppkey = o.l_suppkey""".stripMargin) {
      (s, dir) =>
        val offer = table(s, dir, "lineitem")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(round(col("l_extendedprice") * 100).cast("long"))
            .as("cost_cents"))
          // 2 consumers: the per-part min and the join-back probe
          .localCheckpoint(true)
        val best = offer.groupBy("l_partkey")
          .agg(min("cost_cents").as("best_cents"))
          .select(col("l_partkey").as("bp"), col("best_cents"))
        val sup = table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))
        offer
          .join(best, col("bp") === col("l_partkey") &&
            col("cost_cents") === col("best_cents"))
          .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
          .select(col("l_partkey").as("p_partkey"),
            col("l_suppkey").as("s_suppkey"), col("s_name"),
            col("cost_cents"))
    },

    // X77 — TPC-H Q11 shape: groups filtered by their share of a GLOBAL
    // aggregate (the HAVING-vs-scalar-subquery pattern). Q11's own
    // threshold is fraction/SF — scale-dependent by design — so the
    // share test here is the scale-INVARIANT form: parts worth more
    // than 1.5× the mean part value (2/29/252 survivors at
    // sf0.001/0.01/0.1), as an exact integer cross-multiplication
    // val·np·2 > 3·total — no division (BIGINT-safe to ~10⁹ parts ×
    // cents; beyond: DECIMAL(38), X51 pattern). The global (total, np)
    // folds in as a 1-row broadcast (the q_scalar_subquery shape);
    // the part aggregate is checkpointed once for its two consumers.
    "q_tpch_q11" -> Q(
      """WITH v AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS val_cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(val_cents) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS np FROM v)
        |SELECT l_partkey, val_cents
        |FROM v, t WHERE val_cents * np * 2 > 3 * total""".stripMargin) {
      (s, dir) =>
        val v = table(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("val_cents"))
          // 2 consumers: the global total and the share filter
          .localCheckpoint(true)
        val t = v.agg(sum("val_cents").as("total"),
          count(lit(1)).as("np"))
        v.crossJoin(broadcast(t))
          .filter(col("val_cents") * col("np") * 2 > lit(3) * col("total"))
          .select(col("l_partkey"), col("val_cents"))
    },

    // X80 — TPC-H Q3 shape: shipping-priority — the canonical
    // "join, aggregate, TAKE the global top-N" composite (the suite has
    // joins and sort/limit separately; Q3 is the production shape where
    // the limit must ride ON TOP of a fact-fact join + rollup without a
    // global sort). Revenue is the exact Q5 integer form
    // (cents × (1000 − milli-discount)); the (revenue desc, orderkey)
    // order is a total order, so the top-10 cut is deterministic.
    // Scale: segment-filtered customers broadcast into orders, one
    // fact-fact exchange on the order key, map-side partial aggs, and
    // the limit plans as TakeOrderedAndProject — per-partition heaps +
    // a 10-row driver merge, never a global sort of the rollup.
    "q_tpch_q3" -> Q(
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (1000 - CAST(round(l_discount * 1000) AS BIGINT)))
        |    AS BIGINT) AS revenue_ppm_cents,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  o_orderpriority
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue_ppm_cents DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val cut = to_timestamp(lit("1998-07-01 00:00:00"))
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val l = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      val rev = q5Rev
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_orderpriority"))
        .agg(sum(rev).as("revenue_ppm_cents"))
        .orderBy(col("revenue_ppm_cents").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue_ppm_cents"),
          col("o_year"), col("o_orderpriority"))
    },

    // X81 — TPC-H Q16 shape: supplier-diversity count — the
    // double-distinct composite: the part⋈supplier relation is DERIVED
    // by deduplicating fact pairs (this schema's partsupp is implicit
    // in lineitem), a NOT-IN blacklist rides a broadcast ANTI join
    // (never a filter subquery per row), and the rollup is a
    // count-DISTINCT per attribute group (suppliers serve many parts
    // in the same group — the pair dedup alone is not enough).
    // Scale: the (partkey, suppkey) dedup is one map-side-combining
    // exchange on the pair; part attributes broadcast; the blacklist is
    // supplier-sized (tiny). The distinct-agg plans as the two-phase
    // Expand+agg Spark uses for count(distinct) under a group key.
    "q_tpch_q16" -> Q(
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val ps = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val p = table(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size"))
      val bad = table(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      ps.join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },

    // X82 — TPC-H Q22 shape: the global-benchmark anti-join composite —
    // customers whose balance beats the GLOBAL positive-balance mean
    // (a 1-row broadcast aggregate, decided by exact integer
    // cross-multiplication bal·n > total — the Q11 no-division
    // discipline) AND with no recent orders (anti-join against the
    // distinct recent-buyer key set; Q22's phone-prefix group key maps
    // to this schema's market segment). The one customer scan is
    // checkpointed for its two consumers (the mean and the filter).
    // Scale: customer-dim-sized throughout; the recent-buyer set is one
    // map-side-deduped exchange of order keys, then a broadcast anti.
    "q_tpch_q22" -> Q(
      """WITH cust AS (SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |pos AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM cust WHERE bal_cents > 0),
        |recent AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2001-01-01')
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
        |FROM cust, pos
        |WHERE bal_cents * n > total
        |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val cust = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        // 2 consumers: the global positive mean and the filter probe
        .localCheckpoint(true)
      val pos = cust.filter(col("bal_cents") > 0)
        .agg(sum("bal_cents").as("total"), count(lit(1)).as("n"))
      val recent = table(s, dir, "orders")
        .filter(col("o_orderdate") >=
          to_timestamp(lit("2001-01-01 00:00:00")))
        .select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(pos))
        .filter(col("bal_cents") * col("n") > col("total"))
        .join(broadcast(recent), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          sum("bal_cents").as("totacctbal_cents"))
    },

    // X90 — TPC-H Q7 shape: volume shipping between two nations — the
    // BIDIRECTIONAL nation-pair filter (supp→cust AND cust→supp) over
    // a five-table star, the classic "trade between A and B by year"
    // report. Both nation dims filter to the pair BEFORE broadcasting,
    // so the supplier/customer sides shrink to the two nations'
    // members; revenue is the exact Q5 integer form. Scale: the only
    // fact-fact exchange is orders⋈lineitem on the order key; dims
    // broadcast post-filter; output ≤ 2 pairs × years.
    "q_tpch_q7" -> Q(
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |$duckQ5Revenue
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val pair = Seq("NATION_18", "NATION_19")
      val n = table(s, dir, "nation")
        .filter(col("n_name").isin(pair: _*))
      val sup = table(s, dir, "supplier")
        .join(n.select(col("n_nationkey"), col("n_name").as("supp_nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val c = table(s, dir, "customer")
        .join(n.select(col("n_nationkey").as("nk2"),
            col("n_name").as("cust_nation")),
          col("c_nationkey") === col("nk2"))
        .select(col("c_custkey"), col("cust_nation"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      val rev = q5Rev
      l.join(o, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(c), col("c_custkey") === col("o_custkey"))
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(rev).as("revenue_ppm_cents"))
    },

    // X91 — TPC-H Q8 shape: national market share — the share of one
    // supplier nation in a region's PROMO-part revenue per year. The
    // numerator rides the SAME rollup as the denominator (a
    // conditional sum, never a second pass), and the share is ONE
    // mirrored double division of two exact integer sums (the
    // q_welch/ks_ppm discipline — identical promotion on both
    // engines). Scale: parts/customers filter before broadcasting; one
    // fact-fact exchange; output year-sized.
    "q_tpch_q8" -> Q(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(round(1000000 * CAST(sum(CASE WHEN s_nat = 'NATION_5'
        |      THEN rev ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(rev) AS DOUBLE)) AS BIGINT) AS mkt_share_ppm
        |FROM (
        |  SELECT o_orderdate, n1.n_name AS s_nat,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (1000 - CAST(round(l_discount * 1000) AS BIGINT)) AS rev
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n2.n_regionkey
        |    AND r_name = 'ASIA'
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n1 ON n1.n_nationkey = s_nationkey)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val p = table(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val n2 = table(s, dir, "nation")
        .select(col("n_nationkey").as("nk2"), col("n_regionkey"))
      val r = table(s, dir, "region").filter(col("r_name") === "ASIA")
      val cust = table(s, dir, "customer")
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val n1 = table(s, dir, "nation")
        .select(col("n_nationkey").as("nk1"), col("n_name").as("s_nat"))
      val sup = table(s, dir, "supplier")
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .select(col("s_suppkey"), col("s_nat"))
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val rev = q5Rev
      l.join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(cust), col("c_custkey") === col("o_custkey"))
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          col("s_nat"), rev.as("rev"))
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_items"),
          round(lit(1000000) *
            sum(when(col("s_nat") === "NATION_5", col("rev"))
              .otherwise(0L)).cast("double") /
            sum(col("rev")).cast("double")).cast("long")
            .as("mkt_share_ppm"))
    },

    // X92 — TPC-H Q9 shape: product-type profit by nation and year.
    // The schema has no partsupp/supplycost, so cost is modeled as 80%
    // of the part's retail price per unit — the ADAPTATION is declared
    // (like X70's), the SHAPE is Q9's: a name-pattern part filter, a
    // six-way join, and a profit expression mixing revenue and cost
    // terms that can go NEGATIVE (the sign behavior Q1-style sums
    // never exercise). Exact integers: both terms are cents×permille
    // (revenue cents·(1000−md); cost qty·retail_cents·800). Scale:
    // parts filter then broadcast; one fact-fact exchange; output
    // nation×year.
    "q_tpch_q9" -> Q(
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (1000 - CAST(round(l_discount * 1000) AS BIGINT))
        |    - CAST(round(l_quantity) AS BIGINT)
        |      * CAST(round(p_retailprice * 100) AS BIGINT) * 800)
        |    AS BIGINT) AS profit_ppm_cents
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val p = table(s, dir, "part")
        .filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val sup = supplierNations(s, dir, col("s_suppkey"), col("n_name"))
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      val profit = q5Rev -
        round(col("l_quantity")).cast("long") *
        round(col("p_retailprice") * 100).cast("long") * lit(800L)
      l.join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(profit).as("profit_ppm_cents"))
    },

    // X93 — TPC-H Q12 shape (adapted: no l_shipmode column, so the
    // grouping key is the shipping-DELAY bucket instead): per delay
    // bucket, how many line items belong to critical-priority orders
    // vs not — Q12's "did slow shipping hit the urgent orders?"
    // question with the same two-conditional-counts-over-one-join
    // shape. Day arithmetic is exact integer µs on both engines; one
    // fact-fact exchange on the order key, output 3 buckets.
    "q_tpch_q12" -> Q(
      """SELECT CASE
        |    WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 'late'
        |    WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY THEN 'slow'
        |    ELSE 'fast' END AS ship_bucket,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      val bucket = when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"), "late")
        .when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 30 DAYS"), "slow")
        .otherwise("fast")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      o.join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(bucket.as("ship_bucket"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
    },

    // X94 — TPC-H Q14 shape: promotion revenue share per month — the
    // conditional-share-of-a-rollup pattern (one pass, numerator as a
    // filtered sum inside the same aggregate) on a broadcast part
    // join; the share is the one mirrored double division of exact
    // integer sums. Output month-sized.
    "q_tpch_q14" -> Q(
      """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate)
        |    AS BIGINT) AS ym,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(round(1000000 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN rev ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(rev) AS DOUBLE)) AS BIGINT) AS promo_share_ppm
        |FROM (
        |  SELECT l_shipdate, p_type,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (1000 - CAST(round(l_discount * 1000) AS BIGINT)) AS rev
        |  FROM lineitem JOIN part ON p_partkey = l_partkey)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val p = table(s, dir, "part")
        .select(col("p_partkey"), col("p_type"))
      val l = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      val rev = q5Rev
      l.join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .select((year(col("l_shipdate")) * 100 +
            month(col("l_shipdate"))).cast("long").as("ym"),
          col("p_type"), rev.as("rev"))
        .groupBy("ym")
        .agg(count(lit(1)).as("n_items"),
          round(lit(1000000) *
            sum(when(col("p_type") === "PROMO", col("rev"))
              .otherwise(0L)).cast("double") /
            sum(col("rev")).cast("double")).cast("long")
            .as("promo_share_ppm"))
    },

    // X95 — TPC-H Q17 shape: small-quantity-order revenue — the
    // correlated average decorrelated as an aggregate join-back (the
    // q_tpch_q2 argmin discipline applied to a threshold): per part,
    // line items below 20% of that part's average quantity. The 0.2·avg
    // cut is decided by exact integer cross-multiplication
    // 5·qty·cnt < sum_qty — no division, no doubles, no ties to break.
    // Scale: the per-part (sum, cnt) aggregate is one map-side-combining
    // exchange, the join-back shuffles on the part key (at 100 TB both
    // sides co-locate if lineitem is bucketed by l_partkey); output
    // brand-sized.
    "q_tpch_q17" -> Q(
      """WITH q AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS sum_qty,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand,
        |  CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS small_rev_cents
        |FROM lineitem
        |JOIN q ON q.l_partkey = lineitem.l_partkey
        |JOIN part ON p_partkey = lineitem.l_partkey
        |WHERE 5 * CAST(round(l_quantity) AS BIGINT) * cnt < sum_qty
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val l = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"))
      val q = l.groupBy(col("l_partkey").as("qk"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          count(lit(1)).as("cnt"))
      val p = table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      l.join(q, col("qk") === col("l_partkey"))
        .filter(lit(5L) * round(col("l_quantity")).cast("long") *
          col("cnt") < col("sum_qty"))
        .join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_small"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("small_rev_cents"))
    },

    // X96 — TPC-H Q19 shape: disjunctive multi-branch predicates — the
    // OR-of-conjunctions filter engines must NOT degrade to a
    // cartesian: the partkey equality is common to every branch, so
    // the join stays equi and the branch disjunction evaluates as a
    // residual (here surfaced as a branch TAG so the output carries
    // one row per branch instead of Q19's single scalar). All
    // predicates are exact integer comparisons. Scale: one broadcast
    // part join; branch evaluation is scan-side.
    "q_tpch_q19" -> Q(
      """SELECT branch, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (1000 - CAST(round(l_discount * 1000) AS BIGINT)))
        |    AS BIGINT) AS revenue_ppm_cents
        |FROM (
        |  SELECT CASE
        |      WHEN p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |        AND CAST(round(l_quantity) AS BIGINT) BETWEEN 1 AND 11
        |        THEN 'b1'
        |      WHEN p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |        AND CAST(round(l_quantity) AS BIGINT) BETWEEN 10 AND 20
        |        THEN 'b2'
        |      WHEN p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |        AND CAST(round(l_quantity) AS BIGINT) BETWEEN 20 AND 30
        |        THEN 'b3'
        |      END AS branch,
        |    l_extendedprice, l_discount
        |  FROM lineitem JOIN part ON p_partkey = l_partkey)
        |WHERE branch IS NOT NULL
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val p = table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val l = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
      val qty = round(col("l_quantity")).cast("long")
      val branch = when(col("p_brand") === "Brand#1" &&
          col("p_size").between(1, 5) && qty.between(1L, 11L), "b1")
        .when(col("p_brand") === "Brand#2" &&
          col("p_size").between(1, 10) && qty.between(10L, 20L), "b2")
        .when(col("p_brand") === "Brand#3" &&
          col("p_size").between(1, 15) && qty.between(20L, 30L), "b3")
      val rev = q5Rev
      l.join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .select(branch.as("branch"), rev.as("rev"))
        .filter(col("branch").isNotNull)
        .groupBy("branch")
        .agg(count(lit(1)).as("n_items"),
          sum(col("rev")).as("revenue_ppm_cents"))
    },

    // X97 — TPC-H Q20 shape (adapted: no partsupp/availqty, so the
    // "surplus stock" gate becomes a shipped-volume gate): suppliers
    // who moved more than 1.2× the average supplier's volume of
    // blue-named parts in 1996 — the semi-join CHAIN (part filter →
    // per-supplier fact rollup → volume gate → supplier/nation
    // lookup) Q20 exists to exercise. The gate is SCALE-INVARIANT
    // (the X77/X82 lesson: a fixed unit threshold returns zero rows
    // at one SF and everything at another) and decided by exact
    // integer cross-multiplication qty·10·n > 12·total against the
    // 1-row broadcast (total, n) off the SAME rollup — checkpointed
    // once for its two consumers. Scale: the name-filtered part set
    // broadcasts into the fact scan, the rollup is one map-side-
    // combining exchange on the supplier key, the name lookup
    // broadcasts AFTER the gate (supplier-sized, like X74's).
    "q_tpch_q20" -> Q(
      """WITH g AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS qty
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey AND p_name LIKE '%blue%'
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(qty) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n FROM g)
        |SELECT n_name, s_name, qty
        |FROM g, t
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE qty * 10 * n > 12 * total""".stripMargin) {
      (s, dir) =>
      val p = table(s, dir, "part")
        .filter(col("p_name").like("%blue%"))
        .select(col("p_partkey"))
      val l = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
            to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val g = l.join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("qty"))
        // 2 consumers: the global (total, n) and the gate probe
        .localCheckpoint(true)
      val t = g.agg(sum("qty").as("total"), count(lit(1)).as("n"))
      val sup = supplierNations(s, dir,
        col("s_suppkey"), col("s_name"), col("n_name"))
      g.crossJoin(broadcast(t))
        .filter(col("qty") * 10L * col("n") > lit(12L) * col("total"))
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
        .select(col("n_name"), col("s_name"), col("qty"))
    },

    // X98 — TPC-H Q1 shape: the pricing summary report, the canonical
    // one-scan multi-aggregate. Literally the cheapest plan possible:
    // one map-side-combining exchange into a 6-group rollup (returnflag
    // × linestatus), the shipdate cut pushed into the parquet scan as a
    // DataFilter, and every money sum exact integer (cents / cents ×
    // (1000 − disc-millis) "milli-cents" — BIGINT-safe to ~10⁶ cents ×
    // 10³ × ~10⁹ rows per group; beyond, DECIMAL(38) per the X51
    // pattern). The averages ride the sums as one exact integer
    // cross-division (ppm), so no float ever enters the aggregate.
    "q_tpch_q1" -> Q(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (1000 - CAST(round(l_discount * 1000) AS BIGINT)))
        |    AS BIGINT) AS sum_disc_mcents,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  (1000000 * CAST(sum(CAST(round(l_quantity) AS BIGINT))
        |    AS BIGINT)) // count(*) AS avg_qty_ppm
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val dmill = lit(1000L) - round(col("l_discount") * 1000).cast("long")
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <=
          to_timestamp(lit("1998-09-02 00:00:00")))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_quantity")).cast("long").as("qty"),
          cents.as("cents"), (cents * dmill).as("disc_mcents"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("qty").as("sum_qty"),
          sum("cents").as("sum_base_cents"),
          sum("disc_mcents").as("sum_disc_mcents"),
          count(lit(1)).as("n_items"))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          col("sum_base_cents"), col("sum_disc_mcents"), col("n_items"),
          expr("(1000000 * sum_qty) div n_items").as("avg_qty_ppm"))
    },

    // X99 — TPC-H Q6 shape: the forecasting-revenue-change scan, the
    // benchmark's pure PREDICATE-PUSHDOWN probe — three independent
    // range cuts (shipdate window, discount band, quantity ceiling) all
    // pushed to the parquet scan, no join, a year-sized rollup. The
    // discount band compares on the exact per-row MILLIS integer
    // (round(d·1000) ∈ [50,70]) rather than raw double literals — 0.05
    // has no exact binary representation, and an engine-boundary ≥ on
    // the raw double is exactly the hash-drift class SURVEY §5.2.1
    // bans. Grouped by ship year (the forecast axis) so the empty-input
    // contract stays 0-rows (a global agg would emit a NULL row).
    "q_tpch_q6" -> Q(
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT)
        |    AS revenue_mcents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND CAST(round(l_discount * 1000) AS BIGINT) BETWEEN 50 AND 70
        |  AND l_quantity < 24
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val dmill = round(col("l_discount") * 1000).cast("long")
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
            to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1999-01-01 00:00:00")) &&
          col("l_quantity") < 24)
        .filter(dmill >= 50L && dmill <= 70L)
        .groupBy(year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") * dmill)
            .as("revenue_mcents"),
          count(lit(1)).as("n_items"))
    },

    // X100 — TPC-H Q10 shape: returned-item reporting — the top-20
    // problem customers by revenue lost to returns in one order
    // quarter. The scale lesson is join ORDER off selectivity: the
    // quarter cut shrinks orders ~26× so the FILTERED orders side
    // broadcasts into the returnflag-filtered fact scan (no fact-fact
    // exchange at all, unlike Q5 — both cuts arrive scan-side as
    // DataFilters), the rollup groups on the customer key, and the
    // customer/nation decoration broadcasts AFTER the rollup
    // (one row per returning customer, never per line item). The
    // top-20 cut is a TakeOrderedAndProject heap take (the X65/Q3
    // lesson — never a global sort), totally ordered by (revenue desc,
    // custkey asc) so the LIMIT is deterministic under any
    // partitioning. acctbal joins as exact integer cents.
    "q_tpch_q10" -> Q(
      """WITH rev AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
        |    n_name,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (1000 - CAST(round(l_discount * 1000) AS BIGINT)))
        |      AS BIGINT) AS revenue_mcents
        |  FROM customer
        |  JOIN orders ON o_custkey = c_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-04-01'
        |    AND l_returnflag = 'R'
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT * FROM rev
        |ORDER BY revenue_mcents DESC, c_custkey LIMIT 20""".stripMargin) {
      (s, dir) =>
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >=
            to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1997-04-01 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      val rev = q5Rev
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("c_nationkey"))
      val n = table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      l.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(rev).as("revenue_mcents"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("acctbal_cents"), col("n_name"), col("revenue_mcents"))
        .orderBy(col("revenue_mcents").desc, col("c_custkey").asc)
        .limit(20)
    },

    // X101 — TPC-H Q15 shape: top supplier — the classic
    // aggregate-then-argmax-against-your-own-max view. Same skeleton as
    // Q11/Q20's global gate: ONE quarter-filtered per-supplier rollup,
    // checkpointed for its two consumers (the 1-row max and the equality
    // probe), the max arriving as a broadcast crossJoin — the rollup is
    // never re-executed and never re-shuffled, and the supplier-name
    // decoration broadcasts after the cut (winner-sized). Ties (two
    // suppliers at the max) are all emitted, exactly as the spec's
    // view-equality form demands; revenue is exact integer milli-cents
    // so "equal to max" is a true integer equality in both engines.
    "q_tpch_q15" -> Q(
      """WITH r AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (1000 - CAST(round(l_discount * 1000) AS BIGINT)))
        |      AS BIGINT) AS total_rev_mcents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1),
        |m AS (SELECT CAST(max(total_rev_mcents) AS BIGINT) AS mx FROM r)
        |SELECT s_suppkey, s_name, total_rev_mcents
        |FROM r
        |JOIN supplier ON s_suppkey = l_suppkey
        |CROSS JOIN m
        |WHERE total_rev_mcents = mx""".stripMargin) { (s, dir) =>
      val rev = q5Rev
      val r = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
            to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-04-01 00:00:00")))
        .groupBy(col("l_suppkey"))
        .agg(sum(rev).as("total_rev_mcents"))
        // 2 consumers: the 1-row max and the equality probe
        .localCheckpoint(true)
      val m = r.agg(max("total_rev_mcents").as("mx"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))
      r.crossJoin(broadcast(m))
        .filter(col("total_rev_mcents") === col("mx"))
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_mcents"))
    },

    // X78 — exact rolling active users (DAU / trailing-7-day WAU /
    // stickiness): the engagement triple every product dashboard
    // leads with. Exact distinct-over-sliding-window without window
    // state: each (user, day) activity fact contributes to the 7
    // window-days it stays visible in (a map-side ×7 explode), and the
    // second (user, window-day) dedup makes the count exact — the
    // standard exact shape; at extreme scale the HLL sketch swaps in
    // (q_approx_distinct family) with the same contribution explode.
    // Stickiness DAU/WAU is the one mirrored ppm division.
    "q_rolling_actives" -> Q(
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS d FROM events),
        |w AS (SELECT DISTINCT user_id, d + o AS wd
        |  FROM ud, (SELECT unnest(generate_series(0, 6)) o) g),
        |dau AS (SELECT d, CAST(count(*) AS BIGINT) dau
        |  FROM ud GROUP BY 1),
        |wau AS (SELECT wd, CAST(count(*) AS BIGINT) wau
        |  FROM w GROUP BY 1)
        |SELECT dau.d AS day, dau, wau,
        |  CAST(round(1000000 * CAST(dau AS DOUBLE) / wau) AS BIGINT)
        |    AS stickiness_ppm
        |FROM dau JOIN wau ON wau.wd = dau.d""".stripMargin) { (s, dir) =>
      val ud = table(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("d"))
        .distinct()
        // 2 consumers: the DAU rollup and the window-day explode
        .localCheckpoint(true)
      val dau = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("d"), col("d") + 6)).as("wd"))
        .distinct()
        .groupBy("wd").agg(count(lit(1)).as("wau"))
        .select(col("wd"), col("wau"))
      dau.join(wau, col("wd") === col("d"))
        .select(col("d").as("day"), col("dau"), col("wau"),
          round(lit(1000000) * col("dau").cast("double") / col("wau"))
            .cast("long").as("stickiness_ppm"))
    },

    // Cohort retention: users bucketed by first-activity day, counted
    // per (cohort, day-offset) they return on — the classic retention
    // triangle. One user exchange serves the cohort window AND the
    // per-user-day dedup (key-superset clustering); only the final tiny
    // (cohort, offset) rollup re-shuffles.
    "q_retention" -> Q(
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 d
        |           FROM events),
        |c AS (SELECT user_id, min(d) cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, c.cohort, e.d - c.cohort offs
        |      FROM e JOIN c ON e.user_id = c.user_id)
        |SELECT cohort, offs, CAST(count(*) AS BIGINT) n_users
        |FROM a GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("d"))
      val wU = Window.partitionBy("user_id")
      e.withColumn("cohort", min("d").over(wU))
        .select(col("user_id"), col("cohort"),
          (col("d") - col("cohort")).as("offs"))
        .distinct()
        .groupBy("cohort", "offs")
        .agg(count(lit(1)).as("n_users"))
    },

    // X79 — cohort LTV curve (the revenue companion to q_retention's
    // activity triangle: cumulative purchase value per cohort by age,
    // and the per-user LTV a growth model fits against). Revenue exact
    // in integer millis; the cumulative ride is ONE cohort-partitioned
    // window over the (cohort × offset)-sized rollup (never the raw
    // events); cohort sizes join back as a broadcast (cohort-count-
    // sized); per-user LTV is the one mirrored division,
    // micro-value-quantized. Scale: one user-key exchange for cohorts,
    // one (cohort, offs) rollup, window over the tiny triangle.
    "q_ltv" -> Q(
      """WITH a AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d
        |           FROM events),
        |c AS (SELECT user_id, min(d) AS cohort FROM a GROUP BY 1),
        |cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
        |       FROM c GROUP BY 1),
        |p AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |    CAST(round(value * 1000) AS BIGINT) AS vm
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT c.cohort, p.d - c.cohort AS offs,
        |    CAST(sum(vm) AS BIGINT) AS rev_millis
        |  FROM p JOIN c ON c.user_id = p.user_id GROUP BY 1, 2),
        |w AS (SELECT cohort, offs, rev_millis,
        |    CAST(sum(rev_millis) OVER (PARTITION BY cohort ORDER BY offs
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_rev_millis
        |  FROM r)
        |SELECT w.cohort, offs, n_users, rev_millis, cum_rev_millis,
        |  CAST(round(1000 * CAST(cum_rev_millis AS DOUBLE) / n_users)
        |    AS BIGINT) AS ltv_micro_per_user
        |FROM w JOIN cs ON cs.cohort = w.cohort""".stripMargin) {
      (s, dir) =>
        val e = table(s, dir, "events")
        val a = e.select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("d"))
        val c = a.groupBy("user_id").agg(min("d").as("cohort"))
          // 2 consumers: the revenue join and the cohort-size rollup
          .localCheckpoint(true)
        val cs = c.groupBy("cohort").agg(count(lit(1)).as("n_users"))
          .select(col("cohort").as("cs_cohort"), col("n_users"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"),
            expr("(ts div 1000) div 86400000000").as("d"),
            round(col("value") * 1000).cast("long").as("vm"))
        val r = p.join(c, "user_id")
          .groupBy(col("cohort"), (col("d") - col("cohort")).as("offs"))
          .agg(sum("vm").as("rev_millis"))
        val cw = Window.partitionBy("cohort").orderBy("offs")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        r.withColumn("cum_rev_millis", sum("rev_millis").over(cw))
          .join(broadcast(cs), col("cs_cohort") === col("cohort"))
          .select(col("cohort"), col("offs"), col("n_users"),
            col("rev_millis"), col("cum_rev_millis"),
            round(lit(1000) * col("cum_rev_millis").cast("double") /
              col("n_users")).cast("long").as("ltv_micro_per_user"))
    },

    // X51 — experiment (A/B) analysis: deterministic 50/50 assignment by
    // user-id parity (a real deployment hashes the unit id the same
    // way), click-conversion rates per arm, and the 2×2 chi-square
    // independence statistic per day. The four cell counts are exact
    // integer sums in ONE partial-agg shuffle on the day key (the X50
    // sufficient-statistics pattern); the chi-square closed form
    // N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is computed in exact DECIMAL(38)
    // integers (BIGINT would overflow at ~10⁴ events/cell) and only the
    // final ratio touches doubles — mirrored promotion on both engines,
    // micro-quantized. Degenerate margins filtered by the same exact
    // test. Scale: output is day-count-sized; nothing grows with events.
    "q_ab_test" -> Q(
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    user_id % 2 = 1 AS treat, event_type = 'click' AS click
        |  FROM events),
        |s AS (SELECT day,
        |    CAST(sum(CASE WHEN treat AND click THEN 1 ELSE 0 END)
        |      AS BIGINT) a,
        |    CAST(sum(CASE WHEN treat AND NOT click THEN 1 ELSE 0 END)
        |      AS BIGINT) b,
        |    CAST(sum(CASE WHEN NOT treat AND click THEN 1 ELSE 0 END)
        |      AS BIGINT) c,
        |    CAST(sum(CASE WHEN NOT treat AND NOT click THEN 1 ELSE 0 END)
        |      AS BIGINT) d
        |  FROM e GROUP BY 1)
        |SELECT day, a + b AS n_treat, c + d AS n_ctrl,
        |  CAST(round(1000000 * a / (a + b)) AS BIGINT) AS p_treat_ppm,
        |  CAST(round(1000000 * c / (c + d)) AS BIGINT) AS p_ctrl_ppm,
        |  CAST(round(1000000 * CAST(CAST(a + b + c + d AS HUGEINT)
        |      * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
        |      * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
        |      AS DOUBLE)
        |    / CAST(CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
        |      AS DOUBLE)) AS BIGINT) AS chi2_micro
        |FROM s
        |WHERE a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0
        |""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val day = expr("(ts div 1000) div 86400000000")
      val treat = col("user_id") % 2 === 1
      val click = col("event_type") === "click"
      def cell(p: Column) =
        sum(when(p, 1L).otherwise(0L))
      val cells = ev.select(day.as("day"), treat.as("treat"),
          click.as("click"))
        .groupBy("day")
        .agg(cell(col("treat") && col("click")).as("a"),
          cell(col("treat") && !col("click")).as("b"),
          cell(!col("treat") && col("click")).as("c"),
          cell(!col("treat") && !col("click")).as("d"))
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val adbc = col("a").cast(dec) * col("d") - col("b").cast(dec) * col("c")
      val num = (col("a") + col("b") + col("c") + col("d")).cast(dec) *
        adbc * adbc
      val den = (col("a") + col("b")).cast(dec) * (col("c") + col("d")) *
        (col("a") + col("c")) * (col("b") + col("d"))
      cells
        .filter(col("a") + col("b") > 0 && col("c") + col("d") > 0 &&
          col("a") + col("c") > 0 && col("b") + col("d") > 0)
        .select(col("day"),
          (col("a") + col("b")).as("n_treat"),
          (col("c") + col("d")).as("n_ctrl"),
          round(lit(1000000) * col("a") / (col("a") + col("b")))
            .cast("long").as("p_treat_ppm"),
          round(lit(1000000) * col("c") / (col("c") + col("d")))
            .cast("long").as("p_ctrl_ppm"),
          round(lit(1000000) * num.cast("double") / den.cast("double"))
            .cast("long").as("chi2_micro"))
    },

    // X71 — Welch's unequal-variance t-test per event series: does the
    // treatment arm (the q_ab_test unit-parity assignment) move the
    // CONTINUOUS `value` metric? The q_ab_test chi-square covers the
    // binary-outcome half of experiment analysis; this is the
    // continuous-metric half a real experimentation stack pairs with
    // it. Six sufficient statistics per series (n, Σx, Σx² per arm,
    // values in exact integer millis) land in ONE partial-agg shuffle
    // on the series key; t and the Welch–Satterthwaite degrees of
    // freedom derive from those exact integers with mirrored double
    // promotion (n·q and s² exceed BIGINT at this value scale, so the
    // closed form promotes FIRST — the q_corr_exact discipline),
    // micro-quantized. Degenerate arms (n ≤ 1, zero pooled variance)
    // are filtered by the same exact test on both engines. Scale:
    // output is series-count-sized; nothing downstream grows with
    // events.
    "q_welch" -> Q(
      """WITH e AS (SELECT event_type,
        |    user_id % 2 = 1 AS treat,
        |    CAST(round(value * 1000) AS BIGINT) AS x
        |  FROM events),
        |s AS (SELECT event_type,
        |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) n1,
        |    CAST(sum(CASE WHEN treat THEN x ELSE 0 END) AS BIGINT) s1,
        |    CAST(sum(CASE WHEN treat THEN x * x ELSE 0 END) AS BIGINT) q1,
        |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) n0,
        |    CAST(sum(CASE WHEN NOT treat THEN x ELSE 0 END) AS BIGINT) s0,
        |    CAST(sum(CASE WHEN NOT treat THEN x * x ELSE 0 END)
        |      AS BIGINT) q0
        |  FROM e GROUP BY 1),
        |w AS (SELECT event_type, n1, n0, s1, s0,
        |    (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
        |      / (CAST(n1 AS DOUBLE) * (n1 - 1) * n1) AS a1,
        |    (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)
        |      / (CAST(n0 AS DOUBLE) * (n0 - 1) * n0) AS a0
        |  FROM s WHERE n1 > 1 AND n0 > 1)
        |SELECT event_type, n1, n0,
        |  CAST(round(1000000 * (CAST(s1 AS DOUBLE) / n1
        |    - CAST(s0 AS DOUBLE) / n0)) AS BIGINT) AS dmean_nano,
        |  CAST(round(1000000 * (CAST(s1 AS DOUBLE) / n1
        |      - CAST(s0 AS DOUBLE) / n0) / sqrt(a1 + a0)) AS BIGINT)
        |    AS t_micro,
        |  CAST(round(1000000 * (a1 + a0) * (a1 + a0)
        |      / (a1 * a1 / (n1 - 1) + a0 * a0 / (n0 - 1))) AS BIGINT)
        |    AS df_micro
        |FROM w WHERE a1 + a0 > 0""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val x = round(col("value") * 1000).cast("long")
      val treat = col("user_id") % 2 === 1
      def arm(p: Column,
              v: Column) =
        sum(when(p, v).otherwise(0L))
      val sums = ev.select(col("event_type"), treat.as("treat"), x.as("x"))
        .groupBy("event_type")
        .agg(arm(col("treat"), lit(1L)).as("n1"),
          arm(col("treat"), col("x")).as("s1"),
          arm(col("treat"), col("x") * col("x")).as("q1"),
          arm(!col("treat"), lit(1L)).as("n0"),
          arm(!col("treat"), col("x")).as("s0"),
          arm(!col("treat"), col("x") * col("x")).as("q0"))
      def aVar(n: String, ss: String, q: String) = {
        val nD = col(n).cast("double")
        (nD * col(q) - col(ss).cast("double") * col(ss)) /
          (nD * (col(n) - 1) * col(n))
      }
      val dm = col("s1").cast("double") / col("n1") -
        col("s0").cast("double") / col("n0")
      sums
        .filter(col("n1") > 1 && col("n0") > 1)
        .withColumn("a1", aVar("n1", "s1", "q1"))
        .withColumn("a0", aVar("n0", "s0", "q0"))
        .filter(col("a1") + col("a0") > 0)
        .select(col("event_type"), col("n1"), col("n0"),
          round(lit(1000000) * dm).cast("long").as("dmean_nano"),
          round(lit(1000000) * dm / sqrt(col("a1") + col("a0")))
            .cast("long").as("t_micro"),
          round(lit(1000000) * (col("a1") + col("a0")) *
              (col("a1") + col("a0")) /
              (col("a1") * col("a1") / (col("n1") - 1) +
                col("a0") * col("a0") / (col("n0") - 1)))
            .cast("long").as("df_micro"))
    },

    // X83 — Kruskal–Wallis H rank test per event series (the k-group
    // nonparametric ANOVA — the q_welch companion when normality can't
    // be assumed; three deterministic arms from user parity mod 3).
    // The float hazard is engineered out the q_spearman way: the
    // tie-averaged rank is kept EXACT by doubling (2·r̄ = 2·rank() +
    // tie_cnt − 1 is an integer), so each arm's rank sum and the tie
    // term Σ(t³−t) = Σ_rows(cnt²−1) are order-free BIGINT sums; the
    // closed form (H over the tie correction) is ONE mirrored double
    // promotion from six integers, micro-quantized. Both windows
    // cluster by the series key, so they share ONE exchange
    // (HashPartitioning(series) satisfies the (series, x) clustering);
    // the rest is a (series × 3)-sized pivot. BIGINT-safe to ~10⁹ rows
    // per series (s2² < 2⁶³); beyond: DECIMAL(38), the X51 pattern.
    "q_kruskal" -> Q(
      """WITH e AS (SELECT event_type, user_id % 3 AS arm,
        |    CAST(round(value * 1000) AS BIGINT) AS x
        |  FROM events),
        |r AS (SELECT event_type, arm,
        |    CAST(rank() OVER (PARTITION BY event_type ORDER BY x)
        |      AS BIGINT) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY event_type, x)
        |      AS BIGINT) AS cnt
        |  FROM e),
        |a AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(2 * rnk + cnt - 1) AS BIGINT) AS s2,
        |    CAST(sum(cnt * cnt - 1) AS BIGINT) AS tt
        |  FROM r GROUP BY 1, 2),
        |p AS (SELECT event_type,
        |    CAST(max(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
        |    CAST(max(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
        |    CAST(max(CASE WHEN arm = 2 THEN n END) AS BIGINT) AS n2,
        |    CAST(max(CASE WHEN arm = 0 THEN s2 END) AS BIGINT) AS s20,
        |    CAST(max(CASE WHEN arm = 1 THEN s2 END) AS BIGINT) AS s21,
        |    CAST(max(CASE WHEN arm = 2 THEN s2 END) AS BIGINT) AS s22,
        |    CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(tt) AS BIGINT) AS tsum
        |  FROM a GROUP BY 1)
        |SELECT event_type, n0, n1, n2, tsum,
        |  CAST(round(1000000 * ((3.0 / (CAST(nn AS DOUBLE) * (nn + 1))
        |      * (CAST(s20 AS DOUBLE) * s20 / n0
        |        + CAST(s21 AS DOUBLE) * s21 / n1
        |        + CAST(s22 AS DOUBLE) * s22 / n2)
        |      - 3.0 * (nn + 1))
        |    / (1.0 - CAST(tsum AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) * nn * nn - nn)))) AS BIGINT)
        |    AS h_micro
        |FROM p
        |WHERE n0 > 0 AND n1 > 0 AND n2 > 0
        |  AND tsum < nn * nn * nn - nn""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("event_type"),
          (col("user_id") % 3).cast("long").as("arm"),
          round(col("value") * 1000).cast("long").as("x"))
      val wR = Window.partitionBy("event_type").orderBy("x")
      val wC = Window.partitionBy("event_type", "x")
      val r = e
        .withColumn("rnk", rank().over(wR).cast("long"))
        .withColumn("cnt", count(lit(1)).over(wC))
      val a = r.groupBy("event_type", "arm")
        .agg(count(lit(1)).as("n"),
          sum(lit(2) * col("rnk") + col("cnt") - 1).as("s2"),
          sum(col("cnt") * col("cnt") - 1).as("tt"))
      def pick(i: Int, c: String) =
        max(when(col("arm") === i, col(c)))
      val p = a.groupBy("event_type")
        .agg(pick(0, "n").as("n0"), pick(1, "n").as("n1"),
          pick(2, "n").as("n2"), pick(0, "s2").as("s20"),
          pick(1, "s2").as("s21"), pick(2, "s2").as("s22"),
          sum("n").as("nn"), sum("tt").as("tsum"))
      val nD = col("nn").cast("double")
      def sq(s2c: String, nc: String) =
        col(s2c).cast("double") * col(s2c) / col(nc)
      val h = lit(3.0) / (nD * (col("nn") + 1)) *
        (sq("s20", "n0") + sq("s21", "n1") + sq("s22", "n2")) -
        lit(3.0) * (col("nn") + 1)
      val corr = lit(1.0) - col("tsum").cast("double") /
        (nD * col("nn") * col("nn") - col("nn"))
      p.filter(col("n0") > 0 && col("n1") > 0 && col("n2") > 0 &&
          col("tsum") < col("nn") * col("nn") * col("nn") - col("nn"))
        .select(col("event_type"), col("n0"), col("n1"), col("n2"),
          col("tsum"),
          round(lit(1000000) * (h / corr)).cast("long").as("h_micro"))
    },

    // X88 — sample-ratio-mismatch detection (the experiment-platform
    // sanity gate that runs BEFORE q_ab_test/q_welch are believed: a
    // 50/50 assignment whose realized unit counts are skewed means the
    // bucketing is broken and every downstream stat is invalid). Per
    // day, the assigned UNITS (distinct active users, not events) per
    // arm; the 2-cell equal-expected chi-square collapses to
    // (n1−n0)²/(n1+n0) — EXACT integer with the micro scaling as
    // integer division, no doubles anywhere; flagged at the χ²(1) 5%
    // critical value. One (day, user) dedup shuffle + a day rollup.
    "q_srm" -> Q(
      """WITH u AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |    user_id
        |  FROM events),
        |c AS (SELECT day,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) n1,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) n0
        |  FROM u GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day, n1, n0,
        |  (1000000 * (n1 - n0) * (n1 - n0)) // (n1 + n0) AS srm_micro,
        |  CAST(CASE WHEN (1000000 * (n1 - n0) * (n1 - n0))
        |      // (n1 + n0) > 3841459 THEN 1 ELSE 0 END AS BIGINT)
        |    AS srm_flag
        |FROM c WHERE n1 + n0 > 0""".stripMargin) { (s, dir) =>
      val u = table(s, dir, "events")
        .select(expr("(ts div 1000) div 86400000000").as("day"),
          col("user_id"))
        .distinct()
      val c = u.groupBy("day")
        .agg(sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L))
            .as("n1"),
          sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L))
            .as("n0"))
      val srm = expr(
        "(1000000 * (n1 - n0) * (n1 - n0)) div (n1 + n0)")
      c.filter(col("n1") + col("n0") > 0)
        .select(col("day"), col("n1"), col("n0"),
          srm.as("srm_micro"),
          when(srm > 3841459L, 1L).otherwise(0L).as("srm_flag"))
    },

    // X89 — CUPED variance reduction (Deng et al. 2013 — the
    // experimentation-platform staple next to X51's chi-square and
    // X71's t-test): each user's pre-period activity is the covariate,
    // θ = cov(pre, post)/var(pre) fitted GLOBALLY, and each arm reports
    // its adjusted mean post − θ·(pre − global pre mean). The period
    // cut is the corpus's own day midpoint (a 1-row broadcast of
    // integer min/max — the q_calibration observed-range shape); user
    // sums are exact integer millis; the five sufficient statistics
    // (n, Σx, Σy, Σxx, Σxy) are order-free BIGINT sums (safe to ~5e7
    // millis/user × 1.5k users; beyond: DECIMAL(38), X51 pattern); θ
    // and the adjusted means derive with mirrored double promotion
    // (the q_welch/q_corr_exact discipline), micro-quantized. The
    // degenerate var(pre) ≤ 0 case is filtered by the same mirrored
    // test on both engines.
    "q_cuped" -> Q(
      """WITH bounds AS (SELECT
        |    (min(epoch_us(ts) // 86400000000)
        |      + max(epoch_us(ts) // 86400000000)) // 2 AS cut
        |  FROM events),
        |e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 1000) AS BIGINT) x
        |  FROM events),
        |u AS (SELECT user_id, user_id % 2 AS arm,
        |    CAST(sum(CASE WHEN day < cut THEN x ELSE 0 END)
        |      AS BIGINT) pre,
        |    CAST(sum(CASE WHEN day >= cut THEN x ELSE 0 END)
        |      AS BIGINT) post
        |  FROM e, bounds GROUP BY 1, 2),
        |g AS (SELECT CAST(count(*) AS BIGINT) n,
        |    CAST(sum(pre) AS BIGINT) sx, CAST(sum(post) AS BIGINT) sy,
        |    CAST(sum(pre * pre) AS BIGINT) sxx,
        |    CAST(sum(pre * post) AS BIGINT) sxy
        |  FROM u),
        |a AS (SELECT arm, CAST(count(*) AS BIGINT) n_a,
        |    CAST(sum(pre) AS BIGINT) sx_a,
        |    CAST(sum(post) AS BIGINT) sy_a
        |  FROM u GROUP BY 1)
        |SELECT arm, n_a,
        |  CAST(round(1000000 * (CAST(sy_a AS DOUBLE) / n_a)) AS BIGINT)
        |    AS mean_post_micro,
        |  CAST(round(1000000 * ((CAST(n AS DOUBLE) * sxy
        |      - CAST(sx AS DOUBLE) * sy)
        |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)))
        |    AS BIGINT) AS theta_micro,
        |  CAST(round(1000000 * (CAST(sy_a AS DOUBLE) / n_a
        |    - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      * (CAST(sx_a AS DOUBLE) / n_a - CAST(sx AS DOUBLE) / n)))
        |    AS BIGINT) AS adj_mean_micro
        |FROM a, g
        |WHERE CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
        |  AND n_a > 0""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val bounds = ev
        .selectExpr("(ts div 1000) div 86400000000 AS d")
        .agg(expr("(min(d) + max(d)) div 2").as("cut"))
      val e = ev.select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"),
        round(col("value") * 1000).cast("long").as("x"))
      val u = e.crossJoin(broadcast(bounds))
        .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
        .agg(sum(when(col("day") < col("cut"), col("x")).otherwise(0L))
            .as("pre"),
          sum(when(col("day") >= col("cut"), col("x")).otherwise(0L))
            .as("post"))
        // 2 consumers: the global moments and the per-arm sums
        .localCheckpoint(true)
      val g = u.agg(count(lit(1)).as("n"), sum("pre").as("sx"),
        sum("post").as("sy"), sum(col("pre") * col("pre")).as("sxx"),
        sum(col("pre") * col("post")).as("sxy"))
      val a = u.groupBy("arm").agg(count(lit(1)).as("n_a"),
        sum("pre").as("sx_a"), sum("post").as("sy_a"))
      val nD = col("n").cast("double")
      val varPre = nD * col("sxx") -
        col("sx").cast("double") * col("sx")
      val theta = (nD * col("sxy") -
        col("sx").cast("double") * col("sy")) / varPre
      val meanPost = col("sy_a").cast("double") / col("n_a")
      val adj = meanPost - theta *
        (col("sx_a").cast("double") / col("n_a") -
          col("sx").cast("double") / col("n"))
      a.crossJoin(broadcast(g))
        .filter(varPre > 0 && col("n_a") > 0)
        .select(col("arm"), col("n_a"),
          round(lit(1000000) * meanPost).cast("long")
            .as("mean_post_micro"),
          round(lit(1000000) * theta).cast("long").as("theta_micro"),
          round(lit(1000000) * adj).cast("long").as("adj_mean_micro"))
    },

    // Dual-rule sessionization: 12h gap AND a 24h max-duration cap (the
    // GA4-style pair) — 426 of 3292 gap sessions at sf0.01 exceed the cap
    // and split. Whole computation rides the one per-key exchange.
    "q_sessionize_capped" -> Q(
      s"""WITH ${duckSessions("sid")},
        |st AS (SELECT user_id, event_id, tsu, sid,
        |  tsu - min(tsu) OVER (PARTITION BY user_id, sid) offs
        |  FROM sess),
        |p AS (SELECT user_id, event_id, tsu, sid,
        |  (offs - offs % 86400000000) // 86400000000 pid FROM st)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
        |  CAST(pid AS BIGINT) AS part_idx,
        |$duckSessionStats
        |FROM p GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
      Sessionize.capped(e, "user_id", "ts_us", "event_id",
        gap = 43_200_000_000L, cap = 86_400_000_000L)
    },

    // As-of with staleness tolerance: a matched view older than 10
    // minutes is withheld (NULL match + NULL gap), every click still
    // appears — the "quote too stale to price the trade" rule. Same
    // single-shuffle asof plan; tolerance is a post-window predicate.
    "q_asof_tolerance" -> Q(
      s"""WITH $duckClickViews,
        |m AS (SELECT c.cid AS click_id, c.user_id, c.tsu AS ts,
        |  v.vid AS view_id, c.tsu - v.tsu AS gap
        |  FROM c ASOF LEFT JOIN v
        |    ON c.user_id = v.user_id AND c.tsu >= v.tsu)
        |SELECT click_id, user_id, ts,
        |  CASE WHEN gap <= 600000000 THEN view_id END AS view_id,
        |  CASE WHEN gap <= 600000000 THEN gap END AS gap
        |FROM m""".stripMargin) { (s, dir) =>
      val (clicks, views) = clickViewEvents(s, dir)
      TimeJoins.asofTolerance(clicks, views, "user_id", "tsu",
          "click_id", "view_id", tolerance = 600000000L)
        .withColumnRenamed("tsu", "ts")
    },

    // Range join: event pairs of the same user within a 1-hour window,
    // via the bin-join shape (equi on (user, time-bin), exact predicate
    // inside the bucket). Oracle is the plain non-equi join.
    "q_range_join" -> Q(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) tsu FROM events)
        |SELECT a.user_id, a.event_id idA, b.event_id idB,
        |  b.tsu - a.tsu AS gap
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id
        |  AND b.tsu > a.tsu AND b.tsu - a.tsu <= 3600000000""".stripMargin) {
      (s, dir) =>
        val e = table(s, dir, "events")
          .withColumn("tsu", expr("ts div 1000"))
          .select(col("user_id"), col("tsu"), col("event_id"))
        TimeJoins.rangeBinned(e, e, "user_id", "tsu", "event_id",
          range = 3_600_000_000L)
    },

    // Gap-based sessionization over events (12h inactivity gap) in exact
    // integer MICROseconds — ns truncated identically on both engines
    // (DuckDB surfaces the ns parquet at µs; Spark keeps the long, so the
    // query floors ns→µs with `div`).
    "q_sessionize" -> Q(
      s"""WITH ${duckSessions("session_idx")}
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |$duckSessionStats
        |FROM sess GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
      Sessionize(e, "user_id", "ts_us", "event_id",
        gap = 43_200_000_000L)
    },

    // §2.10 — the streaming windowed-aggregation surface, exercised through
    // its batch twin (identical window expression; watermark is a no-op in
    // batch). Epoch-aligned 5-minute tumbling windows per event_type.
    "q_stream_window" -> Q(duckWindowCounts) { (s, dir) =>
      graft.streaming.StreamingPipeline.windowedEventCountsBatch(s, dir)
    },

    // X12s — the watermark surface as a REAL streamed run with the
    // production sink: time-sliced staging, watermarked tumbling-window
    // counts in UPDATE mode, per-batch merge into the partitioned sink
    // table. Windows the advancing watermark evicts from the state
    // store keep their final value in the sink, so the drained table
    // is complete and hash-matches q_stream_window's byte-identical
    // batch oracle — bounded state AND a lossless result in one entry.
    "q_stream_window_update" -> Q(duckWindowCounts) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamWindowUpdate(s, dir)
    },

    // §2.10 — a REAL Structured Streaming run in the gate (not a batch
    // twin): documents re-read as a file-source stream, exact-dedup as a
    // stateful complete-mode aggregation (RocksDB state) drained with
    // AvailableNow into a memory sink, then hash-matched against the
    // batch oracle — min/count are commutative over micro-batches, so
    // streaming and batch must agree bit-for-bit.
    "q_stream_dedup" -> Q(duckDigestCopies) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamDedupComplete(s, dir)
    },

    // X12p — the UPDATE-mode twin of q_stream_dedup: identical
    // aggregation, but each micro-batch emits only the digests that
    // changed and foreachBatch MERGEs them into a digest-prefix-
    // partitioned parquet sink table (dynamic partition overwrite) —
    // the shape that scales past driver memory, certified equivalent by
    // hash-matching the BYTE-IDENTICAL batch oracle.
    "q_stream_dedup_update" -> Q(duckDigestCopies) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamDedupUpdate(s, dir)
    },

    // X12u — stream-static enrichment join (the dimension-tagging shape
    // every production event pipeline runs before aggregating): staged
    // event stream joined per micro-batch to a static broadcast
    // customer→nation dimension, counts per (nation, event_type).
    // Stateless join — no watermark, no state store — which is why this
    // shape scales where stream-stream joins need horizons; the batch
    // oracle replays the identical join, certifying the inner-join
    // drop-set of customer-less user_ids too.
    "q_stream_enrich" -> Q(
      """SELECT n_name, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(event_id) AS BIGINT) AS first_event_id,
        |  CAST(max(event_id) AS BIGINT) AS last_event_id
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamEnrich(s, dir)
    },

    // X12v — stateful SEQUENTIAL pattern counting as a REAL gate drain:
    // the streaming form of q_transitions. A lead() window cannot see
    // across micro-batches, so the previous event lives in keyed state
    // (flatMapGroupsWithState: last (tsu, event_id, type) per user);
    // each trigger bridges from the stored tail, emits its transition
    // FACTS into an append-only parquet sink (foreachBatch — the
    // fact-table production shape, vs the update-merge sinks' replace-
    // by-key), and the final rollup hash-matches the single-pass batch
    // lead() oracle exactly — certifying that the state bridges every
    // trigger boundary. Time-ordered arrival across triggers comes from
    // the events8range staging (the X12s mtime lesson).
    "q_stream_transitions" -> Q(duckTransitions) {
      (s, dir) =>
        graft.streaming.StreamingPipeline.streamTransitions(s, dir)
    },

    // X12x — the streaming ordered funnel: the q_funnel signup→click→
    // purchase state machine tracked per user in keyed state across
    // micro-batches (greedy time-ordered folding — provably equal to
    // the batch min-CASE chain because arrival is event-time-ordered
    // and every qualifying condition is strict in tsu), each trigger
    // merging changed users into the sink table, then the three-step
    // rollup. The oracle is q_funnel's SQL verbatim — one hash proves
    // the state machine bridges every trigger boundary.
    "q_stream_funnel" -> Q(duckFunnel) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamFunnel(s, dir)
    },

    // X12z — streaming point-in-time enrichment: the q_asof_join
    // semantics served per micro-batch against the static view history
    // (the feature-store serving join — "the latest feature value as
    // of this event's timestamp"). TimeJoins.asof runs with batch
    // semantics inside foreachBatch; correct under any trigger split
    // because an as-of match is per-left-row independent. Oracle =
    // q_asof_join's SQL verbatim — one hash proves no click is lost,
    // duplicated, or mismatched across ≥4 triggers.
    "q_stream_asof" -> Q(duckAsofJoin) {
      (s, dir) =>
        graft.streaming.StreamingPipeline.streamAsof(s, dir)
    },

    // X12h — transformWithState (Spark 4's arbitrary-state v2 API) as a
    // REAL gate drain: a typed-ValueState cumulative per-user counter in
    // UPDATE mode, each batch's touched users merged into the sink table;
    // the final table is the exact per-user total and hash-matches the
    // trivial batch oracle.
    "q_stream_tws" -> Q(
      """SELECT user_id, CAST(count(*) AS BIGINT) AS total_events
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamUserCountsTws(s, dir)
    },

    // X12e — the stream-stream interval join as a REAL gate drain:
    // clicks joined to same-user views within the hour before them, two
    // watermarked branches of ONE staged file-source stream,
    // horizon-bounded join state, append-mode production merge sink. The oracle is the plain batch interval
    // join in exact integer µs — every pair must emit exactly once.
    "q_stream_interval_join" -> Q(
      s"""WITH $duckClickViewTimes
        |SELECT c.user_id, CAST(click_id AS BIGINT) AS click_id,
        |  CAST(view_id AS BIGINT) AS view_id
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND vt <= ct AND vt >= ct - 3600000000""".stripMargin) {
      (s, dir) =>
        graft.streaming.StreamingPipeline.streamIntervalJoin(s, dir)
    },

    // X12j — the left-outer form: every click emits, null view_id when
    // no view exists in the horizon (the unattributed-conversion row an
    // inner join drops). Outer rows may only emit once the watermark
    // proves finality, so this runs over the sentinel staging — the
    // heartbeat drives BOTH branches' watermarks past the tail.
    "q_stream_interval_join_outer" -> Q(
      s"""WITH $duckClickViewTimes
        |SELECT c.user_id, CAST(click_id AS BIGINT) AS click_id,
        |  CAST(view_id AS BIGINT) AS view_id
        |FROM c LEFT JOIN v ON c.user_id = v.user_id
        |  AND vt <= ct AND vt >= ct - 3600000000""".stripMargin) {
      (s, dir) =>
        graft.streaming.StreamingPipeline.streamIntervalJoinOuter(s, dir)
    },

    // §2.10 — the reference's product loop (a continuously-maintained
    // ranked leaderboard) as a REAL streaming run: word frequencies as
    // complete-mode state across >= 4 micro-batches with the global
    // top-K sort+limit INSIDE the streaming query; (cnt desc, word asc)
    // tie-break makes the emitted set deterministic and hash-matchable.
    "q_stream_topk" -> Q(duckTopWords) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamTopKWords(s, dir)
    },

    // X12q — the UPDATE-mode twin of q_stream_topk: word-frequency
    // state merged per-batch into the partitioned sink table; the top-K
    // cut is a READ over the state (the production leaderboard split —
    // change-sized state maintenance, any reader cuts its own K), not a
    // per-trigger re-sort of the whole state. Oracle byte-identical to
    // q_stream_topk's.
    "q_stream_topk_update" -> Q(duckTopWords) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamTopKUpdate(s, dir)
    },

    // §2.10 — a REAL streaming session-window run in the gate: events
    // staged as 8 time-range slices, >= 4 micro-batches, native
    // session_window state merged across batches (a session crossing a
    // slice boundary merges in the state store), complete-mode drain.
    // The oracle replays gap-sessionization with session_window's
    // boundary rule — which IS the batch Sessionize rule: a pair exactly
    // gap apart merges (window [t, t+gap] is end-inclusive for merging;
    // StreamingSpec pins this). Keyed by session_start so the output is
    // stable without a per-user running index.
    "q_stream_sessionize" -> Q(duckStreamSessions) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamSessionizeComplete(s, dir)
    },

    // X12t — the session-window surface with the production sink
    // (completes the twin set across all five streaming surfaces).
    // Session windows support only append/complete output, so this is
    // APPEND mode: each session emitted exactly once when the
    // watermark finalizes it, the sink merge a pure keyed append, and
    // a watermark-heartbeat sentinel flushes the tail (see
    // streamSessionizeAppend's scaladoc). Oracle byte-identical to
    // q_stream_sessionize's.
    "q_stream_sessionize_append" -> Q(duckStreamSessions) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamSessionizeAppend(s, dir)
    },

    // §2.11.5/S1 — the reference's ACTUAL operational loop as a declared
    // hash-checked entry (README.md:81-91: hourly log files, a cumulative
    // frequency state, one incremental merge per run): documents.text is
    // laid out as 24 "hourly" text files (IncrFixture — built once per
    // JVM, overwritten not leaked, deleted on exit; only existing h=
    // partitions are read so sparse doc_id residues can't 404), read back
    // through the glob/list source, and `Pipeline.incrementalRun` executes
    // TWICE from empty state — the oracle certifies the merged state
    // carries exactly 2x the batch counts (the re-sum semantics of J1,
    // not an overwrite).
    "q_pipeline_incremental" -> Q(
      """WITH norm AS (
        |  SELECT lower(trim(regexp_replace(text, '[\r\n]+', ' ', 'g')))
        |    AS query
        |  FROM documents
        |  WHERE length(trim(regexp_replace(text, '[\r\n]+', ' ', 'g'))) >= 2)
        |SELECT prefix, query, CAST(count(*) * 2 AS BIGINT) AS frequency
        |FROM (
        |  SELECT substr(query, 1, l) AS prefix, query FROM norm,
        |  LATERAL (SELECT unnest(generate_series(2,
        |    least(length(query), 60))) AS l) ls)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // the 24-file list form of the source — the glob/list reader the
      // reference documents but never shipped (SURVEY §2.11.5)
      val lines = graft.io.Sources.textLines(s, IncrFixture.paths(s, dir): _*)
      val run1 =
        graft.Pipeline.incrementalRun(lines, graft.Pipeline.emptyState(s))
      graft.Pipeline.incrementalRun(lines, run1.state).state
    },

    // S5/§2.11.4 — nested design-doc completions shape:
    // [{"query":...,"frequency":...}] in rank order (JsonPack.nested).
    "q_nested" -> Q(
      s"""WITH ${CoreQueries.duckPrefixRanked}
        |SELECT prefix,
        |  to_json(list(struct_pack(query := query, frequency := frequency)
        |    ORDER BY rnk)) AS completions
        |FROM ranked WHERE rnk <= 5 GROUP BY prefix""".stripMargin) {
      (s, dir) =>
        val lines = table(s, dir, "documents").select(col("text").as("value"))
        val counts = graft.Pipeline.batchCounts(lines)
        val ranked = TopK(counts, Seq("prefix"), counts("frequency"),
          Seq(counts("query")), 5)
        JsonPack.nested(ranked, "prefix", "rnk", "query", "frequency")
    },
  )
}
