package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Temporal-warehouse tier: slowly-changing-dimension (SCD type 2)
  * construction and time-grid resampling with gap fill — the two
  * change-tracking shapes every feature/metrics pipeline needs next to
  * as-of joins and sessionization (AnalyticsQueries).
  *
  * Time discipline (the q_sessionize precedent): `events.ts` is a long of
  * ns since epoch (nanosAsLong); both engines take ns→µs identically
  * (`ts div 1000` / `epoch_us`) and all intervals stay exact integer
  * microseconds. Wider bucketing must truncate toward zero on BOTH
  * engines: Spark `div` truncates while DuckDB `//` floors, so the
  * oracle uses the remainder form `(a - a % b) // b` (≡ trunc division
  * for any sign) wherever Spark uses `div`.
  * Money-ish doubles are floored to integer micros BEFORE any sum
  * (`floor(value·1e6)` is deterministic on identical input bits; long
  * sums are order-independent), so every output cell is hash-comparable.
  */
object TemporalQueries {

  // Per-(event_type, day) event counts `e(event_type, day, $n)`.
  private def duckDailyCounts(n: String) =
    s"""e AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(count(*) AS BIGINT) $n
      |  FROM events GROUP BY 1, 2)""".stripMargin

  // Spark side of duckDailyCounts.
  private def dailyCounts(s: SparkSession, dir: String,
                          n: String): DataFrame =
    table(s, dir, "events")
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as(n))

  val all: Map[String, Q] = Map(

    // X52 — trailing-window z-score anomaly detection (the metrics-ops
    // operator: "is today's count out of band vs the last week?"). The
    // daily counts are one partial-agg shuffle; the trailing stats ride
    // ONE window pass per series with exact BIGINT sums (n, Σ, Σx²) over
    // ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING — the current day is
    // excluded so an anomaly can't mask itself. The z-score is the
    // integer-moment identity z = (n·x − S)/√(n·Σx² − S²): numerator and
    // radicand are exact integers, sqrt is IEEE-correctly-rounded on
    // both engines, one mirrored double division, micro-quantized.
    // Degenerate windows (n < 3 or zero variance) filtered by the same
    // exact test. Scale: everything after the count agg is
    // series×days-sized.
    "q_anomaly" -> Q(
      s"""WITH ${duckDailyCounts("cnt")},
        |w AS (
        |  SELECT event_type, day, cnt,
        |    CAST(count(cnt) OVER tw AS BIGINT) n,
        |    CAST(coalesce(sum(cnt) OVER tw, 0) AS BIGINT) s,
        |    CAST(coalesce(sum(cnt * cnt) OVER tw, 0) AS BIGINT) sxx
        |  FROM e WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, day, cnt,
        |    CAST(round(1000000 * (n * cnt - s)
        |      / sqrt(CAST(n * sxx - s * s AS DOUBLE))) AS BIGINT) z_micro
        |  FROM w WHERE n >= 3 AND n * sxx - s * s > 0)
        |SELECT event_type, day, cnt, z_micro,
        |  CAST(CASE WHEN abs(z_micro) > 3000000 THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_anomaly
        |FROM z""".stripMargin) { (s, dir) =>
      val counts = dailyCounts(s, dir, "cnt")
      val tw = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      val stats = counts
        .withColumn("n", count("cnt").over(tw))
        .withColumn("s", coalesce(sum("cnt").over(tw), lit(0L)))
        .withColumn("sxx",
          coalesce(sum(col("cnt") * col("cnt")).over(tw), lit(0L)))
      val rad = col("n") * col("sxx") - col("s") * col("s")
      stats
        .filter(col("n") >= 3 && rad > 0)
        .withColumn("z_micro",
          round(lit(1000000) * (col("n") * col("cnt") - col("s"))
            / sqrt(rad.cast("double"))).cast("long"))
        .select(col("event_type"), col("day"), col("cnt"), col("z_micro"),
          when(abs(col("z_micro")) > 3000000, 1L).otherwise(0L)
            .as("is_anomaly"))
    },

    // X56 — Kaplan–Meier time-to-conversion survival analysis (the
    // censoring-aware funnel companion: "how long until a session
    // converts, counting sessions that never did?"). Subject = a
    // (user, day) session; duration = hours from the session's first
    // event to its first purchase (event) or to its last event
    // (right-censored). The classic KM table per event time t: n_risk
    // (duration ≥ t — censored-at-t subjects still at risk, the
    // standard tie convention), d_t events, c_t censorings. Exactness:
    // the product-limit estimator is computed in LOG space — each
    // step's ln(n/(n−d)) is quantized to integer micro units (the
    // q_surprisal discipline), the cumulative hazard is an integer
    // running sum, and only the final exp is a mirrored double. The
    // absorbing step n_risk = d_t (ln diverges) pins S to 0 from there
    // on by the same exact integer test on both engines. Scale: after
    // the ONE (user, day) session shuffle everything is
    // duration-support-sized (≤ hours-per-day distinct values), so the
    // two unpartitioned windows run over a provably tiny table — the
    // honest plan, not a scaling hazard.
    "q_survival" -> Q(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |    epoch_us(ts) // 3600000000 AS h, event_type
        |  FROM events),
        |u AS (
        |  SELECT user_id, d, min(h) f, max(h) l,
        |    min(CASE WHEN event_type = 'purchase' THEN h END) p
        |  FROM e GROUP BY 1, 2),
        |s AS (
        |  SELECT CASE WHEN p IS NOT NULL THEN p - f ELSE l - f END t,
        |    CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END ev
        |  FROM u),
        |g AS (SELECT t, CAST(count(*) AS BIGINT) n_tot,
        |    CAST(sum(ev) AS BIGINT) d_t
        |  FROM s GROUP BY 1),
        |r AS (
        |  SELECT t, d_t, n_tot - d_t AS c_t,
        |    CAST(sum(n_tot) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) n_risk
        |  FROM g),
        |z AS (
        |  SELECT t, d_t, c_t, n_risk,
        |    CASE WHEN d_t > 0 AND n_risk > d_t
        |      THEN CAST(round(1000000 * ln(CAST(n_risk AS DOUBLE)
        |        / CAST(n_risk - d_t AS DOUBLE))) AS BIGINT)
        |      ELSE 0 END hz,
        |    CASE WHEN d_t > 0 AND n_risk = d_t THEN 1 ELSE 0 END dead
        |  FROM r),
        |c AS (
        |  SELECT t, d_t, c_t, n_risk,
        |    CAST(sum(hz) OVER tw AS BIGINT) h_micro,
        |    max(dead) OVER tw deadc
        |  FROM z WINDOW tw AS (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT t, n_risk, d_t AS n_event, c_t AS n_censored, h_micro,
        |  CASE WHEN deadc > 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(round(1000000
        |      * exp(-CAST(h_micro AS DOUBLE) / 1000000)) AS BIGINT)
        |  END AS s_ppm
        |FROM c WHERE d_t > 0""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("d"),
          expr("(ts div 1000) div 3600000000").as("h"),
          col("event_type"))
      val u = e.groupBy("user_id", "d").agg(
        min("h").as("f"), max("h").as("l"),
        min(when(col("event_type") === "purchase", col("h"))).as("p"))
      val g = u
        .select(
          when(col("p").isNotNull, col("p") - col("f"))
            .otherwise(col("l") - col("f")).as("t"),
          when(col("p").isNotNull, 1L).otherwise(0L).as("ev"))
        .groupBy("t")
        .agg(count(lit(1)).as("n_tot"), sum("ev").as("d_t"))
      val wRisk = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wCum = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("c_t", col("n_tot") - col("d_t"))
        .withColumn("n_risk", sum("n_tot").over(wRisk))
        .withColumn("hz",
          when(col("d_t") > 0 && col("n_risk") > col("d_t"),
            round(lit(1000000) * log(col("n_risk").cast("double")
              / (col("n_risk") - col("d_t")).cast("double"))).cast("long"))
            .otherwise(0L))
        .withColumn("dead",
          when(col("d_t") > 0 && col("n_risk") === col("d_t"), 1)
            .otherwise(0))
        .withColumn("h_micro", sum("hz").over(wCum))
        .withColumn("deadc", max("dead").over(wCum))
        .filter(col("d_t") > 0)
        .select(col("t"), col("n_risk"), col("d_t").as("n_event"),
          col("c_t").as("n_censored"), col("h_micro"),
          when(col("deadc") > 0, 0L)
            .otherwise(round(lit(1000000)
              * exp(-col("h_micro").cast("double") / 1000000))
              .cast("long")).as("s_ppm"))
    },

    // X58 — day-of-week seasonality profile (the calendar-effect
    // companion to q_anomaly: "is Monday structurally 2× Thursday?" —
    // the index a seasonally-adjusted alert threshold divides by).
    // Daily counts are one partial-agg shuffle; dow = epoch-day mod 7
    // (a pure integer index — the label mapping is presentation);
    // per-series totals ride ONE event_type-partitioned window over
    // the (type × dow)-sized rollup; the seasonal index
    // (dow mean / overall mean) is the one mirrored double step,
    // ppm-quantized — the exact integer cross-product form s·nd /
    // (n_days·s_all) overflows BIGINT at ~1e13 daily events, so the
    // doubles carry it (beyond: DECIMAL(38) per the X51 pattern).
    "q_seasonality" -> Q(
      s"""WITH ${duckDailyCounts("cnt")},
        |d AS (SELECT event_type, day % 7 AS dow, cnt FROM e),
        |g AS (
        |  SELECT event_type, dow, CAST(count(*) AS BIGINT) n_days,
        |    CAST(sum(cnt) AS BIGINT) sum_cnt
        |  FROM d GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, dow, n_days, sum_cnt,
        |    CAST(sum(n_days) OVER (PARTITION BY event_type) AS BIGINT) nd,
        |    CAST(sum(sum_cnt) OVER (PARTITION BY event_type) AS BIGINT)
        |      s_all
        |  FROM g)
        |SELECT event_type, dow, n_days, sum_cnt,
        |  CAST(round(1000000
        |    * (CAST(sum_cnt AS DOUBLE) * CAST(nd AS DOUBLE))
        |    / (CAST(n_days AS DOUBLE) * CAST(s_all AS DOUBLE)))
        |    AS BIGINT) AS idx_ppm
        |FROM w WHERE s_all > 0""".stripMargin) { (s, dir) =>
      val e = dailyCounts(s, dir, "cnt")
      val g = e.select(col("event_type"), (col("day") % 7).as("dow"),
          col("cnt"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_days"), sum("cnt").as("sum_cnt"))
      val w = Window.partitionBy("event_type")
      g.withColumn("nd", sum("n_days").over(w))
        .withColumn("s_all", sum("sum_cnt").over(w))
        .filter(col("s_all") > 0)
        .select(col("event_type"), col("dow"), col("n_days"),
          col("sum_cnt"),
          round(lit(1000000)
            * (col("sum_cnt").cast("double") * col("nd").cast("double"))
            / (col("n_days").cast("double") * col("s_all").cast("double")))
            .cast("long").as("idx_ppm"))
    },

    // X59 — CUSUM change-point excursions per event series (the
    // sustained-shift detector q_anomaly's z-score cannot see: a small
    // persistent drift accumulates in the CUSUM long before any single
    // day is 3σ out). The recursive CUSUM S⁺_t = max(0, S⁺_{t-1} + dev)
    // is deliberately re-expressed in its closed window form — S⁺_t =
    // P_t − min_{i≤t} P_i over the prefix sums P of deviations — so it
    // is ONE ordered window pass, not a sequential fold. Deviations are
    // kept exact by the q_anomaly scaling trick: dev_t = n·x_t − Σx
    // (scaled by the series length instead of dividing by it), so P,
    // the running extrema, and both excursions are exact BIGINTs —
    // comparable across engines with zero float steps. Scale: past the
    // daily rollup everything is (series × days)-sized; the windows
    // partition by series.
    "q_cusum" -> Q(
      s"""WITH ${duckDailyCounts("x")},
        |t AS (
        |  SELECT event_type, day, x,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) n,
        |    CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) sx
        |  FROM e),
        |p AS (
        |  SELECT event_type, day, x,
        |    CAST(sum(n * x - sx) OVER tw AS BIGINT) pf
        |  FROM t WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, x, pf,
        |  CAST(pf - least(0, min(pf) OVER tw) AS BIGINT) AS cusum_pos,
        |  CAST(greatest(0, max(pf) OVER tw) - pf AS BIGINT) AS cusum_neg
        |FROM p WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
        .stripMargin) { (s, dir) =>
      val e = dailyCounts(s, dir, "x")
      val wAll = Window.partitionBy("event_type")
      val tw = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the running extrema are clamped THROUGH zero (least/greatest
      // with the empty prefix P₀ = 0) — without the clamp the identity
      // to the recursive max(0, S+dev) form breaks on one-sided series
      // (caught by StatsSpec's recursive-form equivalence proof)
      e.withColumn("n", count(lit(1)).over(wAll))
        .withColumn("sx", sum("x").over(wAll))
        .withColumn("pf", sum(col("n") * col("x") - col("sx")).over(tw))
        .select(col("event_type"), col("day"), col("x"), col("pf"),
          (col("pf") - least(lit(0L), min("pf").over(tw)))
            .as("cusum_pos"),
          (greatest(lit(0L), max("pf").over(tw)) - col("pf"))
            .as("cusum_neg"))
    },

    // X60 — Mann–Kendall trend test per event series (the
    // distribution-free "is this metric drifting?" statistic — the
    // monotone-trend companion to q_cusum's level shifts). S =
    // Σ_{i<j} sign(x_j − x_i) is an EXACT INTEGER over all ordered day
    // pairs — the self-join is (series × days²)-sized, bounded by the
    // calendar (≤ ~3.7k days even at a 10-year horizon ⇒ ≤ 13M pairs
    // per series), never by event volume; tau-a = 2S/(n(n−1)) is the
    // one mirrored double division (NOT an integer div: S < 0 would
    // hit the trunc-vs-floor divergence), micro-quantized.
    "q_trend_mk" -> Q(
      s"""WITH ${duckDailyCounts("x")},
        |pr AS (
        |  SELECT a.event_type,
        |    CAST(CASE WHEN b.x > a.x THEN 1
        |              WHEN b.x < a.x THEN -1 ELSE 0 END AS BIGINT) sg
        |  FROM e a JOIN e b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days
        |      FROM e GROUP BY 1),
        |s AS (SELECT event_type, CAST(sum(sg) AS BIGINT) s_stat
        |      FROM pr GROUP BY 1)
        |SELECT n.event_type, n_days, coalesce(s_stat, 0) AS s_stat,
        |  CAST(round(1000000 * CAST(2 * coalesce(s_stat, 0) AS DOUBLE)
        |    / CAST(n_days * (n_days - 1) AS DOUBLE)) AS BIGINT)
        |    AS tau_ppm
        |FROM n LEFT JOIN s ON s.event_type = n.event_type
        |WHERE n_days > 1""".stripMargin) { (s, dir) =>
      val e = dailyCounts(s, dir, "x")
        // feeds both sides of the pair join AND the day count — ONE
        // daily rollup (EAGER CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala)
        .localCheckpoint(true)
      val a = e.select(col("event_type"), col("day").as("da"),
        col("x").as("xa"))
      val b = e.select(col("event_type"), col("day").as("db"),
        col("x").as("xb"))
      val sg = when(col("xb") > col("xa"), 1L)
        .when(col("xb") < col("xa"), -1L).otherwise(0L)
      val st = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
        .select(col("event_type"), sg.as("sg"))
        .groupBy("event_type").agg(sum("sg").as("s_stat"))
      val n = e.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      n.filter(col("n_days") > 1)
        .join(broadcast(st), Seq("event_type"), "left")
        .select(col("event_type"), col("n_days"),
          coalesce(col("s_stat"), lit(0L)).as("s_stat"),
          round(lit(1000000)
            * (lit(2) * coalesce(col("s_stat"), lit(0L))).cast("double")
            / (col("n_days") * (col("n_days") - 1)).cast("double"))
            .cast("long").as("tau_ppm"))
    },

    // X61 — lead-lag cross-correlation between event series (the
    // causal-screening matrix: "do views at lag k predict purchases?").
    // For every ORDERED series pair and lag 0..3: exact five-moment
    // Pearson over the lag-aligned daily counts (the X50/q_corr_exact
    // discipline — n, Σx, Σy, Σxy, Σx², Σy² are BIGINT sums in one
    // partial-agg shuffle on (pair, lag)); r = (nΣxy − ΣxΣy)/√(...) has
    // an exact integer numerator and radicands, one mirrored
    // sqrt+division step, micro-quantized; degenerate windows (n < 3,
    // zero variance) filtered by the same exact test. The lag spine is
    // a 4-row broadcast; the alignment join is day-keyed within series
    // pairs. Scale: everything past the daily rollup is
    // (series² × lags × days)-sized — calendar-bounded, never
    // event-volume-bounded.
    "q_xcorr" -> Q(
      s"""WITH ${duckDailyCounts("x")},
        |lags AS (SELECT unnest([0, 1, 2, 3]) AS lag),
        |al AS (
        |  SELECT a.event_type lead_type, b.event_type lag_type, l.lag,
        |    a.x xa, b.x xb
        |  FROM e a CROSS JOIN lags l
        |  JOIN e b ON b.day = a.day + l.lag
        |    AND a.event_type <> b.event_type),
        |m AS (
        |  SELECT lead_type, lag_type, lag, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(xa) AS BIGINT) sx, CAST(sum(xb) AS BIGINT) sy,
        |    CAST(sum(xa * xb) AS BIGINT) sxy,
        |    CAST(sum(xa * xa) AS BIGINT) sxx,
        |    CAST(sum(xb * xb) AS BIGINT) syy
        |  FROM al GROUP BY 1, 2, 3)
        |SELECT lead_type, lag_type, lag, n,
        |  CAST(round(1000000 * CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)
        |    AS r_micro
        |FROM m
        |WHERE n >= 3 AND n * sxx - sx * sx > 0
        |  AND n * syy - sy * sy > 0""".stripMargin) { (s, dir) =>
      val e = dailyCounts(s, dir, "x")
        // both sides of the alignment join — ONE daily rollup (EAGER
        // CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala)
        .localCheckpoint(true)
      val lags = s.range(0, 4).select(col("id").as("lag"))
      val a = e.select(col("event_type").as("lead_type"),
        col("day").as("da"), col("x").as("xa"))
      val b = e.select(col("event_type").as("lag_type"),
        col("day").as("db"), col("x").as("xb"))
      val m = a.crossJoin(broadcast(lags))
        .withColumn("db", col("da") + col("lag"))
        .join(b, Seq("db"))
        .filter(col("lead_type") =!= col("lag_type"))
        .groupBy("lead_type", "lag_type", "lag")
        .agg(count(lit(1)).as("n"), sum("xa").as("sx"),
          sum("xb").as("sy"), sum(col("xa") * col("xb")).as("sxy"),
          sum(col("xa") * col("xa")).as("sxx"),
          sum(col("xb") * col("xb")).as("syy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      m.filter(col("n") >= 3 && vx > 0 && vy > 0)
        .select(col("lead_type"), col("lag_type"), col("lag"), col("n"),
          round(lit(1000000)
            * (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
            / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
            .cast("long").as("r_micro"))
    },

    // SCD type 2: collapse each user's event stream into versioned
    // [valid_from, valid_to) attribute intervals — consecutive runs of
    // the same event_type become one dimension row, closed by the next
    // run's start (NULL = current). One window pass flags run starts
    // (lag), a running sum numbers the runs, a groupBy collapses them,
    // and lead() closes the intervals: two window functions + one
    // partial-agg'd groupBy, all partitioned by user_id — at 100 TB the
    // entity key is the only shuffle key and no interval logic touches
    // the driver.
    "q_scd2" -> Q(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) tsu, event_type
        |           FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type
        |    THEN 1 ELSE 0 END AS is_change
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |runs AS (
        |  SELECT *, CAST(sum(is_change) OVER (PARTITION BY user_id
        |      ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS version
        |  FROM flagged),
        |dim AS (
        |  SELECT user_id, version, event_type,
        |    CAST(min(tsu) AS BIGINT) valid_from,
        |    CAST(count(*) AS BIGINT) n_events
        |  FROM runs GROUP BY 1, 2, 3)
        |SELECT user_id, version, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
        |    AS valid_to,
        |  n_events
        |FROM dim""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .withColumn("tsu", expr("ts div 1000"))
        .select("user_id", "event_id", "tsu", "event_type")
      val w = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
      val prev = lag(col("event_type"), 1).over(w)
      val runs = e
        .withColumn("is_change",
          when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("version", sum("is_change").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val dim = runs.groupBy("user_id", "version", "event_type")
        .agg(min("tsu").as("valid_from"), count(lit(1)).as("n_events"))
      dim.withColumn("valid_to",
          lead(col("valid_from"), 1)
            .over(Window.partitionBy("user_id").orderBy("version")))
        .select("user_id", "version", "event_type", "valid_from",
          "valid_to", "n_events")
    },

    // Time-grid resampling with gap fill: daily buckets per user over
    // the corpus-wide [min, max] day range, missing days filled with
    // zeros, plus a per-user running total — the spine/densify shape
    // behind every metrics dashboard and feature-store backfill. The
    // 1-row day-bounds aggregate broadcasts; the spine is
    // users × sequence(days) (exploded from the broadcast bounds, i.e.
    // the OUTPUT size, not a shuffle blow-up); the hot side is one
    // partial-agg'd groupBy of events on (user, day). Per-day values are
    // floored to integer micros per ROW before summing, so fills,
    // totals, and the cumulative sum are exact.
    "q_resample" -> Q(
      """WITH e AS (SELECT user_id,
        |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
        |      AS day,
        |    CAST(floor(value * 1000000) AS BIGINT) val_micro
        |  FROM events),
        |bounds AS (SELECT min(day) mnd, max(day) mxd FROM e),
        |days AS (SELECT unnest(generate_series(mnd, mxd)) AS day
        |         FROM bounds),
        |users AS (SELECT DISTINCT user_id FROM e),
        |spine AS (SELECT user_id, day FROM users, days),
        |agg AS (SELECT user_id, day, CAST(count(*) AS BIGINT) n_events,
        |    CAST(sum(val_micro) AS BIGINT) val_micro
        |  FROM e GROUP BY 1, 2),
        |filled AS (
        |  SELECT s.user_id, s.day,
        |    coalesce(a.n_events, 0) AS n_events,
        |    coalesce(a.val_micro, 0) AS val_micro
        |  FROM spine s LEFT JOIN agg a
        |    ON s.user_id = a.user_id AND s.day = a.day)
        |SELECT user_id, day, n_events, val_micro,
        |  CAST(sum(val_micro) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_val_micro
        |FROM filled""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("day"),
          floor(col("value") * 1000000).cast("long").as("val_micro"))
      val bounds = e.agg(min("day").as("mnd"), max("day").as("mxd"))
      val days = bounds
        .select(explode(sequence(col("mnd"), col("mxd"))).as("day"))
      val spine = e.select("user_id").distinct().crossJoin(broadcast(days))
      val agg = e.groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"), sum("val_micro").as("val_micro"))
      spine.join(agg, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("val_micro"), lit(0L)).as("val_micro"))
        .withColumn("cum_val_micro",
          sum("val_micro").over(Window.partitionBy("user_id").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
    },

    // X48 — time-series gap interpolation (imputation): per-series daily
    // averages on a full day spine, missing days LINEARLY interpolated
    // between the nearest observed neighbors, boundary gaps extended
    // flat from the nearest observation. Series = (event_type,
    // user_id % 200) so realistic gaps exist at every SF. All integer:
    // per-event floor(value·1e6), truncated day average, and the
    // interpolation `pv + ((nv−pv)·(d−pd)) div (nd−pd)` — Spark `div`
    // and DuckDB `//` both truncate toward zero, so the negative-delta
    // case is bit-identical. Scale shape: prev/next neighbors come from
    // two IGNORE-NULLS running windows per series (parallel across
    // series, never a global sort); the day spine is a broadcast
    // 1-row-agg sequence.
    "q_interpolate" -> Q(
      """WITH e AS (
        |  SELECT event_type, user_id % 200 AS ub,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vm
        |  FROM events),
        |agg AS (SELECT event_type, ub, day,
        |    CAST(sum(vm) // count(*) AS BIGINT) AS v
        |  FROM e GROUP BY 1, 2, 3),
        |bounds AS (SELECT min(day) mnd, max(day) mxd FROM e),
        |days AS (SELECT unnest(generate_series(mnd, mxd)) AS day
        |         FROM bounds),
        |series AS (SELECT DISTINCT event_type, ub FROM e),
        |spine AS (SELECT s.event_type, s.ub, d.day FROM series s, days d),
        |j AS (SELECT sp.event_type, sp.ub, sp.day, a.v
        |  FROM spine sp LEFT JOIN agg a
        |    ON sp.event_type = a.event_type AND sp.ub = a.ub
        |   AND sp.day = a.day),
        |f AS (
        |  SELECT event_type, ub, day, v,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wp AS pd,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wn AS nd
        |  FROM j
        |  WINDOW wp AS (PARTITION BY event_type, ub ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY event_type, ub ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, CAST(ub AS BIGINT) AS ub,
        |  CAST(day AS BIGINT) AS day,
        |  CAST(CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL
        |         THEN pv + ((nv - pv) * (day - pd)) // (nd - pd)
        |       ELSE coalesce(pv, nv) END AS BIGINT) AS value_micro,
        |  CASE WHEN v IS NOT NULL THEN 'observed'
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
        |       ELSE 'extended' END AS src
        |FROM f""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val e = ev.select(ev("event_type"),
        expr("user_id % 200").as("ub"),
        expr("(ts div 1000) div 86400000000").as("day"),
        floor(col("value") * 1000000).cast("long").as("vm"))
      val agg = e.groupBy("event_type", "ub", "day")
        .agg(expr("sum(vm) div count(*)").as("v"))
      val bounds = e.agg(min("day").as("mnd"), max("day").as("mxd"))
      val days = bounds
        .select(explode(sequence(col("mnd"), col("mxd"))).as("day"))
      val spine = e.select("event_type", "ub").distinct()
        .crossJoin(broadcast(days))
      val j = spine.join(agg, Seq("event_type", "ub", "day"), "left")
      val w = Window.partitionBy("event_type", "ub").orderBy("day")
      val wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      j.withColumn("pv", last(col("v"), ignoreNulls = true).over(wp))
        .withColumn("pd", last(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(wp))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wn))
        .withColumn("nd", first(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(wn))
        .select(col("event_type"), col("ub"), col("day"),
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              expr("pv + ((nv - pv) * (day - pd)) div (nd - pd)"))
            .otherwise(coalesce(col("pv"), col("nv")))
            .cast("long").as("value_micro"),
          when(col("v").isNotNull, "observed")
            .when(col("pv").isNotNull && col("nv").isNotNull,
              "interpolated")
            .otherwise("extended").as("src"))
    },

    // X49 — user growth curve (the events-side twin of q_vocab_growth's
    // Heaps' law): per-day new users (first-seen day), active users,
    // events, and the cumulative user/event totals. Cumulative DISTINCT
    // users without distinct state — every user is counted once at their
    // first-seen day — and both running totals share ONE range exchange
    // via ops/PrefixSum.runningSums (the distributed prefix sum, never a
    // global single-partition data window).
    "q_user_growth" -> Q(
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |fu AS (SELECT user_id, min(day) AS fd FROM e GROUP BY 1),
        |news AS (SELECT fd AS day, CAST(count(*) AS BIGINT) AS n_new
        |  FROM fu GROUP BY 1),
        |perday AS (SELECT day, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM e GROUP BY 1),
        |j AS (SELECT p.day, coalesce(n.n_new, 0) AS n_new, p.n_active,
        |    p.n_events
        |  FROM perday p LEFT JOIN news n ON p.day = n.day)
        |SELECT CAST(day AS BIGINT) AS day, CAST(n_new AS BIGINT) AS n_new,
        |  n_active, n_events,
        |  CAST(sum(n_new) OVER w AS BIGINT) AS cum_users,
        |  CAST(sum(n_events) OVER w AS BIGINT) AS cum_events
        |FROM j WINDOW w AS (ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin) {
      (s, dir) =>
        val ev = table(s, dir, "events")
        val e = ev.select(ev("user_id"),
          expr("(ts div 1000) div 86400000000").as("day"))
        val news = e.groupBy("user_id").agg(min("day").as("fd"))
          .groupBy(col("fd").as("day")).agg(count(lit(1)).as("n_new"))
        val perday = e.groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            countDistinct("user_id").as("n_active"))
        // eager checkpoint the DAY-SIZED join result before PrefixSum:
        // its offsets branch re-executes the input subtree, and column
        // pruning narrows that copy (n_active's countDistinct drops out)
        // so AQE exchange reuse cannot unify the two branches — unpinned,
        // the offsets branch paid an extra (pruned) corpus scan. Pinned,
        // everything downstream operates on ~365 rows/year and the final
        // plan touches NO parquet at all (asserted in PlanAuditSpec).
        val j = perday.join(news, Seq("day"), "left")
          .select(col("day"), coalesce(col("n_new"), lit(0L)).as("n_new"),
            col("n_active"), col("n_events"))
          .localCheckpoint(true)
        graft.ops.PrefixSum.runningSums(j, Seq(col("day").asc),
            Seq(col("n_new") -> "cum_users",
              col("n_events") -> "cum_events"))
          .select("day", "n_new", "n_active", "n_events", "cum_users",
            "cum_events")
    },

    // X87 — interval-overlap concurrency: peak simultaneous sessions
    // per day (the capacity-planning operator: license seats, server
    // slots, support load). The classic boundary sweep — each (user,
    // day) session interval emits +1 at its start and −1 at its end,
    // the running sum over the day's boundary stream IS the live
    // concurrency, and its max is the answer — re-expressed as ONE
    // day-partitioned window pass (never a t×t self-join). The
    // boundary total order (t, delta desc, user_id) is deterministic
    // AND encodes the closed-interval tie rule: a start at time t
    // sorts before an end at t, so touching sessions count as
    // overlapping on both engines identically. Exact integer µs
    // throughout. Scale: intervals are one (user, day) shuffle; the
    // sweep shuffles two boundary rows per interval on the day key —
    // change-sized, and the skew bound is boundaries-per-day.
    "q_concurrency" -> Q(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |iv AS (SELECT user_id, day, min(tsu) AS s, max(tsu) AS en
        |  FROM e GROUP BY 1, 2),
        |b AS (SELECT day, s AS t, CAST(1 AS BIGINT) AS delta, user_id
        |    FROM iv
        |  UNION ALL
        |  SELECT day, en, CAST(-1 AS BIGINT), user_id FROM iv),
        |r AS (SELECT day,
        |    CAST(sum(delta) OVER (PARTITION BY day
        |      ORDER BY t, delta DESC, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS conc
        |  FROM b),
        |mx AS (SELECT day, CAST(max(conc) AS BIGINT) AS max_concurrent
        |  FROM r GROUP BY 1),
        |ns AS (SELECT day, CAST(count(*) AS BIGINT) AS n_sessions
        |  FROM iv GROUP BY 1)
        |SELECT CAST(ns.day AS BIGINT) AS day, ns.n_sessions,
        |  mx.max_concurrent
        |FROM ns JOIN mx ON mx.day = ns.day""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val iv = ev
        .select(col("user_id"), expr("ts div 1000").as("tsu"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy("user_id", "day")
        .agg(min("tsu").as("s"), max("tsu").as("en"))
        // 3 consumers: both boundary legs and the session count
        .localCheckpoint(true)
      val b = iv.select(col("day"), col("s").as("t"),
          lit(1L).as("delta"), col("user_id"))
        .unionByName(iv.select(col("day"), col("en").as("t"),
          lit(-1L).as("delta"), col("user_id")))
      val w = Window.partitionBy("day")
        .orderBy(col("t"), col("delta").desc, col("user_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mx = b.withColumn("conc", sum("delta").over(w))
        .groupBy("day").agg(max("conc").as("max_concurrent"))
      val ns = iv.groupBy("day").agg(count(lit(1)).as("n_sessions"))
      ns.join(broadcast(mx), "day")
        .select(col("day"), col("n_sessions"), col("max_concurrent"))
    },
  )
}
