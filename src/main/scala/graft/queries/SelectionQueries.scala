package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.ops.llm._

/** Data-selection & scoring tier (SURVEY.md §2.12 L52–L55, L57): the
  * stages a training-data pipeline runs between "corpus cleaned" and
  * "corpus sharded" — curriculum ordering, model-based quality
  * classification, DSIR-style importance resampling, per-document
  * novelty scoring, and token-balanced shard assignment.
  *
  * Everything is exact-integer / content-digest arithmetic so every query
  * is fully hash-checked against the DuckDB oracle — the floating forms of
  * these operators (fasttext scores, log-likelihood ratios) are
  * deliberately discretized at the spec'd boundary and documented as such.
  */
object SelectionQueries {

  /** Per-doc first-seen shingle counts — (doc_id, n_shingles, n_new)
    * where n_new counts the doc's distinct 3-gram shingles whose corpus-
    * wide first occurrence (minimum doc_id) is this doc. Shared by
    * q_novelty and q_vocab_growth so the shingle unit and first-seen
    * tie-break stay identical — the Spark-side twin of the shared
    * duckShingles CTE.
    */
  private def firstSeenCounts(d: DataFrame): DataFrame = {
    val ex = d.select(d("doc_id"),
      explode(TextOps.shingleSet(d("text"), 3)).as("g"))
    val fs = ex.groupBy("g").agg(min("doc_id").as("fd"))
    ex.join(fs, "g").groupBy("doc_id").agg(
      count(lit(1)).as("n_shingles"),
      sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
  }

  // Naive-Bayes counts: per-(lang, term) `cnt`, per-lang totals `tot` and
  // the vocabulary size `v`.
  private val duckNbCounts =
    """tok AS (
      |  SELECT doc_id, lang,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |cnt AS (SELECT lang, term, CAST(count(*) AS BIGINT) c
      |        FROM tok GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) tl
      |        FROM cnt GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) v FROM tok)"""
      .stripMargin

  /** The L69b Naive-Bayes train→serve chain (oracle SQL + Spark form),
    * shared by q_nb_classify and the q_confusion rollup so the model
    * under evaluation is the literally-same derivation.
    */
  private val nbClassifySql: String =
    s"""WITH $duckNbCounts,
      |model AS (
      |  SELECT cnt.lang AS mlang, cnt.term,
      |    CAST(round(-ln((cnt.c + 1) / CAST(tot.tl + v.v AS DOUBLE))
      |      * 10000) AS BIGINT) AS micro
      |  FROM cnt JOIN tot ON cnt.lang = tot.lang, v),
      |dflt AS (
      |  SELECT lang AS mlang,
      |    CAST(round(ln(CAST(tl + v.v AS DOUBLE)) * 10000) AS BIGINT)
      |      AS m0
      |  FROM tot, v),
      |dl AS (SELECT lang, CAST(count(*) AS BIGINT) dl
      |       FROM documents GROUP BY 1),
      |nd AS (SELECT CAST(count(*) AS BIGINT) nd FROM documents),
      |prior AS (
      |  SELECT lang AS mlang,
      |    CAST(round(-ln(dl / CAST(nd AS DOUBLE)) * 10000) AS BIGINT)
      |      AS pm
      |  FROM dl, nd),
      |tf AS (SELECT doc_id, lang AS true_lang, term,
      |         CAST(count(*) AS BIGINT) tf
      |       FROM tok GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT tf.doc_id, tf.true_lang, p.mlang,
      |    p.pm + sum(tf.tf * coalesce(m.micro, df.m0)) AS score
      |  FROM tf
      |  CROSS JOIN prior p
      |  JOIN dflt df ON df.mlang = p.mlang
      |  LEFT JOIN model m
      |    ON m.mlang = p.mlang AND m.term = tf.term
      |  GROUP BY 1, 2, 3, p.pm),
      |ranked AS (
      |  SELECT doc_id, true_lang, mlang AS pred_lang,
      |    CAST(score AS BIGINT) AS score_micro4,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score ASC, mlang ASC) AS rn
      |  FROM scored)
      |SELECT doc_id, true_lang, pred_lang, score_micro4,
      |  CAST(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END
      |    AS BIGINT) AS correct
      |FROM ranked WHERE rn = 1""".stripMargin

  private def nbClassify(s: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame = {
    val d = table(s, dir, "documents")
    val tok = docTerms(d)
    val cnt = tok.groupBy(col("lang").as("mlang"), col("term"))
      .agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("mlang").agg(sum("c").as("tl"))
    val v = tok.agg(countDistinct("term").as("v"))
    val model = cnt.join(tot, "mlang").crossJoin(broadcast(v))
      .select(col("mlang"), col("term"),
        round(-log((col("c") + 1) /
          (col("tl") + col("v")).cast("double")) * 10000, 0)
          .cast("long").as("micro"))
    val dflt = tot.crossJoin(broadcast(v))
      .select(col("mlang"),
        round(log((col("tl") + col("v")).cast("double")) * 10000, 0)
          .cast("long").as("m0"))
    val dl = d.groupBy(col("lang").as("mlang"))
      .agg(count(lit(1)).as("dl"))
    val nd = d.agg(count(lit(1)).as("nd"))
    val prior = dl.crossJoin(broadcast(nd))
      .select(col("mlang"),
        round(-log(col("dl") / col("nd").cast("double")) * 10000, 0)
          .cast("long").as("pm"))
    val tf = tok
      .groupBy(col("doc_id"), col("lang").as("true_lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.crossJoin(broadcast(prior))
      .join(broadcast(dflt), "mlang")
      .join(broadcast(model), Seq("mlang", "term"), "left")
      .groupBy(col("doc_id"), col("true_lang"), col("mlang"), col("pm"))
      .agg(sum(col("tf") * coalesce(col("micro"), col("m0"))).as("ssum"))
      .select(col("doc_id"), col("true_lang"), col("mlang"),
        (col("pm") + col("ssum")).as("score"))
    // argmin via min(struct(score, class)) — lexicographic struct
    // ordering IS the (score asc, class asc) tie-broken argmin, and
    // unlike a row_number window it partial-aggregates map-side (no
    // per-doc sort, 5-vs-1 rows into the final shuffle). The oracle
    // spells the same total order as a window; results are identical.
    scored
      .groupBy(col("doc_id"), col("true_lang"))
      .agg(min(struct(col("score"), col("mlang"))).as("best"))
      .select(col("doc_id"), col("true_lang"),
        col("best.mlang").as("pred_lang"),
        col("best.score").cast("long").as("score_micro4"),
        when(col("best.mlang") === col("true_lang"), 1L).otherwise(0L)
          .as("correct"))
  }

  // Each doc's `(doc_id, lang, term)` token occurrences.
  private def docTerms(d: DataFrame): DataFrame =
    d.select(d("doc_id"), d("lang"),
      explode(TextOps.tokens(d("text"))).as("term"))

  // The hashed quality scorer's per-token weights `w(doc_id, $cols, wt)`
  // (first sha256 hex char → {-2, -1, 1, 2}).
  private def duckWordWeights(cols: String) =
    s"""occ AS (
      |  SELECT doc_id, $cols,
      |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, $cols,
      |    CASE WHEN substr(sha256(t), 1, 1) <= '3' THEN -2
      |         WHEN substr(sha256(t), 1, 1) <= '7' THEN -1
      |         WHEN substr(sha256(t), 1, 1) <= 'b' THEN 1
      |         ELSE 2 END AS wt
      |  FROM occ)""".stripMargin

  // Spark side of duckWordWeights: `d`'s columns `cols` with one row per
  // token, projected to `out` plus the token's weight `wt`.
  private def wordWeights(d: DataFrame, cols: String*)(
      out: Column*): DataFrame = {
    val occ = d.select(cols.map(d(_)) :+
      explode(TextOps.tokens(d("text"))).as("t"): _*)
    val h = substring(sha2(col("t"), 256), 1, 1)
    val wt = when(h <= "3", -2).when(h <= "7", -1)
      .when(h <= "b", 1).otherwise(2)
    occ.select(out :+ wt.cast("long").as("wt"): _*)
  }

  private def enPos0: Column =
    when(col("lang") === "en", 1L).otherwise(0L).as("pos0")

  // Word weights and the head of a per-doc `ds` CTE with the English label
  // `pos`; callers add the score column.
  private val duckWordWeightsPos =
    s"""${duckWordWeights("source, lang")},
      |ds AS (
      |  SELECT doc_id, source,
      |    CAST(max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS pos""".stripMargin

  // Spark side of duckWordWeightsPos: per-doc `(doc_id, source, pos)` and
  // the caller's `score` aggregate over `wt`.
  private def wordWeightsPos(d: DataFrame, score: Column): DataFrame =
    wordWeights(d, "doc_id", "source", "lang")(
        col("doc_id"), col("source"), enPos0)
      .groupBy("doc_id", "source").agg(max("pos0").as("pos"), score)

  // Shingle occurrences `ex(doc_id, g)` and each shingle's first doc
  // `fs(g, fd)`.
  private val duckFirstSeen =
    s"""${LlmQueries.duckShingles},
      |ex AS (SELECT doc_id, unnest(sh) AS g FROM base),
      |fs AS (SELECT g, min(doc_id) AS fd FROM ex GROUP BY 1)""".stripMargin

  val all: Map[String, Q] = Map(

    // L52 — curriculum ordering: difficulty-ascending training order with
    // round-robin interleave across sources (so no source clumps at any
    // difficulty band). Difficulty proxy = avg token length in chars-per-
    // thousand-tokens (integer). Per-source rank is a partitioned window;
    // the global interleave position is computed by global
    // sort+limit FIRST (TakeOrderedAndProject — every task forwards at
    // most 60 rows) and only THEN numbered by a window over the ≤60
    // survivors. The naive filter-over-global-row_number form compiles
    // to a full single-partition Window sort of the corpus
    // (InferWindowGroupLimit does not fire on unpartitioned windows) —
    // the limit-then-number rewrite is semantically identical because
    // row_number over a total order is dense.
    "q_curriculum" -> Q(
      """WITH t AS (
        |  SELECT doc_id, source, lower(trim(text)) AS q FROM documents
        |  WHERE length(trim(text)) >= 2),
        |b AS (
        |  SELECT doc_id, source,
        |    (length(q) * 1000) // len(string_split_regex(q, '\s+'))
        |      AS difficulty_ppk
        |  FROM t),
        |r AS (
        |  SELECT doc_id, source, difficulty_ppk,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY difficulty_ppk, doc_id) AS rk
        |  FROM b)
        |SELECT CAST(pos AS INTEGER) AS pos, doc_id, source,
        |  CAST(difficulty_ppk AS BIGINT) AS difficulty_ppk,
        |  CAST(rk AS INTEGER) AS rk
        |FROM (SELECT doc_id, source, difficulty_ppk, rk,
        |        row_number() OVER (ORDER BY rk, source, doc_id) AS pos
        |      FROM r)
        |WHERE pos <= 60""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val base = d.filter(length(trim(d("text"))) >= 2)
        .select(d("doc_id"), d("source"),
          length(TextOps.normalized(d("text"))).cast("long").as("n_char"),
          size(TextOps.tokens(d("text"))).cast("long").as("n_tok"))
        .select(col("doc_id"), col("source"),
          expr("(n_char * 1000) div n_tok").as("difficulty_ppk"))
      val wS = Window.partitionBy("source")
        .orderBy(col("difficulty_ppk"), col("doc_id"))
      val wG = Window.orderBy(col("rk"), col("source"), col("doc_id"))
      base.withColumn("rk", row_number().over(wS))
        .orderBy(col("rk"), col("source"), col("doc_id")).limit(60)
        .withColumn("pos", row_number().over(wG))
        .select("pos", "doc_id", "source", "difficulty_ppk", "rk")
    },

    // L53 — model-based quality classification at scale: a linear
    // classifier over hashed unigram features (the fasttext-style quality
    // gate every pre-training pipeline runs). The trained float weights
    // are stubbed at the documented boundary by a deterministic 4-valued
    // hashed weight (first sha256 hex char → {-2,-1,+1,+2}); the
    // Spark-side plumbing — scan-side tokenize, codegen'd per-token
    // weight, map-side partial per-doc sum, tiny report agg — is the real
    // operator shape a learned weight table would reuse unchanged (the
    // weight expression becomes a broadcast dictionary join). keep/drop =
    // sign of the per-doc score.
    "q_quality_classifier" -> Q(
      s"""WITH ${duckWordWeights("source, lang")},
        |ds AS (
        |  SELECT doc_id, source, lang, sum(wt) AS score
        |  FROM w GROUP BY 1, 2, 3)
        |SELECT source, lang,
        |  CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_keep,
        |  CAST(sum(CASE WHEN score < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_drop,
        |  CAST(sum(score) AS BIGINT) AS sum_score
        |FROM ds GROUP BY source, lang""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      wordWeights(d, "doc_id", "source", "lang")(
          col("doc_id"), col("source"), col("lang"))
        .groupBy("doc_id", "source", "lang").agg(sum("wt").as("score"))
        .groupBy("source", "lang").agg(
          sum(when(col("score") >= 0, 1L).otherwise(0L)).as("n_keep"),
          sum(when(col("score") < 0, 1L).otherwise(0L)).as("n_drop"),
          sum("score").as("sum_score"))
    },

    // L72 — exact ROC AUC (Mann–Whitney rank-sum) model evaluation at
    // corpus scale: how well does the hashed quality score (the
    // q_quality_classifier scorer, reused verbatim) separate English
    // from non-English docs, per source? The classic evaluation loop —
    // score a corpus with a cheap model, measure ranking power against
    // labels — as ONE declarative query. AUC is computed by the
    // tie-corrected rank-sum identity, exact in integers: group docs by
    // (group, score) → per-block (n_tot, n_pos); a running sum over the
    // score-ordered blocks gives each block's rank offset; twice the
    // positives' rank-sum is Σ n_pos·(2·cum_below + n_tot + 1) (the
    // tied block's average rank is cum_below + (n_tot+1)/2, doubled to
    // stay integral); AUC = (num2 − n₊(n₊+1)) / (2·n₊·n₋), one mirrored
    // double division, micro-quantized. Degenerate single-class groups
    // filtered by the same exact test. Scale: the token pass partial-
    // aggs on doc_id; the window rides distinct (source, score) blocks
    // — score-range-sized, not corpus-sized — with one range exchange
    // per the PrefixSum discipline; num2 stays under 2^53 up to ~10^8
    // docs per group (beyond that, promote num2 to DECIMAL(38) per the
    // q_ab_test pattern).
    "q_auc" -> Q(
      s"""WITH $duckWordWeightsPos,
        |    CAST(sum(wt) AS BIGINT) AS score
        |  FROM w GROUP BY 1, 2),
        |g AS (
        |  SELECT source, score, CAST(count(*) AS BIGINT) n_tot,
        |    CAST(sum(pos) AS BIGINT) n_pos
        |  FROM ds GROUP BY 1, 2),
        |r AS (
        |  SELECT source, score, n_tot, n_pos,
        |    CAST(coalesce(sum(n_tot) OVER (PARTITION BY source
        |      ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) cum
        |  FROM g),
        |a AS (
        |  SELECT source, CAST(sum(n_pos) AS BIGINT) np,
        |    CAST(sum(n_tot - n_pos) AS BIGINT) nn,
        |    CAST(sum(n_pos * (2 * cum + n_tot + 1)) AS BIGINT) num2
        |  FROM r GROUP BY 1)
        |SELECT source, np AS n_pos, nn AS n_neg,
        |  CAST(round(1000000 * CAST(num2 - np * (np + 1) AS DOUBLE)
        |    / CAST(2 * np * nn AS DOUBLE)) AS BIGINT) AS auc_micro
        |FROM a WHERE np > 0 AND nn > 0""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val ds = wordWeightsPos(d, sum("wt").as("score"))
      val g = ds.groupBy("source", "score")
        .agg(count(lit(1)).as("n_tot"), sum("pos").as("n_pos"))
      val win = Window.partitionBy("source").orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = g.withColumn("cum",
        coalesce(sum("n_tot").over(win), lit(0L)))
      r.groupBy("source").agg(
          sum("n_pos").as("np"),
          sum(col("n_tot") - col("n_pos")).as("nn"),
          sum(col("n_pos") * (lit(2) * col("cum") + col("n_tot") + 1))
            .as("num2"))
        .filter(col("np") > 0 && col("nn") > 0)
        .select(col("source"), col("np").as("n_pos"), col("nn").as("n_neg"),
          round(lit(1000000) *
              (col("num2") - col("np") * (col("np") + 1)).cast("double") /
              (lit(2) * col("np") * col("nn")).cast("double"))
            .cast("long").as("auc_micro"))
    },

    // L86 — decile gains/lift table (the third leg of the evaluation
    // family next to q_auc's ranking power and q_calibration's
    // reliability: "if I keep only the top-k% by score, how many of
    // the positives do I capture, and at what multiple of random?").
    // Docs rank per source by (score desc, doc_id) — a deterministic
    // total order — into exact tercile-style deciles
    // (((rn−1)·10) div n + 1, the q_rfm rank-selection discipline);
    // per-decile counts partial-agg; cumulative gains/lift ride
    // 10-row-per-source windows over the decile table. Only the two
    // final ratios touch doubles (mirrored, micro-quantized); the
    // cross-products stay BIGINT to ~3e9 docs/source (beyond:
    // DECIMAL(38), X51 pattern). Scale: one doc-rank window per source
    // + a decile-sized everything-else.
    "q_lift" -> Q(
      s"""WITH $duckWordWeightsPos,
        |    CAST(sum(wt) AS BIGINT) AS score
        |  FROM w GROUP BY 1, 2),
        |rk AS (SELECT source, pos,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id) rn,
        |    count(*) OVER (PARTITION BY source) n
        |  FROM ds),
        |dec AS (SELECT source, ((rn - 1) * 10) // n + 1 AS decile, pos
        |  FROM rk),
        |agg AS (SELECT source, decile, CAST(count(*) AS BIGINT) n_docs,
        |    CAST(sum(pos) AS BIGINT) n_pos
        |  FROM dec GROUP BY 1, 2),
        |c AS (SELECT source, decile, n_docs, n_pos,
        |    CAST(sum(n_docs) OVER (PARTITION BY source ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) cum_n,
        |    CAST(sum(n_pos) OVER (PARTITION BY source ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) cum_pos,
        |    CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) tot_n,
        |    CAST(sum(n_pos) OVER (PARTITION BY source) AS BIGINT) tot_pos
        |  FROM agg)
        |SELECT source, CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
        |  cum_pos,
        |  CAST(round(1000000 * CAST(cum_pos AS DOUBLE) / tot_pos)
        |    AS BIGINT) AS gain_ppm,
        |  CAST(round(1000000 * CAST(cum_pos * tot_n AS DOUBLE)
        |    / CAST(cum_n * tot_pos AS DOUBLE)) AS BIGINT) AS lift_micro
        |FROM c WHERE tot_pos > 0""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val ds = wordWeightsPos(d, sum("wt").as("score"))
      val rkW = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id"))
      val nW = Window.partitionBy("source")
      val dec = ds
        .select(col("source"), col("pos"),
          row_number().over(rkW).as("rn"),
          count(lit(1)).over(nW).as("n"))
        .select(col("source"), col("pos"),
          (expr("((rn - 1) * 10) div n") + 1).as("decile"))
      val agg = dec.groupBy("source", "decile")
        .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"))
      val cw = Window.partitionBy("source").orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("source")
      agg.withColumn("cum_n", sum("n_docs").over(cw))
        .withColumn("cum_pos", sum("n_pos").over(cw))
        .withColumn("tot_n", sum("n_docs").over(tw))
        .withColumn("tot_pos", sum("n_pos").over(tw))
        .filter(col("tot_pos") > 0)
        .select(col("source"), col("decile").cast("long").as("decile"),
          col("n_docs"), col("n_pos"), col("cum_pos"),
          round(lit(1000000) * col("cum_pos").cast("double") /
            col("tot_pos")).cast("long").as("gain_ppm"),
          round(lit(1000000) *
              (col("cum_pos") * col("tot_n")).cast("double") /
              (col("cum_n") * col("tot_pos")).cast("double"))
            .cast("long").as("lift_micro"))
    },

    // L74 — calibration / reliability diagram (the q_auc companion):
    // does a higher score actually mean a higher positive rate? Docs
    // bin into 10 equi-width score bins over the OBSERVED range (min/
    // max folded in as a 1-row broadcast aggregate — the
    // q_scalar_subquery shape, no driver action); per bin: count,
    // positives, empirical rate (one mirrored ppm division) and the
    // exact integer score mass. Binning is pure integer arithmetic —
    // ((score−mn)·10) div (mx−mn+1) — so bin edges are identical on
    // both engines (numerator never negative: score ≥ mn). Scale:
    // after the per-doc score agg everything is bin-count-sized.
    "q_calibration" -> Q(
      s"""WITH ${duckWordWeights("lang")},
        |ds AS (
        |  SELECT doc_id,
        |    CAST(max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pos,
        |    CAST(sum(wt) AS BIGINT) AS score
        |  FROM w GROUP BY 1),
        |st AS (SELECT min(score) mn, max(score) mx FROM ds),
        |b AS (SELECT ((score - mn) * 10) // (mx - mn + 1) AS bin,
        |             pos, score
        |      FROM ds, st)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(round(1000000 * CAST(sum(pos) AS DOUBLE) / count(*))
        |    AS BIGINT) AS pos_rate_ppm,
        |  CAST(sum(score) AS BIGINT) AS sum_score
        |FROM b GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val ds = wordWeights(d, "doc_id", "lang")(col("doc_id"), enPos0)
        .groupBy("doc_id")
        .agg(max("pos0").as("pos"), sum("wt").as("score"))
        // feeds BOTH the min/max aggregate and the binning pass — the
        // eager checkpoint keeps the token explode single-scan (EAGER
        // CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala)
        .localCheckpoint(true)
      val st = ds.agg(min("score").as("mn"), max("score").as("mx"))
      ds.crossJoin(broadcast(st))
        .select(expr("((score - mn) * 10) div (mx - mn + 1)").as("bin"),
          col("pos"), col("score"))
        .groupBy("bin").agg(
          count(lit(1)).as("n"),
          sum("pos").as("n_pos"),
          round(lit(1000000) * sum("pos").cast("double") / count(lit(1)))
            .cast("long").as("pos_rate_ppm"),
          sum("score").as("sum_score"))
    },

    // L77 — Cohen's kappa inter-rater agreement per source (the q_auc/
    // q_calibration companion: chance-corrected AGREEMENT between two
    // labelers — here the hash-feature quality gate (score ≥ 0) vs the
    // lang=en label, the standard "cheap model vs ground truth" audit
    // before trusting a classifier as a corpus filter). The 2×2
    // confusion cells are four exact integer sums in ONE partial-agg
    // shuffle on the source key (the X51 sufficient-statistics
    // pattern); kappa's closed form (N·(a+d) − Σ marginal products) /
    // (N² − Σ marginal products) stays in exact BIGINT to ~3e9
    // docs/source (beyond: DECIMAL(38) per the X51 pattern) with one
    // mirrored double division, micro-quantized; the degenerate
    // denominator (both raters constant) is filtered by the same exact
    // test on both engines. Scale: output is source-count-sized.
    // L101 — Wilson lower-bound source ranking: rank each
    // (lang, source) slice by the LOWER confidence bound of its
    // quality-pass rate instead of the raw proportion — the
    // small-sample correction every "which sources do we trust"
    // decision needs (a 3/3 source must NOT outrank a 95/100 one; the
    // raw rate says it does, the Wilson bound says otherwise). z = 2
    // (the 2-sigma bound) keeps the algebra rational: with z² = 4,
    // LB = (x + 2 − 2·√(x(n−x)/n + 1)) / (n + 4) — one sqrt of a
    // fixed-order double expression, one mirrored division,
    // micro-quantized (the q_kappa float discipline), so both engines
    // produce the identical BIGINT.
    "q_wilson" -> Q(
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
        |      AS BIGINT) x
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, source, n, x,
        |  CAST(round(1000000 *
        |    (CAST(x AS DOUBLE) + 2 - 2 * sqrt(
        |      CAST(x * (n - x) AS DOUBLE) / CAST(n AS DOUBLE) + 1))
        |    / CAST(n + 4 AS DOUBLE)) AS BIGINT) AS wilson_micro
        |FROM g
        |ORDER BY wilson_micro DESC, lang, source""".stripMargin) {
      (s, dir) =>
      val d = table(s, dir, "documents")
      val g = d.groupBy("lang", "source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).as("x"))
      g.select(col("lang"), col("source"), col("n"), col("x"),
          round(lit(1000000) *
              (col("x").cast("double") + lit(2) - lit(2) *
                sqrt((col("x") * (col("n") - col("x"))).cast("double") /
                  col("n").cast("double") + lit(1))) /
              (col("n") + lit(4)).cast("double"))
            .cast("long").as("wilson_micro"))
        .orderBy(col("wilson_micro").desc, col("lang"), col("source"))
    },

    "q_kappa" -> Q(
      s"""WITH $duckWordWeightsPos,
        |    CASE WHEN sum(wt) >= 0 THEN 1 ELSE 0 END AS acc
        |  FROM w GROUP BY 1, 2),
        |cf AS (
        |  SELECT source,
        |    CAST(sum(acc * pos) AS BIGINT) a,
        |    CAST(sum(acc * (1 - pos)) AS BIGINT) b,
        |    CAST(sum((1 - acc) * pos) AS BIGINT) c,
        |    CAST(sum((1 - acc) * (1 - pos)) AS BIGINT) d
        |  FROM ds GROUP BY 1),
        |k AS (
        |  SELECT source, a + b + c + d AS n, a + d AS agree,
        |    (a + b) * (a + c) + (c + d) * (b + d) AS pe_num
        |  FROM cf)
        |SELECT source, n, agree AS n_agree,
        |  (agree * 1000000) // n AS po_ppm,
        |  CAST(round(1000000 * CAST(n * agree - pe_num AS DOUBLE)
        |    / CAST(n * n - pe_num AS DOUBLE)) AS BIGINT) AS kappa_micro
        |FROM k WHERE n * n - pe_num > 0""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val ds = wordWeightsPos(d,
        when(sum("wt") >= 0, 1L).otherwise(0L).as("acc"))
      val cf = ds.groupBy("source").agg(
        sum(col("acc") * col("pos")).as("a"),
        sum(col("acc") * (lit(1) - col("pos"))).as("b"),
        sum((lit(1) - col("acc")) * col("pos")).as("c"),
        sum((lit(1) - col("acc")) * (lit(1) - col("pos"))).as("d"))
      val n = col("a") + col("b") + col("c") + col("d")
      val agree = col("a") + col("d")
      val peNum = (col("a") + col("b")) * (col("a") + col("c")) +
        (col("c") + col("d")) * (col("b") + col("d"))
      cf.select(col("source"), n.as("n"), agree.as("agree"),
          peNum.as("pe_num"))
        .filter(col("n") * col("n") - col("pe_num") > 0)
        .select(col("source"), col("n"), col("agree").as("n_agree"),
          expr("(agree * 1000000) div n").as("po_ppm"),
          round(lit(1000000)
              * (col("n") * col("agree") - col("pe_num")).cast("double")
              / (col("n") * col("n") - col("pe_num")).cast("double"))
            .cast("long").as("kappa_micro"))
    },

    // L69 — multinomial Naive Bayes TRAINING, distributed: the standard
    // supervised lang-ID / topic-gate model (fasttext's ancestor) fit
    // on the corpus's own labels. Training IS aggregation — per
    // (class, term) counts plus per-class totals plus |V| — so the
    // whole fit is two hash-agg shuffles over the token stream and two
    // broadcast-sized side aggregates; no iteration, no driver math.
    // Add-one smoothing; log-likelihoods are ln-quantized to integer
    // 1e-4 units at the spec'd boundary (the q_surprisal discipline —
    // both engines round the same IEEE double, so the model is
    // hash-checkable). Output = the present-(class, term) model table;
    // absent terms take the class's smoothing floor, derived from the
    // same totals (see q_nb_classify).
    "q_nb_train" -> Q(
      s"""WITH $duckNbCounts
        |SELECT cnt.lang, cnt.term, cnt.c,
        |  CAST(round(-ln((cnt.c + 1) / CAST(tot.tl + v.v AS DOUBLE))
        |    * 10000) AS BIGINT) AS micro4
        |FROM cnt JOIN tot ON cnt.lang = tot.lang, v""".stripMargin) {
      (s, dir) =>
      val d = table(s, dir, "documents")
      val tok = docTerms(d)
      val cnt = tok.groupBy("lang", "term").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("lang").agg(sum("c").as("tl"))
      val v = tok.agg(countDistinct("term").as("v"))
      cnt.join(tot, "lang").crossJoin(broadcast(v))
        .select(col("lang"), col("term"), col("c"),
          round(-log((col("c") + 1) /
            (col("tl") + col("v")).cast("double")) * 10000, 0)
            .cast("long").as("micro4"))
    },

    // L69b — Naive Bayes SERVING: classify every document with the
    // model q_nb_train fits, certifying the full train→serve loop in
    // one query (the model CTEs are replayed verbatim). Scoring is the
    // broadcast-model pattern: the per-doc term-frequency table joins
    // the (class, term) log-likelihood model — class-count × vocab
    // rows, broadcast — so the corpus-sized stream shuffles once for
    // the tf aggregation and never again; unseen (class, term) pairs
    // coalesce to the class's smoothing floor -ln(1/(Tl+|V|)). The
    // predicted class minimizes total surprisal (prior + Σ tf·micro),
    // integer arithmetic end to end, ties broken by class name — a
    // total order, so the argmin is deterministic on both engines.
    "q_nb_classify" -> Q(nbClassifySql)(nbClassify),

    // L88 — multiclass confusion matrix of the L69 Naive-Bayes lang-ID
    // model (the 5x5 evaluation companion to q_kappa's 2x2): which
    // true language gets mistaken for which — THE diagnostic a
    // per-class accuracy number hides. Registry composition at the
    // source level: the rollup consumes the literally-same nbClassify
    // derivation (and the oracle wraps the identical SQL), so the hash
    // certifies model + serving + evaluation in one. Output is
    // classes²-bounded at any corpus size.
    "q_confusion" -> Q(
      s"""SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(correct) AS BIGINT) AS n_correct
        |FROM ($nbClassifySql
        |) b GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      nbClassify(s, dir)
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n"), sum("correct").as("n_correct"))
    },

    // L70 — information-gain feature ranking (the NB/fasttext
    // companion: which terms are worth a classifier's vocabulary slot):
    // per term, IG(lang; present) over DOC-level presence. Every
    // entropy is a sum of per-class contributions that are ln-quantized
    // to integer 1e-6 units BEFORE summing — integer sums are
    // order-free, so the classic float-entropy nondeterminism (adding
    // K doubles in shuffle order) is engineered out, same discipline as
    // q_surprisal. The conditional entropy is the exact-rational
    // doc-count weighting of the present/absent sides with one final
    // mirrored double division. Shape: presence is a distinct over the
    // token stream (one shuffle), everything after is vocab-sized;
    // class/total tables broadcast.
    "q_info_gain" -> Q(
      """WITH pres AS (
        |  SELECT DISTINCT doc_id, lang,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |npl AS (SELECT term, lang, CAST(count(*) AS BIGINT) npl
        |        FROM pres GROUP BY 1, 2),
        |np AS (SELECT term, CAST(sum(npl) AS BIGINT) np
        |       FROM npl GROUP BY 1),
        |dl AS (SELECT lang, CAST(count(*) AS BIGINT) dl
        |       FROM documents GROUP BY 1),
        |dd AS (SELECT CAST(count(*) AS BIGINT) d FROM documents),
        |h0 AS (
        |  SELECT CAST(sum(CAST(round(
        |      -(dl / CAST(d AS DOUBLE)) * ln(dl / CAST(d AS DOUBLE))
        |        * 1000000) AS BIGINT)) AS BIGINT) h0
        |  FROM dl, dd),
        |hp AS (
        |  SELECT npl.term, CAST(sum(CAST(round(
        |      -(npl / CAST(np.np AS DOUBLE))
        |        * ln(npl / CAST(np.np AS DOUBLE)) * 1000000)
        |      AS BIGINT)) AS BIGINT) hp
        |  FROM npl JOIN np ON npl.term = np.term GROUP BY 1),
        |ha AS (
        |  SELECT t.term, CAST(sum(
        |      CASE WHEN dl.dl - coalesce(npl.npl, 0) > 0
        |             AND d.d - np.np > 0
        |        THEN CAST(round(
        |          -((dl.dl - coalesce(npl.npl, 0))
        |              / CAST(d.d - np.np AS DOUBLE))
        |            * ln((dl.dl - coalesce(npl.npl, 0))
        |              / CAST(d.d - np.np AS DOUBLE)) * 1000000) AS BIGINT)
        |        ELSE 0 END) AS BIGINT) ha
        |  FROM (SELECT DISTINCT term FROM npl) t
        |  CROSS JOIN dl
        |  LEFT JOIN npl ON npl.term = t.term AND npl.lang = dl.lang
        |  JOIN np ON np.term = t.term, dd d
        |  GROUP BY 1)
        |SELECT np.term, np.np AS n_docs,
        |  CAST(h0.h0 - CAST(round(
        |    (np.np * hp.hp + (d.d - np.np) * ha.ha)
        |      / CAST(d.d AS DOUBLE)) AS BIGINT) AS BIGINT) AS ig_micro
        |FROM np
        |JOIN hp ON hp.term = np.term
        |JOIN ha ON ha.term = np.term, h0, dd d""".stripMargin) {
      (s, dir) =>
      val d0 = table(s, dir, "documents")
      // quantize each class's -p·ln(p) to integer BEFORE summing —
      // entropy as an order-free integer sum (operand order mirrors the
      // oracle: ((-x)·ln(x))·1e6, x = n/total-as-double)
      def plogp(n: org.apache.spark.sql.Column,
                tot: org.apache.spark.sql.Column) = {
        val x = n / tot.cast("double")
        round(-x * log(x) * 1000000, 0).cast("long")
      }
      val pres = d0.select(d0("doc_id"), d0("lang"),
        explode(TextOps.tokens(d0("text"))).as("term")).distinct()
      // npl feeds FOUR branches (np, hp, ha's term-distinct + left
      // join) — eager-checkpoint per the EAGER CHECKPOINT DISCIPLINE
      // (ops/llm/Dedup.scala) so the corpus-token explode+distinct
      // shuffle runs ONCE; everything above npl is vocab-sized. The
      // initial plan carried 31 Exchanges (PlanScan census) with
      // the token pass replicated under each branch — runtime exchange
      // reuse usually collapses them, but reuse is opportunistic and a
      // 100 TB token stream re-scanned per branch is the failure mode
      // the discipline exists for.
      val npl = pres.groupBy("term", "lang").agg(count(lit(1)).as("npl"))
        .localCheckpoint(true)
      val np = npl.groupBy("term").agg(sum("npl").as("np"))
      val dl = d0.groupBy("lang").agg(count(lit(1)).as("dl"))
      val dd = d0.agg(count(lit(1)).as("d"))
      val h0 = dl.crossJoin(broadcast(dd))
        .agg(sum(plogp(col("dl"), col("d"))).as("h0"))
      val hp = npl.join(np, "term").groupBy("term")
        .agg(sum(plogp(col("npl"), col("np"))).as("hp"))
      val na = col("dl") - coalesce(col("npl"), lit(0L))
      val ha = npl.select("term").distinct()
        .crossJoin(broadcast(dl))
        .join(npl, Seq("term", "lang"), "left")
        .join(broadcast(np), "term")
        .crossJoin(broadcast(dd))
        .select(col("term"),
          when(na > 0 && col("d") - col("np") > 0,
            plogp(na, col("d") - col("np"))).otherwise(0L).as("ca"))
        .groupBy("term").agg(sum("ca").as("ha"))
      np.join(hp, "term").join(ha, "term")
        .crossJoin(broadcast(h0)).crossJoin(broadcast(dd))
        .select(col("term"), col("np").as("n_docs"),
          (col("h0") - round(
            (col("np") * col("hp") + (col("d") - col("np")) * col("ha"))
              / col("d").cast("double"), 0).cast("long")).as("ig_micro"))
    },

    // L54 — DSIR-style importance resampling (Xie et al. 2023,
    // "Data Selection for Language Models via Importance Resampling"),
    // exact-integer form. Hashed n-gram importance: tokens hash to 256
    // buckets (first 2 sha256 hex chars); the target-domain indicator is
    // the documented stub n_chars >= 400 (a real pipeline plugs in its
    // curated-set membership here — the plumbing is identical). Each
    // token occurrence votes 1 iff its bucket is over-represented in the
    // target, decided by the EXACT integer cross-multiplication
    // tc*rtot > rc*ttot (no float log-ratio); a doc's importance is its
    // target-like token fraction in ppm. The resample is then true
    // PPSWOR via the L49 min-of-digests reduction with weight
    // 1 + ppm//125000 ∈ [1,9]. Scale shape: the two corpus-level count
    // tables are 256 rows + 1 row, broadcast back onto the token stream
    // (no token-key shuffle); per-doc sums partial-agg map-side; the
    // per-lang cut is two-phase WindowGroupLimit.
    "q_importance_resample" -> Q(
      """WITH norm AS (
        |  SELECT doc_id, lang, n_chars, lower(trim(text)) AS q
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, lang, n_chars >= 400 AS is_tgt,
        |    unnest(string_split_regex(q, '\s+')) AS t
        |  FROM norm),
        |b AS (
        |  SELECT doc_id, lang, is_tgt, substr(sha256(t), 1, 2) AS bk
        |  FROM occ),
        |bc AS (
        |  SELECT bk, count(*) AS rc,
        |    sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tc
        |  FROM b GROUP BY 1),
        |tot AS (
        |  SELECT count(*) AS rtot,
        |    sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS ttot
        |  FROM b),
        |score AS (
        |  SELECT doc_id, lang,
        |    sum(CASE WHEN tc * rtot > rc * ttot THEN 1 ELSE 0 END) AS s,
        |    count(*) AS n
        |  FROM b JOIN bc USING (bk) CROSS JOIN tot
        |  GROUP BY 1, 2),
        |wts AS (
        |  SELECT sc.doc_id, sc.lang,
        |    CAST(1 + ((s * 1000000) // n) // 125000 AS BIGINT) AS w, nm.q
        |  FROM score sc JOIN norm nm ON nm.doc_id = sc.doc_id),
        |keys AS (
        |  SELECT doc_id, lang, w,
        |    min(sha256(q || ':' || CAST(j AS VARCHAR))) AS skey
        |  FROM wts,
        |  LATERAL (SELECT unnest(generate_series(1, w)) AS j) js
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, lang, CAST(w AS INTEGER) AS w,
        |  CAST(rk AS INTEGER) AS rk
        |FROM (SELECT doc_id, lang, w, row_number() OVER (
        |        PARTITION BY lang ORDER BY skey, doc_id) AS rk
        |      FROM keys)
        |WHERE rk <= 15""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val norm = d.select(d("doc_id"), d("lang"), d("n_chars"),
        TextOps.normalized(d("text")).as("q"))
      val b = norm.select(col("doc_id"), col("lang"),
          (col("n_chars") >= 400).as("is_tgt"),
          explode(split(col("q"), "\\s+")).as("t"))
        .select(col("doc_id"), col("lang"), col("is_tgt"),
          substring(sha2(col("t"), 256), 1, 2).as("bk"))
      // Two-phase stat build, ONE stat scan: rollup(bk) yields the 256
      // bucket rows AND the grand-total row (bk null) from the same
      // aggregation — bk is substr(sha256), never naturally null, so
      // the null row is unambiguously the total. The 257-row result is
      // collected and re-injected as a literal broadcast table +
      // literal totals (the classic two-job scalar-stats pattern):
      // leaving bc/tot as lazy DataFrames re-plans the token
      // explode+sha256 pass once per consumer (the pushed-down bk
      // null-filters defeat both ReuseExchange and AQE stage reuse),
      // i.e. three full passes instead of two.
      val statsRows = b.rollup("bk").agg(
        count(lit(1)).as("rc"),
        coalesce(sum(when(col("is_tgt"), 1L).otherwise(0L)), lit(0L))
          .as("tc")).collect()
      import s.implicits._
      val bc = statsRows.filter(!_.isNullAt(0))
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.toDF("bk", "rc", "tc")
      val (rtot, ttot) = statsRows.find(_.isNullAt(0))
        .map(r => (r.getLong(1), r.getLong(2))).getOrElse((0L, 0L))
      val score = b.join(broadcast(bc), "bk")
        .select(col("doc_id"), col("lang"),
          when(col("tc") * lit(rtot) > col("rc") * lit(ttot), 1L)
            .otherwise(0L).as("v"))
        .groupBy("doc_id", "lang")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
      val keys = score
        .select(col("doc_id"), col("lang"),
          expr("cast(1 + ((s * 1000000) div n) div 125000 as int)").as("w"))
        .join(norm.select("doc_id", "q"), "doc_id")
        .select(col("doc_id"), col("lang"), col("w"),
          explode(sequence(lit(1), col("w"))).as("j"), col("q"))
        .select(col("doc_id"), col("lang"), col("w"),
          sha2(concat_ws(":", col("q"), col("j")), 256).as("skey"))
        .groupBy("doc_id", "lang", "w").agg(min("skey").as("skey"))
      val wL = Window.partitionBy("lang").orderBy(col("skey"), col("doc_id"))
      keys.select(col("doc_id"), col("lang"), col("w"),
          row_number().over(wL).as("rk"))
        .filter(col("rk") <= 15)
    },

    // L55 — per-document novelty scoring: what fraction of a doc's
    // distinct 3-gram shingles does the corpus see FIRST in this doc
    // (first = lowest doc_id)? The dedup-impact metric at document
    // grain — exact duplicates of an earlier doc score 0, the earliest
    // copy keeps its novelty, and boilerplate-heavy docs sit low. Plan:
    // shingle-explode → first-seen agg (shuffle 1, partial min) → join
    // back on shingle (shuffle 2) → per-doc partial-agg'd counts → the
    // bottom-40 "most redundant" cut via global sort+limit
    // (TakeOrderedAndProject: each task forwards ≤40 rows) with the rank
    // numbered over the ≤40 survivors — same limit-then-number rewrite
    // as q_curriculum. Shares the duckShingles CTE so the shingle unit
    // stays byte-identical with the dedup family.
    "q_novelty" -> Q(
      s"""WITH $duckFirstSeen,
        |per AS (
        |  SELECT e.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new
        |  FROM ex e JOIN fs f ON e.g = f.g GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, n_shingles, n_new,
        |    (n_new * 1000000) // n_shingles AS novelty_ppm
        |  FROM per)
        |SELECT doc_id, n_shingles, n_new,
        |  CAST(novelty_ppm AS BIGINT) AS novelty_ppm,
        |  CAST(rk AS INTEGER) AS rk
        |FROM (SELECT doc_id, n_shingles, n_new, novelty_ppm,
        |        row_number() OVER (ORDER BY novelty_ppm, doc_id) AS rk
        |      FROM sc)
        |WHERE rk <= 40""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val per = firstSeenCounts(d)
        .select(col("doc_id"), col("n_shingles"), col("n_new"),
          expr("(n_new * 1000000) div n_shingles").as("novelty_ppm"))
      val wG = Window.orderBy(col("novelty_ppm"), col("doc_id"))
      per.orderBy(col("novelty_ppm"), col("doc_id")).limit(40)
        .withColumn("rk", row_number().over(wG))
    },

    // L57 — token-balanced training-shard assignment under a
    // deterministic global shuffle: the "materialize the dataloader
    // shards" step. Order = (sha256(doc_id), doc_id) — a deterministic
    // pseudo-random permutation both engines replay — and a doc lands in
    // the shard its FIRST token falls into at a 50k-token stride:
    // shard = exclusive-prefix-tokens // 50000. The running total is the
    // distributed ops/PrefixSum (range partition + local cumsums +
    // broadcast offsets), so shard boundaries come from exact integer
    // arithmetic on a scale-shaped plan, not a single-partition window.
    // Report: per-shard doc/token totals (shard skew is the thing this
    // op exists to bound — each shard carries ≤ stride + max_doc_tokens).
    "q_shard_tokens" -> Q(
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |      AS BIGINT) AS n_tok,
        |    sha256(CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY skey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS tok_cum
        |  FROM t)
        |SELECT CAST((tok_cum - n_tok) // 50000 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val t = d.select(d("doc_id"),
        size(TextOps.tokens(d("text"))).cast("long").as("n_tok"),
        sha2(d("doc_id").cast("string"), 256).as("skey"))
      graft.ops.PrefixSum.runningSum(t,
          Seq(col("skey").asc, col("doc_id").asc), col("n_tok"), "tok_cum")
        .select(expr("(tok_cum - n_tok) div 50000").as("shard"),
          col("n_tok"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    },

    // L58 — vocabulary growth curve (Heaps' law at corpus grain): how
    // many distinct 3-gram shingles has the corpus accumulated after
    // each 500-doc-id bucket, vs tokens read. The scale trick: cumulative
    // DISTINCT needs no giant distinct state — every distinct shingle is
    // counted exactly once at its first-seen doc (the q_novelty n_new),
    // so the curve is just TWO running totals over doc order, and both
    // share ONE range exchange via PrefixSum.runningSums. The growth
    // curve is what tells you when a source is mined out (diminishing
    // new-vocab per token) — the stop-crawling signal.
    "q_vocab_growth" -> Q(
      s"""WITH $duckFirstSeen,
        |per AS (
        |  SELECT e.doc_id,
        |    sum(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END) AS n_new
        |  FROM ex e JOIN fs f ON e.g = f.g GROUP BY 1),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
        |      AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT p.doc_id,
        |    sum(t.n_tok) OVER w AS tok_cum,
        |    sum(p.n_new) OVER w AS vocab_cum
        |  FROM per p JOIN tok t ON p.doc_id = t.doc_id
        |  WINDOW w AS (ORDER BY p.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(doc_id // 500 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(tok_cum) AS BIGINT) AS toks_cum,
        |  CAST(max(vocab_cum) AS BIGINT) AS vocab_cum
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val per = firstSeenCounts(d).select("doc_id", "n_new")
      val tok = d.select(d("doc_id"),
        size(TextOps.tokens(d("text"))).cast("long").as("n_tok"))
      graft.ops.PrefixSum.runningSums(per.join(tok, "doc_id"),
          Seq(col("doc_id").asc),
          Seq(col("n_tok") -> "tok_cum", col("n_new") -> "vocab_cum"))
        .select(expr("doc_id div 500").as("bucket"),
          col("tok_cum"), col("vocab_cum"))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"),
          max("tok_cum").as("toks_cum"), max("vocab_cum").as("vocab_cum"))
    },

    // L62 — Pareto-skyline selection on the length-vs-lexical-diversity
    // frontier: keep every doc no other doc beats on BOTH n_chars and
    // type-token ratio (ppm, exact integer division). The oracle is the
    // DEFINITION (NOT EXISTS dominance anti-join), the engine runs the
    // per-x-max + strictly-preceding running-max frontier shape — the
    // hash certifies the algorithm against the definition, duplicates
    // and tie cases included.
    "q_skyline" -> Q(
      """WITH p AS (
        |  SELECT doc_id, n_chars AS len,
        |    (len(list_distinct(toks)) * 1000000) // len(toks) AS ttr_ppm
        |  FROM (
        |    SELECT doc_id, n_chars,
        |      list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x <> '') AS toks
        |    FROM documents)
        |  WHERE len(toks) > 0)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(len AS BIGINT) AS len,
        |  CAST(ttr_ppm AS BIGINT) AS ttr_ppm
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.len >= a.len AND b.ttr_ppm >= a.ttr_ppm
        |    AND (b.len > a.len OR b.ttr_ppm > a.ttr_ppm))""".stripMargin) {
      (s, dir) =>
        val d = table(s, dir, "documents")
        val toks = filter(TextOps.tokens(d("text")), t => t =!= "")
        val p = d.select(d("doc_id"), d("n_chars").as("len"),
            toks.as("toks"))
          .filter(size(col("toks")) > 0)
          .select(col("doc_id"), col("len"),
            expr("(size(array_distinct(toks)) * 1000000L) div size(toks)")
              .as("ttr_ppm"))
        graft.ops.Skyline(p)
          .toDF("doc_id", "len", "ttr_ppm")
    },

    // L66 — CCNet-style perplexity bucketing: per-LANGUAGE terciles of
    // unigram-LM surprisal density (the published head/middle/tail split
    // used to stratify CommonCrawl before training). Density is exact
    // integer (the q_surprisal micro-quantized sum div token count);
    // boundaries are rank-SELECTED values at ceil(n/3) / ceil(2n/3)
    // within each lang — never interpolated, so bucket membership is a
    // pure integer compare and the whole assignment hash-checks. Scale
    // shape: the ranking window partitions BY LANG (parallel across
    // languages, never a single global sort) and the 2-row-per-lang
    // boundary table broadcasts back.
    "q_ppl_bucket" -> Q(
      s"""WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split_regex(lower(trim(text)),
        |    '\\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM tok
        |       GROUP BY 1, 2, 3),
        |${LlmQueries.duckTermCosts},
        |per AS (
        |  SELECT tf.doc_id, tf.lang,
        |    CAST(sum(tf.tf * m.micro) AS BIGINT) AS sur,
        |    CAST(sum(tf.tf) AS BIGINT) AS n_tok
        |  FROM tf JOIN m ON tf.term = m.term GROUP BY 1, 2),
        |dens AS (
        |  SELECT doc_id, lang, CAST(sur // n_tok AS BIGINT) AS density
        |  FROM per),
        |ranked AS (
        |  SELECT lang, density,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY density, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM dens),
        |bounds AS (
        |  SELECT lang,
        |    max(CASE WHEN rn = (n + 2) // 3 THEN density END) AS b1,
        |    max(CASE WHEN rn = (2 * n + 2) // 3 THEN density END) AS b2
        |  FROM ranked GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.density,
        |  CASE WHEN d.density <= b.b1 THEN 'head'
        |       WHEN d.density <= b.b2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM dens d JOIN bounds b ON d.lang = b.lang""".stripMargin) {
      (s, dir) =>
        val d = table(s, dir, "documents")
        val tok = docTerms(d)
        val tf = tok.groupBy("doc_id", "lang", "term")
          .agg(count(lit(1)).as("tf"))
        val f = tf.groupBy("term").agg(sum("tf").as("freq"))
        val tot = f.agg(sum("freq").cast("double").as("total"))
        val m = f.crossJoin(broadcast(tot))
          .select(col("term"),
            round(-log(col("freq") / col("total")) * 10000, 0)
              .cast("long").as("micro"))
        val per = tf.join(m, "term").groupBy("doc_id", "lang")
          .agg(sum(col("tf") * col("micro")).cast("long").as("sur"),
            sum("tf").cast("long").as("n_tok"))
        // One row per doc, three skinny columns — materialized ONCE so the
        // token-explode subtree doesn't re-run for both its consumers
        // (the per-lang boundary ranking AND the final assignment join);
        // Spark's lazy re-planning would otherwise duplicate it (same
        // ReuseExchange limitation documented at q_importance_resample,
        // same localCheckpoint discipline as semDedupPairs).
        val dens = per.select(col("doc_id"), col("lang"),
          expr("sur div n_tok").as("density")).localCheckpoint()
        val w = Window.partitionBy("lang")
          .orderBy(col("density").asc, col("doc_id").asc)
        val ranked = dens
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        val bounds = ranked.groupBy("lang").agg(
          max(when(col("rn") === expr("(n + 2) div 3"), col("density")))
            .as("b1"),
          max(when(col("rn") === expr("(2 * n + 2) div 3"), col("density")))
            .as("b2"))
        dens.join(broadcast(bounds), "lang")
          .select(col("doc_id"), col("lang"), col("density"),
            when(col("density") <= col("b1"), "head")
              .when(col("density") <= col("b2"), "middle")
              .otherwise("tail").as("bucket"))
    },
  )
}
