package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.ops.ZOrder
import graft.ops.llm.TextOps

/** Corpus-mining tier: relevance scoring (BM25), collocation mining
  * (PMI), inverted-index construction, character-level diversity
  * profiling, and z-order layout keys — the retrieval/statistics layer a
  * training-data pipeline runs NEXT TO dedup and quality filtering.
  *
  * Oracle strategy (same discipline as LlmQueries): every float that
  * reaches an output is either (a) rounded to an integer micro/ppm unit
  * per ROW before any aggregation — integer sums are order-independent,
  * so partition order can't change a hash — or (b) derived from exact
  * integer cross-multiplication. `ln` is written with the identical
  * operand order on both engines (the q_tfidf/q_surprisal precedent:
  * correctly-rounded IEEE ops on identical inputs agree bit-for-bit).
  */
object MiningQueries {

  /** (doc_id, term) token stream — non-distinct, the tf/df base. */
  private def tok(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents")
    d.select(d("doc_id"), explode(TextOps.tokens(d("text"))).as("term"))
  }

  // DuckDB twin of `tok` (byte-identical tokenization to TextOps.tokens).
  private val duckTok =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
      |    '\s+')) AS term FROM documents)""".stripMargin

  /** Consecutive-token bigram occurrence stream `(x, y)` — the codegen
    * shingle stream split back into its two tokens; the contains-" "
    * filter drops the partial shingle of <2-token docs, and the space
    * round-trip is lossless because tokens are split on `\s+` (they
    * never contain the single-space join character).
    */
  private def bigramPairs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(explode(TextOps.shingleStream(col("text"), 2)).as("g"))
      .filter(col("g").contains(" "))
      .select(substring_index(col("g"), " ", 1).as("x"),
        substring_index(col("g"), " ", -1).as("y"))

  // DuckDB twin of `bigramPairs` (positional unnest over the token list).
  private val duckBigrams =
    """t AS (SELECT string_split_regex(lower(trim(text)), '\s+') toks
      |      FROM documents),
      |bg AS (SELECT toks[i] x, toks[i + 1] y FROM t,
      |  LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g)"""
      .stripMargin

  // user_id and value scaled to 8-bit buckets: `b(event_id, zx, zy)`.
  private[queries] val duckZBins =
    """st AS (SELECT CAST(min(user_id) AS BIGINT) mnx,
      |    CAST(max(user_id) AS BIGINT) mxx,
      |    min(value) mny, max(value) mxy FROM events),
      |b AS (SELECT event_id,
      |  CASE WHEN user_id IS NULL OR mnx IS NULL OR mxx IS NULL
      |      OR mnx = mxx THEN 0
      |    ELSE greatest(0, least(255, CAST(floor(
      |      ((CAST(user_id AS DOUBLE) - CAST(mnx AS DOUBLE)) * 256) /
      |      (CAST(mxx AS DOUBLE) - CAST(mnx AS DOUBLE))) AS BIGINT)))
      |    END zx,
      |  CASE WHEN value IS NULL OR mny IS NULL OR mxy IS NULL
      |      OR mny = mxy THEN 0
      |    ELSE greatest(0, least(255, CAST(floor(
      |      ((CAST(value AS DOUBLE) - CAST(mny AS DOUBLE)) * 256) /
      |      (CAST(mxy AS DOUBLE) - CAST(mny AS DOUBLE))) AS BIGINT)))
      |    END zy
      |  FROM events, st)""".stripMargin

  // The 16-bit Morton key of (zx, zy) as select item `zkey`.
  private[queries] val duckZInterleave =
    """  (((zx >> 0) & 1) << 0) + (((zy >> 0) & 1) << 1) +
      |  (((zx >> 1) & 1) << 2) + (((zy >> 1) & 1) << 3) +
      |  (((zx >> 2) & 1) << 4) + (((zy >> 2) & 1) << 5) +
      |  (((zx >> 3) & 1) << 6) + (((zy >> 3) & 1) << 7) +
      |  (((zx >> 4) & 1) << 8) + (((zy >> 4) & 1) << 9) +
      |  (((zx >> 5) & 1) << 10) + (((zy >> 5) & 1) << 11) +
      |  (((zx >> 6) & 1) << 12) + (((zy >> 6) & 1) << 13) +
      |  (((zx >> 7) & 1) << 14) + (((zy >> 7) & 1) << 15) AS zkey"""
      .stripMargin

  // Per-doc character histograms `h(doc_id, ch, cnt)` of the normalized
  // text.
  private val duckCharHist =
    """s AS (SELECT doc_id, lower(trim(text)) s FROM documents
      |           WHERE length(lower(trim(text))) >= 1),
      |c AS (SELECT doc_id, substr(s, i, 1) ch FROM s,
      |  LATERAL (SELECT unnest(generate_series(1, length(s))) AS i) g),
      |h AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) cnt FROM c
      |      GROUP BY 1, 2)""".stripMargin

  // Spark side of duckCharHist, folded by the one-pass codegen
  // CharHistStats: `(doc_id, n_chars_norm, distinct_chars, stat)`.
  private def charHist(d: DataFrame, stat: Column): DataFrame =
    d.select(d("doc_id"), TextOps.normalized(d("text")).as("s"))
      .filter(length(col("s")) >= 1)
      .select(col("doc_id"), graft.functions.CharHistStats(col("s")).as("h"))
      .select(col("doc_id"),
        col("h.n_chars").as("n_chars_norm"),
        col("h.distinct").as("distinct_chars"), stat)

  val all: Map[String, Q] = Map(

    // BM25 (k1=1.2, b=0.75) relevance of every document against the
    // corpus's own top-5 terms (frequency desc, term asc — a total order,
    // so the probe set is deterministic). The per-(doc,term) saturation
    // term tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is cross-multiplied by
    // 20·S into the all-integer num/den pair (avgdl = S/N, S = Σdl):
    //   num = 44·tf·S,  den = 20·S·tf + 6·S + 18·dl·N
    // so the only float ops are ONE division, ONE multiply by the
    // integer idf_micro, and ONE round — then integer sums. Shapes: probe
    // terms and the (N,S) row broadcast; tf/dl shuffle on their keys;
    // the top-20 cut is a TakeOrderedAndProject (partial top-k per map
    // task), never a global sort.
    "q_bm25" -> Q(
      s"""WITH $duckTok,
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf
        |       FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl FROM tf
        |       GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) n_docs,
        |              CAST(sum(dl) AS BIGINT) s_tok FROM dl),
        |freq AS (SELECT term, CAST(sum(tf) AS BIGINT) freq FROM tf
        |         GROUP BY 1),
        |probe AS (SELECT term FROM freq ORDER BY freq DESC, term LIMIT 5),
        |dft AS (SELECT t.term, CAST(count(DISTINCT t.doc_id) AS BIGINT) df
        |        FROM tf t JOIN probe p ON t.term = p.term GROUP BY 1),
        |idf AS (SELECT term,
        |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * 10000)
        |         AS BIGINT) idf_micro FROM dft, st),
        |contrib AS (SELECT t.doc_id,
        |    CAST(round(CAST(i.idf_micro AS DOUBLE) *
        |      (CAST(44 * t.tf * st.s_tok AS DOUBLE) /
        |       CAST(20 * st.s_tok * t.tf + 6 * st.s_tok
        |            + 18 * d.dl * st.n_docs AS DOUBLE))) AS BIGINT) c
        |  FROM tf t JOIN idf i ON t.term = i.term
        |  JOIN dl d ON t.doc_id = d.doc_id, st)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS bm25_micro,
        |  CAST(count(*) AS BIGINT) AS n_probe_terms
        |FROM contrib GROUP BY 1
        |ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
      val tf = tok(s, dir).groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val st = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("s_tok"))
      val probe = tf.groupBy("term").agg(sum("tf").as("freq"))
        .orderBy(col("freq").desc, col("term")).limit(5).select("term")
      val dft = tf.join(broadcast(probe), "term")
        .groupBy("term").agg(countDistinct("doc_id").as("df"))
      val idf = dft.crossJoin(broadcast(st))
        .select(col("term"),
          round(log((col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1)) * 10000)
            .cast("long").as("idf_micro"))
      val contrib = tf.join(broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st))
        .select(col("doc_id"),
          round(col("idf_micro").cast("double") *
            ((lit(44) * col("tf") * col("s_tok")).cast("double") /
             (lit(20) * col("s_tok") * col("tf") + lit(6) * col("s_tok")
               + lit(18) * col("dl") * col("n_docs")).cast("double")))
            .cast("long").as("c"))
      contrib.groupBy("doc_id")
        .agg(sum("c").cast("long").as("bm25_micro"),
          count(lit(1)).as("n_probe_terms"))
        .orderBy(col("bm25_micro").desc, col("doc_id")).limit(20)
    },

    // Pointwise mutual information over consecutive-token bigrams — the
    // classic collocation miner (and the feature behind "glued phrase"
    // tokenizer audits). pmi = ln((c_xy/Nb) / ((c_x/Nu)(c_y/Nu))),
    // rounded to integer micro per PAIR before the top-100 cut (pmi
    // desc, x, y — total order). The two corpus totals ride in as 1-row
    // broadcast aggregates; unigram counts join per side.
    "q_pmi" -> Q(
      s"""WITH $duckBigrams,
        |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) c_xy FROM bg
        |        GROUP BY 1, 2),
        |uni AS (SELECT term, CAST(count(*) AS BIGINT) c FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) term
        |    FROM documents) GROUP BY 1),
        |nu AS (SELECT CAST(sum(c) AS BIGINT) n_uni FROM uni),
        |nb AS (SELECT CAST(sum(c_xy) AS BIGINT) n_big FROM cxy)
        |SELECT x, y, c_xy,
        |  CAST(round(ln((CAST(c_xy AS DOUBLE) / CAST(n_big AS DOUBLE)) /
        |    ((CAST(ux.c AS DOUBLE) / CAST(n_uni AS DOUBLE)) *
        |     (CAST(uy.c AS DOUBLE) / CAST(n_uni AS DOUBLE)))) * 10000)
        |    AS BIGINT) AS pmi_micro
        |FROM cxy JOIN uni ux ON cxy.x = ux.term
        |         JOIN uni uy ON cxy.y = uy.term, nu, nb
        |WHERE c_xy >= 5
        |ORDER BY pmi_micro DESC, x, y LIMIT 100""".stripMargin) {
      (s, dir) =>
      val pairs = bigramPairs(s, dir)
      val cxy = pairs.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      val uni = tok(s, dir).groupBy("term").agg(count(lit(1)).as("c"))
      val nu = uni.agg(sum("c").as("n_uni"))
      val nb = cxy.agg(sum("c_xy").as("n_big"))
      // no broadcast hint on uni: vocabulary grows with the corpus — AQE
      // broadcasts it only while it is actually small.
      cxy.filter(col("c_xy") >= 5)
        .join(uni.select(col("term").as("x"), col("c").as("cx")), "x")
        .join(uni.select(col("term").as("y"), col("c").as("cy")), "y")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .select(col("x"), col("y"), col("c_xy"),
          round(log((col("c_xy").cast("double") /
              col("n_big").cast("double")) /
            ((col("cx").cast("double") / col("n_uni").cast("double")) *
             (col("cy").cast("double") / col("n_uni").cast("double"))))
            * 10000).cast("long").as("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("x"), col("y")).limit(100)
    },

    // X54 — association-rule mining over user event baskets (the
    // market-basket support/confidence/lift kernel — the recommender /
    // behavioral-segmentation companion to q_pmi's text collocations).
    // Basket = the distinct event types a user ever fired. Spark-first
    // shape: ONE user-key shuffle builds the sorted basket array; pairs
    // are generated MAP-SIDE by codegen'd array higher-order functions
    // (fan-out bounded by the event-type vocabulary, C(|V|,2) per user
    // — never a user-key self-join, which would shuffle the (user,
    // item) table twice and explode skewed users quadratically in the
    // join); item counts ride the same basket table. support/confidence
    // are exact integer ppm divisions; lift is the one mirrored double
    // division (n_both·1e6 holds in BIGINT to ~9e12 baskets; beyond:
    // DECIMAL(38) per the X51 pattern). Output is item-pair-sized.
    "q_assoc_rules" -> Q(
      """WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
        |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) nu FROM ue),
        |it AS (SELECT event_type, CAST(count(*) AS BIGINT) c FROM ue
        |       GROUP BY 1),
        |pr AS (SELECT l.event_type a, r.event_type b,
        |    CAST(count(*) AS BIGINT) n_both
        |  FROM ue l JOIN ue r ON l.user_id = r.user_id
        |    AND l.event_type < r.event_type
        |  GROUP BY 1, 2)
        |SELECT a, b, n_both, ia.c AS n_a, ib.c AS n_b,
        |  (n_both * 1000000) // nu AS support_ppm,
        |  (n_both * 1000000) // ia.c AS conf_ppm,
        |  CAST(round(1000000 * (CAST(nu AS DOUBLE)
        |      * CAST(n_both AS DOUBLE))
        |    / (CAST(ia.c AS DOUBLE) * CAST(ib.c AS DOUBLE))) AS BIGINT)
        |    AS lift_ppm
        |FROM pr JOIN it ia ON ia.event_type = pr.a
        |        JOIN it ib ON ib.event_type = pr.b, nu
        |WHERE n_both >= 5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
      // feeds the pair explode, the item counts, AND the basket total —
      // eager checkpoint keeps the user exchange single-run (EAGER
      // CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala)
      val baskets = e.select(col("user_id"), col("event_type")).distinct()
        .groupBy("user_id")
        .agg(sort_array(collect_set(col("event_type"))).as("items"))
        .localCheckpoint(true)
      val pairs = baskets.select(explode(expr(
          "flatten(transform(items, (x, i) -> transform(" +
            "slice(items, i + 2, size(items)), " +
            "y -> struct(x AS a, y AS b))))")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val pr = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_both"))
      val it = baskets.select(explode(col("items")).as("event_type"))
        .groupBy("event_type").agg(count(lit(1)).as("c"))
      val nu = baskets.agg(count(lit(1)).as("nu"))
      // item vocabulary is a small enum (unlike q_pmi's open text
      // vocabulary) — the broadcast hints are safe by construction
      pr.filter(col("n_both") >= 5)
        .join(broadcast(it.select(col("event_type").as("a"),
          col("c").as("n_a"))), "a")
        .join(broadcast(it.select(col("event_type").as("b"),
          col("c").as("n_b"))), "b")
        .crossJoin(broadcast(nu))
        .select(col("a"), col("b"), col("n_both"), col("n_a"), col("n_b"),
          expr("(n_both * 1000000) div nu").as("support_ppm"),
          expr("(n_both * 1000000) div n_a").as("conf_ppm"),
          round(lit(1000000)
              * (col("nu").cast("double") * col("n_both").cast("double"))
            / (col("n_a").cast("double") * col("n_b").cast("double")))
            .cast("long").as("lift_ppm"))
    },

    // L76 — term-frequency spectrum + Simple Good–Turing adjusted
    // counts (the count-of-counts profile: Zipf-tail diagnostics and
    // the unseen-mass estimate behind every smoothed LM the pipeline
    // scores with — q_surprisal/q_ngram_lm's calibration companion).
    // r* = (r+1)·N_{r+1}/N_r in exact integer micro units ((r+1)·
    // N_{r+1}·1e6 ≤ 1e6·(T+N₁) holds in BIGINT to ~9e12 corpus tokens;
    // beyond: DECIMAL(38) per the X51 pattern); absent N_{r+1}
    // coalesces to 0 (the raw-count fallback band, reported as-is).
    // Scale: token explode → term-key shuffle → the spectrum rollup is
    // distinct-frequency-sized (≈ O(√T) rows by Zipf) and the GT shift
    // is a broadcast self-join on r+1.
    "q_freq_spectrum" -> Q(
      s"""WITH $duckTok,
        |tf AS (SELECT term, CAST(count(*) AS BIGINT) r FROM tok
        |       GROUP BY 1),
        |spec AS (SELECT r, CAST(count(*) AS BIGINT) n_terms FROM tf
        |         GROUP BY 1)
        |SELECT s.r, s.n_terms,
        |  coalesce((1000000 * (s.r + 1) * nx.n_terms) // s.n_terms, 0)
        |    AS gt_rstar_micro
        |FROM spec s LEFT JOIN spec nx ON nx.r = s.r + 1""".stripMargin) {
      (s, dir) =>
      // feeds both sides of the GT shift join — eager checkpoint keeps
      // the token scan + two shuffles single-run (EAGER CHECKPOINT
      // DISCIPLINE, ops/llm/Dedup.scala)
      val spec = tok(s, dir).groupBy("term").agg(count(lit(1)).as("r"))
        .groupBy("r").agg(count(lit(1)).as("n_terms"))
        .localCheckpoint(true)
      val nxt = spec.select((col("r") - 1).as("r"),
        col("n_terms").as("n_next"))
      spec.join(broadcast(nxt), Seq("r"), "left")
        .select(col("r"), col("n_terms"),
          coalesce(expr("(1000000 * (r + 1) * n_next) div n_terms"),
            lit(0L)).as("gt_rstar_micro"))
    },

    // L81 — Zipf slope fit over the top-1000 ranks (the power-law
    // exponent: "is this corpus natural language?" — slope ≈ −1 for
    // clean text, the q_freq_spectrum diagnostic reduced to one
    // number). ln(rank) and ln(count) are quantized to integer micro
    // units PER POINT (the q_regression discipline: never sum raw
    // doubles), the five sufficient statistics are BIGINT sums over
    // the fixed top-K table, and the normal-equation cross-products
    // n·Σxy − Σx·Σy are DECIMAL(38) (BIGINT overflows at K=1000 ×
    // micro² magnitudes); slope and intercept are the mirrored double
    // tail. The top-K cut is a TakeOrderedAndProject total order
    // (count desc, term) — rank is then a window over the K-row table,
    // bounded by construction (the q_survival precedent). Scale: ONE
    // token shuffle; everything after is K-sized.
    "q_zipf_slope" -> Q(
      s"""WITH $duckTok,
        |tf AS (SELECT term, CAST(count(*) AS BIGINT) c FROM tok
        |       GROUP BY 1),
        |top AS (SELECT term, c FROM tf ORDER BY c DESC, term LIMIT 1000),
        |rk AS (SELECT c,
        |    CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT) rnk
        |  FROM top),
        |pts AS (SELECT
        |    CAST(round(1000000 * ln(CAST(rnk AS DOUBLE))) AS BIGINT) x,
        |    CAST(round(1000000 * ln(CAST(c AS DOUBLE))) AS BIGINT) y
        |  FROM rk),
        |m AS (SELECT CAST(count(*) AS BIGINT) n,
        |    CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
        |    CAST(sum(x * y) AS BIGINT) sxy,
        |    CAST(sum(x * x) AS BIGINT) sxx
        |  FROM pts),
        |d AS (SELECT n, sx, sy,
        |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy num,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx den
        |  FROM m)
        |SELECT n AS n_ranks,
        |  CAST(round(1000000 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |    AS BIGINT) AS slope_micro,
        |  CAST(round((CAST(sy AS DOUBLE)
        |      - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT)
        |    AS intercept_micro
        |FROM d WHERE den > 0""".stripMargin) { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val top = tok(s, dir).groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(1000)
        // bounded at K rows by construction — the global rank window
        // below runs over this table only (q_survival precedent)
        .localCheckpoint(true)
      val rk = top.withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("term"))).cast("long"))
      val pts = rk.select(
        round(lit(1000000) * log(col("rnk").cast("double")))
          .cast("long").as("x"),
        round(lit(1000000) * log(col("c").cast("double")))
          .cast("long").as("y"))
      val m = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val num = col("n").cast(dec) * col("sxy") -
        col("sx").cast(dec) * col("sy")
      val den = col("n").cast(dec) * col("sxx") -
        col("sx").cast(dec) * col("sx")
      val slopeD = num.cast("double") / den.cast("double")
      m.select(col("n"), col("sx"), col("sy"), num.as("num"),
          den.as("den"))
        .filter(col("den") > 0)
        .select(col("n").as("n_ranks"),
          round(lit(1000000) * col("num").cast("double")
            / col("den").cast("double")).cast("long").as("slope_micro"),
          round((col("sy").cast("double")
            - (col("num").cast("double") / col("den").cast("double"))
              * col("sx").cast("double")) / col("n").cast("double"))
            .cast("long").as("intercept_micro"))
    },

    // Inverted-index construction: ordered posting lists for the 200
    // highest-df terms (df desc, term asc — total order). The postings
    // JSON uses the q_topk_collect trick (sorted array → to_json) so the
    // list is hash-comparable across engines; the top-200 cut is a
    // TakeOrderedAndProject and the posting build only runs for the 200
    // surviving terms (broadcast semi-ish join), never the full
    // vocabulary.
    "q_inverted_index" -> Q(
      s"""WITH $duckTok,
        |post AS (SELECT DISTINCT term, doc_id FROM tok),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) df FROM post
        |        GROUP BY 1),
        |top AS (SELECT term, df FROM dft ORDER BY df DESC, term LIMIT 200)
        |SELECT top.term, top.df,
        |  to_json(list(post.doc_id ORDER BY post.doc_id)) AS postings
        |FROM top JOIN post ON top.term = post.term
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val post = tok(s, dir).select("term", "doc_id").distinct()
      val top = post.groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term")).limit(200)
      post.join(broadcast(top), "term")
        .groupBy("term", "df")
        .agg(to_json(sort_array(collect_list(col("doc_id"))))
          .as("postings"))
        .select("term", "df", "postings")
    },

    // Character-level diversity profile — the cheap "keyboard-mash /
    // single-char spam" quality signal: normalized length, distinct
    // chars, and a Gini impurity over the char histogram in exact ppm:
    // gini_ppm = round(1e6·(n² − Σc²)/n²). Σc² ≤ n² ≤ ~1e8 per doc and
    // 1e6·(n²−Σc²) ≤ ~1e14 — exact in BIGINT and in double, so the one
    // division is deterministic. The histogram facts (n, distinct, Σc²)
    // come from the one-pass codegen CharHistStats expression: no char
    // ever shuffles, the query is a straight projection over the scan
    // (the interpreted-HOF form measured 66 s at sf0.1; this is ~0.5 s).
    "q_char_diversity" -> Q(
      s"""WITH $duckCharHist,
        |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) n,
        |             CAST(count(*) AS BIGINT) d,
        |             CAST(sum(cnt * cnt) AS BIGINT) ss FROM h GROUP BY 1)
        |SELECT doc_id, n AS n_chars_norm, d AS distinct_chars,
        |  CAST(round(CAST((n * n - ss) * 1000000 AS DOUBLE) /
        |             CAST(n * n AS DOUBLE)) AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin) { (s, dir) =>
      charHist(table(s, dir, "documents"), col("h.sum_sq").as("ss"))
        .select(col("doc_id"), col("n_chars_norm"), col("distinct_chars"),
          round(((col("n_chars_norm") * col("n_chars_norm") - col("ss")) *
              lit(1000000L)).cast("double") /
            (col("n_chars_norm") * col("n_chars_norm")).cast("double"))
            .cast("long").as("gini_ppm"))
    },

    // L106 — per-doc character Shannon entropy: the
    // gibberish/encoding-noise detector next to q_char_diversity's Gini
    // (entropy separates "few chars, evenly used" from "many chars,
    // one dominating" — the two signals disagree exactly on the spammy
    // cases). Integer micro-nats under the established float-entropy
    // discipline (q_user_entropy / q_info_gain): each char's
    // −1e6·p·ln p term HALF_UP-rounded INDEPENDENTLY, then summed —
    // order-free, so the one-pass expression's hashmap order and the
    // oracle's GROUP BY order cannot diverge. The facts ride the same
    // one-pass codegen CharHistStats scan as q_char_diversity (no char
    // ever shuffles; the explode form ships every character of the
    // corpus through an exchange).
    "q_char_entropy" -> Q(
      s"""WITH $duckCharHist,
        |n AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) n,
        |             CAST(count(*) AS BIGINT) d FROM h GROUP BY 1),
        |e AS (SELECT h.doc_id,
        |    CAST(sum(CAST(round(-1000000
        |      * (CAST(cnt AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      * ln(CAST(cnt AS DOUBLE) / CAST(n.n AS DOUBLE)))
        |      AS BIGINT)) AS BIGINT) h_micro
        |  FROM h JOIN n ON n.doc_id = h.doc_id GROUP BY 1)
        |SELECT n.doc_id, n.n AS n_chars_norm, n.d AS distinct_chars,
        |  e.h_micro
        |FROM n JOIN e ON e.doc_id = n.doc_id""".stripMargin) { (s, dir) =>
      charHist(table(s, dir, "documents"), col("h.h_micro").as("h_micro"))
    },

    // TextRank keyword extraction: weighted PageRank over the token
    // co-occurrence graph (undirected edges = consecutive-token pairs
    // with combined count ≥ 3, weights = counts). Every quantity is an
    // integer: ranks live in micro units, each node's outgoing
    // contribution is (rank·w) div wdeg (floor division, both engines),
    // the damping step is 150000 + (85·Σ) div 100 — so 5 fixed
    // iterations are bit-deterministic and hash-comparable. Shapes: one
    // codegen bigram-stream pass builds the edge list; edges (with
    // degree) are checkpointed once and re-joined per round — a Pregel
    // message round is one equi-join + one partial-agg'd groupBy on the
    // destination key, never a driver-side loop over rows. The oracle
    // unrolls the same 5 rounds as chained CTEs.
    "q_textrank" -> Q(
      s"""WITH $duckBigrams,
        |und AS (SELECT least(x, y) u, greatest(x, y) v,
        |    CAST(count(*) AS BIGINT) w
        |  FROM bg WHERE x <> y GROUP BY 1, 2 HAVING count(*) >= 3),
        |e AS (SELECT u, v, w FROM und UNION ALL SELECT v, u, w FROM und),
        |deg AS (SELECT u, CAST(sum(w) AS BIGINT) wdeg FROM e GROUP BY 1),
        |ed AS (SELECT e.u, e.v, e.w, deg.wdeg FROM e JOIN deg ON e.u = deg.u),
        |r0 AS (SELECT u AS term, CAST(1000000 AS BIGINT) rank FROM deg),
        |r1 AS (SELECT ed.v AS term, CAST(150000 +
        |    (85 * sum((r0.rank * ed.w) // ed.wdeg)) // 100 AS BIGINT) rank
        |  FROM ed JOIN r0 ON ed.u = r0.term GROUP BY 1),
        |r2 AS (SELECT ed.v AS term, CAST(150000 +
        |    (85 * sum((r1.rank * ed.w) // ed.wdeg)) // 100 AS BIGINT) rank
        |  FROM ed JOIN r1 ON ed.u = r1.term GROUP BY 1),
        |r3 AS (SELECT ed.v AS term, CAST(150000 +
        |    (85 * sum((r2.rank * ed.w) // ed.wdeg)) // 100 AS BIGINT) rank
        |  FROM ed JOIN r2 ON ed.u = r2.term GROUP BY 1),
        |r4 AS (SELECT ed.v AS term, CAST(150000 +
        |    (85 * sum((r3.rank * ed.w) // ed.wdeg)) // 100 AS BIGINT) rank
        |  FROM ed JOIN r3 ON ed.u = r3.term GROUP BY 1),
        |r5 AS (SELECT ed.v AS term, CAST(150000 +
        |    (85 * sum((r4.rank * ed.w) // ed.wdeg)) // 100 AS BIGINT) rank
        |  FROM ed JOIN r4 ON ed.u = r4.term GROUP BY 1)
        |SELECT term, rank AS rank_micro FROM r5
        |ORDER BY rank_micro DESC, term LIMIT 50""".stripMargin) {
      (s, dir) =>
      val ed = graft.ops.TextRank.withDegree(
        graft.ops.TextRank.edges(bigramPairs(s, dir), minW = 3))
      graft.ops.TextRank.run(ed, iters = 5)
        .select(col("term"), col("rank").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("term")).limit(50)
    },

    // Overlapping sliding-window RAG chunking: width-64-token chunks at
    // stride 48 (16-token overlap), emitted as (doc_id, chunk_id,
    // tok_start, n_tok, chunk_sha) — the retrieval-side complement of the
    // non-overlapping pretraining packer (q_seq_pack). Pure native
    // functions over the scan (sequence → explode → slice → concat_ws →
    // sha2): no interpreted lambdas, no shuffle at all — chunking 100 TB
    // is embarrassingly parallel and the plan must stay a straight
    // projection. Chunk text leaves the query as its sha256 (hashable
    // across engines, and the 64-token bodies never move).
    "q_chunk_overlap" -> Q(
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') toks
        |  FROM documents),
        |c AS (SELECT doc_id, s, list_slice(toks, s, s + 63) chunk
        |  FROM t, LATERAL (SELECT unnest(
        |    generate_series(1, len(toks), 48)) AS s) g)
        |SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
        |  CAST(s AS BIGINT) AS tok_start,
        |  CAST(len(chunk) AS BIGINT) AS n_tok,
        |  sha256(array_to_string(chunk, ' ')) AS chunk_sha
        |FROM c""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      d.select(d("doc_id"), TextOps.tokens(d("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(48))).as("s"))
        .select(col("doc_id"),
          ((col("s") - 1) / 48).cast("long").as("chunk_id"),
          col("s").cast("long").as("tok_start"),
          slice(col("toks"), col("s"), lit(64)).as("chunk"))
        .select(col("doc_id"), col("chunk_id"), col("tok_start"),
          size(col("chunk")).cast("long").as("n_tok"),
          sha2(concat_ws(" ", col("chunk")), 256).as("chunk_sha"))
    },

    // Z-order (Morton) layout keys over events(user_id, value) — the
    // multi-dimensional clustering key behind `Sinks.writeZOrdered`
    // (Delta/Iceberg OPTIMIZE ZORDER BY, from primitives). Bucketing and
    // the 16-term bit interleave are pure integer ops after one
    // double-scale step, replayed bit-for-bit by the oracle; the
    // column-wide bounds ride in as a 1-row broadcast aggregate, so the
    // key is a scan-side projection.
    "q_zorder" -> Q(
      s"""WITH $duckZBins
        |SELECT event_id, zx, zy,
        |$duckZInterleave
        |FROM b""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
      val st = e.agg(min("user_id").as("mnx"), max("user_id").as("mxx"),
        min("value").as("mny"), max("value").as("mxy"))
      e.crossJoin(broadcast(st))
        .select(col("event_id"),
          ZOrder.bucket(col("user_id"), col("mnx"), col("mxx")).as("zx"),
          ZOrder.bucket(col("value"), col("mny"), col("mxy")).as("zy"))
        .select(col("event_id"), col("zx"), col("zy"),
          ZOrder.interleave(col("zx"), col("zy")).as("zkey"))
    },

    // Hilbert-curve layout keys over the same (user_id, value) buckets —
    // q_zorder's better-locality sibling (consecutive indexes are always
    // grid-adjacent, so curve-segment files carry tighter 2-D bounding
    // boxes than the z-curve's diagonal jumps). The rotate/flip xy2d
    // loop unrolls into 8 chained projections of pure integer CASE/xor
    // arithmetic (ops/Hilbert.scala — linear expression tree, scan-side
    // under whole-stage codegen); the oracle replays the identical
    // unrolled levels bit-for-bit.
    "q_hilbert" -> Q(
      s"""WITH $duckZBins,
        |${hilbertCtes(8)}
        |SELECT event_id, zx, zy, d AS hkey FROM h0""".stripMargin) {
      (s, dir) =>
        val e = table(s, dir, "events")
        val st = e.agg(min("user_id").as("mnx"), max("user_id").as("mxx"),
          min("value").as("mny"), max("value").as("mxy"))
        val b = e.crossJoin(broadcast(st))
          .select(col("event_id"),
            ZOrder.bucket(col("user_id"), col("mnx"), col("mxx"))
              .as("zx"),
            ZOrder.bucket(col("value"), col("mny"), col("mxy"))
              .as("zy"))
        graft.ops.Hilbert.withIndex(b, "zx", "zy", "hkey")
          .select(col("event_id"), col("zx"), col("zy"), col("hkey"))
    },
  )

  /** DuckDB CTE levels replaying Hilbert.withIndex bit-for-bit: chain
    * after a `b(event_id, zx, zy)` CTE; yields `h0(..., d)`.
    */
  private def hilbertCtes(order: Int): String = {
    val start =
      s"""h$order AS (SELECT event_id, zx, zy, zx AS x, zy AS y,
         |  CAST(0 AS BIGINT) AS d FROM b)""".stripMargin
    val levels = ((order - 1) to 0 by -1).map { l =>
      val s = 1L << l
      s"""r$l AS (SELECT event_id, zx, zy, x, y, d,
         |    CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |    CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
         |  FROM h${l + 1}),
         |h$l AS (SELECT event_id, zx, zy,
         |    CASE WHEN ry = 0 THEN
         |      (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END)
         |      ELSE x END AS x,
         |    CASE WHEN ry = 0 THEN
         |      (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END)
         |      ELSE y END AS y,
         |    d + ${s * s} * xor(3 * rx, ry) AS d
         |  FROM r$l)""".stripMargin
    }.mkString(",\n")
    start + ",\n" + levels
  }
}
