package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.ops.llm._

/** LLM-data-pipeline declared queries (the BASELINE.json north star):
  * dedup (exact / n-gram Jaccard / MinHash-LSH), text analysis (stats,
  * token counting, quality, language-ID, fingerprints, SimHash), similarity
  * search over `embeddings`, and multimodal binary-column plumbing.
  *
  * Oracle strategy: every hash that reaches an output goes through sha256 —
  * bit-identical hex in Spark (`sha2(_, 256)`) and DuckDB (`sha256`) — so
  * even the banded-LSH dedup is fully hash-checked. Jaccard thresholds are
  * integer cross-multiplications; cosine scores only influence output via
  * rank (tie-broken) and a 4-dp rounding, keeping float nondeterminism out
  * of the hashes. xxhash64-based variants (SimHash, fast MinHash, ANN) have
  * no DuckDB twin → rows-only driver check + dedicated specs.
  */
object LlmQueries {

  // DuckDB-side distinct 3-word shingle sets per doc (mirrors
  // TextOps.shingleSet(text, 3)).
  // shared with ExtendedQueries (q_contamination): the CTE must stay
  // byte-identical to WordShingles' semantics everywhere it is used
  private[queries] val duckShingles =
    """base AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |      generate_series(1, greatest(len(toks)-2, 1)),
      |      i -> array_to_string(toks[i:i+2], ' '))) sh
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks
      |        FROM documents))""".stripMargin

  // The 8 MinHash signatures: per-slice minima of each shingle's sha256
  // (`hs` in scope). Shared by the banding CTE and q_dedup_minhash.
  private val duckMinhashSigs =
    """  list_aggregate(list_transform(hs, h -> substr(h,  1, 8)), 'min') s0,
      |  list_aggregate(list_transform(hs, h -> substr(h,  9, 8)), 'min') s1,
      |  list_aggregate(list_transform(hs, h -> substr(h, 17, 8)), 'min') s2,
      |  list_aggregate(list_transform(hs, h -> substr(h, 25, 8)), 'min') s3,
      |  list_aggregate(list_transform(hs, h -> substr(h, 33, 8)), 'min') s4,
      |  list_aggregate(list_transform(hs, h -> substr(h, 41, 8)), 'min') s5,
      |  list_aggregate(list_transform(hs, h -> substr(h, 49, 8)), 'min') s6,
      |  list_aggregate(list_transform(hs, h -> substr(h, 57, 8)), 'min') s7"""
      .stripMargin

  // DuckDB-side MinHash banding (mirrors Dedup.minhashBands with n=3,
  // bands=4): chain after `base` (duckShingles); yields
  // `mh_banded(doc_id, band, bkey)` (+ mh_sigs for calibration).
  private val duckMinhashBands =
    s"""mh_hashed AS (SELECT doc_id, sh,
      |  list_transform(sh, x -> sha256(x)) hs FROM base),
      |mh_sigs AS (SELECT doc_id, sh,
      |$duckMinhashSigs
      |  FROM mh_hashed),
      |mh_banded AS (
      |  SELECT doc_id, 0 band, s0 || s1 bkey FROM mh_sigs
      |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM mh_sigs
      |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM mh_sigs
      |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM mh_sigs)"""
      .stripMargin

  // DuckDB-side MinHash+LSH verified pairs (mirrors Dedup.minhashDedup with
  // n=3, bands=4, num=8, den=10): chain after `base` (duckShingles); yields
  // `mh_pairs(a, b)`. Kept byte-compatible with the q_dedup_minhash
  // pipeline — shared by queries that consume the pair set downstream.
  private val duckMinhashPairs =
    s"""$duckMinhashBands,
      |mh_cand AS (
      |  SELECT DISTINCT l.doc_id a, r.doc_id b
      |  FROM mh_banded l JOIN mh_banded r
      |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
      |mh_pairs AS (
      |  SELECT c.a, c.b FROM mh_cand c
      |  JOIN base ba ON ba.doc_id = c.a
      |  JOIN base bb ON bb.doc_id = c.b
      |  WHERE len(list_intersect(ba.sh, bb.sh)) * 10
      |    >= (len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh))) * 8)"""
      .stripMargin

  // The q_dedup_minhash pipeline up to `verify(a, b, inter, uni)`:
  // signatures, 4 bands, same-bucket candidates, exact shingle Jaccard
  // terms. Shared with q_dedup_delta.
  private val duckMinhashVerify =
    s"""hashed AS (SELECT doc_id, sh,
      |  list_transform(sh, x -> sha256(x)) hs FROM base),
      |sigs AS (SELECT doc_id, sh,
      |$duckMinhashSigs
      |  FROM hashed),
      |banded AS (
      |  SELECT doc_id, 0 band, s0 || s1 bkey FROM sigs
      |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM sigs
      |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM sigs
      |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM sigs),
      |cand AS (
      |  SELECT DISTINCT l.doc_id a, r.doc_id b
      |  FROM banded l JOIN banded r
      |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
      |verify AS (
      |  SELECT c.a, c.b,
      |    CAST(len(list_intersect(ba.sh, bb.sh)) AS INTEGER) inter,
      |    CAST(len(ba.sh) + len(bb.sh)
      |      - len(list_intersect(ba.sh, bb.sh)) AS INTEGER) uni
      |  FROM cand c
      |  JOIN base ba ON ba.doc_id = c.a
      |  JOIN base bb ON bb.doc_id = c.b)""".stripMargin

  // MinHash connected components `reps(node, rep)` and the stopword-count
  // quality `scored(node, score)`: the survivor choice of q_keep_best and
  // q_corpus_clean.
  private val duckClusterScores =
    s"""$duckMinhashPairs,
      |${duckCc("mh_pairs")},
      |reps AS (SELECT node, CAST(min(rep) AS BIGINT) rep
      |         FROM cc GROUP BY node),
      |scored AS (SELECT doc_id node,
      |  CAST(len(regexp_extract_all(lower(trim(text)),
      |    '\\b(the|a|and|of|to|in|is|for|on|with)\\b')) AS INTEGER) score
      |  FROM documents)""".stripMargin

  // `edges` = `pairs(a, b)` in both directions and `cc(node, rep)` = the
  // recursive closure over it; callers take min(rep) per node.
  private def duckCc(pairs: String) =
    s"""edges AS (
      |  SELECT a src, b dst FROM $pairs
      |  UNION ALL SELECT b, a FROM $pairs),
      |cc AS (
      |  SELECT DISTINCT src AS node, src AS rep FROM edges
      |  UNION
      |  SELECT e.dst, cc.rep FROM cc, edges e WHERE cc.node = e.src)"""
      .stripMargin

  // Exact shingle-overlap counts `inter(a, b, inter)` and set sizes
  // `sizes(doc_id, n_)` over `base`; `cmp` is "<" for unordered pairs and
  // "<>" for both directions.
  private def duckJaccardInter(cmp: String) =
    s"""tok AS (SELECT doc_id, unnest(sh) g FROM base),
      |sizes AS (SELECT doc_id, len(sh) n_ FROM base),
      |inter AS (
      |  SELECT l.doc_id a, r.doc_id b, CAST(count(*) AS INTEGER) inter
      |  FROM tok l JOIN tok r ON l.g = r.g AND l.doc_id $cmp r.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  // The `inter` pairs with Jaccard >= 0.8 (inter*10 >= uni*8).
  private val duckJaccardPairs =
    """pairs AS (
      |  SELECT i.a, i.b FROM inter i
      |  JOIN sizes sa ON sa.doc_id = i.a
      |  JOIN sizes sb ON sb.doc_id = i.b
      |  WHERE i.inter * 10 >= (sa.n_ + sb.n_ - i.inter) * 8)""".stripMargin

  // Exact-Jaccard near-dup pairs and their connected components `cc`.
  private val duckJaccardCc =
    s"""${duckJaccardInter("<")},
      |$duckJaccardPairs,
      |${duckCc("pairs")}""".stripMargin

  // Spark side of duckJaccardCc: each clustered doc's component `rep`.
  private def jaccardReps(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(SharedBases.jaccardPairs(s, dir))
      .select(col("node").as("doc_id"), col("rep"))

  // The docs of `d` that survive near-dup removal: those in no pair and
  // each component's representative.
  private def jaccardSurvivors(s: SparkSession, dir: String,
                               d: DataFrame): DataFrame =
    d.join(jaccardReps(s, dir), Seq("doc_id"), "left")
      .filter(col("rep").isNull || col("rep") === col("doc_id"))

  // Same-bucket kNN candidates `knn_cand(a, b)` over `mh_banded`, both
  // directions, uncapped.
  private val duckKnnCand =
    """knn_cand AS (
      |  SELECT DISTINCT l.doc_id a, r.doc_id b
      |  FROM mh_banded l JOIN mh_banded r
      |    ON l.band = r.band AND l.bkey = r.bkey
      |    AND l.doc_id <> r.doc_id)""".stripMargin

  // MinHash bands, then each doc's 5 nearest candidates by exact Jaccard
  // ppm (ties to the lower id): `edges(src, dst)`. Needs `base`.
  private val duckKnnEdges =
    s"""$duckMinhashBands,
      |$duckKnnCand,
      |scored AS (
      |  SELECT c.a doc_id, c.b nbr_id,
      |    (CAST(len(list_intersect(ba.sh, bb.sh)) AS BIGINT) * 1000000)
      |      // CAST(len(ba.sh) + len(bb.sh)
      |        - len(list_intersect(ba.sh, bb.sh)) AS BIGINT) jac_ppm
      |  FROM knn_cand c
      |  JOIN base ba ON ba.doc_id = c.a
      |  JOIN base bb ON bb.doc_id = c.b),
      |rr AS (
      |  SELECT doc_id, nbr_id,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY jac_ppm DESC, nbr_id) rnk
      |  FROM scored),
      |edges AS (SELECT doc_id src, nbr_id dst FROM rr WHERE rnk <= 5)"""
      .stripMargin

  /** DuckDB CTE chain (assumes `base` in scope) building the MinHash
    * bands and the symmetrized kNN edge set `e2(src, dst)` — the shared
    * graph substrate of q_label_prop / q_modularity / q_assortativity
    * (the Spark twin is [[symmetricKnnEdges]] off [[SharedBases.knnEdges]]).
    */
  private val duckKnnE2 =
    s"""$duckKnnEdges,
      |e2 AS (SELECT src, dst FROM edges
      |       UNION SELECT dst, src FROM edges)""".stripMargin

  /** DuckDB CTE chain (assumes `e2` in scope) replaying the 3-round
    * synchronous LPA of [[lpa3]] verbatim: self-seeded labels, each round
    * = neighbor-label counts → (count desc, label asc) tie-broken argmax.
    * One definition shared by q_label_prop and q_modularity so a vote fix
    * reaches both oracles. Yields `l3(id, lbl)`.
    */
  private val duckLpa3 =
    """nodes AS (SELECT DISTINCT src AS id FROM e2),
      |l0 AS (SELECT id, id AS lbl FROM nodes),
      |c1 AS (SELECT e2.src AS id, l.lbl, CAST(count(*) AS BIGINT) c
      |  FROM e2 JOIN l0 l ON l.id = e2.dst GROUP BY 1, 2),
      |m1 AS (SELECT id, CAST(max(c) AS BIGINT) mc FROM c1 GROUP BY 1),
      |l1 AS (SELECT c1.id, CAST(min(c1.lbl) AS BIGINT) lbl
      |  FROM c1 JOIN m1 ON m1.id = c1.id AND c1.c = m1.mc GROUP BY 1),
      |c2 AS (SELECT e2.src AS id, l.lbl, CAST(count(*) AS BIGINT) c
      |  FROM e2 JOIN l1 l ON l.id = e2.dst GROUP BY 1, 2),
      |m2 AS (SELECT id, CAST(max(c) AS BIGINT) mc FROM c2 GROUP BY 1),
      |l2 AS (SELECT c2.id, CAST(min(c2.lbl) AS BIGINT) lbl
      |  FROM c2 JOIN m2 ON m2.id = c2.id AND c2.c = m2.mc GROUP BY 1),
      |c3 AS (SELECT e2.src AS id, l.lbl, CAST(count(*) AS BIGINT) c
      |  FROM e2 JOIN l2 l ON l.id = e2.dst GROUP BY 1, 2),
      |m3 AS (SELECT id, CAST(max(c) AS BIGINT) mc FROM c3 GROUP BY 1),
      |l3 AS (SELECT c3.id, CAST(min(c3.lbl) AS BIGINT) lbl
      |  FROM c3 JOIN m3 ON m3.id = c3.id AND c3.c = m3.mc GROUP BY 1)"""
      .stripMargin

  /** Spark twin of [[duckKnnE2]]: the symmetrized kNN edge set, eagerly
    * checkpointed (it feeds every downstream graph branch — EAGER
    * CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala).
    */
  private def symmetricKnnEdges(s: SparkSession,
      dir: String): DataFrame = {
    val g0 = SharedBases.knnEdges(s, dir)
      .select(col("doc_id").as("src"), col("nbr_id").as("dst"))
    g0.union(g0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
  }

  /** Spark twin of [[duckLpa3]]: 3 synchronous majority-vote rounds over
    * the symmetrized [[SharedBases.knnEdges]] set, self-seeded, exact
    * integer counting with the (count desc, label asc) tie-break.
    * Returns (e2, labels) — BOTH eagerly checkpointed (multi-branch
    * consumers; see ops/llm/Dedup.scala "EAGER CHECKPOINT DISCIPLINE").
    */
  private def lpa3(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e2 = symmetricKnnEdges(s, dir)
    var lbl = e2.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to 3) {
      val cnts = e2.join(lbl, e2("dst") === lbl("id"))
        .groupBy(e2("src").as("nid"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val mx = cnts.groupBy("nid").agg(max("c").as("mc"))
      lbl = cnts.join(mx, "nid").filter(col("c") === col("mc"))
        .groupBy("nid").agg(min("lbl").as("lbl"))
        .select(col("nid").as("id"), col("lbl"))
        .localCheckpoint(true)
    }
    (e2, lbl)
  }

  // MinHash bands and the candidates with exact intersection and union
  // sizes: `scored(doc_id, nbr_id, inter, uni)`. Needs `base`.
  private val duckKnnInterUni =
    s"""$duckMinhashBands,
      |$duckKnnCand,
      |scored AS (
      |  SELECT c.a doc_id, c.b nbr_id,
      |    CAST(len(list_intersect(ba.sh, bb.sh)) AS INTEGER) inter,
      |    CAST(len(ba.sh) + len(bb.sh)
      |      - len(list_intersect(ba.sh, bb.sh)) AS INTEGER) uni
      |  FROM knn_cand c
      |  JOIN base ba ON ba.doc_id = c.a
      |  JOIN base bb ON bb.doc_id = c.b)""".stripMargin

  // Integer TF-IDF weights `w2(doc_id, term, wt)` (idf-0 terms dropped)
  // and squared norms `norms(doc_id, n2)`.
  private val duckTfidfWeights =
    """tok AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf
      |       FROM tok GROUP BY 1, 2),
      |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) df
      |        FROM tok GROUP BY 1),
      |nd AS (SELECT CAST(count(*) AS BIGINT) n_docs FROM documents),
      |wts AS (
      |  SELECT tf.doc_id, tf.term,
      |    tf.tf * CAST(round(10000 * ln(CAST(n_docs AS DOUBLE)
      |      / CAST(df AS DOUBLE))) AS BIGINT) wt
      |  FROM tf JOIN dfq ON tf.term = dfq.term, nd),
      |w2 AS (SELECT * FROM wts WHERE wt <> 0),
      |norms AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) n2
      |          FROM w2 GROUP BY 1)""".stripMargin

  // Micro-quantized cosine of `dots(a, b, dot)` over `norms`: the end of
  // a `scored` CTE (select item plus FROM clause).
  private val duckTfidfCos =
    """    CAST(round(1000000 * CAST(d.dot AS DOUBLE)
      |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))))
      |      AS BIGINT) cos_micro
      |  FROM dots d
      |  JOIN norms na ON na.doc_id = d.a
      |  JOIN norms nb ON nb.doc_id = d.b""".stripMargin

  // MinHash bands and the candidates scored by TF-IDF cosine:
  // `scored(doc_id, nbr_id, cos_micro)`. Needs `base`.
  private val duckTfidfKnnScored =
    s"""$duckMinhashBands,
      |$duckKnnCand,
      |$duckTfidfWeights,
      |dots AS (
      |  SELECT c.a, c.b, CAST(sum(wa.wt * wb.wt) AS BIGINT) dot
      |  FROM knn_cand c
      |  JOIN w2 wa ON wa.doc_id = c.a
      |  JOIN w2 wb ON wb.doc_id = c.b AND wb.term = wa.term
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.a doc_id, d.b nbr_id,
      |$duckTfidfCos)""".stripMargin

  // Embedding coordinates quantized to 1e-4: `xq(id, i, x)`.
  private val duckQuantized =
    """xq AS (
      |  SELECT vec_id AS id, u.i AS i,
      |    CAST(round(embedding[u.i]::DOUBLE * 10000) AS BIGINT) AS x
      |  FROM embeddings,
      |  LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u)"""
      .stripMargin

  /** DuckDB CTE chain replaying Pca.component verbatim: integer 1e-4
    * quantization → truncating per-dim means → centered coords →
    * covariance (scatter // n) → `rounds` unrolled power-iteration
    * rounds (w = C·v; v' = (w·1e6) // max|w| in HUGEINT — DuckDB `//`
    * truncates toward zero exactly like Spark `div`, HUGEINT included).
    * Yields `cent(id, i, c)` and `v<rounds>(i, v)`.
    */
  private def pcaCtes(rounds: Int): String = {
    val base =
      s"""$duckQuantized,
        |means AS (SELECT i, sum(x) // count(*) AS m FROM xq GROUP BY 1),
        |cent AS (SELECT id, xq.i AS i, x - m AS c
        |  FROM xq JOIN means ON means.i = xq.i),
        |cov AS (SELECT a.i AS i, b.i AS j,
        |    sum(a.c * b.c) // CAST(count(*) AS BIGINT) AS cij
        |  FROM cent a JOIN cent b ON a.id = b.id GROUP BY 1, 2),
        |v0 AS (SELECT i, CAST(1000000 AS BIGINT) AS v FROM means)"""
        .stripMargin
    val rs = (1 to rounds).map { r =>
      s"""w$r AS (SELECT cov.i AS i, CAST(sum(cij * v.v) AS BIGINT) AS w
         |  FROM cov JOIN v${r - 1} v ON v.i = cov.j GROUP BY 1),
         |g$r AS (SELECT max(abs(w)) AS g FROM w$r),
         |v$r AS (SELECT i, CAST((CAST(w AS HUGEINT) * 1000000) // g
         |    AS BIGINT) AS v
         |  FROM w$r, g$r WHERE g > 0)""".stripMargin
    }.mkString(",\n")
    base + ",\n" + rs
  }

  /** DuckDB CTE chain replaying Kmeans.fit verbatim: quantized coords,
    * lowest-id seeds, then `rounds` unrolled (assign, update) pairs —
    * assignment ties break (dist asc, cid asc); the update mean is
    * truncating; empty clusters keep the previous centroid. Yields
    * `a{rounds+1}(id, cid, d)`, the final assignment.
    */
  private def kmeansCtes(k: Int, rounds: Int): String = {
    val base =
      s"""$duckQuantized,
        |c0 AS (SELECT id AS cid, i, x AS m FROM xq WHERE id < $k)"""
        .stripMargin
    val assignOnly = (r: Int) =>
      s"""a$r AS (SELECT id, cid, d FROM (
         |    SELECT xq.id, c.cid,
         |      CAST(sum((x - m) * (x - m)) AS BIGINT) AS d,
         |      row_number() OVER (PARTITION BY xq.id
         |        ORDER BY sum((x - m) * (x - m)) ASC, c.cid ASC) AS rn
         |    FROM xq JOIN c${r - 1} c ON c.i = xq.i
         |    GROUP BY 1, 2)
         |  WHERE rn = 1)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""${assignOnly(r)},
         |u$r AS (SELECT a.cid, xq.i, sum(x) // count(*) AS m
         |  FROM a$r a JOIN xq ON xq.id = a.id GROUP BY 1, 2),
         |c$r AS (SELECT c.cid, c.i, coalesce(u.m, c.m) AS m
         |  FROM c${r - 1} c LEFT JOIN u$r u
         |    ON u.cid = c.cid AND u.i = c.i)""".stripMargin
    }.mkString(",\n")
    base + ",\n" + rs + ",\n" + assignOnly(rounds + 1)
  }

  // Embeddings as DOUBLE[] `v` with their max-abs `mx`: the FROM clause
  // of the int8 codes CTE.
  private val duckEmbedMaxAbs =
    """  FROM (SELECT vec_id, embedding::DOUBLE[] v,
      |          list_aggregate(list_transform(embedding::DOUBLE[],
      |            x -> abs(x)), 'max') mx
      |        FROM embeddings)""".stripMargin

  // Symmetric int8 codes of `v` scaled by its max-abs `mx`
  // (Similarity's int8 quantizer).
  private val duckInt8Codes =
    """    CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |      ELSE list_transform(v,
      |        x -> CAST(greatest(-127, floor(x * 127 / mx)) AS BIGINT))
      |      END codes""".stripMargin

  // Every embedding's int8 codes and micro scale: `c(id, codes, mxm)`.
  private val duckInt8C =
    s"""c AS (
      |  SELECT vec_id id,
      |$duckInt8Codes,
      |    CAST(floor(mx * 1000000) AS BIGINT) mxm
      |$duckEmbedMaxAbs)""".stripMargin

  // The same codes over a projected `e(id, v)`.
  private val duckInt8COverE =
    s"""c AS (
      |  SELECT id,
      |$duckInt8Codes,
      |    CAST(floor(mx * 1000000) AS BIGINT) mxm
      |  FROM (SELECT id, v, list_aggregate(list_transform(v,
      |          x -> abs(x)), 'max') mx FROM e))""".stripMargin

  // Exact-integer int8 scores `s(qid, id, score)` of the 10 lowest-id
  // vectors (the queries) against every other vector in `c`.
  private val duckInt8Scores =
    """q AS (SELECT id qid, codes qc, mxm qm FROM c WHERE id < 10),
      |s AS (SELECT q.qid, c.id,
      |        CAST(list_sum(list_transform(
      |          generate_series(1, len(c.codes)),
      |          i -> c.codes[i] * q.qc[i])) AS BIGINT) * q.qm * c.mxm
      |          AS score
      |      FROM c, q WHERE c.id <> q.qid)""".stripMargin

  // Each query's top 5 of `s(qid, id, score)`, ties to the lower id.
  private val duckTop5 =
    """r AS (SELECT qid, id, score, row_number() OVER (
      |        PARTITION BY qid ORDER BY score DESC, id) rnk FROM s)
      |SELECT qid, id, CAST(rnk AS INTEGER) AS rnk, score
      |FROM r WHERE rnk <= 5""".stripMargin

  // Brute-force int8 top-5 search over `c`.
  private val duckInt8Top5 =
    s"""$duckInt8Scores,
      |$duckTop5""".stripMargin

  // IVF centroids: the 16 codes first in sha256(id) order, with squared
  // norms, `cents(cid, cc, cn2)`.
  private val duckIvfCents =
    """cents AS (
      |  SELECT row_number() OVER (ORDER BY sha256(CAST(id AS VARCHAR)))
      |      AS cid, codes cc,
      |    greatest(CAST(list_sum(list_transform(
      |      generate_series(1, len(codes)),
      |      i -> codes[i] * codes[i])) AS BIGINT), 1) cn2
      |  FROM c ORDER BY sha256(CAST(id AS VARCHAR)) LIMIT 16)""".stripMargin

  // The end of an assignment CTE: each vector's nearest centroid by
  // signed squared cosine, ties to the lower cid.
  private val duckIvfNearest =
    """        PARTITION BY c.id ORDER BY
      |          CAST(d * abs(d) AS DOUBLE) / n.cn2 DESC, n.cid) rr
      |    FROM c, cents n, LATERAL (SELECT CAST(list_sum(list_transform(
      |      generate_series(1, len(c.codes)),
      |      i -> c.codes[i] * n.cc[i])) AS BIGINT) AS d) dd)
      |  WHERE rr = 1)""".stripMargin

  // Hyperplane-LSH buckets per table `tt` over `c` and planes `pl`,
  // same-bucket candidates, and each vector's top 5 by exact int8 score.
  private val duckSimHashKnn =
    """buck AS (
      |  SELECT id, tt,
      |    CAST(sum(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
      |      AS bucket
      |  FROM (SELECT c.id, pl.tt, pl.p,
      |          CAST(list_sum(list_transform(generate_series(1, 64),
      |            i -> c.codes[i] * pl.w[i])) AS BIGINT) d
      |        FROM c, pl)
      |  GROUP BY id, tt),
      |cand AS (
      |  SELECT DISTINCT l.id a, r.id b
      |  FROM buck l JOIN buck r
      |    ON l.tt = r.tt AND l.bucket = r.bucket AND l.id <> r.id),
      |s AS (
      |  SELECT cand.a id, cand.b nbr_id,
      |    CAST(list_sum(list_transform(
      |      generate_series(1, len(ca.codes)),
      |      i -> ca.codes[i] * cb.codes[i])) AS BIGINT)
      |      * ca.mxm * cb.mxm AS score
      |  FROM cand JOIN c ca ON ca.id = cand.a
      |    JOIN c cb ON cb.id = cand.b),
      |r AS (SELECT id, nbr_id, score, row_number() OVER (
      |        PARTITION BY id ORDER BY score DESC, nbr_id) rnk FROM s)
      |SELECT id, nbr_id, CAST(rnk AS INTEGER) AS rnk, score
      |FROM r WHERE rnk <= 5""".stripMargin

  // Sign-bit codes (two 32-bit words), the Hamming distances of the 10
  // lowest-id queries, and their (dist, id) rank `r`.
  private val duckHammingRanked =
    """e AS (SELECT vec_id id, embedding::DOUBLE[] v
      |           FROM embeddings),
      |b AS (SELECT id, list_transform(generate_series(0, 1), w ->
      |        CAST(list_sum(list_transform(generate_series(1, 32),
      |          i -> CASE WHEN v[32*w+i] > 0
      |               THEN (1::BIGINT << (i-1)) ELSE 0 END)) AS BIGINT))
      |        AS wv
      |      FROM e),
      |q AS (SELECT id qid, wv qw FROM b WHERE id < 10),
      |s AS (SELECT q.qid, b.id,
      |        CAST(list_sum(list_transform(generate_series(1, 2),
      |          j -> bit_count(xor(b.wv[j], q.qw[j])))) AS BIGINT)
      |          AS dist
      |      FROM b, q WHERE b.id <> q.qid),
      |r AS (SELECT qid, id, dist, row_number() OVER (
      |        PARTITION BY qid ORDER BY dist, id) rnk FROM s)""".stripMargin

  // DBSCAN front end over embeddings: cosine >= 0.35 pairs, degrees, core
  // points (>= 3 neighbors) and core-core components `corelab(id, cluster)`.
  private val duckDbscanCore =
    """e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id a, b.vec_id b FROM e a JOIN e b
      |    ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35),
      |nbr AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
      |deg AS (SELECT src, count(*) d FROM nbr GROUP BY 1),
      |core AS (SELECT src AS id FROM deg WHERE d >= 3),
      |cedges AS (
      |  SELECT n.src, n.dst FROM nbr n
      |  WHERE n.src IN (SELECT id FROM core)
      |    AND n.dst IN (SELECT id FROM core)),
      |cc AS (
      |  SELECT id AS node, id AS rep FROM core
      |  UNION
      |  SELECT e2.dst, cc.rep FROM cc, cedges e2 WHERE cc.node = e2.src),
      |corelab AS (SELECT node AS id, min(rep) AS cluster
      |            FROM cc GROUP BY 1)""".stripMargin

  // The DBSCAN role assignment; q_dbscan_ann replays it verbatim.
  private val duckDbscan =
    s"""WITH RECURSIVE
      |$duckDbscanCore,
      |borderlab AS (
      |  SELECT n.src AS id, min(c.cluster) AS cluster
      |  FROM nbr n JOIN corelab c ON n.dst = c.id
      |  WHERE n.src NOT IN (SELECT id FROM corelab)
      |  GROUP BY 1),
      |labeled AS (
      |  SELECT id, 'core' AS role, cluster FROM corelab
      |  UNION ALL
      |  SELECT id, 'border', cluster FROM borderlab)
      |SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
      |  coalesce(l.role, 'noise') AS role,
      |  CAST(coalesce(l.cluster, -1) AS BIGINT) AS cluster
      |FROM e LEFT JOIN labeled l ON e.vec_id = l.id""".stripMargin

  // Whitespace word frequencies `w(word, freq)`.
  private val duckWordFreq =
    """w AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
      |      AS word FROM documents) t
      |  WHERE word <> '' GROUP BY 1)""".stripMargin

  // WordPiece: a 200-piece vocabulary and each word's greedy longest-match
  // pieces `toks(word, piece)`.
  private val duckWordPieceToks =
    s"""$duckWordFreq,
      |chars AS (
      |  SELECT DISTINCT substr(word, i, 1) AS piece FROM w,
      |  LATERAL (SELECT unnest(generate_series(1, length(word))) AS i) g),
      |subs AS (
      |  SELECT substr(word, i, l) AS piece, sum(freq) AS wt
      |  FROM w,
      |  LATERAL (SELECT unnest(generate_series(2, 4)) AS l) ls,
      |  LATERAL (SELECT unnest(generate_series(1, length(word) - l + 1))
      |    AS i) g
      |  GROUP BY 1),
      |topp AS (SELECT piece FROM subs ORDER BY wt DESC, piece LIMIT 200),
      |vocab AS (SELECT piece FROM chars UNION SELECT piece FROM topp),
      |matches AS (
      |  SELECT word, pos, max(length(piece)) AS bestlen FROM (
      |    SELECT w.word, g.i AS pos, v.piece
      |    FROM w,
      |    LATERAL (SELECT unnest(generate_series(1, length(w.word)))
      |      AS i) g, vocab v
      |    WHERE substr(w.word, g.i, length(v.piece)) = v.piece)
      |  GROUP BY 1, 2),
      |rec AS (
      |  SELECT word, CAST(1 AS BIGINT) AS pos,
      |    CAST(NULL AS VARCHAR) AS piece
      |  FROM w
      |  UNION ALL
      |  SELECT r.word, r.pos + m.bestlen,
      |    substr(r.word, CAST(r.pos AS INTEGER), CAST(m.bestlen AS INTEGER))
      |  FROM rec r JOIN matches m ON m.word = r.word AND m.pos = r.pos),
      |toks AS (SELECT word, piece FROM rec WHERE piece IS NOT NULL)"""
      .stripMargin

  // Unigram: a 200-piece vocabulary with -ln costs and each word's Viterbi
  // pieces `${p}toks(word, piece)`; `p` prefixes the CTE names so two
  // tokenizers fit in one query.
  private def duckUnigramToks(p: String) =
    s"""${p}cand AS (
      |  SELECT substr(word, i, l) AS piece, sum(freq) AS wt
      |  FROM w,
      |  LATERAL (SELECT unnest(generate_series(1, 4)) AS l) ls,
      |  LATERAL (SELECT unnest(generate_series(1, length(word) - l + 1))
      |    AS i) g
      |  GROUP BY 1),
      |${p}keep AS (
      |  SELECT piece, wt FROM ${p}cand WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, wt FROM (SELECT piece, wt FROM ${p}cand
      |    WHERE length(piece) >= 2 ORDER BY wt DESC, piece LIMIT 200)),
      |${p}tot AS (SELECT CAST(sum(wt) AS DOUBLE) AS total FROM ${p}keep),
      |${p}vocab AS (SELECT piece,
      |  CAST(round(-ln(wt / total) * 10000) AS BIGINT) AS cost
      |  FROM ${p}keep, ${p}tot),
      |seg AS (
      |  SELECT word, CAST(0 AS BIGINT) AS pos,
      |    CAST('' AS VARCHAR) AS path, CAST(0 AS BIGINT) AS cost
      |  FROM w
      |  UNION ALL
      |  SELECT s.word, s.pos + length(v.piece),
      |    CASE WHEN s.path = '' THEN v.piece
      |         ELSE s.path || chr(1) || v.piece END,
      |    s.cost + v.cost
      |  FROM seg s JOIN ${p}vocab v
      |    ON s.pos < length(s.word)
      |   AND substr(s.word, CAST(s.pos + 1 AS INTEGER),
      |         length(v.piece)) = v.piece),
      |best AS (
      |  SELECT word, path FROM (
      |    SELECT word, path,
      |      row_number() OVER (PARTITION BY word
      |        ORDER BY cost, path) AS rn
      |    FROM seg WHERE pos = length(word))
      |  WHERE rn = 1),
      |${p}toks AS (SELECT b.word, unnest(string_split(b.path, chr(1)))
      |    AS piece
      |  FROM best b)""".stripMargin

  // The BPE base and three merge iterations.
  private val duckBpe3 =
    s"""$duckBpeBase,
      |${bpeIterSql(1)},
      |${bpeIterSql(2)},
      |${bpeIterSql(3)}""".stripMargin

  // q_bpe_train's oracle, shared by q_bpe_train_chained.
  private val duckBpeTrain =
    s"""WITH $duckBpe3
      |SELECT * FROM (
      |  SELECT CAST(1 AS INTEGER) AS it, pr AS pair,
      |    CAST(cnt AS BIGINT) AS cnt FROM b1
      |  UNION ALL SELECT CAST(2 AS INTEGER), pr, CAST(cnt AS BIGINT)
      |    FROM b2
      |  UNION ALL SELECT CAST(3 AS INTEGER), pr, CAST(cnt AS BIGINT)
      |    FROM b3)""".stripMargin

  // Docs with their content-addressed shard and token count, and the
  // per-shard running token sum `c(doc_id, shard, n_tok, cum)`.
  private val duckPackCum =
    """t AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(sha256(lower(trim(text))), 1, 8))::UBIGINT
      |      % 10 AS INTEGER) AS shard,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+'))
      |      AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, shard, n_tok,
      |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)""".stripMargin

  // Spark side of duckPackCum.
  private def packCum(d: DataFrame): DataFrame = {
    val shard = (expr("cast(conv(substr(sha2(lower(trim(text)), 256)," +
      " 1, 8), 16, 10) as bigint)") % 10).cast("int")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.select(d("doc_id"), shard.as("shard"),
        size(TextOps.tokens(d("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
  }

  // The training-mix tail over `src(doc_id, lang, q)`: token and vocab
  // counts (CTE `tok`), the density gate, the 5000-token budget and the
  // per-lang report.
  private def duckRecipeMix(tok: String, src: String) =
    s"""$tok AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split_regex(q, '\\s+')) AS BIGINT) AS n_tok,
      |    CAST(len(list_distinct(string_split_regex(q, '\\s+')))
      |      AS BIGINT) AS n_vocab
      |  FROM $src),
      |qual AS (
      |  SELECT doc_id, lang, n_tok,
      |    (n_vocab * 1000000) // n_tok AS density_ppm
      |  FROM $tok WHERE n_tok >= 3),
      |sel AS (
      |  SELECT lang, n_tok, density_ppm,
      |    CAST(sum(n_tok) OVER (ORDER BY density_ppm DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS tok_cum
      |  FROM qual)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(min(density_ppm) AS BIGINT) AS min_density_ppm
      |FROM sel WHERE tok_cum - n_tok < 5000
      |GROUP BY lang""".stripMargin

  // Spark side of duckRecipeMix over `src(doc_id, lang, q)`.
  private def recipeMix(src: DataFrame): DataFrame = {
    val toks = split(col("q"), "\\s+")
    val qual = src.select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_vocab"))
      .filter(col("n_tok") >= 3)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        expr("(n_vocab * 1000000) div n_tok").as("density_ppm"))
      // eager checkpoint the skinny selection table before PrefixSum:
      // lang survives only the data branch, so column pruning makes
      // the offsets branch a DIFFERENT subtree and AQE exchange reuse
      // cannot collapse it — unpinned, the offsets branch re-ran the
      // whole upstream dedup chain including a second corpus scan
      // (PlanAuditSpec asserts the final plan reads no parquet)
      .localCheckpoint(true)
    graft.ops.PrefixSum.runningSum(qual,
        Seq(col("density_ppm").desc, col("doc_id").asc),
        col("n_tok"), "tok_cum")
      .filter(col("tok_cum") - col("n_tok") < 5000)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("density_ppm").as("min_density_ppm"))
  }

  // Per-doc SimHash bit votes `votes(doc_id, j, v)` over 60-bit sha256
  // token hashes.
  private val duckSimHashVotes =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) t
      |  FROM documents),
      |h AS (SELECT doc_id, ('0x' || substr(sha256(t), 1, 15))::UBIGINT h
      |      FROM tok),
      |votes AS (
      |  SELECT doc_id, j,
      |    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) v
      |  FROM h, (SELECT unnest(generate_series(0, 59)) j) js
      |  GROUP BY 1, 2)""".stripMargin

  // Every adjacent-word bigram occurrence: `big(bigram)`.
  private val duckBigramOccs =
    """toks AS (
      |  SELECT string_split_regex(lower(trim(text)), '\s+') t
      |  FROM documents),
      |big AS (
      |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1])) bigram
      |  FROM toks WHERE len(t) >= 2)""".stripMargin

  // Spark side of duckBigramOccs, counted: `(bigram, cnt, head)`. The
  // contains-" " filter drops the partial shingle of <2-token docs.
  private def bigramCounts(d: DataFrame): DataFrame =
    d.select(explode(TextOps.shingleStream(d("text"), 2)).as("bigram"))
      .filter(col("bigram").contains(" "))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .withColumn("head", substring_index(col("bigram"), " ", 1))

  // Unigram surprisal costs `m(term, micro)` from term counts `tf`.
  private[queries] val duckTermCosts =
    """f AS (SELECT term, CAST(sum(tf) AS BIGINT) AS freq FROM tf
      |      GROUP BY 1),
      |n AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM f),
      |m AS (SELECT term,
      |        CAST(round(-ln(freq / total) * 10000) AS BIGINT) AS micro
      |      FROM f, n)""".stripMargin

  // Spark side of duckTermCosts' `m`, from `f(term, freq)` and its 1-row
  // total `n1`.
  private def termCosts(f: DataFrame, n1: DataFrame): DataFrame =
    f.crossJoin(broadcast(n1))
      .select(col("term"),
        round(-log(col("freq") / col("total")) * 10000, 0)
          .cast("long").as("micro"))

  // Per-doc chunk count and duplicate share from `w(doc_id, cnt)`.
  private val duckChunkDupStats =
    """SELECT doc_id, CAST(count(*) AS BIGINT) n_chunks,
      |  CAST(count(*) FILTER (WHERE cnt > 1) AS BIGINT) dup_chunks,
      |  (CAST(count(*) FILTER (WHERE cnt > 1) AS BIGINT) * 1000)
      |    // CAST(count(*) AS BIGINT) AS dup_permille
      |FROM w GROUP BY 1""".stripMargin

  // Per-(lang, source) doc counts and their exact square root in milli
  // units.
  private val duckSqrtMix =
    """g AS (SELECT lang, source, CAST(count(*) AS BIGINT) n
      |           FROM documents GROUP BY 1, 2),
      |s AS (SELECT lang, source, n,
      |  CAST(floor(sqrt(CAST(n * 1000000 AS DOUBLE))) AS BIGINT)
      |    sqrt_milli FROM g)""".stripMargin

  // Pearson r in micro units from the sums n, sx, sy, sxx, syy, sxy.
  private[queries] val duckPearsonMicro =
    """  CAST(round(1000000 * (CAST(n AS DOUBLE) * sxy
      |      - CAST(sx AS DOUBLE) * sy) /
      |    (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
      |     sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))"""
      .stripMargin

  val all: Map[String, Q] = Map(

    // Exact dedup: shuffle key is the 32-byte digest of the normalized
    // text, never the document body.
    "q_dedup_exact" -> Q(
      """SELECT sha256(lower(trim(text))) AS text_sha,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.exact(table(s, dir, "documents"), "doc_id", "text")
    },

    // Text stats per (lang, source): docs, chars, whitespace tokens.
    "q_textstats" -> Q(
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |    AS sum_tokens,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      d.groupBy(d("lang"), d("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(d("n_chars")).as("sum_chars"),
          sum(size(split(trim(d("text")), "\\s+")).cast("long"))
            .as("sum_tokens"),
          min(d("n_chars")).as("min_chars"),
          max(d("n_chars")).as("max_chars"))
    },

    // Token counting: whitespace tokens + a BPE-ish subword split
    // (letter-runs | digit-runs | single punctuation).
    "q_token_count" -> Q(
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |    AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS sub_tokens
        |FROM documents""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      d.select(d("doc_id"),
        size(TextOps.tokens(d("text"))).as("ws_tokens"),
        TextOps.regexCount(lower(d("text")), "[a-z]+|[0-9]+|[^a-z0-9\\s]")
          .as("sub_tokens"))
    },

    // Quality scoring: length/punct/stopword/digit features + a boolean
    // gate, all integer/boolean so hashes are exact.
    "q_quality" -> Q(
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars_m,
        |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INTEGER)
        |    AS punct_cnt,
        |  CAST(len(regexp_extract_all(lower(trim(text)),
        |    '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS INTEGER)
        |    AS stop_cnt,
        |  CAST(len(regexp_extract_all(text, '[0-9]')) AS INTEGER)
        |    AS digit_cnt,
        |  (len(string_split_regex(lower(trim(text)), '\s+'))
        |     BETWEEN 10 AND 5000
        |   AND len(regexp_extract_all(text, '[.,!?;:]')) * 10
        |     <= length(text)) AS is_quality
        |FROM documents""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val punct = TextOps.regexCount(d("text"), "[.,!?;:]")
      val toks = size(TextOps.tokens(d("text")))
      d.select(d("doc_id"),
        length(d("text")).as("n_chars_m"),
        punct.as("punct_cnt"),
        TextOps.stopwordCount(d("text"), TextOps.stopEn).as("stop_cnt"),
        TextOps.regexCount(d("text"), "[0-9]").as("digit_cnt"),
        (toks.between(10, 5000) && punct * 10 <= length(d("text")))
          .as("is_quality"))
    },

    // L7c — term-blocklist filter: the C4 "bad-words" document
    // gate (Raffel et al. 2020 §2.2 drop any doc containing a listed
    // term; the list here is a neutral stand-in — the operator is the
    // list-driven gate, not the list). Per doc: token total, blocked
    // OCCURRENCE count (C4 counts any hit, not distinct terms), ppm
    // rate, and the keep flag — emitted per rule-battery convention so
    // attrition is auditable, clean docs never vanish. Scan-side HOF
    // filter over the per-doc token array against a tiny literal list
    // (O(tokens·|list|) per row, no shuffle beyond the rollup, nothing
    // ever explodes); at a real 100 TB run the list rides a broadcast
    // variable into the same scan-side membership test.
    "q_blocklist" -> Q(
      """SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, t -> t IN ('dup', 'slow')))
        |    AS BIGINT) AS n_blocked,
        |  CAST(len(list_filter(toks, t -> t IN ('dup', 'slow')))
        |    AS BIGINT) * 1000000
        |    // CAST(len(toks) AS BIGINT) AS blocked_ppm,
        |  len(list_filter(toks, t -> t IN ('dup', 'slow'))) = 0 AS keep
        |FROM (SELECT doc_id,
        |        string_split_regex(lower(trim(text)), '\s+') toks
        |      FROM documents)""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val blk = Seq("dup", "slow")
      val hits = size(filter(TextOps.tokens(d("text")),
        t => t.isin(blk: _*)))
      d.select(d("doc_id"),
        size(TextOps.tokens(d("text"))).cast("long").as("n_tokens"),
        hits.cast("long").as("n_blocked"))
        .select(col("doc_id"), col("n_tokens"), col("n_blocked"),
          expr("n_blocked * 1000000 div n_tokens").as("blocked_ppm"),
          (col("n_blocked") === 0).as("keep"))
    },

    // L82 — the Gopher quality-rule battery (Rae et al. 2021, app. A1.1):
    // the published pre-training document filters, each emitted as its
    // own boolean NEXT TO the integer features it derives from — a
    // production filter reports per-rule attrition, not one opaque
    // gate. Rules: word count in [50, 100k] (splits this corpus
    // 277/223 at sf0.01), mean word length in [3, 10] (cross-multiplied
    // — no division), ellipsis-to-word ≤ 0.3, hash-to-word ≤ 0.1, and
    // ≥2 distinct Gopher stopwords present. All integer/boolean — exact
    // hashes; ONE scan, pure projection, zero shuffles at any corpus
    // size (PlanAuditSpec pins it).
    "q_gopher_rules" -> Q(
      """WITH f AS (SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |      AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(lower(trim(text)), '\s+', '', 'g'))
        |      AS BIGINT) AS n_wchars,
        |    CAST(len(regexp_extract_all(text, '\.\.\.')) AS BIGINT)
        |      AS n_ellipsis,
        |    CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_hash,
        |    CAST(CAST(regexp_matches(lower(text), '\bthe\b') AS INT)
        |      + CAST(regexp_matches(lower(text), '\bbe\b') AS INT)
        |      + CAST(regexp_matches(lower(text), '\bto\b') AS INT)
        |      + CAST(regexp_matches(lower(text), '\bof\b') AS INT)
        |      + CAST(regexp_matches(lower(text), '\band\b') AS INT)
        |      + CAST(regexp_matches(lower(text), '\bthat\b') AS INT)
        |      + CAST(regexp_matches(lower(text), '\bhave\b') AS INT)
        |      + CAST(regexp_matches(lower(text), '\bwith\b') AS INT)
        |      AS INTEGER) AS n_stop
        |  FROM documents),
        |g AS (SELECT doc_id, n_words, n_wchars, n_ellipsis, n_hash, n_stop,
        |    n_words BETWEEN 50 AND 100000 AS word_ok,
        |    3 * n_words <= n_wchars AND n_wchars <= 10 * n_words AS mwl_ok,
        |    n_ellipsis * 10 <= n_words * 3 AS ellipsis_ok,
        |    n_hash * 10 <= n_words AS hash_ok,
        |    n_stop >= 2 AS stop_ok
        |  FROM f)
        |SELECT *, word_ok AND mwl_ok AND ellipsis_ok AND hash_ok
        |  AND stop_ok AS gopher_pass
        |FROM g""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val norm = lower(trim(d("text")))
      def present(w: String) =
        lower(d("text")).rlike("\\b" + w + "\\b").cast("int")
      val stops = Seq("the", "be", "to", "of", "and", "that", "have",
        "with").map(present).reduce(_ + _)
      val f = d.select(d("doc_id"),
        size(split(norm, "\\s+")).cast("long").as("n_words"),
        length(regexp_replace(norm, "\\s+", "")).cast("long")
          .as("n_wchars"),
        TextOps.regexCount(d("text"), "\\.\\.\\.").cast("long")
          .as("n_ellipsis"),
        TextOps.regexCount(d("text"), "#").cast("long").as("n_hash"),
        stops.as("n_stop"))
      f.select(col("*"),
          (col("n_words").between(50, 100000)).as("word_ok"),
          (lit(3) * col("n_words") <= col("n_wchars") &&
            col("n_wchars") <= lit(10) * col("n_words")).as("mwl_ok"),
          (col("n_ellipsis") * 10 <= col("n_words") * 3).as("ellipsis_ok"),
          (col("n_hash") * 10 <= col("n_words")).as("hash_ok"),
          (col("n_stop") >= 2).as("stop_ok"))
        .withColumn("gopher_pass",
          col("word_ok") && col("mwl_ok") && col("ellipsis_ok") &&
            col("hash_ok") && col("stop_ok"))
    },

    // X72 — Spearman rank correlation per source between document size
    // (chars) and token count: the monotone-association measure that is
    // robust where q_corr_exact's Pearson is not. Tie-averaged ranks
    // stay EXACT by doubling: 2·rank̄ = 2·rank() + tie_cnt − 1 is an
    // integer, so the five Pearson sufficient statistics over (2rx,
    // 2ry) are exact BIGINT sums and only the closed form touches
    // doubles (q_corr_exact discipline), micro-quantized. Plan: the
    // four rank/tie windows all cluster by source — ONE exchange
    // serves them (key-superset clustering) — then one rollup. At
    // 100 TB a per-source window is source-sized; the support-sized
    // block-rank alternative is the q_auc shape.
    "q_spearman" -> Q(
      s"""WITH t AS (SELECT source, CAST(n_chars AS BIGINT) x,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
        |      AS BIGINT) y
        |  FROM documents),
        |r AS (SELECT source,
        |    2 * rank() OVER (PARTITION BY source ORDER BY x)
        |      + count(*) OVER (PARTITION BY source, x) - 1 AS rx,
        |    2 * rank() OVER (PARTITION BY source ORDER BY y)
        |      + count(*) OVER (PARTITION BY source, y) - 1 AS ry
        |  FROM t),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(rx) AS BIGINT) sx, CAST(sum(ry) AS BIGINT) sy,
        |    CAST(sum(rx * ry) AS BIGINT) sxy,
        |    CAST(sum(rx * rx) AS BIGINT) sxx,
        |    CAST(sum(ry * ry) AS BIGINT) syy
        |  FROM r GROUP BY 1)
        |SELECT source, n,
        |$duckPearsonMicro
        |    AS BIGINT) AS spearman_micro
        |FROM s
        |WHERE CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
        |  AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
        |""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val t = d.select(d("source"), d("n_chars").cast("long").as("x"),
        size(TextOps.tokens(d("text"))).cast("long").as("y"))
      def dblRank(v: String) =
        lit(2) * rank().over(Window.partitionBy("source").orderBy(v)) +
          count(lit(1)).over(Window.partitionBy("source", v)) - 1
      val r = t.select(col("source"),
        dblRank("x").as("rx"), dblRank("y").as("ry"))
      val sums = r.groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
          sum(col("rx") * col("ry")).as("sxy"),
          sum(col("rx") * col("rx")).as("sxx"),
          sum(col("ry") * col("ry")).as("syy"))
      val nD = col("n").cast("double")
      val vx = nD * col("sxx") - col("sx").cast("double") * col("sx")
      val vy = nD * col("syy") - col("sy").cast("double") * col("sy")
      sums
        .filter(vx > 0 && vy > 0)
        .select(col("source"), col("n"),
          round(lit(1000000) *
            (nD * col("sxy") - col("sx").cast("double") * col("sy")) /
            (sqrt(vx) * sqrt(vy)))
            .cast("long").as("spearman_micro"))
    },

    // Repetition profile per doc (the Gopher-style repetition filters):
    // total/distinct bigram counts and the top-bigram share. A doc whose
    // most frequent bigram exceeds 10% of all bigram occurrences is
    // flagged repetitive — the standard boilerplate/spam signal for
    // pre-training corpora. All-integer features + an integer
    // cross-multiplied flag, so the hash check is exact; one explode +
    // two partial-agg'd groupBys, no shuffle of the raw text.
    "q_repetition" -> Q(
      """WITH bg AS (
        |  SELECT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(len(toks)-1, 1)),
        |      i -> array_to_string(toks[i:i+1], ' '))) AS g
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS toks
        |        FROM documents)),
        |c AS (SELECT doc_id, g, count(*) AS cnt FROM bg GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total_bigrams,
        |  CAST(count(*) AS BIGINT) AS distinct_bigrams,
        |  CAST(max(cnt) AS BIGINT) AS max_bigram_cnt,
        |  max(cnt) * 10 > sum(cnt) AS is_repetitive
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      // single-pass codegen expression: the explode + double-groupBy form
      // shuffles every bigram occurrence (O(corpus tokens) shuffle rows);
      // NgramStats computes the same profile scan-side, so the query is
      // a straight projection (spec: NativeExpressionsSpec parity test)
      val st = graft.functions.NgramStats(d("text"), 2)
      d.select(d("doc_id"),
          st.getField("total").as("total_bigrams"),
          st.getField("distinct").as("distinct_bigrams"),
          st.getField("max_cnt").as("max_bigram_cnt"))
        .withColumn("is_repetitive",
          col("max_bigram_cnt") * 10 > col("total_bigrams"))
    },

    // L92 — the full published within-doc repetition battery (Rae et
    // al. 2021 app. A1.1 rows 4–9, completing q_repetition's top-bigram
    // share): per document, for n = 3 and n = 4, the top-n-gram token
    // share and the duplicate-n-gram fraction (n-gram instances beyond
    // the first occurrence of their type — the order-free exact form of
    // "fraction of text inside repeated n-grams"), in integer ppm
    // divisions. Both profiles come from the scan-side NgramStats
    // codegen expression, so the whole battery is a straight projection
    // over the parquet scan — zero shuffles at any corpus size (the
    // q_gopher_rules shape; the explode + double-groupBy alternative
    // shuffles every n-gram occurrence).
    "q_repetition_full" -> Q(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') t
        |  FROM documents),
        |g3 AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 1)),
        |    i -> array_to_string(t[i:i+2], ' '))) g
        |  FROM toks),
        |c3 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) cnt
        |  FROM g3 GROUP BY 1, 2),
        |r3 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) total_3,
        |    CAST(count(*) AS BIGINT) distinct_3,
        |    CAST(max(cnt) AS BIGINT) max_cnt_3
        |  FROM c3 GROUP BY 1),
        |g4 AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(t) - 3, 1)),
        |    i -> array_to_string(t[i:i+3], ' '))) g
        |  FROM toks),
        |c4 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) cnt
        |  FROM g4 GROUP BY 1, 2),
        |r4 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) total_4,
        |    CAST(count(*) AS BIGINT) distinct_4,
        |    CAST(max(cnt) AS BIGINT) max_cnt_4
        |  FROM c4 GROUP BY 1)
        |SELECT r3.doc_id, total_3, distinct_3, max_cnt_3,
        |  (1000000 * max_cnt_3) // total_3 AS top3_ppm,
        |  (1000000 * (total_3 - distinct_3)) // total_3 AS dup3_ppm,
        |  total_4, distinct_4, max_cnt_4,
        |  (1000000 * max_cnt_4) // total_4 AS top4_ppm,
        |  (1000000 * (total_4 - distinct_4)) // total_4 AS dup4_ppm
        |FROM r3 JOIN r4 ON r4.doc_id = r3.doc_id""".stripMargin) {
      (s, dir) =>
      val d = table(s, dir, "documents")
      val st3 = graft.functions.NgramStats(d("text"), 3)
      val st4 = graft.functions.NgramStats(d("text"), 4)
      d.select(d("doc_id"),
          st3.getField("total").as("total_3"),
          st3.getField("distinct").as("distinct_3"),
          st3.getField("max_cnt").as("max_cnt_3"),
          st4.getField("total").as("total_4"),
          st4.getField("distinct").as("distinct_4"),
          st4.getField("max_cnt").as("max_cnt_4"))
        .withColumn("top3_ppm",
          expr("(1000000 * max_cnt_3) div total_3"))
        .withColumn("dup3_ppm",
          expr("(1000000 * (total_3 - distinct_3)) div total_3"))
        .withColumn("top4_ppm",
          expr("(1000000 * max_cnt_4) div total_4"))
        .withColumn("dup4_ppm",
          expr("(1000000 * (total_4 - distinct_4)) div total_4"))
    },

    // Sequence packing for pretraining: assign each doc a (shard, seq_id,
    // seq_offset) in fixed token-budget sequences (budget 2048), greedy in
    // deterministic doc_id order within content-addressed shards. The
    // per-shard running sum is the only sequential dependency — shards are
    // the parallelism unit (production uses thousands), so the window sort
    // is per-shard-partition, never global. All-integer output.
    "q_seq_pack" -> Q(
      s"""WITH $duckPackCum
        |SELECT doc_id, shard, n_tok,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id,
        |  CAST((cum - n_tok) % 2048 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin) { (s, dir) =>
      packCum(table(s, dir, "documents"))
        .select(col("doc_id"), col("shard"), col("n_tok"),
          expr("(cum - n_tok) div 2048").as("seq_id"),
          ((col("cum") - col("n_tok")) % 2048).as("seq_offset"))
    },

    // Packing efficiency per (shard, seq): docs packed, tokens filled,
    // and overflow beyond the 2048 budget (the straddling doc's tail) —
    // the QA view a data-engineer runs after q_seq_pack. Same windowed
    // front-end, then one partial-agg'd groupBy on the tiny (shard,
    // seq_id) key space.
    "q_pack_stats" -> Q(
      s"""WITH $duckPackCum,
        |k AS (
        |  SELECT shard, CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id,
        |    n_tok, cum
        |  FROM c)
        |SELECT shard, seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |  CAST(max(cum) - seq_id * 2048 - 2048 AS BIGINT) AS overflow_tok
        |FROM k GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      packCum(table(s, dir, "documents"))
        .withColumn("seq_id", expr("(cum - n_tok) div 2048"))
        .groupBy("shard", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"),
          (max("cum") - col("seq_id") * 2048 - 2048).as("overflow_tok"))
    },

    // Unigram-LM surprisal per doc (the perplexity-style quality filter):
    // score = Σ_tokens −ln p(term) under the corpus unigram model. The
    // per-TERM surprisal is quantized to an integer (round(−ln p × 1e4))
    // BEFORE the per-doc sum, so the aggregation is exact integer
    // arithmetic — a float sum's order varies with partitioning and would
    // break the cross-engine hash (same discipline as q_corr_exact).
    // Corpus total tokens is a broadcast 1-row aggregate, never a
    // driver-side count.
    "q_surprisal" -> Q(
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
        |    '\\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |$duckTermCosts
        |SELECT tf.doc_id,
        |  CAST(sum(tf.tf * m.micro) AS BIGINT) AS surprisal_micro4,
        |  CAST(sum(tf.tf) AS BIGINT) AS n_tok
        |FROM tf JOIN m ON tf.term = m.term GROUP BY 1""".stripMargin) {
      (s, dir) =>
      val d = table(s, dir, "documents")
      val tok = d.select(d("doc_id"),
        explode(TextOps.tokens(d("text"))).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val f = tf.groupBy("term").agg(sum("tf").as("freq"))
      val n1 = f.agg(sum("freq").cast("double").as("total"))
      val m = termCosts(f, n1)
      tf.join(m, "term")
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("micro")).cast("long")
            .as("surprisal_micro4"),
          sum("tf").cast("long").as("n_tok"))
    },

    // Vocabulary coverage / OOV rate: top-1000 corpus vocabulary
    // (frequency desc, term asc — a total order, so the cut is
    // deterministic), then per-doc in-vocab vs out-of-vocab token counts
    // and an integer per-mille OOV rate — the tokenizer-coverage QA step
    // before training. The vocab is provably 1000 rows → broadcast.
    "q_vocab_coverage" -> Q(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
        |    '\s+')) AS term FROM documents),
        |f AS (SELECT term, count(*) AS freq FROM tok GROUP BY 1),
        |v AS (SELECT term FROM f
        |      ORDER BY freq DESC, term ASC LIMIT 1000)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS oov_permille
        |FROM tok t LEFT JOIN v ON t.term = v.term
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val tok = d.select(d("doc_id"),
        explode(TextOps.tokens(d("text"))).as("term"))
      val vocab = tok.groupBy("term").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term").asc).limit(1000)
        .select(col("term").as("vterm"))
      val oov = when(col("vterm").isNull, 1L).otherwise(0L)
      tok.join(broadcast(vocab), tok("term") === col("vterm"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(oov).as("n_oov"))
        .select(col("doc_id"), col("n_tok"), col("n_oov"),
          expr("n_oov * 1000 div n_tok").as("oov_permille"))
    },

    // Language-ID: stopword-hit scores per language, argmax with fixed
    // tie-break en > de > es > fr.
    "q_lang_id" -> Q(
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(lower(trim(text)),
        |    '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS INTEGER) en_s,
        |  CAST(len(regexp_extract_all(lower(trim(text)),
        |    '\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b')) AS INTEGER) de_s,
        |  CAST(len(regexp_extract_all(lower(trim(text)),
        |    '\b(el|la|los|de|que|y|en|un|es|por)\b')) AS INTEGER) es_s,
        |  CAST(len(regexp_extract_all(lower(trim(text)),
        |    '\b(le|la|les|de|et|un|une|est|dans|pour)\b')) AS INTEGER) fr_s
        |  FROM documents)
        |SELECT doc_id, lang, en_s, de_s, es_s, fr_s,
        |  CASE WHEN en_s >= de_s AND en_s >= es_s AND en_s >= fr_s THEN 'en'
        |       WHEN de_s >= es_s AND de_s >= fr_s THEN 'de'
        |       WHEN es_s >= fr_s THEN 'es' ELSE 'fr' END AS pred_lang
        |FROM s""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val scores = TextOps.langScores(d("text"))
      val scoreCols = scores.map { case (l, c) => c.as(s"${l}_s") }
      val withScores = d.select(d("doc_id") +: d("lang") +: scoreCols: _*)
      val named = scores.map { case (l, _) => l -> col(s"${l}_s") }
      withScores.withColumn("pred_lang", TextOps.langArgmax(named))
    },

    // Fingerprinting: whole-doc 16-hex digest + rolling-window
    // (winnowing-style) min digest over 16-char windows.
    "q_fingerprint" -> Q(
      """SELECT doc_id,
        |  substr(sha256(lower(trim(text))), 1, 16) AS fp16,
        |  list_aggregate(list_transform(
        |    generate_series(1, greatest(length(lower(trim(text))) - 15, 1)),
        |    i -> sha256(substr(lower(trim(text)), i, 16))), 'min') AS fp_roll
        |FROM documents""".stripMargin) { (s, dir) =>
      // small single-file input → 1 scan partition; spread the digest
      // work (dominant cost) across cores first
      val d = table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      d.select(d("doc_id"),
        Fingerprint.sha16(d("text")).as("fp16"),
        Fingerprint.rollingMin(d("text")).as("fp_roll"))
    },

    // Exact near-dup pairs: 3-word-shingle Jaccard >= 0.8 via
    // inverted-index join (integer threshold: inter*10 >= uni*8).
    "q_ngram_jaccard" -> Q(
      s"""WITH $duckShingles,
        |${duckJaccardInter("<")}
        |SELECT i.a, i.b, i.inter,
        |  CAST(sa.n_ + sb.n_ - i.inter AS INTEGER) AS uni
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.a
        |JOIN sizes sb ON sb.doc_id = i.b
        |WHERE i.inter * 10 >= (sa.n_ + sb.n_ - i.inter) * 8""".stripMargin) {
      (s, dir) =>
        Dedup.ngramJaccardPairs(table(s, dir, "documents"), "doc_id", "text",
          n = 3, num = 8, den = 10)
    },

    // Containment (asymmetric Jaccard) pairs: |A∩B|/|A| >= 0.9 — the
    // excerpt/subset-duplicate signal symmetric Jaccard misses. The Spark
    // side is the lossless containment prefix filter; the oracle is the
    // EXHAUSTIVE pair join, so a hash match certifies candidate
    // completeness, not just verification math.
    "q_containment" -> Q(
      s"""WITH $duckShingles,
        |${duckJaccardInter("<>")}
        |SELECT i.a, i.b, i.inter, CAST(sa.n_ AS INTEGER) na
        |FROM inter i JOIN sizes sa ON sa.doc_id = i.a
        |WHERE i.inter * 10 >= sa.n_ * 9""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(table(s, dir, "documents"), "doc_id", "text",
        n = 3, num = 9, den = 10)
    },

    // Bounded-output containment mining: per contained doc, only the 3
    // strongest containers survive the WindowGroupLimit cut — the
    // emit-side cap that keeps adversarial mutual-containment families
    // (quadratic TRUE pair counts) from making output materialization
    // the run cost at scale. Oracle = exhaustive pairs + the same
    // window, so the hash certifies the cut's determinism too.
    "q_containment_topk" -> Q(
      s"""WITH $duckShingles,
        |${duckJaccardInter("<>")},
        |p AS (SELECT i.a, i.b, i.inter, CAST(sa.n_ AS INTEGER) na
        |  FROM inter i JOIN sizes sa ON sa.doc_id = i.a
        |  WHERE i.inter * 10 >= sa.n_ * 9),
        |rr AS (SELECT a, b, inter, na,
        |    row_number() OVER (PARTITION BY a ORDER BY inter DESC, b) rnk
        |  FROM p)
        |SELECT a, b, CAST(rnk AS INTEGER) AS rnk, inter, na
        |FROM rr WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      Dedup.containmentTopK(table(s, dir, "documents"), "doc_id", "text",
        k = 3, n = 3, num = 9, den = 10)
    },

    // Containment kNN graph — the bounded-COMPUTE containment form: the
    // capped LSH-bucket candidates of q_knn_graph, scored by asymmetric
    // containment (inter/na), cut to each doc's 3 strongest containers.
    // Candidate volume is Σ|bucket|·min(|bucket|,cap), never the true
    // pair count — the scale path when mutual-containment families make
    // the exact miner's output quadratic (recall contract: bucket
    // collision tracks Jaccard, so low-Jaccard excerpt pairs may miss;
    // the lossless q_containment/q_containment_topk remain for those).
    "q_containment_graph" -> Q(
      s"""WITH $duckShingles,
        |$duckMinhashBands,
        |$duckKnnCand,
        |scored AS (
        |  SELECT c.a, c.b,
        |    CAST(len(list_intersect(ba.sh, bb.sh)) AS INTEGER) inter,
        |    CAST(len(ba.sh) AS INTEGER) na
        |  FROM knn_cand c
        |  JOIN base ba ON ba.doc_id = c.a
        |  JOIN base bb ON bb.doc_id = c.b),
        |rr AS (
        |  SELECT a, b, inter, na,
        |    (CAST(inter AS BIGINT) * 1000000) // na AS cont_ppm,
        |    row_number() OVER (PARTITION BY a
        |      ORDER BY (CAST(inter AS BIGINT) * 1000000) // na DESC,
        |        b) rnk
        |  FROM scored)
        |SELECT a, b, CAST(rnk AS INTEGER) AS rnk, inter, na, cont_ppm
        |FROM rr WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      Dedup.containmentGraph(table(s, dir, "documents"), "doc_id", "text",
        k = 3)
    },

    // Sorted-neighborhood (merge/purge) near-dup mining: docs ordered by
    // their sorted-distinct-token canonical key within key-prefix blocks,
    // candidates = rows within 3 positions, exact-Jaccard verified. The
    // deliberately bounded candidate set (3N, skew-immune) mines 12 of
    // PPJoin's exhaustive 25 pairs on this corpus — the classic recall/
    // cost tradeoff of the blocking family, here oracle-checked.
    "q_sorted_neighborhood" -> Q(
      s"""WITH base0 AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\\s+') toks
        |  FROM documents),
        |k AS (SELECT doc_id,
        |    array_to_string(list_sort(list_distinct(toks)), ' ') skey
        |  FROM base0),
        |nb AS (SELECT doc_id, skey,
        |    lead(doc_id, 1) OVER w n1, lead(doc_id, 2) OVER w n2,
        |    lead(doc_id, 3) OVER w n3
        |  FROM k WINDOW w AS (
        |    PARTITION BY substring(skey, 1, 8) ORDER BY skey, doc_id)),
        |cand AS (SELECT DISTINCT least(doc_id, y) a, greatest(doc_id, y) b
        |  FROM (SELECT doc_id, unnest([n1, n2, n3]) y FROM nb)
        |  WHERE y IS NOT NULL),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks)-2, 1)),
        |    i -> array_to_string(toks[i:i+2], ' '))) sh FROM base0),
        |v AS (SELECT c.a, c.b,
        |    CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
        |      AS INTEGER) inter,
        |    CAST(len(sa.sh) + len(sb.sh) AS INTEGER) s
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.a
        |  JOIN sh sb ON sb.doc_id = c.b)
        |SELECT a, b, inter, (s - inter) AS uni
        |FROM v WHERE inter * 10 >= (s - inter) * 8""".stripMargin) {
      (s, dir) =>
        Dedup.sortedNeighborhoodPairs(table(s, dir, "documents"),
          "doc_id", "text", n = 3, win = 3, prefixLen = 8,
          num = 8, den = 10)
    },

    // MinHash + banded LSH near-dup: 8 sha256 signatures, 4 bands of r=2,
    // same-bucket candidates verified with exact shingle Jaccard >= 0.8.
    // The full LSH pipeline is oracle-checked because the signatures are
    // sha256 on both engines.
    "q_dedup_minhash" -> Q(
      s"""WITH $duckShingles,
        |$duckMinhashVerify
        |SELECT a, b, inter, uni FROM verify
        |WHERE inter * 10 >= uni * 8""".stripMargin) { (s, dir) =>
      Dedup.minhashDedup(table(s, dir, "documents"), "doc_id", "text",
        n = 3, bands = 4, num = 8, den = 10)
    },

    // Incremental ingest dedup: the content-addressed shard-0 slice plays
    // the "today's batch" role; pairs returned are exactly the full-corpus
    // MinHash result restricted to pairs touching the delta, but the
    // bucket join is corpus-bands × DELTA-bands (broadcast-able) — never
    // corpus × corpus. Oracle = the q_dedup_minhash pipeline + the same
    // restriction.
    "q_dedup_delta" -> Q(
      s"""WITH $duckShingles,
        |delta AS (
        |  SELECT doc_id FROM documents
        |  WHERE ('0x' || substr(sha256(lower(trim(text))), 1, 8))::UBIGINT
        |    % 10 = 0),
        |$duckMinhashVerify
        |SELECT v.a, v.b, v.inter, v.uni FROM verify v
        |WHERE (v.a IN (SELECT doc_id FROM delta)
        |    OR v.b IN (SELECT doc_id FROM delta))
        |  AND v.inter * 10 >= v.uni * 8""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val shard = expr("cast(conv(substr(sha2(lower(trim(text)), 256)," +
        " 1, 8), 16, 10) as bigint) % 10")
      Dedup.minhashDeltaPairs(
        d.filter(shard =!= 0), d.filter(shard === 0),
        "doc_id", "text", n = 3, bands = 4, num = 8, den = 10)
    },

    // Dedup clustering: near-dup pairs → connected components → each doc
    // labeled with its component's min doc id (the survivor). Spark side
    // iterates min-label propagation to the fixpoint; the oracle computes
    // the same fixpoint with a recursive CTE.
    "q_dedup_clusters" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckJaccardCc
        |SELECT node AS doc_id, CAST(min(rep) AS BIGINT) AS rep
        |FROM cc GROUP BY node""".stripMargin) { (s, dir) =>
      jaccardReps(s, dir)
    },

    // L103 — soft-dedup repeat weighting (the data-constrained
    // recipe of Muennighoff et al. 2023): instead of DROPPING
    // near-duplicates, keep every copy and down-weight it by its
    // cluster size — weight_ppm = 1e6 div |cluster| — so each near-dup
    // family contributes ~one document's worth of gradient mass while
    // no text is lost (the right trade when data, not compute, is the
    // binding constraint). Pure composition over the shared pair base:
    // CC clusters → cluster sizes → left-join back to the corpus
    // (singletons weight 1e6). Exact integers end to end.
    "q_dup_weights" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckJaccardCc,
        |reps AS (SELECT node, CAST(min(rep) AS BIGINT) rep FROM cc
        |         GROUP BY node),
        |csz AS (SELECT rep, CAST(count(*) AS BIGINT) csize FROM reps
        |        GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(csize, 1) AS BIGINT) AS csize,
        |  CAST(1000000 // coalesce(csize, 1) AS BIGINT) AS weight_ppm
        |FROM documents d
        |LEFT JOIN reps r ON r.node = d.doc_id
        |LEFT JOIN csz c ON c.rep = r.rep""".stripMargin) { (s, dir) =>
      val cc = Dedup.connectedComponents(SharedBases.jaccardPairs(s, dir))
      val sizes = cc.groupBy("rep").agg(count(lit(1)).as("csize"))
      table(s, dir, "documents").select(col("doc_id"))
        .join(cc.select(col("node").as("doc_id"), col("rep")),
          Seq("doc_id"), "left")
        .join(sizes, Seq("rep"), "left")
        .select(col("doc_id"),
          coalesce(col("csize"), lit(1L)).as("csize"),
          expr("1000000 div coalesce(csize, 1)").as("weight_ppm"))
    },

    // The end of the dedup pipeline: documents that SURVIVE near-dup
    // removal (docs not in any pair, plus each cluster's min-id
    // representative).
    "q_dedup_keep" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckJaccardCc,
        |reps AS (SELECT node AS doc_id, min(rep) AS rep FROM cc GROUP BY node)
        |SELECT d.doc_id FROM documents d
        |LEFT JOIN reps r ON d.doc_id = r.doc_id
        |WHERE r.rep IS NULL OR r.rep = d.doc_id""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      jaccardSurvivors(s, dir, d).select(col("doc_id"))
    },

    // Near-dup cluster size distribution: (cluster_size, n_clusters) over
    // the MinHash+LSH connected components — the over-merge diagnostic
    // run after an LSH parameter change (a fat tail here means bands are
    // too permissive and dedup would eat distinct content). Two tiny aggs
    // over the CC label table; singleton docs (no pair) are not clusters.
    "q_cluster_sizes" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckMinhashPairs,
        |${duckCc("mh_pairs")},
        |reps AS (SELECT node, min(rep) rep FROM cc GROUP BY node),
        |sizes AS (SELECT rep, CAST(count(*) AS BIGINT) cluster_size
        |          FROM reps GROUP BY rep)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) n_clusters
        |FROM sizes GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val pairs = SharedBases.minhashPairs(s, dir)
      Dedup.connectedComponents(pairs.select("a", "b"))
        .groupBy("rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    },

    // Quality-aware survivor selection: MinHash+LSH clusters, but each
    // cluster keeps its HIGHEST-quality member (stopword-count score, ties
    // to the lowest id) rather than the blind min-id — what a production
    // dedup pipeline actually ships. One window pass per cluster picks the
    // argmax; only docs appearing in a pair participate.
    "q_keep_best" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckClusterScores,
        |ranked AS (
        |  SELECT r.rep, r.node, s.score,
        |    row_number() OVER (PARTITION BY r.rep
        |      ORDER BY s.score DESC, r.node ASC) rn,
        |    CAST(count(*) OVER (PARTITION BY r.rep) AS BIGINT) n_members
        |  FROM reps r JOIN scored s ON s.node = r.node)
        |SELECT rep AS cluster_rep, node AS keep_id, score AS keep_score,
        |  n_members
        |FROM ranked WHERE rn = 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val pairs = SharedBases.minhashPairs(s, dir)
      Dedup.keepBestPerCluster(pairs, d, "doc_id",
        TextOps.stopwordCount(d("text"), TextOps.stopEn))
    },

    // Ed-Join edit-distance pair mining: Levenshtein <= 2 on 64-char
    // normalized prefixes, candidates from the lossless q-gram prefix +
    // position-band filters. The oracle is the EXHAUSTIVE length-pruned
    // join, so the hash match certifies candidate completeness of the
    // filter, not just the verify math.
    "q_edit_distance" -> Q(
      """WITH n AS (SELECT doc_id, substr(lower(trim(text)), 1, 64) s
        |           FROM documents)
        |SELECT a.doc_id a, b.doc_id b,
        |  CAST(levenshtein(a.s, b.s) AS INTEGER) dist
        |FROM n a JOIN n b ON a.doc_id < b.doc_id
        |  AND abs(length(a.s) - length(b.s)) <= 2
        |WHERE levenshtein(a.s, b.s) <= 2""".stripMargin) { (s, dir) =>
      Dedup.editDistancePairs(table(s, dir, "documents"),
        "doc_id", "text", q = 3, maxDist = 2, prefixChars = 64)
    },

    // Bounded-output edit-distance mining: symmetrized pairs cut to each
    // doc's 3 closest neighbors (dist asc, nbr asc) — the per-doc emit
    // cap over the same lossless Ed-Join candidates. Oracle = exhaustive
    // length-pruned join, symmetrized, same window.
    "q_edit_distance_topk" -> Q(
      """WITH n AS (SELECT doc_id, substr(lower(trim(text)), 1, 64) s
        |           FROM documents),
        |p AS (SELECT a.doc_id a, b.doc_id b,
        |    CAST(levenshtein(a.s, b.s) AS INTEGER) dist
        |  FROM n a JOIN n b ON a.doc_id < b.doc_id
        |    AND abs(length(a.s) - length(b.s)) <= 2
        |  WHERE levenshtein(a.s, b.s) <= 2),
        |sym AS (SELECT a doc_id, b nbr_id, dist FROM p
        |  UNION ALL SELECT b, a, dist FROM p),
        |rr AS (SELECT doc_id, nbr_id, dist,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY dist, nbr_id) rnk
        |  FROM sym)
        |SELECT doc_id, nbr_id, CAST(rnk AS INTEGER) AS rnk, dist
        |FROM rr WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      Dedup.editDistanceTopK(table(s, dir, "documents"),
        "doc_id", "text", k = 3, q = 3, maxDist = 2, prefixChars = 64)
    },

    // Edit-distance kNN graph — the bounded-compute edit-distance form:
    // capped LSH-bucket candidates scored by full Levenshtein on 64-char
    // normalized prefixes, cut to each doc's 3 closest neighbors.
    // Threshold-free (edges carry true distance); same recall contract
    // as q_containment_graph (bucket collision tracks Jaccard).
    "q_edit_distance_graph" -> Q(
      s"""WITH $duckShingles,
        |$duckMinhashBands,
        |nrm AS (SELECT doc_id, substr(lower(trim(text)), 1, 64) s
        |        FROM documents),
        |$duckKnnCand,
        |scored AS (
        |  SELECT c.a doc_id, c.b nbr_id,
        |    CAST(levenshtein(na.s, nb.s) AS INTEGER) dist
        |  FROM knn_cand c
        |  JOIN nrm na ON na.doc_id = c.a
        |  JOIN nrm nb ON nb.doc_id = c.b),
        |rr AS (
        |  SELECT doc_id, nbr_id, dist,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY dist, nbr_id) rnk
        |  FROM scored)
        |SELECT doc_id, nbr_id, CAST(rnk AS INTEGER) AS rnk, dist
        |FROM rr WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      Dedup.editDistanceGraph(table(s, dir, "documents"), "doc_id", "text",
        k = 3)
    },

    // Triangle counting on the near-dup pair graph: the density
    // diagnostic that separates clique-like true-duplicate clusters from
    // chains of borderline matches BEFORE connectedComponents merges
    // them. Ordered-triple join — each triangle once.
    "q_triangles" -> Q(
      s"""WITH $duckShingles,
        |$duckMinhashPairs,
        |tri AS (
        |  SELECT e1.a x, e1.b y, e2.b z
        |  FROM mh_pairs e1
        |  JOIN mh_pairs e2 ON e2.a = e1.b
        |  JOIN mh_pairs e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT node, CAST(count(*) AS BIGINT) n_tri FROM (
        |  SELECT x node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.triangleCounts(SharedBases.minhashPairs(s, dir))
    },

    // The composed corpus-cleaning pipeline — the flagship end-to-end
    // LLM-data query: MinHash near-dup clusters → quality-argmax survivor
    // per cluster (losers dropped) → minimum-length quality gate →
    // per-lang corpus stats. Every stage is an already-verified operator;
    // the composition is what a production pre-training data job actually
    // runs, and the whole chain stays hash-checked.
    "q_corpus_clean" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckClusterScores,
        |ranked AS (SELECT r.node,
        |    row_number() OVER (PARTITION BY r.rep
        |      ORDER BY s.score DESC, r.node ASC) rn
        |  FROM reps r JOIN scored s ON s.node = r.node),
        |losers AS (SELECT node FROM ranked WHERE rn > 1),
        |kept AS (
        |  SELECT d.lang,
        |    string_split_regex(lower(trim(d.text)), '\\s+') toks
        |  FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT node FROM losers)),
        |q AS (SELECT lang, len(toks) nt FROM kept WHERE len(toks) >= 20)
        |SELECT lang, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(sum(nt) AS BIGINT) n_tokens
        |FROM q GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val pairs = SharedBases.minhashPairs(s, dir)
      val cc = Dedup.connectedComponents(pairs)
      val scored = cc.join(
        d.select(d("doc_id").as("node"),
          TextOps.stopwordCount(d("text"), TextOps.stopEn).as("score")),
        "node")
      val w = Window.partitionBy("rep")
        .orderBy(col("score").desc, col("node").asc)
      val losers = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1).select(col("node").as("doc_id"))
      val kept = d.join(losers, Seq("doc_id"), "left_anti")
      kept.select(kept("lang"),
          size(TextOps.tokens(kept("text"))).as("nt"))
        .filter(col("nt") >= 20)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    },

    // C4-style boilerplate removal at chunk granularity: a 10-token chunk
    // appearing in >= 2 DISTINCT docs is boilerplate; each doc is rebuilt
    // without its boilerplate chunks and fingerprinted. One csha-keyed
    // exchange serves both window passes (lag marker + df sum), one more
    // for the per-doc rollup (plan-audited).
    "q_boilerplate" -> Q(
      """WITH base AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') toks
        |  FROM documents),
        |ch AS (SELECT doc_id,
        |    unnest(generate_series(1, len(toks) // 10)) pos, toks
        |  FROM base),
        |u AS (SELECT doc_id, pos,
        |    array_to_string(toks[(pos-1)*10+1:(pos-1)*10+10], ' ') c
        |  FROM ch),
        |df AS (SELECT c, CAST(count(DISTINCT doc_id) AS BIGINT) df
        |       FROM u GROUP BY 1),
        |j AS (SELECT u.doc_id, u.pos, u.c, df.df FROM u JOIN df USING (c))
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) n_units,
        |  CAST(count(*) FILTER (WHERE df >= 2) AS BIGINT) n_boiler,
        |  sha256(coalesce(array_to_string(
        |    list(c ORDER BY pos) FILTER (WHERE df < 2), ' '), '')) clean_sha
        |FROM j GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.removeBoilerplate(table(s, dir, "documents"), "doc_id", "text",
        w = 10, minDf = 2)
    },

    // BPE merge-candidate mining (the inner loop of byte-pair-encoding
    // tokenizer training): adjacent character-pair counts weighted by word
    // frequency. The corpus shuffles ONCE (map-combined word counts); the
    // quadratic-looking pair expansion runs over the DISTINCT-word table
    // (Heaps' law: sublinear in corpus size), and the global top-50 is a
    // TakeOrdered partial top-k, not a full sort.
    "q_bpe_pairs" -> Q(
      """WITH w AS (SELECT tok, CAST(count(*) AS BIGINT) freq FROM
        |  (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) tok
        |   FROM documents)
        |  WHERE length(tok) >= 2 GROUP BY 1),
        |p AS (SELECT substring(tok, i, 2) pair, freq FROM
        |  (SELECT tok, freq,
        |     unnest(generate_series(1, length(tok)-1)) i FROM w))
        |SELECT pair, CAST(sum(freq) AS BIGINT) cnt
        |FROM p GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 50""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val toks = d.select(
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(length(col("tok")) >= 2)
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      freq.select(explode(transform(
            sequence(lit(1), length(col("tok")) - 1),
            i => col("tok").substr(i, lit(2)))).as("pair"),
          col("freq"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc).limit(50)
    },

    // Paragraph-level (CCNet-style) duplication profile: 10-token chunks,
    // occurrences counted corpus-wide, per-doc duplicated-chunk stats.
    // Chunk text is sha256'd at the scan — only digests shuffle; the count
    // is a window over the digest (one exchange, not groupBy+join-back).
    "q_para_dedup" -> Q(
      s"""WITH ch AS (
        |  SELECT doc_id, sha256(c) csha FROM (
        |    SELECT doc_id, unnest(list_transform(
        |        generate_series(1, len(toks) // 10),
        |        i -> array_to_string(toks[(i-1)*10+1:(i-1)*10+10], ' '))) c
        |    FROM (SELECT doc_id,
        |            string_split_regex(lower(trim(text)), '\\s+') toks
        |          FROM documents))),
        |w AS (SELECT doc_id, count(*) OVER (PARTITION BY csha) cnt FROM ch)
        |$duckChunkDupStats""".stripMargin) { (s, dir) =>
      Dedup.chunkDupStats(table(s, dir, "documents"), "doc_id", "text",
        w = 10)
    },

    // L104 — chunk-dedup APPLICATION: q_para_dedup profiles the
    // duplication, this executes the removal decision — global
    // FIRST-OCCURRENCE-wins at 10-token-chunk granularity (the Lee et
    // al. 2022 exact-dedup policy applied blockwise: later copies of a
    // chunk are dropped wherever they appear, across documents or
    // within one). Occurrence order is the scalar key doc_id·10⁶+idx —
    // a total order both engines compute identically — and "first" is
    // a min window over the chunk digest, so ONLY digests shuffle,
    // once (the q_para_dedup / q_substring_dup shape: no text moves,
    // no join-back). Output per doc: chunks, dropped copies, and the
    // surviving token mass the training mix actually keeps.
    "q_chunk_dedup" -> Q(
      """WITH ch AS (
        |  SELECT doc_id, doc_id * 1000000 + (u.i - 1) AS k,
        |    sha256(array_to_string(
        |      toks[(u.i-1)*10+1:(u.i-1)*10+10], ' ')) csha
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') toks
        |        FROM documents),
        |  LATERAL (SELECT unnest(generate_series(1, len(toks) // 10))
        |           AS i) u),
        |w AS (SELECT doc_id, k, min(k) OVER (PARTITION BY csha) fk
        |      FROM ch)
        |SELECT doc_id, CAST(count(*) AS BIGINT) n_chunks,
        |  CAST(count(*) FILTER (WHERE k <> fk) AS BIGINT) n_dropped,
        |  CAST((count(*) - count(*) FILTER (WHERE k <> fk)) * 10
        |    AS BIGINT) kept_tokens
        |FROM w GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "documents")
      val ch = d.select(col("doc_id"),
          posexplode(TextOps.tokenChunks(col("text"), 10))
            .as(Seq("idx", "c")))
        .select(col("doc_id"),
          (col("doc_id") * 1000000L + col("idx")).as("k"),
          sha2(col("c"), 256).as("csha"))
      ch.withColumn("fk", min("k").over(Window.partitionBy("csha")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("k") =!= col("fk"), 1L).otherwise(0L))
            .as("n_dropped"))
        .select(col("doc_id"), col("n_chunks"), col("n_dropped"),
          ((col("n_chunks") - col("n_dropped")) * 10).as("kept_tokens"))
    },

    // L105 — content-defined-chunking dup profile: the third
    // segmentation in the dedup-profile family. q_para_dedup's fixed
    // 10-token blocks break entirely when a copy inserts/deletes ONE
    // token (every later block shifts out of phase); q_substring_dup
    // catches shifts but pays a window per token. CDC (FastCDC/rsync
    // at token granularity) cuts where the sha256 of the local ≤3-token
    // window starts with hex '0' (P=1/16, mean chunk ≈16 tokens) —
    // boundaries follow CONTENT, so shifted copies re-align at the next
    // cut and shared blocks keep matching at ~chunk-level cost
    // (CdcSpec pins the shift-robust vs fixed-width contrast). Same
    // scale shape as q_para_dedup: chunks built as per-row array
    // expressions, sha256'd at the scan, ONE digest window, map-side
    // rollup; only (doc, digest) rows shuffle.
    "q_cdc_dedup" -> Q(
      s"""WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') toks
        |  FROM documents),
        |cut AS (
        |  SELECT doc_id, toks,
        |    list_filter(generate_series(1, len(toks) - 1), j ->
        |      substr(sha256(array_to_string(
        |        toks[greatest(j - 2, 1):j], ' ')), 1, 1) = '0') cuts
        |  FROM tk),
        |st AS (
        |  SELECT doc_id, toks,
        |    list_prepend(1, list_transform(cuts, j -> j + 1)) starts
        |  FROM cut),
        |ch AS (
        |  SELECT doc_id, sha256(array_to_string(
        |      toks[starts[u.k]:CASE WHEN u.k < len(starts)
        |        THEN starts[u.k + 1] - 1 ELSE len(toks) END], ' ')) usha
        |  FROM st,
        |  LATERAL (SELECT unnest(generate_series(1, len(starts))) AS k) u),
        |w AS (SELECT doc_id, count(*) OVER (PARTITION BY usha) cnt FROM ch)
        |$duckChunkDupStats""".stripMargin) { (s, dir) =>
      Dedup.cdcDupStats(table(s, dir, "documents"), "doc_id", "text")
    },

    // Sliding-window cross-doc duplication (Lee et al. exact-substring
    // signal at 10-gram resolution): per doc, distinct 10-token shingles
    // occurring in >= 1 OTHER doc. Sliding windows catch offset-shifted
    // copies that the blocked chunks of q_para_dedup miss; only digests
    // shuffle, once (window over gsha + map-combined rollup).
    "q_substring_dup" -> Q(
      """WITH sh AS (
        |  SELECT doc_id, sha256(g) gsha FROM (
        |    SELECT DISTINCT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(len(toks) - 9, 1)),
        |      i -> array_to_string(toks[i:i+9], ' '))) g
        |    FROM (SELECT doc_id,
        |            string_split_regex(lower(trim(text)), '\s+') toks
        |          FROM documents))),
        |w AS (SELECT doc_id, count(*) OVER (PARTITION BY gsha) ndocs
        |      FROM sh)
        |SELECT doc_id, CAST(count(*) AS BIGINT) n_shingles,
        |  CAST(count(*) FILTER (WHERE ndocs > 1) AS BIGINT) dup_shingles,
        |  (CAST(count(*) FILTER (WHERE ndocs > 1) AS BIGINT) * 1000)
        |    // CAST(count(*) AS BIGINT) AS dup_permille
        |FROM w GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.substringDupStats(table(s, dir, "documents"),
        "doc_id", "text", n = 10)
    },

    // Tokenizer fertility per language: subword-per-whitespace-token and
    // chars-per-token ratios in integer per-mille (the bytes/token budget
    // check run before a tokenizer change). Pure partial-agg'd groupBy.
    "q_fertility" -> Q(
      """WITH t AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) n_docs,
        |    CAST(sum(length(text)) AS BIGINT) sum_chars,
        |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
        |      AS BIGINT) sum_ws,
        |    CAST(sum(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) sum_sub
        |  FROM documents GROUP BY 1)
        |SELECT lang, n_docs, sum_chars, sum_ws, sum_sub,
        |  (sum_sub * 1000) // nullif(sum_ws, 0) AS fertility_permille,
        |  (sum_chars * 1000) // nullif(sum_ws, 0) AS chars_per_tok_permille
        |FROM t""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      d.groupBy(d("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(d("text")).cast("long")).as("sum_chars"),
          sum(size(TextOps.tokens(d("text"))).cast("long")).as("sum_ws"),
          sum(TextOps.regexCount(lower(d("text")),
            "[a-z]+|[0-9]+|[^a-z0-9\\s]").cast("long")).as("sum_sub"))
        .withColumn("fertility_permille",
          expr("(sum_sub * 1000) div nullif(sum_ws, 0)"))
        .withColumn("chars_per_tok_permille",
          expr("(sum_chars * 1000) div nullif(sum_ws, 0)"))
    },

    // SemDeDup: embedding near-dups mined ONLY within a cluster cell
    // (`label` plays the IVF-cell role here), connected components over
    // the within-cell pairs, drop all but each component's min-id member.
    // The cell-equi join makes the pair space Σ|cell|² instead of n².
    // τ=0.4 sits in a wide gap of the within-label cosine distribution
    // (nearest values 0.39988 / 0.40061 at sf0.1, similar at the other
    // SFs — ~6e-4 wide, ~1e12 double-ulps), so the two engines' different
    // cosine evaluation orders cannot flip a pair across the threshold.
    "q_semdedup" -> Q(
      """WITH RECURSIVE
        |e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id a, b.vec_id b FROM e a JOIN e b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
        |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
        |cc AS (
        |  SELECT DISTINCT src AS node, src AS rep FROM edges
        |  UNION
        |  SELECT e2.dst, cc.rep FROM cc, edges e2 WHERE cc.node = e2.src),
        |reps AS (SELECT node, CAST(min(rep) AS BIGINT) rep
        |         FROM cc GROUP BY node)
        |SELECT node AS drop_id, rep AS keep_id
        |FROM reps WHERE node <> rep""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
      Similarity.semDedup(
        e.select(e("vec_id"), e("label"),
          e("embedding").cast("array<double>")),
        tau = 0.4)
    },

    // DBSCAN density clustering over the embedding corpus (neighbor =
    // cosine >= τ on the unit sphere): core = |N(p)| >= minPts (N incl.
    // p), clusters = CC over core-core edges labeled by min core id,
    // border pinned deterministic (min cluster among core neighbors),
    // noise = -1. The density-stratification view of the corpus SemDeDup
    // flattens: dense regions AND outliers, as first-class roles. τ=0.35
    // sits in a cosine-distribution gap at every SF (narrowest 5.9e-6 at
    // sf0.1, ~1e10 double-ulps — no cross-engine threshold flip);
    // minPts is an exact integer degree cut. The oracle replays the whole
    // chain incl. recursive-CTE CC, so the hash certifies role assignment
    // and cluster labels end-to-end.
    "q_dbscan" -> Q(duckDbscan) {
      (s, dir) =>
        // shared with q_dbscan_prune (SharedBases.dbscanRoles): both pay
        // the same exact pair-mining front-end
        SharedBases.dbscanRoles(s, dir)
    },

    // L60c — the ANN-front-end DBSCAN the L60 scaladoc promises at
    // 100 TB: candidate pairs from a capped multi-table hyperplane-LSH
    // path (24 tables × 2 planes over int8 codes, independent
    // splitmix-mixed hyperplanes), each candidate exactly cosine-scored
    // against τ, feeding the SAME core/border/noise derivation. The
    // oracle is q_dbscan's EXACT SQL verbatim: precision is exact by
    // construction (LSH only proposes; the true-cosine filter disposes)
    // and at this table count the per-pair miss bound (1−(1−θ/π)^p)^T
    // ≈ 2e-5 is below one expected miss on the organic pair count, so
    // the hash certifies full recall — swap-in proven, downstream
    // unchanged. DbscanSpec pins the contract where parameters are
    // deliberately starved: ANN can only DEMOTE (core set shrinks,
    // noise grows), never invent neighbors.
    "q_dbscan_ann" -> Q(duckDbscan) {
      (s, dir) =>
        val e = table(s, dir, "embeddings")
        graft.ops.llm.Similarity.dbscanAnn(
          e.select(e("vec_id"), e("embedding").cast("array<double>")),
          tau = 0.35, minPts = 4, planesPerTable = Seq.fill(24)(2))
    },

    // L60b — the curation application of the density clustering: the
    // pruned keep-set. Outliers (noise) all survive — they carry unique
    // signal; each dense region collapses to ONE representative (its
    // cluster label = the min core id). Border points ride with their
    // cluster and are pruned with it. This is SemDeDup-style semantic
    // pruning but density-aware: sparse regions are never thinned.
    "q_dbscan_prune" -> Q(
      s"""WITH RECURSIVE
        |$duckDbscanCore,
        |labeled AS (
        |  SELECT id FROM corelab
        |  UNION
        |  SELECT DISTINCT n.src FROM nbr n JOIN corelab c ON n.dst = c.id)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, 'outlier' AS reason
        |FROM e WHERE vec_id NOT IN (SELECT id FROM labeled)
        |UNION ALL
        |SELECT DISTINCT CAST(cluster AS BIGINT), 'cluster_rep'
        |FROM corelab""".stripMargin) { (s, dir) =>
      val roles = SharedBases.dbscanRoles(s, dir)
      roles.filter(col("role") === "noise")
        .select(col("vec_id"), lit("outlier").as("reason"))
        .unionByName(
          roles.filter(col("role") =!= "noise")
            .select(col("cluster").as("vec_id")).distinct()
            .select(col("vec_id"), lit("cluster_rep").as("reason")))
    },

    // Mixture/sampling weights per (lang, source) at temperature α = 0.5:
    // weight ∝ √n. √ of an exact integer is correctly rounded in IEEE-754
    // on both engines, so floor(√(n·1e6)) is a deterministic integer —
    // no cross-engine double-sum drift anywhere. Corpus total enters as a
    // broadcast 1-row aggregate (scalar-subquery shape), weights in ppm
    // by integer division.
    "q_mix_weights" -> Q(
      s"""WITH $duckSqrtMix,
        |t AS (SELECT CAST(sum(sqrt_milli) AS BIGINT) tot FROM s)
        |SELECT lang, source, n, sqrt_milli,
        |  (sqrt_milli * 1000000) // t.tot AS weight_ppm
        |FROM s, t""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val g = d.groupBy(d("lang"), d("source"))
        .agg(count(lit(1)).as("n"))
        .withColumn("sqrt_milli",
          floor(sqrt((col("n") * 1000000L).cast("double"))).cast("long"))
      val t = g.agg(sum(col("sqrt_milli")).as("tot"))
      g.crossJoin(t)
        .withColumn("weight_ppm",
          expr("(sqrt_milli * 1000000) div tot"))
        .select("lang", "source", "n", "sqrt_milli", "weight_ppm")
    },

    // Mixture APPLICATION: the q_mix_weights temperature weights turned
    // into an actual sampled corpus — per-cell acceptance rate
    // rate_ppm = weight_ppm * (corpus/2) / n (targeting half the corpus,
    // sqrt-temperature shares), acceptance by deterministic hash
    // threshold (first 6 sha256 hex chars vs a per-cell hex cut) so the
    // sample is reproducible and oracle-checkable. Scale: cell rates are
    // a tiny broadcast; acceptance is a scan-side filter — sampling 100
    // TB costs one pass and no shuffle.
    "q_mix_apply" -> Q(
      s"""WITH $duckSqrtMix,
        |t AS (SELECT CAST(sum(sqrt_milli) AS BIGINT) tot,
        |             CAST(sum(n) AS BIGINT) corpus FROM s),
        |r AS (SELECT lang, source, n,
        |  least(1000000,
        |    (((sqrt_milli * 1000000) // t.tot) * (t.corpus // 2)) // n)
        |    rate_ppm
        |  FROM s, t)
        |SELECT d.doc_id, d.lang, d.source, r.rate_ppm
        |FROM documents d JOIN r
        |  ON d.lang = r.lang AND d.source = r.source
        |WHERE r.rate_ppm >= 1000000 OR
        |  substr(sha256(lower(trim(d.text))), 1, 6) <
        |    printf('%06x', (r.rate_ppm * 16777216) // 1000000)"""
        .stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val g = d.groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .withColumn("sqrt_milli",
          floor(sqrt((col("n") * 1000000L).cast("double"))).cast("long"))
      val t = g.agg(sum(col("sqrt_milli")).as("tot"),
        sum(col("n")).as("corpus"))
      val r = g.crossJoin(t)
        .withColumn("rate_ppm",
          least(lit(1000000L),
            expr("((sqrt_milli * 1000000 div tot) * (corpus div 2)) div n")))
        .select("lang", "source", "rate_ppm")
      d.join(broadcast(r), Seq("lang", "source"))
        .filter(col("rate_ppm") >= 1000000L ||
          substring(sha2(lower(trim(col("text"))), 256), 1, 6) <
            lower(lpad(hex(expr("rate_ppm * 16777216 div 1000000")),
              6, "0")))
        .select("doc_id", "lang", "source", "rate_ppm")
    },

    // Cross-source duplicate leakage: MinHash near-dup pairs joined back
    // to doc sources, counted per unordered source pair — the audit that
    // catches one crawl re-serving another's content. Pair mining reuses
    // the full LSH pipeline; the doc join is on doc_id (pairs ≪ corpus).
    "q_source_overlap" -> Q(
      s"""WITH $duckShingles,
        |$duckMinhashPairs
        |SELECT least(da.source, db.source) src_a,
        |  greatest(da.source, db.source) src_b,
        |  CAST(count(*) AS BIGINT) n_pairs
        |FROM mh_pairs p
        |JOIN documents da ON da.doc_id = p.a
        |JOIN documents db ON db.doc_id = p.b
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val pairs = SharedBases.minhashPairs(s, dir)
      val src = d.select(d("doc_id"), d("source"))
      pairs
        .join(src.toDF("doc_id", "src_l"), col("a") === col("doc_id"))
        .drop("doc_id")
        .join(src.toDF("doc_id", "src_r"), col("b") === col("doc_id"))
        .groupBy(least(col("src_l"), col("src_r")).as("src_a"),
          greatest(col("src_l"), col("src_r")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    // MinHash estimator calibration: per verified near-dup pair, the
    // signature-implied Jaccard estimate (matching 32-bit families / 8)
    // against the exact Jaccard, both in integer permille — the check
    // that (k, bands) is tuned before trusting estimates at full scale.
    // LSH k-NN document graph: each doc's 5 most-similar bucket-mates by
    // exact Jaccard (integer ppm, ties → lower neighbor id), both
    // directions, no threshold — the semantic-clustering / curriculum
    // shape. The oracle enumerates the same band buckets.
    "q_knn_graph" -> Q(
      s"""WITH $duckShingles,
        |$duckKnnInterUni,
        |rr AS (
        |  SELECT doc_id, nbr_id, inter, uni,
        |    (CAST(inter AS BIGINT) * 1000000) // uni AS jac_ppm,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY (CAST(inter AS BIGINT) * 1000000) // uni DESC,
        |        nbr_id) rnk
        |  FROM scored)
        |SELECT doc_id, nbr_id, CAST(rnk AS INTEGER) AS rnk, inter, uni,
        |  jac_ppm
        |FROM rr WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      Dedup.knnGraph(table(s, dir, "documents"), "doc_id", "text", k = 5)
    },

    // L73 — sparse TF-IDF cosine k-NN graph: the lexical sparse-
    // retrieval ranker (idf-weighted term vectors) served through the
    // SAME capped LSH candidate front-end as q_knn_graph, then every
    // candidate pair scored EXACTLY by integer-TF-IDF cosine — the
    // hybrid-retrieval production shape (cheap signatures propose,
    // weighted exact measure ranks) and the lexical complement of the
    // dense-embedding graph q_knn_graph_embed; the two are what a
    // q_rrf_fusion-style ensemble fuses. Weights tf·round(1e4·ln(N/df))
    // are exact BIGINT after the ln quantization (q_nb_train
    // discipline); dots and norms are order-independent integer sums;
    // one mirrored double division per pair, micro-quantized. df = N
    // stopwords carry idf 0 and are cut BEFORE the pair join.
    "q_tfidf_knn" -> Q(
      s"""WITH $duckShingles,
        |$duckTfidfKnnScored,
        |rr AS (
        |  SELECT doc_id, nbr_id, cos_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY cos_micro DESC, nbr_id) rnk
        |  FROM scored)
        |SELECT doc_id, nbr_id, CAST(rnk AS INTEGER) AS rnk, cos_micro
        |FROM rr WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      Dedup.tfidfKnnGraph(table(s, dir, "documents"),
        "doc_id", "text", k = 5)
    },

    // L100 — contrastive hard-negative mining: for each anchor
    // document, the k lexically-CLOSEST documents that are NOT its
    // near-duplicates — exactly what contrastive/embedding training
    // mines (positives = near-dups, hard negatives = high-similarity
    // non-dups; easy negatives are useless, duplicates are poison).
    // Scoring is the exact-integer TF-IDF cosine of L73 over packed
    // postings + the codegen SparseDot; anchors are query-sized and
    // BROADCAST, so the corpus postings stream once with no pair
    // shuffle (the q_similarity brute shape — at 100 TB the anchor
    // batch is the mining batch). The positive-exclusion anti-join
    // rides the shared exact-Jaccard pair base (SharedBases — the
    // persisted dedup index, threshold 0.8 like the dedup family).
    "q_hard_negatives" -> Q(
      s"""WITH $duckShingles,
        |stok AS (SELECT doc_id, unnest(sh) g FROM base),
        |sizes AS (SELECT doc_id, len(sh) n_ FROM base),
        |inter AS (
        |  SELECT l.doc_id a, r.doc_id b, CAST(count(*) AS INTEGER) inter
        |  FROM stok l JOIN stok r ON l.g = r.g AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |posp AS (
        |  SELECT i.a pa, i.b pb FROM inter i
        |  JOIN sizes sa ON sa.doc_id = i.a
        |  JOIN sizes sb ON sb.doc_id = i.b
        |  WHERE i.inter * 10 >= (sa.n_ + sb.n_ - i.inter) * 8),
        |$duckTfidfWeights,
        |dots AS (
        |  SELECT qa.doc_id a, wb.doc_id b,
        |    CAST(sum(qa.wt * wb.wt) AS BIGINT) dot
        |  FROM w2 qa JOIN w2 wb
        |    ON wb.term = qa.term AND wb.doc_id <> qa.doc_id
        |  WHERE qa.doc_id < 5
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.a, d.b,
        |$duckTfidfCos
        |  WHERE d.dot <> 0),
        |negs AS (
        |  SELECT s.* FROM scored s
        |  WHERE NOT EXISTS (SELECT 1 FROM posp p
        |    WHERE p.pa = least(s.a, s.b) AND p.pb = greatest(s.a, s.b))),
        |rr AS (
        |  SELECT a, b, cos_micro, row_number() OVER (
        |    PARTITION BY a ORDER BY cos_micro DESC, b) rnk FROM negs)
        |SELECT a AS anchor_id, b AS neg_id, CAST(rnk AS INTEGER) AS rnk,
        |  cos_micro
        |FROM rr WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      // packed once; anchors broadcast — corpus streams, no pair shuffle
      val packed = Dedup.tfidfPacked(d, "doc_id", "text")
        .localCheckpoint(true)
      val anchors = packed.filter(col("doc") < 5)
        .select(col("doc").as("a"), col("ent").as("ea"),
          col("n2").as("na2"))
      val scored = packed.join(broadcast(anchors), col("doc") =!= col("a"))
        .select(col("a"), col("doc").as("b"),
          graft.functions.SparseDot(col("ea"), col("ent")).as("dot"),
          col("na2"), col("n2").as("nb2"))
        // weights strictly positive => dot != 0 <=> term overlap (the
        // oracle's inner term join row set, the L73 argument)
        .filter(col("dot") =!= 0)
        .select(col("a"), col("b"), Dedup.cosMicro.as("cos_micro"))
      // exclusion set pre-filtered to pairs TOUCHING an anchor (every
      // scored pair has one, so the anti-join result is unchanged) and
      // broadcast — anchor-count-sized, so at corpus scale the pair
      // base never shuffles into this query
      val pos = SharedBases.jaccardPairs(s, dir)
        .select(col("a").as("pa"), col("b").as("pb"))
        .join(broadcast(anchors.select(col("a").as("aid"))),
          col("pa") === col("aid") || col("pb") === col("aid"),
          "left_semi")
      val negs = scored.join(broadcast(pos),
        least(col("a"), col("b")) === col("pa") &&
          greatest(col("a"), col("b")) === col("pb"), "left_anti")
      graft.ops.TopK(negs, Seq("a"), negs("cos_micro"), Seq(negs("b")), 5)
        .select(col("a").as("anchor_id"), col("b").as("neg_id"),
          col("rnk"), col("cos_micro"))
    },

    // L78 — PageRank document authority over the kNN similarity graph
    // (the graph-centrality corpus ranking: which documents sit at the
    // center of their similarity neighborhood — the principled
    // "keep the canonical copy" signal, and the corpus-level
    // counterpart of the per-doc TextRank L36). Fixed 5 power
    // iterations in EXACT INTEGER micro units — contrib(u) =
    // rank(u) div outdeg(u), rank'(v) = 150000 + (850000·Σcontrib)
    // div 1e6 — so the fixed point is bit-identical on both engines
    // (no float mass redistribution; 850000·Σranks holds in BIGINT to
    // ~1e13 total node mass, beyond: DECIMAL(38) per the X51 pattern).
    // Spark-first shape: the edge set (the q_knn_graph operator reused
    // verbatim) is eagerly checkpointed ONCE and each iteration is one
    // edge⋈rank join + target-key partial agg + node left-join, the
    // rank table checkpointed per round (the connectedComponents /
    // Bpe.train driver-loop precedent — plans stay flat, nothing
    // re-derives the graph). Dangling mass (capped nodes with no
    // surviving out-edges) follows the standard drop convention.
    "q_pagerank" -> Q(
      s"""WITH $duckShingles,
        |$duckKnnEdges,
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) deg FROM edges
        |        GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS id FROM edges
        |          UNION SELECT DISTINCT dst FROM edges),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) pr FROM nodes),
        |c1 AS (SELECT e.dst id, CAST(sum(r.pr // d.deg) AS BIGINT) m
        |  FROM edges e JOIN deg d ON d.src = e.src
        |  JOIN r0 r ON r.id = e.src GROUP BY 1),
        |r1 AS (SELECT n.id,
        |    150000 + (850000 * coalesce(c.m, 0)) // 1000000 AS pr
        |  FROM nodes n LEFT JOIN c1 c ON c.id = n.id),
        |c2 AS (SELECT e.dst id, CAST(sum(r.pr // d.deg) AS BIGINT) m
        |  FROM edges e JOIN deg d ON d.src = e.src
        |  JOIN r1 r ON r.id = e.src GROUP BY 1),
        |r2 AS (SELECT n.id,
        |    150000 + (850000 * coalesce(c.m, 0)) // 1000000 AS pr
        |  FROM nodes n LEFT JOIN c2 c ON c.id = n.id),
        |c3 AS (SELECT e.dst id, CAST(sum(r.pr // d.deg) AS BIGINT) m
        |  FROM edges e JOIN deg d ON d.src = e.src
        |  JOIN r2 r ON r.id = e.src GROUP BY 1),
        |r3 AS (SELECT n.id,
        |    150000 + (850000 * coalesce(c.m, 0)) // 1000000 AS pr
        |  FROM nodes n LEFT JOIN c3 c ON c.id = n.id),
        |c4 AS (SELECT e.dst id, CAST(sum(r.pr // d.deg) AS BIGINT) m
        |  FROM edges e JOIN deg d ON d.src = e.src
        |  JOIN r3 r ON r.id = e.src GROUP BY 1),
        |r4 AS (SELECT n.id,
        |    150000 + (850000 * coalesce(c.m, 0)) // 1000000 AS pr
        |  FROM nodes n LEFT JOIN c4 c ON c.id = n.id),
        |c5 AS (SELECT e.dst id, CAST(sum(r.pr // d.deg) AS BIGINT) m
        |  FROM edges e JOIN deg d ON d.src = e.src
        |  JOIN r4 r ON r.id = e.src GROUP BY 1),
        |r5 AS (SELECT n.id,
        |    150000 + (850000 * coalesce(c.m, 0)) // 1000000 AS pr
        |  FROM nodes n LEFT JOIN c5 c ON c.id = n.id)
        |SELECT r5.id AS doc_id, r5.pr AS pr_micro,
        |  CAST(coalesce(deg.deg, 0) AS BIGINT) AS n_out
        |FROM r5 LEFT JOIN deg ON deg.src = r5.id""".stripMargin) {
      (s, dir) =>
      val g = SharedBases.knnEdges(s, dir)
        .select(col("doc_id").as("src"), col("nbr_id").as("dst"))
        // the edge set feeds deg, nodes, and five join rounds — ONE
        // graph build (EAGER CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala),
        // served from the shared kNN base (SharedBases.knnEdges)
        .localCheckpoint(true)
      val deg = g.groupBy("src").agg(count(lit(1)).as("deg"))
      val edges = g.join(deg, "src").localCheckpoint(true)
      val nodes = g.select(col("src").as("id"))
        .union(g.select(col("dst").as("id")))
        .distinct().localCheckpoint(true)
      var ranks = nodes.select(col("id"), lit(1000000L).as("pr"))
      for (_ <- 1 to 5) {
        val contrib = edges
          .join(ranks, edges("src") === ranks("id"))
          .select(col("dst").as("id"), expr("pr div deg").as("m"))
          .groupBy("id").agg(sum("m").as("m"))
        ranks = nodes.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (lit(150000L) +
              expr("(850000 * coalesce(m, 0)) div 1000000")).as("pr"))
          .localCheckpoint(true)
      }
      ranks
        .join(deg.select(col("src").as("id"), col("deg")), Seq("id"),
          "left")
        .select(col("id").as("doc_id"), col("pr").as("pr_micro"),
          coalesce(col("deg"), lit(0L)).as("n_out"))
    },

    // L93 — HITS hubs & authorities over the kNN document graph (the
    // directed companion to q_pagerank: on a top-k similarity graph the
    // asymmetry is real — a hub's shingles reach many docs' top-5, an
    // authority sits in many top-5s — and the two scores answer
    // different curation questions). Two mutual-reinforcement rounds in
    // EXACT INTEGER micro units, the q_pagerank unrolled-recurrence
    // discipline applied to the two-vector fixed point: a' = Σ h(in),
    // renormalized to (1e6·a') div max(a') with the max as a 1-row
    // broadcast (HITS diverges without per-round normalization — the
    // max-norm is the integer-exact choice; the conventional L2 norm
    // would put a sqrt inside the recurrence), then h' = Σ a''(out),
    // same treatment. The DuckDB oracle unrolls the identical rounds.
    // Scale: edge set from the shared kNN base, checkpointed once; each
    // half-round is one edge⋈score join + key partial agg + a 1-row
    // max broadcast; score tables checkpointed per round.
    "q_hits" -> Q(
      s"""WITH $duckShingles,
        |$duckKnnEdges,
        |nodes AS (SELECT DISTINCT src AS id FROM edges
        |          UNION SELECT DISTINCT dst FROM edges),
        |h0 AS (SELECT id, CAST(1000000 AS BIGINT) v FROM nodes),
        |a1r AS (SELECT e.dst id, CAST(sum(h.v) AS BIGINT) s
        |  FROM edges e JOIN h0 h ON h.id = e.src GROUP BY 1),
        |a1m AS (SELECT CAST(max(s) AS BIGINT) m FROM a1r),
        |a1 AS (SELECT n.id,
        |    CAST(coalesce((1000000 * r.s) // a1m.m, 0) AS BIGINT) v
        |  FROM nodes n LEFT JOIN a1r r ON r.id = n.id, a1m),
        |h1r AS (SELECT e.src id, CAST(sum(a.v) AS BIGINT) s
        |  FROM edges e JOIN a1 a ON a.id = e.dst GROUP BY 1),
        |h1m AS (SELECT CAST(max(s) AS BIGINT) m FROM h1r),
        |h1 AS (SELECT n.id,
        |    CAST(coalesce((1000000 * r.s) // h1m.m, 0) AS BIGINT) v
        |  FROM nodes n LEFT JOIN h1r r ON r.id = n.id, h1m),
        |a2r AS (SELECT e.dst id, CAST(sum(h.v) AS BIGINT) s
        |  FROM edges e JOIN h1 h ON h.id = e.src GROUP BY 1),
        |a2m AS (SELECT CAST(max(s) AS BIGINT) m FROM a2r),
        |a2 AS (SELECT n.id,
        |    CAST(coalesce((1000000 * r.s) // a2m.m, 0) AS BIGINT) v
        |  FROM nodes n LEFT JOIN a2r r ON r.id = n.id, a2m),
        |h2r AS (SELECT e.src id, CAST(sum(a.v) AS BIGINT) s
        |  FROM edges e JOIN a2 a ON a.id = e.dst GROUP BY 1),
        |h2m AS (SELECT CAST(max(s) AS BIGINT) m FROM h2r),
        |h2 AS (SELECT n.id,
        |    CAST(coalesce((1000000 * r.s) // h2m.m, 0) AS BIGINT) v
        |  FROM nodes n LEFT JOIN h2r r ON r.id = n.id, h2m)
        |SELECT a2.id AS doc_id, a2.v AS auth_micro, h2.v AS hub_micro
        |FROM a2 JOIN h2 ON h2.id = a2.id""".stripMargin) { (s, dir) =>
      val edges = SharedBases.knnEdges(s, dir)
        .select(col("doc_id").as("src"), col("nbr_id").as("dst"))
        // feeds all four half-rounds — checkpointed once
        .localCheckpoint(true)
      val nodes = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id")))
        .distinct().localCheckpoint(true)
      def halfRound(score: DataFrame,
                    from: String, to: String) = {
        val r = edges
          .join(score.withColumnRenamed("id", "jid"),
            col(from) === col("jid"))
          .groupBy(col(to).as("rid")).agg(sum("v").as("s"))
        val m = r.agg(max("s").as("m"))
        nodes.join(r, col("id") === col("rid"), "left")
          .crossJoin(broadcast(m))
          .select(col("id"),
            coalesce(expr("(1000000 * s) div m"), lit(0L)).as("v"))
          .localCheckpoint(true)
      }
      var a = nodes.select(col("id"), lit(1000000L).as("v"))
      var h = a
      for (_ <- 1 to 2) {
        a = halfRound(h, "src", "dst")
        h = halfRound(a, "dst", "src")
      }
      a.withColumnRenamed("v", "auth_micro")
        .join(h.withColumnRenamed("v", "hub_micro"), "id")
        .select(col("id").as("doc_id"), col("auth_micro"),
          col("hub_micro"))
    },

    // L89 — label-propagation communities over the kNN document graph
    // (the community-detection companion to q_dedup_clusters'
    // connected components and q_pagerank's authority: CC merges
    // anything touching, LPA splits a connected blob into its DENSE
    // neighborhoods — the duplicate-family vs topic-community
    // distinction). Three SYNCHRONOUS majority-vote rounds over the
    // symmetrized q_knn_graph edge set, seeded with each node's own
    // id; the vote is exact integer counting with the deterministic
    // (count desc, label asc) tie-break (max count, then min label —
    // two aggregates, no float, no RNG), so the 3-round fixed point is
    // bit-identical on both engines and the DuckDB oracle unrolls the
    // same rounds as CTEs (the q_pagerank discipline). Scale: the
    // symmetric edge set is checkpointed once; each round is one
    // edge⋈label join + two (node, label)-keyed partial aggs, label
    // table checkpointed per round (the CC/BPE driver-loop precedent).
    "q_label_prop" -> Q(
      s"""WITH $duckShingles,
        |$duckKnnE2,
        |$duckLpa3,
        |cs AS (SELECT lbl, CAST(count(*) AS BIGINT) community_size
        |  FROM l3 GROUP BY 1)
        |SELECT l3.id AS doc_id, l3.lbl AS community, cs.community_size
        |FROM l3 JOIN cs ON cs.lbl = l3.lbl""".stripMargin) { (s, dir) =>
      // vote rounds + symmetric edge set live in lpa3 (shared with
      // q_modularity); ONE graph build off SharedBases.knnEdges
      val (_, lbl) = lpa3(s, dir)
      val cs = lbl.groupBy("lbl").agg(count(lit(1)).as("community_size"))
      lbl.join(broadcast(cs), "lbl")
        .select(col("id").as("doc_id"), col("lbl").as("community"),
          col("community_size"))
    },

    // L89b — Newman modularity of the LPA communities: the
    // QUALITY certificate for q_label_prop — did the vote actually find
    // dense neighborhoods, or arbitrary cuts? Q = Σ_c [e_c/m −
    // (d_c/2m)²] over the same symmetrized kNN edge set, computed in
    // the scaled ALL-INTEGER form contrib_c = E·e_c_dir − d_c² (E =
    // directed edge count = 2m, e_c_dir = directed intra-community
    // edges = 2e_c), so E²·Q = Σ contrib is exact and order-free;
    // the global ppm headline is one truncating division (Spark `div`
    // ≡ DuckDB `//`, both toward zero). Per community: size, intra
    // mass, degree mass, contribution — zero-intra communities surface
    // via left join, never vanish. Scale: label + degree tables are
    // node-keyed aggs of the checkpointed e2; intra is one edge⋈label
    // ⋈label pipeline; E rides a broadcast 1-row agg. BIGINT holds
    // through E ~ 3e9 directed edges (contrib ≤ E²·1e6 bound is the
    // ppm step); past that, promote contrib to DECIMAL(38,0).
    "q_modularity" -> Q(
      s"""WITH $duckShingles,
        |$duckKnnE2,
        |$duckLpa3,
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) d
        |  FROM e2 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) e FROM e2),
        |intra AS (
        |  SELECT la.lbl, CAST(count(*) AS BIGINT) ie
        |  FROM e2 JOIN l3 la ON la.id = e2.src
        |          JOIN l3 lb ON lb.id = e2.dst
        |  WHERE la.lbl = lb.lbl GROUP BY 1),
        |dc AS (SELECT lbl, CAST(count(*) AS BIGINT) n_nodes,
        |    CAST(sum(d) AS BIGINT) deg_sum
        |  FROM l3 JOIN deg ON deg.id = l3.id GROUP BY 1),
        |pc AS (SELECT dc.lbl community, n_nodes,
        |    coalesce(ie, CAST(0 AS BIGINT)) intra_edges, deg_sum,
        |    e * coalesce(ie, CAST(0 AS BIGINT)) - deg_sum * deg_sum
        |      AS contrib
        |  FROM dc LEFT JOIN intra ON intra.lbl = dc.lbl, tot),
        |g AS (SELECT CAST(sum(contrib) AS BIGINT) * 1000000
        |    // (min(e) * min(e)) AS modularity_ppm
        |  FROM pc, tot)
        |SELECT community, n_nodes, intra_edges, deg_sum, contrib,
        |  modularity_ppm
        |FROM pc, g""".stripMargin) { (s, dir) =>
      val (e2, lbl) = lpa3(s, dir)
      val deg = e2.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("d"))
      val tot = e2.agg(count(lit(1)).as("e"))
      val la = lbl.select(col("id").as("sid"), col("lbl").as("slbl"))
      val lb = lbl.select(col("id").as("did"), col("lbl").as("dlbl"))
      val intra = e2
        .join(la, e2("src") === la("sid"))
        .join(lb, e2("dst") === lb("did"))
        .filter(col("slbl") === col("dlbl"))
        .groupBy(col("slbl").as("ilbl"))
        .agg(count(lit(1)).as("ie"))
      val dc = lbl.join(deg, "id").groupBy("lbl")
        .agg(count(lit(1)).as("n_nodes"), sum("d").as("deg_sum"))
      val pc = dc
        .join(intra, dc("lbl") === intra("ilbl"), "left")
        .select(dc("lbl").as("community"), col("n_nodes"),
          coalesce(col("ie"), lit(0L)).as("intra_edges"),
          col("deg_sum"))
        .crossJoin(broadcast(tot))
        .withColumn("contrib",
          col("e") * col("intra_edges")
            - col("deg_sum") * col("deg_sum"))
        .localCheckpoint(true)
      val g = pc.agg(min("e").as("ecnt"), sum("contrib").as("sc"))
        .select(expr("sc * 1000000 div (ecnt * ecnt)")
          .as("modularity_ppm"))
      pc.crossJoin(broadcast(g))
        .select(col("community"), col("n_nodes"), col("intra_edges"),
          col("deg_sum"), col("contrib"), col("modularity_ppm"))
    },

    // L107 — degree assortativity of the kNN document graph: do
    // high-degree docs (boilerplate hubs, template families) link to
    // each other or to the periphery? — the Newman degree-correlation
    // coefficient, the standard structure diagnostic next to
    // q_modularity's partition quality. Over the symmetric directed
    // edge set (M = |e2|, j/k = endpoint degrees) the undirected
    // formula is the PURE-INTEGER rational r = (M·S_jk − S_j²) /
    // (M·S_jj − S_j²) — no sqrt, because Σj = Σk and Σj² = Σk² by
    // symmetry, so the two denominator factors coincide. num/den are
    // emitted raw (BIGINT-safe to ~1e16 edge·deg² — far past any kNN
    // graph with bounded k) and the ppm headline goes through
    // DECIMAL(38)·1e6 with the truncating div ≡ DuckDB HUGEINT·1e6 //.
    // Scale: ONE degree agg + two degree joins onto the checkpointed
    // e2 + a 1-row global agg — no windows, no driver state.
    "q_assortativity" -> Q(
      s"""WITH $duckShingles,
        |$duckKnnE2,
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) d
        |  FROM e2 GROUP BY 1),
        |ej AS (
        |  SELECT dj.d j, dk.d k
        |  FROM e2 JOIN deg dj ON dj.id = e2.src
        |          JOIN deg dk ON dk.id = e2.dst),
        |s AS (SELECT CAST(count(*) AS BIGINT) m,
        |    CAST(sum(j * k) AS BIGINT) s_jk,
        |    CAST(sum(j) AS BIGINT) s_j,
        |    CAST(sum(j * j) AS BIGINT) s_jj
        |  FROM ej)
        |SELECT m AS m_edges,
        |  m * s_jk - s_j * s_j AS num,
        |  m * s_jj - s_j * s_j AS den,
        |  CAST((CAST(m * s_jk - s_j * s_j AS HUGEINT) * 1000000)
        |    // (m * s_jj - s_j * s_j) AS BIGINT) AS r_ppm
        |FROM s""".stripMargin) { (s, dir) =>
      val e2 = symmetricKnnEdges(s, dir)
      val deg = e2.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      val dj = deg.select(col("id").as("jid"), col("d").as("j"))
      val dk = deg.select(col("id").as("kid"), col("d").as("k"))
      e2.join(dj, e2("src") === dj("jid"))
        .join(dk, e2("dst") === dk("kid"))
        .agg(count(lit(1)).as("m"), sum(col("j") * col("k")).as("s_jk"),
          sum("j").as("s_j"), sum(col("j") * col("j")).as("s_jj"))
        .select(col("m").as("m_edges"),
          (col("m") * col("s_jk") - col("s_j") * col("s_j")).as("num"),
          (col("m") * col("s_jj") - col("s_j") * col("s_j")).as("den"))
        .select(col("m_edges"), col("num"), col("den"),
          expr("CAST((CAST(num AS DECIMAL(38,0)) * 1000000) div den" +
            " AS BIGINT)").as("r_ppm"))
    },

    // L108 — local clustering coefficient over the kNN document graph
    // — the third structure diagnostic on the shared e2 substrate
    // (modularity: partition quality; assortativity: hub mixing; this:
    // neighborhood closure — template families close into cliques,
    // topical neighborhoods stay open). Exact rational per node:
    // cc_ppm = 2·tri(v)·1e6 div (deg(v)·(deg(v)−1)), deg<2 → 0 (left
    // join keeps those nodes visible). Triangles enumerate each once
    // via the canonical x<y<z ordering — two self-joins on the
    // ALREADY-CANONICAL half edge set, never an open wedge join-back;
    // per-node counts are three keyed partial aggs over the
    // triangle-sized (not edge²) intermediate. Scale: all equi-joins
    // on the checkpointed e2/deg; triangle volume is the graph's own
    // closure count, bucket-capped upstream like every SB1 consumer.
    "q_clustering_coeff" -> Q(
      s"""WITH $duckShingles,
        |$duckKnnE2,
        |el AS (SELECT src x, dst y FROM e2 WHERE src < dst),
        |tri AS (
        |  SELECT e1.x, e1.y, e2.y z
        |  FROM el e1
        |  JOIN el e2 ON e2.x = e1.y
        |  JOIN el e3 ON e3.x = e1.x AND e3.y = e2.y),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) n_tri FROM (
        |    SELECT x node FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY 1),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) d
        |  FROM e2 GROUP BY 1)
        |SELECT deg.id AS doc_id, deg.d AS degree,
        |  coalesce(n_tri, CAST(0 AS BIGINT)) AS n_tri,
        |  CASE WHEN deg.d < 2 THEN CAST(0 AS BIGINT)
        |    ELSE coalesce(n_tri, CAST(0 AS BIGINT)) * 2000000
        |      // (deg.d * (deg.d - 1)) END AS cc_ppm
        |FROM deg LEFT JOIN tc ON tc.node = deg.id""".stripMargin) {
      (s, dir) =>
      val e2 = symmetricKnnEdges(s, dir)
      val el = e2.filter(col("src") < col("dst"))
        .select(col("src").as("x"), col("dst").as("y"))
        .localCheckpoint(true)
      val ab = el.select(col("x"), col("y"))
      val bc = el.select(col("x").as("y2"), col("y").as("z"))
      val ac = el.select(col("x").as("x3"), col("y").as("z3"))
      val tri = ab
        .join(bc, ab("y") === bc("y2"))
        .join(ac, ab("x") === ac("x3") && bc("z") === ac("z3"))
        .select(col("x"), col("y"), col("z"))
      val tc = tri.select(col("x").as("node"))
        .union(tri.select(col("y").as("node")))
        .union(tri.select(col("z").as("node")))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      val deg = e2.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("d"))
      deg.join(tc, deg("id") === tc("node"), "left")
        .select(col("id").as("doc_id"), col("d").as("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .select(col("doc_id"), col("degree"), col("n_tri"),
          when(col("degree") < 2, 0L)
            .otherwise(expr(
              "n_tri * 2000000 div (degree * (degree - 1))"))
            .as("cc_ppm"))
    },

    // L79 — Gini concentration of token mass across documents per
    // source (the corpus-balance audit: is a source's token budget
    // spread evenly or dominated by a few giant documents? — the
    // companion diagnostic to q_mix_weights' BETWEEN-source balance).
    // The rank form G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) over
    // ascending-sorted doc sizes is exact integer in numerator and
    // denominator (x equal ⇒ any within-tie order gives the same Σi·x,
    // so the (x, doc_id) sort is deterministic AND tie-robust); one
    // mirrored double division, ppm-quantized. ONE scan, ONE window
    // pass partitioned by source, source-sized output. n·Σx holds in
    // BIGINT to ~9e18 doc·tokens (beyond: DECIMAL(38), X51 pattern).
    "q_gini" -> Q(
      """WITH x AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |      AS BIGINT) x
        |  FROM documents),
        |r AS (
        |  SELECT source, x,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY x, doc_id) AS BIGINT) i
        |  FROM x),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |    CAST(sum(x) AS BIGINT) total_tokens,
        |    CAST(sum(i * x) AS BIGINT) six
        |  FROM r GROUP BY 1)
        |SELECT source, n_docs, total_tokens,
        |  CAST(round(1000000
        |    * CAST(2 * six - (n_docs + 1) * total_tokens AS DOUBLE)
        |    / CAST(n_docs * total_tokens AS DOUBLE)) AS BIGINT)
        |    AS gini_ppm
        |FROM g WHERE total_tokens > 0""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val x = d.select(d("source"), d("doc_id"),
        size(TextOps.tokens(d("text"))).cast("long").as("x"))
      val w = Window.partitionBy("source").orderBy("x", "doc_id")
      x.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("x").as("total_tokens"),
          sum(col("i") * col("x")).as("six"))
        .filter(col("total_tokens") > 0)
        .select(col("source"), col("n_docs"), col("total_tokens"),
          round(lit(1000000)
            * (lit(2) * col("six")
              - (col("n_docs") + 1) * col("total_tokens")).cast("double")
            / (col("n_docs") * col("total_tokens")).cast("double"))
            .cast("long").as("gini_ppm"))
    },

    // L80 — pairwise Jensen–Shannon divergence between source unigram
    // distributions over the top-500 vocabulary (the mixture
    // diagnostic: WHICH sources are near-duplicates of each other at
    // the distribution level — q_source_overlap finds shared documents,
    // this finds shared *language*). The fixed top-V feature set (total
    // order: global count desc, term asc — a TakeOrderedAndProject
    // limit, never a full vocab sort) makes the operator scale-safe:
    // the dense source×V grid and the V-keyed pair join are
    // sources²×V-sized regardless of corpus size. Each KL term
    // p·ln(2p/(p+q)) is evaluated on exact integer cross-products
    // (2·ca·tb / (ca·tb+cb·ta) — no float intermediate distributions),
    // nano-quantized PER TERM so the pair sums are order-free integer
    // sums. Output is 2·JS in nano units — the final halving is NOT
    // applied because trunc-vs-floor division diverges on the (rare)
    // quantization-negative sums; the doubled value is exact on both
    // engines. Degenerate sources (no top-V mass) filtered by the same
    // exact test.
    "q_js_div" -> Q(
      """WITH tok AS (
        |  SELECT source,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) term
        |  FROM documents),
        |stc AS (SELECT source, term, CAST(count(*) AS BIGINT) c
        |        FROM tok GROUP BY 1, 2),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, sum(c) tc FROM stc GROUP BY 1
        |    ORDER BY tc DESC, term LIMIT 500)),
        |stv AS (SELECT s.source, s.term, s.c FROM stc s
        |        JOIN vocab v ON v.term = s.term),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) t FROM stv
        |        GROUP BY 1),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |grid AS (
        |  SELECT sr.source, v.term, CAST(coalesce(s.c, 0) AS BIGINT) c,
        |    t.t
        |  FROM srcs sr CROSS JOIN vocab v
        |  LEFT JOIN stv s ON s.source = sr.source AND s.term = v.term
        |  JOIN tot t ON t.source = sr.source),
        |pp AS (
        |  SELECT a.source sa, b.source sb, a.c ca, a.t ta, b.c cb, b.t tb
        |  FROM grid a JOIN grid b
        |    ON a.term = b.term AND a.source < b.source
        |  WHERE a.t > 0 AND b.t > 0),
        |contrib AS (
        |  SELECT sa, sb,
        |    CASE WHEN ca > 0 THEN CAST(round(1000000000
        |      * (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
        |      * ln(CAST(2 * ca * tb AS DOUBLE)
        |        / CAST(ca * tb + cb * ta AS DOUBLE))) AS BIGINT)
        |      ELSE 0 END ja,
        |    CASE WHEN cb > 0 THEN CAST(round(1000000000
        |      * (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
        |      * ln(CAST(2 * cb * ta AS DOUBLE)
        |        / CAST(ca * tb + cb * ta AS DOUBLE))) AS BIGINT)
        |      ELSE 0 END jb
        |  FROM pp)
        |SELECT sa AS src_a, sb AS src_b,
        |  CAST(sum(ja) + sum(jb) AS BIGINT) AS js2_nano
        |FROM contrib GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val stc = d.select(d("source"),
          explode(TextOps.tokens(d("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
        // feeds the vocab cut, the grid, and the totals — ONE token
        // shuffle (EAGER CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala)
        .localCheckpoint(true)
      val vocab = stc.groupBy("term").agg(sum("c").as("tc"))
        .orderBy(col("tc").desc, col("term")).limit(500)
        .select("term")
      val stv = stc.join(broadcast(vocab), "term")
      val tot = stv.groupBy("source").agg(sum("c").as("t"))
      val grid = d.select(d("source")).distinct()
        .crossJoin(broadcast(vocab))
        .join(stv, Seq("source", "term"), "left")
        .join(broadcast(tot), "source")
        .select(col("source"), col("term"),
          coalesce(col("c"), lit(0L)).as("c"), col("t"))
        // both sides of the pair join — ONE grid build
        .localCheckpoint(true)
      val a = grid.select(col("term"), col("source").as("sa"),
        col("c").as("ca"), col("t").as("ta"))
      val b = grid.select(col("term"), col("source").as("sb"),
        col("c").as("cb"), col("t").as("tb"))
      val ja = when(col("ca") > 0,
        round(lit(1000000000L)
          * (col("ca").cast("double") / col("ta").cast("double"))
          * log((lit(2) * col("ca") * col("tb")).cast("double")
            / (col("ca") * col("tb") + col("cb") * col("ta"))
              .cast("double"))).cast("long")).otherwise(0L)
      val jb = when(col("cb") > 0,
        round(lit(1000000000L)
          * (col("cb").cast("double") / col("tb").cast("double"))
          * log((lit(2) * col("cb") * col("ta")).cast("double")
            / (col("ca") * col("tb") + col("cb") * col("ta"))
              .cast("double"))).cast("long")).otherwise(0L)
      // the grid is bounded at sources×V by construction — the pair
      // join broadcasts one side instead of exchanging both
      a.join(broadcast(b), Seq("term"))
        .filter(col("sa") < col("sb") && col("ta") > 0 && col("tb") > 0)
        .select(col("sa"), col("sb"), ja.as("ja"), jb.as("jb"))
        .groupBy("sa", "sb")
        .agg((sum("ja") + sum("jb")).as("js2_nano"))
        .select(col("sa").as("src_a"), col("sb").as("src_b"),
          col("js2_nano"))
    },

    // L75 — NDCG@5 ranking evaluation (the IR-eval kernel, and q_auc's
    // companion for RANKED output): how well does the sparse TF-IDF
    // cosine ranker (q_tfidf_knn, recomputed verbatim) order its
    // retrieved set against graded exact-Jaccard relevance? Gains are
    // rel/ln(rank+1) — the ln-discounted DCG variant (log base is a
    // constant factor; the NDCG ratio is what matters) — quantized to
    // integers PER TERM so the per-doc sums are order-free; the ideal
    // ordering re-ranks the SAME retrieved set by relevance (local
    // NDCG, the standard choice when ground truth is the candidate
    // pool) with a deterministic (rel desc, nbr) tie-break; the final
    // ratio is one mirrored double division, ppm-quantized. Scale:
    // everything past the (shared-shape) candidate scoring is
    // k-bounded per doc.
    "q_ndcg" -> Q(
      s"""WITH $duckShingles,
        |$duckTfidfKnnScored,
        |knn AS (
        |  SELECT doc_id, nbr_id, rnk FROM (
        |    SELECT doc_id, nbr_id,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY cos_micro DESC, nbr_id) rnk
        |    FROM scored) WHERE rnk <= 5),
        |relg AS (
        |  SELECT k.doc_id, k.nbr_id, k.rnk,
        |    (CAST(len(list_intersect(ba.sh, bb.sh)) AS BIGINT) * 1000000)
        |      // CAST(len(ba.sh) + len(bb.sh)
        |        - len(list_intersect(ba.sh, bb.sh)) AS BIGINT) AS rel
        |  FROM knn k
        |  JOIN base ba ON ba.doc_id = k.doc_id
        |  JOIN base bb ON bb.doc_id = k.nbr_id),
        |ideal AS (
        |  SELECT doc_id, rnk, rel,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY rel DESC, nbr_id) irnk
        |  FROM relg),
        |gains AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(rel AS DOUBLE)
        |      / ln(CAST(rnk + 1 AS DOUBLE))) AS BIGINT) gain,
        |    CAST(round(CAST(rel AS DOUBLE)
        |      / ln(CAST(irnk + 1 AS DOUBLE))) AS BIGINT) igain
        |  FROM ideal),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) n_nbrs,
        |    CAST(sum(gain) AS BIGINT) dcg_micro,
        |    CAST(sum(igain) AS BIGINT) idcg_micro
        |  FROM gains GROUP BY 1)
        |SELECT doc_id, n_nbrs, dcg_micro, idcg_micro,
        |  CAST(round(1000000 * CAST(dcg_micro AS DOUBLE)
        |    / CAST(idcg_micro AS DOUBLE)) AS BIGINT) AS ndcg_ppm
        |FROM agg WHERE idcg_micro > 0""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val g = Dedup.tfidfKnnGraph(d, "doc_id", "text", k = 5)
      val sets = d.select(d("doc_id").as("sid"),
          TextOps.shingleSet(d("text"), 3).as("sh"))
        // joined on BOTH sides of every edge — checkpoint keeps the
        // shingle pass single-scan (EAGER CHECKPOINT DISCIPLINE)
        .localCheckpoint(true)
      val interC = size(array_intersect(col("sh_a"), col("sh_b")))
      val relg = g
        .join(sets.select(col("sid").as("doc_id"), col("sh").as("sh_a")),
          "doc_id")
        .join(sets.select(col("sid").as("nbr_id"), col("sh").as("sh_b")),
          "nbr_id")
        .withColumn("inter", interC)
        .withColumn("rel", expr(
          "(CAST(inter AS BIGINT) * 1000000) div " +
            "CAST(size(sh_a) + size(sh_b) - inter AS BIGINT)"))
      val wIdeal = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("rel").desc, col("nbr_id"))
      relg
        .withColumn("irnk", row_number().over(wIdeal))
        .withColumn("gain",
          round(col("rel").cast("double") /
            log((col("rnk") + 1).cast("double"))).cast("long"))
        .withColumn("igain",
          round(col("rel").cast("double") /
            log((col("irnk") + 1).cast("double"))).cast("long"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_nbrs"),
          sum("gain").as("dcg_micro"),
          sum("igain").as("idcg_micro"))
        .filter(col("idcg_micro") > 0)
        .withColumn("ndcg_ppm",
          round(lit(1000000) * col("dcg_micro").cast("double") /
            col("idcg_micro").cast("double")).cast("long"))
    },

    // Mutual-kNN clustering: keep only RECIPROCATED kNN edges (the
    // standard denoising step — a hub doc that many point AT but that
    // points elsewhere itself does not glue clusters), then connected
    // components. Completes the graph→clusters story over q_knn_graph.
    "q_knn_clusters" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckKnnInterUni,
        |topk AS (
        |  SELECT doc_id, nbr_id FROM (
        |    SELECT doc_id, nbr_id, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY (CAST(inter AS BIGINT) * 1000000) // uni DESC,
        |        nbr_id) rnk
        |    FROM scored) WHERE rnk <= 5),
        |mutual AS (
        |  SELECT e.doc_id a, e.nbr_id b FROM topk e
        |  JOIN topk r ON r.doc_id = e.nbr_id AND r.nbr_id = e.doc_id
        |  WHERE e.doc_id < e.nbr_id),
        |${duckCc("mutual")}
        |SELECT node AS doc_id, CAST(min(rep) AS BIGINT) AS rep
        |FROM cc GROUP BY node""".stripMargin) { (s, dir) =>
      // edge set served from the shared kNN base (SharedBases.knnEdges)
      val g = SharedBases.knnEdges(s, dir)
      val e = g.select(col("doc_id").as("a"), col("nbr_id").as("b"))
      val mutual = e.intersect(e.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") < col("b"))
      Dedup.connectedComponents(mutual)
        .select(col("node").as("doc_id"), col("rep"))
    },

    // L95 — single-linkage hierarchical clustering via a distributed
    // Borůvka minimum spanning forest (ops/Mst.scala): the dendrogram
    // view the flat CC family (q_dedup_clusters, q_knn_clusters) cannot
    // give — THREE linkage levels (near-identical / close / any-link,
    // dist_ppm = 1e6 − jaccard_ppm ≤ 25k/50k/999k) from ONE pass over
    // the edge set. Why MST and not three CC runs over the graph: the
    // forest is ≤ V−1 edges regardless of |E|, and the MST/single-
    // linkage equivalence (components of {forest w ≤ t} == components
    // of {graph w ≤ t}, any tie-break) means every additional cut costs
    // a forest-sized CC, not a graph-sized one — at 100 TB the weighted
    // pair graph is billions of edges and the forest is corpus-sized.
    // Borůvka itself is O(log V) rounds of groupBy/join (each component
    // min-picks its cheapest outgoing edge under the (w, a, b) total
    // order, picked edges contract by a component-graph-sized CC) — no
    // sequential Kruskal scan, no Prim heap. The oracle verifies from
    // the DIRECT definition (three recursive-CTE CCs over the
    // thresholded graph), so the equivalence theorem is itself under
    // test; the edge substrate is the symmetrized top-5 Jaccard kNN
    // graph served from the shared base (SB1).
    // CAP ASSUMPTION: the oracle's knn_cand CTE is the UNCAPPED bucket
    // self-join while the Spark side rides knnCandidates' maxBucket
    // cap — the divergence precondition (any bucket at/over 4096) is
    // measured per Verify run by the q_kcore BoundChecks entry
    // (Dedup.bucketCapAudit over the same documents banding).
    "q_single_linkage" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckKnnInterUni,
        |topk AS (
        |  SELECT doc_id, nbr_id,
        |    (CAST(inter AS BIGINT) * 1000000) // uni jac FROM (
        |    SELECT doc_id, nbr_id, inter, uni,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY (CAST(inter AS BIGINT) * 1000000) // uni DESC,
        |          nbr_id) rnk
        |    FROM scored) WHERE rnk <= 5),
        |sym AS (
        |  SELECT least(doc_id, nbr_id) a, greatest(doc_id, nbr_id) b,
        |    1000000 - max(jac) w
        |  FROM topk GROUP BY 1, 2),
        |nodes AS (
        |  SELECT DISTINCT a AS node FROM (
        |    SELECT a FROM sym UNION ALL SELECT b FROM sym) t(a)),
        |e1 AS (
        |  SELECT a src, b dst FROM sym WHERE w <= 25000
        |  UNION ALL SELECT b, a FROM sym WHERE w <= 25000),
        |cc1 AS (
        |  SELECT DISTINCT src AS node, src AS rep FROM e1
        |  UNION
        |  SELECT e.dst, cc1.rep FROM cc1, e1 e WHERE cc1.node = e.src),
        |e2 AS (
        |  SELECT a src, b dst FROM sym WHERE w <= 50000
        |  UNION ALL SELECT b, a FROM sym WHERE w <= 50000),
        |cc2 AS (
        |  SELECT DISTINCT src AS node, src AS rep FROM e2
        |  UNION
        |  SELECT e.dst, cc2.rep FROM cc2, e2 e WHERE cc2.node = e.src),
        |e3 AS (
        |  SELECT a src, b dst FROM sym WHERE w <= 999000
        |  UNION ALL SELECT b, a FROM sym WHERE w <= 999000),
        |cc3 AS (
        |  SELECT DISTINCT src AS node, src AS rep FROM e3
        |  UNION
        |  SELECT e.dst, cc3.rep FROM cc3, e3 e WHERE cc3.node = e.src)
        |SELECT CAST(25000 AS BIGINT) AS cut, n.node AS doc_id,
        |  CAST(coalesce(c.rep, n.node) AS BIGINT) AS rep
        |FROM nodes n LEFT JOIN (
        |  SELECT node, min(rep) rep FROM cc1 GROUP BY 1) c
        |  ON c.node = n.node
        |UNION ALL
        |SELECT CAST(50000 AS BIGINT), n.node,
        |  CAST(coalesce(c.rep, n.node) AS BIGINT)
        |FROM nodes n LEFT JOIN (
        |  SELECT node, min(rep) rep FROM cc2 GROUP BY 1) c
        |  ON c.node = n.node
        |UNION ALL
        |SELECT CAST(999000 AS BIGINT), n.node,
        |  CAST(coalesce(c.rep, n.node) AS BIGINT)
        |FROM nodes n LEFT JOIN (
        |  SELECT node, min(rep) rep FROM cc3 GROUP BY 1) c
        |  ON c.node = n.node""".stripMargin) { (s, dir) =>
      val g = SharedBases.knnEdges(s, dir)
      val sym = g.select(least(col("doc_id"), col("nbr_id")).as("a"),
          greatest(col("doc_id"), col("nbr_id")).as("b"), col("jac_ppm"))
        .groupBy("a", "b")
        .agg((lit(1000000L) - max("jac_ppm")).as("w"))
      graft.ops.Mst.singleLinkage(sym, Seq(25000L, 50000L, 999000L))
        .select(col("cut"), col("node").as("doc_id"), col("rep"))
    },

    // L97 — 2-core of the LSH candidate graph (ops/KCore.scala): the
    // cohesion cut that separates true duplicate CLUSTERS (nodes held
    // by ≥2 near-dup edges each) from incidental one-edge bridges —
    // the graph-analytics family's last missing view next to CC /
    // PageRank / HITS / label-prop / triangles / MST. Each peel round
    // is one (edges ⋈ alive ⋈ alive) keyed degree agg + filter — pure
    // equi-joins, no windows, no driver state; the round count is
    // FIXED at 4 (observed peel depth 2 at both gate SFs + 2 spare;
    // peeling is monotone and idempotent at the fixpoint, KCoreSpec
    // pins both) so the oracle unrolls the identical recurrence as
    // four CTE rounds. Substrate: Dedup.candidatePairs — the banded
    // bucket self-join with the knnGraph hot-bucket cap, so the edge
    // set is Σ|bucket|·min(|bucket|, cap) at any corpus size.
    // CAP ASSUMPTION: the oracle's `cand` CTE mines the
    // bucket self-join UNCAPPED — the two engines agree only while no
    // (band, bkey) bucket reaches candidatePairs' maxBucket = 4096.
    // That precondition is MEASURED, not assumed: BoundChecks promotes
    // Dedup.bucketCapAudit (buckets at/over cap, must be 0) into
    // bounds.json on every Verify run, so a capped bucket turns the
    // artifact red instead of surfacing as a bare hash mismatch. The
    // same audit covers q_single_linkage and the kNN-graph tier, which
    // share this front-end.
    "q_kcore" -> Q(
      s"""WITH $duckShingles,
        |$duckMinhashBands,
        |cand AS (
        |  SELECT DISTINCT least(l.doc_id, r.doc_id) a,
        |    greatest(l.doc_id, r.doc_id) b
        |  FROM mh_banded l JOIN mh_banded r
        |    ON l.band = r.band AND l.bkey = r.bkey
        |    AND l.doc_id <> r.doc_id),
        |edges0 AS (SELECT a, b FROM cand UNION ALL SELECT b, a FROM cand),
        |a0 AS (SELECT DISTINCT a AS node FROM edges0),
        |a1 AS (SELECT e.a AS node FROM edges0 e
        |  JOIN a0 x ON x.node = e.a JOIN a0 y ON y.node = e.b
        |  GROUP BY 1 HAVING count(*) >= 2),
        |a2 AS (SELECT e.a AS node FROM edges0 e
        |  JOIN a1 x ON x.node = e.a JOIN a1 y ON y.node = e.b
        |  GROUP BY 1 HAVING count(*) >= 2),
        |a3 AS (SELECT e.a AS node FROM edges0 e
        |  JOIN a2 x ON x.node = e.a JOIN a2 y ON y.node = e.b
        |  GROUP BY 1 HAVING count(*) >= 2),
        |a4 AS (SELECT e.a AS node FROM edges0 e
        |  JOIN a3 x ON x.node = e.a JOIN a3 y ON y.node = e.b
        |  GROUP BY 1 HAVING count(*) >= 2)
        |SELECT e.a AS doc_id, CAST(count(*) AS BIGINT) AS deg_core
        |FROM edges0 e
        |JOIN a4 x ON x.node = e.a JOIN a4 y ON y.node = e.b
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val pairs = Dedup.candidatePairs(table(s, dir, "documents"),
        "doc_id", "text")
      graft.ops.KCore.peel(pairs, k = 2, rounds = 4)
        .select(col("node").as("doc_id"), col("deg_core"))
    },

    // L98 — leakage-safe train/val/test split: assign whole NEAR-DUP
    // CLUSTERS to one split (hash of the cluster representative), so a
    // document can never sit in train while its near-duplicate sits in
    // test — the published train/test contamination failure a naive
    // per-document hash split ships by construction. The query emits
    // BOTH assignments side by side with their measured cross-split
    // near-dup pair counts: the cluster method's leak column is zero by
    // construction (and the hash certifies it), the naive method's is
    // the measured leak a per-doc split would have shipped on this
    // corpus. Scale shape: the pair set rides the shared MinHash base
    // (never re-mined), CC is the verified min-label fixpoint, the
    // assignment itself is one content-addressed projection (the
    // q_shard_split idiom — re-runs and re-partitioning never move a
    // document), and the leak audit is two pair-sized joins.
    "q_leakage_split" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckMinhashPairs,
        |e AS (SELECT a src, b dst FROM mh_pairs
        |  UNION ALL SELECT b, a FROM mh_pairs),
        |cc AS (
        |  SELECT DISTINCT src AS node, src AS rep FROM e
        |  UNION
        |  SELECT e.dst, cc.rep FROM cc, e WHERE cc.node = e.src),
        |rep AS (
        |  SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN (
        |    SELECT node, min(rep) AS rep FROM cc GROUP BY 1) c
        |    ON c.node = d.doc_id),
        |asgc AS (
        |  SELECT doc_id, CASE WHEN m < 8 THEN 'train'
        |    WHEN m = 8 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |      CAST(('0x' || substr(sha256(CAST(rep AS VARCHAR)), 1, 8))
        |        ::UBIGINT % 10 AS BIGINT) m FROM rep)),
        |asgn AS (
        |  SELECT doc_id, CASE WHEN m < 8 THEN 'train'
        |    WHEN m = 8 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |      CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
        |        ::UBIGINT % 10 AS BIGINT) m FROM rep)),
        |leakc AS (
        |  SELECT x.split, CAST(count(*) AS BIGINT) AS leaked
        |  FROM mh_pairs p
        |  JOIN asgc x ON x.doc_id = p.a JOIN asgc y ON y.doc_id = p.b
        |  WHERE x.split <> y.split GROUP BY 1),
        |leakn AS (
        |  SELECT x.split, CAST(count(*) AS BIGINT) AS leaked
        |  FROM mh_pairs p
        |  JOIN asgn x ON x.doc_id = p.a JOIN asgn y ON y.doc_id = p.b
        |  WHERE x.split <> y.split GROUP BY 1)
        |SELECT 'cluster' AS method, a.split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(any_value(l.leaked), 0) AS BIGINT)
        |    AS leaked_pairs
        |FROM asgc a LEFT JOIN leakc l ON l.split = a.split
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'naive', a.split, CAST(count(*) AS BIGINT),
        |  CAST(coalesce(any_value(l.leaked), 0) AS BIGINT)
        |FROM asgn a LEFT JOIN leakn l ON l.split = a.split
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"))
      val pairs = SharedBases.minhashPairs(s, dir)
        .select(col("a"), col("b"))
      val cc = Dedup.connectedComponents(pairs)
      val rep = d
        .join(cc.select(col("node").as("doc_id"), col("rep")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("doc_id")).as("rep"))
        // 2 consumers (the two assignments); the pair base is memoized
        .localCheckpoint(true)
      def splitOf(c: String) = {
        val m = expr("cast(conv(substr(sha2(cast(" + c +
          " as string), 256), 1, 8), 16, 10) as bigint) % 10")
        when(m < 8, "train").when(m === 8, "val").otherwise("test")
      }
      val asgC = rep.select(col("doc_id"), splitOf("rep").as("split"))
        .localCheckpoint(true)
      val asgN = rep.select(col("doc_id"), splitOf("doc_id").as("split"))
        .localCheckpoint(true)
      def audit(asg: DataFrame, method: String) = {
        val leaks = pairs
          .join(asg.select(col("doc_id").as("a"), col("split").as("sa")),
            "a")
          .join(asg.select(col("doc_id").as("b"), col("split").as("sb")),
            "b")
          .filter(col("sa") =!= col("sb"))
          .groupBy(col("sa").as("split"))
          .agg(count(lit(1)).as("leaked"))
        asg.groupBy("split").agg(count(lit(1)).as("n_docs"))
          .join(leaks, Seq("split"), "left")
          .select(lit(method).as("method"), col("split"), col("n_docs"),
            coalesce(col("leaked"), lit(0L)).as("leaked_pairs"))
      }
      audit(asgC, "cluster").unionByName(audit(asgN, "naive"))
    },

    // L71 — reciprocal-rank fusion of two retrieval rankers (the
    // standard hybrid-search ensemble, Cormack et al. 2009): the
    // Jaccard k-NN graph (symmetric near-dup view) fused with the
    // containment k-NN graph (asymmetric excerpt view) — different
    // similarity measures surface different neighbors, RRF combines
    // them rank-only (no score calibration needed, the whole point).
    // Per source, contribution = round(1e6/(60+rank)) — an integer, so
    // the fused score is an order-free integer sum; full-outer join on
    // the edge key keeps single-source neighbors; top-3 fused edges per
    // doc by (rrf desc, nbr asc). Shape: both rankers ride the SAME
    // capped LSH candidate machinery (one shingle/minhash front-end at
    // execution via SharedBases-style reuse of the op), and the fusion
    // itself is edge-count-sized — never corpus-sized.
    "q_rrf_fusion" -> Q(
      s"""WITH $duckShingles,
        |$duckMinhashBands,
        |$duckKnnCand,
        |scored AS (
        |  SELECT c.a, c.b,
        |    CAST(len(list_intersect(ba.sh, bb.sh)) AS INTEGER) inter,
        |    CAST(len(ba.sh) + len(bb.sh)
        |      - len(list_intersect(ba.sh, bb.sh)) AS INTEGER) uni,
        |    CAST(len(ba.sh) AS INTEGER) na
        |  FROM knn_cand c
        |  JOIN base ba ON ba.doc_id = c.a
        |  JOIN base bb ON bb.doc_id = c.b),
        |jacr AS (
        |  SELECT a, b, rnk FROM (
        |    SELECT a, b, row_number() OVER (PARTITION BY a
        |      ORDER BY (CAST(inter AS BIGINT) * 1000000) // uni DESC,
        |        b) rnk
        |    FROM scored)
        |  WHERE rnk <= 5),
        |conr AS (
        |  SELECT a, b, rnk FROM (
        |    SELECT a, b, row_number() OVER (PARTITION BY a
        |      ORDER BY (CAST(inter AS BIGINT) * 1000000) // na DESC,
        |        b) rnk
        |    FROM scored)
        |  WHERE rnk <= 3),
        |fused AS (
        |  SELECT coalesce(j.a, c.a) doc_id, coalesce(j.b, c.b) nbr_id,
        |    coalesce(CAST(round(1000000 / (60 + j.rnk)) AS BIGINT), 0)
        |      + coalesce(CAST(round(1000000 / (60 + c.rnk)) AS BIGINT), 0)
        |      AS rrf_micro
        |  FROM jacr j FULL JOIN conr c ON j.a = c.a AND j.b = c.b)
        |SELECT doc_id, nbr_id, CAST(rnk AS INTEGER) AS rnk, rrf_micro
        |FROM (
        |  SELECT doc_id, nbr_id, rrf_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY rrf_micro DESC, nbr_id) rnk
        |  FROM fused)
        |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      Dedup.rrfFusionGraph(table(s, dir, "documents"), "doc_id", "text",
        kJac = 5, kCont = 3, kOut = 3)
    },

    // Held-out cross-entropy scoring: a unigram LM from the src0 slice
    // scores every src1 document (integer-micro per-term costs, explicit
    // OOV cost ln(total+1) from the same broadcast total) — the
    // KenLM-style quality/importance filter primitive for data mixing,
    // distinct from q_surprisal's in-corpus self-scoring.
    "q_cross_surprisal" -> Q(
      """WITH rtok AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) term
        |  FROM documents WHERE source = 'src0'),
        |f AS (SELECT term, CAST(count(*) AS BIGINT) freq FROM rtok
        |      GROUP BY 1),
        |n AS (SELECT CAST(sum(freq) AS DOUBLE) total FROM f),
        |m AS (SELECT term,
        |        CAST(round(-ln(freq / total) * 10000) AS BIGINT) micro
        |      FROM f, n),
        |oov AS (SELECT CAST(round(ln(total + 1) * 10000) AS BIGINT)
        |          oov_micro FROM n),
        |ttf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
        |      '\s+')) term
        |    FROM documents WHERE source = 'src1')
        |  GROUP BY 1, 2)
        |SELECT ttf.doc_id,
        |  CAST(sum(ttf.tf * coalesce(m.micro, o.oov_micro)) AS BIGINT)
        |    AS xent_micro4,
        |  CAST(sum(ttf.tf) AS BIGINT) AS n_tok,
        |  CAST(sum(CASE WHEN m.micro IS NULL THEN ttf.tf ELSE 0 END)
        |    AS BIGINT) AS n_oov
        |FROM ttf LEFT JOIN m ON ttf.term = m.term, oov o
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val rtok = d.filter(col("source") === "src0")
        .select(explode(TextOps.tokens(d("text"))).as("term"))
      val f = rtok.groupBy("term").agg(count(lit(1)).as("freq"))
      val n1 = f.agg(sum("freq").cast("double").as("total"))
      val m = termCosts(f, n1)
      val oov = n1.select(round(log(col("total") + 1) * 10000, 0)
        .cast("long").as("oov_micro"))
      val ttf = d.filter(col("source") === "src1")
        .select(d("doc_id"), explode(TextOps.tokens(d("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      ttf.join(m, Seq("term"), "left").crossJoin(broadcast(oov))
        .groupBy("doc_id")
        .agg(sum(col("tf") * coalesce(col("micro"), col("oov_micro")))
            .cast("long").as("xent_micro4"),
          sum("tf").cast("long").as("n_tok"),
          sum(when(col("micro").isNull, col("tf")).otherwise(0L))
            .cast("long").as("n_oov"))
    },

    "q_minhash_calib" -> Q(
      s"""WITH $duckShingles,
        |$duckMinhashPairs
        |SELECT p.a, p.b,
        |  CAST(((CASE WHEN sa.s0 = sb.s0 THEN 1 ELSE 0 END +
        |         CASE WHEN sa.s1 = sb.s1 THEN 1 ELSE 0 END +
        |         CASE WHEN sa.s2 = sb.s2 THEN 1 ELSE 0 END +
        |         CASE WHEN sa.s3 = sb.s3 THEN 1 ELSE 0 END +
        |         CASE WHEN sa.s4 = sb.s4 THEN 1 ELSE 0 END +
        |         CASE WHEN sa.s5 = sb.s5 THEN 1 ELSE 0 END +
        |         CASE WHEN sa.s6 = sb.s6 THEN 1 ELSE 0 END +
        |         CASE WHEN sa.s7 = sb.s7 THEN 1 ELSE 0 END) * 1000) // 8
        |    AS BIGINT) AS est_permille,
        |  CAST(len(list_intersect(ba.sh, bb.sh)) * 1000
        |    // (len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)))
        |    AS BIGINT) AS jac_permille
        |FROM mh_pairs p
        |JOIN mh_sigs sa ON sa.doc_id = p.a
        |JOIN mh_sigs sb ON sb.doc_id = p.b
        |JOIN base ba ON ba.doc_id = p.a
        |JOIN base bb ON bb.doc_id = p.b""".stripMargin) { (s, dir) =>
      Dedup.minhashCalibrationFrom(SharedBases.minhashPairs(s, dir),
        SharedBases.minhashSigs(s, dir), bands = 4)
    },

    // Dedup impact per source: token counts before/after MinHash near-dup
    // removal (min-id survivors) — the "how much does dedup shrink each
    // crawl" audit. Only docs in a pair enter the component computation;
    // the corpus side is one scan + one broadcast-able drop-list join.
    "q_dedup_impact" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |$duckMinhashPairs,
        |${duckCc("mh_pairs")},
        |drops AS (SELECT node FROM cc GROUP BY node
        |          HAVING node <> min(rep)),
        |t AS (SELECT source, doc_id,
        |        CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
        |          AS BIGINT) tok,
        |        (doc_id IN (SELECT node FROM drops)) dropped
        |      FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(count(*) FILTER (WHERE NOT dropped) AS BIGINT) n_kept,
        |  CAST(sum(tok) AS BIGINT) tok_total,
        |  CAST(coalesce(sum(tok) FILTER (WHERE NOT dropped), 0)
        |    AS BIGINT) tok_kept,
        |  (CAST(coalesce(sum(tok) FILTER (WHERE NOT dropped), 0) AS BIGINT)
        |    * 1000) // CAST(sum(tok) AS BIGINT) AS kept_permille
        |FROM t GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val pairs = SharedBases.minhashPairs(s, dir)
      val drops = Dedup.connectedComponents(pairs.select("a", "b"))
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("drop_id"), lit(true).as("dropped"))
      d.select(d("source"), d("doc_id"),
          size(TextOps.tokens(d("text"))).cast("long").as("tok"))
        .join(drops, col("doc_id") === col("drop_id"), "left")
        .withColumn("keep", col("dropped").isNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("tok")).as("tok_total"),
          sum(when(col("keep"), col("tok")).otherwise(0L)).as("tok_kept"))
        .withColumn("kept_permille",
          expr("(tok_kept * 1000) div tok_total"))
    },

    // Bigram LM statistics: corpus-wide bigram counts with multiplicity,
    // per-head conditional probability in permille, top-5 continuations
    // per head (count desc, bigram tie-break) for heads with >= 50 bigram
    // occurrences. Occurrences partial-agg map-side into distinct-bigram
    // counts; the window runs over the (much smaller) distinct table and
    // the rank filter compiles to two-phase WindowGroupLimit.
    "q_ngram_lm" -> Q(
      s"""WITH $duckBigramOccs,
        |c AS (SELECT bigram, CAST(count(*) AS BIGINT) cnt
        |      FROM big GROUP BY 1),
        |h AS (SELECT bigram, cnt, split_part(bigram, ' ', 1) head,
        |        CAST(sum(cnt) OVER (PARTITION BY
        |          split_part(bigram, ' ', 1)) AS BIGINT) head_cnt
        |      FROM c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY head
        |        ORDER BY cnt DESC, bigram) rnk
        |      FROM h WHERE head_cnt >= 50)
        |SELECT head, bigram, cnt, head_cnt, CAST(rnk AS INTEGER) AS rnk,
        |  (cnt * 1000) // head_cnt AS cond_permille
        |FROM r WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val c = bigramCounts(table(s, dir, "documents"))
      val byHead = Window.partitionBy("head")
      c.withColumn("head_cnt", sum(col("cnt")).over(byHead))
        .filter(col("head_cnt") >= 50)
        .withColumn("rnk", row_number().over(
          byHead.orderBy(col("cnt").desc, col("bigram"))).cast("int"))
        .filter(col("rnk") <= 5)
        .withColumn("cond_permille", expr("(cnt * 1000) div head_cnt"))
        .select("head", "bigram", "cnt", "head_cnt", "rnk", "cond_permille")
    },

    // L91 — interpolated Kneser–Ney bigram probabilities (the canonical
    // LM smoothing, completing the family: q_surprisal's unigram MLE →
    // q_ngram_lm's conditional MLE → q_freq_spectrum's Good–Turing →
    // THIS, the smoother production n-gram LMs actually ship). The
    // float hazard is engineered out by choosing the discount D = 3/4
    // and clearing denominators: for an OBSERVED bigram c ≥ 1 the
    // discounted term max(c−D, 0) = c−3/4 is always positive, so
    // p_KN(w|u) = (c−3/4)/c(u) + (3/4)·N1+(u•)/c(u) · N1+(•w)/B
    // multiplies out to the exact integer
    //   num = (4c − 3)·B + 3·N1+(u•)·N1+(•w)   over   den = 4·c(u)·B,
    // and the ppm value is integer division — Σ_w p(w|u) = 1 holds
    // EXACTLY in this arithmetic (Σnum = den; the spec pins it). All
    // counts derive from ONE bigram-type table (checkpointed for its
    // four consumers); context/continuation tables broadcast back; the
    // output is the top-200 bigrams under a (cnt desc, bigram) total
    // order — TakeOrderedAndProject-bounded at any corpus size.
    // BIGINT-safe while 1e6·4·c·B < 2⁶³ (c·B ≲ 2.3e12; beyond:
    // DECIMAL(38), the X51 pattern).
    "q_kneser_ney" -> Q(
      s"""WITH $duckBigramOccs,
        |c AS (SELECT bigram, split_part(bigram, ' ', 1) head,
        |    split_part(bigram, ' ', 2) tail,
        |    CAST(count(*) AS BIGINT) cnt
        |  FROM big GROUP BY 1, 2, 3),
        |hd AS (SELECT head, CAST(sum(cnt) AS BIGINT) cu,
        |    CAST(count(*) AS BIGINT) n1u
        |  FROM c GROUP BY 1),
        |tl AS (SELECT tail, CAST(count(*) AS BIGINT) n1w
        |  FROM c GROUP BY 1),
        |b AS (SELECT CAST(count(*) AS BIGINT) bt FROM c)
        |SELECT c.bigram, c.cnt, hd.cu, hd.n1u, tl.n1w,
        |  (1000000 * ((4 * c.cnt - 3) * b.bt + 3 * hd.n1u * tl.n1w))
        |    // (4 * hd.cu * b.bt) AS p_kn_ppm
        |FROM c JOIN hd ON hd.head = c.head
        |JOIN tl ON tl.tail = c.tail, b
        |ORDER BY c.cnt DESC, c.bigram
        |LIMIT 200""".stripMargin) { (s, dir) =>
      val c = bigramCounts(table(s, dir, "documents"))
        .withColumn("tail", substring_index(col("bigram"), " ", -1))
        // 4 consumers: contexts, continuations, the type total, and
        // the probe (EAGER CHECKPOINT DISCIPLINE, ops/llm/Dedup.scala)
        .localCheckpoint(true)
      val hd = c.groupBy("head")
        .agg(sum("cnt").as("cu"), count(lit(1)).as("n1u"))
      val tl = c.groupBy("tail").agg(count(lit(1)).as("n1w"))
      val b = c.agg(count(lit(1)).as("bt"))
      c.join(broadcast(hd), "head").join(broadcast(tl), "tail")
        .crossJoin(broadcast(b))
        .select(col("bigram"), col("cnt"), col("cu"), col("n1u"),
          col("n1w"),
          expr("(1000000 * ((4 * cnt - 3) * bt + 3 * n1u * n1w))" +
            " div (4 * cu * bt)").as("p_kn_ppm"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(200)
    },

    // TF-IDF per (doc, term): integer tf/df plus the classic
    // tf·ln(N/df) score rounded to 4dp (ln agrees across engines to the
    // ulp at these magnitudes).
    "q_tfidf" -> Q(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) df
        |       FROM tok GROUP BY 1),
        |n AS (SELECT count(*) c FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  round(tf.tf * ln(n.c / CAST(df.df AS DOUBLE)), 4) AS tfidf4
        |FROM tf JOIN df ON tf.term = df.term, n""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      // corpus size N folded into the plan as a 1-row aggregate
      // cross-join (the q_scalar_subquery shape) — a driver-side
      // d.count() here would be an extra full action over the corpus
      // per invocation. The count branch's parquet scan prunes to zero
      // columns (footer counts only), so it is not a second data pass.
      val n1 = d.agg(count(lit(1)).cast("double").as("n_docs"))
      val tok = d.select(d("doc_id"),
        explode(TextOps.tokens(d("text"))).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tok.groupBy("term")
        .agg(countDistinct("doc_id").as("df"))
      // no broadcast hint: the per-term DF table grows with the corpus
      // vocabulary — AQE broadcasts it only while it is actually small.
      tf.join(dfreq, "term")
        .crossJoin(broadcast(n1))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs") / col("df").cast("double")), 4)
            .as("tfidf4"))
    },

    // SimHash, sha256-based 60-bit variant — fully oracle-checked: both
    // engines hash each token to the first 15 hex chars of its sha256
    // (60 bits → exact in a signed long), vote per bit, pack sign bits.
    // The xxhash64 production variant (simhashBits) stays spec-covered in
    // SimHashSpec.
    "q_simhash" -> Q(
      s"""WITH $duckSimHashVotes
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN v > 0 THEN (1::UBIGINT << j)
        |    ELSE 0::UBIGINT END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      d.select(d("doc_id"), SimHash.simhashSha("text").as("simhash"))
    },

    // SimHash near-dup pairs: banded Hamming buckets (pigeonhole: a pair
    // within maxHamming bits shares a full band of the 6) + exact
    // bit_count(a^b) verify in-bucket. The banded plan provably equals the
    // all-pairs scan the oracle runs — LSH completeness, checked by hash.
    "q_simhash_dedup" -> Q(
      s"""WITH $duckSimHashVotes,
        |sim AS (
        |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::UBIGINT << j)
        |    ELSE 0::UBIGINT END) AS sh
        |  FROM votes GROUP BY doc_id)
        |SELECT x.doc_id a, y.doc_id b,
        |  CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS dist
        |FROM sim x JOIN sim y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sh, y.sh)) <= 3""".stripMargin) { (s, dir) =>
      SimHash.nearDuplicatesSha(
        table(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", maxHamming = 3, bands = 6)
    },

    // NER-style entity templating — the reference's planned-but-unbuilt
    // query normalization (NER-Explanation.txt: "how to install docker
    // in linux" → "how to install APPLICATION in OS") as a
    // dictionary-broadcast join: recognized tokens become type tags,
    // everything else passes through lowercased. The dictionary rides
    // in the query (a VALUES table on the oracle side).
    "q_normalize_entities" -> Q(
      """SELECT doc_id,
        |  array_to_string(list_transform(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    t -> CASE t
        |      WHEN 'spark' THEN 'APPLICATION'
        |      WHEN 'linux' THEN 'OS'
        |      WHEN 'customer' THEN 'PERSON'
        |      WHEN 'join' THEN 'OPERATION'
        |      WHEN 'scan' THEN 'OPERATION'
        |      ELSE t END), ' ') AS templated
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val dict = Seq(
        "spark" -> "APPLICATION", "linux" -> "OS", "customer" -> "PERSON",
        "join" -> "OPERATION", "scan" -> "OPERATION")
        .toDF("surface", "tag")
      Entities.template(table(s, dir, "documents"), "doc_id", "text", dict)
        .withColumnRenamed("id", "doc_id")
    },

    // Multi-token entity templating with greedy leftmost-longest match
    // (the gazetteer-tagger contract: 'sort merge join' is ONE tag, and
    // 'spark join' must beat 'spark'+'join'). Sequential consumption
    // made relational: per-position longest-match info from lead()
    // windows + broadcast dict joins, then a per-doc aggregate() fold
    // with a bounded skip state. The oracle replays the same greedy
    // walk as a recursive CTE.
    "q_entity_spans" -> Q(
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') l
        |      FROM documents),
        |dict(surface, tag) AS (VALUES
        |  ('customer part join', 'CPJ'), ('merge join', 'MJ'),
        |  ('hash join', 'HJ'), ('spark', 'APPLICATION'),
        |  ('join', 'OPERATION'), ('customer', 'PERSON')),
        |walk AS (
        |  SELECT doc_id, 1 AS pos, CAST('' AS VARCHAR) AS out, l FROM d
        |  UNION ALL
        |  SELECT w.doc_id, w.pos + m.len,
        |    CASE WHEN w.pos = 1 THEN m.piece
        |         ELSE w.out || ' ' || m.piece END,
        |    w.l
        |  FROM walk w, LATERAL (
        |    SELECT len, piece FROM (
        |      SELECT 3 AS len, t.tag AS piece, 1 AS pr FROM dict t
        |        WHERE w.pos + 2 <= len(w.l) AND t.surface =
        |          w.l[w.pos] || ' ' || w.l[w.pos+1] || ' ' || w.l[w.pos+2]
        |      UNION ALL
        |      SELECT 2, t.tag, 2 FROM dict t
        |        WHERE w.pos + 1 <= len(w.l) AND t.surface =
        |          w.l[w.pos] || ' ' || w.l[w.pos+1]
        |      UNION ALL
        |      SELECT 1, t.tag, 3 FROM dict t WHERE t.surface = w.l[w.pos]
        |      UNION ALL
        |      SELECT 1, w.l[w.pos], 4)
        |    ORDER BY pr LIMIT 1) m
        |  WHERE w.pos <= len(w.l))
        |SELECT doc_id, out AS templated
        |FROM walk WHERE pos = len(l) + 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val dict = Seq(
        "customer part join" -> "CPJ", "merge join" -> "MJ",
        "hash join" -> "HJ", "spark" -> "APPLICATION",
        "join" -> "OPERATION", "customer" -> "PERSON")
        .toDF("surface", "tag")
      Entities.templateSpans(table(s, dir, "documents"), "doc_id", "text",
        dict, maxLen = 3)
        .withColumnRenamed("id", "doc_id")
    },

    // PII-style scrub: emails/URLs/long digit runs → typed placeholders,
    // plus per-doc counts of what was redacted.
    "q_redact" -> Q(
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INTEGER)
        |    AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS INTEGER)
        |    AS n_nums
        |FROM documents""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      d.select(d("doc_id"),
        TextOps.redact(d("text")).as("clean_text"),
        TextOps.regexCount(d("text"), TextOps.emailPattern).as("n_emails"),
        TextOps.regexCount(d("text"), TextOps.urlPattern).as("n_urls"),
        TextOps.regexCount(d("text"), TextOps.longNumberPattern)
          .as("n_nums"))
    },

    // Brute-force cosine top-5 for 10 query vectors — the exact baseline
    // for similarity search. Broadcast queries: no shuffle of the corpus.
    "q_similarity" -> Q(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.qid, e.vec_id id, list_cosine_similarity(q.qv, e.v) s
        |  FROM e, q WHERE e.vec_id <> q.qid),
        |ranked AS (
        |  SELECT qid, id, s,
        |    row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) rnk
        |  FROM scored)
        |SELECT qid, id, CAST(rnk AS INTEGER) AS rnk,
        |  round(s, 4) AS score4
        |FROM ranked WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 5)
    },

    // Embedding near-dup pairs: cosine >= 0.45 (threshold sits in a wide
    // gap of the score distribution — no rounding-boundary risk).
    "q_dedup_embed" -> Q(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
        |SELECT a.vec_id a, b.vec_id b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS score4
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) >= 0.45""".stripMargin) {
      (s, dir) =>
        val e = table(s, dir, "embeddings")
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
        Similarity.cosinePairs(e, 0.45)
    },

    // Per-label embedding centroids as (label, dim) rows — the coarse
    // quantizer build for IVF-style ANN. Element sums in exact integer
    // micro-units (double summation order differs across engines).
    // Symmetric int8 quantization (4x compression before index build):
    // per-vector max-abs scale, floor codes in [-127, 127], scale kept as
    // exact integer micro. Per-row, no shuffle; floor of correctly-
    // rounded IEEE ops in fixed order — no cross-engine halfway cases.
    "q_quantize" -> Q(
      """SELECT vec_id AS id, u.i - 1 AS dim,
        |  CAST(CASE WHEN mx = 0 THEN 0
        |    ELSE greatest(-127, floor(v[u.i] * 127 / mx)) END
        |    AS INTEGER) AS code,
        |  CAST(floor(mx * 1000000) AS BIGINT) AS maxabs_micro
        |FROM (
        |  SELECT vec_id, embedding::DOUBLE[] v,
        |    list_aggregate(list_transform(embedding::DOUBLE[],
        |      x -> abs(x)), 'max') mx
        |  FROM embeddings),
        |LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) u"""
        .stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
      Similarity.quantizeInt8(
        e.select(e("vec_id"), e("embedding").cast("array<double>")))
    },

    // L109 — per-dimension embedding profile: the vector-column
    // health check a pipeline runs before building any index — dead
    // dims (sum ≡ sumsq ≡ 0), dominant dims, per-dim drift vs a prior
    // snapshot. X33's generic profiler treats columns; this treats the
    // ARRAY column per dimension. Exact integers: x_micro =
    // floor(x·1e6) (double-cast first, floor identical both engines),
    // raw Σx and Σx² emitted (consumers derive mean/var — no division
    // order to disagree on), mean_micro = Σ div n as the one derived
    // convenience. sumsq holds in BIGINT to ~1e18/(3e6)² ≈ 1e5·n rows
    // per dim at unit-ish norms — at 1e9+ rows promote to
    // DECIMAL(38,0) (X51 pattern). Scale: posexplode then a 64-key
    // hash agg — map-side combine collapses to dims·partitions rows
    // before the only (dim-keyed) exchange; nothing data-sized
    // shuffles.
    "q_embed_profile" -> Q(
      """SELECT u.i - 1 AS dim,
        |  CAST(count(*) AS BIGINT) n_vecs,
        |  CAST(sum(CAST(floor(v[u.i] * 1000000) AS BIGINT)) AS BIGINT)
        |    sum_micro,
        |  CAST(sum(CAST(floor(v[u.i] * 1000000) AS BIGINT)
        |    * CAST(floor(v[u.i] * 1000000) AS BIGINT)) AS BIGINT)
        |    sumsq_micro,
        |  CAST(sum(CAST(floor(v[u.i] * 1000000) AS BIGINT)) AS BIGINT)
        |    // CAST(count(*) AS BIGINT) AS mean_micro
        |FROM (SELECT embedding::DOUBLE[] v FROM embeddings),
        |LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) u
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
      e.select(posexplode(e("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
        .select(col("dim"),
          floor(col("x") * 1e6).cast("long").as("xm"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n_vecs"), sum("xm").as("sum_micro"),
          sum(col("xm") * col("xm")).as("sumsq_micro"))
        .select(col("dim").cast("long").as("dim"), col("n_vecs"),
          col("sum_micro"), col("sumsq_micro"),
          expr("sum_micro div n_vecs").as("mean_micro"))
    },

    // L30e — int8 reconstruction-error audit: the quantizer's
    // "one step per element" error bound, certified per vector instead
    // of asserted in scaladoc. Integer micro-units end to end (floor /
    // truncating div, identical in both engines); a bound violation
    // surfaces as within_bound = false IN THE DATA where the hash pins
    // it. Per-row arithmetic only — no shuffle, nothing explodes
    // Spark-side.
    "q_quant_error" -> Q(
      """WITH c AS (
        |  SELECT vec_id id, v,
        |    CAST(floor(mx * 1000000) AS BIGINT) mxm,
        |    CASE WHEN mx = 0
        |      THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(v,
        |        x -> CAST(greatest(-127, floor(x * 127 / mx)) AS BIGINT))
        |      END codes
        |  FROM (SELECT vec_id, embedding::DOUBLE[] v,
        |      list_aggregate(list_transform(embedding::DOUBLE[],
        |        x -> abs(x)), 'max') mx
        |    FROM embeddings)),
        |e AS (
        |  SELECT id, mxm,
        |    CAST(abs(CAST(floor(v[u.i] * 1000000) AS BIGINT)
        |      - (codes[u.i] * mxm) // 127) AS BIGINT) err
        |  FROM c,
        |  LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) u)
        |SELECT id, CAST(count(*) AS BIGINT) n_dims,
        |  CAST(max(err) AS BIGINT) max_err_micro,
        |  CAST(sum(err) AS BIGINT) sum_err_micro,
        |  mxm // 127 AS step_micro,
        |  max(err) <= mxm // 127 + 2 AS within_bound
        |FROM e GROUP BY id, mxm""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
      Similarity.quantError(
        e.select(e("vec_id"), e("embedding").cast("array<double>")))
    },

    // Quantized similarity search with a fully-integer score
    // (dot(int8 codes) x both dequant scales): bit-deterministic ranking
    // — the reproducibility property float cosine can't give — and
    // therefore oracle-checkable end to end, unlike float ANN.
    "q_similarity_int8" -> Q(
      s"""WITH $duckInt8C,
        |$duckInt8Top5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      Similarity.int8TopK(e, e.filter(col("vec_id") < 10), 5)
    },

    // L30c — binary sign quantization + exact Hamming top-k: the 32×
    // compression tier below int8. Codes, XOR-popcount distances and the
    // (dist asc, id asc) ranking are all literal integers, so unlike the
    // LSH/IVF sketches this search is fully hash-certified. DuckDB packs
    // the same 32-bit words (1 << (i-1), no sign-bit contact) and xors
    // them with bit_count.
    "q_similarity_hamming" -> Q(
      s"""WITH $duckHammingRanked
        |SELECT qid, id, CAST(rnk AS INTEGER) AS rnk, dist
        |FROM r WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      Similarity.hammingTopK(e, e.filter(col("vec_id") < 10), 5)
    },

    // L30d — two-stage binary ANN, end-to-end hash-certified: Hamming
    // shortlist (20 candidates/query, ties on id) reranked by the exact
    // micro-integer dot product. The first ANN composition in the suite
    // whose FULL pipeline — coarse codes, shortlist boundary, rerank
    // scores — the oracle replays bit-for-bit (the LSH/IVF production
    // entries certify only their exact twins).
    "q_similarity_hamming_rerank" -> Q(
      s"""WITH $duckHammingRanked,
        |m AS (SELECT id, list_transform(v,
        |        x -> CAST(round(x * 1000000) AS BIGINT)) mv FROM e),
        |s2 AS (SELECT r.qid, r.id, r.dist,
        |         CAST(list_sum(list_transform(generate_series(1, 64),
        |           i -> cm.mv[i] * qm.mv[i])) AS BIGINT) AS score
        |       FROM r, m cm, m qm
        |       WHERE r.rnk <= 20 AND cm.id = r.id AND qm.id = r.qid),
        |r2 AS (SELECT qid, id, dist, score, row_number() OVER (
        |         PARTITION BY qid ORDER BY score DESC, id) rnk FROM s2)
        |SELECT qid, id, CAST(rnk AS INTEGER) AS rnk, dist, score
        |FROM r2 WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      Similarity.hammingRerank(e, e.filter(col("vec_id") < 10), 5,
        shortlist = 20)
    },

    // L99 — Matryoshka prefix-dimension retrieval (Kusupati et al.
    // 2022): the int8 search over only the FIRST 16 of 64 dims — the
    // dimensional compression axis next to precision (int8) and
    // sign-bits (Hamming). Scale comes from the prefix slice (what a
    // store holding only the prefix can compute); scoring is the same
    // exact-integer discipline, so the DuckDB oracle replays the
    // ranking bit-for-bit.
    "q_similarity_prefix" -> Q(
      s"""WITH e AS (SELECT vec_id id, (embedding::DOUBLE[])[1:16] v
        |           FROM embeddings),
        |$duckInt8COverE,
        |$duckInt8Top5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      Similarity.prefixTopK(e, e.filter(col("vec_id") < 10), 5, dims = 16)
    },

    // L99b — two-stage Matryoshka search, end-to-end hash-certified:
    // 16-dim int8 shortlist (top 20, ties on id — a total order, so the
    // boundary is deterministic) reranked by the exact full-dimension
    // int8 score. The dimensional sibling of q_similarity_hamming_rerank:
    // the 4x-smaller prefix index streams, full-width codes serve only
    // |queries|x20 point lookups.
    "q_similarity_prefix_rerank" -> Q(
      s"""WITH ef AS (SELECT vec_id id, embedding::DOUBLE[] vf
        |            FROM embeddings),
        |e AS (SELECT id, vf[1:16] v FROM ef),
        |$duckInt8COverE,
        |cf AS (
        |  SELECT id,
        |    CASE WHEN mx = 0 THEN list_transform(vf, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(vf,
        |        x -> CAST(greatest(-127, floor(x * 127 / mx)) AS BIGINT))
        |      END codes,
        |    CAST(floor(mx * 1000000) AS BIGINT) mxm
        |  FROM (SELECT id, vf, list_aggregate(list_transform(vf,
        |          x -> abs(x)), 'max') mx FROM ef)),
        |$duckInt8Scores,
        |short AS (SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (
        |      PARTITION BY qid ORDER BY score DESC, id) rnk FROM s)
        |  WHERE rnk <= 20),
        |qf AS (SELECT id qid, codes qc, mxm qm FROM cf WHERE id < 10),
        |s2 AS (SELECT short.qid, short.id,
        |         CAST(list_sum(list_transform(
        |           generate_series(1, len(cv.codes)),
        |           i -> cv.codes[i] * qf.qc[i])) AS BIGINT)
        |           * qf.qm * cv.mxm AS score
        |       FROM short, cf cv, qf
        |       WHERE cv.id = short.id AND qf.qid = short.qid),
        |r2 AS (SELECT qid, id, score, row_number() OVER (
        |         PARTITION BY qid ORDER BY score DESC, id) rnk FROM s2)
        |SELECT qid, id, CAST(rnk AS INTEGER) AS rnk, score
        |FROM r2 WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      Similarity.prefixRerank(e, e.filter(col("vec_id") < 10), 5,
        dims = 16, shortlist = 20)
    },

    "q_centroid" -> Q(
      """SELECT label, dim,
        |  CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT)
        |    AS sum_micro,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM (
        |  SELECT label, u.i - 1 AS dim, embedding[u.i]::DOUBLE AS v
        |  FROM embeddings,
        |  LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
      e.select(e("label"),
          posexplode(e("embedding").cast("array<double>")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(round(col("v") * 1000000).cast("long")).as("sum_micro"),
          count(lit(1)).as("n"))
    },

    // L83 — dominant principal component by exact-integer power
    // iteration (the corpus-geometry diagnostic: one distributed
    // covariance pass + 5 integer matvec rounds whose fixed point is
    // bit-identical on both engines — the q_pagerank unrolled-recurrence
    // discipline applied to linear algebra). The covariance outer
    // product is generated SCAN-SIDE below the (i, j) partial agg;
    // nothing shuffles by row id; iteration tables are 64 rows. See
    // ops/llm/Pca.scala for the overflow/scale analysis.
    "q_pca_power" -> Q(
      s"""WITH ${pcaCtes(5)}
        |SELECT CAST(i AS BIGINT) AS dim, v AS v_unit FROM v5
        |""".stripMargin) { (s, dir) =>
      Pca.component(table(s, dir, "embeddings"), "vec_id", "embedding",
          rounds = 5)
        .select(col("i").cast("long").as("dim"), col("v").as("v_unit"))
    },

    // L83b — per-document projection onto the dominant component (the
    // serving half: where each embedding sits on the main variance
    // axis — the 1-D embedding the component exists for). Exact integer
    // dot products computed scan-side against the broadcast component;
    // the oracle replays the entire train→serve chain verbatim, so one
    // hash certifies the whole loop (the q_nb_classify precedent).
    "q_pca_project" -> Q(
      s"""WITH ${pcaCtes(5)}
        |SELECT id AS vec_id, CAST(sum(c * v.v) AS BIGINT) AS proj
        |FROM cent JOIN v5 v ON v.i = cent.i GROUP BY 1
        |""".stripMargin) { (s, dir) =>
      Pca.project(table(s, dir, "embeddings"), "vec_id", "embedding",
          rounds = 5)
        .select(col("id").as("vec_id"), col("proj"))
    },

    // L96 — Johnson–Lindenstrauss random projection (64 → 16 dims): the
    // DATA-FREE reduction next to PCA's data-driven one. The ±1 sign
    // matrix derives from an integer hash of (dim_in, dim_out) — no
    // training pass, no broadcast state, nothing to fit or version —
    // so the whole reduction is a stateless scan-side projection that
    // runs at read speed with ZERO shuffles at any corpus size
    // (PlanAuditSpec pins one scan, no exchange before the explode).
    // All-integer (1e-4-quantized coords × ±1 signs), so unlike a float
    // matrix multiply the output is fully hash-certified; JlSpec pins
    // the distance-preservation property the projection exists for.
    "q_random_projection" -> Q(
      """WITH xq AS (
        |  SELECT vec_id AS id, u.i AS i,
        |    CAST(round(embedding[u.i]::DOUBLE * 10000) AS BIGINT) AS x
        |  FROM embeddings,
        |  LATERAL (SELECT unnest(generate_series(1, len(embedding)))
        |    AS i) u),
        |js AS (SELECT unnest(generate_series(0, 15)) AS j),
        |sgn AS (
        |  SELECT i, j, 1 - 2 * (((
        |      (xor(z0, z0 >> 15) * 626627473) % 4294967296) >> 12) % 2)
        |    AS s
        |  FROM (SELECT xq.i AS i, js.j AS j,
        |      ((xq.i - 1) * 2654435761 + js.j * 2245822519)
        |        % 4294967296 AS z0
        |    FROM (SELECT DISTINCT i FROM xq) xq, js))
        |SELECT id AS vec_id, CAST(j AS BIGINT) AS j,
        |  CAST(sum(x * s) AS BIGINT) AS proj
        |FROM xq JOIN sgn USING (i) GROUP BY 1, 2""".stripMargin) {
      (s, dir) =>
      Jl.randomProjection(table(s, dir, "embeddings"), "vec_id",
        "embedding", outDims = 16)
    },

    // L84 — ORACLE-EXACT Lloyd k-means (k=8, 3 rounds) over the
    // embeddings: the full clustering iteration behind the IVF cell
    // build (whose one-round k-means-lite ships as the rows-only
    // q_similarity_ivf). Exact integer distances, truncating centroid
    // means, (dist, cid) tie-broken argmin — the fixed point is
    // bit-identical on both engines; the oracle unrolls the same
    // (assign, update) recurrence as CTE rounds. Scale: the corpus is
    // checkpointed once, centroids travel as ONE broadcast row, the
    // assignment argmin is SCAN-SIDE (array_min over the centroid
    // array — zero exchanges, no n×k join), and the update shuffles
    // only (cid, dim) partial sums. See ops/llm/Kmeans.scala.
    "q_kmeans" -> Q(
      s"""WITH ${kmeansCtes(8, 3)}
        |SELECT id AS vec_id, CAST(cid AS BIGINT) AS cid, d AS dist2
        |FROM a4""".stripMargin) { (s, dir) =>
      Kmeans.fit(table(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, rounds = 3)
        .select(col("id").as("vec_id"), col("cid"), col("dist2"))
    },

    // ANN variant: hyperplane-LSH buckets + Hamming-1 multi-probe, exact
    // re-rank inside candidates. Approximate by design → rows-only check;
    // recall vs brute force asserted in SimilaritySpec.
    "q_similarity_ann" -> Q.noOracle { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // dim passed explicitly (testdata embeddings are 64-d) — avoids the
      // one-row inference scan
      Similarity.annTopK(e, e.filter(col("vec_id") < 10), 5, dim = 64)
    },

    // IVF ANN: k-means-lite coarse quantizer + nprobe cell search — the
    // corpus-scale ANN (approximate → rows-only; recall vs brute force
    // asserted in SimilaritySpec).
    "q_similarity_ivf" -> Q.noOracle { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Ivf.topK(e, e.filter(col("vec_id") < 10), k = 5,
        nClusters = 16, nprobe = 4, iters = 1)
    },

    // Hash-verified IVF: same bucketed search shape (coarse cells +
    // nprobe probing + in-cell scoring) with every step integer-exact or
    // a single correctly-rounded IEEE op — digest-seeded centroids, int8
    // codes, scale-cancelling cell affinity — so the DuckDB oracle
    // reproduces it row for row. Proves the BUCKETED path end-to-end,
    // not just a recall bound (q_similarity_int8 proved flat scoring;
    // q_similarity_ivf stays the float/Lloyd production variant).
    "q_similarity_ivf_exact" -> Q(
      s"""WITH $duckInt8C,
        |$duckIvfCents,
        |ass AS (
        |  SELECT cid, id, codes, mxm FROM (
        |    SELECT n.cid, c.id, c.codes, c.mxm, row_number() OVER (
        |$duckIvfNearest,
        |q AS (SELECT id qid, codes qc, mxm qm FROM c WHERE id < 10),
        |probes AS (
        |  SELECT cid, qid, qc, qm FROM (
        |    SELECT n.cid, q.qid, q.qc, q.qm, row_number() OVER (
        |        PARTITION BY q.qid ORDER BY
        |          CAST(d * abs(d) AS DOUBLE) / n.cn2 DESC, n.cid) rr
        |    FROM q, cents n, LATERAL (SELECT CAST(list_sum(list_transform(
        |      generate_series(1, len(q.qc)),
        |      i -> q.qc[i] * n.cc[i])) AS BIGINT) AS d) dd)
        |  WHERE rr <= 4),
        |s AS (SELECT p.qid, a.id,
        |        CAST(list_sum(list_transform(
        |          generate_series(1, len(a.codes)),
        |          i -> a.codes[i] * p.qc[i])) AS BIGINT) * p.qm * a.mxm
        |          AS score
        |      FROM ass a JOIN probes p ON a.cid = p.cid
        |      WHERE a.id <> p.qid),
        |$duckTop5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      Ivf.int8TopKExact(e, e.filter(col("vec_id") < 10), k = 5,
        nClusters = 16, nprobe = 4)
    },

    // L94 — streaming IVF index maintenance: the emb8 staged source
    // drained with AvailableNow (2 files per trigger → ≥4 real
    // micro-batches), each batch delta-assigned to the PERSISTED
    // digest-seeded int8 quantizer (q_similarity_ivf_exact's
    // integer-exact scheme — the two share the seeding/affinity code)
    // and appended as (vec_id, cid) facts — the streaming companion to
    // L12c's batch assignment, matching X12k's persisted-index ingest
    // pattern: per-trigger cost O(delta × nClusters), nothing
    // corpus-sized touched, no refit. Assignment is per-row
    // deterministic, so the oracle replays BATCH assignment over the
    // accumulated corpus: the hash certifies that arrival order and
    // batch composition cannot move any vector's cell.
    "q_stream_ivf_assign" -> Q(
      s"""WITH c AS (
        |  SELECT vec_id id,
        |$duckInt8Codes
        |$duckEmbedMaxAbs),
        |$duckIvfCents,
        |ass AS (
        |  SELECT id, cid FROM (
        |    SELECT n.cid, c.id, row_number() OVER (
        |$duckIvfNearest
        |SELECT id AS vec_id, CAST(cid AS BIGINT) AS cid
        |FROM ass""".stripMargin) { (s, dir) =>
      graft.streaming.StreamingPipeline.streamIvfAssign(s, dir)
    },

    // Bit-deterministic LSH ANN — the hash-verified twin of
    // q_similarity_ann (what q_similarity_ivf_exact is to
    // q_similarity_ivf): int8 codes, INTEGER hyperplanes from an LCG
    // formula the oracle replays literally, integer bucket ids joined
    // equi, Hamming-1 multiprobe via XOR, int8 integer scoring. The hash
    // match certifies the LSH candidate enumeration itself (bucket
    // assignment + probe set + collision join), not just the rescoring.
    "q_similarity_ann_exact" -> Q(
      s"""WITH $duckInt8C,
        |pl AS (
        |  SELECT p, list_transform(generate_series(0, 63),
        |    i -> ((1103515245 * (p * 64 + i) + 12345 + 42)
        |          % 2147483648) % 17 - 8) w
        |  FROM generate_series(0, 7) t(p)),
        |buck AS (
        |  SELECT id, codes, mxm,
        |    CAST(sum(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM (SELECT c.id, c.codes, c.mxm, pl.p,
        |          CAST(list_sum(list_transform(generate_series(1, 64),
        |            i -> c.codes[i] * pl.w[i])) AS BIGINT) d
        |        FROM c, pl)
        |  GROUP BY id, codes, mxm),
        |probes AS (
        |  SELECT id qid, codes qc, mxm qm, bucket probe
        |  FROM buck WHERE id < 10
        |  UNION ALL
        |  SELECT id, codes, mxm, xor(bucket, CAST(1 << p AS BIGINT))
        |  FROM buck, generate_series(0, 7) t(p) WHERE id < 10),
        |s AS (
        |  SELECT p.qid, b.id,
        |    CAST(list_sum(list_transform(generate_series(1, len(b.codes)),
        |      i -> b.codes[i] * p.qc[i])) AS BIGINT) * p.qm * b.mxm
        |      AS score
        |  FROM buck b JOIN probes p ON b.bucket = p.probe
        |  WHERE b.id <> p.qid),
        |$duckTop5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      Similarity.annTopKExactInt(e, e.filter(col("vec_id") < 10), k = 5,
        dim = 64, planes = 8, seed = 42L)
    },

    // Exact-integer LSH k-NN graph over the embedding corpus (the
    // ANN-graph build): every vector's top-5 same-bucket mates across 2
    // independent integer-hyperplane tables, int8 integer scoring,
    // deterministic ties. The oracle enumerates the same buckets of
    // both tables — the graph construction itself is hash-certified.
    "q_knn_graph_embed" -> Q(
      s"""WITH $duckInt8C,
        |pl AS (
        |  SELECT tt, p, list_transform(generate_series(0, 63),
        |    i -> ((1103515245 * (p * 64 + i) + 12345 + 42 + tt * 7919)
        |          % 2147483648) % 17 - 8) w
        |  FROM generate_series(0, 7) t1(p), generate_series(0, 1) t2(tt)),
        |$duckSimHashKnn""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      Similarity.knnGraphExactInt(e, k = 5, dim = 64, planes = 8,
        tables = 2, seed = 42L)
    },

    // Mixed-resolution variant of the graph build: table 0 is COARSE
    // (4 planes — big buckets, recall) and table 1 FINE (8 planes —
    // small precise buckets). On clustered corpora the mix dominates a
    // uniform configuration at equal candidate budget (SimilaritySpec);
    // the oracle enumerates each table's buckets with ITS OWN plane
    // count, so the per-table parameterization itself is
    // hash-certified.
    "q_knn_graph_mixed" -> Q(
      s"""WITH $duckInt8C,
        |cfg(tt, np) AS (VALUES (0, 4), (1, 8)),
        |pl AS (
        |  SELECT cfg.tt, p, list_transform(generate_series(0, 63),
        |    i -> ((1103515245 * (p * 64 + i) + 12345 + 42 + cfg.tt * 7919)
        |          % 2147483648) % 17 - 8) w
        |  FROM cfg, generate_series(0, 7) t1(p)
        |  WHERE p < cfg.np),
        |$duckSimHashKnn""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      Similarity.knnGraphExactInt(e, k = 5, dim = 64,
        planesPerTable = Seq(4, 8), seed = 42L, maxBucket = 4096)
    },

    // PQ ADC-shortlist + exact-integer refine — the hash-verified twin
    // of q_pq_search. shortlist >= corpus makes the ADC stage provably
    // lossless (its approximate ordering cannot drop a candidate), so
    // the pipeline's output is the exact int8 top-k and the oracle can
    // replay it: certifies the ADC equi-join covers every (query,
    // vector) pair, the per-query shortlist window, and the refine
    // rescore + tie order. The small-shortlist approximate path stays
    // covered by q_pq_search's recall spec.
    "q_pq_refine" -> Q(
      s"""WITH $duckInt8C,
        |$duckInt8Top5""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val vecs = e.toDF("id", "vec")
      val books = Pq.fitCodebooks(vecs, m = 8, k = 64, iters = 1)
      val codes = Pq.encode(vecs, books, m = 8)
      Pq.refineTopKInt(vecs, codes, books, vecs.filter(col("id") < 10),
        m = 8, k = 5, shortlist = 1000000)
    },

    // Product quantization + ADC + exact refine (rows-only: codebooks
    // and codes are engine-specific) — the faiss-standard compressed-ANN
    // path: L2-normalized 64-dim vectors → 8 subspace codebooks of 64
    // entries → 8 one-byte codes per vector (64× compression); queries
    // precompute an m×k partial-dot lookup table (broadcast), ADC cuts
    // the corpus to a 40-row shortlist per query by table-lookup sums
    // (no vector arithmetic), and only the shortlist rescans its full
    // vectors for exact cosine. Recall vs exact asserted in
    // SimilaritySpec (0.90 on the near-random testdata, rescoring 6% of
    // the corpus).
    "q_pq_search" -> Q.noOracle { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val unit = e.toDF("id", "vec")
        .withColumn("nv", Similarity.l2norm(col("vec")))
        .select(col("id"),
          transform(col("vec"), x => x / col("nv")).as("vec"))
      val books = Pq.fitCodebooks(unit, m = 8, k = 64, iters = 1)
      val codes = Pq.encode(unit, books, m = 8)
      Pq.refineTopK(unit, codes, books, unit.filter(col("id") < 10),
        m = 8, k = 5, shortlist = 40)
    },

    // Multimodal plumbing: opaque binary payload + decode/frame-sample
    // stubs, digests computed over real bytes.
    "q_multimodal_meta" -> Q(
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS payload_sha,
        |  sha256('0:' || text) AS frame0_sha,
        |  sha256('1:' || text) AS frame1_sha,
        |  sha256('2:' || text) AS frame2_sha
        |FROM documents""".stripMargin) { (s, dir) =>
      val m = Multimodal.fromText(table(s, dir, "documents"),
        "doc_id", "text")
      val dec = Multimodal.decodeStub(col("payload"))
      val frames = Multimodal.frameSample(col("payload"),
        col("meta").getField("n_frames"))
      m.select(col("media_id"),
        dec.getField("n_bytes").as("n_bytes"),
        dec.getField("content_sha").as("payload_sha"),
        element_at(frames, 1).as("frame0_sha"),
        element_at(frames, 2).as("frame1_sha"),
        element_at(frames, 3).as("frame2_sha"))
    },

    // L13d — multimodal resize, promoted from spec-only to the
    // hash-checked gate: aspect-preserving fit into maxSide=512 with
    // the GEOMETRY math real (integer floor-scale, engine-identical;
    // the oracle replays it) and the resampled pixel buffer stubbed as
    // a dimension-prefixed digest (no codec libs in this environment —
    // the documented multimodal boundary). Media dimensions are
    // synthesized deterministically from n_chars so both the
    // scale-down and pass-through branches occur on the live corpus.
    // Pure scan-side projection at any corpus size.
    "q_multimodal_resize" -> Q(
      """WITH m AS (SELECT doc_id AS media_id, text,
        |    CAST(200 + n_chars % 4000 AS INTEGER) w,
        |    CAST(150 + (n_chars * 7) % 3000 AS INTEGER) h
        |  FROM documents),
        |r AS (SELECT media_id, text, w, h,
        |    CASE WHEN greatest(w, h) > 512
        |      THEN CAST(floor(CAST(w AS BIGINT) * 512 / greatest(w, h))
        |        AS INTEGER) ELSE w END nw,
        |    CASE WHEN greatest(w, h) > 512
        |      THEN CAST(floor(CAST(h AS BIGINT) * 512 / greatest(w, h))
        |        AS INTEGER) ELSE h END nh
        |  FROM m)
        |SELECT media_id, w AS width, h AS height,
        |  nw AS new_width, nh AS new_height,
        |  sha256(CAST(nw AS VARCHAR) || 'x' || CAST(nh AS VARCHAR)
        |    || ':' || text) AS pixels_sha
        |FROM r""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val media = d.select(d("doc_id").cast("long").as("media_id"),
        d("text").cast("binary").as("payload"),
        struct(lit("image/png").as("format"),
          (lit(200) + d("n_chars") % 4000).cast("int").as("width"),
          (lit(150) + (d("n_chars") * 7) % 3000).cast("int").as("height"),
          lit(1).as("n_frames")).as("meta"))
      val r = Multimodal.resizeStub(col("payload"), col("meta"),
        maxSide = 512)
      media.select(col("media_id"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        r.getField("width").as("new_width"),
        r.getField("height").as("new_height"),
        r.getField("pixels_sha").as("pixels_sha"))
    },

    // L13b promoted — the batched per-partition decode as a
    // hash-checked gate query (previously spec-only): the heavy-init
    // inference shape — ONE decoder instance per partition, rows fed in
    // batches — run over real binary payloads (the first 48 chars of
    // each doc as UTF-8 bytes; the cap bounds the oracle's per-char
    // fold, the Spark side is payload-size-agnostic). The stub
    // decoder's feature is a rolling 31-hash over the payload bytes
    // with Java-long wraparound; the oracle replays it as a HUGEINT
    // modular fold (acc·31+b mod 2⁶⁴, signed two's-complement at the
    // end). Byte stream == char stream because the corpus is ASCII —
    // pinned in MultimodalSpec (the events-user_id sentinel precedent);
    // non-ASCII corpora would diverge at the oracle only, never in the
    // engine. Scale: mapPartitions is the ONE legitimate imperative
    // drop-out in the repo (codec contexts are heavy); everything else
    // is a projection — no shuffle at any corpus size.
    "q_multimodal_decode" -> Q(
      """WITH m AS (SELECT doc_id AS media_id, substr(text, 1, 48) AS t
        |  FROM documents),
        |f AS (SELECT media_id, CAST(len(t) AS BIGINT) n_bytes,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(generate_series(1, len(t)),
        |        i -> CAST(ord(substr(t, i, 1)) AS HUGEINT))),
        |      (acc, x) -> (acc * 31 + x)
        |        % 18446744073709551616::HUGEINT) AS facc
        |  FROM m)
        |SELECT media_id, n_bytes,
        |  CAST(CASE WHEN facc >= 9223372036854775808::HUGEINT
        |    THEN facc - 18446744073709551616::HUGEINT
        |    ELSE facc END AS BIGINT) AS feature
        |FROM f""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val media = d.select(d("doc_id").cast("long").as("media_id"),
        substring(d("text"), 1, 48).cast("binary").as("payload"))
      Multimodal.decodePartitioned(media)
    },

    // L49 — quality-weighted corpus subsampling WITHOUT replacement
    // (PPSWOR), exact-integer form. The float-free reduction: a doc of
    // integer weight w contributes w content-digest keys
    // sha256(text ':' j), j=1..w, and per-stratum bottom-k over the
    // EXPANDED population by min key is exactly probability-proportional-
    // to-weight sampling without replacement (each of the Σw keys is
    // equally likely to be the stratum minimum, so P(doc first) = w/Σw;
    // delete-and-repeat gives the without-replacement chain). The usual
    // Efraimidis–Spirakis u^(1/w) keys need pow/ln doubles whose last-ulp
    // differs across engines — this form is pure string compares, so the
    // oracle certifies membership AND rank order bit-for-bit. Scale: the
    // explode is bounded (≤8×) and feeds a map-side partial min; the
    // per-stratum cut is the two-phase WindowGroupLimit rank filter.
    "q_weighted_sample" -> Q(
      """WITH norm AS (
        |  SELECT doc_id, lang, lower(trim(text)) AS q,
        |    1 + least(n_chars // 100, 7) AS w
        |  FROM documents),
        |keys AS (
        |  SELECT doc_id, lang,
        |    min(sha256(q || ':' || CAST(j AS VARCHAR))) AS skey
        |  FROM norm,
        |  LATERAL (SELECT unnest(generate_series(1, w)) AS j) js
        |  GROUP BY 1, 2)
        |SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY skey, doc_id) AS rk FROM keys)
        |WHERE rk <= 20""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val keyed = d.select(d("doc_id"), d("lang"),
          TextOps.normalized(d("text")).as("q"),
          expr("cast(1 + least(n_chars div 100, 7) as int)").as("w"))
        .select(col("doc_id"), col("lang"), col("q"),
          explode(sequence(lit(1), col("w"))).as("j"))
        .select(col("doc_id"), col("lang"),
          sha2(concat_ws(":", col("q"), col("j")), 256).as("skey"))
        .groupBy("doc_id", "lang").agg(min("skey").as("skey"))
      val w = Window.partitionBy("lang").orderBy(col("skey"), col("doc_id"))
      keyed.select(col("doc_id"), col("lang"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 20)
    },

    // L50 — token-budget corpus selection: order docs by integer
    // vocab-density (distinct tokens per million tokens), admit greedily
    // until a global token budget is spent — the knapsack-by-density
    // selection a training-data pipeline runs to fill a token target with
    // the richest documents. The running total uses ops/PrefixSum (range
    // partition + local cumsums + broadcast partition offsets), NOT a
    // single-partition global window — the difference between a demo and
    // a 100 TB plan. A doc is kept iff it STARTS inside the budget, so
    // membership is decided by exact integer comparisons on a total
    // order; the oracle replays the same order and cumsum.
    "q_token_budget" -> Q(
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |      AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(
        |      string_split_regex(lower(trim(text)), '\s+')))
        |      AS BIGINT) AS n_vocab
        |  FROM documents WHERE length(trim(text)) >= 2),
        |d AS (SELECT doc_id, n_tok,
        |        (n_vocab * 1000000) // n_tok AS density_ppm FROM t)
        |SELECT doc_id, n_tok, density_ppm,
        |  CAST(tok_cum AS BIGINT) AS tok_cum FROM (
        |  SELECT doc_id, n_tok, density_ppm,
        |    sum(n_tok) OVER (ORDER BY density_ppm DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_cum
        |  FROM d)
        |WHERE tok_cum - n_tok < 10000""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val toks = TextOps.tokens(d("text"))
      val t = d.filter(length(trim(d("text"))) >= 2)
        .select(d("doc_id"),
          size(toks).cast("long").as("n_tok"),
          size(array_distinct(toks)).cast("long").as("n_vocab"))
        .select(col("doc_id"), col("n_tok"),
          expr("(n_vocab * 1000000) div n_tok").as("density_ppm"))
      graft.ops.PrefixSum.runningSum(t,
          Seq(col("density_ppm").desc, col("doc_id").asc),
          col("n_tok"), "tok_cum")
        .filter(col("tok_cum") - col("n_tok") < 10000)
        .select("doc_id", "n_tok", "density_ppm", "tok_cum")
    },

    // L51 — the end-to-end training-mix recipe, composed from the tier's
    // primitives and hash-checked as ONE query: normalize+clean → exact
    // dedup (keep lowest doc_id per content digest) → quality gate →
    // density-ordered token-budget selection (ops/PrefixSum) → per-lang
    // mix report. The point of the composition: every stage is the
    // scale-shaped form (scan-side projections, ONE digest shuffle for
    // dedup, distributed prefix sum for the budget, partial-agg'd
    // rollup), and the oracle replays the entire chain — so the hash
    // certifies stage BOUNDARIES too (what dedup feeds selection, what
    // selection feeds the report), not just each operator alone.
    "q_data_recipe" -> Q(
      s"""WITH norm AS (
        |  SELECT doc_id, lang, lower(trim(text)) AS q
        |  FROM documents WHERE length(trim(text)) >= 2),
        |dedup AS (
        |  SELECT doc_id, lang, q FROM (
        |    SELECT doc_id, lang, q, row_number() OVER (
        |      PARTITION BY sha256(q) ORDER BY doc_id) AS rn
        |    FROM norm) WHERE rn = 1),
        |${duckRecipeMix("tok", "dedup")}""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val norm = d.filter(length(trim(d("text"))) >= 2)
        .select(d("doc_id"), d("lang"),
          TextOps.normalized(d("text")).as("q"))
      val wD = Window.partitionBy(sha2(col("q"), 256))
        .orderBy(col("doc_id"))
      val dedup = norm.withColumn("rn", row_number().over(wD))
        .filter(col("rn") === 1).drop("rn")
      recipeMix(dedup)
    },

    // L59 — the FUZZY-dedup training-mix recipe: q_data_recipe with the
    // exact-digest stage replaced by the real near-dup pipeline — exact-
    // Jaccard pairs (shared PPJoin base) → connected components → keep
    // each cluster's min-id representative (exact twins have Jaccard 1,
    // so fuzzy subsumes exact dedup) → quality gate → density-ordered
    // token-budget selection (PrefixSum) → per-lang mix report. The
    // oracle replays the ENTIRE chain, recursive-CTE components
    // included, so the hash certifies the fuzzy-dedup → selection
    // boundary — which documents survived clustering and fed the budget
    // — not just each stage alone.
    "q_data_recipe_fuzzy" -> Q(
      s"""WITH RECURSIVE $duckShingles,
        |tok_sh AS (SELECT doc_id, unnest(sh) g FROM base),
        |sizes AS (SELECT doc_id, len(sh) n_ FROM base),
        |inter AS (
        |  SELECT l.doc_id a, r.doc_id b, CAST(count(*) AS INTEGER) inter
        |  FROM tok_sh l JOIN tok_sh r ON l.g = r.g AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |$duckJaccardPairs,
        |${duckCc("pairs")},
        |reps AS (SELECT node AS doc_id, min(rep) AS rep FROM cc
        |         GROUP BY node),
        |surv AS (
        |  SELECT d.doc_id, d.lang, lower(trim(d.text)) AS q
        |  FROM documents d
        |  LEFT JOIN reps r ON d.doc_id = r.doc_id
        |  WHERE r.rep IS NULL OR r.rep = d.doc_id),
        |${duckRecipeMix("tokc", "surv")}""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val surv = jaccardSurvivors(s, dir, d)
        .select(d("doc_id"), d("lang"),
          TextOps.normalized(d("text")).as("q"))
      recipeMix(surv)
    },

    // L56 — BPE merge training (the tokenizer-training kernel), 3
    // iterations, oracle-exact: the merge loop runs on the aggregated
    // word-count table (vocab-sized — the corpus is scanned ONCE), and a
    // merge is a literal string replace over the double-spaced char-token
    // representation, so left-to-right non-overlapping replace applies it
    // exactly like a greedy BPE pass in BOTH engines (see ops/llm/Bpe).
    // The oracle unrolls the three (pair-count → argmax → replace)
    // iterations as CTEs; argmax tie-break is (count desc, pair asc).
    "q_bpe_train" -> Q(duckBpeTrain) { (s, dir) =>
      import s.implicits._
      Bpe.train(table(s, dir, "documents"), "text", 3)
        .toDF("it", "pair", "cnt")
    },

    // L56c — the SCALE form of the BPE trainer: the
    // per-iteration argmax stays a 1-row DataFrame broadcast-joined into
    // the word state instead of a driver collect, so the k-merge chain is
    // ONE lazy plan and one action — no per-merge driver round-trips (the
    // train() loop's declared 30k-merge boundary). Same unrolled-CTE
    // oracle as q_bpe_train: the hash certifies the two trainers
    // equivalent.
    "q_bpe_train_chained" -> Q(duckBpeTrain) { (s, dir) =>
      Bpe.trainChained(table(s, dir, "documents"), "text", 3)
    },

    // L56b — apply the learned merges back to the corpus: the
    // tokenization-serving pass. A PURE lineage (no checkpoint): one
    // corpus pass through the word aggregation, three chained literal
    // replaces, token explode, top-20 by (count desc, token) via the
    // limit-then-number cut. Certifies the trained merge table actually
    // produces the merged vocabulary both engines agree on.
    "q_bpe_apply" -> Q(
      raw"""WITH $duckBpe3,
        |ap AS (SELECT unnest(string_split_regex(trim(s), '\s+')) AS token,
        |         c FROM s3),
        |tc AS (SELECT token, sum(c) AS cnt FROM ap GROUP BY 1)
        |SELECT token, CAST(cnt AS BIGINT) AS cnt, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT token, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, token) AS rk
        |      FROM tc)
        |WHERE rk <= 20""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val merges = Bpe.train(docs, "text", 3).map(_._2)
      val counts = Bpe.tokenCounts(Bpe.applyMerges(docs, "text", merges))
      val wG = Window.orderBy(col("cnt").desc, col("token"))
      counts.orderBy(col("cnt").desc, col("token")).limit(20)
        .withColumn("rk", row_number().over(wG))
    },

    // L61 — WordPiece-style greedy longest-match serving (the MaxMatch
    // kernel of BERT-family tokenizers), the vocabulary-driven
    // counterpart to q_bpe_apply's merge replay. Vocabulary is
    // deterministic corpus state: every corpus character + top-200
    // substrings len 2..4 by occurrence-weighted frequency (tie: piece
    // asc). Serving is the codegen'd PieceTokenize expression over the
    // DISTINCT-word table (Heaps'-law sized), weighted back by word
    // counts. The oracle rebuilds the vocab, precomputes each (word,
    // pos)'s longest match NON-recursively, then walks the greedy
    // segmentation as a linear recursive CTE (join-only recursive term),
    // so the hash certifies every segmentation boundary via the piece
    // frequency table.
    "q_wordpiece_apply" -> Q(
      raw"""WITH RECURSIVE
        |$duckWordPieceToks
        |SELECT t.piece, CAST(sum(w.freq) AS BIGINT) AS occurrences
        |FROM toks t JOIN w ON t.word = w.word GROUP BY 1""".stripMargin) {
      (s, dir) =>
        WordPiece.pieceFrequencies(table(s, dir, "documents"), "text")
    },

    // L67 — Unigram-LM Viterbi serving (the SentencePiece kernel), the
    // third tokenizer family: minimal-total-cost segmentation against
    // integer piece costs (quantized −ln unigram probability over the
    // same deterministic chars+top-200 vocabulary as L61). The ENGINE
    // runs the Viterbi DP (codegen ViterbiTokenize, costs ride in the
    // expression); the ORACLE enumerates EVERY segmentation of every
    // distinct word as a recursive CTE and takes the (cost, path)
    // minimum — the hash certifies the DP optimal against the
    // definition, tie cases included (path joined with chr(1), binary
    // compare on both engines). Enumeration is oracle-side only and
    // bounded by the distinct-word table.
    "q_unigram_viterbi" -> Q(
      raw"""WITH RECURSIVE
        |$duckWordFreq,
        |${duckUnigramToks("")}
        |SELECT t.piece, CAST(sum(w.freq) AS BIGINT) AS occurrences
        |FROM toks t JOIN w ON t.word = w.word GROUP BY 1""".stripMargin) {
      (s, dir) =>
        Unigram.pieceFrequencies(table(s, dir, "documents"), "text")
    },

    // L68 — three-family tokenizer fertility report: pieces-per-word
    // (occurrence-weighted, integer per-mille) under BPE merge replay,
    // WordPiece MaxMatch, and Unigram Viterbi — the "which tokenizer is
    // densest on THIS corpus" table that drives tokenizer selection.
    // One query, one hash: the oracle replays all three serving chains
    // (the unrolled 3-merge BPE CTEs, the greedy-walk recursive CTE, and
    // the enumerate-all-segmentations CTE) against the same corpus. BPE
    // piece counts include the `</w>` end-of-word marker token — the
    // standard formulation its own word state uses; documented, and
    // replayed identically by the oracle.
    "q_tokenizer_compare" -> Q(
      raw"""WITH RECURSIVE
        |$duckWordPieceToks,
        |${duckUnigramToks("u")},
        |$duckBpe3,
        |nw AS (SELECT CAST(sum(freq) AS BIGINT) AS nwords FROM w),
        |f_wp AS (SELECT CAST(sum(w2.freq) AS BIGINT) AS np
        |  FROM toks t JOIN w w2 ON t.word = w2.word),
        |f_uni AS (SELECT CAST(sum(w2.freq) AS BIGINT) AS np
        |  FROM utoks t JOIN w w2 ON t.word = w2.word),
        |f_bpe AS (SELECT
        |  CAST(sum(c * len(string_split_regex(trim(s), '\s+')))
        |    AS BIGINT) AS np,
        |  CAST(sum(c) AS BIGINT) AS nwords FROM s3)
        |SELECT 'bpe' AS tokenizer, f_bpe.nwords AS n_words,
        |  f_bpe.np AS n_pieces,
        |  CAST(f_bpe.np * 1000 // f_bpe.nwords AS BIGINT) AS fertility_ppk
        |FROM f_bpe
        |UNION ALL
        |SELECT 'unigram', nw.nwords, f_uni.np,
        |  CAST(f_uni.np * 1000 // nw.nwords AS BIGINT)
        |FROM f_uni, nw
        |UNION ALL
        |SELECT 'wordpiece', nw.nwords, f_wp.np,
        |  CAST(f_wp.np * 1000 // nw.nwords AS BIGINT)
        |FROM f_wp, nw""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val w = WordPiece.wordFreq(d, "text").localCheckpoint(true)
      val vb = WordPiece.vocab(w)
      val costs = Unigram.vocabCosts(w)
      val unk =
        if (costs.isEmpty) 10000L else costs.iterator.map(_._2).max + 10000L
      def family(name: String, pieces: org.apache.spark.sql.Column,
          src: DataFrame, cnt: String) =
        src.select((pieces.cast("long") * col(cnt)).as("np"), col(cnt))
          .agg(sum(cnt).cast("long").as("n_words"),
            sum("np").cast("long").as("n_pieces"))
          .select(lit(name).as("tokenizer"), col("n_words"),
            col("n_pieces"),
            expr("n_pieces * 1000 div n_words").as("fertility_ppk"))
      val merges = Bpe.train(d, "text", 3).map(_._2)
      val st3 = Bpe.applyMerges(d, "text", merges)
      family("bpe", size(split(trim(col("s")), "\\s+")), st3, "c")
        .unionByName(family("unigram",
          size(graft.functions.ViterbiTokenize(col("word"), costs, unk)),
          w, "freq"))
        .unionByName(family("wordpiece",
          size(graft.functions.PieceTokenize(col("word"), vb)), w, "freq"))
    },
  )

  // DuckDB-side BPE word state (mirrors Bpe.wordState): distinct words
  // with occurrence counts, chars double-space-joined + '</w>' marker,
  // double-space padded.
  // def, not val: referenced from the `all` initializer above
  private def duckBpeBase =
    raw"""wc AS (
      |  SELECT w, count(*) AS c FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |    FROM documents) GROUP BY 1),
      |s0 AS (
      |  SELECT '  ' || regexp_replace(w, '(.)', '\1  ', 'g') || '</w>  '
      |    AS s, c
      |  FROM wc)""".stripMargin

  // One unrolled BPE iteration (mirrors Bpe.pairCounts + the argmax +
  // Bpe.mergeOne): pair counts over s{i-1}, 1-row argmax b{i}, merged
  // state s{i}. The coalesce guards mirror Spark's early loop exit when
  // training converges in fewer than k merges: an empty b{i} would
  // NULL-poison the concatenated pattern and wipe the word state — the
  // fallback '   ' (three spaces) makes the replace an identity no-op
  // (token boundaries are exactly two spaces, and pattern==replacement
  // even if it ever matched).
  private def bpeIterSql(i: Int): String = {
    val prev = s"s${i - 1}"
    raw"""p$i AS (
      |  SELECT t[j] || ' ' || t[j+1] AS pr, c FROM (
      |    SELECT string_split_regex(trim(s), '\s+') AS t, c FROM $prev),
      |  LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS j) g),
      |pc$i AS (SELECT pr, sum(c) AS cnt FROM p$i GROUP BY 1),
      |b$i AS (SELECT pr, cnt FROM pc$i ORDER BY cnt DESC, pr ASC LIMIT 1),
      |s$i AS (SELECT replace(s,
      |    coalesce(' ' || (SELECT string_split(pr, ' ')[1] FROM b$i) ||
      |      '  ' || (SELECT string_split(pr, ' ')[2] FROM b$i) ||
      |      ' ', '   '),
      |    coalesce(' ' || (SELECT replace(pr, ' ', '') FROM b$i) ||
      |      ' ', '   ')) AS s, c
      |  FROM $prev)""".stripMargin
  }
}
