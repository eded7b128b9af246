package graft.ops.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the faiss-standard embedding compression:
  * split each d-dim vector into `m` contiguous subvectors, learn a tiny
  * k-centroid codebook per subspace, and store each vector as `m` one-byte
  * codes. A 768-dim float corpus compresses ~384× (3 KB → 8 B at m=8),
  * which is what makes billion-vector ANN fit in memory at all; search
  * runs over codes via ADC (asymmetric distance computation): the query
  * precomputes its dot product with every codebook centroid once (an
  * m×k lookup table), and a candidate's approximate score is just m
  * table lookups summed.
  *
  * Scale shapes: codebooks are m independent [[Ivf.fitCentroids]] runs
  * over subvector slices (broadcast-sized output); encoding is a per-row
  * argmin against the broadcast codebook — the corpus never shuffles; ADC
  * search broadcasts the (queries × m × k) lookup table and equi-joins it
  * to the code table on (sub, code), then partial-agg-sums per
  * (qid, id) — no vector arithmetic in the hot path at all.
  *
  * Determinism: codebooks inherit Ivf's digest seeding + grid-snapped
  * means; encode/ADC ties break on code/id via struct ordering.
  */
object Pq {

  /** Learn one codebook per subspace: `vectors` = (id, vec) with
    * dims divisible by `m`. Output: (sub, code, cvec) — `m·k` rows,
    * always broadcast-sized.
    *
    * All `m` k-means runs iterate TOGETHER as one grouped Lloyd loop over
    * the (sub, id, sv) table: one corpus pass per round regardless of m
    * (m sequential [[Ivf.fitCentroids]] runs measured 8× slower from job
    * overhead alone). Same determinism recipe as Ivf: digest seeding
    * (per (sub, id), so subspaces draw different seeds), grid-snapped
    * means, L2 assignment with struct tie-breaks — and on L2-normalized
    * input, L2 and cosine assignment agree (|a−b|² = 2 − 2cos).
    */
  def fitCodebooks(vectors: DataFrame, m: Int, k: Int,
                   iters: Int = 2): DataFrame = {
    // eager checkpoint: lazy + multi-branch consumers can deadlock Spark (see ops/llm/Dedup.scala "EAGER CHECKPOINT DISCIPLINE")
    val subs = subTable(vectors, m).localCheckpoint(true)
    val seedW = Window.partitionBy(col("sub")).orderBy(col("_h"))
    var books = subs
      .withColumn("_h", sha2(concat(col("sub").cast("string"), lit(":"),
        col("id").cast("string")), 256))
      .withColumn("_r", row_number().over(seedW))
      .filter(col("_r") <= k)
      .select(col("sub"), col("_r").as("code"), col("sv").as("cvec"))
      .localCheckpoint(true)
    (1 to iters).foreach { _ =>
      books = Ivf.snappedMean(assignCodes(subs, books),
          Seq(col("sub"), col("code")), "sv")
        .localCheckpoint(true)
    }
    books
  }

  /** One pass of L2 nearest-entry assignment: (sub, id, sv) × broadcast
    * per-sub codebook array → (sub, id, code, sv), ties on the smaller
    * code (array_min over (_d, code) structs — the same lexicographic
    * order as the previous min(struct(_d, code)) aggregate, on the same
    * doubles).
    *
    * Shape: the old form inflated
    * the subvector table ×k through the codebook join (n·m·k rows at
    * k=64) and argmin'd back down through a struct aggregate, which
    * plans as Sort+SortAggregate+Exchange+Sort+SortAggregate with
    * first(sv) dragging every subvector through both sorts. Folding each
    * subspace's codebook into ONE broadcast array row (equi-joined on
    * `sub` — m rows total) and picking the argmin per row keeps the row
    * count flat: zero exchanges, zero sorts, sv never leaves its row.
    *
    * |sv - cvec|² = |sv|² + |cvec|² - 2·dot; |sv|² is constant within
    * the per-(sub, id) argmin so it is dropped, and |cvec|² is
    * precomputed per codebook entry — ONE dot per (row, entry).
    *
    * PRECONDITION: `subs` keys (sub, id) must be unique.
    * The old groupBy(sub, id) + first(sv) aggregate implicitly collapsed
    * duplicates; the per-row argmin emits one row per input row. The
    * only producer is [[subTable]], which emits exactly one row per
    * (sub, id) by construction.
    */
  private def assignCodes(subs: DataFrame, books: DataFrame): DataFrame = {
    val cb = books
      .withColumn("_cn2", Similarity.dot(col("cvec"), col("cvec")))
      .groupBy(col("sub"))
      .agg(sort_array(collect_list(struct(
        col("code"), col("cvec"), col("_cn2")))).as("cb"))
    subs.join(broadcast(cb), Seq("sub"))
      .withColumn("_best", array_min(transform(col("cb"), e =>
        struct((e.getField("_cn2") - lit(2d)
            * Similarity.dot(col("sv"), e.getField("cvec"))).as("_d"),
          e.getField("code").as("code")))))
      .select(col("sub"), col("id"),
        col("_best").getField("code").as("code"), col("sv"))
  }

  /** (sub, id, sv): every subvector of every vector, from one pass. */
  private def subTable(vectors: DataFrame, m: Int): DataFrame =
    vectors.toDF("id", "vec")
      .select(col("id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), subvec(col("vec"), s, m).as("sv"))): _*))
        .as("e"))
      .select(col("e.sub").as("sub"), col("id"), col("e.sv").as("sv"))


  /** Subvector slice s of m over vector column `v` (1-based slice). */
  private def subvec(v: org.apache.spark.sql.Column, s: Int, m: Int) = {
    val w = size(v) / m
    slice(v, w * s + 1, w)
  }

  /** Encode each vector as its per-subspace nearest codebook entry by L2
    * (the PQ metric). Output: (id, sub, code) — m rows per vector, the
    * compressed representation.
    */
  def encode(vectors: DataFrame, codebooks: DataFrame, m: Int): DataFrame =
    assignCodes(subTable(vectors, m), codebooks)
      .select(col("id"), col("sub"), col("code"))

  /** ADC top-k: approximate dot(query, reconstruction(x)) summed from the
    * broadcast (qid, sub, code) → partial-dot lookup table. Output:
    * (qid, id, rnk, adc4).
    */
  def adcTopK(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
              m: Int, k: Int): DataFrame = {
    val lut = queries.toDF("qid", "qvec")
      .select(col("qid"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
          subvec(col("qvec"), s, m).as("sv"))): _*)).as("e"))
      .select(col("qid"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("qid"), col("sub"), col("code"),
        Similarity.dot(col("sv"), col("cvec")).as("pdot"))
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("pdot")).as("adc"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("adc").desc, col("id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("rnk"),
        round(col("adc"), 4).as("adc4"))
  }

  /** Hash-verifiable twin of [[refineTopK]]: same ADC-shortlist → refine
    * pipeline, but the refine rescore is the exact-integer int8 score
    * (code-dot × both dequant scales, [[Similarity.int8TopK]]'s scoring)
    * instead of float cosine. With `shortlist` ≥ the corpus size the ADC
    * stage provably passes every candidate through (its approximate
    * ordering cannot drop a true neighbor), so the result is
    * bit-deterministic and a DuckDB oracle can replay it — certifying
    * that the ADC equi-join covers every (query, vector) pair, the
    * shortlist window is applied per query, and the refine rescore +
    * tie-breaks are exact. The approximate small-shortlist path stays
    * covered by q_pq_search's recall spec; this twin is the
    * "mathematically possible" exact half of the pair.
    */
  def refineTopKInt(vectors: DataFrame, codes: DataFrame,
                    codebooks: DataFrame, queries: DataFrame, m: Int,
                    k: Int, shortlist: Int): DataFrame = {
    val cand = adcTopK(codes, codebooks, queries, m, shortlist)
      .select(col("qid"), col("id"))
    val v = Similarity.corpusCodes(vectors)
    val q = Similarity.queryCodes(queries)
    cand.join(v, Seq("id")).join(broadcast(q), Seq("qid"))
      .withColumn("score", Similarity.int8Score)
      .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("rnk"), col("score"))
  }

  /** ADC-shortlist + exact refine — the production IVF-PQ+refine recipe:
    * ADC cheaply cuts the corpus to a `shortlist` per query (m table
    * lookups per candidate), then ONLY the shortlist rows re-join their
    * full vectors for exact cosine rescoring. At scale the expensive
    * arithmetic touches `shortlist × queries` rows instead of the
    * corpus. Output: (qid, id, rnk, score4) — same shape as
    * [[Similarity.bruteForceTopK]].
    */
  def refineTopK(vectors: DataFrame, codes: DataFrame, codebooks: DataFrame,
                 queries: DataFrame, m: Int, k: Int,
                 shortlist: Int): DataFrame = {
    val cand = adcTopK(codes, codebooks, queries, m, shortlist)
      .select(col("qid"), col("id"))
    val v = vectors.toDF("id", "vec")
      .withColumn("nv", Similarity.l2norm(col("vec")))
    val q = queries.toDF("qid", "qvec")
      .withColumn("nq", Similarity.l2norm(col("qvec")))
    cand.join(v, Seq("id")).join(broadcast(q), Seq("qid"))
      .withColumn("score", Similarity.cosine(col("qvec"), col("vec"),
        col("nq"), col("nv")))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("rnk"),
        round(col("score"), 4).as("score4"))
  }
}
