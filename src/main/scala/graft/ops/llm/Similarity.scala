package graft.ops.llm

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>` cast to
  * double for stable math).
  *
  * Two paths:
  *  - brute-force cosine top-k: the exact, oracle-checked baseline. The
  *    query set is broadcast, so the big side streams once with no shuffle —
  *    fine whenever |queries| is small, at any corpus size.
  *  - LSH-bucketed ANN (`annTopK`): random-hyperplane signatures put each
  *    vector in one of 2^planes buckets; queries probe their own bucket plus
  *    all Hamming-1 neighbors. Join is bucket-equi (shuffle on an 8-char
  *    key), never all-pairs — the 100 TB path. Recall vs brute force is
  *    asserted in SimilaritySpec.
  *
  * All vector math is `zip_with`/`aggregate` higher-order functions —
  * codegen-friendly, no UDF serialization per row.
  */
object Similarity {

  /** Codegen'd dot product (see functions.VectorMath — the HOF
    * `aggregate(zip_with(...))` formulation is interpreted per element and
    * dominates all-pairs queries).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorMath.dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a, b) given precomputed norms (avoid recomputing the heavy part
    * per candidate pair).
    */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Each query's `k` best rows of `scored(qid, id, score)`, ties on the
    * smaller id, ranked in `rnk`.
    */
  private[llm] def topKByQuery(scored: DataFrame, k: Int): DataFrame =
    graft.ops.TopK(scored, Seq("qid"), scored("score"), Seq(scored("id")), k)

  /** Exact top-k neighbors for each query vector. `vectors` = (id, vec),
    * `queries` = (qid, qvec); self-pairs excluded by id. Output:
    * (qid, id, rnk, score4) — rnk from the un-rounded score with id
    * tie-break, score rounded to 4 dp for display.
    */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    val v = vectors.toDF("id", "vec").withColumn("nv", l2norm(col("vec")))
    val q = queries.toDF("qid", "qvec").withColumn("nq", l2norm(col("qvec")))
    val scored = v.join(broadcast(q), col("id") =!= col("qid"))
      .withColumn("score",
        cosine(col("qvec"), col("vec"), col("nq"), col("nv")))
    val top = topKByQuery(scored, k)
    top.select(col("qid"), col("id"), col("rnk"),
      round(col("score"), 4).as("score4"))
  }

  /** All pairs (a < b) with cosine >= threshold — embedding near-dup
    * detection. Exact, but NOT a cartesian plan: the quadratic pair space
    * is decomposed into a `blocks × blocks` grid of cells (the classic
    * theta-join-as-equi-join trick): each vector hashes to one block;
    * the left side replicates each row across its block's ROW of cells
    * and the right side across its block's COLUMN, so every ordered pair
    * meets in exactly one cell and the join is a plain shuffle equi-join
    * on the cell id — evenly partitioned, no BroadcastNestedLoopJoin, no
    * driver-memory broadcast of the corpus. Exact dense threshold search
    * is inherently O(n²) compute; what this buys at scale is that the
    * work is spread over blocks² shuffle keys instead of one nested-loop
    * task per broadcast copy.
    *
    * Two sound prunes cut the per-pair cost without changing the result:
    *  - `a < b` sits in the join condition, so only unordered pairs reach
    *    the scorer;
    *  - a single-reference angular bound: with θ(x) = angle(x, e0) (e0 =
    *    first coordinate axis, so cos θ(x) is just x[0]/‖x‖), the sphere
    *    triangle inequality gives |θ(a) − θ(b)| ≤ angle(a, b); any pair
    *    with cosine ≥ τ has angle ≤ acos(τ), so pairs with
    *    |θ(a) − θ(b)| > acos(τ) + ε cannot qualify and skip the full
    *    64-wide dot product. ε = 1e-7 over-covers acos's worst-case
    *    conditioning: d(acos)/dx → ∞ as x → ±1, so for vectors nearly
    *    colinear with e0 the computed θ can be off by ≫ machine-ulp
    *    (≈√(2·eps) ≈ 1.5e-8 near the poles); a pair sitting exactly at
    *    the threshold must survive the prefilter and die (or live) in
    *    the exact score filter below, never here. The wider ε only
    *    admits a few extra candidate pairs to the exact scorer.
    */
  def cosinePairs(vectors: DataFrame, threshold: Double,
                  blocks: Int = 16): DataFrame = {
    val b = lit(blocks)
    val v = vectors.toDF("id", "vec")
      .withColumn("nv", l2norm(col("vec")))
      .withColumn("g", pmod(hash(col("id")), b))
      // ratio clamped to [-1, 1]: an ulp of excess for vectors colinear
      // with e0 would make acos return NaN and silently drop valid pairs
      .withColumn("theta", acos(greatest(lit(-1d),
        least(lit(1d), element_at(col("vec"), 1) / col("nv")))))
    val cells = (0 until blocks).map(lit)
    val l = v.select(col("id").as("a"), col("vec").as("va"),
        col("nv").as("na"), col("theta").as("ta"),
        explode(array(cells.map(j => col("g") * b + j): _*)).as("cell"))
    val r = v.select(col("id").as("b"), col("vec").as("vb"),
        col("nv").as("nb"), col("theta").as("tb"),
        explode(array(cells.map(i => i * b + col("g")): _*)).as("cell2"))
    val maxAngle = lit(math.acos(threshold) + 1e-7)
    l.join(r,
        l("cell") === r("cell2") && col("a") < col("b") &&
          abs(col("ta") - col("tb")) <= maxAngle)
      .withColumn("score", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("score") >= threshold)
      .select(col("a"), col("b"), round(col("score"), 4).as("score4"))
  }

  /** SemDeDup-style within-cell near-dup pairs: `vectors` = (id, cell, vec)
    * where `cell` is a cluster assignment (an IVF/k-means cell in the
    * published recipe — any partition of the corpus where near-dups land in
    * the same cell). Pairs are mined ONLY inside a cell: the join is a
    * plain shuffle equi-join on the cell id, so total work is
    * Σ|cell|² ≪ n² — the property that makes semantic dedup tractable at
    * corpus scale (the quantizer caps |cell|, so cells stay
    * executor-sized; with ~√n balanced cells the pair space collapses by
    * ~√n).
    *
    * Hot-cell guard: a cell of size m lands its full m² candidate
    * space on ONE shuffle key — the skew risk of
    * low-cardinality cell columns. Cells over `targetCell` are
    * grid-decomposed: each member gets a deterministic sub-block
    * u ∈ [0, s) with s = ceil(m / targetCell); the a-side replicates a
    * member to keys (u, j) for every j < s, the b-side to (i, u) for
    * every i < s, so an unordered pair (x, y) meets on exactly ONE
    * composite key (cell, uₓ, u_y). Total comparisons are unchanged
    * (m² spread across s² keys of ~(m/s)² each) — the guard buys
    * parallelism and bounded task size, never a different answer: the
    * pair OUTPUT is identical to the plain join, and cells at or under
    * `targetCell` keep s = 1, which degenerates to the plain equi-join.
    * The per-cell counts are a one-row-per-cell aggregate broadcast to
    * both sides (cells are few by construction — that's the premise of
    * the skew risk).
    *
    * Hard partner cap (the `Dedup.knnGraph` treatment): the grid
    * guard bounds TASK size but total comparisons stay Σ|cell|² — an
    * adversarial cell (a giant identical-embedding family) still pays
    * its full quadratic candidate space. Cells over `maxCell` therefore
    * contribute only `maxCell` deterministically-sampled PARTNERS
    * (ranked by xxhash64(cell, id), id tie-break — stable under any
    * partitioning); the probe side keeps every member, so comparisons
    * are Σ|cell|·min(|cell|, maxCell), nobody loses coverage, and the
    * recall cost is confined to oversize cells, where any maxCell-sample
    * of near-identical partners is interchangeable for the downstream
    * connected-components merge. The default cap never triggers on
    * organic cell sizes (quantizers cap |cell| by construction) — output
    * is then pair-for-pair identical to the uncapped join, and the
    * rank window is skipped entirely.
    *
    * Plan shape: the (id, cell, vec, nv) projection is
    * localCheckpoint-ed ONCE and feeds the cell counts and both join
    * sides — one source scan, not three. The pair join itself keeps the
    * inline shape (vectors ride the equi-join, score computed in
    * place, no distinct pass): each unordered pair is emitted exactly
    * once by construction — both-in-sample pairs by the a < b direction,
    * sampled-partner pairs by their single surviving direction
    * (`a < b OR rank(a) > maxCell`) — so no join-back or dedup exchange
    * is ever needed, capped or not.
    */
  def semDedupPairs(vectors: DataFrame, tau: Double,
      targetCell: Int = 4096, maxCell: Int = Int.MaxValue): DataFrame = {
    require(targetCell >= 1, s"targetCell must be >= 1, got $targetCell")
    require(maxCell >= 1, s"maxCell must be >= 1, got $maxCell")
    val v0 = vectors.toDF("id", "cell", "vec")
      .withColumn("nv", l2norm(col("vec")))
      // eager checkpoint: lazy + multi-branch consumers can deadlock Spark (see ops/llm/Dedup.scala "EAGER CHECKPOINT DISCIPLINE")
      .localCheckpoint(true) // counts + both join sides: one source scan
    val v =
      if (maxCell == Int.MaxValue) v0.withColumn("r", lit(1))
      else v0.withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("cell")
            .orderBy(xxhash64(col("cell"), col("id")), col("id"))))
        // cap observability: see Dedup.knnCandidates — one row per
        // oversize cell carries rank maxCell+1
        .observe("graft_semdedup_cell_cap",
          count(when(col("r") === maxCell.toLong + 1L, true))
            .as("n_capped_cells"))
    val s = greatest(lit(1),
      ceil(least(col("cnt"), lit(maxCell.toLong)).cast("double") /
        lit(targetCell))).cast("int")
    val counts = v0.groupBy("cell")
      .agg(count(lit(1)).as("cnt")).select(col("cell"), s.as("s"))
    val w = v.join(broadcast(counts), Seq("cell"))
      .withColumn("u", pmod(xxhash64(col("id")), col("s")).cast("int"))
    val a = w.select(col("id").as("a"), col("cell"),
      col("vec").as("va"), col("nv").as("na"), col("r").as("ra"),
      col("u").as("ua"), explode(sequence(lit(0), col("s") - 1)).as("j"))
    val b = w.filter(col("r") <= maxCell)
      .select(col("id").as("b"), col("cell").as("cellb"),
        col("vec").as("vb"), col("nv").as("nb"), col("u").as("ub"),
        explode(sequence(lit(0), col("s") - 1)).as("i"))
    a.join(b, col("cell") === col("cellb") && col("ua") === col("i") &&
        col("j") === col("ub") &&
        (col("a") < col("b") || col("ra") > maxCell.toLong))
      .withColumn("score", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("score") >= tau)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("cell"),
        round(col("score"), 4).as("score4"))
  }

  /** Full SemDeDup: within-cell pairs → connected components → drop
    * everything but each component's min-id representative. Output is the
    * DROP list (drop_id, keep_id) — what the pipeline deletes; docs in no
    * pair never enter the component computation at all.
    */
  def semDedup(vectors: DataFrame, tau: Double,
      targetCell: Int = 4096, maxCell: Int = Int.MaxValue): DataFrame = {
    val pairs = semDedupPairs(vectors, tau, targetCell, maxCell)
      .select("a", "b")
    Dedup.connectedComponents(pairs)
      .filter(col("node") =!= col("rep"))
      .select(col("node").as("drop_id"), col("rep").as("keep_id"))
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× compression before a vector index is built at corpus scale.
    * Per-vector max-abs scaling: code_i = floor(v_i·127 / max|v|), so
    * every code is in [-127, 127] and reconstruction error is bounded by
    * one step (max|v|/127) per element. Everything is per-row (no
    * shuffle), and all arithmetic is IEEE-correctly-rounded double ops in
    * a fixed order + floor — deterministic across engines, no rounding
    * halfway cases. Zero vectors quantize to all-zero codes. Output:
    * (id, dim, code, maxabs_micro) — maxabs_micro is the dequant scale
    * preserved as an exact integer.
    */
  def quantizeInt8(vectors: DataFrame): DataFrame = {
    val v = vectors.toDF("id", "vec")
      .withColumn("mx", array_max(transform(col("vec"), x => abs(x))))
    v.select(col("id"), col("mx"),
        posexplode(col("vec")).as(Seq("dim", "x")))
      .select(col("id"), col("dim"),
        // clamp at -127: for x = -mx, fl(fl(x·127)/mx) can land one ulp
        // below -127 and floor to -128 (≈3 ppm of mx values) — the clamp
        // keeps the documented symmetric range; mirrored in the oracle
        when(col("mx") === 0d, 0)
          .otherwise(greatest(lit(-127L),
            floor(col("x") * 127d / col("mx"))).cast("int"))
          .as("code"),
        floor(col("mx") * 1e6).cast("long").as("maxabs_micro"))
  }

  /** Int8 codes as an array column (the vector form of `quantizeInt8`):
    * (id, codes array<int>, maxabs_micro). Same math, kept un-exploded
    * for search.
    */
  def int8Codes(vectors: DataFrame): DataFrame = {
    val v = vectors.toDF("id", "vec")
      .withColumn("mx", array_max(transform(col("vec"), x => abs(x))))
    v.select(col("id"),
      when(col("mx") === 0d,
          transform(col("vec"), _ => lit(0)))
        .otherwise(transform(col("vec"),
          // -127 clamp: see quantizeInt8
          x => greatest(lit(-127L), floor(x * 127d / col("mx")))
            .cast("int")))
        .as("codes"),
      floor(col("mx") * 1e6).cast("long").as("maxabs_micro"))
  }

  /** Reconstruction-error audit of the int8 quantizer — turns the
    * [[quantizeInt8]] scaladoc claim ("error bounded by one step
    * max|v|/127 per element") into a per-vector, hash-certifiable
    * contract. All integer micro-units: x_micro = floor(v_i·10⁶),
    * dq_micro = (code_i·maxabs_micro) div 127 (truncating div, both
    * engines), err = |x_micro − dq_micro|; per vector the max/sum error,
    * the step bound maxabs_micro div 127, and the bound verdict (+2
    * micro slop for the two independent floors). Per-row arithmetic
    * only — no shuffle, nothing explodes Spark-side; a violated bound
    * surfaces as within_bound = false IN THE DATA, where the oracle
    * hash pins it.
    */
  def quantError(vectors: DataFrame): DataFrame = {
    val v = vectors.toDF("id", "vec")
      .withColumn("mx", array_max(transform(col("vec"), x => abs(x))))
      .withColumn("mxm", floor(col("mx") * 1e6).cast("long"))
      .withColumn("codes",
        when(col("mx") === 0d, transform(col("vec"), _ => lit(0)))
          .otherwise(transform(col("vec"),
            // -127 clamp: see quantizeInt8
            x => greatest(lit(-127L), floor(x * 127d / col("mx")))
              .cast("int"))))
    v.select(col("id"), col("mxm"),
        expr("transform(sequence(1, size(vec)), i -> " +
          "abs(CAST(floor(element_at(vec, i) * 1000000) AS BIGINT) - " +
          "(CAST(element_at(codes, i) AS BIGINT) * mxm) div 127))")
          .as("errs"))
      .select(col("id"),
        size(col("errs")).cast("long").as("n_dims"),
        array_max(col("errs")).as("max_err_micro"),
        expr("aggregate(errs, CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("sum_err_micro"),
        expr("mxm div 127").as("step_micro"))
      .withColumn("within_bound",
        col("max_err_micro") <= col("step_micro") + 2)
  }

  /** int8 codes of `vectors` as `(id, cv, mxv)` and of `queries` as
    * `(qid, cq, mxq)`, codes cast for [[dot]].
    */
  private[llm] def corpusCodes(vectors: DataFrame): DataFrame =
    int8Codes(vectors)
      .select(col("id"), col("codes").cast("array<double>").as("cv"),
        col("maxabs_micro").as("mxv"))
  private[llm] def queryCodes(queries: DataFrame): DataFrame =
    int8Codes(queries)
      .select(col("id").as("qid"), col("codes").cast("array<double>")
        .as("cq"), col("maxabs_micro").as("mxq"))

  /** Each query's `k` best `pairs` by their exact int8 score:
    * (qid, id, rnk, score).
    */
  private[llm] def int8TopKByQuery(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.withColumn("score", int8Score)
    topKByQuery(scored, k)
      .select(col("qid"), col("id"), col("rnk"), col("score"))
  }

  /** The exact integer score of a query-code × corpus-code pair. */
  private[llm] def int8Score: Column =
    dot(col("cq"), col("cv")).cast("long") * col("mxq") * col("mxv")

  /** Quantized top-k: search over int8 codes with an EXACT integer score
    * `dot(codesA, codesB) · mxA_micro · mxB_micro` (≈ cosine numerator
    * scaled by 127²·10¹²). Every term is an integer that fits a long
    * (|dot| ≤ 127²·dim, scales ≤ 10⁶ for unit-ish vectors), so unlike
    * float cosine the ranking is bit-deterministic and oracle-checkable —
    * the production property that makes a quantized index's results
    * reproducible across engines and runs. The int products are also
    * exactly representable in double, so the codegen'd DotProduct
    * expression computes them exactly. Broadcast query side, corpus
    * streams once; two-phase WindowGroupLimit takes the top-k.
    *
    * Overflow bound: |score| ≤ 127²·dim · (max|v|·10⁶)² — at dim 64 this
    * fits a signed long for any max|v| ≤ ~3 (unit-normalized embeddings
    * leave ~9× headroom); for wider value ranges drop the micro scales
    * to milli.
    */
  def int8TopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val v = corpusCodes(vectors)
    val q = queryCodes(queries)
    int8TopKByQuery(v.join(broadcast(q), col("id") =!= col("qid")), k)
  }

  /** L99 — Matryoshka prefix-dimension retrieval: the int8 search run
    * over only the FIRST `dims` components of each embedding. MRL-style
    * models (Kusupati et al. 2022, "Matryoshka Representation Learning";
    * the truncatable-embedding serving pattern) pack coarse semantics
    * into the vector prefix, so a store can index 16 of 64 dims — a 4×
    * compression axis ORTHOGONAL to precision (int8, L30) and sign-bits
    * (Hamming, L30c) — and search it at 4× less dot-product work per
    * candidate. The quantization scale comes from the PREFIX slice
    * (max-abs over the kept dims), exactly what a store holding only
    * the prefix can compute. Same exact-integer scoring discipline as
    * [[int8TopK]]: ranking is bit-deterministic and oracle-replayable.
    */
  def prefixTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                 dims: Int = 16): DataFrame = {
    def cut(df: DataFrame): DataFrame = df.toDF("id", "vec")
      .select(col("id"), slice(col("vec"), 1, dims).as("vec"))
    int8TopK(cut(vectors), cut(queries), k)
  }

  /** L99b — two-stage Matryoshka search: prefix-dim shortlist (cheap,
    * [[prefixTopK]]) reranked by the exact full-dimension int8 score —
    * the truncate-then-rerank production shape (the dimensional sibling
    * of [[hammingRerank]]'s precision ladder). Both the shortlist
    * BOUNDARY (score desc, id asc — a total order) and the rerank
    * scores are exact integers, so the full pipeline is
    * hash-certifiable end to end. Candidate volume after stage 1 is
    * |queries|·shortlist — the only rows full-width codes are ever
    * fetched for, which is the point at corpus scale: the 4×-smaller
    * prefix index streams, the full vectors serve point lookups.
    */
  def prefixRerank(vectors: DataFrame, queries: DataFrame, k: Int,
                   dims: Int = 16, shortlist: Int = 20): DataFrame = {
    val cand = prefixTopK(vectors, queries, shortlist, dims)
      .select(col("qid"), col("id"))
    val v = corpusCodes(vectors)
    val q = queryCodes(queries)
    int8TopKByQuery(cand.join(v, "id").join(broadcast(q), "qid"), k)
  }

  /** Deterministic random hyperplanes: `planes` rows of `dim` components in
    * [-1, 1), from a fixed seed. Returned as a literal nested array column —
    * broadcast by value inside the plan.
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Column = {
    val rnd = new Random(seed)
    val w = Array.fill(planes, dim)(rnd.nextDouble() * 2 - 1)
    array(w.toIndexedSeq.map(p =>
      array(p.toIndexedSeq.map(lit): _*)): _*)
  }

  /** Sign-bit bucket string of `vec` against `planesCol` ("1011...", one
    * char per plane).
    */
  def bucketOf(vec: Column, planesCol: Column): Column =
    concat_ws("",
      transform(planesCol, p => when(dot(p, vec) >= 0, "1").otherwise("0")))

  /** Multi-probe buckets for a query: its own bucket plus every Hamming-1
    * flip (planes+1 probes total).
    */
  def probeBuckets(bucket: Column, planes: Int): Column = {
    val flips = (1 to planes).map { i =>
      val flipped = when(substring(bucket, i, 1) === "1", "0").otherwise("1")
      concat(substring(bucket, 1, i - 1), flipped,
        substring(bucket, i + 1, planes - i))
    }
    array_distinct(array(bucket +: flips: _*))
  }

  /** Bit-deterministic LSH ANN — the hash-verifiable twin of [[annTopK]]
    * (what [[Ivf.int8TopKExact]] is to `Ivf.topK`): every step is exact
    * integer arithmetic, so the bucket assignment, the candidate set, and
    * the scores are engine-portable and a DuckDB oracle can enumerate the
    * SAME buckets.
    *
    *  - corpus and queries int8-quantize via [[int8Codes]] (the
    *    oracle-checked q_quantize scheme);
    *  - hyperplanes are integer-valued, derived from an LCG formula both
    *    engines compute literally: w(p,i) = ((1103515245·(p·dim+i) +
    *    12345 + seed) mod 2³¹) mod 17 − 8 ∈ [−8, 8];
    *  - bucket id = Σ_p [dot(codes, w_p) ≥ 0]·2^p — an INTEGER key
    *    (0..2^planes−1), no float sign anywhere; probes = own bucket and
    *    every Hamming-1 neighbor, i.e. bucket XOR 2^j (planes+1 equi
    *    keys, all distinct by construction);
    *  - candidate score = int code-dot × both dequant scales (BIGINT) —
    *    exactly q_similarity_int8's scoring, restricted to bucket
    *    collisions; ties break on id.
    *
    * Scale shape is identical to the production float path: the query
    * side broadcasts, the corpus computes its bucket scan-side and joins
    * equi on the integer bucket — never all-pairs. Output:
    * (qid, id, rnk, score).
    */
  def annTopKExactInt(vectors: DataFrame, queries: DataFrame, k: Int,
                      dim: Int, planes: Int = 8,
                      seed: Long = 42L): DataFrame = {
    require(planes <= 62, "bucket id must fit a long")
    // integer hyperplanes: the LCG formula is mirrored verbatim in the
    // oracle SQL — change one only with the other
    def bucketOfInt(codes: Column): Column =
      planeBucket(codes, planes, dim) { (p, i) =>
        ((1103515245L * (p * dim + i) + 12345L + seed) % 2147483648L) %
          17L - 8L
      }
    val v = corpusCodes(vectors)
      .withColumn("bucket", bucketOfInt(col("cv")))
    val q = queryCodes(queries)
      .withColumn("b0", bucketOfInt(col("cq")))
      .withColumn("probe", explode(array(col("b0") +:
        (0 until planes).map(j => col("b0").bitwiseXOR(lit(1L << j))): _*)))
    int8TopKByQuery(v.join(broadcast(q),
        col("bucket") === col("probe") && col("id") =!= col("qid")), k)
  }

  /** Exact-integer LSH k-NN graph over the embedding corpus — the
    * ANN-graph build (kNN init for clustering / NN-descent / SemDeDup at
    * scale): every vector's `k` best same-bucket mates across `tables`
    * independent hyperplane tables, scored with the exact int8 integer
    * score and deterministic ties. Multiple tables are the standard
    * recall lever for a GRAPH build (each vector meets each table's
    * bucket mates; union of candidates, deduped) — unlike the
    * query-side multiprobe of [[annTopKExactInt]], which would multiply
    * the corpus×corpus join volume by probes².
    *
    * Same bit-determinism recipe as [[annTopKExactInt]]: integer LCG
    * hyperplanes (table t shifts the seed by t·7919), integer bucket
    * ids, integer scoring — the DuckDB oracle enumerates the same
    * buckets of every table. Scale shape: the join is equi on
    * (table, bucket), work Σ|bucket|·min(|bucket|, maxBucket) per
    * table, never n²; the top-k cut is the two-phase WindowGroupLimit.
    * Output: (id, nbr_id, rnk, score).
    *
    * Hot-bucket guard (same rationale as `Dedup.knnGraph`): a graph
    * build has no similarity threshold, so one bucket holding a giant
    * duplicate-embedding family would go quadratic. Buckets over
    * `maxBucket` contribute only that many deterministically-sampled
    * join partners (rank of xxhash64(tbl, bucket, id)); the probe side
    * keeps every vector, so coverage is unchanged and only partner
    * choice inside oversize buckets is sampled. The default never
    * triggers on organic bucket sizes.
    */
  def knnGraphExactInt(vectors: DataFrame, k: Int, dim: Int,
                       planes: Int = 8, tables: Int = 2,
                       seed: Long = 42L, maxBucket: Int = 4096): DataFrame =
    knnGraphExactInt(vectors, k, dim, Seq.fill(tables)(planes), seed,
      maxBucket)

  /** Per-table plane counts — the mixed-resolution form: COARSE tables
    * (few planes, big buckets) buy recall, FINE tables (many planes,
    * small buckets) buy cheap precise candidates; mixing beats a uniform
    * configuration at the same candidate budget (recall spec). Table t
    * uses `planesPerTable(t)` hyperplanes with the t-shifted LCG seed —
    * the oracle enumerates each table's buckets with its own plane
    * count.
    */
  def knnGraphExactInt(vectors: DataFrame, k: Int, dim: Int,
                       planesPerTable: Seq[Int], seed: Long,
                       maxBucket: Int): DataFrame = {
    val v = corpusCodes(vectors)
      .localCheckpoint(true) // branches: bucket keys + both score sides
    val cand = knnExactCandidates(v, dim, planesPerTable, seed, maxBucket)
    val scored = cand
      .join(v.select(col("id").as("a"), col("cv").as("cva"),
        col("mxv").as("mxa")), "a")
      .join(v.select(col("id").as("b"), col("cv").as("cvb"),
        col("mxv").as("mxb")), "b")
      .withColumn("score", dot(col("cva"), col("cvb")).cast("long") *
        col("mxa") * col("mxb"))
      .select(col("a").as("id"), col("b").as("nbr_id"), col("score"))
    graft.ops.TopK(scored, Seq("id"), scored("score"),
        Seq(scored("nbr_id")), k)
      .select(col("id"), col("nbr_id"), col("rnk"), col("score"))
  }

  /** Candidate stage of [[knnGraphExactInt]], exposed for budget/recall
    * specs: per-table hyperplane bucketing (table t gets
    * `planesPerTable(t)` planes at the t-shifted seed), capped bucket
    * self-join, distinct (a, b) pairs. `v` must be the int8Codes
    * projection (id, cv, mxv).
    */
  /** Integer bucket id of int8 `codes` against `planes` integer
    * hyperplanes, plane p's dim-i weight `w(p, i)`: Σ_p [dot ≥ 0]·2^p.
    * Exact: |dot| ≤ 127·8·dim, integer-valued doubles.
    */
  private def planeBucket(codes: Column, planes: Int, dim: Int)(
      w: (Int, Int) => Long): Column =
    (0 until planes).map { p =>
      val row = (0 until dim).map(w(p, _))
      val d = dot(codes, array(row.map(x => lit(x.toDouble)): _*))
      when(d >= 0d, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  private[graft] def knnExactCandidates(v: DataFrame, dim: Int,
                                      planesPerTable: Seq[Int], seed: Long,
                                      maxBucket: Int): DataFrame = {
    require(planesPerTable.nonEmpty, "at least one table")
    require(planesPerTable.forall(p => p >= 1 && p <= 62),
      "plane counts must be in [1, 62] (bucket id must fit a long)")
    def bucketOfInt(codes: Column, planes: Int, tblSeed: Long): Column =
      planeBucket(codes, planes, dim) { (p, i) =>
        ((1103515245L * (p * dim + i) + 12345L + tblSeed) %
          2147483648L) % 17L - 8L
      }
    val keyed = v.select(col("id"),
      explode(array(planesPerTable.zipWithIndex.map { case (np, t) =>
        struct(lit(t).as("tbl"),
          bucketOfInt(col("cv"), np, seed + t * 7919L).as("bucket"))
      }: _*)).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
    keyed.toDF("a", "tbl", "bucket")
      .join(Dedup.capPartners(keyed.toDF("b", "tbl2", "bucket2"),
          Seq("tbl2", "bucket2"), "b", maxBucket),
        col("tbl") === col("tbl2") && col("bucket") === col("bucket2") &&
          col("a") =!= col("b"))
      .select("a", "b").distinct()
  }

  /** ANN top-k: hyperplane-bucketed candidates (query probes its bucket +
    * Hamming-1 neighbors), exact cosine re-rank within candidates.
    *
    * `dim` is the embedding dimensionality; pass it when known, else it is
    * read from the first vector (a one-row scan). A wrong dim would silently
    * truncate/zero-pad the hyperplane dot products and degrade buckets.
    */
  def annTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 8, seed: Long = 42L, dim: Int = 0): DataFrame = {
    val v0 = vectors.toDF("id", "vec")
    val q0 = queries.toDF("qid", "qvec")
    // Dim inference (only when `dim` is not passed): ONE EAGER aggregate
    // job at plan-construction time, which also validates that the input
    // is uniform-dimensional — a mixed-dim corpus would otherwise pick an
    // arbitrary dim and fail deep in execution with an opaque graft_dot
    // length error. The validation scan is a full pass over the column;
    // at scale pass `dim` explicitly and no job runs here. Falls back to
    // the query side for an empty corpus (bucketOf still evaluates on
    // query rows); null vectors are skipped; all-empty clamps to 1
    // (nothing is evaluated then).
    def inferDim(df: DataFrame, c: String, what: String): Int =
      df.agg(min(size(col(c))).as("lo"), max(size(col(c))).as("hi"))
        .na.drop().collect().headOption.map { row =>
          val (lo, hi) = (row.getInt(0), row.getInt(1))
          require(lo == hi, s"annTopK: mixed embedding dimensionality in " +
            s"$what (min size $lo, max size $hi) — pass `dim` explicitly " +
            "or fix the input")
          hi
        }.getOrElse(0)
    val d = math.max(1,
      if (dim > 0) dim
      else { val dv = inferDim(v0, "vec", "vectors")
             if (dv > 0) dv else inferDim(q0, "qvec", "queries") })
    val pl = hyperplanes(planes, d, seed)
    val v = v0
      .withColumn("nv", l2norm(col("vec")))
      .withColumn("bucket", bucketOf(col("vec"), pl))
    val q = q0
      .withColumn("nq", l2norm(col("qvec")))
      .withColumn("probe",
        explode(probeBuckets(bucketOf(col("qvec"), pl), planes)))
    val scored = v.join(broadcast(q),
        col("bucket") === col("probe") && col("id") =!= col("qid"))
      .withColumn("score",
        cosine(col("qvec"), col("vec"), col("nq"), col("nv")))
    topKByQuery(scored, k)
      .select(col("qid"), col("id"), col("rnk"),
        round(col("score"), 4).as("score4"))
  }

  /** DBSCAN density clustering over an embedding corpus, with the
    * eps-neighborhood defined on the unit sphere: p and q are neighbors
    * iff cosine(p, q) >= tau. The curation use is density stratification —
    * dense semantic regions (core/border) vs isolated outliers (noise) —
    * the same structure SemDeDup prunes, but with an explicit density
    * model and a first-class outlier class instead of a flat cut.
    *
    *  - core:   |N(p)| >= minPts, where N(p) includes p itself;
    *  - cluster: connected components of the core-core neighbor graph,
    *    labeled by the component's MIN core id (singleton cores — core
    *    points with no core neighbor — label themselves);
    *  - border: non-core with at least one core neighbor. Classic DBSCAN
    *    leaves a multi-cluster border's assignment scan-order-dependent;
    *    here it is pinned deterministic: the MIN cluster label among its
    *    core neighbors;
    *  - noise:  everything else, cluster = -1.
    *
    * Scale shape: the dominant cost is neighbor-pair mining, delegated to
    * `cosinePairs` (exact, grid-decomposed — no cartesian, no corpus
    * broadcast; at 100 TB swap in the IVF/LSH candidate front-end for an
    * approximate neighborhood, everything downstream is unchanged). The
    * mined >= tau graph is far smaller than the corpus; degree counting is
    * one partial-agg'd groupBy, clustering is `Dedup.connectedComponents`
    * (min-label propagation + pointer jumping, O(log diameter) rounds),
    * and role assembly is semi/anti joins against the core set.
    *
    * `vectors` = (id, vec). Output: (vec_id, role, cluster).
    */
  def dbscan(vectors: DataFrame, tau: Double, minPts: Int,
             blocks: Int = 16): DataFrame = {
    val v = vectors.toDF("id", "vec")
    dbscanFromPairs(v,
      cosinePairs(v, tau, blocks).select(col("a"), col("b")), minPts)
  }

  /** ANN-front-end DBSCAN — the 100 TB form the [[dbscan]] scaladoc
    * promises: candidate pairs from the capped multi-table LSH path
    * ([[knnExactCandidates]] over int8 codes — Σ|bucket|·min(|bucket|,cap)
    * join volume, never n², with `Dataset.observe` cap metrics), each
    * candidate then EXACTLY cosine-scored against τ, feeding the same
    * core/border/noise derivation as the exact form.
    *
    * Recall contract: precision is exact by construction (every emitted
    * pair passed the true cosine ≥ τ test — the LSH stage only proposes),
    * so ANN pairs ⊆ exact pairs always, and the clustering can only ever
    * differ by MISSED neighbors. Per-pair miss probability after T
    * tables of p hyperplanes is (1 − (1 − θ/π)^p)^T (θ = acos τ) —
    * driven to organically-zero here by many coarse tables (the gate
    * entry q_dbscan_ann hash-matches the EXACT oracle on the testdata;
    * DbscanSpec asserts pair-set equality and documents divergence when
    * tables are deliberately starved).
    */
  def dbscanAnn(vectors: DataFrame, tau: Double, minPts: Int,
                planesPerTable: Seq[Int], seed: Long = 42L,
                maxBucket: Int = 4096): DataFrame = {
    val v = vectors.toDF("id", "vec")
    val codes = int8Codes(v.select(col("id"), col("vec")))
      .select(col("id"), col("codes").cast("array<double>").as("cv"))
      .localCheckpoint(true)
    // dim read off the (already materialized) code table instead of a
    // separate parquet-scan job — codes are per-dimension, same length
    val dim = codes.select(size(col("cv"))).head().getInt(0)
    // ordered + int8-UB prefiltered: the join emits
    // only a < b (this caller filtered that anyway — proof at the
    // `ordered` param) and drops pairs whose provable int8 cosine upper
    // bound is below τ before they are emitted — the exact τ filter
    // below disposes identically either way, so the output is
    // bit-identical with ~an order of magnitude fewer candidate rows
    // reaching the vector-attach joins.
    val cand = annCandidatesMixed(codes, dim, planesPerTable, seed,
      maxBucket, ubTau = Some(tau), ordered = true)
    val withVec = v.select(col("id"), col("vec"), l2norm(col("vec")).as("nv"))
    val pairs = cand
      .join(withVec.select(col("id").as("a"), col("vec").as("va"),
        col("nv").as("na")), "a")
      .join(withVec.select(col("id").as("b"), col("vec").as("vb"),
        col("nv").as("nb")), "b")
      .filter(cosine(col("va"), col("vb"), col("na"), col("nb")) >= tau)
      .select(col("a"), col("b"))
    dbscanFromPairs(v, pairs, minPts)
  }

  /** splitmix64 finalizer — plan-time literal generation only. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Candidate stage for [[dbscanAnn]]: same capped multi-table bucket
    * join as [[knnExactCandidates]], but hyperplane components come from
    * a splitmix64 avalanche of (seed, table, plane, dim) instead of that
    * method's linear LCG. The LCG's per-component table-to-table step is
    * `t·7919 mod 17` — a short cycle, so its tables are CORRELATED and
    * recall plateaus as tables are added (measured: stuck at 97–99% pair
    * recall regardless of T at τ=0.35). Avalanched components make
    * tables independent, so the (1 − (1 − θ/π)^p)^T miss bound actually
    * holds and recall → 1 with T. knnExactCandidates itself is frozen:
    * its DuckDB oracles replay the LCG math bit-for-bit.
    */
  private[graft] def annCandidatesMixed(v: DataFrame, dim: Int,
                                 planesPerTable: Seq[Int], seed: Long,
                                 maxBucket: Int,
                                 ubTau: Option[Double] = None,
                                 ordered: Boolean = false): DataFrame = {
    require(planesPerTable.nonEmpty, "at least one table")
    require(ubTau.forall(_ >= 0d),
      "ubTau must be >= 0 (the numerator/denominator bound directions " +
        "assume a non-negative threshold)")
    require(planesPerTable.forall(p => p >= 1 && p <= 62),
      "plane counts must be in [1, 62] (bucket id must fit a long)")
    def bucketOfInt(codes: Column, planes: Int, tbl: Int): Column =
      planeBucket(codes, planes, dim) { (p, i) =>
        Math.floorMod(
          mix64(seed ^ (tbl * 1000003L) ^ (p * 8191L) ^ i.toLong),
          17L) - 8L
      }
    val nTables = planesPerTable.size
    val offsets = planesPerTable.scanLeft(0)(_ + _)
    require(offsets.last <= 62,
      s"sum of plane counts must fit one packed long, got ${offsets.last}")
    // ONE packed long carries every table's bucket id (disjoint bit
    // ranges, Σplanes ≤ 62 bits) — each join side ships it so duplicate
    // suppression is a per-row bit predicate, not a post-join distinct:
    // at exact-recall parameterizations (many coarse tables, the
    // q_dbscan_ann setting) nearly every qualifying pair co-buckets in
    // MOST tables, so the old two-sided join emitted ~T× duplicated
    // candidates and the dedup HashAggregate over them was the single
    // most expensive stage of the whole query (measured at sf0.1:
    // 24.1 M joined rows → 4.9 s distinct of a 12.9 s total). Packing
    // matters: an array<long> fingerprint re-materializes ~200 B per
    // joined row and measured 4× WORSE than the distinct it replaced.
    val bvp = planesPerTable.zipWithIndex.map { case (np, t) =>
      bucketOfInt(col("cv"), np, t) * lit(1L << offsets(t))
    }.reduce(_ + _)
    def bucketAt(t: Int): Column =
      shiftright(col("bvp"), offsets(t))
        .bitwiseAND(lit((1L << planesPerTable(t)) - 1L))
    // Int8 cosine upper bound (prune BEFORE pair emission). The per-vector max-abs scales cancel in cosine, so with
    // u := v·127/max|v| and c := the int8 codes, u_i ∈ [c_i, c_i + 1)
    // per dim (quantizeInt8's floor) and cosine(va, vb) = cosine(ua, ub)
    // EXACTLY. Over that box:
    //   <ua,ub> <= <ca,cb> + Σ ca_i⁺ + Σ cb_i⁺ + dim      (each e ∈ [0,1))
    //   ‖ua‖    >= sqrt(Σ lo_i²), lo_i = max(c_i, -c_i - 1)  (min |x| over
    //                                                        [c_i, c_i+1))
    // so cosine <= (<ca,cb> + spa + spb + dim) / (lona·lonb) — a pair
    // whose bound is below τ provably fails the exact τ test and can be
    // dropped inside the join with the result bit-identical. +2 slack in
    // the numerator absorbs the -128→-127 clamp corner (≈3 ppm of
    // components sit one step outside the box; worst-case contribution
    // ≪ 1) and predicate-evaluation ulps. All inputs are small ints in
    // doubles — the dot and the per-id stats are exact. Zero-vector rows
    // have lona = 0 and are conservatively kept.
    val prefStats: DataFrame => DataFrame = df =>
      if (ubTau.isEmpty) df
      else df
        .withColumn("_sp",
          expr("aggregate(cv, 0D, (acc, x) -> acc + greatest(x, 0D))"))
        .withColumn("_lon", sqrt(expr(
          "aggregate(cv, 0D, (acc, x) -> " +
            "acc + pow(greatest(x, -x - 1D), 2D))")))
    val preCols =
      if (ubTau.isEmpty) Seq.empty[Column]
      else Seq(col("cv"), col("_sp"), col("_lon"))
    val keyed = prefStats(v).select(
        Seq(col("id"), bvp.as("bvp")) ++ preCols: _*)
      .select(Seq(col("id"), col("bvp"),
        explode(array((0 until nTables).map { t =>
          struct(lit(t).as("tbl"), bucketAt(t).as("bucket"))
        }: _*)).as("tb")) ++ preCols: _*)
      .select(Seq(col("id"), col("bvp"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket")) ++ preCols: _*)
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy("tbl", "bucket")
      .orderBy(xxhash64(col("tbl"), col("bucket"), col("id")), col("id"))
    // cap survivors + per-id survival BITMASK (bit t set = this id is
    // under the cap in its table-t bucket); the mask lets the emission
    // rule below reproduce the capped join's semantics exactly
    val capped = keyed
      .withColumn("_br", row_number().over(bw))
      .filter(col("_br") <= maxBucket)
      .observe("graft_dbscan_ann_bucket_cap",
        count(when(col("_br") === maxBucket, true))
          .as("n_buckets_at_cap"))
      .withColumn("sv",
        sum(expr("shiftleft(CAST(1 AS BIGINT), tbl)"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .drop("_br")
    val aPre =
      if (ubTau.isEmpty) Seq.empty[Column]
      else Seq(col("cv").as("cva"), col("_sp").as("spa"),
        col("_lon").as("lona"))
    val bPre =
      if (ubTau.isEmpty) Seq.empty[Column]
      else Seq(col("cv").as("cvb"), col("_sp").as("spb"),
        col("_lon").as("lonb"))
    val aSide = keyed.select(Seq(col("id").as("a"), col("bvp").as("bvpa"),
      col("tbl"), col("bucket")) ++ aPre: _*)
    val bSide = capped.select(Seq(col("id").as("b"), col("bvp").as("bvpb"),
      col("sv"), col("tbl").as("tbl2"), col("bucket").as("bucket2"))
      ++ bPre: _*)
    // first-surviving-table emission: a pair direction is emitted ONLY
    // from the first table where the sides co-bucket AND the b side
    // survives that bucket's cap — every direction appears exactly once
    // (the old `.distinct()` set, bit-for-bit, eviction or not), with no
    // dedup shuffle. Still two-sided (a =!= b, both directions emitted):
    // the cap evicts only the capped side, so a pair whose larger id is
    // evicted can still surface through its other direction — an a<b
    // restriction inside the join would make the cap one-sided and
    // silently halve recall once a bucket exceeds the cap.
    def dupAt(t: Int): Column = {
      val tableMask = ((1L << planesPerTable(t)) - 1L) << offsets(t)
      (col("bvpa").bitwiseXOR(col("bvpb"))
        .bitwiseAND(lit(tableMask)) === lit(0L)) &&
        (col("sv").bitwiseAND(lit(1L << t)) =!= lit(0L))
    }
    val firstTable =
      if (nTables == 1) lit(true)
      else (0 until nTables - 1)
        .map(tp => (col("tbl") <= tp) || !dupAt(tp))
        .reduce(_ && _)
    // ordered=true restricts emission to a < b INSIDE the join. Only
    // valid for a consumer that post-filters a < b anyway (dbscanAnn):
    // for an ordered pair (x, y), x < y, emission happens at the first
    // table where they co-bucket and y survives its bucket's cap —
    // exactly the rows the old both-direction join kept AFTER its
    // filter(a < b) (the (y, x) direction rows never pass that filter),
    // so the post-filter set is bit-identical. Consumers that keep both
    // directions must NOT set it (one-sided cap semantics, see above).
    val pairPred =
      if (ordered) col("a") < col("b") else col("a") =!= col("b")
    // the UB conjunct sits LAST so codegen's short-circuit evaluates the
    // dim-length dot only for rows that already passed first-table
    // emission — per-match cost stays O(tables), not O(dim)
    val ubPred = ubTau match {
      case None => lit(true)
      case Some(tau) =>
        val num = dot(col("cva"), col("cvb")) +
          col("spa") + col("spb") + lit(dim.toDouble + 2d)
        (col("lona") * col("lonb") === 0d) ||
          (num >= lit(tau) * col("lona") * col("lonb"))
    }
    aSide
      .join(bSide,
        col("tbl") === col("tbl2") && col("bucket") === col("bucket2") &&
          pairPred && firstTable && ubPred)
      .select("a", "b")
  }

  /** Core/border/noise derivation shared by [[dbscan]] and [[dbscanAnn]]:
    * `v` = (id, vec), `pairCand` = unordered neighbor pairs (a < b).
    */
  private[graft] def dbscanFromPairs(v: DataFrame, pairCand: DataFrame,
                              minPts: Int): DataFrame = {
    // pairs feed four consumers (degrees, core-core edges, border join);
    // eager-checkpoint so the quadratic mining front-end runs ONCE
    val pairs = pairCand.select(col("a"), col("b"))
      .localCheckpoint(true)
    val nbr = pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
    val deg = nbr.groupBy("src").agg(count(lit(1)).as("d"))
    // |N(p)| >= minPts with N including p: degree >= minPts - 1.
    // core feeds FOUR consumers (both coreEdges semi-joins, coreLab,
    // borderLab's anti-join) — eager-checkpoint per the EAGER
    // CHECKPOINT DISCIPLINE (ops/llm/Dedup.scala) so the degree
    // aggregation over the pair fan-out runs ONCE, not once per
    // consumer (unpinned, the plan executed it six times).
    val core = deg.filter(col("d") >= (minPts - 1).toLong)
      .select(col("src").as("id"))
      .localCheckpoint(true)
    val coreEdges = pairs
      .join(core.select(col("id").as("ca")), col("a") === col("ca"),
        "left_semi")
      .join(core.select(col("id").as("cb")), col("b") === col("cb"),
        "left_semi")
    val cc = Dedup.connectedComponents(coreEdges)
    // singleton cores never appear in coreEdges — they label themselves.
    // coreLab feeds the core-row output, borderLab's cluster lookup and
    // (transitively) the noise anti-join — checkpoint so the CC-label
    // join runs once (unpinned: four executions).
    val coreLab = core.join(cc, core("id") === cc("node"), "left")
      .select(core("id"), coalesce(cc("rep"), core("id")).as("cluster"))
      .localCheckpoint(true)
    val borderLab = nbr
      .join(coreLab.select(col("id").as("cid"), col("cluster")),
        col("dst") === col("cid"))
      .join(core.select(col("id").as("cx")), col("src") === col("cx"),
        "left_anti")
      .groupBy(col("src").as("id"))
      .agg(min(col("cluster")).as("cluster"))
    val labeled = coreLab.select(col("id"), lit("core").as("role"),
        col("cluster"))
      .unionByName(borderLab.select(col("id"), lit("border").as("role"),
        col("cluster")))
    val noise = v.select(col("id"))
      .join(labeled.select(col("id").as("lid")), col("id") === col("lid"),
        "left_anti")
      .select(col("id"), lit("noise").as("role"),
        lit(-1L).as("cluster"))
    labeled.unionByName(noise)
      .select(col("id").as("vec_id"), col("role"), col("cluster"))
  }

  /** Binary (sign-bit) quantization — the 32× compression tier below
    * int8 (L30): one bit per dimension, set iff the component is > 0,
    * packed into ceil(dim/32) 32-bit words carried as longs. Word w
    * holds dims [32w+1, 32w+32] with dim 32w+i at bit i−1, i.e.
    * word = Σ 2^(i−1)·[v_{32w+i} > 0] — a pure integer both engines
    * compute literally (the packing never touches a sign bit of the
    * long, so no overflow anywhere). Per-row projection, zero shuffle.
    * Output: (id, words array<long> of length ceil(dim/32)).
    */
  def binaryCodes(vectors: DataFrame, dim: Int = 64): DataFrame = {
    require(dim % 32 == 0, s"dim must pack whole 32-bit words, got $dim")
    val v = vectors.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
    val words = (0 until dim / 32).map { w =>
      // fold dims 32w+32 .. 32w+1 as acc*2 + bit = Σ bit_i · 2^(i−1)
      aggregate(sequence(lit(32), lit(1), lit(-1)), lit(0L),
        (acc, i) => acc * 2 +
          when(element_at(col("vec"), lit(32 * w) + i) > lit(0d), 1L)
            .otherwise(0L))
    }
    v.select(col("id"), array(words: _*).as("words"))
  }

  /** Hamming distance between two packed-word arrays (see
    * [[binaryCodes]]): Σ popcount(a_w XOR b_w).
    */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0L), (acc, x) => acc + x)

  /** Binary-code top-k: exact Hamming-distance ranking over the packed
    * sign bits — the coarse scan of a two-stage binary ANN, and (unlike
    * the LSH/IVF sketch entries) fully hash-certifiable: the codes, the
    * distances, and the (dist asc, id asc) ranking are all integers a
    * SQL oracle replays bit-for-bit.
    *
    * Scale shape: codes are dim/8 bytes per row (32× below float32), the
    * query side broadcasts, the corpus streams once computing XOR+popcount
    * scan-side, and the top-k is the two-phase WindowGroupLimit — each map
    * task ships k rows per query, never its scan. Output:
    * (qid, id, rnk, dist).
    */
  def hammingTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64): DataFrame = {
    val v = binaryCodes(vectors, dim).select(col("id"), col("words"))
    val q = binaryCodes(queries, dim)
      .select(col("id").as("qid"), col("words").as("qwords"))
    val scored = v.join(broadcast(q), col("id") =!= col("qid"))
      .withColumn("dist", hammingDist(col("words"), col("qwords")))
    graft.ops.TopK(scored, Seq("qid"), -scored("dist"), Seq(scored("id")),
        k)
      .select(col("qid"), col("id"), col("rnk"), col("dist"))
  }

  /** Two-stage binary ANN whose END-TO-END result is still exact-integer
    * deterministic: a Hamming shortlist over the packed sign bits
    * ([[hammingTopK]], `shortlist` candidates per query, ties on id) is
    * reranked by the exact micro-integer dot product
    * Σ round(q_i·10⁶)·round(c_i·10⁶) — both stages are literal integer
    * rules, so a SQL oracle replays the shortlist AND the rerank and the
    * full pipeline hash-matches (the property the LSH/IVF production
    * variants give up for speed).
    *
    * Scale shape: stage 1 is the 32×-compressed broadcast scan above;
    * stage 2 touches only |Q|·shortlist rows — the tiny shortlist
    * broadcasts back onto the corpus (equi-join on id), so full-precision
    * vectors are read once and only for candidates. Products ≤ 10¹²·dim
    * and sums ≤ 64·10¹² sit far inside both long and exact-double range.
    * Output: (qid, id, rnk, dist, score).
    */
  def hammingRerank(vectors: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int, dim: Int = 64): DataFrame = {
    val coarse = hammingTopK(vectors, queries, shortlist, dim)
      .select(col("qid"), col("id"), col("dist"))
    def micro(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.toDF("id", "vec").select(col("id").as(idAs),
        transform(col("vec").cast("array<double>"),
          x => round(x * 1e6).cast("long")).as(vecAs))
    val scored = micro(vectors, "id", "mv")
      .join(broadcast(coarse), "id")
      .join(broadcast(micro(queries, "qid", "qmv")), "qid")
      .withColumn("score",
        aggregate(zip_with(col("mv"), col("qmv"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
    graft.ops.TopK(scored, Seq("qid"), scored("score"), Seq(scored("id")),
        k)
      .select(col("qid"), col("id"), col("rnk"), col("dist"), col("score"))
  }
}
