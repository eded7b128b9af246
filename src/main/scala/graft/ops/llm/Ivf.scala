package graft.ops.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) similarity index — the standard ANN shape at
  * corpus scale: a small k-means coarse quantizer splits the corpus into
  * cells; a query scores only the `nprobe` nearest cells' vectors. The
  * index build and the search are both pure DataFrame ops: assignment is
  * a broadcast of the (tiny) centroid table, never a shuffle of the
  * corpus; search is an equi-join on cell id.
  *
  * Determinism: seeding picks the `nClusters` vectors with the smallest
  * id-digests (no RNG), Lloyd means are snapped to a 1e-6 grid (double
  * summation order must not leak into assignments), and every argmin/max
  * breaks ties on cell id via struct ordering.
  */
object Ivf {

  private def cosineTo(cvec: Column, vec: Column, nv: Column): Column =
    Similarity.dot(cvec, vec) / (Similarity.l2norm(cvec) * nv)

  /** Assign each (id, vec, nv) row to its best cell by cosine:
    * array_max over (score, cid) structs is deterministic under ties —
    * the same lexicographic order as the previous max(struct(_s, cid))
    * aggregate, evaluated on the same doubles.
    *
    * Shape: the old form broadcast-
    * joined every row against every centroid (×k row inflation) and
    * argmin'd back down through a struct aggregate — min/max over a
    * struct is not a mutable-buffer type, so it planned as
    * Sort+SortAggregate+Exchange+Sort+SortAggregate, with first(vec)
    * dragging the full embedding array through both sorts. Folding the
    * (tiny) centroid table into ONE broadcast array row and picking the
    * argmax per row keeps the corpus row count flat: zero exchanges,
    * zero sorts, no vector ever shuffles. |cvec| is precomputed per
    * centroid (was recomputed per joined row).
    *
    * PRECONDITION: `vectors` ids must be unique. The old
    * groupBy(id) aggregate implicitly collapsed duplicate ids to one
    * output row; the per-row argmin emits one row PER INPUT ROW, so a
    * caller feeding duplicated ids would double-weight Lloyd means in
    * fitCentroids and duplicate cell rows. Every internal caller feeds
    * a per-id table (corpus rows / persisted index rows).
    */
  private[llm] def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val cb = centroids.agg(sort_array(collect_list(struct(
      col("cid"), col("cvec"),
      Similarity.l2norm(col("cvec")).as("cn")))).as("cb"))
    vectors.join(broadcast(cb))
      .withColumn("_best", array_max(transform(col("cb"), e =>
        struct((Similarity.dot(e.getField("cvec"), col("vec"))
            / (e.getField("cn") * col("nv"))).as("_s"),
          e.getField("cid").as("cid")))))
      // empty centroid table: old inner join emitted no rows; array_max
      // over the empty array is null — keep the contract
      .filter(col("_best").isNotNull)
      .select(col("id"), col("_best").getField("cid").as("cid"),
        col("vec"), col("nv"))
  }

  /** Deterministic k-means-lite: digest-ordered seeding + `iters` Lloyd
    * rounds. Returns (cid, cvec).
    */
  def fitCentroids(vectors: DataFrame, nClusters: Int,
                   iters: Int): DataFrame = {
    val v = vectors.toDF("id", "vec")
      .withColumn("nv", Similarity.l2norm(col("vec")))
      // eager checkpoint: lazy + multi-branch consumers can deadlock Spark (see ops/llm/Dedup.scala "EAGER CHECKPOINT DISCIPLINE")
      .localCheckpoint(true)
    var centroids = v
      .withColumn("_h", sha2(col("id").cast("string"), 256))
      .orderBy(col("_h")).limit(nClusters)
      .select(row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("_h")))
        .as("cid"), col("vec").as("cvec"))
      .localCheckpoint(true)
    (1 to iters).foreach { _ =>
      val assigned = assign(v, centroids)
      centroids = snappedMean(assigned, Seq(col("cid")), "vec")
        .localCheckpoint(true)
    }
    centroids
  }

  /** One k-means update: the per-dimension mean `cvec` of the `vecCol`
    * vectors of each `keys` group, grid-snapped so summation order cannot
    * move the next pass's assignments.
    */
  private[llm] def snappedMean(assigned: DataFrame, keys: Seq[Column],
                               vecCol: String): DataFrame =
    assigned
      .select(keys :+ posexplode(col(vecCol)).as(Seq("dim", "x")): _*)
      .groupBy(keys :+ col("dim"): _*)
      .agg((round(avg(col("x")) * 1e6) / 1e6).as("m"))
      .groupBy(keys: _*)
      .agg(transform(
        sort_array(collect_list(struct(col("dim"), col("m")))),
        e => e.getField("m")).as("cvec"))

  /** IVF top-k: index build (quantizer + cell assignment), then each
    * query probes its `nprobe` best cells and exact-scores only those
    * cells' vectors. Output: (qid, id, rnk, score4).
    */
  def topK(vectors: DataFrame, queries: DataFrame, k: Int,
           nClusters: Int = 16, nprobe: Int = 4, iters: Int = 2)
      : DataFrame = {
    val centroids = fitCentroids(vectors, nClusters, iters)
    val v = vectors.toDF("id", "vec")
      .withColumn("nv", Similarity.l2norm(col("vec")))
    val cells = assign(v, centroids).localCheckpoint(true)
    val q = queries.toDF("qid", "qvec")
      .withColumn("nq", Similarity.l2norm(col("qvec")))
    val probes = q.join(broadcast(centroids))
      .withColumn("_s", cosineTo(col("cvec"), col("qvec"), col("nq")))
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("_s").desc, col("cid"))))
      .filter(col("_r") <= nprobe)
      .select(col("qid"), col("qvec"), col("nq"), col("cid"))
    val scored = cells.join(probes, Seq("cid"))
      .filter(col("id") =!= col("qid"))
      .withColumn("score", Similarity.cosine(col("qvec"), col("vec"),
        col("nq"), col("nv")))
    Similarity.topKByQuery(scored, k)
      .select(col("qid"), col("id"), col("rnk"),
        round(col("score"), 4).as("score4"))
  }

  /** Digest-seeded int8 coarse quantizer from a prepared codes table
    * (id, cv): the `nClusters` vectors with the smallest sha256(id)
    * digests, with their integer squared norms. Shared by the batch
    * search ([[int8TopKExact]]) and the streaming index maintenance
    * ([[int8Quantizer]]) so the two can never drift.
    */
  private def seededCentroids(codes: DataFrame,
                              nClusters: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    codes
      .withColumn("_h", sha2(col("id").cast("string"), 256))
      .orderBy(col("_h")).limit(nClusters)
      .select(row_number().over(w.orderBy(col("_h"))).as("cid"),
        col("cv").as("cc"))
      // greatest(,1): an all-zero seed vector has |c|²=0; its dot is then
      // 0 too, so the clamp only avoids 0/0 without moving any score
      .withColumn("cn2", greatest(
        Similarity.dot(col("cc"), col("cc")).cast("long"), lit(1L)))
  }

  private def cellScore(codes: Column): Column = {
    val d = Similarity.dot(codes, col("cc")).cast("long")
    (d * abs(d)).cast("double") / col("cn2")
  }

  /** Exact int8 cell assignment of a prepared codes table (id, cv, mxv)
    * against a (cid, cc, cn2) centroid table: sign-preserving dot²/|c|²
    * affinity, ties on cid. The centroid table broadcasts — assignment
    * never shuffles the vectors.
    */
  private def int8AssignExact(codes: DataFrame,
                              cents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    codes.join(broadcast(cents))
      .withColumn("_s", cellScore(col("cv")))
      .withColumn("_r", row_number().over(
        w.partitionBy(col("id")).orderBy(col("_s").desc, col("cid"))))
      .filter(col("_r") === 1)
      .select(col("cid"), col("id"), col("cv"), col("mxv"))
  }

  /** The persisted-quantizer half of the streaming IVF maintenance:
    * (cid, cc, cn2) built once from the accumulated corpus. Callers
    * checkpoint it and hand it to [[int8CellIds]] per delta batch.
    */
  def int8Quantizer(vectors: DataFrame, nClusters: Int = 16): DataFrame =
    seededCentroids(Similarity.corpusCodes(vectors), nClusters)

  /** Delta assignment against a persisted quantizer: (id, cid) for each
    * incoming vector — per-row deterministic (independent of how rows
    * batch), which is what makes the streaming drain equal the batch
    * replay bit-for-bit.
    */
  def int8CellIds(vectors: DataFrame, cents: DataFrame): DataFrame =
    int8AssignExact(Similarity.corpusCodes(vectors), cents)
      .select(col("id"), col("cid"))

  /** The two tables that ARE the int8 IVF index — the digest-seeded
    * quantizer (cid, cc, cn2) and the corpus cell assignments
    * (cid, id, cv, mxv). Persist both — the assignments bucketed on
    * cid, the probe-join key, via `Sinks.writeBucketed` — and a later
    * session serves [[int8TopKFromIndex]] without re-coding or
    * re-assigning the corpus: the production "load the index, don't
    * rebuild it" contract the MinHash tier already has
    * (`Dedup.minhashIndex`).
    */
  def int8Index(vectors: DataFrame,
                nClusters: Int = 16): (DataFrame, DataFrame) = {
    val v = Similarity.corpusCodes(vectors)
      .localCheckpoint(true) // branches: seeds + assignment
    val cents = seededCentroids(v, nClusters)
    (cents, int8AssignExact(v, cents))
  }

  /** IVF search served ENTIRELY from a stored index — row-identical to
    * [[int8TopKExact]] on the corpus the index was built from
    * (spec-asserted): queries int8-code live, probe the broadcast
    * quantizer for their `nprobe` best cells, and score only those
    * cells' STORED code rows. When the assignments table was written
    * bucketed on cid, the probe join reads pre-bucketed scans.
    */
  def int8TopKFromIndex(cents: DataFrame, assigned: DataFrame,
                        queries: DataFrame, k: Int,
                        nprobe: Int = 4): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val q = Similarity.queryCodes(queries)
    val probes = q.join(broadcast(cents))
      .withColumn("_s", cellScore(col("cq")))
      .withColumn("_r", row_number().over(
        w.partitionBy(col("qid")).orderBy(col("_s").desc, col("cid"))))
      .filter(col("_r") <= nprobe)
      .select(col("cid"), col("qid"), col("cq"), col("mxq"))
    Similarity.int8TopKByQuery(assigned.join(probes, Seq("cid"))
      .filter(col("id") =!= col("qid")), k)
  }

  /** Bit-deterministic IVF search — the hash-verifiable twin of `topK`:
    * every arithmetic step is either exact integer or a single correctly
    * rounded IEEE op on exact integers, so the result is engine-portable
    * (same rows in Spark and DuckDB), unlike float-cosine ANN.
    *
    *  - corpus and queries are int8-quantized (`Similarity.int8Codes`,
    *    the oracle-checked q_quantize scheme);
    *  - the coarse quantizer is seeded, not fitted: cells are the
    *    `nClusters` corpus vectors with the smallest sha256(id) digests
    *    (deterministic, SQL-expressible — Lloyd iterations would need
    *    order-dependent float means);
    *  - cell affinity: cos(v,c) on int8 codes = dot/(|v||c|) — the
    *    dequant scales cancel, |v| is constant per row, so ranking cells
    *    by sign-preserving dot²/|c|² is exact; the one double division is
    *    of exact sub-2^53 integers (correctly rounded → bit-identical
    *    across engines), ties broken on cid;
    *  - final score: integer code-dot × both dequant scales (BIGINT),
    *    exactly q_similarity_int8's scoring, restricted to the query's
    *    `nprobe` best cells.
    *
    * Scale shape: the centroid table (nClusters rows) broadcasts to both
    * assignment and probe sides; the corpus shuffles once, on cell id,
    * into the probe join; TopK is two-phase WindowGroupLimit.
    */
  def int8TopKExact(vectors: DataFrame, queries: DataFrame, k: Int,
                    nClusters: Int = 16, nprobe: Int = 4): DataFrame = {
    val (cents, assigned) = int8Index(vectors, nClusters)
    int8TopKFromIndex(cents, assigned, queries, k, nprobe)
  }
}
