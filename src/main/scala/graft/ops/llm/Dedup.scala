package graft.ops.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline tier.
  *
  * Three tiers, all bucketed (never all-pairs) so they survive 100 TB:
  *  - exact: group by sha256 of normalized text — the shuffle key is a fixed
  *    32-byte digest, not the document body, so a 100 MB document costs the
  *    same shuffle bytes as a tweet;
  *  - exact n-gram Jaccard: inverted-index join (shingle → docs) — only
  *    pairs sharing ≥1 shingle are compared. Jaccard thresholds are integer
  *    cross-multiplications (`inter*den >= uni*num`), never float division,
  *    so results hash-match the DuckDB oracle exactly;
  *  - MinHash + banded LSH: per-doc k signatures, banded into `bands`
  *    buckets; only same-bucket docs become candidates, then candidates are
  *    verified with exact Jaccard. Candidate volume is controlled by (k,
  *    bands) — the standard S-curve — independent of corpus size.
  *
  * Hash choice: MinHash signatures use sha256, which is bit-identical in
  * Spark and DuckDB, so every signature-derived result is oracle-checked.
  */
object Dedup {

  /** Exact dedup: (text_sha, keep_id = min id, n_dups) per distinct
    * normalized text. Survivors are `keep_id`; `n_dups-1` rows drop.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(TextOps.normalized(df(textCol)), 256).as("text_sha"))
      .agg(min(df(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The exact pair miners' front end: each doc's distinct `n`-word
    * shingle set `(doc, shs, n_)`, eagerly checkpointed, and its postings
    * `(doc, n_, g)`.
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
                          n: Int): (DataFrame, DataFrame) = {
    // materialize the shingle sets once: the plan branches (postings →
    // dfreq, prefix, and both verify sides) would otherwise each re-run
    // the tokenize+shingle pass, which dominates the query. localCheckpoint
    // truncates the lineage so every branch reads the computed blocks.
    // The repartition first: a small parquet input arrives as ~1 scan
    // partition, which would run the expensive shingle pass on one core —
    // shuffling the raw text is trivial by comparison.
    //
    // EAGER CHECKPOINT DISCIPLINE (repo-wide): every localCheckpoint
    // whose result feeds more than one plan branch uses eager=true. A
    // *lazy* checkpoint handed to a multi-consumer plan can deadlock
    // inside Spark itself: dag-scheduler-event-loop takes the checkpoint
    // RDD's monitor (DAGScheduler.getCacheLocs) and then waits for the
    // global RDDCheckpointData$ class lock, while an AQE
    // broadcast-exchange thread — materializing the checkpoint as a side
    // effect of its own job — holds RDDCheckpointData$ (RDD.doCheckpoint)
    // and waits for that RDD's monitor (markCheckpointed). Lock-order
    // inversion, permanent hang; jstack-confirmed on
    // editDistancePairs below. eager=true materializes the blocks under
    // a single job BEFORE any fan-out, so no consumer ever races the
    // checkpoint — same single scan, paid deterministically.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val withSet = df.select(df(idCol).as("doc"), df(textCol).as("_t"))
      .repartition(par)
      .select(col("doc"), TextOps.shingleSet(col("_t"), n).as("shs"))
      .withColumn("n_", size(col("shs")))
      .localCheckpoint(true)
    val post = withSet.select(col("doc"), col("n_"),
      explode(col("shs")).as("g"))
    (withSet, post)
  }

  /** Candidate pairs `(a, b)` joined to both docs' shingle sets `sa`, `sb`.
    */
  private def withSetsAB(cand: DataFrame, withSet: DataFrame): DataFrame = {
    val sets = withSet.select(col("doc"), col("shs"))
    cand
      .join(sets.toDF("a", "sa"), "a")
      .join(sets.toDF("b", "sb"), "b")
  }

  private def interAB: Column = size(array_intersect(col("sa"), col("sb")))

  /** Pairs (a < b) whose distinct n-word-shingle Jaccard >= num/den.
    * Output: (a, b, inter, uni) — jaccard = inter/uni. Exact, via
    * PPJoin-style prefix filtering:
    *
    *  1. global shingle order = (document frequency asc, shingle) —
    *     rarest first;
    *  2. a pair with J >= τ has overlap >= ⌈τ·|A|⌉, so (pigeonhole) its
    *     prefix of length p = |A| - ⌈τ·|A|⌉ + 1 in that order must contain
    *     a shared shingle — only prefix postings are indexed, and the join
    *     meets mostly on RARE shingles (tiny buckets);
    *  3. size-ratio prune in the join condition
    *     (J <= min(|A|,|B|)/max(|A|,|B|));
    *  4. candidates verified exactly with `array_intersect` on the full
    *     sets.
    *
    * Provably the same result as the naive inverted-index join (which the
    * DuckDB oracle runs), at a fraction of the join volume — the property
    * that lets exact near-dup mining survive web-scale corpora.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, num: Int, den: Int): DataFrame = {
    val (withSet, post) = shingleSets(df, idCol, textCol, n)
    // document frequency per shingle as a WINDOW count, not groupBy+join:
    // the join form shuffles the full postings table twice (once into the
    // agg, once into the join) plus the dfreq side; the window form is ONE
    // exchange of the postings on g. The df table also grows with the
    // corpus (distinct shingles), so there is no broadcast escape hatch at
    // scale — removing the join removes that whole axis.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
    // prefix length p = n - ceil(n*num/den) + 1 (integer-exact via doubles
    // for these magnitudes)
    val p = (col("n_") - ceil(col("n_") * num / lit(den.toDouble)) + 1)
      .cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(col("df_"), col("g"))
    val prefix = post.withColumn("df_", count(lit(1)).over(wg))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= p)
    val l = prefix.select(col("doc").as("a"), col("n_").as("na"), col("g"))
    val r = prefix.select(col("doc").as("b"), col("n_").as("nb"),
      col("g").as("g2"))
    val cand = l.join(r,
        l("g") === r("g2") && col("a") < col("b") &&
          least(col("na"), col("nb")) * den >=
            greatest(col("na"), col("nb")) * num)
      .select("a", "b").distinct()
    withSetsAB(cand, withSet)
      .select(col("a"), col("b"), interAB.as("inter"),
        (size(col("sa")) + size(col("sb")) - interAB).as("uni"))
      .filter(col("inter") * den >= col("uni") * num)
  }

  /** Containment (asymmetric-Jaccard) pair mining: (a, b) where
    * |A∩B| / |A| >= num/den — doc a is (nearly) CONTAINED in doc b. The
    * excerpt/quote/subset-duplicate signal that symmetric Jaccard misses:
    * a paragraph quoted inside a much larger page has tiny Jaccard but
    * containment ~1.
    *
    * Exact via a containment-adapted prefix filter: order each doc's
    * shingles by global rarity (df asc, shingle asc); if B shares NONE of
    * A's floor((1-t)|A|)+1 rarest shingles then |A∩B| <= |A| - p < t|A|,
    * so joining only that prefix against the full posting table is a
    * LOSSLESS prune (same soundness argument as PPJoin, with the t|A|
    * bound replacing the symmetric one). A size prune rides on the join:
    * |A∩B| <= |B| forces |B| >= t|A| for any qualifying pair. Exact
    * verification then scores candidates on the
    * materialized shingle sets. One window exchange for df (no
    * groupBy+join-back), rare-shingle postings keep the candidate join
    * short. Output (a, b, inter, na), asymmetric — both directions can
    * appear, and for exact duplicates both do.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, num: Int = 9, den: Int = 10)
      : DataFrame = {
    val (withSet, post) = shingleSets(df, idCol, textCol, n)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(col("df_"), col("g"))
    val p = (col("n_") - ceil(col("n_") * num / lit(den.toDouble)) + 1)
      .cast("int")
    val withDf = post.withColumn("df_", count(lit(1)).over(wg))
    val prefix = withDf.withColumn("rk", row_number().over(wd))
      .filter(col("rk") <= p)
      .select(col("doc").as("a"), col("n_").as("na"), col("g"))
    val full = withDf.select(col("doc").as("b"), col("n_").as("nb"),
      col("g").as("g2"))
    val cand = prefix.join(full,
        prefix("g") === full("g2") && col("a") =!= col("b") &&
          col("nb") * den >= col("na") * num)
      .select("a", "b").distinct()
    withSetsAB(cand, withSet)
      .select(col("a"), col("b"), interAB.as("inter"),
        size(col("sa")).as("na"))
      .filter(col("inter") * den >= col("na") * num)
  }

  /** Bounded-output containment mining: the full pair
    * list of [[containmentPairs]] is output-linear in the TRUE pair
    * count, which an adversarial corpus (a giant mutual-containment
    * family) makes quadratic — at 100 TB the run cost becomes pair
    * materialization itself. This variant keeps, per contained doc `a`,
    * only its `k` strongest containers (inter desc, b asc — the
    * WindowGroupLimit cut of `knnGraph`, map-side-limited in both
    * phases), so output is <= k rows per doc no matter how degenerate
    * the corpus. Candidate generation and verification are unchanged —
    * the cap bounds what is EMITTED, the plan's intermediate volume is
    * already bounded by the prefix filter. Output (a, b, rnk, inter, na).
    */
  def containmentTopK(df: DataFrame, idCol: String, textCol: String,
                      k: Int, n: Int = 3, num: Int = 9, den: Int = 10)
      : DataFrame = {
    val p = containmentPairs(df, idCol, textCol, n, num, den)
    graft.ops.TopK(p, Seq("a"), p("inter"), Seq(p("b")), k)
      .select(col("a"), col("b"), col("rnk"), col("inter"), col("na"))
  }

  /** Sorted-neighborhood near-dup mining (the merge/purge blocking
    * strategy of Hernández & Stolfo 1995, blocked variant): docs are
    * ordered by a similarity-preserving canonical key — the sorted
    * distinct token list — and only rows within `win` positions of each
    * other become candidates, verified with exact shingle Jaccard >=
    * num/den. Complementary to the LSH/PPJoin miners: candidate count is
    * exactly win×N regardless of how skewed shingle frequencies are.
    *
    * Scale: the order is maintained PER key-prefix block (`prefixLen`
    * chars), so the neighborhood is a block-partitioned lead() window —
    * never a global single-reducer sort. The tradeoff (near-dups whose
    * keys straddle a block boundary are missed) is the standard
    * blocked-SNM recall contract; on the test corpus it mines 12 of
    * PPJoin's 25 exhaustive pairs. Output (a, b, inter, uni), a < b.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, win: Int = 3, prefixLen: Int = 8,
                              num: Int = 8, den: Int = 10): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base = df.select(df(idCol).as("doc"), df(textCol).as("_t"))
      .repartition(par)
      .select(col("doc"),
        array_join(array_sort(array_distinct(TextOps.tokens(col("_t")))),
          " ").as("skey"),
        TextOps.shingleSet(col("_t"), n).as("sh"))
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(substring(col("skey"), 1, prefixLen))
      .orderBy(col("skey"), col("doc"))
    val cand = base
      .select(col("doc").as("x"),
        array((1 to win).map(j =>
          lead(col("doc"), j).over(w)): _*).as("nbrs"))
      .select(col("x"), explode(col("nbrs")).as("y"))
      .filter(col("y").isNotNull)
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    verifyPairs(cand, base, num, den)
  }

  /** One sha256 per shingle; the k minhash families are disjoint 32-bit
    * (8-hex-char) substrings of that single digest — the standard
    * one-hash/split-bits trick, k× cheaper than salting k digests.
    * Oracle-parity (sha256 + substr exist in DuckDB).
    */
  def shingleHashes(shingleSet: Column): Column =
    transform(shingleSet, sh => sha2(sh, 256))

  /** MinHash signature j: min over the j-th 8-hex chunk of each shingle
    * digest (j < 8 for sha256's 64 hex chars).
    */
  def minhashSig(hashes: Column, j: Int): Column =
    array_min(transform(hashes, h => substring(h, j * 8 + 1, 8)))

  /** Shared MinHash front-end: shingle sets (base: doc, sh [, extra
    * carried columns]) and the exploded band-bucket table (banded: doc,
    * band, bkey [, extras]). `base` is materialized once — the banding
    * branch and both verify sides reuse the computed shingle sets instead
    * of re-shingling; repartitioned first for scan-parallelism (see
    * ngramJaccardPairs).
    */
  private def minhashBands(df: DataFrame, idCol: String, textCol: String,
                           n: Int, bands: Int, extra: Seq[String])
      : (DataFrame, DataFrame, DataFrame) = {
    require(2 * bands <= 8, "sha256 yields 8 distinct 32-bit families")
    val extraCols = extra.map(col)
    val base = df
      .select(df(idCol).as("doc") +: df(textCol).as("_t") +: extraCols: _*)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc") +: TextOps.shingleSet(col("_t"), n).as("sh")
        +: extraCols: _*)
      .localCheckpoint(true)
    val hashed = base.withColumn("hs", shingleHashes(col("sh")))
    val sigCols = (0 until 2 * bands).map(j =>
      minhashSig(col("hs"), j).as(s"sig$j"))
    val sigs = hashed.select(col("doc") +: sigCols ++: extraCols: _*)
    val bandKeys = array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        concat(col(s"sig${2 * b}"), col(s"sig${2 * b + 1}")).as("bkey"))): _*)
    val banded = sigs
      .select(col("doc") +: explode(bandKeys).as("bk") +: extraCols: _*)
      .select(col("doc") +: col("bk.band").as("band")
        +: col("bk.bkey").as("bkey") +: extraCols: _*)
    (base, sigs, banded)
  }

  /** Exact-Jaccard verification of candidate pairs (a, b) against the
    * materialized shingle sets; keeps pairs with jaccard >= num/den.
    */
  private def verifyPairs(cand: DataFrame, base: DataFrame,
                          num: Int, den: Int): DataFrame = {
    withShingles(cand, base)
      .select(col("a"), col("b"), interSh.as("inter"), uniSh.as("uni"))
      .filter(col("inter") * den >= col("uni") * num)
  }

  /** Candidate pairs `(a, b)` joined to both docs' MinHash-base shingle
    * arrays `sh_a`, `sh_b`.
    */
  private def withShingles(cand: DataFrame, base: DataFrame): DataFrame =
    cand
      .join(base.select(col("doc").as("a"), col("sh").as("sh_a")), "a")
      .join(base.select(col("doc").as("b"), col("sh").as("sh_b")), "b")

  private def interSh: Column =
    size(array_intersect(col("sh_a"), col("sh_b")))
  private def uniSh: Column = size(col("sh_a")) + size(col("sh_b")) - interSh

  /** Banded-bucket candidate mining + exact verify — the shared back half
    * of every MinHash query (minhashDedup and minhashCalibration must see
    * the IDENTICAL pair set, so they share this by construction).
    */
  private def minePairs(base: DataFrame, banded: DataFrame,
                        num: Int, den: Int): DataFrame = {
    val l = banded.toDF("a", "band", "bkey")
    val r = banded.toDF("b", "band2", "bkey2")
    val cand = l.join(r,
        l("band") === r("band2") && l("bkey") === r("bkey2") &&
          l("a") < r("b"))
      .select("a", "b").distinct()
    verifyPairs(cand, base, num, den)
  }

  /** MinHash+LSH near-dup pairs: k=2*bands sha256 signatures, banded r=2,
    * candidates from same-(band, bandkey) buckets, verified with exact
    * shingle Jaccard >= num/den. Output (a, b, inter, uni).
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, bands: Int = 4, num: Int = 8, den: Int = 10)
      : DataFrame = {
    val (base, _, banded) =
      minhashBands(df, idCol, textCol, n, bands, Nil)
    minePairs(base, banded, num, den)
  }

  /** [[minhashDedup]] plus the signature table it mined from — ONE
    * shingle/banding pass serves both outputs (pairs and sigs chain off
    * the same checkpointed base). The signature table is what a
    * downstream calibration ([[minhashCalibrationFrom]]) or a persisted
    * signature index needs alongside the pairs; callers that share the
    * mining across several consumers (see queries.SharedBases) take this
    * instead of running minhashDedup and minhashCalibration separately.
    */
  def minhashDedupWithSigs(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, bands: Int = 4,
                           num: Int = 8, den: Int = 10)
      : (DataFrame, DataFrame) = {
    val (base, sigs, banded) =
      minhashBands(df, idCol, textCol, n, bands, Nil)
    (minePairs(base, banded, num, den), sigs)
  }

  /** Calibration over PREBUILT pairs + signatures (the composable half of
    * [[minhashCalibration]]): per verified pair, signature-implied
    * Jaccard estimate vs exact Jaccard, both integer permille. `pairs`
    * must carry (a, b, inter, uni) and `sigs` (doc, sig0..sig{2·bands-1})
    * from the SAME mining pass, or the estimate pairs up with the wrong
    * signatures.
    */
  def minhashCalibrationFrom(pairs: DataFrame, sigs: DataFrame,
                             bands: Int): DataFrame = {
    val k = 2 * bands
    val segs = 0 until k
    val sa = sigs.select(col("doc").as("a") +:
      segs.map(j => col(s"sig$j").as(s"sa$j")): _*)
    val sb = sigs.select(col("doc").as("b") +:
      segs.map(j => col(s"sig$j").as(s"sb$j")): _*)
    val matches = segs.map(j =>
      when(col(s"sa$j") === col(s"sb$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"),
        floor(matches.cast("long") * 1000L / k).cast("long")
          .as("est_permille"),
        expr("(CAST(inter AS BIGINT) * 1000) div uni").cast("long")
          .as("jac_permille"))
  }

  /** Estimator-calibration view: for every LSH-verified pair, the Jaccard
    * ESTIMATE implied by the MinHash signatures (matching 32-bit families /
    * total, in permille) next to the exact Jaccard — the query that tells
    * you whether (k, bands) is tuned right before trusting the estimate at
    * full scale. Output: (a, b, est_permille, jac_permille). The signature
    * table chains off the same checkpointed shingle base as the pair
    * mining, so the corpus is shingled exactly once.
    */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, bands: Int = 4,
                         num: Int = 8, den: Int = 10): DataFrame = {
    val (pairs, sigs) =
      minhashDedupWithSigs(df, idCol, textCol, n, bands, num, den)
    minhashCalibrationFrom(pairs, sigs, bands)
  }

  /** LSH k-NN document graph: each doc's `k` most-similar neighbors
    * among its banded-LSH bucket collisions, ranked by exact shingle
    * Jaccard in integer ppm (ties → lower neighbor id). The shape
    * semantic clustering / curriculum ordering / near-dup exploration
    * needs: unlike [[minhashDedup]] there is NO similarity threshold —
    * every bucket collision is a candidate edge, and ranking keeps the
    * best k per doc in BOTH directions (the graph is directed; x can be
    * y's nearest neighbor without the converse).
    *
    * Scale shape: candidates are the same banded bucket equi-join as the
    * dedup miner (a doc meets only its bucket mates, never the corpus);
    * per-doc degree is bounded by bucket sizes; the top-k cut is the
    * two-phase WindowGroupLimit. Docs with no collision have no rows —
    * the graph covers the LSH-connected subset by construction.
    * Output: (doc_id, nbr_id, rnk, inter, uni, jac_ppm).
    *
    * Hot-bucket guard: unlike threshold dedup (where verification
    * prunes), a kNN graph has NO threshold, so one degenerate bucket — a
    * giant near-dup family, spam mirrors, boilerplate — would go
    * quadratic before the top-k cut. Buckets over `maxBucket` therefore
    * contribute only `maxBucket` deterministically-sampled join partners
    * (ranked by a stable hash of (band, bkey, doc)): candidate volume is
    * Σ|bucket|·min(|bucket|, maxBucket), every doc still appears on the
    * probe side so nobody loses coverage, and the recall cost is bounded
    * to oversize buckets — inside a near-dup family any `maxBucket`-
    * sample of mates is near-interchangeable for ranking. The default is
    * far above organic bucket sizes (it only exists to stop adversarial
    * skew), so results are identical on normal corpora.
    */
  def knnGraph(df: DataFrame, idCol: String, textCol: String, k: Int,
               n: Int = 3, bands: Int = 4,
               maxBucket: Int = 4096): DataFrame = {
    val scored = knnWithShingles(df, idCol, textCol, n, bands, maxBucket)
      .select(col("a").as("doc_id"), col("b").as("nbr_id"),
        interSh.as("inter"), uniSh.as("uni"))
      .withColumn("jac_ppm",
        expr("(CAST(inter AS BIGINT) * 1000000) div uni"))
    graft.ops.TopK(scored, Seq("doc_id"), scored("jac_ppm"),
        Seq(scored("nbr_id")), k)
      .select(col("doc_id"), col("nbr_id"), col("rnk"),
        col("inter"), col("uni"), col("jac_ppm"))
  }

  /** Undirected distinct LSH candidate pairs (a < b): the banded bucket
    * self-join the near-dup family mines, exposed as a graph substrate
    * for whole-graph analytics (k-core). Same hot-bucket cap as
    * knnGraph — candidate volume is Σ|bucket|·min(|bucket|, cap),
    * never n².
    */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, bands: Int = 4,
                     maxBucket: Int = 4096): DataFrame = {
    val (_, _, banded) = minhashBands(df, idCol, textCol, n, bands, Nil)
    knnCandidates(banded, maxBucket)
      .select(least(col("a"), col("b")).as("na"),
        greatest(col("a"), col("b")).as("nb"))
      .distinct()
      .select(col("na").as("a"), col("nb").as("b"))
  }

  /** Capped candidate generation for the kNN graph: the banded bucket
    * self-join, with the RIGHT side of each (band, bkey) bucket limited
    * to `maxBucket` members picked by rank of xxhash64(band, bkey, doc)
    * (doc as tie-break — fully deterministic under any partitioning).
    * The left (probe) side keeps every member, so each doc still
    * receives candidates; only its choice of partners inside an
    * oversized bucket is sampled. Candidates per bucket:
    * |bucket| · min(|bucket|, maxBucket) instead of |bucket|².
    *
    * Cap observability: sampling inside oversize buckets is
    * a recall decision that must never be silent — the observed metric
    * `graft_knn_bucket_cap.n_buckets_at_cap` (a `Dataset.observe`
    * CollectMetrics node: exactly one surviving row per at-cap bucket
    * carries rank == maxBucket) reports per-run how many buckets hit the
    * cap. It is emitted on every run, but no main-code listener reads it
    * yet (ROADMAP #3); today only specs do. The metric counts buckets of
    * size >= maxBucket — a bucket of EXACTLY maxBucket rows is counted
    * though nothing was dropped (the boundary over-report is the price
    * of keeping the CollectMetrics node ABOVE the rank filter, where it
    * cannot break the Filter-over-Window adjacency that
    * InferWindowGroupLimit needs to map-side-limit the cap itself —
    * plan-asserted in PlanAuditSpec).
    */
  private[llm] def knnCandidates(banded: DataFrame,
                                 maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be at least 1")
    val l = banded.toDF("a", "band", "bkey")
    val r = capPartners(banded.toDF("b", "band2", "bkey2"),
      Seq("band2", "bkey2"), "b", maxBucket)
    l.join(r,
        l("band") === r("band2") && l("bkey") === r("bkey2") &&
          l("a") =!= r("b"))
      .select("a", "b").distinct()
  }

  /** The partner side of a capped bucket join: at most `maxBucket` rows
    * of `r` per `keys` bucket, ranked by a stable hash of (bucket, `id`),
    * with the cap metric of [[knnCandidates]].
    */
  private[llm] def capPartners(r: DataFrame, keys: Seq[String], id: String,
                               maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(xxhash64((keys :+ id).map(col): _*), col(id))
    r.withColumn("_br", row_number().over(w))
      .filter(col("_br") <= maxBucket)
      .observe("graft_knn_bucket_cap",
        count(when(col("_br") === maxBucket, true))
          .as("n_buckets_at_cap"))
      .drop("_br")
  }

  /** [[knnCandidates]] over `df`'s MinHash bands, joined to both docs'
    * shingle arrays (see [[withShingles]]).
    */
  private def knnWithShingles(df: DataFrame, idCol: String, textCol: String,
                              n: Int, bands: Int,
                              maxBucket: Int): DataFrame = {
    val (base, _, banded) = minhashBands(df, idCol, textCol, n, bands, Nil)
    withShingles(knnCandidates(banded, maxBucket), base)
  }

  /** Audit of the hot-bucket-cap assumption the capped candidate family's
    * ORACLES rely on: the DuckDB twins of q_kcore /
    * q_single_linkage / the kNN-graph tier mine LSH buckets UNCAPPED,
    * while the Spark side samples partners inside buckets over
    * `maxBucket` — the two engines diverge exactly when a (band, bkey)
    * bucket reaches the cap. This measures that precondition directly:
    * the number of buckets at or over the cap in the corpus's banding
    * (0 on all gate data; organic buckets are orders of magnitude below
    * the cap). Verify promotes it into bounds.json via BoundChecks so a
    * capped bucket fails the artifact loudly instead of surfacing as an
    * unexplained hash mismatch.
    */
  def bucketCapAudit(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, bands: Int = 4,
                     maxBucket: Int = 4096): Long = {
    val (_, _, banded) = minhashBands(df, idCol, textCol, n, bands, Nil)
    banded.groupBy("band", "bkey").agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= maxBucket).count()
  }

  /** Sparse TF-IDF cosine k-NN graph — the classic sparse-retrieval
    * ranker (lexical term vectors, idf-weighted) served as a bounded
    * ANN graph: [[knnCandidates]]' capped LSH-bucket front-end proposes
    * partners, then each candidate pair is scored EXACTLY by the cosine
    * of the two docs' integer TF-IDF term vectors. This is the hybrid-
    * retrieval production shape — candidate generation by cheap
    * signatures, exact re-scoring by a different (weighted) measure —
    * and the lexical complement of `Similarity.knnGraphExactInt`'s
    * dense-embedding graph: the two feed q_rrf_fusion-style ensembles.
    *
    * Exactness discipline: weights are integer tf × ln-quantized idf
    * (round(1e4·ln(N/df)) — the q_nb_train ln discipline, both engines
    * round the same IEEE double); dot products and squared norms are
    * then exact BIGINT sums (order-independent under any shuffle);
    * only the final cosine touches doubles — sqrt of an exact integer,
    * one mirrored division, micro-quantized. Terms with df = N carry
    * idf 0 and are dropped BEFORE the pair join: they contribute
    * nothing to any dot product but would multiply the join width by
    * the stopword postings (the sparse-retrieval stopword cut, made
    * exact by the quantizer). Overflow bound: |wt| ≤ tf·ln(N)·1e4, so
    * BIGINT dot products hold to ~10⁶-token docs at web-corpus N;
    * beyond that, rescale the idf quantum.
    *
    * Scale shape: the candidate join is the capped bucket equi-join
    * (never corpus×corpus); pair scoring is SCAN-SIDE — each doc's
    * postings are packed once into a term-sorted (t, w) array, pairs
    * fetch the two payloads by doc-key joins, and a codegen sorted-merge
    * dot ([[graft.functions.SparseDot]]) scores each pair in one
    * O(|a|+|b|) pass. This is the same packed-payload shape as the
    * containment/edit siblings — the earlier pair×term explosion
    * (a (doc, term) shuffle + pair re-aggregation) grew 230× at 128×
    * replication while the siblings grew 62–85×; the packed form
    * removes that intermediate entirely. Norms ride the same packing
    * aggregate; the top-k cut is the two-phase WindowGroupLimit.
    * Output: (doc_id, nbr_id, rnk, cos_micro).
    */
  /** One packed row per doc `(doc, ent, n2)`: the term-sorted TF-IDF
    * postings array the sorted-merge [[graft.functions.SparseDot]]
    * consumes (weight tf·round(10⁴·ln(N/df)), zero weights cut) and the
    * squared norm off the same aggregate.
    */
  private[graft] def tfidfPacked(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame = {
    val tok = df.select(df(idCol).as("doc"),
      explode(TextOps.tokens(df(textCol))).as("term"))
    val tf = tok.groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy("term").agg(countDistinct("doc").as("df"))
    // corpus size folded in as a 1-row broadcast aggregate (the
    // q_scalar_subquery shape) — no driver-side count action
    val n1 = df.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n1))
      .select(col("doc"), col("term"),
        (col("tf") * round(lit(10000) *
            log(col("n_docs").cast("double") / col("df").cast("double")))
          .cast("long")).as("wt"))
      .filter(col("wt") =!= 0)
      .groupBy("doc")
      .agg(graft.functions.SparseDot.packPostings(
          col("term"), col("wt")).as("ent"),
        sum(col("wt") * col("wt")).as("n2"))
  }

  /** Cosine of a packed pair's `dot` over its squared norms `na2`, `nb2`,
    * in micro units. */
  private[graft] def cosMicro: Column =
    round(lit(1000000) * col("dot").cast("double") /
        (sqrt(col("na2").cast("double")) *
         sqrt(col("nb2").cast("double"))))
      .cast("long")

  def tfidfKnnGraph(df: DataFrame, idCol: String, textCol: String, k: Int,
                    n: Int = 3, bands: Int = 4,
                    maxBucket: Int = 4096): DataFrame = {
    val (_, _, banded) = minhashBands(df, idCol, textCol, n, bands, Nil)
    val cand = knnCandidates(banded, maxBucket)
    // The packed table feeds BOTH sides of the pair join — without a
    // checkpoint the tf/df/N subtree re-scans and re-shuffles the corpus
    // per branch (EAGER CHECKPOINT DISCIPLINE above; the q_dbscan_ann
    // lesson)
    val packed = tfidfPacked(df, idCol, textCol).localCheckpoint(true)
    // shuffle_hash on the packed lookups: the doc-key joins ship the
    // packed postings payloads, and the default sort-merge strategy
    // SORTS the pair×payload stream on the join key — at 128×
    // replication that sort OOMs on rows it never needed ordered. A
    // shuffled-hash join builds the (bounded, one-row-per-doc) packed
    // side per partition and streams the pairs unsorted; at gate scale
    // AQE still promotes the small build side to broadcast, so the
    // production plan shape (broadcast lookups, PlanAuditSpec) is
    // unchanged.
    val scored = cand
      .join(packed.select(col("doc").as("a"), col("ent").as("ea"),
        col("n2").as("na2")).hint("shuffle_hash"), "a")
      .join(packed.select(col("doc").as("b"), col("ent").as("eb"),
        col("n2").as("nb2")).hint("shuffle_hash"), "b")
      .select(col("a"), col("b"),
        graft.functions.SparseDot(col("ea"), col("eb")).as("dot"),
        col("na2"), col("nb2"))
      // weights are strictly positive (ln(N/df) > 0 after the wt != 0
      // cut), so dot != 0 ⟺ the docs share a term — exactly the rows
      // the postings-join formulation produced (its inner (b, term)
      // match dropped no-overlap pairs before ranking)
      .filter(col("dot") =!= 0)
      .select(col("a").as("doc_id"), col("b").as("nbr_id"),
        cosMicro.as("cos_micro"))
    graft.ops.TopK(scored, Seq("doc_id"), scored("cos_micro"),
        Seq(scored("nbr_id")), k)
      .select(col("doc_id"), col("nbr_id"), col("rnk"), col("cos_micro"))
  }

  /** Containment k-NN graph — the BOUNDED-COMPUTE containment miner:
    * [[knnGraph]]'s capped LSH-bucket candidate machinery reused
    * verbatim, but scored with asymmetric containment |A∩B|/|A|
    * instead of Jaccard: per doc, its `k` strongest containers
    * among same-bucket mates. Candidate volume is the capped
    * Σ|bucket|·min(|bucket|, maxBucket) — never the true-pair count, so
    * an adversarial mutual-containment family costs what MinHash mining
    * costs (32× stress: minhash-level time factors), not the ~N²/2 the
    * exact miner must verify.
    *
    * Recall contract (the honest tradeoff vs [[containmentTopK]]):
    * candidates come from MinHash buckets, whose collision rate tracks
    * JACCARD — a tiny excerpt inside a much larger page (containment ~1,
    * Jaccard ~|A|/|B|) may never share a bucket. This graph is the scale
    * path for corpora where near-dup families dominate; the lossless
    * prefix-filter miner ([[containmentPairs]]/[[containmentTopK]])
    * remains the full-recall form. Output
    * (a, b, rnk, inter, na, cont_ppm).
    */
  def containmentGraph(df: DataFrame, idCol: String, textCol: String,
                       k: Int, n: Int = 3, bands: Int = 4,
                       maxBucket: Int = 4096): DataFrame = {
    val scored = knnWithShingles(df, idCol, textCol, n, bands, maxBucket)
      .select(col("a"), col("b"), interSh.as("inter"),
        size(col("sh_a")).as("na"))
      .withColumn("cont_ppm",
        expr("(CAST(inter AS BIGINT) * 1000000) div na"))
    graft.ops.TopK(scored, Seq("a"), scored("cont_ppm"), Seq(scored("b")), k)
      .select(col("a"), col("b"), col("rnk"), col("inter"), col("na"),
        col("cont_ppm"))
  }

  /** L71 — reciprocal-rank fusion of the [[knnGraph]] (Jaccard) and
    * [[containmentGraph]] (asymmetric-excerpt) rankers, rank-only
    * (Cormack et al. 2009): per source, contribution
    * round(1e6/(rrfK+rank)); fused score = order-free integer sum over
    * a full-outer edge join; top-`kOut` fused edges per doc by
    * (rrf desc, nbr asc). Both rankers ride ONE candidate pass — the
    * shingle/minhash front-end, the capped bucket join, and the
    * intersect scoring run once and the scored frame is eagerly
    * checkpointed before fanning out to the two rank windows (EAGER
    * CHECKPOINT DISCIPLINE above; also keeps the bucket-cap observe
    * metric single-instanced). Output (doc_id, nbr_id, rnk, rrf_micro).
    */
  def rrfFusionGraph(df: DataFrame, idCol: String, textCol: String,
                     kJac: Int, kCont: Int, kOut: Int, rrfK: Int = 60,
                     n: Int = 3, bands: Int = 4,
                     maxBucket: Int = 4096): DataFrame = {
    val scored = knnWithShingles(df, idCol, textCol, n, bands, maxBucket)
      .select(col("a"), col("b"), interSh.as("inter"), uniSh.as("uni"),
        size(col("sh_a")).as("na"))
      .withColumn("jac_ppm",
        expr("(CAST(inter AS BIGINT) * 1000000) div uni"))
      .withColumn("cont_ppm",
        expr("(CAST(inter AS BIGINT) * 1000000) div na"))
      .localCheckpoint(true)
    def contrib(r: Column): Column =
      round(lit(1000000) / (lit(rrfK) + r)).cast("long")
    val jac = graft.ops.TopK(scored, Seq("a"), scored("jac_ppm"),
        Seq(scored("b")), kJac)
      .select(col("a").as("doc_id"), col("b").as("nbr_id"),
        contrib(col("rnk")).as("c1"))
    val con = graft.ops.TopK(scored, Seq("a"), scored("cont_ppm"),
        Seq(scored("b")), kCont)
      .select(col("a").as("doc_id"), col("b").as("nbr_id"),
        contrib(col("rnk")).as("c2"))
    val fused = jac.join(con, Seq("doc_id", "nbr_id"), "full_outer")
      .select(col("doc_id"), col("nbr_id"),
        (coalesce(col("c1"), lit(0L)) + coalesce(col("c2"), lit(0L)))
          .as("rrf_micro"))
    graft.ops.TopK(fused, Seq("doc_id"), fused("rrf_micro"),
        Seq(fused("nbr_id")), kOut)
      .select(col("doc_id"), col("nbr_id"), col("rnk"), col("rrf_micro"))
  }

  /** Edit-distance k-NN graph — the bounded-COMPUTE edit-distance miner
    * (the [[containmentGraph]] treatment applied to Ed-Join's problem):
    * capped LSH-bucket candidates ([[knnCandidates]], the `knnGraph`
    * machinery verbatim), scored with full Levenshtein over the
    * normalized `prefixChars`-char prefixes, cut to each doc's `k`
    * closest neighbors (dist asc, nbr asc). Candidate volume is the
    * capped Σ|bucket|·min(|bucket|, maxBucket) — never the true-pair
    * count, so an adversarial near-identical family costs what MinHash
    * mining costs (32× stress), not the ~N²/2 pairs the exact miner
    * must verify. Threshold-free like every graph build: edges carry
    * their true distance instead of being cut at maxDist.
    *
    * Recall contract: candidates share a MinHash band over text
    * shingles, which tracks Jaccard — a pair whose prefixes are close
    * in edit distance but whose full texts diverge can miss. The
    * lossless [[editDistancePairs]]/[[editDistanceTopK]] remain the
    * full-recall forms. The normalized prefix rides the shingle pass as
    * a carried column — one corpus scan total. Output
    * (doc_id, nbr_id, rnk, dist).
    */
  def editDistanceGraph(df: DataFrame, idCol: String, textCol: String,
                        k: Int, n: Int = 3, bands: Int = 4,
                        maxBucket: Int = 4096,
                        prefixChars: Int = 64): DataFrame = {
    val pre = df.select(df(idCol).as("_id"), df(textCol).as("_t0"),
      substring(lower(trim(df(textCol))), 1, prefixChars).as("_s"))
    val (base, _, banded) =
      minhashBands(pre, "_id", "_t0", n, bands, Seq("_s"))
    val cand = knnCandidates(
      banded.select(col("doc"), col("band"), col("bkey")), maxBucket)
    val scored = cand
      .join(base.select(col("doc").as("a"), col("_s").as("sa")), "a")
      .join(base.select(col("doc").as("b"), col("_s").as("sb")), "b")
      .select(col("a").as("doc_id"), col("b").as("nbr_id"),
        levenshtein(col("sa"), col("sb")).as("dist"))
    graft.ops.TopK(scored, Seq("doc_id"), -scored("dist"),
        Seq(scored("nbr_id")), k)
      .select(col("doc_id"), col("nbr_id"), col("rnk"), col("dist"))
  }

  /** The (band-table, shingle-table) pair that IS a MinHash signature
    * index: bands = (doc, band, bkey) for the bucket join, base =
    * (doc, sh) for exact-Jaccard verification. Persist both — bucketed
    * by their join keys via `Sinks.writeBucketed` — and increments stop
    * re-shingling the corpus entirely ([[minhashDeltaPairsIndexed]]).
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, bands: Int = 4): (DataFrame, DataFrame) = {
    val (base, _, banded) = minhashBands(df, idCol, textCol, n, bands, Nil)
    (banded.select(col("doc"), col("band"), col("bkey")),
      base.select(col("doc"), col("sh")))
  }

  /** Incremental near-dup mining against a PERSISTED index — the
    * production form of [[minhashDeltaPairs]]: the corpus side arrives
    * as the stored (bands, base) tables of [[minhashIndex]] and the delta
    * as its own [[minhashIndex]] slice, so an increment costs ONE
    * delta-sized shingle pass + a delta-sized bucket join + verification
    * reads of only the colliding corpus docs. The corpus text is never
    * rescanned, never re-shingled. Result is row-identical to
    * `minhashDeltaPairs(corpus, incoming)` (spec-asserted); ids must be
    * disjoint between index and delta, as in the recompute form. A
    * streaming ingest builds the delta's slice once, mines with it and
    * appends it to the store.
    */
  private def deltaBucketPairs(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r,
        col("band") === col("band2") && col("bkey") === col("bkey2") &&
          col("x") =!= col("d"))
      .select(least(col("x"), col("d")).as("a"),
        greatest(col("x"), col("d")).as("b"))
      .distinct()

  def minhashDeltaPairsIndexed(indexBands: DataFrame, indexBase: DataFrame,
                               deltaBands: DataFrame, deltaBase: DataFrame,
                               num: Int, den: Int): DataFrame = {
    val l = indexBands.select(col("doc").as("x"), col("band"), col("bkey"))
      .unionByName(deltaBands.select(col("doc").as("x"), col("band"),
        col("bkey")))
    val r = deltaBands.select(col("doc").as("d"), col("band").as("band2"),
      col("bkey").as("bkey2"))
    val cand = deltaBucketPairs(l, r)
    val allBase = indexBase.select(col("doc"), col("sh"))
      .unionByName(deltaBase.select(col("doc"), col("sh")))
    verifyPairs(cand, allBase, num, den)
  }

  /** Incremental near-dup mining: pairs involving at least one `incoming`
    * doc against `existing ∪ incoming` — the daily-ingest shape. Result is
    * exactly `minhashDedup(existing ∪ incoming)` filtered to pairs with an
    * incoming side (completeness: any qualifying pair shares a band bucket
    * with its incoming member), but the bucket join's right side is the
    * DELTA's bands only — the full corpus never joins against itself, and
    * when the delta is small AQE broadcasts it, so an increment costs one
    * corpus scan + a delta-sized join instead of a corpus×corpus bucket
    * join. At production scale use [[minhashDeltaPairsIndexed]] instead:
    * the `existing` side arrives as the persisted [[minhashIndex]]
    * tables and is never re-shingled at all.
    */
  def minhashDeltaPairs(existing: DataFrame, incoming: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3, bands: Int = 4,
                        num: Int = 8, den: Int = 10): DataFrame = {
    val all = existing
      .select(col(idCol), col(textCol)).withColumn("_new", lit(false))
      .unionByName(incoming.select(col(idCol), col(textCol))
        .withColumn("_new", lit(true)))
    val (base, _, banded) =
      minhashBands(all, idCol, textCol, n, bands, Seq("_new"))
    val l = banded.select(col("doc").as("x"), col("band"), col("bkey"))
    val r = banded.filter(col("_new"))
      .select(col("doc").as("d"), col("band").as("band2"),
        col("bkey").as("bkey2"))
    val cand = deltaBucketPairs(l, r)
    verifyPairs(cand, base.select("doc", "sh"), num, den)
  }

  /** Paragraph-level (CCNet-style) duplication stats: segment each doc into
    * non-overlapping `w`-token chunks, count each chunk's occurrences
    * CORPUS-WIDE, and report per doc how many of its chunks are duplicated
    * (occur more than once anywhere). The standard boilerplate signal —
    * headers/footers/licence blocks duplicate at the paragraph level long
    * before whole documents do.
    *
    * Scale shape: chunks are hashed to sha256 AT THE SCAN (the chunk text
    * never shuffles — only (doc, 64-hex digest) rows), occurrence counts
    * come from a count-over-window partitioned by digest (ONE shuffle on
    * the digest, uniformly distributed by construction, instead of a
    * groupBy + self-join back which would shuffle the same rows twice),
    * and the per-doc rollup partial-aggregates map-side.
    */
  def chunkDupStats(df: DataFrame, idCol: String, textCol: String,
                    w: Int = 10): DataFrame =
    dupProfile(df.select(df(idCol).as("doc"),
      explode(TextOps.tokenChunks(df(textCol), w)).as("u")), "chunks")

  /** Content-defined-chunking duplication stats: same corpus-wide
    * occurrence profile as [[chunkDupStats]], but segmented by
    * [[TextOps.cdcChunks]] (rolling-hash boundaries, FastCDC-style) —
    * a copy with tokens inserted/deleted re-aligns at the next content
    * boundary, so shared blocks keep matching where fixed-width chunks
    * all shift out of phase. Same scale shape: chunk text sha256'd at
    * the scan, ONE digest-partitioned window, per-doc rollup.
    */
  def cdcDupStats(df: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    dupProfile(df.select(df(idCol).as("doc"),
      explode(graft.functions.CdcChunks(df(textCol))).as("u")), "chunks")

  /** Shared duplication-profile back half (chunkDupStats and
    * substringDupStats differ only in the segmentation): sha256 the
    * segment AT THE SCAN (segment text never shuffles), count occurrences
    * with ONE window over the digest, roll up per doc. `what` names the
    * output columns (n_<what>, dup_<what>, dup_permille).
    */
  private def dupProfile(units: DataFrame, what: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    units.select(col("doc"), sha2(col("u"), 256).as("usha"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("usha")))
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as(s"n_$what"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as(s"dup_$what"))
      .withColumn("dup_permille",
        expr(s"(dup_$what * 1000) div n_$what"))
  }

  /** Sliding-window cross-doc duplication profile (the exact-substring
    * dedup signal of Lee et al. 2022 at n-gram resolution): for every doc,
    * how many of its DISTINCT n-gram shingles also occur in at least one
    * OTHER document. Unlike `chunkDupStats` (non-overlapping chunks,
    * corpus multiplicity), windows slide one token at a time — an
    * offset-shifted copy still matches — and only cross-doc occurrence
    * counts, so within-doc repetition doesn't inflate the signal.
    *
    * Scale shape: (doc, digest) pairs are distinct by construction
    * (shingleSet), so a count-over-window partitioned by digest IS the
    * number of distinct docs containing that shingle — one shuffle on the
    * digest, then a map-side-combined per-doc rollup. Shingle text never
    * shuffles, only sha256 digests.
    */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 10): DataFrame =
    dupProfile(df.select(df(idCol).as("doc"),
      explode(TextOps.shingleSet(df(textCol), n)).as("u")), "shingles")

  /** C4-style boilerplate removal at chunk granularity (C4 drops any line
    * occurring in >= minDf distinct pages, `c4_utils` rule; the synthetic
    * corpus has no line structure, so the unit is the w-token chunk —
    * same segmentation as [[chunkDupStats]], but measuring DISTINCT-doc
    * frequency and REBUILDING the doc without its boilerplate units).
    * Output per doc: (doc_id, n_units, n_boiler, clean_sha) where
    * clean_sha fingerprints the cleaned text (kept chunks rejoined in
    * position order; sha2("") when everything was boilerplate).
    *
    * Scale shape: distinct-doc frequency without a countDistinct shuffle —
    * rows are clustered once by the chunk digest, a lag marker flags each
    * chunk's first occurrence per doc, and a full-partition sum of the
    * marker IS the distinct-doc frequency. Both window passes share the
    * ONE csha exchange (same partition spec); the only other exchange is
    * the per-doc rollup. Chunk text rides along because the doc is
    * rebuilt — the same corpus-sized volume CCNet's paragraph pass moves.
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        w: Int = 10, minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val units = df.select(df(idCol).as("doc"),
        posexplode(TextOps.tokenChunks(df(textCol), w)).as(Seq("pos", "c")))
      .withColumn("csha", sha2(col("c"), 256))
    val byChunk = Window.partitionBy("csha")
    val ordered = byChunk.orderBy("doc", "pos")
    units
      .withColumn("first_in_doc",
        when(lag("doc", 1).over(ordered).isNull ||
          lag("doc", 1).over(ordered) =!= col("doc"), 1L).otherwise(0L))
      .withColumn("df", sum("first_in_doc").over(byChunk))
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"),
        sha2(array_join(transform(sort_array(collect_list(
          when(col("df") < minDf, struct(col("pos"), col("c"))))),
          e => e.getField("c")), " "), 256).as("clean_sha"))
  }

  /** Edit-distance near-dup pairs (the prefix + location filters of
    * Ed-Join, Xiao et al. 2008): pairs whose normalized `prefixChars`-
    * char prefixes are within `maxDist` Levenshtein edits. One edit
    * destroys at most q physical char-q-grams, so among each string's
    * q·maxDist+1 globally-rarest grams at least one SURVIVES into any
    * qualifying partner — PROVIDED the string has at least q·maxDist+1
    * grams to begin with, i.e. len >= q·(maxDist+1). A surviving gram's
    * copy sits within ±maxDist positions (edits shift text by at most
    * one position each), so candidates are an equi-join on (gram,
    * position-bin): the location filter is what keeps a hot gram from
    * becoming a hot join key on low-diversity text (without it,
    * word-soup corpora degrade to ~all-pairs). Length prune
    * |len(a)-len(b)| <= maxDist rides the join; exact levenshtein
    * verifies survivors.
    *
    * Strings SHORTER than q·(maxDist+1) can lose every q-gram to
    * maxDist edits, so the gram bound does not apply to them. They take
    * the small-string path: collapse to DISTINCT strings (identical
    * short strings are legion on web corpora — one representative each),
    * equi-join on a length band of width maxDist+1 (|la-lb| <= maxDist
    * implies adjacent bands, probe exploded into the 3 bands) against
    * every distinct string short enough to qualify as a partner —
    * including the "fringe" of gram-path strings within maxDist of the
    * cutoff, which covers the small×big pairs the gram path cannot see.
    * Verified string pairs then expand back to doc pairs, and identical
    * small strings pair within their group at dist 0. No nested-loop
    * join anywhere: both join keys are equi (band / string), asserted in
    * PlanAuditSpec. Completeness for every length is certified by
    * q_edit_distance's exhaustive oracle and the DedupPropertySpec
    * brute-force reference, whose fixtures span the
    * q+maxDist..q·(maxDist+1) band where the old cutoff was unsound.
    * Output (a, b, dist).
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        q: Int = 3, maxDist: Int = 2,
                        prefixChars: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val par = df.sparkSession.sparkContext.defaultParallelism
    val norm = df.select(df(idCol).as("doc"),
        substring(lower(trim(df(textCol))), 1, prefixChars).as("s"))
      .repartition(par)
      .withColumn("len", length(col("s")))
      .localCheckpoint(true)
    // gram-survival bound: need >= q*maxDist+1 grams => len >= q*(maxDist+1)
    val smallCut = q * (maxDist + 1)
    val big = norm.filter(col("len") >= smallCut)
    val grams = big.select(col("doc"), col("len"),
        posexplode(transform(
          sequence(lit(1), greatest(col("len") - (q - 1), lit(1))),
          i => col("s").substr(i, lit(q)))).as(Seq("pos", "g")))
    val dfreq = grams.withColumn("df_",
      count(lit(1)).over(Window.partitionBy("g")))
    val ranked = dfreq.withColumn("rk", row_number().over(
      Window.partitionBy("doc").orderBy(col("df_"), col("g"), col("pos"))))
    // Position banding (Ed-Join's location filter): a surviving gram's
    // copy sits within ±maxDist positions, so the join is equi on
    // (g, pos-bin) with the probe exploded into the 3 adjacent bins —
    // a hot gram's postings split across len/(maxDist+1) bins instead
    // of one hot key, and the exact |pa-pb| band prunes inside the bin.
    val binW = maxDist + 1
    val prefix = ranked.filter(col("rk") <= q * maxDist + 1)
      .select(col("doc").as("a"), col("len").as("la"),
        col("g"), col("pos").as("pa"),
        explode(array(expr(s"pos div $binW") - 1, expr(s"pos div $binW"),
          expr(s"pos div $binW") + 1)).as("bin"))
    val full = dfreq.select(col("doc").as("b"), col("len").as("lb"),
      col("g").as("g2"), col("pos").as("pb"),
      expr(s"pos div $binW").as("bin2"))
    val candBig = prefix.join(full,
        prefix("g") === full("g2") && col("bin") === col("bin2") &&
          col("a") < col("b") &&
          abs(col("pa") - col("pb")) <= maxDist &&
          abs(col("la") - col("lb")) <= maxDist)
      .select("a", "b").distinct()
    // banded verification: the threshold form computes an O(len·maxDist)
    // diagonal band with early exit instead of the full len² DP and
    // returns -1 above the bound — measured 13× faster on the candidate
    // stream than unbounded levenshtein, with bit-identical distances
    // for every qualifying pair. (A lossless distinct-q-gram count
    // filter |Da∩Db| >= max(|Da|,|Db|) - q·maxDist was measured too:
    // perfectly selective here, but array_intersect on ~60-gram sets
    // costs more than the banded DP it saves — so the prune is the DP
    // band itself, not an extra join.)
    val bigPairs = candBig
      .join(norm.select(col("doc").as("a"), col("s").as("sa")), "a")
      .join(norm.select(col("doc").as("b"), col("s").as("sb")), "b")
      .select(col("a"), col("b"),
        levenshtein(col("sa"), col("sb"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
    // Small-string path: every pair with at least one side shorter than
    // smallCut. Partners are within maxDist in length, so both sides
    // live in the border set len < smallCut + maxDist; candidates over
    // DISTINCT strings via the length-band equi join, then back to docs.
    val border = norm.filter(col("len") < smallCut + maxDist)
      .localCheckpoint(true)
    val sd = border.select(col("s"), col("len")).distinct()
    val probe = sd.filter(col("len") < smallCut)
      .select(col("s").as("s1"), col("len").as("l1"),
        explode(array(expr(s"len div $binW") - 1, expr(s"len div $binW"),
          expr(s"len div $binW") + 1)).as("lb1"))
    val build = sd.select(col("s").as("s2"), col("len").as("l2"),
      expr(s"len div $binW").as("lb2"))
    val candStr = probe.join(build,
        col("lb1") === col("lb2") && col("s1") =!= col("s2") &&
          abs(col("l1") - col("l2")) <= maxDist)
      .select(least(col("s1"), col("s2")).as("s1"),
        greatest(col("s1"), col("s2")).as("s2"))
      .distinct()
      .withColumn("dist", levenshtein(col("s1"), col("s2"), maxDist))
      .filter(col("dist") >= 0)
    val smallDiff = candStr
      .join(border.select(col("s").as("s1"), col("doc").as("a")), "s1")
      .join(border.select(col("s").as("s2"), col("doc").as("b")), "s2")
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("dist"))
    // identical small strings: every in-group pair qualifies at dist 0
    // (identical FRINGE strings are found by the gram path — restrict to
    // len < smallCut so those pairs are not emitted twice)
    val smallSame = border.filter(col("len") < smallCut)
      .select(col("s"), col("doc").as("a"))
      .join(border.select(col("s"), col("doc").as("b")), "s")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), lit(0).as("dist"))
    bigPairs.unionByName(smallDiff).unionByName(smallSame)
  }

  /** Bounded-output edit-distance mining (the
    * [[containmentTopK]] rationale): symmetrize [[editDistancePairs]]'s
    * canonical a<b pairs into directed (doc_id, nbr_id) edges and keep
    * each doc's `k` closest neighbors (dist asc, nbr_id asc) via the
    * WindowGroupLimit cut — output <= k rows per doc even when a
    * near-identical family makes the true pair count quadratic. Output
    * (doc_id, nbr_id, rnk, dist).
    */
  def editDistanceTopK(df: DataFrame, idCol: String, textCol: String,
                       k: Int, q: Int = 3, maxDist: Int = 2,
                       prefixChars: Int = 64): DataFrame = {
    // EAGER CHECKPOINT DISCIPLINE: the symmetrizing union below reads the
    // pair table twice (once per direction) — un-checkpointed, the whole
    // Ed-Join mining front-end (gram explode + prefix join + banded DP)
    // executed twice per run (plan census: 27 Exchanges vs the base
    // miner's 13).
    val p = editDistancePairs(df, idCol, textCol, q, maxDist, prefixChars)
      .localCheckpoint(true)
    val sym = p.select(col("a").as("doc_id"), col("b").as("nbr_id"),
        col("dist"))
      .unionByName(p.select(col("b").as("doc_id"), col("a").as("nbr_id"),
        col("dist")))
    graft.ops.TopK(sym, Seq("doc_id"), -sym("dist"), Seq(sym("nbr_id")), k)
      .select(col("doc_id"), col("nbr_id"), col("rnk"), col("dist"))
  }

  /** Per-node triangle participation over an undirected pair graph (rows
    * (a, b) with a < b, distinct): how many triangles each node closes.
    * The LSH-graph density diagnostic — true near-dup clusters are
    * cliques (triangle-rich), chains of borderline pairwise matches are
    * not, so triangles-per-pair separates safe transitive merges from
    * over-merge risk before connectedComponents unions anything.
    * Ordered-triple join on the canonical a<b edges (x<y<z): each
    * triangle counted exactly once; two equi-joins on the pair table +
    * a map-combined rollup — pair-graph-sized, never corpus-sized.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("a"), col("b")).localCheckpoint(true)
    val paths = e.toDF("x", "y")
      .join(e.toDF("y2", "z"), col("y") === col("y2"))
      .select(col("x"), col("y"), col("z"))
    val tri = paths.join(e.toDF("x2", "z2"),
        col("x") === col("x2") && col("z") === col("z2"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Quality-aware survivor selection: given near-dup pairs and a per-doc
    * score, pick each cluster's HIGHEST-scoring member (ties → lowest id)
    * instead of the blind min-id survivor — what a production dedup
    * actually keeps. Output: (cluster_rep, keep_id, keep_score, n_members).
    * One extra shuffle over connectedComponents: the cluster labels join
    * the scores on the doc id, then a single window pass (row_number +
    * count over the same cluster partition — one exchange) selects the
    * argmax. Only docs that appear in a pair flow through any of it.
    *
    * Contract: `docs` should cover every id that appears in `pairs`. A
    * member missing from `docs` is NOT dropped (that would silently move
    * the argmax): the join is a left join and missing scores rank last,
    * so such a member can only win a cluster whose members are ALL
    * absent — surfaced as keep_score = null rather than a vanished
    * cluster.
    */
  def keepBestPerCluster(pairs: DataFrame, docs: DataFrame, idCol: String,
                         score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = connectedComponents(pairs)
    val scored = docs.select(docs(idCol).as("node"), score.as("score"))
    val byCluster = Window.partitionBy("rep")
    cc.join(scored, Seq("node"), "left")
      .withColumn("rn", row_number().over(
        byCluster.orderBy(col("score").desc_nulls_last, col("node").asc)))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("rep").as("cluster_rep"), col("node").as("keep_id"),
        col("score").as("keep_score"), col("n_members"))
  }

  /** Connected components over near-dup pairs: every doc that appears in a
    * pair gets the MIN doc id of its component as cluster representative —
    * the final step of a dedup pipeline (pairs → clusters → keep one per
    * cluster). Iterative min-label propagation; each iteration is one
    * join + min-agg, localCheckpoint'd so the plan doesn't grow with the
    * iteration count (the standard Spark iterative-algorithm pattern).
    * Components from near-dup pairs have tiny diameters, so convergence
    * is a handful of iterations.
    *
    * Pointer jumping doubles the propagated distance per round, so
    * `maxIter` rounds cover component diameters up to ~2^maxIter — the
    * default 20 is unreachable for near-dup graphs (mostly cliques), but
    * a caller feeding ADVERSARIAL long-chain topology (Borůvka's
    * contraction graph under a weight-monotone path) must pass a larger
    * budget AND `strict = true`: a silently-unconverged label table is a
    * correctness bug downstream (duplicate forest edges, split clusters),
    * not a perf knob (Mst.boruvka).
    *
    * @param strict throw instead of returning when the label fixpoint was
    *               not reached within `maxIter` rounds
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          strict: Boolean = false): DataFrame =
    connectedComponents(pairs, maxIter, strict,
      preMaterialized = false, knownEdgeCount = -1L)

  /** Iterative-caller variant: a loop that calls CC
    * once per round (Borůvka contraction, batched dendrogram cuts) pays
    * the input re-checkpoint and the sizing count() as two extra Spark
    * jobs per call — pure driver/scheduler fixed cost on forest-sized
    * graphs. A caller that has ALREADY eagerly materialized `pairs` (and
    * knows its row count) passes `preMaterialized = true` /
    * `knownEdgeCount >= 0` to skip them; results are identical.
    */
  private[graft] def connectedComponents(pairs: DataFrame, maxIter: Int,
                          strict: Boolean, preMaterialized: Boolean,
                          knownEdgeCount: Long): DataFrame = {
    // Materialize the pair list FIRST, eagerly: the edges union reads it
    // twice (once per direction), and lazy-checkpointed branches race to
    // compute the same partitions — without this the entire pair-mining
    // front-end (the dominant cost) ran twice per query.
    val p0 = pairs.select(col("a"), col("b"))
    val p = if (preMaterialized) p0 else p0.localCheckpoint(true)
    // Size the loop's shuffle width to the GRAPH, not the session default:
    // the label table holds only docs that appear in a pair — usually
    // orders of magnitude smaller than the corpus — and every round pays
    // per-partition fixed costs (task launch, sort, checkpoint block,
    // AQE re-plan) times the partition count. The count is ~free (p is
    // already materialized). Partitioning by the join/groupBy key means
    // every agg and SMJ in the loop reuses it (hash partitioning on the
    // key satisfies the required distribution at ANY width) instead of
    // re-exchanging at spark.sql.shuffle.partitions width each round.
    val edgeCount = if (knownEdgeCount >= 0L) knownEdgeCount else p.count()
    val parts = math.max(1,
      math.min((edgeCount / 100000L).toInt + 1, 10000))
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
      .repartition(parts, col("src"))
      .localCheckpoint(true)
    // ONE Spark job per round (the loop used to pay up to
    // three driver-scheduled jobs per round: propagate checkpoint, jump
    // checkpoint, convergence-sum agg; iterative consumers like Borůvka
    // and the batched dendrogram cuts pay the loop once per contraction
    // round, so on forest-sized graphs the job COUNT, not the data, was
    // the floor — JobCensus: q_single_linkage spent ~half its wall
    // outside jobs). Two fusions:
    //  - the convergence sum rides the round's eager checkpoint via
    //    Observation (the streaming drains' c324577 pattern) instead of
    //    being its own agg job;
    //  - the pointer jump reads the PREVIOUS round's materialized
    //    `labels` (rep := labels[rep]) instead of self-joining the fresh
    //    `propagated` — propagated then appears exactly once in the
    //    round's plan, so it needs no checkpoint of its own to avoid
    //    double execution.
    // decimal(38,0) so the sum can't overflow on 64-bit ids at corpus
    // scale; compared with compareTo (value equality) — BigDecimal
    // equals() is scale-sensitive, so a change in Spark's sum result
    // scale would otherwise make equal sums compare unequal and the
    // loop spin to maxIter.
    def ckptWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = new org.apache.spark.sql.Observation()
      val out = df
        .observe(obs, sum(col("rep").cast("decimal(38,0)")).as("repsum"))
        .localCheckpoint(true)
      (out, obs.get("repsum").asInstanceOf[java.math.BigDecimal])
    }
    // both-null = empty input (sum over zero rows), which is its own
    // fixpoint; initial (value, null) is never converged.
    def converged(a: java.math.BigDecimal, b: java.math.BigDecimal) =
      if (a == null || b == null) a == null && b == null
      else a.compareTo(b) == 0
    var prevSum: java.math.BigDecimal = null
    // init folds the first propagation round in: rep = min(node, neighbors)
    var (labels, curSum) = ckptWithSum(
      edges.groupBy(col("src").as("node"))
        .agg(least(first(col("src")), min(col("dst"))).as("rep")))
    var iter = 0
    while (!converged(curSum, prevSum) && iter < maxIter) {
      val neigh = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node"), col("rep"))
      // the union breaks the inherited hash partitioning, so re-pin the
      // graph-sized width before the agg (see `parts` above)
      val propagated = labels.union(neigh)
        .repartition(parts, col("node"))
        .groupBy("node").agg(min("rep").as("rep"))
      // Pointer jumping: rep := labels[rep] — labels(x) <= x for every
      // node x and every rep value is itself a node in `labels` (it is
      // some node's least(src, min(dst))), so the jump stays within the
      // component and keeps per-node reps non-increasing; propagation
      // reach still ~doubles per round (r_k >= 2*r_{k-1}), so
      // convergence stays O(log diameter) rounds. Fixpoint unchanged:
      // equal consecutive sums ⟺ pointwise-equal labels (monotonicity)
      // ⟺ no neighbor had a smaller rep ⟺ labels are component-
      // constant, i.e. the component minimum. Skipped in round 1:
      // near-dup graphs are mostly cliques, already at the fixpoint
      // after the min-neighbor init — the common case then pays one
      // propagate round, not propagate + a useless join.
      val next =
        if (iter == 0) propagated
        else propagated
          .join(labels.toDF("node2", "rep2"),
            propagated("rep") === col("node2"), "left")
          .select(col("node"), coalesce(col("rep2"), col("rep")).as("rep"))
      prevSum = curSum
      val (l2, s2) = ckptWithSum(next)
      labels = l2
      curSum = s2
      iter += 1
    }
    if (strict && !converged(curSum, prevSum))
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "(component diameter exceeds the pointer-jump budget); raise " +
          "maxIter")
    labels
  }
}
