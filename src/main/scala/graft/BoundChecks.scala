package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Error/recall certification for the rows-only gate queries — the
  * checks ApproxDistinctSpec/SimilaritySpec assert, promoted into the
  * correctness artifact itself: seven queries are
  * genuinely approximate (sketches, float ANN) and have no bit-stable
  * DuckDB form, so the driver records them rows-only. Each HAS a
  * hash-certified exact twin, and each estimate obeys a published bound
  * against the exact quantity. `Verify` calls [[run]] after the dump:
  * for every rows-only query that was dumped, the DUMPED result is read
  * back and its bound evaluated against an exact recomputation on the
  * same tables, emitting one `{metric, value, bound, ok}` entry into
  * `<outDir>/bounds.json` — so the artifact certifies the bound held on
  * exactly the rows the driver hashed, not on some other run.
  *
  * Bounds (mirroring the specs):
  *  - q_approx_distinct: per-group HLL relative error ≤ 0.15 (3·rsd at
  *    the default rsd = 0.05);
  *  - q_hll_merge: per-group relative error ≤ 0.10 (DataSketches HLL
  *    union at default lgK);
  *  - q_approx_percentile: the GK/KLL guarantee itself — each reported
  *    value's true RANK interval per group intersects
  *    [q·n − n/acc, q·n + n/acc] (acc = 10000, ±1 rank-convention slop);
  *  - q_cms_heavy_hitters: est ≥ exact always, est ≤ exact + ⌈ε·N⌉
  *    (ε = 0.001) for every reported term;
  *  - q_pq_search: recall@5 vs the dumped brute-force q_similarity
  *    ≥ 0.8 (the refine-stage floor SimilaritySpec asserts);
  *  - q_similarity_ann / q_similarity_ivf: the SimilaritySpec property
  *    — recall@5 must BEAT the scan fraction the index actually paid
  *    (nprobe/nClusters = 0.25 for IVF; (planes+1)/2^planes ≈ 0.035
  *    expected for 8-plane multi-probe LSH) — i.e. the bucketing adds
  *    value over random probing; the artifact records the measured
  *    recall so the lift is visible;
  *  - q_kcore: not an approximation bound but an ORACLE-VALIDITY
  *    precondition — the capped-candidate family's DuckDB
  *    twins mine LSH buckets uncapped, so the number of buckets at/over
  *    the Spark-side cap must be 0 for the hash compare to be
  *    meaningful; measured by Dedup.bucketCapAudit on the same corpus.
  */
object BoundChecks {

  final case class Bound(metric: String, value: Double, bound: Double,
                         ok: Boolean)

  /** Evaluate every applicable bound; returns name -> Bound. Queries not
    * present in `dumped` (subset runs) are skipped; a check that throws
    * reports ok=false with value NaN rather than failing the dump.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          dumped: Set[String]): Map[String, Bound] = {
    def dump(name: String): DataFrame = spark.read.parquet(s"$outDir/$name")
    val checks = Seq[(String, () => Bound)](
      "q_approx_distinct" -> { () =>
        val o = Tables.table(spark, sfDir, "orders")
        val exact = o.groupBy("o_orderpriority")
          .agg(countDistinct("o_custkey").as("exact"))
        val rel = dump("q_approx_distinct").join(exact, "o_orderpriority")
          .select(max(abs(col("approx_custs") - col("exact")) /
            col("exact")).as("m")).head().getDouble(0)
        Bound("max_rel_err", rel, 0.15, rel <= 0.15)
      },
      "q_hll_merge" -> { () =>
        val o = Tables.table(spark, sfDir, "orders")
        val exact = o.groupBy("o_orderpriority")
          .agg(countDistinct("o_custkey").as("exact"))
        val rel = dump("q_hll_merge").join(exact, "o_orderpriority")
          .select(max(abs(col("est_custs") - col("exact")) /
            col("exact")).as("m")).head().getDouble(0)
        Bound("max_rel_err", rel, 0.10, rel <= 0.10)
      },
      "q_approx_percentile" -> { () =>
        // the sketch's own guarantee, rank-exact: for value v reported
        // at quantile q over a group of n rows, v's true rank interval
        // [count(c<v)+1, count(c<=v)] must intersect q·n ± n/acc
        val l = Tables.table(spark, sfDir, "lineitem")
        val acc = 10000.0
        val d = dump("q_approx_percentile")
          .select("l_returnflag", "p50_cents", "p90_cents", "p99_cents")
        val joined = l.select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("c"))
          .join(broadcast(d), "l_returnflag")
        def lt(p: String) = sum(when(col("c") < col(p), 1L)
          .otherwise(0L))
        def le(p: String) = sum(when(col("c") <= col(p), 1L)
          .otherwise(0L))
        val agg = joined.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            lt("p50_cents").as("lt50"), le("p50_cents").as("le50"),
            lt("p90_cents").as("lt90"), le("p90_cents").as("le90"),
            lt("p99_cents").as("lt99"), le("p99_cents").as("le99"))
        def bad(q: Double, ltc: String, lec: String) = {
          val eps = col("n") / acc + 1
          col(ltc) > lit(q) * col("n") + eps ||
            col(lec) < lit(q) * col("n") - eps
        }
        val nBad = agg.filter(bad(0.5, "lt50", "le50") ||
          bad(0.9, "lt90", "le90") || bad(0.99, "lt99", "le99")).count()
        Bound("groups_outside_rank_bound", nBad.toDouble, 0.0, nBad == 0L)
      },
      "q_cms_heavy_hitters" -> { () =>
        val d = dump("q_cms_heavy_hitters")
        val n = Tables.table(spark, sfDir, "documents")
          .select(explode(graft.ops.llm.TextOps.tokens(col("text")))
            .as("t")).count()
        val slack = math.ceil(0.001 * n).toLong
        val bad = d.filter(col("est_cnt") < col("exact_cnt") ||
          col("est_cnt") > col("exact_cnt") + slack).count()
        Bound("terms_outside_cms_bound", bad.toDouble, 0.0, bad == 0L)
      },
      "q_similarity_ann" -> { () =>
        // 8-plane multi-probe LSH: query probes its bucket + 8 Hamming-1
        // neighbors of 256 → expected scan fraction (planes+1)/2^planes
        val r = recallVsBrute(dump, "q_similarity_ann")
        val frac = 9.0 / 256.0
        Bound("recall_at_5_vs_scan_frac", r, frac, r >= frac)
      },
      "q_similarity_ivf" -> { () =>
        // nprobe=4 of 16 cells → 25% scan fraction; bucketing must beat it
        val r = recallVsBrute(dump, "q_similarity_ivf")
        val frac = 4.0 / 16.0
        Bound("recall_at_5_vs_scan_frac", r, frac, r >= frac)
      },
      "q_pq_search" -> { () =>
        val r = recallVsBrute(dump, "q_pq_search")
        Bound("recall_at_5", r, 0.8, r >= 0.8)
      },
      // Not a sketch bound but the same artifact-certification shape:
      // the capped-candidate family's oracles (q_kcore,
      // q_single_linkage, the kNN-graph tier) mine LSH buckets UNCAPPED
      // while the Spark side samples inside buckets over maxBucket =
      // 4096 — the engines agree only while no bucket reaches the cap.
      // This measures that precondition on the corpus the round actually
      // hashed: buckets at/over the cap must be 0, so a capped bucket
      // fails bounds.json loudly instead of reading as an unexplained
      // hash mismatch.
      "q_kcore" -> { () =>
        val n = graft.ops.llm.Dedup.bucketCapAudit(
          Tables.table(spark, sfDir, "documents"), "doc_id", "text")
        Bound("lsh_buckets_at_cap", n.toDouble, 0.0, n == 0L)
      })
    checks.collect {
      case (name, mk)
          if dumped.contains(name) &&
            (!name.startsWith("q_similarity") && name != "q_pq_search" ||
              dumped.contains("q_similarity")) =>
        name -> (try mk() catch {
          case e: Throwable =>
            Bound(s"error:${e.getClass.getSimpleName}", Double.NaN,
              Double.NaN, ok = false)
        })
    }.toMap
  }

  private def recallVsBrute(dump: String => DataFrame,
                            name: String): Double = {
    val exact = dump("q_similarity").select("qid", "id")
    val got = dump(name).select("qid", "id")
    val hit = exact.intersect(got).count().toDouble
    hit / exact.count()
  }
}
