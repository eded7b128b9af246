package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.llm.Dedup

/** Adversarial-SKEW stress leg: the uniform 128×
  * replication leg proves the cap machinery PRESENT but never
  * observes it FIRING (`n_capped_buckets` is always 0 on organic data).
  * This harness builds Zipf-hot fixtures on top of the sf0.1 corpus —
  * one LSH band bucket driven past `maxBucket` and one join key holding
  * ~half the fact table — and runs
  * the guarded paths against them, asserting:
  *   - the observed metrics actually fire (bucket cap > 0, AQE skew
  *     split in the executed plan);
  *   - output contracts hold (≤k partners per doc, deterministic
  *     partner sample across reruns);
  *   - wall time stays bounded (reported; an uncapped hot bucket would
  *     be quadratic).
  *
  * Run: sbt "Test/runMain graft.tools.SkewStress [sfDir] [jsonOut]"
  * — writes the committed STRESS_rN_skew.json artifact.
  */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val jsonOut = args.lift(1)
    val spark = GraftSession.local("graft-skew-stress", 32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    // ---------------------------------------------------------------
    // Leg 1: hot LSH band bucket (the capped-candidate family's guard).
    // 6000 byte-identical copies of one organic document share every
    // band signature, so each of the 4 band buckets holds 6000 members
    // — past maxBucket = 4096. Uncapped that bucket alone contributes
    // ~6000² = 36M candidate pairs; the cap bounds it at 6000×4096.
    // ---------------------------------------------------------------
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val nDocs = docs.count()
    val hotText = docs.orderBy("doc_id").select("text").as[String].head()
    val hotCopies = 6000
    val hot = spark.range(hotCopies)
      .select((col("id") + 100000000L).as("doc_id"), lit(hotText).as("text"),
        lit("en").as("lang"))
    val corpus = docs.unionByName(hot).localCheckpoint(true)

    @volatile var observed = Map.empty[String, org.apache.spark.sql.Row]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = observed ++= qe.observedMetrics
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // baseline: the organic corpus (cap never fires — the precondition
      // bounds.json certifies every round)
      val (tBase, gBase) = time {
        Dedup.knnGraph(docs, "doc_id", "text", k = 5).count()
      }
      val capBase = waitMetric(observed.get("graft_knn_bucket_cap"))
      observed = Map.empty
      // hot corpus, run TWICE: cap must fire, partner sample must be
      // deterministic (same output hash), k-bound must hold
      def runHot(): (Double, (Long, Long), Boolean) = {
        // free only the RDDs this run pinned — the shared `corpus`
        // localCheckpoint must survive for the rerun (a truncated
        // lineage cannot recompute after unpersist)
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val (t, gk) = time {
          val g = Dedup.knnGraph(corpus, "doc_id", "text", k = 5)
            .localCheckpoint(true)
          val digest = g.agg(count(lit(1)),
            bit_xor(xxhash64(col("doc_id"), col("nbr_id"), col("rnk"))))
            .as[(Long, Long)].head()
          val kOk = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
            .filter(col("n") > 5).count() == 0L
          (digest, kOk)
        }
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => before.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
        (t, gk._1, gk._2)
      }
      val (tHot, g1, kOk1) = runHot()
      var capHot = waitMetric(observed.get("graft_knn_bucket_cap"))
      observed = Map.empty
      val (tHot2, g2, kOk2) = runHot()
      capHot = math.max(capHot,
        waitMetric(observed.get("graft_knn_bucket_cap")))
      val kBoundOk = kOk1 && kOk2
      assert(capHot > 0, s"hot bucket did not trip the cap (cap=$capHot)")
      assert(g1 == g2, s"capped partner sample not deterministic: $g1 $g2")
      assert(kBoundOk, "k-bound violated under cap")
      out("lsh_hot_bucket") =
        f"""{"n_docs": $nDocs, "hot_copies": $hotCopies, """ +
          f""""t_organic_sec": $tBase%.2f, "cap_fired_organic": $capBase, """ +
          f""""t_hot_sec": $tHot%.2f, "t_hot_rerun_sec": $tHot2%.2f, """ +
          f""""cap_fired_hot": $capHot, "rows_hot": ${g1._1}, """ +
          f""""deterministic": ${g1 == g2}, "k_bound_ok": $kBoundOk, """ +
          f""""time_factor_vs_organic": ${tHot / tBase}%.2f}"""
    } finally spark.listenerManager.unregister(listener)

    // ---------------------------------------------------------------
    // Leg 2: hot join key under AQE skew-join. One key holds ~50% of a
    // 4M-row fact side; with broadcast disabled (the big-big case the
    // guard exists for) AQE must split the skewed partition — asserted
    // from the executed plan — and the join must stay bounded.
    // ---------------------------------------------------------------
    {
      // AQE only treats a partition as skewed past BOTH the 5x-median
      // factor and an absolute byte threshold (default 256 MB — sized
      // for real clusters). The fixture's hot partition is ~32 MB, so
      // the threshold scales down to the fixture (8 MB / 4 MB advisory)
      // exactly as a production job sizes it to its own partitions;
      // the FACTOR condition, the one that detects skew, stays default.
      val confs = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
          "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m")
      val origs = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val fact = spark.range(4000000L).select(
          when(col("id") % 2 === 0, lit(0L))
            .otherwise(pmod(col("id"), lit(100000L))).as("k"),
          col("id").as("v")).localCheckpoint(true)
        val dim = spark.range(100000L)
          .select(col("id").as("k"), (col("id") * 7).as("w"))
          .localCheckpoint(true)
        val joined = fact.join(dim, "k")
          .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
        // collect() executes joined's OWN QueryExecution — head()/as[]
        // derive a new plan and leave this one un-finalized, which would
        // read isFinalPlan=false with no skew markers
        val (tJoin, res) = time {
          val r = joined.collect()(0)
          (r.getLong(0), r.getLong(1))
        }
        val plan = joined.queryExecution.executedPlan.toString
        val skewHandled = plan.contains("skew=true")
        out("aqe_skew_join") =
          f"""{"fact_rows": 4000000, "hot_share": 0.5, """ +
            f""""t_join_sec": $tJoin%.2f, "rows_joined": ${res._1}, """ +
            f""""aqe_skew_split": $skewHandled}"""
        assert(skewHandled, "AQE skew-join did not split the hot partition")
      } finally origs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    val doc = out.map { case (k, v) => s"""  "$k": $v""" }
      .mkString(
        s"""{\n  "sf_dir": "$sfDir",\n  "note": "Zipf-hot fixtures: the guards must FIRE (cap metric > 0, AQE skew split) with contracts intact (deterministic sample, k-bound) and bounded time",\n""",
        ",\n", "\n}\n")
    println(doc)
    jsonOut.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), doc)
      println(s"wrote $p")
    }
    spark.stop()
  }

  private def waitMetric(get: => Option[org.apache.spark.sql.Row]): Long = {
    var waited = 0
    while (get.isEmpty && waited < 10000) { Thread.sleep(100); waited += 100 }
    get.map(_.getLong(0)).getOrElse(-1L)
  }
}
