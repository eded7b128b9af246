package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.llm.{Dedup, Multimodal, SimHash}

/** Scale-stress harness (test scope): times the heavy document-family
  * operators at 1× and N× corpus replication, printing per-op factors.
  * Replicas get shifted doc_ids so exact copies exist across replicas —
  * the worst case for near-dup mining (candidate volume grows with true
  * pair count).
  *
  * Run: sbt "Test/runMain graft.tools.Stress [sfDir] [factor] [jsonOut]"
  *
  * With a third arg, writes the timings as one JSON document (the
  * committed STRESS_rN.json artifacts) so the sublinearity claims for the
  * dedup/LSH family are driver-checkable, not README prose.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(8)
    val jsonOut = args.lift(2)
    val spark = GraftSession.local("graft-stress",
      Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val base = docs.count()
    def replicate(k: Int): DataFrame =
      (0 until k).map(i => docs.select(
        (col("doc_id") + lit(i * 10_000_000L)).as("doc_id"), col("text"),
        col("lang")))
        .reduce(_ unionByName _)

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    val ops: Seq[(String, DataFrame => Long)] = Seq(
      "simhash_sha_dedup" -> (d =>
        SimHash.nearDuplicatesSha(d, "doc_id", "text").count()),
      "ngram_jaccard_ppjoin" -> (d =>
        Dedup.ngramJaccardPairs(d, "doc_id", "text",
          n = 3, num = 8, den = 10).count()),
      "minhash_pairs" -> (d =>
        Dedup.minhashDedup(d, "doc_id", "text").count()),
      "dedup_clusters" -> (d => Dedup.connectedComponents(
        Dedup.minhashDedup(d, "doc_id", "text")).count()),
      // r5 ops: each bucketed/bounded by design — factors must track the
      // candidate-space growth, never replication²
      "containment_pairs" -> (d =>
        Dedup.containmentPairs(d, "doc_id", "text",
          n = 3, num = 9, den = 10).count()),
      "sorted_neighborhood" -> (d =>
        Dedup.sortedNeighborhoodPairs(d, "doc_id", "text",
          n = 3, win = 3, prefixLen = 8, num = 8, den = 10).count()),
      "boilerplate_removal" -> (d =>
        Dedup.removeBoilerplate(d, "doc_id", "text",
          w = 10, minDf = 2).count()),
      "triangle_counts" -> (d => Dedup.triangleCounts(
        Dedup.minhashDedup(d, "doc_id", "text")).count()),
      "chunk_dup_stats" -> (d =>
        Dedup.chunkDupStats(d, "doc_id", "text", w = 10).count()),
      "substring_dup_stats" -> (d =>
        Dedup.substringDupStats(d, "doc_id", "text", n = 10).count()),
      "frame_sample" -> (d =>
        Multimodal.fromText(d, "doc_id", "text")
          .select(explode(Multimodal.frameSample(col("payload"),
            col("meta.n_frames"))))
          .count()),
      // X12k index-backed streaming ingest dedup, end-to-end through the
      // file source + AvailableNow checkpointed query: 4 micro-batches,
      // state = (bands, base) slices, never corpus text. The factor must
      // track the delta, never corpus² (per-batch corpus re-shingle).
      "stream_inc_dedup_indexed" -> (d => {
        val spark = d.sparkSession
        val root = graft.TempDirs.create("graft-sstress-idx")
        val src = d.select(col("doc_id"), col("text"))
        src.repartition(4).write.mode("overwrite").parquet(s"$root/src")
        val docs = spark.readStream.schema(src.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/src")
        graft.streaming.StreamingPipeline.incrementalDedupIndexed(docs,
          s"$root/index", s"$root/pairs", s"$root/ckpt")
        spark.read.parquet(s"$root/pairs").count()
      }),
      // X12f streaming dedup within watermark on the RocksDB state store:
      // replicas share text, so the dedup KEY set — and therefore the
      // state store and the output — must stay FLAT at Nx input (printed
      // below from the query's own progress); only scan/hash work grows.
      "stream_dedup_watermark" -> (d => {
        val spark = d.sparkSession
        val root = graft.TempDirs.create("graft-wstress")
        val src = d.select(col("doc_id"), col("text"))
        src.repartition(4).write.mode("overwrite").parquet(s"$root/src")
        val ev = spark.readStream.schema(src.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/src")
          .select(
            timestamp_micros(lit(1700000000000000L) +
              pmod(col("doc_id"), lit(60L)) * 1000000L).as("ts"),
            sha2(col("text"), 256).as("k"))
        val out = ev.withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark(Seq("k"))
        // the flat-state evidence below asserts on numRowsTotal, which
        // GraftSession's write-heavy tuning disables (reads -1 otherwise);
        // re-enable the row-count tracking for this one query, as
        // StreamingSpec does
        val trackKey =
          "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
        val trackOld = spark.conf.get(trackKey)
        spark.conf.set(trackKey, "true")
        val n = try {
          val q = out.writeStream.format("memory").queryName("wstress")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", s"$root/ckpt")
            .start()
          q.awaitTermination()
          val stateRows = q.recentProgress.flatMap(_.stateOperators)
            .lastOption.map(_.numRowsTotal).getOrElse(-1L)
          println(s"    stream_dedup_watermark: final state rows = $stateRows")
          spark.table("wstress").count()
        } finally spark.conf.set(trackKey, trackOld)
        spark.sql("DROP TABLE IF EXISTS wstress")
        n
      }),
      // r6 compositions (VERDICT r5 #5): the stress harness covered the
      // COMPONENTS of these two; the compositions get their own entries.
      // Ed-Join at Nx replication is the true-pair worst case: every doc
      // gains N-1 identical twins, so the verified pair count grows
      // ~N²/2 per original pair group — time must track candidate
      // growth, never corpus².
      "edit_distance_pairs" -> (d =>
        Dedup.editDistancePairs(d, "doc_id", "text",
          q = 3, maxDist = 2, prefixChars = 64).count()),
      // r8 bounded-output modes (VERDICT r7 #3). The *_topk forms cap
      // EMITTED rows (<= k per doc) over the exact lossless candidates —
      // compute still tracks the true pair count (inherent to exact
      // mining), so their factors read like the full miners'. The
      // containment GRAPH reuses the capped LSH-bucket machinery, so its
      // factor must read like minhash_pairs' (2-5x), not the exact
      // miners' (35-45x) — that delta IS the measured value of the
      // bounded-compute path.
      "containment_topk" -> (d =>
        Dedup.containmentTopK(d, "doc_id", "text", k = 3,
          n = 3, num = 9, den = 10).count()),
      "containment_graph" -> (d =>
        Dedup.containmentGraph(d, "doc_id", "text", k = 3).count()),
      "edit_distance_topk" -> (d =>
        Dedup.editDistanceTopK(d, "doc_id", "text", k = 3,
          q = 3, maxDist = 2, prefixChars = 64).count()),
      "edit_distance_graph" -> (d =>
        Dedup.editDistanceGraph(d, "doc_id", "text", k = 3).count()),
      // the composed corpus-clean chain (q_corpus_clean's shape): minhash
      // pairs → CC → quality-argmax losers → anti-join survivor gate →
      // per-lang stats. Every stage is bucketed/bounded; the composition
      // must not multiply their costs beyond the pair growth.
      "corpus_clean_composed" -> (d => {
        import graft.ops.llm.TextOps
        val pairs = Dedup.minhashDedup(d, "doc_id", "text")
        val cc = Dedup.connectedComponents(pairs)
        val scored = cc.join(
          d.select(col("doc_id").as("node"),
            TextOps.stopwordCount(col("text"), TextOps.stopEn)
              .as("score")), "node")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("rep")
          .orderBy(col("score").desc, col("node").asc)
        val losers = scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") > 1).select(col("node").as("doc_id"))
        d.join(losers, Seq("doc_id"), "left_anti")
          .select(col("lang"), size(TextOps.tokens(col("text"))).as("nt"))
          .filter(col("nt") >= 20)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
          .count()
      }),
      // L63 CDC/MERGE apply: latest-per-key window + one full-outer
      // sort-merge join — both linear in rows; the factor must track
      // replication (the shuffle), never grow superlinearly
      "cdc_merge_apply" -> (d => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("version").desc, col("op").asc)
        def slice(cond: org.apache.spark.sql.Column, op: String, ver: Int,
            key: org.apache.spark.sql.Column) =
          d.filter(cond).select(key.cast("long").as("doc_id"),
            lit(op).as("op"), lit(ver).as("version"), col("lang"))
        val ch = slice(col("doc_id") % 7 === 0, "U", 1, col("doc_id"))
          .unionByName(slice(col("doc_id") % 14 === 0, "U", 2,
            col("doc_id")))
          .unionByName(slice(col("doc_id") % 13 === 0, "D", 2,
            col("doc_id")))
          .unionByName(slice(col("doc_id") % 11 === 0, "I", 1,
            col("doc_id") + 1000000000L))
        val latest = ch.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn", "version")
        val b = d.select(col("doc_id").as("b_id"), col("lang").as("b_lang"))
        val l = latest.select(col("doc_id").as("l_id"), col("op"),
          col("lang").as("l_lang"))
        b.join(l, b("b_id") === l("l_id"), "full_outer")
          .filter(col("op").isNull || col("op") =!= "D")
          .count()
      }),
      // L67 Viterbi serving: replicas multiply word COUNTS ×N but the
      // distinct-word table — where the vocab fit and every DP runs —
      // is unchanged, so only the corpus word-count scan grows; direct
      // evidence the tokenizer state is vocab-sized, not corpus-sized
      // (the bpe_train_3 claim, serving-side)
      "unigram_viterbi_serve" -> (d =>
        graft.ops.llm.Unigram.pieceFrequencies(d, "text").count()),
      // L66 tercile bucketing: surprisal density is token-explode +
      // two aggs (linear); the per-LANG ranking windows absorb ×N rows
      // each as parallel n log n sorts — never a global single partition
      "ppl_bucket_terciles" -> (d => {
        import graft.ops.llm.TextOps
        val tok = d.select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("term"))
        val tf = tok.groupBy("doc_id", "lang", "term")
          .agg(count(lit(1)).as("tf"))
        val f = tf.groupBy("term").agg(sum("tf").as("freq"))
        val tot = f.agg(sum("freq").cast("double").as("total"))
        val m = f.crossJoin(broadcast(tot)).select(col("term"),
          round(-log(col("freq") / col("total")) * 10000, 0)
            .cast("long").as("micro"))
        val dens = tf.join(m, "term").groupBy("doc_id", "lang")
          .agg((sum(col("tf") * col("micro")) / sum("tf")).cast("long")
            .as("density"))
          .localCheckpoint()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(col("density").asc, col("doc_id").asc)
        val ranked = dens.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")))
        val bounds = ranked.groupBy("lang").agg(
          max(when(col("rn") === expr("(n + 2) div 3"), col("density")))
            .as("b1"),
          max(when(col("rn") === expr("(2 * n + 2) div 3"),
            col("density"))).as("b2"))
        dens.join(broadcast(bounds), "lang")
          .select(when(col("density") <= col("b1"), "head")
            .when(col("density") <= col("b2"), "middle")
            .otherwise("tail").as("bucket"))
          .groupBy("bucket").count().count()
      }),
      // iterative graph op: replicas multiply edge WEIGHTS ×N but the
      // node set (vocabulary) is unchanged, so the 5 Pregel rounds must
      // stay ~flat — only the one-shot edge-mining pass scales with rows
      "textrank_5rounds" -> (d => {
        val pairs = d.select(explode(
            graft.ops.llm.TextOps.shingleStream(col("text"), 2)).as("g"))
          .filter(col("g").contains(" "))
          .select(substring_index(col("g"), " ", 1).as("x"),
            substring_index(col("g"), " ", -1).as("y"))
        graft.ops.TextRank.run(graft.ops.TextRank.withDegree(
          graft.ops.TextRank.edges(pairs, minW = 3)), iters = 5).count()
      }),
      // X12p/X12q/X12r update-mode merge sink (drainUpdateMerge):
      // replicas share text, so the merged STATE TABLE — the thing the
      // production loop persists — must stay FLAT at Nx input (the row
      // count printed IS the distinct-digest count); only the scan/hash
      // work and the per-batch changed-key sets grow. Complete mode
      // would re-emit the whole state per trigger; this op is the
      // evidence the update-mode shape does not.
      "stream_update_merge" -> (d => {
        val sp = d.sparkSession
        val staged = graft.TempDirs.create("graft-stress-upd")
        d.select(col("doc_id"), col("text")).repartition(8)
          .write.mode("overwrite").parquet(staged)
        graft.streaming.StreamingPipeline.drainUpdateMerge(
          sp, staged, "stress_upd", Seq("digest")) { st =>
          st.select(sha2(lower(trim(col("text"))), 256).as("digest"),
              col("doc_id"))
            .groupBy("digest")
            .agg(min("doc_id").as("keep_doc"),
              count(lit(1)).as("n_copies"))
        }.count()
      }),
      // r11 L73: the sparse TF-IDF reranker rides the SAME capped
      // minhash-bucket candidate front-end as knn_graph, so its factor
      // must track the capped candidate growth (the weight join +
      // integer rerank are candidate-sized), never replication²
      "tfidf_knn_graph" -> (d =>
        Dedup.tfidfKnnGraph(d, "doc_id", "text", k = 5).count()),
      // r11 L78: the integer power iteration — replicas multiply the
      // node AND edge sets ~linearly (the graph is built per replica id
      // space), so the 5 rank rounds must stay ~linear in edges, never
      // edges² or rounds×rebuild
      "pagerank_5rounds" -> (d => {
        val g = Dedup.knnGraph(d, "doc_id", "text", k = 5)
          .select(col("doc_id").as("src"), col("nbr_id").as("dst"))
          .localCheckpoint(true)
        val deg = g.groupBy("src").agg(count(lit(1)).as("deg"))
        val edges = g.join(deg, "src").localCheckpoint(true)
        val nodes = g.select(col("src").as("id"))
          .union(g.select(col("dst").as("id")))
          .distinct().localCheckpoint(true)
        var ranks = nodes.select(col("id"), lit(1000000L).as("pr"))
        for (_ <- 1 to 5) {
          val contrib = edges.join(ranks, edges("src") === ranks("id"))
            .select(col("dst").as("id"), expr("pr div deg").as("m"))
            .groupBy("id").agg(sum("m").as("m"))
          ranks = nodes.join(contrib, Seq("id"), "left")
            .select(col("id"),
              (lit(150000L) +
                expr("(850000 * coalesce(m, 0)) div 1000000")).as("pr"))
            .localCheckpoint(true)
        }
        ranks.count()
      }))

    // SPARK_GRAFT_STRESS_ONLY=a,b restricts the run — the isolation probe
    // (one op, fresh JVM) that adjudicates whether a drifted reading is
    // the op or the session it shared (preceding ops' leftover state,
    // retained index bases, GC debt).
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(ops)(names => ops.filter(o => names(o._1)))

    println(s"corpus: $base docs (1x) vs ${base * factor} (${factor}x)")
    val results = selected.map { case (name, op) =>
      val d1 = replicate(1).localCheckpoint()
      val (t1, n1) = time(op(d1))
      val dN = replicate(factor).localCheckpoint()
      val (tN, nN) = time(op(dN))
      println(f"$name%-20s 1x: $t1%6.1fs ($n1%8d rows)   " +
        f"${factor}x: $tN%6.1fs ($nN%8d rows)   factor ${tN / t1}%5.1fx")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      (name, t1, n1, tN, nN)
    }
    jsonOut.foreach { path =>
      val entries = results.map { case (name, t1, n1, tN, nN) =>
        f"""    "$name": {"t_1x_sec": $t1%.2f, "rows_1x": $n1, """ +
          f""""t_${factor}x_sec": $tN%.2f, "rows_${factor}x": $nN, """ +
          f""""time_factor": ${tN / t1}%.2f, """ +
          f""""row_factor": ${nN.toDouble / math.max(1L, n1)}%.2f}"""
      }.mkString(",\n")
      val doc =
        s"""{
           |  "sf_dir": "$sfDir",
           |  "base_docs": $base,
           |  "replication": $factor,
           |  "cpus": ${Runtime.getRuntime.availableProcessors()},
           |  "note": "time_factor << replication^2 (pairs) or ~linear (scans) backs the sublinearity claims; row_factor is the true pair growth the miner had to absorb",
           |  "ops": {
           |$entries
           |  }
           |}
           |""".stripMargin
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), doc)
      println(s"wrote $path")
    }
    spark.stop()
  }
}
