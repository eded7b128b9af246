package graft.ops.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dedup tier: exact dedup groups true duplicates, MinHash-LSH finds
  * planted near-dups (and agrees with the exact inverted-index Jaccard on
  * the same threshold), and the fast xxhash signature path preserves the
  * MinHash agreement property.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "spark merges batches of rows into partitions for every shuffle stage"
  // suffix-append near-dup: shares 8 of 9 shingles → jaccard ≈ 0.89, above
  // the r=2 LSH S-curve knee (a mid-0.5 jaccard pair may legitimately miss)
  private val nearDup = base + " again"
  private val unrelated =
    "completely different words about cooking pasta with fresh tomatoes"

  private def docs = Seq(
    (1L, base), (2L, base.toUpperCase), // exact dups modulo case
    (3L, nearDup),
    (4L, unrelated),
    (5L, "tiny doc")
  ).toDF("doc_id", "text")

  test("exact dedup groups case-insensitive duplicates") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L) // docs 1+2 collapse, keeper = min id
    assert(out.values.sum == 5L)
    assert(out.size == 4)
  }

  test("minhash LSH finds the planted near-dup pair") {
    val pairs = Dedup.minhashDedup(docs, "doc_id", "text",
        n = 3, bands = 4, num = 5, den = 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near-dup pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must not pair")
  }

  test("LSH candidates verified by exact jaccard agree with inverted-index pairs") {
    val lsh = Dedup.minhashDedup(docs, "doc_id", "text",
        n = 3, bands = 4, num = 5, den = 10)
      .select("a", "b", "inter", "uni")
      .as[(Long, Long, Int, Int)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, num = 5, den = 10)
      .select("a", "b", "inter", "uni")
      .as[(Long, Long, Int, Int)].collect().toSet
    // LSH output ⊆ exact output (same verify threshold), and here the
    // bands are generous enough to reach full recall.
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
  }

  test("knnGraph: exact dup is the rank-1 neighbor in BOTH directions") {
    val g = Dedup.knnGraph(docs, "doc_id", "text", k = 5)
      .select("doc_id", "nbr_id", "rnk", "jac_ppm")
      .as[(Long, Long, Int, Long)].collect()
    val byDoc = g.groupBy(_._1)
    // exact dup (1,2): each is the other's nearest neighbor at ppm 1e6
    assert(byDoc(1L).exists(e => e._2 == 2L && e._3 == 1 &&
      e._4 == 1000000L), s"doc 1 top: ${byDoc(1L).toSeq}")
    assert(byDoc(2L).exists(e => e._2 == 1L && e._3 == 1 &&
      e._4 == 1000000L), s"doc 2 top: ${byDoc(2L).toSeq}")
    // the graph is threshold-free: the near-dup edge carries its true
    // sub-threshold-or-not similarity rather than being cut
    assert(g.forall { case (d, n, _, _) => d != n }, "no self edges")
    // ranks are dense and ordered by non-increasing ppm within each doc
    byDoc.values.foreach { es =>
      val sorted = es.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to es.length).toSeq)
      val ppms = sorted.map(_._4)
      assert(ppms.zip(ppms.drop(1)).forall { case (x, y) => x >= y })
    }
    // unrelated doc 4 shares no bucket with the dup cluster
    assert(!g.exists(e => e._1 == 4L && Set(1L, 2L, 3L)(e._2)),
      s"unrelated doc gained a cluster edge: ${g.toSeq}")
  }

  test("knnCandidates: hot-bucket cap bounds a degenerate duplicate family") {
    // 1000 identical docs — the adversarial corpus for a threshold-free
    // graph build: every band has ONE bucket holding all 1000, so the
    // uncapped candidate join is quadratic (1000·999 ordered pairs).
    // The cap must bound candidates to ~n·cap while keeping every doc
    // on the probe side.
    val fam = (1L to 1000L)
      .map(i => (i, "all of these documents carry exactly the same text"))
      .toDF("doc_id", "text")
    val bands = Dedup.minhashIndex(fam, "doc_id", "text")._1
      .localCheckpoint()
    val uncapped = Dedup.knnCandidates(bands, Int.MaxValue).count()
    assert(uncapped == 999000L, s"degenerate family must be quadratic " +
      s"uncapped, got $uncapped")
    val capped = Dedup.knnCandidates(bands, 32)
    // the cap trigger must be OBSERVED: 1000 identical docs share one
    // bucket per band (4 bands) and every one is oversize
    var cappedN = 0L
    val observed = observedDuring { cappedN = capped.count() }
    assert(observed.get("graft_knn_bucket_cap")
      .exists(_.getLong(0) == 4L),
      s"expected 4 at-cap buckets observed: $observed")
    // ≤ cap partners per doc per band (4 bands; distinct() may merge)
    assert(cappedN <= 1000L * 32 * 4,
      s"capped candidates $cappedN exceed the n·cap·bands bound")
    assert(cappedN < uncapped / 5,
      s"cap had no effect: $cappedN vs $uncapped")
    // coverage: every doc still probes — only partner CHOICE is sampled
    assert(capped.select("a").distinct().count() == 1000L)
    // determinism: the sampled partner set is stable across reruns
    assert(Dedup.knnCandidates(bands, 32).count() == cappedN)
    // the capped family must stay CONNECTED — CC consumers (dedup
    // clusters, k-core) rely on a hot clique not fragmenting under the
    // partner-sample cap (every probe reaches the shared survivor set)
    val reps = Dedup.connectedComponents(capped)
      .select("rep").distinct().count()
    assert(reps == 1L,
      s"capped hot bucket fragmented into $reps components")
  }

  test("knnGraph: default hot-bucket cap is a no-op on organic data") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    def run(cap: Int) =
      Dedup.knnGraph(d, "doc_id", "text", k = 5, maxBucket = cap)
        .select("doc_id", "nbr_id", "rnk", "jac_ppm")
        .as[(Long, Long, Int, Long)].collect().toSet
    assert(run(4096) == run(Int.MaxValue),
      "default cap changed results on a normal corpus")
  }

  test("connected components: min-label propagation over pair chains") {
    // chain 1-2-3 plus isolated pair (7,9): components {1,2,3} and {7,9}
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 9L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connected components: strict mode is loud on a starved budget") {
    // a 64-node path needs ~log2(64) pointer-jump rounds; maxIter = 1
    // cannot converge — strict must THROW (r14 ADVICE: a silently
    // unconverged label table corrupts Borůvka's contraction), while the
    // default lenient mode returns the partial labels as before.
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxIter = 1, strict = true)
    }
    assert(e.getMessage.contains("did not converge"))
    // and with the real budget strict converges to the single component
    val cc = Dedup.connectedComponents(path, maxIter = 64, strict = true)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(1L) && cc.size == 64)
  }

  test("tokenChunks: full non-overlapping windows only, short docs empty") {
    val d = Seq((1L, "a b c d e f g"), (2L, "a b")).toDF("doc_id", "text")
    val out = d.select(d("doc_id"),
        TextOps.tokenChunks(d("text"), 3).as("ch"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("a b c", "d e f")) // trailing "g" dropped
    assert(out(2L).isEmpty) // fewer than w tokens → no chunks
  }

  test("chunkDupStats counts corpus-wide chunk duplication per doc") {
    // docs 1 and 2 share their first 3-token chunk; doc 3 is unique
    val d = Seq(
      (1L, "shared prefix tokens unique tail one"),
      (2L, "shared prefix tokens other ending two"),
      (3L, "completely different words entirely here now")
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDupStats(d, "doc_id", "text", w = 3)
      .select("doc_id", "n_chunks", "dup_chunks")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((2L, 1L)))
    assert(out(2L) == ((2L, 1L)))
    assert(out(3L) == ((2L, 0L)))
  }

  test("substringDupStats: sliding windows catch offset-shifted copies") {
    // doc 2 repeats doc 1's text at a shifted offset (prefix added) — a
    // blocked chunking would miss it; sliding 3-grams must not.
    // doc 2's trigrams also repeat internally (same clause twice), which
    // must NOT count: only cross-doc occurrence qualifies.
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zzz alpha beta gamma delta epsilon alpha beta gamma delta epsilon"),
      (3L, "unrelated words completely different here")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupStats(d, "doc_id", "text", n = 3)
      .select("doc_id", "n_shingles", "dup_shingles")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((3L, 3L)), s"all of doc 1 is inside doc 2: $out")
    assert(out(3L)._2 == 0L, "unrelated doc must have no cross-doc dups")
    assert(out(2L)._2 == 3L,
      s"only doc-1-shared trigrams are cross-doc dups: $out")
  }

  test("keepBestPerCluster picks the argmax-score member, ties to min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val docs = Seq((1L, 5), (2L, 9), (3L, 9), (7L, 4), (9L, 4))
      .toDF("doc_id", "score")
    val out = Dedup.keepBestPerCluster(pairs, docs, "doc_id", docs("score"))
      .select("cluster_rep", "keep_id", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    // cluster {1,2,3}: 2 and 3 tie at 9 → keep 2; cluster {7,9}: tie → 7
    assert(out == Set((1L, 2L, 3L), (7L, 7L, 2L)))
  }

  test("minhashCalibration: exact dups estimate 1000 permille, est ~ exact") {
    val out = Dedup.minhashCalibration(docs, "doc_id", "text",
        n = 3, bands = 4, num = 5, den = 10)
      .select("a", "b", "est_permille", "jac_permille")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out((1L, 2L)) == ((1000L, 1000L))) // identical shingle sets
    // the near-dup pair's estimate is a multiple of 125 within one
    // signature step of the true jaccard direction (estimator sanity)
    out.values.foreach { case (est, jac) =>
      assert(est % 125 == 0 && est >= 0 && est <= 1000)
      assert(jac >= 500, s"verified pair below threshold: $jac")
    }
  }

  test("triangleCounts: cliques counted once each, chains triangle-free") {
    // 4-clique on {1..4}: 4 triangles, each node in C(3,2)=3 of them;
    // the 10-11-12 chain closes nothing and must not appear
    val edges = (for { a <- 1 to 4; b <- a + 1 to 4 }
      yield (a.toLong, b.toLong)) ++ Seq((10L, 11L), (11L, 12L))
    val out = Dedup.triangleCounts(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $out")
  }

  test("containment: excerpt found one-directionally, Jaccard-invisible") {
    // doc 2 embeds doc 1 verbatim inside much more text: containment
    // (1 in 2) is 1.0 while symmetric Jaccard is ~0.2 — the case the
    // subset-dup signal exists for. Direction matters: (2 in 1) fails.
    val small = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 30).map(i => s"filler$i").mkString(" ")
    val d = Seq(
      (1L, small),
      (2L, small + " " + filler),
      (3L, "unrelated words entirely about other topics")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, "doc_id", "text",
        n = 3, num = 9, den = 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)), s"got $out")
    // sanity: the same pair is invisible to symmetric Jaccard at 0.8
    val jac = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 8, 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("sortedNeighborhood: adjacent-key near-dups found, candidates bounded") {
    // doc 3 appends a LATE-sorting token, so its canonical key shares the
    // block prefix with docs 1/2 and the three sort adjacent; a token that
    // sorted first would move doc 3 to another block — the documented
    // blocked-SNM recall tradeoff (covered by the PPJoin/LSH miners).
    val d = Seq(
      (1L, base), (2L, base.toUpperCase),
      (3L, base + " zzz"),
      (4L, unrelated),
      (5L, "tiny doc")).toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(d, "doc_id", "text",
        n = 3, win = 3, prefixLen = 8, num = 5, den = 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"exact dup pair missed: $pairs")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"near-dup pair missed: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc must not pair: $pairs")
    // the candidate space is win×N by construction — verified pairs can
    // never exceed it (skew-immunity, unlike a hot-shingle posting join)
    assert(pairs.size <= 3 * 5)
  }

  test("removeBoilerplate: shared chunks drop, unique chunks survive in order") {
    // w=2 chunks; "nav bar" and "foot er x" appear in several docs (the
    // boilerplate), each doc keeps its unique middle. doc 4 is ALL
    // boilerplate → clean_sha must be sha2("") not null; doc 5 is too
    // short for one chunk → absent from the output.
    val d = Seq(
      (1L, "nav bar alpha beta foot er"),
      (2L, "nav bar gamma delta foot er"),
      (3L, "nav bar epsilon zeta foot er"),
      (4L, "nav bar foot er"),
      (5L, "tiny")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplate(d, "doc_id", "text", w = 2, minDf = 2)
      .select("doc_id", "n_units", "n_boiler", "clean_sha")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L)._1 == 3 && out(1L)._2 == 2)
    assert(out(4L) == ((2L, 2L, shaHex(""))))
    assert(out(1L)._3 == shaHex("alpha beta"))
    assert(out(2L)._3 == shaHex("gamma delta"))
    // a doc where boilerplate separates two kept chunks keeps their order
    val d2 = Seq(
      (1L, "aa bb nav bar cc dd"),
      (2L, "zz yy nav bar xx ww")).toDF("doc_id", "text")
    val out2 = Dedup.removeBoilerplate(d2, "doc_id", "text", w = 2, minDf = 2)
      .select("doc_id", "clean_sha").as[(Long, String)].collect().toMap
    assert(out2(1L) == shaHex("aa bb cc dd"))
    assert(out2(2L) == shaHex("zz yy xx ww"))
  }

  private def shaHex(s: String): String = {
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("bounded-output miners: top-k cut caps emitted rows on a degenerate family") {
    // 120 near-identical docs (an adversarial mutual-containment family):
    // the full miners emit ~120² pairs; the topK forms must emit <= k per
    // doc while every doc still surfaces with its best partners.
    val fam = (0 until 120).map(i =>
      (i.toLong, base + s" tail${i % 3}")).toDF("doc_id", "text")
    val ck = Dedup.containmentTopK(fam, "doc_id", "text", k = 2,
        n = 3, num = 8, den = 10)
      .select("a", "b", "rnk").as[(Long, Long, Int)].collect()
    assert(ck.nonEmpty && ck.length <= 120 * 2,
      s"containment cut failed: ${ck.length} rows")
    assert(ck.map(_._1).distinct.length == 120, "every doc keeps partners")
    assert(ck.forall(_._3 <= 2))
    val full = Dedup.containmentPairs(fam, "doc_id", "text",
      n = 3, num = 8, den = 10).count()
    assert(full > 120L * 2, s"fixture not degenerate enough: $full pairs")
    val ek = Dedup.editDistanceTopK(fam, "doc_id", "text", k = 2,
        q = 3, maxDist = 2, prefixChars = 64)
      .select("doc_id", "nbr_id", "rnk", "dist")
      .as[(Long, Long, Int, Int)].collect()
    assert(ek.nonEmpty && ek.length <= 120 * 2,
      s"edit-distance cut failed: ${ek.length} rows")
    assert(ek.map(_._1).distinct.length == 120)
    // ranks order by distance: a doc's rank-1 neighbor is never farther
    // than its rank-2
    ek.groupBy(_._1).values.foreach { es =>
      val s = es.sortBy(_._3)
      assert(s.map(_._4).toSeq == s.map(_._4).sorted.toSeq)
    }
  }

  test("rrfFusionGraph: parity with fusing the two standalone rankers") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.table(spark, sf0001, "documents")
    val got = Dedup.rrfFusionGraph(d, "doc_id", "text",
        kJac = 5, kCont = 3, kOut = 3)
      .as[(Long, Long, Int, Long)].collect().toSet
    // compositional path: run each ranker through its OWN candidate
    // pass and fuse by hand — must agree with the shared-pass form
    // (the caps are not binding at this scale, so both candidate sets
    // coincide)
    def contrib(r: Int): Long = math.round(1000000d / (60 + r))
    val jac = Dedup.knnGraph(d, "doc_id", "text", k = 5)
      .select("doc_id", "nbr_id", "rnk").as[(Long, Long, Int)].collect()
      .map(e => (e._1, e._2) -> contrib(e._3)).toMap
    val con = Dedup.containmentGraph(d, "doc_id", "text", k = 3)
      .select("a", "b", "rnk").as[(Long, Long, Int)].collect()
      .map(e => (e._1, e._2) -> contrib(e._3)).toMap
    val fused = (jac.keySet ++ con.keySet).toSeq
      .map(k => (k._1, k._2,
        jac.getOrElse(k, 0L) + con.getOrElse(k, 0L)))
    val expected = fused.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (-e._3, e._2)).zipWithIndex.take(3)
        .map { case ((a, b, s), i) => (a, b, i + 1, s) }
    }.toSet
    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("tfidfKnnGraph: scores and top-k match a plain-Scala reranker") {
    val d = graft.Tables.table(spark, sf0001, "documents")
    val got = Dedup.tfidfKnnGraph(d, "doc_id", "text", k = 5)
      .select("doc_id", "nbr_id", "rnk", "cos_micro")
      .as[(Long, Long, Int, Long)].collect()
    assert(got.nonEmpty)
    def r0(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // plain-Scala integer tf-idf vectors over the whole corpus
    val toks = d.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+", -1).toSeq }.toMap
    val n = toks.size.toLong
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (w, v) => w -> v.size.toLong }
    val wts: Map[Long, Map[String, Long]] = toks.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (w, v) =>
          w -> v.size.toLong * r0(10000d * math.log(n.toDouble / dfm(w))) }
        .filter(_._2 != 0L)
    }
    def cos(a: Long, b: Long): Long = {
      val (wa, wb) = (wts(a), wts(b))
      val dot = wa.keysIterator.filter(wb.contains)
        .map(k => wa(k) * wb(k)).sum
      r0(1000000d * dot.toDouble /
        (math.sqrt(wa.values.map(v => v * v).sum.toDouble) *
          math.sqrt(wb.values.map(v => v * v).sum.toDouble)))
    }
    // the full candidate set is knnGraph's output at an unreachable k
    // (same front-end, same caps); expected = each doc's partners
    // re-ranked by the plain-Scala cosine, top 5
    val cand = Dedup.knnGraph(d, "doc_id", "text", k = 1000000)
      .select("doc_id", "nbr_id").as[(Long, Long)].collect()
    val expected = cand.groupBy(_._1).toSeq.flatMap { case (a, es) =>
      if (wts(a).isEmpty) Seq.empty[(Long, Long, Int, Long)]
      else es.map(_._2).distinct.filter(b => wts(b).nonEmpty).sorted.toSeq
        .map(b => (b, cos(a, b)))
        .sortBy(e => (-e._2, e._1)).take(5).zipWithIndex
        .map { case ((b, c), i) => (a, b, i + 1, c) }
    }.toSet
    assert(got.toSet == expected)
  }
}
