package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.llm.Dedup

/** Distributed minimum-spanning-forest (Borůvka) and the single-linkage
  * hierarchical clustering it enables.
  *
  * Borůvka is THE shuffle-friendly MST algorithm: every round each
  * component picks its cheapest outgoing edge (one keyed aggregate),
  * the picked edges merge components (one connected-components pass on
  * the COMPONENT graph — at most one edge per component, so it is
  * forest-sized, never corpus-sized), and the component count at least
  * halves, so the loop is O(log V) rounds of linear work. No
  * priority queue, no sequential edge scan — Kruskal and Prim do not
  * distribute; Borůvka is nothing but groupBy/join.
  *
  * Weight ties are broken by the total order (w, a, b), which makes the
  * forest deterministic under any partitioning. The DOWNSTREAM result is
  * tie-break-invariant anyway: for every threshold t, the connected
  * components of {forest edges with w ≤ t} equal the components of
  * {graph edges with w ≤ t} — the classic single-linkage/MST
  * equivalence — which is exactly what lets an O(log V)-round forest
  * 1000× smaller than the graph answer EVERY dendrogram cut, and what
  * the DuckDB oracle verifies from the direct definition.
  */
object Mst {

  /** Checkpoint a loop-carried frame AND reset its Catalyst stats.
    * Borůvka nests iteration (rounds × CC contraction), and
    * size-in-bytes estimates compound multiplicatively through joins
    * across checkpoints — geometric digit growth that turns stats
    * visits into minutes of BigInteger math after a few rounds (see
    * Bridge.resetStats). The estimate is meaningless for these frames;
    * AQE re-plans from real runtime sizes.
    */
  private def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.resetStats(df.localCheckpoint(true))

  /** Minimum spanning forest of an undirected weighted graph.
    *
    * The returned frame is a lazy union of up to `maxRounds` per-round
    * checkpointed parts: a multi-consumer caller should
    * checkpoint it once (as [[singleLinkage]] does) — consuming the raw
    * union repeatedly re-reads every per-round checkpoint block and
    * pins them until the last consumer finishes.
    *
    * @param edges (a: long, b: long, w: long) with a < b, no self loops,
    *              one row per undirected edge
    * @return the forest subset of `edges`, same columns
    */
  def boruvka(edges: DataFrame, maxRounds: Int = 30): DataFrame = {
    val e0 = ckpt(edges.select(col("a"), col("b"), col("w")))
    // node -> component label, init: every node its own component
    var labels = ckpt(e0.select(col("a").as("node"))
      .union(e0.select(col("b").as("node")))
      .distinct()
      .withColumn("comp", col("node")))
    // Forest rows accumulate LAZILY: each round's
    // picked frame is already eagerly checkpointed, so re-checkpointing
    // the growing union every round was one extra full job per round
    // for data that nothing reads until the loop ends.
    var forestParts = List.empty[DataFrame]
    var round = 0
    var picked0 = 0L
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      // edges whose endpoints sit in different components. NOT
      // materialized on its own: the only consumers
      // are the two directional selects inside `cand` below — computing
      // the label join twice inside the ONE picked job is cheaper than
      // a separate checkpoint job + count job per round (the join output
      // is never reused across jobs). Convergence is read off `picked`
      // instead: picked is empty iff no crossing edge exists (every
      // crossing edge belongs to at least one component's minimum).
      val cross = e0
        .join(labels.select(col("node").as("a"), col("comp").as("ca")),
          "a")
        .join(labels.select(col("node").as("b"), col("comp").as("cb")),
          "b")
        .filter(col("ca") =!= col("cb"))
      // each component's cheapest outgoing edge under the (w, a, b)
      // total order — min(struct) keeps the whole edge in one agg
      val cand = cross
        .select(col("ca").as("comp"), col("w"), col("a"), col("b"),
          col("cb").as("other"))
        .unionByName(cross.select(col("cb").as("comp"), col("w"),
          col("a"), col("b"), col("ca").as("other")))
      // row count rides the checkpoint via Observation (the same
      // fusion as the CC loop): the separate count() was one extra
      // driver-scheduled job per round on a forest-sized frame
      val pickedObs = new org.apache.spark.sql.Observation()
      val picked = cand.groupBy("comp")
        .agg(min(struct(col("w"), col("a"), col("b"),
          col("comp").as("self"), col("other"))).as("m"))
        .select(col("m.a").as("a"), col("m.b").as("b"),
          col("m.w").as("w"), col("m.self").as("ca"),
          col("m.other").as("cb"))
        // the same edge picked from both of its components appears
        // twice (once per direction) — one forest row per edge
        .groupBy("a", "b", "w")
        .agg(min("ca").as("ca"), max("cb").as("cb"))
        .observe(pickedObs, count(lit(1)).as("n"))
        .localCheckpoint(true) // per-round scratch; feeds 2 consumers
      picked0 = pickedObs.get("n").asInstanceOf[Long]
      if (picked0 == 0L) done = true
      else {
        forestParts = forestParts :+ picked.select(col("a"), col("b"),
          col("w"))
        // contract: the picked edges link components; their connected
        // components (component-graph-sized — ≤ 1 edge per component)
        // become the next round's labels. STRICT convergence with a
        // 64-round pointer-jump budget (covers diameters to ~2^64, i.e.
        // any physical graph): a weight-monotone chain makes this
        // picked-edge graph a PATH, and a silently-unconverged label
        // table here leaves one merged component under two labels — the
        // merging edge is then re-picked next round and the forest gains
        // a duplicate row. Loud beats wrong.
        // `picked` is already checkpointed and counted, so CC skips its
        // own input checkpoint + sizing count (two jobs per round).
        val merged = Dedup.connectedComponents(
          picked.select(col("ca").as("a"), col("cb").as("b")),
          maxIter = 64, strict = true,
          preMaterialized = true, knownEdgeCount = picked0)
        labels = ckpt(labels
          .join(merged.select(col("node").as("comp"), col("rep")),
            Seq("comp"), "left")
          .select(col("node"), coalesce(col("rep"), col("comp"))
            .as("comp")))
      }
    }
    require(picked0 == 0L,
      s"boruvka did not converge in $maxRounds rounds")
    if (forestParts.isEmpty) e0.filter(lit(false))
    else forestParts.reduce(_ unionByName _)
  }

  /** Single-linkage clustering at each of `cuts` thresholds, computed
    * once from the minimum spanning forest: the components of
    * {forest edges w ≤ t} are provably the components of
    * {graph edges w ≤ t}, so one O(log V) forest build answers every
    * dendrogram level with a forest-sized (≤ V−1 edges) CC each — the
    * graph's full edge set is scanned exactly once, by the MST build.
    *
    * @return (cut: long, node: long, rep: long) — rep is the component's
    *         min node id; nodes isolated at a cut keep rep = node
    */
  def singleLinkage(edges: DataFrame, cuts: Seq[Long]): DataFrame = {
    require(cuts.nonEmpty,
      "singleLinkage needs at least one cut threshold")
    val forest = ckpt(boruvka(edges))
    val nodes = ckpt(edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node")))
      .distinct())
    // ONE label-propagation run answers EVERY cut:
    // per-cut CC loops are pure fixed cost on a forest-sized graph
    // (~8-10 driver-scheduled jobs each), and the cut graphs are
    // independent, so they batch: tag each forest edge with every cut it
    // survives and pack (node, cutIdx) into one id — node·|cuts|+cutIdx
    // (disjoint per cut, so components never bridge cuts, and min-label
    // over the packed id is min-label per (cut, node) because the
    // cutIdx offset is constant within a cut's subgraph). Pointer
    // jumping converges in max-over-cuts rounds instead of
    // sum-over-cuts. Falls back to the per-cut loop when packing could
    // overflow (ids above ~2^62/|cuts| — never for document ids, but
    // the op must not silently corrupt on hash-shaped ids).
    val n = cuts.size
    val (minId, maxId) = nodes
      .agg(min(col("node")), max(col("node"))).head() match {
        case r if r.isNullAt(0) => (0L, 0L)
        case r => (r.getLong(0), r.getLong(1))
      }
    if (maxId <= (Long.MaxValue - (n - 1)) / n && minId >= 0L) {
      val cutsArr = array(cuts.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("cut"), lit(i.toLong).as("ci"))
      }: _*)
      val tagged = forest
        .select(col("a"), col("b"), col("w"),
          explode(cutsArr).as("c"))
        .filter(col("w") <= col("c.cut"))
        .select((col("a") * n + col("c.ci")).as("a"),
          (col("b") * n + col("c.ci")).as("b"))
      // a thresholded FOREST can be a maximal-diameter path, so the
      // batched CC gets the same strict 64-round pointer-jump budget as
      // the Borůvka contraction (default 20 covers only ~2^20 diameters)
      val cc = Dedup.connectedComponents(tagged, maxIter = 64,
        strict = true)
        .select((col("node") % n).as("ci"),
          expr(s"node div $n").as("node"),
          expr(s"rep div $n").as("rep"))
      val grid = nodes.select(col("node"), explode(cutsArr).as("c"))
        .select(col("node"), col("c.cut").as("cut"),
          col("c.ci").as("ci"))
      grid.join(cc, Seq("ci", "node"), "left")
        .select(col("cut"), col("node"),
          coalesce(col("rep"), col("node")).as("rep"))
    } else cuts.map { t =>
      val cc = Dedup.connectedComponents(
        forest.filter(col("w") <= t).select(col("a"), col("b")),
        maxIter = 64, strict = true)
      nodes.join(cc, Seq("node"), "left")
        .select(lit(t).as("cut"), col("node"),
          coalesce(col("rep"), col("node")).as("rep"))
    }.reduce(_ unionByName _)
  }
}
