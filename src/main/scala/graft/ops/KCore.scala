package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling: the cohesion view of a graph — the maximal subgraph
  * in which every node keeps at least k neighbors. In the dedup pair
  * graph the 2-core separates true duplicate CLUSTERS (mutually
  * supported by several near-dup edges) from incidental one-edge
  * bridges; it completes the graph-analytics family next to CC,
  * PageRank, HITS, label propagation, triangles, and the MST.
  *
  * Execution shape: each round is one (edges ⋈ alive ⋈ alive) keyed
  * degree aggregate + a filter — all equi-joins on node ids, no
  * windows, no driver-side state. The round count is FIXED (a
  * constructor argument, not a convergence probe) so the DuckDB oracle
  * can unroll the identical recurrence as CTE rounds; peeling is
  * monotone (alive sets only shrink) and idempotent at the fixpoint,
  * so any rounds ≥ the peel depth gives the true k-core — KCoreSpec
  * pins the idempotence and the gate query carries 2 spare rounds over
  * the observed depth.
  *
  * Fixpoint observability: a fixed round count
  * under-provisioned for the data-dependent peel depth silently returns
  * a SUPERGRAPH of the true k-core. [[peelAudited]] therefore records
  * each round's survivor count — the rounds are eagerly checkpointed,
  * so each count is a cached-partition scan — and certifies the
  * fixpoint from the monotone-shrink property: the alive sets are
  * nested, so equal consecutive COUNTS mean equal SETS mean one more
  * round would change nothing. [[peel]] keeps the plain-DataFrame
  * contract but warns loudly when the certificate fails.
  */
object KCore {

  /** The peel result plus its per-round survivor counts
    * (`aliveCounts(0)` = initial node count, then one entry per round).
    */
  final case class PeelAudit(core: DataFrame, aliveCounts: Seq[Long]) {

    /** True when the final two rounds kept the same survivor count —
      * the monotone peel's fixpoint certificate (alive sets are nested,
      * so equal counts ⇒ equal sets ⇒ idempotence from here on). False
      * when the peel was still shrinking at the last provisioned round
      * (the result is then only an upper bound on the k-core) and for
      * rounds = 0 (nothing to certify).
      */
    def atFixpoint: Boolean =
      aliveCounts.size >= 2 &&
        aliveCounts(aliveCounts.size - 1) == aliveCounts(aliveCounts.size - 2)
  }

  /** Nodes of the k-core after exactly `rounds` peel rounds, with their
    * within-core degree. Warns on stderr when the provisioned rounds did
    * not reach the fixpoint (see [[PeelAudit.atFixpoint]]).
    *
    * @param pairs undirected edges (a, b), one row per edge
    * @return (node, deg_core)
    */
  def peel(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val audit = peelAudited(pairs, k, rounds)
    if (rounds > 0 && !audit.atFixpoint)
      System.err.println(
        s"[graft] KCore.peel: still shrinking after $rounds rounds " +
          s"(alive counts ${audit.aliveCounts.mkString(",")}); the result " +
          "is a SUPERSET of the true k-core — raise `rounds`")
    audit.core
  }

  /** [[peel]] with the per-round survivor counts exposed, so callers
    * (and KCoreSpec at the gate parameterization) can assert the
    * fixpoint was actually reached rather than trusting the margin.
    */
  def peelAudited(pairs: DataFrame, k: Int, rounds: Int): PeelAudit = {
    require(k >= 1, s"k must be at least 1, got $k")
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    val p = pairs.select(col("a"), col("b")).localCheckpoint(true)
    val edges = p
      .union(p.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var alive = edges.select(col("a").as("node")).distinct()
      .localCheckpoint(true)
    val counts = scala.collection.mutable.ArrayBuffer(alive.count())
    for (_ <- 1 to rounds) {
      alive = edges
        .join(alive.select(col("node").as("a")), "a")
        .join(alive.select(col("node").as("b")), "b")
        .groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("node")
        .localCheckpoint(true)
      counts += alive.count()
    }
    val core = edges.join(alive.select(col("node").as("a")), "a")
      .join(alive.select(col("node").as("b")), "b")
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg_core"))
    PeelAudit(core, counts.toSeq)
  }
}
