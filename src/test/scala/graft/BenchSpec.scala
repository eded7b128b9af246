package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the contract `tools/bench_gate.py` relies on: its tier 2 reads
  * a per-query time as "slow on both runs" only because Bench reruns
  * every time the gate could flag and publishes min(first, rerun).
  */
class BenchSpec extends AnyFunSuite {

  // The gate's thresholds, read from the gate itself so this spec fails
  // when they move without Bench's retry rule following.
  private lazy val gate: String = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("tools/bench_gate.py")), "UTF-8")
  private def const(name: String): Double =
    (s"(?m)^$name = ([0-9.]+)").r.findFirstMatchIn(gate)
      .getOrElse(fail(s"$name not found in tools/bench_gate.py"))
      .group(1).toDouble
  private lazy val ratio = const("RATIO")
  private lazy val absFloor = const("ABS_FLOOR")
  private lazy val relRatio = const("REL_RATIO")
  private lazy val specialRel: Map[String, Double] =
    "\"([a-z0-9_]+)\": ([0-9.]+)".r
      .findAllMatchIn("(?m)^SPECIAL_REL = \\{[^}]*\\}".r
        .findFirstIn(gate).getOrElse(fail("SPECIAL_REL not found")))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  private def gateFlags(name: String, t: Double, b: Double): Boolean =
    (t > ratio * b && t - b > absFloor) ||
      t > specialRel.getOrElse(name, relRatio) * b

  test("every time bench_gate would flag is retry-eligible") {
    assert(specialRel == Map("q_pipeline_incremental" -> 1.75))
    val eps = 1e-6
    val names = Seq("q_ndcg", "q_pipeline_incremental")
    val bases = Seq(0.05, 0.3, 1.0, 4.0, 10.0)
    val cases = for {
      name <- names
      b <- bases
      rel = specialRel.getOrElse(name, relRatio)
      // each side of each gate boundary: the tier-1 ratio, the tier-1
      // absolute excess, and the tier-2 ratio
      edge <- Seq(ratio * b, b + absFloor, rel * b)
      t <- Seq(edge - eps, edge + eps)
    } yield (name, t, b)
    val flagged = cases.filter { case (n, t, b) => gateFlags(n, t, b) }
    assert(flagged.nonEmpty && flagged.size < cases.size)
    flagged.foreach { case (n, t, b) =>
      assert(Bench.retryEligible(n, t, b),
        s"bench_gate flags $n at $t s vs baseline $b s, but Bench never reruns it")
    }
  }

  test("retryEligible: each side of its own boundaries") {
    // 1.5x with more than 0.3 s excess
    assert(Bench.retryEligible("q_x", 1.51, 1.0))
    assert(!Bench.retryEligible("q_x", 1.49, 1.0))
    assert(Bench.retryEligible("q_x", 10.0 + 5.01, 10.0))
    assert(!Bench.retryEligible("q_x", 1.5 * 0.5 + 0.01, 0.5)) // 0.26 s excess
    // relative-only 2x tier below the floor; 1.75x for the flagship loop
    assert(Bench.retryEligible("q_x", 0.21, 0.1))
    assert(!Bench.retryEligible("q_x", 0.19, 0.1))
    assert(Bench.retryEligible("q_pipeline_incremental", 0.18, 0.1))
    assert(!Bench.retryEligible("q_pipeline_incremental", 0.17, 0.1))
  }

  test("fold publishes min(first, rerun) only for a successful rerun") {
    val results = Seq("q_a" -> 3.0, "q_b" -> 3.0, "q_c" -> 3.0, "q_d" -> 3.0)
    val retried = Map("q_a" -> (3.0, 1.0), "q_b" -> (3.0, 4.0),
      "q_c" -> (3.0, -1.0))
    assert(Bench.fold(results, retried) ==
      Seq("q_a" -> 1.0, "q_b" -> 3.0, "q_c" -> 3.0, "q_d" -> 3.0))
  }

  test("errored queries stay out of the total") {
    val times = Seq("q_a" -> 1.0, "q_b" -> 20.0, "q_c" -> 2.0)
    assert(Bench.total(0.5, times, Set("q_b")) == 3.5)
    assert(Bench.total(0.5, times, Set.empty) == 23.5)
  }
}
