package graft.ops

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** W1: correctness (deterministic tie-breaks) and the physical-plan claim
  * from TopK's doc: Spark must plan the rank<=k filter as
  * WindowGroupLimitExec (bounded per-partition group limit — the property
  * that makes window top-K survive 100 TB without full partition sorts).
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    ("a", "x", 3L), ("a", "y", 3L), ("a", "z", 1L),
    ("b", "q", 7L), ("b", "p", 7L), ("b", "r", 9L), ("b", "s", 1L)
  ).toDF("grp", "item", "freq")

  test("top-k per group with deterministic ties") {
    val d = df
    val out = TopK(d, Seq("grp"), d("freq"), Seq(d("item")), 2)
      .select("grp", "item", "rnk").as[(String, String, Int)]
      .collect().toSet
    // ties broken by item asc: a → x(3),y(3); b → r(9), p(7) before q(7)
    assert(out == Set(("a", "x", 1), ("a", "y", 2),
      ("b", "r", 1), ("b", "p", 2)))
  }

  test("rank<=k plans as WindowGroupLimitExec") {
    val d = df
    val plan: SparkPlan = TopK(d, Seq("grp"), d("freq"), Seq(d("item")), 2)
      .queryExecution.executedPlan
    assert(plan.toString.contains("WindowGroupLimit"),
      s"expected WindowGroupLimitExec in:\n$plan")
  }

  test("k larger than group size returns whole group") {
    val d = df
    val out = TopK(d, Seq("grp"), d("freq"), Seq(d("item")), 100)
    assert(out.count() == 7)
  }
}
