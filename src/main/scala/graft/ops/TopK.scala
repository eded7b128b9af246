package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W1 + P4 (SURVEY.md §2.5): top-K rows per group by a metric.
  *
  * Reference: `Window.partitionBy(prefix).orderBy(frequency.desc)` +
  * `row_number()` + `filter(rank <= K)` at
  * `IncrementalAutocomplete.java:120-125`.
  *
  * Two deliberate changes from the reference:
  *  - deterministic tie-break: order is (metric desc, tieBreak asc...) — the
  *    reference orders only by frequency, so equal-frequency rows get
  *    arbitrary ranks run-to-run (hazard SURVEY §2.11.2).
  *  - scale: Spark ≥3.5 plans this exact shape with
  *    `WindowGroupLimitExec` (rule `InferWindowGroupLimit`) in BOTH
  *    Partial (pre-shuffle, map-side) and Final modes — each map task
  *    ships only k rows per group, so a hot 2-char prefix shuffles
  *    k×numMapTasks rows instead of its full fan-in. That is the
  *    two-phase/salted top-K SURVEY §7.5.3 planned to hand-build, native.
  *    Asserted in TopKSpec (operator) and PlanAuditSpec (Partial+Final).
  */
object TopK {

  /** Add `rankCol` = row_number over (partition by groupKeys, order by
    * metric desc then tieBreaks asc) and keep rows with rank <= k.
    */
  def apply(df: DataFrame, groupKeys: Seq[String], metric: Column,
            tieBreaks: Seq[Column], k: Int, rankCol: String = "rnk")
      : DataFrame = {
    val w = Window
      .partitionBy(groupKeys.map(df(_)): _*)
      .orderBy(metric.desc +: tieBreaks.map(_.asc): _*)
    df.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
  }
}
