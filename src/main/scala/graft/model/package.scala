package graft

import org.apache.spark.sql.{Dataset, Encoders}

/** Typed core (SURVEY §1.3): case-class rows + `Dataset[T]` facades for
  * the pipeline stages where compile-time row types help library users.
  * The untyped `DataFrame` ops stay the implementation (native columns,
  * full Catalyst visibility); these wrappers only pin the schemas at the
  * API boundary.
  */
package object model {

  /** One raw log line (text source row). */
  final case class LogLine(value: String)

  /** Cumulative state row — `prefix_query_frequency`. */
  final case class PrefixCount(prefix: String, query: String,
                               frequency: Long)

  /** Final completions row — `prefix_suggestions` (JSON array string). */
  final case class Suggestion(prefix: String, completions: String)
}

/** Typed facade over Pipeline. */
object TypedPipeline {
  import model._

  def batchCounts(lines: Dataset[LogLine]): Dataset[PrefixCount] = {
    implicit val enc = Encoders.product[PrefixCount]
    Pipeline.batchCounts(lines.toDF()).as[PrefixCount]
  }

  def merge(state: Dataset[PrefixCount],
            delta: Dataset[PrefixCount]): Dataset[PrefixCount] = {
    implicit val enc = Encoders.product[PrefixCount]
    ops.Merge(state.toDF(), delta.toDF(),
      Seq("prefix", "query"), "frequency").as[PrefixCount]
  }

  def topCompletions(freq: Dataset[PrefixCount],
                     k: Int): Dataset[Suggestion] = {
    implicit val enc = Encoders.product[Suggestion]
    Pipeline.topCompletions(freq.toDF(), k).as[Suggestion]
  }
}
