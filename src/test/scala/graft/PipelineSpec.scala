package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** End-to-end incremental pipeline replay (SURVEY §5.2.4): run a
  * 50-line hourly query log (FIXTURES §A1 shape and edge cases) through
  * Main.runOnce twice against a parquet state dir and assert cumulative
  * frequencies double and the top-K stays stable — the behavior
  * `README.md:81-91` describes.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = PipelineSpec.queryLog

  test("replaying the same batch twice doubles frequencies, keeps top-K") {
    val dir = graft.TempDirs.create("graft-pipe")
    val stateDir = s"$dir/state"
    val topKDir = s"$dir/topk"

    val (rows1, prefixes1) =
      Main.runOnce(spark, fixture, stateDir, topKDir, 10)
    val state1 = spark.read.parquet(stateDir)
      .select("prefix", "query", "frequency")
      .as[(String, String, Long)].collect().toMap2
    val top1 = spark.read.parquet(topKDir)
      .select("prefix", "completions").as[(String, String)].collect().toMap

    val (rows2, prefixes2) =
      Main.runOnce(spark, fixture, stateDir, topKDir, 10)
    val state2 = spark.read.parquet(stateDir)
      .select("prefix", "query", "frequency")
      .as[(String, String, Long)].collect().toMap2
    val top2 = spark.read.parquet(topKDir)
      .select("prefix", "completions").as[(String, String)].collect().toMap

    assert(rows1 > 0 && rows1 == rows2, "key set must be stable on replay")
    assert(prefixes1 == prefixes2)
    assert(state1.keySet == state2.keySet)
    state1.foreach { case (k, f) =>
      assert(state2(k) == 2 * f, s"frequency of $k must double")
    }
    assert(top1 == top2, "doubling every frequency keeps the ranking")
    // production shape carries last_updated (SURVEY §2.11.4 / VERDICT r1 #7)
    assert(spark.read.parquet(stateDir).columns.contains("last_updated"))
  }

  test("state survives a failed-read scenario: staging dir never becomes state") {
    val dir = graft.TempDirs.create("graft-pipe2")
    val stateDir = s"$dir/state"
    Main.runOnce(spark, fixture, stateDir, s"$dir/topk", 5)
    assert(!Files.exists(java.nio.file.Paths.get(stateDir + ".staging")),
      "staging dir must be swapped away")
    assert(!Files.exists(java.nio.file.Paths.get(stateDir + ".old")))
  }

  private implicit class Tuples3ToMap(
      rows: Array[(String, String, Long)]) {
    def toMap2: Map[(String, String), Long] =
      rows.map { case (p, q, f) => (p, q) -> f }.toMap
  }
}

object PipelineSpec {
  /** The bundled hourly query log (src/test/resources/query-logs). */
  val queryLog: String =
    getClass.getResource("/query-logs/2025-06-10-23.txt").getPath
}
