package graft

import java.time.Instant

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.io.{Sinks, Sources}

/** End-to-end incremental pipeline binary — the rebuilt
  * `IncrementalAutocomplete.main` (reference:
  * `IncrementalAutocomplete.java:21-61` parses 6 args + config.properties;
  * here: CLI args only, state in parquet dirs instead of MySQL tables).
  *
  *   Usage: graft.Main <logsGlob> <stateDir> <topKDir> <k>
  *
  * Differences from the reference, all deliberate (SURVEY §2.11):
  *  - accepts a glob, so the documented-but-unimplemented "last 24 hourly
  *    files" behavior is one argument;
  *  - no read-overwrite race: both outputs are staged before either is
  *    swapped, and a swap that crashed midway is recovered before reading;
  *  - both output tables carry `last_updated` (the production shape,
  *    `IncrementalAutocomplete.java:107,129`), one instant per tick, so a
  *    tick's state and top-K rows agree on it — excluded from oracle
  *    queries only because it is nondeterministic.
  */
object Main {

  def withLastUpdated(df: DataFrame, at: Instant): DataFrame =
    df.withColumn("last_updated", lit(at))

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: graft.Main <logsGlob> <stateDir> <topKDir> <k>")
    val Array(logsGlob, stateDir, topKDir, kStr) = args
    val k = kStr.toInt

    // spark-submit injects spark.master; standalone invocation (sbt
    // runMain, plain java) falls back to all local cores.
    val master = sys.props.getOrElse("spark.master",
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
    val spark = GraftSession.builder("graft-incremental-autocomplete",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .master(master)
      .getOrCreate()

    try runOnce(spark, logsGlob, stateDir, topKDir, k)
    finally spark.stop()
  }

  /** One CronJob tick over the logs matching `logsGlob`: [[tick]]. */
  def runOnce(spark: SparkSession, logsGlob: String, stateDir: String,
              topKDir: String, k: Int): (Long, Long) =
    tick(Sources.textLines(spark, logsGlob), stateDir, topKDir, k)

  /** Merges `lines` into the state at `stateDir`, rewrites state and
    * top-K, returns their row counts; the CLI's and the streaming
    * micro-batches' one tick. Both outputs are staged, and the state's
    * query-grain invariant checked, before either is swapped: a lost
    * cached block recomputes from the old state, and a broken state fails
    * the tick with both targets untouched. Both are stamped with one
    * `last_updated`, taken once per tick.
    *
    * The two staging writes read only the persisted merge, so they run
    * at the same time: top-K on a fresh thread, state on the caller's. A
    * fresh thread, not a pool, because it inherits the caller's
    * `SparkContext` local properties (a stream's query id inside
    * `foreachBatch`); a pooled thread keeps its creator's. A failed write
    * still joins the other before the merge is unpersisted, and rethrows
    * with the other's failure suppressed; nothing is swapped.
    */
  def tick(lines: DataFrame, stateDir: String, topKDir: String,
           k: Int): (Long, Long) = {
    val spark = lines.sparkSession
    val state =
      if (Sinks.recover(spark, stateDir))
        spark.read.schema(Tables.freqTable).parquet(stateDir)
      else Pipeline.emptyState(spark)
    val run = Pipeline.incrementalRun(lines, state, k)
    val at = Instant.now()
    try {
      val (stateRows, topKRows) = concurrently(
        Sinks.stage(withLastUpdated(run.state, at), stateDir),
        Sinks.stage(withLastUpdated(run.topK, at), topKDir))
      run.checkState()
      Sinks.swap(spark, stateDir)
      Sinks.swap(spark, topKDir)
      println(s"[graft] state=$stateRows rows, topK=$topKRows prefixes")
      (stateRows, topKRows)
    } finally run.merged.unpersist()
  }

  /** Runs `b` on a fresh thread while `a` runs on this one; returns once
    * both have. The first failure is rethrown, the other suppressed on it.
    */
  private def concurrently[A, B](a: => A, b: => B): (A, B) = {
    var bOut: Try[B] = null
    val thread = new Thread(() =>
      bOut = try Success(b) catch { case e: Throwable => Failure(e) },
      "graft-tick-stage")
    thread.start()
    val aOut = try Try(a) finally thread.join()
    aOut.failed.foreach { e => bOut.failed.foreach(e.addSuppressed); throw e }
    (aOut.get, bOut.get)
  }
}
