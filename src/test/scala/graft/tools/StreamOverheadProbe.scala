package graft.tools

import graft.GraftSession

/** Breaks ONE drain's wall time into the StreamingQueryProgress
  * durationMs phases: addBatch (actual work) vs
  * latestOffset/getBatch (source listing) vs queryPlanning vs
  * walCommit/commitOffsets (offset+commit log I/O), plus the
  * state-store commit/load times from stateOperators. Run:
  *   sbt "Test/runMain graft.tools.StreamOverheadProbe [sfDir]"
  */
object StreamOverheadProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-stream-overhead", 32)
    println(s"[probe] spark.local.dir=" +
      spark.sparkContext.getConf.get("spark.local.dir", "<default>"))
    spark.sparkContext.setLogLevel("WARN")
    graft.queries.StreamStaging.prebuild(spark, dir)
    // JIT warm
    graft.streaming.StreamingPipeline.streamWindowUpdate(spark, dir).count()
    for (round <- 1 to 6) {
      // rounds 4-6: measure the no-row-tracking commit path
      if (round == 4) spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false")
      val t0 = System.nanoTime()
      var progresses: Array[org.apache.spark.sql.streaming
        .StreamingQueryProgress] = Array.empty
      graft.streaming.StreamingPipeline.streamWindowUpdate(spark, dir,
        onFinish = q => progresses = q.recentProgress).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val phases = scala.collection.mutable.LinkedHashMap[String, Long]()
      progresses.foreach { p =>
        p.durationMs.forEach((k, v) =>
          phases(k) = phases.getOrElse(k, 0L) + v.longValue())
      }
      val stateCommit = progresses.flatMap(_.stateOperators)
        .map(o => o.commitTimeMs).sum
      if (round == 3) {
        val cm = scala.collection.mutable.LinkedHashMap[String, Long]()
        progresses.flatMap(_.stateOperators).foreach(_.customMetrics
          .forEach((k, v) =>
            if (v.longValue() != 0)
              cm(k) = cm.getOrElse(k, 0L) + v.longValue()))
        println(s"[probe] state customMetrics (summed): ${cm.toMap}")
      }
      val batches = progresses.length
      println(f"[probe] round $round wall=$wall%.2f s batches=$batches " +
        s"durations(ms)=${phases.toMap} stateCommitMs=$stateCommit")
      val accounted = phases.getOrElse("triggerExecution", 0L) / 1e3
      println(f"[probe]   triggerExecution=${accounted}%.2f s, " +
        f"outside-trigger=${wall - accounted}%.2f s (start/stop/collect)")
    }
    spark.stop()
  }
}
