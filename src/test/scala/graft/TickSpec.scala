package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.ops.Merge
import graft.util.Fs

/** `Main.tick` merges at query grain, stages both outputs at the same
  * time, checks the state's query-grain invariant, then swaps. These specs
  * hold it to a row-grain reference, to failing a broken state or a failed
  * staging write before any swap, to recovering a swap that crashed
  * midway, and to its job count.
  */
class TickSpec extends SparkSpec {
  import spark.implicits._

  private val log =
    Files.readAllLines(Paths.get(PipelineSpec.queryLog)).asScala.toSeq

  private def writeLog(path: String, lines: Seq[String]): String = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
    path
  }

  private def stateRows(df: DataFrame): Set[(String, String, Long)] =
    df.select("prefix", "query", "frequency")
      .as[(String, String, Long)].collect().toSet

  private def topKRows(df: DataFrame): Set[(String, String)] =
    df.select("prefix", "completions").as[(String, String)].collect().toSet

  /** Relative path → SHA-256 of every file under `root`. */
  private def digest(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      base.relativize(p).toString -> MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap
    finally walk.close()
  }

  test("query-grain ticks equal a row-grain merge on (prefix, query)") {
    val dir = TempDirs.create("graft-tick")
    val (stateDir, topKDir) = (s"$dir/state", s"$dir/topk")
    // three hourly slices of the log, then the whole log replayed
    val hours = log.grouped(17).toSeq :+ log
    var ref = Pipeline.emptyState(spark)
    hours.zipWithIndex.foreach { case (lines, h) =>
      val file = writeLog(s"$dir/logs/h$h.txt", lines)
      val (rows, prefixes) = Main.runOnce(spark, file, stateDir, topKDir, 3)
      val merged = Merge(ref, Pipeline.batchCounts(spark.read.text(file)),
        Seq("prefix", "query"), "frequency")
      ref = stateRows(merged).toSeq.toDF("prefix", "query", "frequency")
      val refTopK = topKRows(Pipeline.topCompletions(ref, 3))
      assert(stateRows(spark.read.parquet(stateDir)) == stateRows(ref),
        s"state after tick $h")
      assert(topKRows(spark.read.parquet(topKDir)) == refTopK,
        s"top-K after tick $h")
      assert((rows, prefixes) == (ref.count(), refTopK.size.toLong))
    }
    // the edge cases made it through: >60-char queries cap at 60-char
    // prefixes, mixed case and padding fold, non-ASCII slices by char
    val state = stateRows(spark.read.parquet(stateDir))
    assert(state.map(_._1.length).max == 60)
    assert(state.contains(("ch", "cheap flights to lisbon", 4L)))
    assert(state.contains(("caf", "café au lait recipe", 4L)))
    assert(!state.exists { case (_, q, _) =>
      q.length < 2 || q != q.trim.toLowerCase })
  }

  test("a tick stamps its state and top-K rows with one last_updated") {
    val dir = TempDirs.create("graft-tick-stamp")
    val (stateDir, topKDir) = (s"$dir/state", s"$dir/topk")
    def stamps(target: String): Seq[java.sql.Timestamp] =
      spark.read.parquet(target).select("last_updated").distinct()
        .as[java.sql.Timestamp].collect().toSeq
    val ticks = (1 to 2).map { _ =>
      Main.runOnce(spark, PipelineSpec.queryLog, stateDir, topKDir, 3)
      val state = stamps(stateDir)
      assert(state.size == 1, s"state rows carry ${state.size} stamps")
      assert(stamps(topKDir) == state, "top-K and state stamps differ")
      state.head
    }
    assert(ticks(1).after(ticks(0)), "the warm tick kept a stale stamp")
  }

  private val corruptions: Seq[(String, Seq[Row] => Seq[Row])] = Seq(
    "one prefix row's frequency bumped" -> { rows =>
      val i = rows.indexWhere(_.getString(0) == "sou")
      rows.updated(i, Row.fromSeq(rows(i).toSeq.updated(2,
        rows(i).getLong(2) + 1)))
    },
    "a query's length-2 row deleted" -> { rows =>
      rows.filterNot(r => r.getString(0) == "we" &&
        r.getString(1) == "weather tomorrow")
    })

  corruptions.foreach { case (what, corrupt) =>
    test(s"a state with $what fails the tick before any swap") {
      val dir = TempDirs.create("graft-tick-bad")
      val (stateDir, topKDir) = (s"$dir/state", s"$dir/topk")
      Main.runOnce(spark, PipelineSpec.queryLog, stateDir, topKDir, 3)
      val good = spark.read.parquet(stateDir)
      val bad = corrupt(good.orderBy("prefix", "query").collect().toSeq)
      assert(bad.toSet != good.collect().toSet)
      spark.createDataFrame(bad.asJava, good.schema)
        .write.parquet(s"$dir/bad")
      Fs.deleteRecursively(Paths.get(stateDir))
      Files.move(Paths.get(s"$dir/bad"), Paths.get(stateDir))

      val before = (digest(stateDir), digest(topKDir))
      val err = intercept[IllegalStateException](
        Main.runOnce(spark, PipelineSpec.queryLog, stateDir, topKDir, 3))
      assert(err.getMessage.contains("query-grain invariant"))
      assert((digest(stateDir), digest(topKDir)) == before,
        "a failed tick must leave both targets byte-identical")
    }
  }

  /** A target under a regular file: no write to it can succeed. */
  private def unwritable(dir: String, name: String): String = {
    Files.writeString(Paths.get(s"$dir/$name-blocker"), "not a directory")
    s"$dir/$name-blocker/$name"
  }

  private def tree(dir: String): Option[Map[String, String]] =
    if (Files.exists(Paths.get(dir))) Some(digest(dir)) else None

  /** Runs a tick that must fail; asserts it left both targets as they
    * were and no staging job, staging thread or persisted merge behind.
    */
  private def failedTick(stateDir: String, topKDir: String): Throwable = {
    val sc = spark.sparkContext
    val cached = sc.getPersistentRDDs.keySet
    val before = (tree(stateDir), tree(topKDir))
    val err = intercept[Exception](
      Main.runOnce(spark, PipelineSpec.queryLog, stateDir, topKDir, 3))
    org.apache.spark.graft.ListenerBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      "a staging job outlived the tick")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName == "graft-tick-stage" && t.isAlive),
      "the top-K staging thread outlived the tick")
    assert(sc.getPersistentRDDs.keySet.subsetOf(cached),
      "the tick left its merge persisted")
    assert((tree(stateDir), tree(topKDir)) == before,
      "a failed tick must leave both targets byte-identical")
    err
  }

  /** Whether `err` or a cause names the regular file blocking `target`. */
  private def mentions(err: Throwable, target: String): Boolean = {
    val blocker = Paths.get(target).getParent.toString
    Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(blocker))
  }

  test("a failed top-K staging write fails a warm tick before any swap") {
    val dir = TempDirs.create("graft-tick-topk-fail")
    val stateDir = s"$dir/state"
    Main.runOnce(spark, PipelineSpec.queryLog, stateDir, s"$dir/topk", 3)
    val topKDir = unwritable(dir, "topk")
    val err = failedTick(stateDir, topKDir)
    assert(mentions(err, topKDir), s"not the top-K write's failure: $err")
  }

  test("a failed state staging write fails a first tick before any swap") {
    val dir = TempDirs.create("graft-tick-state-fail")
    val stateDir = unwritable(dir, "state")
    val err = failedTick(stateDir, s"$dir/topk")
    assert(mentions(err, stateDir), s"not the state write's failure: $err")
  }

  test("when both staging writes fail, one is rethrown, one suppressed") {
    val dir = TempDirs.create("graft-tick-both-fail")
    val (stateDir, topKDir) =
      (unwritable(dir, "state"), unwritable(dir, "topk"))
    val err = failedTick(stateDir, topKDir)
    assert(mentions(err, stateDir), s"not the state write's failure: $err")
    assert(err.getSuppressed.exists(mentions(_, topKDir)),
      s"the top-K write's failure is not suppressed on it: $err")
  }

  test("a tick after a crash mid-swap restores .old and merges into it") {
    val dir = TempDirs.create("graft-tick-crash")
    val (stateDir, topKDir) = (s"$dir/state", s"$dir/topk")
    Main.runOnce(spark, PipelineSpec.queryLog, stateDir, topKDir, 3)
    val before = stateRows(spark.read.parquet(stateDir))
    // the crashed swap: staging complete, target moved out to .old,
    // staging not yet moved in
    spark.read.parquet(stateDir).write.parquet(s"$stateDir.staging")
    Files.move(Paths.get(stateDir), Paths.get(s"$stateDir.old"))

    Main.runOnce(spark, PipelineSpec.queryLog, stateDir, topKDir, 3)
    val after = stateRows(spark.read.parquet(stateDir))
    assert(after == before.map { case (p, q, f) => (p, q, 2 * f) },
      "the tick must merge into the restored state, not start empty")
    Seq(".old", ".staging").foreach(s =>
      assert(!Files.exists(Paths.get(stateDir + s)), s"$s left behind"))
  }

  test("a warm tick runs its two staging writes in 6 Spark jobs") {
    val dir = TempDirs.create("graft-tick-jobs")
    val (stateDir, topKDir) = (s"$dir/state", s"$dir/topk")
    Main.runOnce(spark, PipelineSpec.queryLog, stateDir, topKDir, 10)
    val names = jobsDuring {
      Main.runOnce(spark, PipelineSpec.queryLog, stateDir, topKDir, 10)
    }
    assert(names.size == 6, s"a count or read-back crept back in:\n" +
      names.mkString("\n"))
  }
}
