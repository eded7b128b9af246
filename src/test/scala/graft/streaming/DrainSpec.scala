package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.SparkSpec

object DrainSpec {
  /** Rows the failing UDF let through before it threw (local mode: the
    * executors share this JVM).
    */
  val passed = new AtomicLong(0L)
}

/** The gate drains' one lifecycle, seen through its three sinks: a
  * failure at any point leaves no scratch dir behind and the session
  * confs the drain sets back at their pre-call values; update drains run
  * no trailing no-data batch.
  */
class DrainSpec extends SparkSpec {
  private val spKey = "spark.sql.shuffle.partitions"
  private val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** 8 one-slice parquet files (slice 0..7) with ascending mtimes, so
    * 2 files per trigger arrive as slices {0,1}, {2,3}, {4,5}, {6,7}.
    */
  private lazy val staged: String = {
    val dir = graft.TempDirs.create("graft-drainspec") + "/staged"
    (0 until 8).foreach { i =>
      spark.range(4).select(lit(i.toLong).as("slice"), col("id").as("k"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    import scala.jdk.CollectionConverters._
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    parts.foreach { p =>
      val slice = spark.read.parquet(p.toString).select("slice").head()
        .getLong(0)
      Files.setLastModifiedTime(p,
        FileTime.fromMillis(1_700_000_000_000L + slice * 60_000L))
    }
    dir
  }

  /** Throws on slices 4..7, i.e. in the third micro-batch. */
  private val failLate = udf { (slice: Long) =>
    if (slice >= 4) throw new IllegalStateException("onBatch boom")
    DrainSpec.passed.incrementAndGet()
    slice
  }

  /** Scratch dirs a drain named `prefix` would create in
    * java.io.tmpdir.
    */
  private def scratch(prefix: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.contains(s"-$prefix-")).toList
    finally s.close()
  }

  /** A conf's explicitly set value; None when unset. */
  private def setting(key: String): Option[String] =
    spark.conf.getAll.get(key)

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  /** Runs `drainFn` with confs set to values the drain overrides,
    * expects it to fail with `marker`, then checks cleanup and restore.
    */
  private def failsClean(prefix: String, marker: String,
                         noData: Option[String])(
      drainFn: String => DataFrame): Unit = {
    val spOld = spark.conf.get(spKey)
    val ndOld = setting(ndKey)
    spark.conf.set(spKey, "3")
    noData.fold(spark.conf.unset(ndKey))(spark.conf.set(ndKey, _))
    try {
      val before = scratch(prefix).toSet
      val e = intercept[Exception](drainFn(prefix))
      assert(messages(e).exists(_.contains(marker)), messages(e))
      val left = scratch(prefix).toSet -- before
      assert(left.isEmpty, s"scratch left behind: $left")
      assert(spark.conf.get(spKey) == "3")
      assert(setting(ndKey) == noData)
    } finally {
      spark.conf.set(spKey, spOld)
      ndOld.fold(spark.conf.unset(ndKey))(spark.conf.set(ndKey, _))
    }
  }

  private def throwingBuild(st: DataFrame): DataFrame =
    throw new IllegalStateException("build boom")

  /** For each sink: the conf value opposite to the one its drain sets. */
  private val sinks: Seq[(String, String,
      (String, DataFrame => DataFrame) => DataFrame)] = Seq(
    ("complete", "true", (prefix, build) =>
      StreamingPipeline.drainComplete(spark, staged, prefix)(build)),
    ("append", "false", (prefix, build) =>
      StreamingPipeline.drainAppend(spark, staged, prefix)(build)),
    ("merge", "true", (prefix, build) =>
      StreamingPipeline.drainUpdateMerge(spark, staged, prefix,
        Seq("slice"))(build)))

  sinks.foreach { case (sink, opposite, run) =>
    test(s"$sink sink: a throwing build leaves no scratch and restores confs") {
      failsClean(s"lc_${sink}_build", "build boom", None)(p =>
        run(p, throwingBuild))
    }

    test(s"$sink sink: a throwing onBatch mid-drain leaves no scratch and restores confs") {
      DrainSpec.passed.set(0L)
      failsClean(s"lc_${sink}_batch", "onBatch boom", Some(opposite))(p =>
        run(p, st => {
          val tagged = st.select(col("slice"), failLate(col("slice")).as("x"))
          if (sink == "append") tagged
          else tagged.groupBy("slice").agg(sum("x").as("n"))
        }))
      assert(DrainSpec.passed.get() > 0L,
        "the failure hit the first batch, not mid-drain")
    }
  }

  test("update drain: no trailing no-data batch; confs restored after success") {
    val spOld = spark.conf.get(spKey)
    val ndOld = setting(ndKey)
    var progress = Array.empty[StreamingQueryProgress]
    val rows = StreamingPipeline.streamWindowUpdate(spark, sf0001,
      onFinish = q => progress = q.recentProgress).count()
    assert(rows > 0)
    assert(progress.length >= 4, s"${progress.length} batches")
    assert(progress.forall(_.numInputRows > 0),
      progress.map(_.numInputRows).mkString("input rows per batch: ", ",", ""))
    assert(spark.conf.get(spKey) == spOld)
    assert(setting(ndKey) == ndOld)
  }
}
