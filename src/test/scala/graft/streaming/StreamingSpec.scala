package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Streaming tier: AvailableNow incremental pipeline processes each log
  * file exactly once across restarts; windowed aggregation buckets an
  * event stream by tumbling window + type.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("AvailableNow drains new files exactly once across invocations") {
    val dir = graft.TempDirs.create("graft-stream")
    val logs = s"$dir/logs"; Files.createDirectories(Paths.get(logs))
    Files.writeString(Paths.get(s"$logs/h1.txt"), "abc\nabc\nxyz\n")

    val n1 = StreamingPipeline.runAvailableNow(spark, logs,
      s"$dir/state", s"$dir/topk", 5, s"$dir/ckpt")
    val state1 = spark.read.parquet(s"$dir/state")
      .select("prefix", "query", "frequency")
      .as[(String, String, Long)].collect().toMap2
    assert(n1 >= 1)
    assert(state1(("ab", "abc")) == 2L && state1(("xy", "xyz")) == 1L)

    // second invocation with one NEW file: old file must not re-count
    Files.writeString(Paths.get(s"$logs/h2.txt"), "abc\n")
    StreamingPipeline.runAvailableNow(spark, logs,
      s"$dir/state", s"$dir/topk", 5, s"$dir/ckpt")
    val state2 = spark.read.parquet(s"$dir/state")
      .select("prefix", "query", "frequency")
      .as[(String, String, Long)].collect().toMap2
    assert(state2(("ab", "abc")) == 3L, s"got $state2")
    assert(state2(("xy", "xyz")) == 1L)

    // third invocation with nothing new: state unchanged
    StreamingPipeline.runAvailableNow(spark, logs,
      s"$dir/state", s"$dir/topk", 5, s"$dir/ckpt")
    val state3 = spark.read.parquet(s"$dir/state")
      .select("prefix", "query", "frequency")
      .as[(String, String, Long)].collect().toMap2
    assert(state3 == state2)
  }

  test("windowed event counts bucket by 5-minute tumbling window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val t0 = Timestamp.valueOf("2025-06-10 12:00:30")
    val t1 = Timestamp.valueOf("2025-06-10 12:02:00")
    val t2 = Timestamp.valueOf("2025-06-10 12:07:10")
    mem.addData((t0, "click"), (t1, "click"), (t2, "view"))

    val out = StreamingPipeline.windowedEventCounts(
      mem.toDF().toDF("ts", "event_type"))
    val q = out.writeStream.format("memory").queryName("win")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val rows = spark.table("win")
      .select(date_format(col("window_start"), "HH:mm").as("w"),
        col("event_type"), col("cnt"))
      .as[(String, String, Long)].collect().toSet
    assert(rows == Set(("12:00", "click", 2L), ("12:05", "view", 1L)))
  }

  test("session windows merge events within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Long)]
    mem.addData(
      (Timestamp.valueOf("2025-06-10 12:00:00"), 1L, 1L),
      (Timestamp.valueOf("2025-06-10 18:00:00"), 1L, 2L), // same (gap 12h)
      (Timestamp.valueOf("2025-06-11 07:00:00"), 1L, 3L), // new session
      (Timestamp.valueOf("2025-06-10 12:05:00"), 2L, 4L))
    val out = StreamingPipeline.sessions(
      mem.toDF().toDF("ts", "user_id", "event_id"))
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("sess")
      .select("user_id", "n_events").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(rows(1L) == Seq(1L, 2L)) // one 2-event session + one 1-event
    assert(rows(2L) == Seq(1L))
  }

  test("transformWithState: counts survive across restarts via checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = graft.TempDirs.create("graft-tws")
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Long]
    def drain(mem: MemoryStream[(Long, String)]): Unit = {
      val q = StreamingPipeline.statefulUserCountsTws(mem.toDS())
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update").trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => seen(r.getLong(0)) = r.getLong(1))
          ()
        }
        .start()
      q.awaitTermination()
    }
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (1L, "b"), (2L, "c"))
    drain(mem)
    assert(seen.get(1L).contains(2L) && seen.get(2L).contains(1L))
    mem.addData((1L, "d"))
    drain(mem) // restarted query, same checkpointed ValueState
    assert(seen.get(1L).contains(3L),
      s"user 1 cumulative must reach 3 across restart: $seen")
  }

  test("stream-stream interval join pairs clicks with in-horizon views") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val events = MemoryStream[(Long, Timestamp, Long, String)]
    // view 100 is 30m before click 1 (in horizon); view 101 is >1h before
    // both clicks (out of horizon); view 102 is AFTER click 1 (excluded
    // for it) but 30m before click 2 (joins to it)
    events.addData((1L, ts("2025-06-10 12:00:00"), 1L, "click"),
      (1L, ts("2025-06-10 13:00:00"), 2L, "click"),
      (1L, ts("2025-06-10 11:30:00"), 100L, "view"),
      (1L, ts("2025-06-10 10:30:00"), 101L, "view"),
      (1L, ts("2025-06-10 12:30:00"), 102L, "view"))
    val out = StreamingPipeline.intervalJoin(
      events.toDF().toDF("user_id", "ts", "event_id", "event_type"), "inner")
    val q = out.writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("ssj")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    assert(rows((1L, 100L)), s"in-horizon view must join: $rows")
    assert(!rows.exists(_._2 == 101L), "out-of-horizon view must not join")
    assert(rows((2L, 102L)), "view 102 is 30m before click 2")
    assert(!rows((1L, 102L)), "view after the click must not join to it")
  }

  test("left-outer interval join emits unattributed clicks after watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val events = MemoryStream[(Long, Timestamp, Long, String)]
    val out = StreamingPipeline.intervalJoin(
      events.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      "left_outer")
    val q = out.writeStream.format("memory").queryName("ssjo")
      .outputMode("append").start()
    try {
      // click 1 has an in-horizon view; click 2 has NO view at all — the
      // row an inner join drops and the outer join must null-extend
      events.addData((1L, ts("2025-06-10 12:00:00"), 1L, "click"),
        (2L, ts("2025-06-10 12:00:00"), 2L, "click"),
        (1L, ts("2025-06-10 11:30:00"), 100L, "view"))
      q.processAllAvailable()
      // advance BOTH branches' watermarks well past click 2's join
      // horizon so its null-extended row is provably final and flushes
      events.addData((9L, ts("2025-06-10 20:00:00"), 9L, "click"),
        (9L, ts("2025-06-10 20:00:00"), 900L, "view"))
      q.processAllAvailable()
      val rows = spark.table("ssjo")
        .select("click_id", "view_id")
        .as[(Long, Option[Long])].collect().toSet
      assert(rows((1L, Some(100L))), s"matched click must join: $rows")
      assert(rows((2L, None)),
        s"unattributed click must emit with NULL view after watermark: $rows")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark keeps first occurrence per key") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Timestamp)]
    mem.addData((7L, ts("2025-06-10 12:00:00")), (7L, ts("2025-06-10 12:01:00")),
      (8L, ts("2025-06-10 12:02:00")), (7L, ts("2025-06-10 12:03:00")))
    val out = mem.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
    val q = out.writeStream.format("memory").queryName("ddw")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ids = spark.table("ddw").select("event_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(7L, 8L),
      s"each key exactly once within the watermark horizon: $ids")
  }

  test("RocksDB state store is active and watermark bounds dedup state") {
    implicit val sqlCtx = spark.sqlContext
    import scala.jdk.CollectionConverters._
    def ts(s: String) = Timestamp.valueOf(s)
    // this spec ASSERTS on numRowsTotal, so re-enable the row-count
    // tracking the session disables (write-heavy tuning) for the
    // duration of this one query
    val trackKey =
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    val trackOld = spark.conf.get(trackKey)
    spark.conf.set(trackKey, "true")
    val mem = MemoryStream[(Long, Timestamp)]
    val out = mem.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
    val q = out.writeStream.format("memory").queryName("rocks")
      .outputMode("append").start()
    try {
      // batch 1: 1000 distinct keys at 12:00 → 1000 state rows
      mem.addData((1L to 1000L).map(i => (i, ts("2025-06-10 12:00:00"))): _*)
      q.processAllAvailable()
      // two more batches advance the watermark past 12:00 + 10m, so the
      // 1000 keys' state must be EVICTED, not retained — the property
      // that keeps streaming dedup state bounded at 100 TB
      mem.addData((2001L, ts("2025-06-10 13:00:00")))
      q.processAllAvailable()
      mem.addData((2002L, ts("2025-06-10 14:00:00")))
      q.processAllAvailable()
      val op = q.recentProgress.flatMap(_.stateOperators)
        .filter(_.numRowsTotal > 0).lastOption
        .getOrElse(q.lastProgress.stateOperators.head)
      assert(op.customMetrics.keySet.asScala
        .exists(_.toLowerCase.contains("rocksdb")),
        s"state op must run on the RocksDB provider: ${op.customMetrics}")
      val finalRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(finalRows < 100,
        s"watermark must evict the 1000 expired keys, state=$finalRows rows")
      assert(finalRows >= 0,
        "row tracking must be ON here or the eviction check is vacuous")
    } finally {
      q.stop()
      spark.conf.set(trackKey, trackOld)
    }
  }

  test("index-backed incremental dedup: same pairs, corpus never re-shingled") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TempDirs.create("graft-inc-idx")
    val (index, pairs, ckpt) = (s"$dir/index", s"$dir/pairs", s"$dir/ckpt")
    val a = "spark merges batches of rows into partitions for every stage"
    val mem = MemoryStream[(Long, String)]
    def drain(): Unit = StreamingPipeline.incrementalDedupIndexed(
      mem.toDS().toDF("doc_id", "text"), index, pairs, ckpt)
    // batch 1: unrelated docs seed the index; the batch still dedups
    // against ITSELF (5 and 6 are exact dups)
    mem.addData((1L, a),
      (2L, "totally different cooking text about pasta"),
      (5L, "the self dup doc"), (6L, "the self dup doc"))
    drain()
    val p1 = spark.read.parquet(pairs)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(p1.contains((5L, 6L)), s"delta×delta pair missing: $p1")
    // index state = (bands, base) slices (+ the batch partition column),
    // not document text
    assert(spark.read.parquet(s"$index/bands").columns.toSet ==
      Set("doc", "band", "bkey", "batch"))
    assert(spark.read.parquet(s"$index/base").columns.toSet ==
      Set("doc", "sh", "batch"))
    // a crashed publication's temp dir must be swept at the next stream
    // start, not accumulate under indexDir forever (r7 ADVICE)
    val stale = new java.io.File(s"$index/bands/.tmp-batch=999")
    assert(stale.mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$index/bands/.tmp-batch=999/junk"), "x")
    // batch 2: near-dup of 1 + exact dup of 2 found via the STORED index
    mem.addData((3L, a + " again"),
      (4L, "totally different cooking text about pasta"))
    drain()
    assert(!stale.exists(), "stale .tmp-batch dir must be swept at start")
    val found = spark.read.parquet(pairs)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(found.contains((2L, 4L)), s"exact dup vs index missing: $found")
    assert(found.contains((1L, 3L)), s"near dup vs index missing: $found")
    assert(spark.read.parquet(s"$index/base").count() == 6)
    // replay with no new data: checkpoint accounting holds
    drain()
    assert(spark.read.parquet(pairs).count() == found.size.toLong,
      "replayed batch must not duplicate pairs")
    // and the indexed stream found exactly what the recompute stream
    // would: batch-mode full mining restricted to cross/self pairs
    val all = Seq((1L, a),
      (2L, "totally different cooking text about pasta"),
      (5L, "the self dup doc"), (6L, "the self dup doc"),
      (3L, a + " again"),
      (4L, "totally different cooking text about pasta"))
      .toDF("doc_id", "text")
    val batchPairs = graft.ops.llm.Dedup.minhashDedup(
        all, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(found == batchPairs,
      s"stream/batch divergence: ${(found diff batchPairs) ++
        (batchPairs diff found)}")
  }

  private implicit class ToMap2(rows: Array[(String, String, Long)]) {
    def toMap2: Map[(String, String), Long] =
      rows.map { case (p, q, f) => (p, q) -> f }.toMap
  }

  test("streamDedupComplete: multi-microbatch stateful dedup equals the batch form") {
    // the gate entry (q_stream_dedup) drains the corpus 2 files per
    // trigger, so the complete-mode state merges across ≥4 micro-batches
    // — the final table must still equal the one-pass batch aggregation
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamDedupComplete(spark, dir)
      .as[(String, Long, Long)].collect().toSet
    val d = graft.Tables.table(spark, dir, "documents")
    val expected = d.select(
        sha2(lower(trim(col("text"))), 256).as("digest"), col("doc_id"))
      .groupBy("digest")
      .agg(min("doc_id").as("keep_doc"), count(lit(1)).as("n_copies"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("streamDedupUpdate: update-mode merge sink equals the complete-mode twin") {
    // X12p — same aggregation as streamDedupComplete but in update mode
    // with a foreachBatch partition-pruned MERGE into a parquet sink
    // table: the final sink table must equal both the complete-mode
    // result and the one-pass batch aggregation
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamDedupUpdate(spark, dir)
      .as[(String, Long, Long)].collect().toSet
    val d = graft.Tables.table(spark, dir, "documents")
    val expected = d.select(
        sha2(lower(trim(col("text"))), 256).as("digest"), col("doc_id"))
      .groupBy("digest")
      .agg(min("doc_id").as("keep_doc"), count(lit(1)).as("n_copies"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("streamTopKUpdate: update-mode merge leaderboard equals complete mode") {
    // X12q — state maintained by per-batch merge, top-K cut at read
    // time; must equal the complete-mode leaderboard exactly (ordered:
    // the (cnt desc, word asc) tie-break pins the emitted sequence)
    val dir = sf0001
    val got = StreamingPipeline.streamTopKUpdate(spark, dir, k = 20)
      .as[(String, Long)].collect().toSeq
    val comp = StreamingPipeline.streamTopKWords(spark, dir, k = 20)
      .as[(String, Long)].collect().toSeq
    assert(got == comp)
    assert(got.nonEmpty)
  }

  test("streamCdcUpdate: update-mode merged state applies identically to batch") {
    // X12r — latest-per-key state via per-batch merge; applying it to
    // the base must equal the batch MERGE row-for-row
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val d = graft.Tables.table(spark, dir, "documents")
    val got = graft.queries.MaintenanceQueries.all("q_stream_cdc_update")
      .fn(spark, dir).as[(Long, String, String, Long)].collect().toSet
    val batch = graft.queries.MaintenanceQueries.all("q_cdc_merge")
      .fn(spark, dir).as[(Long, String, String, Long)].collect().toSet
    assert(got == batch,
      s"stream/batch divergence: ${(got diff batch) ++ (batch diff got)}")
    assert(d.count() > 0 && got.nonEmpty)
  }

  test("streamWindowUpdate: evicted windows persist in the sink, result lossless") {
    // X12s — watermarked tumbling windows in update mode over
    // time-sliced files: the state store evicts windows as the
    // watermark advances, but every evicted window's final value was
    // already merged into the sink — the drained table must equal the
    // batch aggregation exactly
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamWindowUpdate(spark, dir)
      .as[(String, String, Long)].collect().toSet
    val ev = graft.Tables.table(spark, dir, "events")
    val expected = ev.select(col("event_type"),
        timestamp_micros(expr("ts div 1000")).as("ts"))
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("cnt"))
      .as[(String, String, Long)].collect().toSet
    assert(got == expected,
      s"stream/batch divergence: ${(got diff expected) ++ (expected diff got)}")
    assert(got.nonEmpty)
  }

  test("streamSessionizeAppend: finalized-session append equals complete mode") {
    // X12t — append mode emits each session exactly once when the
    // watermark finalizes it; the heartbeat sentinel flushes the tail,
    // so the drained sink (sentinel filtered) must equal the
    // complete-mode result row-for-row
    val dir = sf0001
    val got = StreamingPipeline.streamSessionizeAppend(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val comp = StreamingPipeline.streamSessionizeComplete(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == comp,
      s"append/complete divergence: ${(got diff comp) ++ (comp diff got)}")
    assert(got.nonEmpty)
  }

  test("streamWindowUpdate: watermark eviction keeps state bounded below output") {
    // the bounded-state half of the X12s claim, from the query's own
    // progress metrics: the state store must hold strictly fewer rows
    // than the total windows emitted (evicted windows live only in the
    // sink), or eviction never engaged and state grows with the run
    // numRowsTotal needs the row-count tracking the session disables
    // (write-heavy tuning) — re-enable it for this one drain
    val trackKey =
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    val trackOld = spark.conf.get(trackKey)
    spark.conf.set(trackKey, "true")
    var maxState = -1L
    val got =
      try StreamingPipeline.streamWindowUpdate(spark, sf0001,
        onFinish = q => {
          maxState = q.recentProgress.flatMap(_.stateOperators)
            .map(_.numRowsTotal).foldLeft(0L)(math.max)
        }).count()
      finally spark.conf.set(trackKey, trackOld)
    assert(maxState > 0, "no state metrics captured")
    assert(maxState < got,
      s"state never evicted: peak state rows $maxState >= $got output rows")
  }

  test("streamTopKWords: complete-mode leaderboard equals the batch top-K") {
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamTopKWords(spark, dir, k = 20)
      .as[(String, Long)].collect()
    val d = graft.Tables.table(spark, dir, "documents")
    val expected = d
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20)
      .as[(String, Long)].collect()
    assert(got.toSet == expected.toSet)
    assert(got.length == 20)
  }

  test("streamEnrich: stream-static enrichment equals the batch join") {
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamEnrich(spark, dir)
      .as[(String, String, Long, Long, Long)].collect()
    val ev = graft.Tables.table(spark, dir, "events")
    val c = graft.Tables.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val n = graft.Tables.table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val expected = ev
      .join(c, ev("user_id") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name", "event_type")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"))
      .as[(String, String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.toSet == expected.toSet)
  }

  test("session_window boundary: a pair exactly gap apart MERGES, same rule as Sessionize") {
    // pins the boundary rule the q_stream_sessionize oracle encodes:
    // native session_window's [t, t+gap] window is end-inclusive for
    // merging, so diff == gap stays ONE session — exactly ops.Sessionize's
    // diff > gap split rule. The corpus has no exactly-gap pair at any
    // SF, so the gate can't see this — this spec can.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Long)]
    mem.addData(
      (Timestamp.valueOf("2025-06-10 12:00:00"), 1L, 1L),
      (Timestamp.valueOf("2025-06-11 00:00:00"), 1L, 2L)) // exactly the 12h gap
    val out = StreamingPipeline.sessions(
      mem.toDF().toDF("ts", "user_id", "event_id"))
    val q = out.writeStream.format("memory").queryName("sessb")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val nSessions = spark.table("sessb").count()
    spark.catalog.dropTempView("sessb")
    assert(nSessions == 1L, "session_window must merge at diff == gap")
    // the batch gap-sessionizer agrees (diff > gap splits)
    val batch = graft.ops.Sessionize(
      Seq((1L, 0L, 1L), (1L, 43_200_000_000L, 2L))
        .toDF("user_id", "ts_us", "event_id"),
      "user_id", "ts_us", "event_id", gap = 43_200_000_000L)
    assert(batch.count() == 1L, "Sessionize must merge at diff == gap")
    // one µs past the gap: both split
    val mem2 = MemoryStream[(Timestamp, Long, Long)]
    mem2.addData(
      (Timestamp.valueOf("2025-06-10 12:00:00"), 1L, 1L),
      (Timestamp.valueOf("2025-06-11 00:00:00.000001"), 1L, 2L))
    val q2 = StreamingPipeline.sessions(
        mem2.toDF().toDF("ts", "user_id", "event_id"))
      .writeStream.format("memory").queryName("sessb2")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val nSessions2 = spark.table("sessb2").count()
    spark.catalog.dropTempView("sessb2")
    assert(nSessions2 == 2L, "session_window must split one µs past the gap")
  }

  test("streamSessionizeComplete: sessions merged across micro-batches equal the batch form") {
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamSessionizeComplete(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // batch form with the same session_window rule (diff >= gap splits)
    val e = graft.Tables.table(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"))
    val expected = e
      .groupBy(col("user_id"), session_window(col("ts"), "12 hours"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start"),
        (unix_micros(col("session_window.end")) -
          unix_micros(col("session_window.start")) -
          lit(43_200_000_000L)).as("dur"),
        col("n_events"), col("first_event"), col("last_event"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // multi-user, multi-session, and at least one multi-event session —
    // the fixture genuinely exercises state merge
    assert(got.map(_._1).size > 1 && got.exists(_._4 > 1L))
  }

  test("streamTransitions: keyed state bridges triggers; equals batch lead()") {
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamTransitions(spark, dir)
      .as[(String, String, Long)].collect().toSet
    val e = graft.Tables.table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("tsu"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tsu", "event_id")
    val expected = e
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
      .as[(String, String, Long)].collect().toSet
    assert(got == expected)
    // the total transition mass spans multiple triggers: with 8 staged
    // slices at 2/trigger, any per-user history longer than one slice
    // MUST have crossed a trigger boundary for the counts to match —
    // pin that the fixture has users with more events than one slice
    // could hold contiguously
    val perUser = graft.Tables.table(spark, dir, "events")
      .groupBy("user_id").count().as[(Long, Long)].collect()
    assert(perUser.exists(_._2 >= 8L),
      "fixture must force cross-trigger state bridging")
    assert(got.toSeq.map(_._3).sum == perUser.map(_._2 - 1).sum,
      "every consecutive pair must emit exactly once")
  }

  test("streamFunnel: keyed funnel state equals the batch min-CASE chain") {
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamFunnel(spark, dir)
      .as[(Long, Long, Long)].collect().head
    val expected = graft.SparkEntry.queries("q_funnel")(spark, dir)
      .as[(Long, Long, Long)].collect().head
    assert(got == expected)
    // the funnel is monotone by construction
    assert(got._1 >= got._2 && got._2 >= got._3 && got._3 >= 0L)
    // the fixture must actually exercise the full chain
    assert(got._3 > 0L, "fixture should convert at least one user")
  }

  test("streamAsof: per-batch point-in-time join equals the batch asof") {
    val dir = sf0001
    val got = StreamingPipeline.streamAsof(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val expected = graft.SparkEntry.queries("q_asof_join")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty)
    assert(got == expected,
      "streamed per-batch asof must equal the single-pass batch asof")
  }

  test("streamIvfAssign: delta assignment equals the batch replay") {
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamIvfAssign(spark, dir)
      .as[(Long, Long)].collect()
    val emb = graft.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
    val cents = graft.ops.llm.Ivf.int8Quantizer(emb, nClusters = 16)
    val expected = graft.ops.llm.Ivf.int8CellIds(emb, cents)
      .select(col("id").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect().toMap
    // every vector assigned EXACTLY once (no duplicate appends across
    // replayed batches) and to the same cell the batch replay picks
    assert(got.length == expected.size)
    assert(got.map(_._1).distinct.length == got.length,
      "a vector must be assigned exactly once")
    got.foreach { case (id, cid) =>
      assert(expected(id) == cid, s"vec $id cell")
    }
    // the quantizer must actually route to multiple cells at this SF
    assert(got.map(_._2).distinct.length > 1)
  }

  test("streamQuarantine: per-batch rule tagging equals the batch split") {
    import org.apache.spark.sql.functions._
    val dir = sf0001
    val got = StreamingPipeline.streamQuarantine(spark, dir)
      .as[(String, Long)].collect().toMap
    val d = graft.Tables.table(spark, dir, "documents")
    val tagged = graft.ops.Constraints.tag(
      d.select(col("doc_id"), col("n_chars"), col("lang")),
      Seq(
        "n_chars_le_200" ->
          graft.ops.Constraints.fails(col("n_chars") <= 200),
        "lang_allowed" ->
          graft.ops.Constraints.fails(col("lang").isin("en", "fr"))))
    val expected = tagged
      .select(explode(
        when(size(col("violations")) === 0, array(lit("__clean__")))
          .otherwise(col("violations"))).as("rule"))
      .groupBy("rule").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == expected)
    // the fixture exercises BOTH routes: clean docs exist and at least
    // one rule actually fires
    assert(got.getOrElse("__clean__", 0L) > 0L)
    assert(got.exists { case (r, n) => r != "__clean__" && n > 0L })
  }
}
