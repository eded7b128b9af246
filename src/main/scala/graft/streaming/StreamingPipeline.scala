package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Main, Tables}

/** Structured Streaming variants (SURVEY §2.10/§7.5).
  *
  * The reference "streams" by re-running the batch job from a 5-minute
  * Kubernetes CronJob (`README.md:31`, every-5-minutes schedule) and
  * keeping cumulative state in MySQL. The native equivalent:
  *
  *  - `runAvailableNow`: file-source stream over the logs dir with
  *    `Trigger.AvailableNow` — each invocation drains exactly the files
  *    not yet processed (the checkpoint tracks seen files, replacing the
  *    reference's "one hardcoded hourly file per run" and making the
  *    documented-but-unimplemented 24h catch-up automatic), runs each
  *    micro-batch through the CLI's own tick (`Main.tick`), then stops.
  *    Re-running on a schedule reproduces the CronJob semantics with
  *    exactly-once file accounting.
  *
  *  - `windowedEventCounts`: the watermark + tumbling-window aggregation
  *    surface over an event stream — per (window, event_type) counts with
  *    late data bounded by the watermark.
  *
  *  - The `q_stream_*` gate drains: each re-reads a staged fixture as a
  *    file-source stream and runs through ONE lifecycle ([[drain]]:
  *    fresh checkpoint, 2 files per trigger, state-partition and
  *    no-data-batch confs, AvailableNow, cleanup on every exit path)
  *    into one of three foreachBatch sinks — [[drainComplete]] keeps the
  *    last complete-mode batch, [[drainAppend]] accumulates append-mode
  *    facts, [[drainUpdateMerge]] merges update-mode rows by key into a
  *    prefix-partitioned parquet table. Every drain hash-matches a batch
  *    oracle.
  */
object StreamingPipeline {

  /** Drain all unprocessed log files into the cumulative state, write
    * state + top-K, stop. Returns the number of micro-batches executed.
    */
  def runAvailableNow(spark: SparkSession, logsDir: String, stateDir: String,
                      topKDir: String, k: Int, checkpointDir: String): Long = {
    var batches = 0L
    val q = spark.readStream.text(logsDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Main.tick(batch, stateDir, topKDir, k)
        batches += 1
      }
      .start()
    q.awaitTermination()
    batches
  }

  /** Watermarked tumbling-window counts per event_type over a stream with
    * an event-time column `ts` (timestamp). Late rows beyond the watermark
    * are dropped; state is bounded by (watermark horizon / window) ×
    * distinct types.
    */
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes",
                          windowLen: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("cnt"))

  /** Custom keyed state: cumulative per-user event counts emitted on
    * every update — the arbitrary-state escape hatch for semantics
    * windows can't express (monotone counters that survive across
    * micro-batches AND restarts via the checkpoint's state store). Built
    * on transformWithState (Spark 4's arbitrary-state v2, the successor
    * to flatMapGroupsWithState): typed `ValueState` handles backed by the
    * state store, per-state TTL as the state-GC bound, and timer support.
    * `ttl` bounds how long an idle user's counter survives; the default
    * `TTLConfig.NONE` never expires it.
    */
  def statefulUserCountsTws(events: org.apache.spark.sql.Dataset[(Long, String)],
                            ttl: org.apache.spark.sql.streaming.TTLConfig =
                              org.apache.spark.sql.streaming.TTLConfig.NONE)
      : DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    import events.sparkSession.implicits._
    // session-free encoder: the processor is serialized to executors, so
    // it must not capture the session-bound implicits object
    class CountProcessor extends StatefulProcessor[Long, (Long, String), (Long, Long)] {
      @transient private var count: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        count = getHandle.getValueState[Long]("count",
          Encoders.scalaLong, ttl)
      override def handleInputRows(user: Long,
                                   rows: Iterator[(Long, String)],
                                   timers: TimerValues): Iterator[(Long, Long)] = {
        val next = (if (count.exists()) count.get() else 0L) + rows.size
        count.update(next)
        Iterator((user, next))
      }
    }
    events.groupByKey(_._1)
      .transformWithState(new CountProcessor, TimeMode.None(),
        OutputMode.Update(), Encoders.product[(Long, Long)])
      .toDF("user_id", "total_events")
  }

  /** X12h as a REAL gate drain: the transformWithState cumulative
    * per-user counter run over the staged event slices in UPDATE mode
    * through the production merge sink. Each micro-batch emits the
    * cumulative count for the users it touched; replace-by-key in the
    * sink leaves exactly the final per-user totals, which hash-match
    * the trivial batch oracle (`count(*) per user`) — certifying the
    * arbitrary-state v2 path end-to-end (typed ValueState handle,
    * RocksDB-backed, exactly-once across ≥4 triggers), not just in a
    * MemoryStream spec.
    */
  def streamUserCountsTws(spark: SparkSession, sfDir: String): DataFrame =
    drainUpdateMerge(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8range"),
      "tws", Seq("user_id")) { st =>
      import spark.implicits._
      statefulUserCountsTws(
        st.select(col("user_id"), col("event_type"))
          .as[(Long, String)])
    }

  /** Index-backed continuous-ingest near-dup detection — the streaming
    * form of the persisted signature index (`Dedup.minhashIndex`): the
    * state is the accumulated (bands, base) tables, NOT the corpus
    * text, so each micro-batch shingles ONLY itself, mines against the
    * stored index (`Dedup.minhashDeltaPairsIndexed`, pure index-table
    * form — the batch's index slice is built once and used for both the
    * join and the append), and appends its slice idempotently
    * (`batch=<id>` directories: foreachBatch is at-least-once, so a
    * replayed batch overwrites its own slice, and those idempotent writes
    * are what make the checkpoint's batch accounting effectively
    * exactly-once). Versus re-mining each batch against the accumulated
    * corpus text, the per-batch cost drops from O(corpus re-shingle) to
    * O(delta + colliding-bucket reads) — the difference between a
    * pipeline that slows down as the corpus grows and one that doesn't.
    *
    * Concurrency contract: `indexDir` is OWNED by exactly one stream
    * (the checkpoint already enforces one writer per checkpointDir; the
    * index must pair 1:1 with it — two streams sharing an indexDir would
    * each read the other's batches as "corpus" with no ordering
    * guarantee). Within that contract, slices are still published
    * ATOMICALLY — written to a dot-prefixed temp directory and renamed
    * into place — so a crash mid-write leaves garbage that `prior()`'s
    * `batch=` filter never lists, never a half-written slice read as
    * corpus by the replay. Crashed `.tmp-batch=` directories are swept
    * at stream start (safe under the single-writer contract: no
    * concurrent publisher can be mid-rename), so they cannot accumulate
    * under indexDir across restarts.
    *
    * Atomicity scope: `FileSystem.rename` is atomic on HDFS and local
    * filesystems — the stores this contract targets. On object stores
    * (S3A), rename is a non-atomic copy+delete, so a crash mid-publish
    * can leave a PARTIAL `batch=` directory that `prior()` would list;
    * run indexDir on a rename-atomic filesystem (or an S3 committer
    * layer that restores atomicity).
    */
  def incrementalDedupIndexed(docs: DataFrame, indexDir: String,
                              pairsDir: String,
                              checkpointDir: String): Unit = {
    val sweepFs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    Seq("bands", "base").foreach { kind =>
      val d = new org.apache.hadoop.fs.Path(s"$indexDir/$kind")
      if (sweepFs.exists(d))
        sweepFs.listStatus(d).map(_.getPath)
          .filter(_.getName.startsWith(".tmp-batch="))
          .foreach(p => sweepFs.delete(p, true))
    }
    val q = docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val (dBands, dBase) = graft.ops.llm.Dedup.minhashIndex(
          batch, "doc_id", "text")
        // the batch's slice is read back from ITS OWN idempotent write:
        // one shingle pass per batch, shared by the join and the store.
        // Write-to-temp + rename makes publication atomic: a slice is
        // either absent or complete under $kind/batch=<id>, never partial
        val hadoopFs = new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def publish(df: DataFrame, kind: String): Unit = {
          val tmp = new org.apache.hadoop.fs.Path(
            s"$indexDir/$kind/.tmp-batch=$batchId")
          val dst = new org.apache.hadoop.fs.Path(
            s"$indexDir/$kind/batch=$batchId")
          df.write.mode("overwrite").parquet(tmp.toString)
          if (hadoopFs.exists(dst)) hadoopFs.delete(dst, true)
          if (!hadoopFs.rename(tmp, dst))
            throw new java.io.IOException(s"rename $tmp -> $dst failed")
        }
        publish(dBands, "bands")
        publish(dBase, "base")
        val wBands = spark.read.parquet(s"$indexDir/bands/batch=$batchId")
        val wBase = spark.read.parquet(s"$indexDir/base/batch=$batchId")
        // accumulated index = every PRIOR batch's slice (explicit list:
        // the current batch must not join itself twice, and a replayed
        // batch must not see its own half-written slice as "corpus")
        val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        def prior(kind: String, empty: DataFrame): DataFrame = {
          val dir = new org.apache.hadoop.fs.Path(s"$indexDir/$kind")
          if (!fs.exists(dir)) empty.limit(0)
          else {
            val slices = fs.listStatus(dir).map(_.getPath)
              .filter(_.getName.startsWith("batch="))
              .filterNot(_.getName == s"batch=$batchId")
              .map(_.toString)
            if (slices.isEmpty) empty.limit(0)
            else spark.read.parquet(slices.toIndexedSeq: _*)
          }
        }
        val pairs = graft.ops.llm.Dedup.minhashDeltaPairsIndexed(
          prior("bands", wBands), prior("base", wBase),
          wBands, wBase, num = 8, den = 10)
        pairs.write.mode("overwrite")
          .parquet(s"$pairsDir/batch=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Batch twin of `windowedEventCounts` for the declared-query oracle:
    * identical window bucketing, no watermark (batch has no late data).
    * `events` testdata stores ns-long timestamps (Tables.table), converted
    * here to µs timestamps.
    */
  def windowedEventCountsBatch(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val e = Tables.table(spark, sfDir, "events")
    // Exact integer division: ns-epoch longs (~1.7e18) exceed double's
    // 2^53 range, so `/ 1000` via double can truncate a µs off near
    // window boundaries. `div` stays in long arithmetic.
    val withTs = e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    windowStartCounts(withTs.select(col("ts"), col("event_type")))
  }

  /** [[windowedEventCounts]] at its defaults, each window as its start
    * string: (window_start "yyyy-MM-dd HH:mm:ss", event_type, cnt). The
    * batch twin and the update-mode drain both emit this.
    */
  private def windowStartCounts(events: DataFrame): DataFrame =
    windowedEventCounts(events)
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("cnt"))

  /** Word frequencies of the `text` column: the aggregation shared by
    * the top-K leaderboard's complete and update twins.
    */
  private def wordCounts(st: DataFrame): DataFrame =
    st.select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** The reference's product loop — a continuously-maintained ranked
    * leaderboard — as a REAL streaming run in the gate: the corpus
    * streamed 2 files per trigger, word frequencies as a stateful
    * complete-mode aggregation, and the global top-K cut applied INSIDE
    * the streaming query (sort + limit after aggregation is legal in
    * complete mode — each drain re-emits the current leaderboard, which
    * is exactly the reference's "recompute the ranking each run"
    * semantics without rescanning history). The (cnt desc, word asc)
    * tie-break makes the emitted SET deterministic, so the final
    * leaderboard hash-matches the batch oracle.
    */
  def streamTopKWords(spark: SparkSession, sfDir: String, k: Int = 20)
      : DataFrame =
    drainComplete(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "docs8"), "topk") {
      st => wordCounts(st).orderBy(col("cnt").desc, col("word")).limit(k)
    }

  /** Native `session_window` sessions per user, shared by the complete
    * and append twins.
    *
    * Boundary semantics: `session_window` merges a pair exactly gap
    * apart (the [t, t+gap] window is end-inclusive for merging) — the
    * SAME rule as `ops.Sessionize`'s diff > gap split, so the native and
    * hand-rolled sessionizers agree everywhere (StreamingSpec pins the
    * boundary case explicitly).
    *
    * Output (exact integer µs): (user_id, session_start, dur, n_events,
    * first_event, last_event). dur = window end − start − gap = last
    * event ts − first event ts, matching the batch form.
    */
  private[graft] def sessions(st: DataFrame): DataFrame = {
    val gapUs = 43_200_000_000L
    st.groupBy(col("user_id"), session_window(col("ts"), "12 hours"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start"),
        (unix_micros(col("session_window.end")) -
          unix_micros(col("session_window.start")) - gapUs).as("dur"),
        col("n_events"), col("first_event"), col("last_event"))
  }

  /** A REAL streaming session-window run inside the correctness gate:
    * events staged as 8 time-range files, re-read as a file-source
    * STREAM (2 files per trigger, so >= 4 micro-batches arrive in time
    * order), sessionized as a stateful complete-mode aggregation.
    * Sessions that span a file boundary MERGE across micro-batches
    * inside the state store — the cross-batch session-merge semantics is
    * exactly what the batch DuckDB oracle match then certifies,
    * bit-for-bit.
    */
  def streamSessionizeComplete(spark: SparkSession, sfDir: String)
      : DataFrame =
    drainComplete(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8range"),
      "sess")(sessions)

  /** L94 — streaming IVF index maintenance: new embeddings
    * delta-assign to the PERSISTED coarse quantizer per
    * micro-batch — the ANN companion to the persisted-MinHash-index
    * ingest ([[incrementalDedupIndexed]]): there the stored state is a
    * band table mined against, here it is the (cid, cc, cn2) centroid
    * table new vectors are routed by. The quantizer is built ONCE from
    * the accumulated corpus (`Ivf.int8Quantizer`, the digest-seeded
    * integer-exact scheme of q_similarity_ivf_exact), materialized, and
    * broadcast into every batch; each trigger's cost is O(delta ×
    * nClusters) with nothing corpus-sized touched — the index a 100 TB
    * vector store maintains without refitting. Assignment is per-row
    * deterministic (no cross-row state), so the drained facts equal the
    * batch replay of assignment over the whole corpus bit-for-bit —
    * that equality is exactly what the gate hash certifies.
    */
  def streamIvfAssign(spark: SparkSession, sfDir: String): DataFrame = {
    // built once per session and embeddings fingerprint (SharedBases
    // memo, materialized): one quantizer serves every micro-batch
    val cents = graft.queries.SharedBases
      .ivfQuantizer(spark, sfDir, nClusters = 16)
    drainAppend(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "emb8"), "ivfassign",
      perBatch = b => graft.ops.llm.Ivf.int8CellIds(
        b.select(col("vec_id"), col("embedding").cast("array<double>")),
        cents)
        .select(col("id").as("vec_id"),
          col("cid").cast("long").as("cid")))(identity)
  }

  /** Exact dedup by content digest — min doc_id and copy count per
    * digest — shared by the complete and update twins.
    */
  private def digestCopies(st: DataFrame): DataFrame =
    st.select(sha2(lower(trim(col("text"))), 256).as("digest"), col("doc_id"))
      .groupBy("digest")
      .agg(min("doc_id").as("keep_doc"), count(lit(1)).as("n_copies"))

  /** A REAL streaming run inside the correctness gate: documents.parquet
    * staged as 8 files and read back as a file-source STREAM, exact-dedup
    * as a stateful streaming aggregation (RocksDB state) drained into the
    * complete sink. The final state is order-independent (min/count are
    * commutative over micro-batches), so the result hash-matches the
    * batch DuckDB oracle — the streaming/batch equivalence claim as a
    * first-class gate entry, not just a spec. The complete sink is gate
    * plumbing; the production shape is [[streamDedupUpdate]]'s merge
    * sink.
    */
  def streamDedupComplete(spark: SparkSession, sfDir: String): DataFrame =
    drainComplete(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "docs8"), "dedup")(
      digestCopies)

  /** X12u — stream-STATIC enrichment join, the most common production
    * streaming shape of all (every event pipeline tags its stream with
    * dimension attributes before aggregating): each micro-batch of the
    * staged event stream is joined to a static customer→nation
    * dimension and the enriched stream aggregated per (nation,
    * event_type) in complete mode. The static side is loaded ONCE per
    * query (Spark re-plans it into every micro-batch as a broadcast —
    * no state store involvement: stream-static joins are stateless,
    * which is exactly why this shape scales where stream-stream joins
    * need watermarks). The inner join drops events whose user_id has no
    * customer row — the batch oracle applies the same join, so the
    * drop-set is certified, not assumed.
    */
  def streamEnrich(spark: SparkSession, sfDir: String): DataFrame =
    drainComplete(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8range"),
      "enrich") { st =>
      val c = graft.Tables.table(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val n = graft.Tables.table(spark, sfDir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val dim = broadcast(
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .select(col("c_custkey"), col("n_name")))
      st.join(dim, col("user_id") === col("c_custkey"))
        .groupBy("n_name", "event_type")
        .agg(count(lit(1)).as("n_events"),
          min("event_id").as("first_event_id"),
          max("event_id").as("last_event_id"))
    }

  /** X12v core — SEQUENTIAL pattern emission across micro-batches: the
    * streaming form of q_transitions' lead() window. A batch window
    * cannot see across triggers, so the "previous event" must live in
    * keyed state: per user the state is the LAST event seen
    * (tsu, event_id, type); each batch sorts its per-user slice by
    * (tsu, event_id) — bounded by the user's per-trigger volume, not
    * history — bridges from the stored state, emits the consecutive
    * (from, to) facts, and stores the new tail. Emissions are
    * append-mode FACTS (each transition exists exactly once given
    * exactly-once file accounting), so the correct sink is an
    * append-only table, not a replace-by-key merge. Correctness
    * requires event-time-ordered arrival ACROSS triggers — the
    * events8range staging pins exactly that (range-partitioned slices,
    * mtime-ordered; equal timestamps never split across slices because
    * the range partitioner keys them together).
    */
  def statefulTransitions(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long, String)])
      : DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, batch: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Long, Long, String)]) =>
          val rows = batch.toSeq.sortBy(e => (e._2, e._3))
          if (rows.isEmpty) Iterator.empty
          else {
            val seq = state.getOption.map(p => (0L, p._1, p._2, p._3))
              .toSeq ++ rows
            val out = seq.zip(seq.tail)
              .map { case (a, b) => (a._4, b._4) }
            val last = rows.last
            state.update((last._2, last._3, last._4))
            out.iterator
          }
      }
      .toDF("from_type", "to_type")
  }

  /** Staged events typed for the stateful operators:
    * (user_id, tsu µs, event_id, event_type).
    */
  private def typedEvents(st: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Long, Long, String)] = {
    import st.sparkSession.implicits._
    st.select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
  }

  /** X12v — the stateful sequential counter as a REAL gate drain: the
    * staged time-ordered event stream drained through
    * `statefulTransitions` with the emitted facts APPENDED per batch
    * (foreachBatch parquet append — the fact-table production sink),
    * then rolled up to per-(from, to) counts. Hash-matches
    * q_transitions' batch oracle exactly: the keyed state bridges every
    * trigger boundary, so the count table is identical to the
    * single-pass lead() window over the whole history.
    */
  def streamTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val facts = drainAppend(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8range"),
      "transitions") { st =>
      statefulTransitions(typedEvents(st))
    }
    facts.groupBy("from_type", "to_type").agg(count(lit(1)).as("cnt"))
  }

  /** Keyed funnel state machine: per user, the earliest signup t1, the
    * earliest qualifying click t2 ∈ (t1, t1+win], and the earliest
    * qualifying purchase t3 ∈ (t2, t2+win], folded in event-time order
    * across micro-batches (-1 = step not reached). Greedy time-ordered
    * folding equals the batch q_funnel min-CASE chain BECAUSE arrival
    * is event-time-ordered across triggers (events8range staging) and
    * every qualifying condition is strict in tsu — an equal-timestamp
    * event can never qualify, so intra-slice order is immaterial.
    * Emits the user's full current state on every batch it appears in
    * (update-mode-legal: replace-by-key merge is correct).
    */
  def statefulFunnel(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long, String)],
      win: Long = 86_400_000_000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long),
        (Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Long, Long, Long)]) =>
          val rows = batch.toSeq.sortBy(e => (e._2, e._3))
          if (rows.isEmpty) Iterator.empty
          else {
            var (t1, t2, t3) =
              state.getOption.getOrElse((-1L, -1L, -1L))
            rows.foreach { case (_, tsu, _, tpe) =>
              if (t1 < 0) { if (tpe == "signup") t1 = tsu }
              else if (t2 < 0) {
                if (tpe == "click" && tsu > t1 && tsu <= t1 + win)
                  t2 = tsu
              } else if (t3 < 0) {
                if (tpe == "purchase" && tsu > t2 && tsu <= t2 + win)
                  t3 = tsu
              }
            }
            state.update((t1, t2, t3))
            Iterator((user, t1, t2, t3))
          }
      }
      .toDF("user_id", "t1", "t2", "t3")
  }

  /** X12x — the streaming ordered funnel: per-user signup→click→
    * purchase progression tracked in keyed state across micro-batches,
    * each trigger MERGE-ing the changed users' states into the sink
    * table (the production "conversion state store" shape), then the
    * three-step rollup — hash-matched against q_funnel's batch oracle,
    * proving the state machine bridges every trigger boundary.
    */
  def streamFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val state = drainUpdateMerge(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8range"),
      "funnel", Seq("user_id")) { st =>
      statefulFunnel(typedEvents(st))
    }
    state.agg(
      count(when(col("t1") >= 0, 1)).as("n_signup"),
      count(when(col("t2") >= 0, 1)).as("n_then_click"),
      count(when(col("t3") >= 0, 1)).as("n_then_purchase"))
  }

  /** X12z — streaming point-in-time enrichment (the feature-store
    * serving join): every streamed click is matched per micro-batch to
    * the user's latest STATIC view at-or-before its timestamp via
    * `TimeJoins.asof` running with batch semantics inside foreachBatch
    * (the escape hatch for window-based ops a streaming plan cannot
    * host). Correct under any batch split because an as-of match is
    * per-row independent: left rows never affect each other's
    * carried-forward match, only the static right side does. Each
    * click lands in exactly one trigger → appended exactly once; the
    * result hash-matches the batch q_asof_join oracle verbatim.
    */
  def streamAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val views = graft.Tables.table(spark, sfDir, "events")
      .filter(col("event_type") === "view")
      .select(col("user_id"), expr("ts div 1000").as("tsu"),
        col("event_id").as("view_id"))
    drainAppend(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8range"),
      "asof",
      perBatch = batch =>
        graft.ops.TimeJoins.asof(batch, views, "user_id", "tsu",
          "click_id", "view_id")) { st =>
      st.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
          col("event_id").as("click_id"))
    }.withColumnRenamed("tsu", "ts")
  }

  /** X12w — streaming data-quality gate: the q_quarantine rule set
    * applied PER MICRO-BATCH on the ingest stream (Constraints.tag is a
    * pure projection — stateless, so it is append-mode-legal unchanged;
    * the same rule Columns drive the batch audit and this drain — one
    * rule definition, two execution modes). Every document emits one
    * fact per violated rule — or the `__clean__` marker — into the
    * append-only sink; the rollup counts what a dead-letter split
    * would have routed where, and hash-matches the batch oracle
    * (certifying the stream loses/duplicates no rows across triggers).
    */
  def streamQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val rules = Seq(
      "n_chars_le_200" ->
        graft.ops.Constraints.fails(col("n_chars") <= 200),
      "lang_allowed" ->
        graft.ops.Constraints.fails(col("lang").isin("en", "fr")))
    val facts = drainAppend(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "docs8"),
      "quarantine") { st =>
      graft.ops.Constraints.tag(
          st.select(col("doc_id"), col("n_chars"), col("lang")), rules)
        .select(explode(
          when(size(col("violations")) === 0, array(lit("__clean__")))
            .otherwise(col("violations"))).as("rule"))
    }
    facts.groupBy("rule").agg(count(lit(1)).as("n"))
  }

  /** The one lifecycle every gate drain runs: re-read the staged source
    * (`queries.StreamStaging`, 8 parquet files; staging is fixture I/O
    * billed outside the entries' timers) as a file-source STREAM, 2
    * files per trigger so at least 4 micro-batches arrive, apply `build`
    * (which must be legal in output `mode`), and hand each micro-batch to
    * `onBatch` through foreachBatch under `Trigger.AvailableNow`.
    * `onFinish` sees the terminated query (its progress). Returns the
    * schema `build` produces, so a sink that saw no batch can still
    * return an empty, typed result.
    *
    * On every exit path, a throwing `build` or `onBatch` included: a
    * started query is stopped, the two session confs set here are back
    * at their pre-call values (unset stays unset), and the checkpoint is
    * deleted. The checkpoint is fresh per call — a reused one would mark
    * every file processed and drain nothing.
    *
    * `statePartitions` is the query's `spark.sql.shuffle.partitions`,
    * frozen into the checkpoint as the state-store partition count (see
    * [[defaultStatePartitions]]). Trailing no-data micro-batches run only
    * in append mode, where a watermark advance finalizes rows (the
    * sentinel flush rides that batch). In complete and update mode every
    * row was already emitted when its group changed, so the batch could
    * only evict state that dies with the drain.
    */
  private def drain(spark: SparkSession, stagedDir: String, prefix: String,
                    mode: String, statePartitions: Int,
                    onFinish: StreamingQuery => Unit = _ => ())(
      build: DataFrame => DataFrame)(onBatch: DataFrame => Unit): StructType = {
    val ckpt = ephemeralDir(s"$prefix-ckpt")
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        (mode == "append").toString)
    val set = spark.conf.getAll // explicitly set confs only
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    var started: Option[StreamingQuery] = None
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // time-ordered staged kinds carry PINNED file mtimes: FileStreamSource
      // picks the next batch by modification time, and out-of-order slices
      // would make a watermark silently drop whole ranges
      val built = build(spark.readStream
        .schema(graft.queries.StreamStaging.schema(spark, stagedDir))
        .option("maxFilesPerTrigger", "2")
        .parquet(stagedDir))
      val q = built.writeStream
        .outputMode(mode)
        .foreachBatch((batch: DataFrame, _: Long) => onBatch(batch))
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      started = Some(q)
      q.awaitTermination()
      onFinish(q)
      built.schema
    } finally {
      started.foreach(q => try q.stop() catch { case _: Exception => () })
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      graft.util.Fs.deleteRecursively(ckpt)
    }
  }

  /** A drain's result as a local DataFrame. Result-sized by contract: the
    * rows are the entry's result, which the gate hashes in full anyway; a
    * production sink is a durable table and never driver-resident.
    */
  private def localFrame(spark: SparkSession, rows: Seq[Row],
                         schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Complete sink: `build` must end in a complete-mode-legal
    * aggregation; every batch re-emits the whole state, so the last
    * batch's rows are the final state.
    */
  def drainComplete(spark: SparkSession, stagedDir: String, prefix: String)(
      build: DataFrame => DataFrame): DataFrame = {
    var last = Seq.empty[Row]
    val schema = drain(spark, stagedDir, prefix, "complete",
      defaultStatePartitions)(build) { batch => last = batch.collect().toSeq }
    localFrame(spark, last, schema)
  }

  /** Append sink for fact-emitting entries: `build` must be
    * append-mode-legal; each batch's facts, after `perBatch`, are
    * accumulated. `perBatch` runs with BATCH semantics inside the
    * callback (the foreachBatch escape hatch): windowed or other
    * non-stream-legal ops are fine as long as the result is per-row
    * independent of how rows split across triggers.
    */
  def drainAppend(spark: SparkSession, stagedDir: String, prefix: String,
                  statePartitions: Int = defaultStatePartitions,
                  perBatch: DataFrame => DataFrame = identity)(
      build: DataFrame => DataFrame): DataFrame = {
    val facts = Seq.newBuilder[Row]
    val schema = drain(spark, stagedDir, prefix, "append",
      statePartitions)(build) { batch => facts ++= perBatch(batch).collect() }
    localFrame(spark, facts.result(),
      perBatch(localFrame(spark, Nil, schema)).schema)
  }

  /** Merge sink, the 100 TB counterpart of [[drainComplete]]: `build`
    * must end in an update-mode-legal aggregation keyed by `keyCols` that
    * emits the key's full current aggregate value on change (true of
    * min/max/count/sum), so replace-by-key is the correct merge. Each
    * batch's changed keys are MERGE-d into a hash-prefix-partitioned
    * parquet table ([[mergeBatch]]); nothing is driver-resident or
    * re-emitted in full. This is the reference's
    * CronJob-with-external-state loop with exactly-once file accounting.
    * Returns the final table (prefix column dropped) as a local
    * DataFrame; the table's scratch dir is deleted on every exit path.
    */
  def drainUpdateMerge(spark: SparkSession, stagedDir: String,
                       prefix: String,
                       keyCols: Seq[String],
                       onFinish: StreamingQuery => Unit = _ => ())(
      build: DataFrame => DataFrame): DataFrame = {
    val sinkRoot = ephemeralDir(s"$prefix-sink")
    val sinkPath = sinkRoot.resolve("state").toString
    try {
      val schema = drain(spark, stagedDir, prefix, "update",
        defaultStatePartitions, onFinish)(build)(
        mergeBatch(_, sinkPath, keyCols))
      // no batch wrote (empty source): the sink path does not exist
      if (!new java.io.File(sinkPath).exists()) localFrame(spark, Nil, schema)
      else {
        // explicit schema (the aggregation's own + the LONG pfx column
        // the sink layout adds): no footer-inference job
        val fin = spark.read
          .schema(StructType(schema.fields :+ StructField("pfx", LongType)))
          .parquet(sinkPath).drop("pfx")
        localFrame(spark, fin.collect().toSeq, fin.schema)
      }
    } finally graft.util.Fs.deleteRecursively(sinkRoot)
  }

  /** One merge-sink trigger. The batch's rows are eagerly checkpointed
    * (the batch Dataset is valid only inside the callback and feeds both
    * merge sides); the touched prefixes ride that same job as an
    * `Observation` (a bit_or over 1L<<pfx — exact because pfx < 16). The
    * sink is read PRUNED to the touched partitions, stale versions drop
    * via anti-join on the key, and the merged rows are written to a
    * staging sibling — the write reads `sinkPath` while writing another
    * path, so no lineage cut is needed — then the touched pfx= dirs are
    * swapped in driver-side. Replay is idempotent: replace-by-key
    * re-merges to the identical partition. A production MERGE sink is a
    * durable table whose commit protocol does this swap transactionally;
    * a real deployment also widens the 16-prefix modulus so a partition
    * is a few GB.
    */
  private def mergeBatch(batch: DataFrame, sinkPath: String,
                         keyCols: Seq[String]): Unit = {
    val sp = batch.sparkSession
    def phase[T](tag: String)(body: => T): T = {
      sp.sparkContext.setJobDescription(s"graft-sink:$tag")
      try body finally sp.sparkContext.setJobDescription(null)
    }
    val obs = new org.apache.spark.sql.Observation()
    val upd = phase("ckpt") {
      batch
        .withColumn("pfx",
          pmod(xxhash64(keyCols.map(col): _*), lit(16L)))
        .observe(obs,
          coalesce(bit_or(expr("shiftleft(1L, cast(pfx as int))")),
            lit(0L)).as("mask"))
        .localCheckpoint(true)
    }
    val mask = obs.get("mask").asInstanceOf[Long]
    // a batch may emit nothing (mask 0 ⟺ zero rows): writing the empty
    // frame would leave a part-less parquet dir the next batch cannot
    // re-read
    if (mask != 0L) {
      val touched = (0 until 16).filter(i => (mask & (1L << i)) != 0)
        .map(_.toLong)
      val existing =
        if (new java.io.File(sinkPath).exists())
          // explicit schema (upd's own, pfx declared LONG): no
          // footer-inference job for a layout this loop itself wrote
          sp.read.schema(upd.schema).parquet(sinkPath)
            .filter(col("pfx").isin(touched: _*))
            .select(upd.columns.map(col): _*)
        else localFrame(sp, Nil, upd.schema)
      // repartition by pfx before the partitioned write: each touched
      // partition gets ONE file, instead of O(shuffle.partitions ×
      // prefixes) small files per batch
      val stage = s"$sinkPath.stage"
      phase("merge+write") {
        existing
          .join(upd.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(upd)
          .repartition(touched.size, col("pfx"))
          .write.mode("overwrite").partitionBy("pfx").parquet(stage)
      }
      val sinkDir = new java.io.File(sinkPath)
      sinkDir.mkdirs()
      touched.foreach { i =>
        val dst = new java.io.File(sinkDir, s"pfx=$i")
        val src = new java.io.File(stage, s"pfx=$i")
        // a touched prefix always has staged rows (mask ⟸ upd rows);
        // the guard keeps a hypothetical miss from deleting data
        if (!src.exists())
          throw new java.io.IOException(
            s"touched prefix missing from stage: $src")
        graft.util.Fs.deleteRecursively(dst.toPath)
        if (!src.renameTo(dst))
          throw new java.io.IOException(
            s"sink partition swap failed: $src -> $dst")
      }
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(stage))
    }
  }

  /** State-store partition sizing for the gate/bench drains. The
    * stateful-operator partition count is read from
    * `spark.sql.shuffle.partitions` at the query's FIRST batch and
    * frozen into its checkpoint; every trigger then pays per-instance
    * constants (RocksDB open/load/commit + changelog upload) times this
    * count, independent of data. At the drains' key cardinalities
    * (10³–10⁵ keys) the session default (= local cores) is pure
    * overhead: measured at sf0.1, 32→8 instances cut
    * q_stream_window_update 8.9→5.2 s and q_stream_dedup_update
    * 8.4→4.2 s with identical results; below 8 the gain is inside run
    * noise (a 5-run A/B on streamWindowUpdate: 8→2 ≈ −0.3 s, like the
    * HDFS-backed provider; changelog off and RocksDB compression ≈ 0).
    * A production deployment sizes this to keys/executors; the choice
    * is per-run here because every drain starts a fresh checkpoint.
    */
  val defaultStatePartitions = 8

  /** Temp dir under java.io.tmpdir for the drains' EPHEMERAL scratch —
    * checkpoints and merge-sink tables, deleted on every exit path and
    * never restarted from. Both are written every trigger (the per-batch
    * RocksDB changelog commit; the merge table is read and rewritten),
    * yet durability buys nothing for scratch by contract. A production
    * deployment — where the checkpoint IS the restart story and the sink
    * a durable table — points them at durable storage and pays the sync
    * deliberately.
    */
  private def ephemeralDir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(s"graft-stream-$tag")

  /** X12p — the 100 TB shape of `q_stream_dedup`: the SAME exact-dedup
    * aggregation run in UPDATE output mode, each micro-batch's changed
    * digests MERGE-d into a digest-prefix-partitioned parquet sink table
    * through foreachBatch, drained with AvailableNow. The final sink
    * table hash-matches the identical batch oracle as the complete-mode
    * twin, which certifies the two modes equivalent — but this shape
    * scales: per trigger the query emits only the digests that CHANGED
    * in that batch (update mode), and the merge rewrites only the sink
    * partitions those digests live in (dynamic partition overwrite over
    * a hash-prefix layout — 16 partitions here; a real deployment
    * widens the modulus so a partition is a few GB). Nothing
    * is ever driver-resident or re-emitted in full: complete mode
    * re-sends the whole state every trigger and the complete sink holds
    * it on the driver, which is why the complete-mode entries are
    * gate plumbing and THIS is the production loop. It is also exactly
    * the reference's CronJob semantics (state in an external table,
    * each run merging only what arrived) done with exactly-once file
    * accounting instead of a hardcoded hourly path. Merge mechanics:
    * [[mergeBatch]].
    */
  def streamDedupUpdate(spark: SparkSession, sfDir: String): DataFrame =
    drainUpdateMerge(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "docs8"),
      "dedup_upd", Seq("digest"))(digestCopies)

  /** X12s — the watermark surface (§2.10) as a REAL streamed run with
    * the production sink: events staged as 8 consecutive TIME slices,
    * watermarked tumbling-window counts in UPDATE mode, each batch's
    * changed (window, type) rows merged into the partitioned sink
    * table. This is the full bounded-state story in one query: as the
    * watermark advances past a window the store EVICTS it (state stays
    * ~horizon-sized, never run-sized) while the sink table retains its
    * final value — so the drained table is still complete and
    * hash-matches q_stream_window's byte-identical batch oracle. The
    * time-ordered staging plus any positive watermark delay guarantees
    * no row ever arrives below the watermark (slice k+1's min ts ≥
    * slice k's max), so eviction never loses data here; a production
    * feed tunes the delay to its real disorder bound.
    */
  def streamWindowUpdate(spark: SparkSession, sfDir: String,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame =
    // update mode runs no trailing no-data batch ([[drain]]): here it
    // would arrive empty (measured: mask = 0) after ~0.5 s of pure
    // state-store machinery
    drainUpdateMerge(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8range"),
      "window_upd", Seq("window_start", "event_type"),
      onFinish = onFinish)(windowStartCounts)

  /** X12t — the session-window surface with the production sink,
    * completing the twin set across all five streaming gate surfaces.
    * Session-window aggregation does not support update output
    * (STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION — only
    * append/complete), so the scalable shape here is APPEND mode: a
    * session is emitted EXACTLY ONCE, when the advancing watermark
    * finalizes it (session merging happens in state BEFORE emission), so
    * the append sink is exact and a keyed merge would buy nothing. The
    * tail problem — sessions
    * still open when the stream drains never finalize, so append mode
    * alone under-reports — is solved the way production pipelines do:
    * a watermark-heartbeat SENTINEL event (event_type `__sentinel__`,
    * ts = global max + gap + delay + margin) staged as the final slice
    * pushes the watermark past every real session's horizon, flushing
    * them all; the sentinel is dropped on its marker AFTER the
    * watermark node (so it still drives the watermark) and never forms
    * a session of its own. The
    * drained table hash-matches q_stream_sessionize's byte-identical
    * oracle — proof the once-per-session append emission loses nothing
    * once the watermark is driven home.
    */
  def streamSessionizeAppend(spark: SparkSession, sfDir: String)
      : DataFrame =
    // events8sentinel: time slices + the watermark-heartbeat sentinel in
    // the last slice (built — and empty-events-guarded — in StreamStaging)
    drainAppend(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8sentinel"),
      "sess_app") { st =>
      // The sentinel is keyed on its event_type MARKER, not a magic
      // user_id: dropped AFTER the watermark node it still advances the
      // watermark but never forms a session, so a corpus with
      // legitimately negative user_ids loses nothing. The predicate
      // must REFERENCE the event-time column: PushPredicateThroughNonJoin
      // pushes any filter not referencing the watermark attribute below
      // EventTimeWatermark, and a pushed-down sentinel drop would stop
      // the heartbeat from ever reaching the watermark (measured: 111
      // of 3292 sessions unflushed). `ts IS NULL` is vacuously false —
      // it exists purely to pin the filter above the watermark.
      sessions(st.withWatermark("ts", "1 hour")
        .filter(col("event_type") =!= "__sentinel__" || col("ts").isNull))
    }

  /** X12e/X12j as REAL gate drains: the stream-stream interval join
    * (each click joined to the same user's views ≤ 1 h before it) run
    * over the time-sliced staged events as a genuine two-branch
    * self-join of one file-source stream, drained through the append
    * fact sink. Matched pairs emit exactly once, at match time, and the
    * outer form's null-extension only at watermark eviction — pair keys
    * are unique by construction, so a keyed merge would never replace a
    * row (measured: it cost ~25% of the drains' wall for identical rows).
    * Correctness against the byte-identical batch
    * oracle rests on the staging discipline: slices are range-
    * partitioned on ts with PINNED mtimes, so the 10-minute watermark
    * delay always exceeds cross-slice disorder and the horizon-bounded
    * state (views evicted once `watermark − horizon` passes them —
    * the condition that makes stream-stream joins runnable at scale)
    * never evicts a row a future click could still claim.
    *
    * Sentinel discipline for the OUTER form: a click's null-extended
    * row may only emit once the watermark proves no matching view can
    * arrive, so clicks inside the final watermark delay would stay
    * unflushed at drain end — the same tail problem as append-mode
    * sessionization, solved the same way: the events8sentinel layout's
    * heartbeat row rides BOTH branches through their watermark nodes
    * (the default multipleWatermarkPolicy is min — a heartbeat on one
    * branch only would be ignored) and is dropped after them with the
    * ts-referencing predicate that pins the drop above the watermark.
    */
  def streamIntervalJoin(spark: SparkSession, sfDir: String): DataFrame =
    intervalJoinDrain(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8range"),
      "ssj", "inner")

  /** Stream-stream joins run FOUR state stores per partition per side
    * pair (keyToNumValues + keyWithIndex, left and right), so their
    * per-trigger instance constant is ~4× a stateful agg's at equal
    * partition count — the measured curve of the interval-join drain at
    * sf0.1 (16→12.2 s, 8→8.4 s, 4→6.9 s, 2→6.4 s) is the
    * [[defaultStatePartitions]] story amplified. 4 fits these drains' key
    * cardinality; production sizes it to keys/executors like every other
    * drain.
    */
  val joinStatePartitions = 4

  /** See [[streamIntervalJoin]] — the left-outer (unattributed-click)
    * form, over the sentinel staging so the tail flushes.
    */
  def streamIntervalJoinOuter(spark: SparkSession, sfDir: String)
      : DataFrame =
    intervalJoinDrain(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "events8sentinel"),
      "ssjo", "left_outer")

  private def intervalJoinDrain(spark: SparkSession, stagedDir: String,
                                prefix: String, joinType: String)
      : DataFrame =
    drainAppend(spark, stagedDir, prefix, joinStatePartitions)(
      intervalJoin(_, joinType))

  /** Stream-stream interval join of one event stream `(user_id, ts,
    * event_id, event_type)` with itself: each click joined (`joinType`
    * "inner" or "left_outer") to the same user's views at most 1 h
    * before it. Both branches carry a 10-minute watermark; the time-bound
    * join condition lets Spark expire buffered state for rows older than
    * the horizon. The outer form emits an unattributed click (NULL
    * view_id) once the watermark proves no matching view can still
    * arrive. A `__sentinel__` event passes both watermark nodes and is
    * dropped after them (see [[streamSessionizeAppend]] for why the
    * predicate must reference ts).
    */
  private[graft] def intervalJoin(events: DataFrame,
                                  joinType: String): DataFrame = {
    def side(t: String, user: String, ts: String, id: String) =
      events.filter(col("event_type").isin(t, "__sentinel__"))
        .withWatermark("ts", "10 minutes")
        .filter(col("event_type") =!= "__sentinel__" || col("ts").isNull)
        .select(col("user_id").as(user), col("ts").as(ts),
          col("event_id").as(id))
    val c = side("click", "c_user", "c_ts", "click_id")
    val v = side("view", "v_user", "v_ts", "view_id")
    c.join(v,
        col("c_user") === col("v_user") &&
          col("v_ts") <= col("c_ts") &&
          col("v_ts") >= col("c_ts") - expr("INTERVAL 1 hour"),
        joinType)
      .select(col("c_user").as("user_id"), col("click_id"),
        col("view_id"))
  }

  /** X12q — the update-mode twin of `q_stream_topk` (the reference's
    * product leaderboard): word-frequency state in UPDATE mode merged
    * per-batch into the sink table; the top-K cut is a READ over the
    * state table (the production split — complete mode re-sorts and
    * re-emits the whole leaderboard inside every trigger, this shape
    * maintains change-sized state and lets any number of readers cut
    * their own K). Hash-matched against q_stream_topk's byte-identical
    * oracle.
    */
  def streamTopKUpdate(spark: SparkSession, sfDir: String, k: Int = 20)
      : DataFrame =
    drainUpdateMerge(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "docs8"),
      "topk_upd", Seq("word"))(wordCounts)
      .orderBy(col("cnt").desc, col("word")).limit(k)

  /** Latest-per-key CDC state: max(struct(version, delete-rank, payload))
    * per doc_id, projected to (doc_id, op, lang, source, n_chars). Max
    * over a total order is commutative across micro-batches; (version,
    * delete-rank) is unique per key in the feed, so the payload fields
    * never tie-break, and the delete-rank encodes 'D' beats 'U' at equal
    * version — the batch window's (version DESC, op ASC) rule. Shared by
    * the complete and update twins.
    */
  private def cdcLatest(st: DataFrame): DataFrame =
    st.groupBy("doc_id")
      .agg(max(struct(col("version"),
        when(col("op") === "D", 2).otherwise(1).as("drk"),
        col("op"), col("lang"), col("source"), col("n_chars"))).as("m"))
      .select(col("doc_id"), col("m.op").as("op"),
        col("m.lang").as("lang"), col("m.source").as("source"),
        col("m.n_chars").as("n_chars"))

  /** X12o — the CDC consumer as a REAL streaming run: the staged change
    * feed (8 files) drained into the complete sink, and the streamed
    * latest-per-key state applied to the base by the caller's `apply` —
    * which must equal the batch q_cdc_merge snapshot bit for bit.
    */
  def streamCdcComplete(spark: SparkSession, sfDir: String,
                        apply: DataFrame => DataFrame): DataFrame =
    apply(drainComplete(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "cdc8"), "cdc")(
      cdcLatest))

  /** X12r — the update-mode twin of `q_stream_cdc`: the latest-per-key
    * state merged per-batch into the sink table by doc_id; applying the
    * drained state to the base snapshot is a READ-side join (how a real
    * CDC consumer serves queries: state table + view), hash-matched
    * against the byte-identical q_cdc_merge oracle. The `apply` function
    * comes from the caller so this stays the maintenance tier's own
    * semantics.
    */
  def streamCdcUpdate(spark: SparkSession, sfDir: String,
                      apply: DataFrame => DataFrame): DataFrame =
    apply(drainUpdateMerge(spark,
      graft.queries.StreamStaging.dir(spark, sfDir, "cdc8"),
      "cdc_upd", Seq("doc_id"))(cdcLatest))
}
