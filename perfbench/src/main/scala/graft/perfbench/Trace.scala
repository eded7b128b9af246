package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Harness-side spans of the traced run. Times are epoch milliseconds.
  * Everything is kept in memory and aggregated once, after the bus has
  * drained, so the listeners do no work beyond appending a record.
  */
final case class JobSpan(start: Long, end: Long, module: String,
                         checkpoint: Boolean, stageIds: Seq[Int])
final case class StageSpan(id: Int, start: Long, end: Long, tasks: Int,
                           runMs: Long, cpuNs: Long,
                           gcMs: Long, deserMs: Long, inBytes: Long,
                           outBytes: Long, shuffleWrite: Long,
                           shuffleRead: Long, spill: Long)
final case class QeSpan(at: Long, catalystMs: Long)
final case class TriggerSpan(at: Long, durations: Map[String, Long],
                             inputRows: Long, stateRowsUpdated: Long,
                             stateMemBytes: Long)

object Trace {

  /** Module of the innermost graft frame of a call site: the package
    * under `graft.` that issued the action. The root package (`Main`,
    * `Pipeline`, `SparkEntry`) is "main". An action the harness issues
    * itself executes a declared query's plan, so it bills "queries".
    */
  def module(site: String): Option[String] =
    site.linesIterator.map(_.trim.stripPrefix("at ").trim)
      .find(_.startsWith("graft."))
      .map { l =>
        val pkg = l.stripPrefix("graft.").takeWhile(_ != '(')
        if (pkg.startsWith("perfbench.")) "queries"
        else if (pkg.startsWith("ops.llm.")) "llm"
        else pkg.takeWhile(_ != '.') match {
          case p @ ("ops" | "io" | "functions" | "streaming" | "queries" |
                    "util") => p
          case _ => "main"
        }
      }

  /** Module from a stage's short call site ("count at Sinks.scala:31"),
    * used when no SQL execution or stage detail names a graft frame.
    */
  private val fileModule = Map(
    "Sinks.scala" -> "io", "Sources.scala" -> "io",
    "Main.scala" -> "main", "Pipeline.scala" -> "main",
    "StreamingPipeline.scala" -> "streaming")
  def moduleOfStageName(name: String): String =
    "at ([A-Za-z0-9_]+\\.scala)".r.findFirstMatchIn(name)
      .flatMap(m => fileModule.get(m.group(1))).getOrElse("other")

  /** On the product path, `Main.runOnce` and `io.Sinks` issue every
    * action, but the plans they run are the `graft.ops` operators that
    * `Pipeline.incrementalRun` composes. A stage of such a job bills `io`
    * when it writes files, or reads files without reading a shuffle (a
    * scan, with the map-side operators fused into it); any other stage
    * runs on shuffled or cached rows (the aggregation, prefix expansion,
    * state merge, top-K and JSON packing) and bills `ops`.
    */
  val productModules = Set("main", "io")
  def productStageModule(st: StageSpan): String =
    if (st.outBytes > 0 || (st.inBytes > 0 && st.shuffleRead == 0)) "io"
    else "ops"
}

final class Trace(spark: SparkSession) {
  val jobs = ArrayBuffer.empty[JobSpan]
  val stages = ArrayBuffer.empty[StageSpan]
  val qes = ArrayBuffer.empty[QeSpan]
  val triggers = ArrayBuffer.empty[TriggerSpan]

  val unattributed = ArrayBuffer.empty[String]
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val open =
    new ConcurrentHashMap[Int, (Long, String, Boolean, Seq[Int])]()

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId, s.details)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val execSite = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id.toLong)))
      val stageSites = e.stageInfos.map(_.details)
      val names = e.stageInfos.map(_.name).mkString("\n")
      // micro-batch jobs run on the stream's own thread, whose stack holds
      // no graft frame; the stream marks them with its query id
      val streamJob = Option(e.properties)
        .exists(_.getProperty("sql.streaming.queryId") != null)
      val module =
        if (streamJob) "streaming"
        else (execSite.toSeq ++ stageSites).flatMap(Trace.module)
          .headOption.getOrElse(Trace.moduleOfStageName(names))
      if (module == "other") unattributed.synchronized {
        unattributed += names.linesIterator.take(1).mkString
      }
      val ckpt = (execSite.toSeq ++ stageSites :+ names)
        .exists(_.toLowerCase.contains("checkpoint"))
      open.put(e.jobId, (e.time, module, ckpt, e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach { case (t0, m, ck, ids) =>
        jobs.synchronized(jobs += JobSpan(t0, e.time, m, ck, ids))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.synchronized {
        val end = i.completionTime.getOrElse(System.currentTimeMillis())
        stages += StageSpan(i.stageId, i.submissionTime.getOrElse(end), end,
          i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.executorDeserializeTime, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      qes.synchronized(qes += QeSpan(System.currentTimeMillis(), ms))
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      triggers.synchronized {
        triggers += TriggerSpan(System.currentTimeMillis(),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, ops.map(_.numRowsUpdated).sum,
          ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Layer metrics of one pass. Only events inside a timed op count, so
    * untimed checks and clean-up between ops never bill a layer.
    * Callback-timed events (catalyst, triggers) get a short grace after
    * the op ends for bus delivery.
    */
  def layers(ops: Seq[OpRecord], cores: Int): Map[String, Double] = {
    val graceMs = 200L
    def inOp(t: Long, grace: Long = 0L): Boolean =
      ops.exists(o => t >= o.t0 && t <= o.t1 + grace)
    val js = jobs.synchronized(jobs.toList).filter(j => inOp(j.start))
    val ss = stages.synchronized(stages.toList).filter(s => inOp(s.end))
    val qs = qes.synchronized(qes.toList).filter(q => inOp(q.at, graceMs))
    val ts = triggers.synchronized(triggers.toList).filter(t => inOp(t.at, graceMs))
    val wallMs = ops.map(o => o.t1 - o.t0).sum.toDouble
    // time some job was running, per op: union of clipped job intervals
    val coveredMs = ops.map { o =>
      val iv = js.map(j => (math.max(j.start, o.t0), math.min(j.end, o.t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var cov = 0L; var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        if (b > reach) { cov += b - math.max(a, reach); reach = b }
      }
      cov
    }.sum.toDouble
    // each job's time split over the modules it bills, pro rata to the
    // run time of its stages
    val billed: Seq[(JobSpan, Map[String, Double])] = js.map { j =>
      val own = ss.filter(st => j.stageIds.contains(st.id) && st.end >= j.start)
      val share =
        if (!Trace.productModules(j.module) || own.isEmpty) Map(j.module -> 1.0)
        else {
          val ms = own.map(st => Trace.productStageModule(st) ->
            math.max(st.end - st.start, 1L).toDouble)
          val total = ms.map(_._2).sum
          ms.groupMapReduce(_._1)(_._2 / total)(_ + _)
        }
      j -> share
    }
    def busy(m: String) = billed.map { case (j, sh) =>
      (j.end - j.start) * sh.getOrElse(m, 0.0)
    }.sum / 1000.0
    def njobs(m: String) = billed.count(_._2.contains(m)).toDouble
    val dur = (k: String) => ts.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    Seq("io", "ops", "llm", "queries", "streaming").flatMap { m =>
      Seq(s"$m.busy_s" -> busy(m), s"$m.jobs" -> njobs(m))
    }.toMap ++ Map(
      "engine.jobs" -> js.size.toDouble,
      "engine.unattributed_jobs" -> js.count(_.module == "other").toDouble,
      "engine.checkpoint_jobs" -> js.count(_.checkpoint).toDouble,
      "engine.stages" -> ss.size.toDouble,
      "engine.tasks" -> ss.map(_.tasks).sum.toDouble,
      "engine.job_busy_s" -> coveredMs / 1000,
      "engine.driver_gap_s" -> (wallMs - coveredMs) / 1000,
      "engine.catalyst_s" -> qs.map(_.catalystMs).sum / 1000.0,
      "engine.core_util" ->
        (if (wallMs > 0) ss.map(_.runMs).sum / (wallMs * cores) else 0.0),
      "engine.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "engine.task_gc_s" -> ss.map(_.gcMs).sum / 1000.0,
      "engine.task_deser_s" -> ss.map(_.deserMs).sum / 1000.0,
      "engine.input_bytes" -> ss.map(_.inBytes).sum.toDouble,
      "engine.output_bytes" -> ss.map(_.outBytes).sum.toDouble,
      "engine.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "engine.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "engine.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "streaming.batches" -> ts.size.toDouble,
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.latest_offset_s" -> dur("latestOffset"),
      "streaming.input_rows" -> ts.map(_.inputRows).sum.toDouble,
      "streaming.state_rows" -> ts.map(_.stateRowsUpdated).sum.toDouble,
      "streaming.state_mem_bytes" ->
        ts.map(_.stateMemBytes).foldLeft(0L)(math.max).toDouble)
  }
}
