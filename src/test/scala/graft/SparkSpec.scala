package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup dominates suite time otherwise).
  */
object SparkSpec {
  private val warehouseDir = TempDirs.create("graft-warehouse")

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // ns-precision events.parquet read as LongType ns (same flag as
    // GraftSession.builder — set at build time, never per-query)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // same threshold as GraftSession: the hot-bucket caps (4096) must
    // compile to map-side WindowGroupLimits in tests as in production
    .config("spark.sql.optimizer.windowGroupLimitThreshold", "5000")
    .config("spark.ui.enabled", "false")
    // same streaming state store as GraftSession: RocksDB off-heap +
    // changelog checkpointing — the streaming specs must exercise the
    // production provider, not the heap-backed default
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // mirror GraftSession: row-count tracking off (write-heavy tuning);
    // the eviction spec re-enables it around its own query
    .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
      "false")
    .config("spark.sql.warehouse.dir", warehouseDir)
    // same `file:` FileSystem/FileContext classes as GraftSession
    .config(graft.io.LocalFs.confs)
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf01 = "/root/testdata/sf0.1"

  /** The Spark jobs that `body` starts, one entry per job: its stage
    * names joined by `|`. Events arrive asynchronously, so the listener
    * bus is drained before the listener is added (no earlier job counts)
    * and after `body` (every job of `body` has been seen).
    */
  def jobsDuring(body: => Unit): Seq[String] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.stageInfos.map(_.name).mkString("|"))
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  /** The `Dataset.observe` metrics of every query that `body` runs to
    * success, by observation name; the bus is drained as in
    * [[jobsDuring]].
    */
  def observedDuring(body: => Unit): Map[String, Row] = {
    val observed = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => observed.put(k, v) }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    observed.asScala.toMap
  }
}
