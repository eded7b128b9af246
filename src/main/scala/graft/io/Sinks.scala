package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Sinks (SURVEY.md §2.1). The reference's JDBC `SaveMode.Overwrite` writes
  * to the same table its plan lazily reads (`IncrementalAutocomplete.java:
  * 91-118`) — the read-overwrite race of SURVEY §2.11.1. Every stateful sink
  * here goes through write-to-staging-then-atomic-swap instead.
  */
object Sinks {

  /** Overwrite safe for a plan that still reads `path`: [[stage]], [[swap]]. */
  def overwriteSafely(df: DataFrame, path: String): Unit = {
    stage(df, path)
    swap(df.sparkSession, path)
  }

  /** Writes `df` into `<path>.staging`; returns the rows written. */
  def stage(df: DataFrame, path: String): Long = {
    val obs = new Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(path + ".staging")
    obs.get("rows").asInstanceOf[Long]
  }

  /** Swaps a complete `<path>.staging` into `path`: `path` → `.old`,
    * staging → `path`, delete `.old`. `.old` is deleted only while a
    * complete `path` is in place, so a crash between the renames leaves it
    * for [[recover]]. Atomic on HDFS and the local FS; S3 state needs an
    * atomic-commit table layer.
    */
  def swap(spark: SparkSession, path: String): Unit = {
    val (fs, tgt, old) = paths(spark, path)
    if (fs.exists(tgt)) { fs.delete(old, true); rename(fs, tgt, old) }
    rename(fs, new Path(path + ".staging"), tgt)
    fs.delete(old, true)
  }

  /** Restores `<path>.old` when `path` is missing (a swap crashed between
    * its two renames); returns whether `path` exists. Call before reading.
    */
  def recover(spark: SparkSession, path: String): Boolean = {
    val (fs, tgt, old) = paths(spark, path)
    if (!fs.exists(tgt) && fs.exists(old)) rename(fs, old, tgt)
    fs.exists(tgt)
  }

  private def paths(spark: SparkSession, path: String) = {
    val tgt = new Path(path)
    (tgt.getFileSystem(spark.sessionState.newHadoopConf()), tgt,
      new Path(path + ".old"))
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"cannot rename $from to $to")

  /** Bucketed persistent table for co-partitioned incremental merge: state
    * bucketed by the merge key means each incremental run shuffles only the
    * delta (SURVEY §4.3). Requires a metastore-backed `saveAsTable`.
    */
  def writeBucketed(df: DataFrame, tableName: String, buckets: Int,
                    keys: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(tableName)

  /** S3: JDBC sink; `truncate=true` avoids drop/re-create storms. Write to a
    * staging table and RENAME in SQL for the race-free production path.
    */
  def jdbc(df: DataFrame, url: String, table: String,
           props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Overwrite).option("truncate", "true")
      .jdbc(url, table, props)

  /** Hive-style partitioned parquet layout: one directory per partition
    * value. THE layout decision at 100 TB — queries filtering on the
    * partition column scan only matching directories (partition pruning,
    * asserted in SourcesSinksSpec), and incremental jobs overwrite single
    * partitions instead of the whole table. Choose low-cardinality,
    * always-filtered columns (date, source); never high-cardinality keys
    * (one directory per value kills the file system).
    */
  def parquetPartitioned(df: DataFrame, path: String,
                         partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      // dynamic scoped to this write: only partitions present in df are
      // replaced. Spark's default static mode would truncate the WHOLE
      // table path first — an incremental single-day write silently
      // destroying every other day.
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** Z-ordered parquet layout: cluster rows along a 2-D Morton curve over
    * `(xCol, yCol)` before writing, so every output file's min/max footer
    * statistics form a SMALL bounding box in both dimensions — point/range
    * predicates on either column (or both) then skip most files at scan
    * time. This is `OPTIMIZE ZORDER BY` (Delta/Iceberg) built from
    * primitives: one 1-row bounds aggregate (broadcast), a scan-side
    * integer interleave key (ops/ZOrder, oracle-checked in q_zorder), a
    * range repartition on the key, and a within-partition sort.
    *
    * Partition-pruning beats this when ONE low-cardinality column
    * dominates the filters (`parquetPartitioned`); z-order is the tool
    * when TWO high-cardinality numeric columns are both hot — the case
    * directory layouts cannot serve. SinksSpec measures the effect: the
    * summed per-file bounding-box area shrinks by >4× vs an unclustered
    * write of the same data.
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
                    path: String, nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, max, min}
    // pin the input once: the bounds aggregate, repartitionByRange's
    // range-boundary sampling pass, and the final write all re-read it —
    // unpinned, an expensive upstream plan would execute three times
    // eager checkpoint: lazy + multi-branch consumers can deadlock Spark (see ops/llm/Dedup.scala "EAGER CHECKPOINT DISCIPLINE")
    val pinned = df.localCheckpoint(true)
    val st = pinned.agg(min(xCol).as("__mnx"), max(xCol).as("__mxx"),
      min(yCol).as("__mny"), max(yCol).as("__mxy"))
    pinned.crossJoin(broadcast(st))
      .withColumn("__zkey", graft.ops.ZOrder.key(col(xCol), col(yCol),
        col("__mnx"), col("__mxx"), col("__mny"), col("__mxy")))
      .drop("__mnx", "__mxx", "__mny", "__mxy")
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** ORC sink (native vectorized reader + pushdown on read-back). */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** S6: line-oriented text sink (legacy WordCount's `/output` path,
    * `approach 3 cli instructions.txt:49-51`): single string column →
    * one line per row.
    */
  def text(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)

  /** S4: the exact record projection the Kafka batch sink consumes —
    * (key, value) cast to STRING, everything else dropped. Factored out of
    * [[kafka]] so the layout is testable without a broker (none exists in
    * the sandbox): the write path below is `kafkaPayload(df).write`, so a
    * spec over this frame IS a spec over what lands on the topic.
    * Fails at analysis time (not inside the Kafka writer) when the input
    * is missing either column.
    */
  def kafkaPayload(df: DataFrame, keyCol: String = "key",
                   valueCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(df.columns.contains(keyCol) && df.columns.contains(valueCol),
      s"Kafka sink needs '$keyCol' and '$valueCol' columns; " +
        s"got ${df.columns.mkString(", ")}")
    df.select(col(keyCol).cast("string").as("key"),
      col(valueCol).cast("string").as("value"))
  }

  /** S4: Kafka sink — (key, value) string columns required by the format. */
  def kafka(df: DataFrame, brokers: String, topic: String): Unit =
    kafkaPayload(df)
      .write.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic).save()

  /** S5: document-store sink shape — one JSON document per row, written
    * as JSON-lines. This is the sandbox-complete half of the reference's
    * MongoDB sink (`approach 3 cli instructions.txt:43-46`; the connector
    * is commented out even in the reference's own pom.xml:30-34): the
    * input frame is the TYPED document built by `ops.JsonPack.document`
    * (`{group, completions: [{query, frequency}...], last_updated}`), and
    * each row serializes to exactly the document a Mongo connector write
    * would insert. A real deployment swaps this call for
    * `df.write.format("mongodb")` with the SAME frame — the document
    * layout, not the wire protocol, is what the engine owns; SinksSpec
    * round-trips it through `spark.read.json` to certify the layout.
    */
  def documentSink(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
  }

}
