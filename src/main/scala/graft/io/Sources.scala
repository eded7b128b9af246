package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sources (SURVEY.md §2.1). The reference reads exactly one hourly text
  * file per run (`IncrementalAutocomplete.java:64-65`) even though its docs
  * promise a last-24h window (SURVEY §2.11.5); the rebuild accepts any
  * glob/list so both behaviors are one call.
  */
object Sources {

  /** S1: line-oriented text log(s); one row per line, column `value`. */
  def textLines(spark: SparkSession, paths: String*): DataFrame =
    spark.read.text(paths: _*)

  /** Parquet table (testdata + engine-side state stand-in). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV with explicit schema — schema inference costs a full extra scan,
    * so production readers always declare one.
    */
  def csv(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType,
          header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** JSON-lines with explicit schema (same inference-scan rationale). */
  def jsonLines(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC table — the other columnar format with native vectorized read
    * and predicate pushdown. (Avro is not bundled in this Spark build.)
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S2: JDBC table scan (reference `IncrementalAutocomplete.java:91-98`).
    * `partitionColumn`/bounds make the read parallel — the reference reads on
    * a single task, which caps at one connection's throughput.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: java.util.Properties,
           partitionColumn: Option[(String, Long, Long, Int)] = None)
      : DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    partitionColumn match {
      case Some((col, lo, hi, n)) =>
        r.option("partitionColumn", col)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", n)
          .options(propsMap(props)).load()
      case None => r.options(propsMap(props)).load()
    }
  }

  private def propsMap(p: java.util.Properties): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }
}
