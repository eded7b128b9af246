package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Parquet star-schema loaders for the driver testdata (TESTDATA.md) plus
  * the schema constants of the rebuilt pipeline (reference:
  * `IncrementalAutocomplete.java:81-84`, DDL in
  * `approach 4 cli insturctions.txt:42-56`).
  */
object Tables {

  /** Load one testdata table: `<sfDir>/<name>.parquet`.
    *
    * `events.ts` is contractually a LongType of NANOSECONDS since epoch for
    * every downstream consumer (queries convert with
    * `timestamp_micros(ts div 1000)`), but the PHYSICAL parquet type has
    * drifted across driver-side testdata regenerations: ns-precision
    * (surfaced as Long via `spark.sql.legacy.parquet.nanosAsLong`, set in
    * GraftSession.builder — the flag only affects NANOS columns) and
    * µs-precision (surfaced as Timestamp/TimestampNTZ, on which nanosAsLong
    * is a no-op — unnormalized, 12 temporal queries broke exactly this
    * way). Normalize HERE, at the one load point, so the contract holds
    * under either encoding; `unix_micros` is exact (no float path) and the
    * UTC session timezone makes the NTZ cast the identity on the instant,
    * matching DuckDB's `epoch_us` on the same file.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** events.ts → LongType ns-since-epoch, whatever the physical encoding. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df // ns physical + nanosAsLong: already ns-long
      case Some(TimestampType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .expr("unix_micros(cast(ts as timestamp)) * 1000"))
      case _ => df
    }

  // -- Pipeline schemas (declared explicitly; no inference at runtime) ------

  /** Mid-pipeline (prefix, query, count) rows — reference builds this schema
    * by hand at `IncrementalAutocomplete.java:81-84`.
    */
  val prefixPair: StructType = StructType(Seq(
    StructField("prefix", StringType, nullable = false),
    StructField("query", StringType, nullable = false),
    StructField("count", IntegerType, nullable = false)))

  /** Cumulative state table `prefix_query_frequency`
    * (`approach 4 cli insturctions.txt:42-49`). `frequency` is declared long:
    * Spark's `sum` widens int→long and we keep the widening explicit instead
    * of silently narrowing on write like the reference JDBC path does.
    */
  val freqTable: StructType = StructType(Seq(
    StructField("prefix", StringType, nullable = false),
    StructField("query", StringType, nullable = false),
    StructField("frequency", LongType, nullable = false)))

  /** Final `prefix_suggestions` shape (`approach 4 cli insturctions.txt:51-56`):
    * completions is a JSON array of query strings in rank order.
    */
  val topKTable: StructType = StructType(Seq(
    StructField("prefix", StringType, nullable = false),
    StructField("completions", StringType, nullable = false)))
}
