package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction: the data-layout maintenance pass every long-lived
  * 100 TB table needs (the reference's hourly CronJob appends a fresh
  * output per run — `README.md:81-91` — which is exactly the write pattern
  * that accretes small files until scan task-launch overhead dominates).
  *
  * Three pieces, same shape as Delta/Iceberg `OPTIMIZE` built from
  * primitives:
  *
  *  1. [[listFiles]] — the manifest: one row per data file (path, bytes).
  *     Metadata-scale, not data-scale: 100 TB at the 128 MB parquet target
  *     is ~800k rows, so a driver-side recursive listing is the right tool
  *     (the same call Delta's OPTIMIZE planner makes); the result is a
  *     DataFrame so planning composes with SQL.
  *  2. [[plan]] — greedy bin-packing over the path-sorted manifest:
  *     `bin = floor(running_bytes_before / target)`. Path order is the
  *     write order, so bins group ADJACENT files and whatever clustering
  *     the writer established (partition order, z-order ranges) survives
  *     compaction — a round-robin `repartition(n)` rewrite would destroy
  *     it. The global-ORDER-BY window runs on one task by design: it
  *     sorts the manifest, not the data (~1M rows at 100 TB).
  *  3. [[compact]] — ONE job applies the plan: only multi-file bins are
  *     rewritten (singleton bins already meet the target by construction);
  *     their rows are tagged with the owning bin via a broadcast
  *     path→bin map on `input_file_name()`, hash-repartitioned by bin, and
  *     written one-file-per-partition. Only small-file bytes shuffle;
  *     files already at target are never read.
  *
  * The binning math is deterministic and SQL-expressible — the DuckDB
  * oracle replays it bit-for-bit in `q_compaction_plan` (on a manifest
  * stand-in; the filesystem front-end is spec-covered on a real
  * fragmented parquet directory, CompactionSpec).
  */
object Compaction {

  /** Recursive listing of `dir`'s data files as (path, bytes), hidden
    * files (`_SUCCESS`, `.crc`, `.tmp-*`) skipped. Paths are normalized
    * to scheme-less form so they join against `input_file_name()` (which
    * renders `file:///x` where `FileStatus` renders `file:/x`).
    */
  def listFiles(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val rows = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      .map(st => (normalize(st.getPath.toString), st.getLen))
      .toSeq
    spark.createDataFrame(rows).toDF("path", "bytes")
  }

  /** Strip the URI scheme + slash run (`file:///x`, `file:/x`,
    * `hdfs://nn/x` → `/x`) so listing-side and scan-side
    * (`input_file_name`) renderings of one file compare equal.
    */
  def normalize(path: String): String =
    path.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")

  private def normalizeCol(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")

  /** Greedy bin assignment over the path-sorted manifest: each file's bin
    * is `floor(bytes-before-it / targetBytes)`. Bins are contiguous path
    * ranges averaging `targetBytes` (a bin can reach ~2× target when a
    * large file straddles a boundary — the standard greedy bound).
    * Input: (path, bytes[, ...]); output adds `bin`.
    */
  def plan(manifest: DataFrame, targetBytes: Long): DataFrame = {
    val w = Window.orderBy("path")
      .rowsBetween(Window.unboundedPreceding, -1)
    manifest.withColumn("bin",
      floor(coalesce(sum(col("bytes")).over(w), lit(0L)) /
        lit(targetBytes.toDouble)).cast("long"))
  }

  /** Per-bin rollup of a [[plan]] result: file count, total bytes, and the
    * path range the bin covers — the unit of work a rewrite job receives.
    */
  def planSummary(planned: DataFrame): DataFrame =
    planned.groupBy("bin").agg(
      count(lit(1)).as("n_files"),
      sum(col("bytes")).as("bin_bytes"),
      min(col("path")).as("first_file"),
      max(col("path")).as("last_file"))

  /** Result of one [[compact]] run. `filesKept` are singleton bins left in
    * place (never read); `filesRewritten` small files were merged into
    * ≤ `binsRewritten` outputs under `destDir`.
    */
  final case class CompactResult(filesKept: Long, filesRewritten: Long,
                                 binsRewritten: Long, bytesRewritten: Long)

  /** Read the multi-file-bin paths and tag each row with its owning bin.
    * The path→bin map rides a BROADCAST relation, not a plan literal: at
    * the class doc's design point (~800k files / 100 TB) a `typedlit`
    * map would embed every path in the expression tree — plan
    * serialization and codegen blow up, and every task closure carries
    * the whole map. A broadcast hash join on `input_file_name()` ships
    * it once per executor as a hashed relation and keeps the plan O(1)
    * in manifest size (CompactionSpec pins this on a 5k-file dir).
    */
  private[ops] def taggedData(spark: SparkSession, paths: Seq[String],
                              binFrame: DataFrame): DataFrame =
    spark.read.parquet(paths: _*)
      .withColumn("__path", normalizeCol(input_file_name()))
      .join(broadcast(binFrame), "__path")
      .drop("__path")

  /** Apply a compaction pass: merge every multi-file bin of `srcDir`'s
    * parquet files into one ~targetBytes output file under `destDir`.
    * Singleton bins are already at target and are NOT read or copied —
    * the caller keeps them where they are (move/retain is a metadata
    * decision, not a data job). One Spark job, one shuffle of only the
    * small-file bytes; the path→bin map rides a broadcast hashed
    * relation joined on `input_file_name()` (manifest scale, see class
    * doc — never a plan literal).
    */
  def compact(spark: SparkSession, srcDir: String, destDir: String,
              targetBytes: Long): CompactResult = {
    val planned = plan(listFiles(spark, srcDir), targetBytes)
    val perBin = planned.groupBy("bin")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("bin_bytes"))
    val multi = planned.join(perBin.filter(col("n_files") > 1), "bin")
    val rows = multi.select("path", "bin", "bytes").collect()
    if (rows.isEmpty)
      return CompactResult(planned.count(), 0L, 0L, 0L)
    val binOf = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val paths = binOf.keys.toSeq.sorted
    val bins = binOf.values.toSet
    val binIdx = bins.toSeq.sorted.zipWithIndex.toMap
    val binFrame = spark.createDataFrame(
        binOf.toSeq.map { case (p, b) => (p, binIdx(b)) })
      .toDF("__path", "__bin")
    val data = taggedData(spark, paths, binFrame)
    // repartition co-locates each whole bin on one task (hash collisions
    // may put TWO bins on a task); partitionBy then splits a task's
    // output per bin — so every bin lands as exactly ONE ~targetBytes
    // file under destDir/__bin=<k>/, collision or not. The __bin dirs
    // are layout metadata; readers `spark.read.parquet(dest)` and drop
    // the recovered __bin partition column.
    data.repartition(bins.size, col("__bin"))
      .write.partitionBy("__bin").mode("overwrite").parquet(destDir)
    CompactResult(
      filesKept = planned.count() - rows.length,
      filesRewritten = rows.length,
      binsRewritten = bins.size,
      bytesRewritten = rows.map(_.getLong(2)).sum)
  }
}
