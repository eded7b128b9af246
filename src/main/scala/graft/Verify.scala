package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-verify", cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset knob (unset in the driver's run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A query that fails must STILL produce an output entry: the driver's
    // correctness harness iterates over the dumped dirs, so a missing dir
    // silently drops the query from CORRECTNESS_r{N}.json and an all-green
    // artifact can mask broken queries (12 temporal failures once went
    // unseen this way). The sentinel is a 1-row frame whose schema (graft_error)
    // can never match any oracle — the failure surfaces as a FAIL entry.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val declared = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    declared.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage)
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        try {
          import spark.implicits._
          Seq(msg.take(500)).toDF("graft_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: $e2")
        }
      }
    }
    // Coverage assertion: every declared query has an output dir. A gap
    // here means even the sentinel write failed — make it impossible to
    // read the dump as complete.
    val missing = declared.filterNot(n =>
      java.nio.file.Files.exists(Paths.get(s"$outDir/$n")))
    if (missing.nonEmpty)
      System.err.println(
        s"[verify] COVERAGE GAP — no output for: ${missing.mkString(",")}")
    System.err.println(
      s"[verify] declared=${declared.size} dumped=${declared.size - missing.size}" +
        s" failed=${errors.size}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure record alongside the dumps (same shape as
    // Bench's "errors" field) — consumers that don't diff schemas can
    // still see exactly which queries did not run.
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v.take(300))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // Rows-only bound certification: the 7 approximate
    // queries' error/recall bounds, evaluated against the DUMPED rows —
    // the artifact itself then certifies what the specs assert.
    val dumpedOk = declared.filterNot(errors.contains).toSet
    val bounds = BoundChecks.run(spark, sfDir, outDir, dumpedOk)
    val boundsJson = bounds.toSeq.sortBy(_._1).map { case (k, b) =>
      s"${q(k)}: {${q("metric")}: ${q(b.metric)}, " +
        s"${q("value")}: ${if (b.value.isNaN) "null" else b.value.toString}, " +
        s"${q("bound")}: ${if (b.bound.isNaN) "null" else b.bound.toString}, " +
        s"${q("bound_ok")}: ${b.ok}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/bounds.json"), boundsJson)
    val nBad = bounds.count(!_._2.ok)
    System.err.println(
      s"[verify] bounds checked=${bounds.size} failed=$nBad")
    spark.stop()
  }
}
