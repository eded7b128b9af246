package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every DuckDB oracle string byte for byte: `oracle_sql.sha256`
  * holds one sorted `name sha256(utf8 sql)` line per oracle. A refactor
  * of the oracle SQL (shared fragments, moved definitions) must leave
  * this spec green; a new or deliberately changed oracle updates the
  * resource in the same commit. No Spark session: the oracle text is
  * built when the query tiers load.
  */
class OracleSqlSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  private lazy val pinned: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/oracle_sql.sha256"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(name, digest) = line.split(" ")
      name -> digest
    }.toMap
    finally src.close()
  }

  test("every oracle SQL string matches its pinned sha256") {
    val sql = SparkEntry.oracleSql
    val differ = (pinned.keySet ++ sql.keySet).toSeq.sorted
      .filter(n => pinned.get(n) != sql.get(n).map(sha256))
    // A fragment val declared below its tier's `all` is still null when
    // `all` builds its strings, so the oracle reads `null` there.
    val withNull = differ.filter(n =>
      sql.get(n).exists("\\bnull\\b".r.findFirstIn(_).isDefined))
    assert(differ.isEmpty,
      s"oracle SQL differs from oracle_sql.sha256 for: " +
        s"${differ.mkString(", ")}; of these, containing `null`: " +
        withNull.mkString(", "))
  }

  test("the query registry is built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}
