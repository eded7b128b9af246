package graft.ops

import graft.{Pipeline, SparkSpec}

/** PrefixTopK against its prefix-grain definition, `TopK` + `JsonPack.flat`
  * (`Pipeline.topCompletions`) over `Pipeline.expand`, compared string for
  * string on the inputs where a query-sorted scan could part from a rank
  * window: ties, UTF-8 vs UTF-16 order, code-point slicing, the 60-char
  * cap, short queries, extreme k, one hot head and empty partitions.
  */
class PrefixTopKSpec extends SparkSpec {
  import spark.implicits._

  private def reference(rows: Seq[(String, Long)], k: Int)
      : Map[String, String] = {
    val freq = rows.toDF("query", "frequency")
    Pipeline.topCompletions(Pipeline.expand(freq), k)
      .as[(String, String)].collect().toMap
  }

  private def ranked(rows: Seq[(String, Long)], k: Int)
      : Map[String, String] = {
    val out = PrefixTopK(rows.toDF("query", "frequency"), k)
      .as[(String, String)].collect()
    assert(out.map(_._1).distinct.length == out.length,
      "a prefix was emitted twice")
    out.toMap
  }

  private def withWidth[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, orig)
  }

  private def agrees(rows: Seq[(String, Long)],
                     ks: Seq[Int] = Seq(1, 3, 10, 50)): Unit =
    ks.foreach { k =>
      val want = reference(rows, k)
      assert(want.nonEmpty, "fixture ranks no prefix")
      val got = ranked(rows, k)
      val diff = (want.keySet ++ got.keySet)
        .filter(p => want.get(p) != got.get(p)).take(5)
        .map(p => s"$p: want ${want.get(p)}, got ${got.get(p)}")
      assert(diff.isEmpty, s"k=$k:\n${diff.mkString("\n")}")
    }

  test("equal frequencies break by query ascending") {
    agrees(Seq("abc", "abd", "ab", "abcd", "abce", "abz", "abzz", "ac",
      "acb", "b b", "b a").map(_ -> 5L) ++
      Seq("abca" -> 7L, "abq" -> 1L, "acc" -> 5L))
  }

  test("ties follow UTF-8 byte order, not Java's UTF-16 order") {
    // U+FF01 sorts after U+1F600's high surrogate in UTF-16, before its
    // lead byte in UTF-8; Spark ranks by the latter
    val (bmp, astral) = ("ab！", "ab😀")
    assert(bmp.compareTo(astral) > 0)
    val rows = Seq(bmp -> 3L, astral -> 3L, s"$astral!" -> 3L,
      s"$bmp!" -> 3L)
    assert(reference(rows, 1)("ab") == s"""["$bmp"]""")
    agrees(rows)
  }

  test("prefixes are code-point slices") {
    // 😀 and 😁 share their high surrogate: a common prefix ends before it
    agrees(Seq("😀😀😀", "😀😀x", "😀😀", "x😀😀y", "x😀", "x😁", "x😁😀",
      "😀😁", "xé😀", "xéa", "éé", "é😀é", "𝄞𝄞𝄞𝄞").zipWithIndex.map {
      case (q, i) => q -> (i % 3 + 1).toLong })
  }

  test("queries sharing their first 60 chars share the 60-char prefix") {
    val x = "x" * 60
    val smile = "😀" * 60
    agrees(Seq(x -> 2L, s"${x}a" -> 5L, s"${x}b" -> 5L, s"${x}ba" -> 1L,
      "x" * 59 + "y" -> 4L, "x" * 75 -> 3L, smile -> 1L, s"${smile}a" -> 2L,
      "😀" * 59 + "b" -> 2L, s"${smile}😀" -> 2L))
  }

  test("2-char queries rank under one prefix; shorter ones under none") {
    val rows = Seq("ab" -> 1L, "abc" -> 4L, "zz" -> 2L, "é!" -> 3L,
      "😀a" -> 1L, "a" -> 9L, "" -> 9L)
    agrees(rows)
    assert(ranked(rows, 3).keySet == Set("ab", "abc", "zz", "é!", "😀a"))
  }

  test("one head holding most rows, and empty partitions") {
    val rng = new scala.util.Random(7)
    val hot = (1 to 3000).map(i => s"ho${rng.nextInt(500)} $i" ->
      (rng.nextInt(6) + 1).toLong)
    val tail = Seq("tail one" -> 2L, "tail two" -> 2L, "zebra" -> 1L)
    // 3 heads over 16 partitions: at least 13 scan an empty partition
    withWidth(16)(agrees(hot ++ tail, Seq(1, 10)))
    withWidth(1)(agrees(hot ++ tail, Seq(10)))
  }

  test("random queries over a small alphabet with heavy ties") {
    val rng = new scala.util.Random(11)
    val alphabet = Vector("a", "b", "é", "！", "😀", "😁", " ")
    val rows = Seq.fill(1500)(Seq.fill(rng.nextInt(9) + 1)(
        alphabet(rng.nextInt(alphabet.size))).mkString)
      .distinct.map(_ -> (rng.nextInt(4) + 1).toLong)
    withWidth(3)(agrees(rows, Seq(1, 2, 10)))
  }
}
