package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** W1 + P4 + A3 at query grain (SURVEY.md §2.5): the top-K completions of
  * every prefix from (query, frequency) rows, without materialising a row
  * per prefix.
  *
  * Every prefix of length ≥ 2 lies inside its query's 2-character head,
  * and in query-sorted order the queries under one prefix form one
  * contiguous run. So the rows are hash-partitioned by head, sorted by
  * query within each partition, and [[scan]] walks each partition once
  * with one bounded k-slot array per open prefix length — the local-trie
  * top-k of REPOSE (ICDE 2021), in place of prefix explode + rank window +
  * collect window.
  *
  * Output equals `JsonPack.flat` over `TopK` of `Pipeline.expand(freq)`:
  * ranks order by frequency desc, then query asc in Spark's (UTF-8 byte)
  * string order, which is the rows' arrival order after the sort — the
  * scan never compares strings, so Java's UTF-16 order cannot reorder a
  * tie; prefixes are code-point slices, as `substr` cuts them; the arrays
  * are serialised by Catalyst's `to_json`.
  *
  * Width: the shuffle is `spark.sql.shuffle.partitions` wide by explicit
  * count, which AQE does not coalesce; a `repartition(col)` lets AQE fold
  * this ~18× fan-out stage (small input, many output rows) into one task.
  *
  * Skew trade-off: all distinct queries of one 2-char head go to one
  * task, so the hottest head bounds the stage. That task streams its rows
  * through the (spillable) sort and the scan in O(60·k) slots of memory.
  */
object PrefixTopK {

  private val MinLen = 2
  private val MaxLen = 60

  /** (query, frequency), one row per distinct query → (prefix,
    * completions JSON array string) for every prefix of length
    * 2..min(length, 60). Queries shorter than 2 rank under no prefix.
    */
  def apply(freq: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val width = freq.sparkSession.conf.get("spark.sql.shuffle.partitions")
    val query = freq("query")
    freq.filter(length(query) >= MinLen)
      .select(query, freq("frequency"))
      .repartition(width.toInt, query.substr(1, MinLen))
      .sortWithinPartitions("query")
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .mapPartitions(scan(_, k))(Encoders.product[(String, Array[String])])
      .toDF("prefix", "completions")
      .select(col("prefix"), to_json(col("completions")).as("completions"))
  }

  /** Query-sorted, non-null (query, frequency) rows → (prefix, its top-k
    * queries in rank order), each prefix once, emitted as its run of
    * queries ends.
    */
  private def scan(rows: Iterator[(String, Long)], k: Int)
      : Iterator[(String, Array[String])] = {
    val stack = new Stack(k)
    rows.flatMap { case (q, f) => stack.push(q, f) } ++ stack.pop(0)
  }

  /** Open prefixes of the last query: lengths 2..`depth`, each with its
    * top-k so far (`freqs` desc; a later query loses a tie, as it sorts
    * after).
    */
  private final class Stack(k: Int) {
    private val queries = Array.ofDim[String](MaxLen + 1, k)
    private val freqs = Array.ofDim[Long](MaxLen + 1, k)
    private val sizes = new Array[Int](MaxLen + 1)
    private var last = ""
    private var depth = 0

    def push(q: String, f: Long): Iterator[(String, Array[String])] = {
      val bound = math.min(q.length, last.length)
      var c = 0
      while (c < bound && q.charAt(c) == last.charAt(c)) c += 1
      // a surrogate pair that differs only in its low half is no match
      if (c > 0 && Character.isHighSurrogate(q.charAt(c - 1))) c -= 1
      val closed = pop(math.min(depth, q.codePointCount(0, c)))
      last = q
      depth = math.min(q.codePointCount(0, q.length), MaxLen)
      var l = depth
      while (l >= MinLen && offer(l, q, f)) l -= 1
      closed
    }

    /** Closes the open prefixes longer than `keep`, deepest first. */
    def pop(keep: Int): Iterator[(String, Array[String])] = {
      val out = ArrayBuffer.empty[(String, Array[String])]
      while (depth > keep) {
        if (depth >= MinLen) out +=
          last.substring(0, last.offsetByCodePoints(0, depth)) ->
          java.util.Arrays.copyOf(queries(depth), sizes(depth))
        sizes(depth) = 0
        depth -= 1
      }
      out.iterator
    }

    /** Ranks `q` into length `l`'s slots; false when it missed them, and
      * so every shorter prefix's (a superset of candidates).
      */
    private def offer(l: Int, q: String, f: Long): Boolean = {
      val qs = queries(l)
      val fs = freqs(l)
      val n = sizes(l)
      if (n == k && fs(k - 1) >= f) return false
      var i = if (n == k) k - 1 else { sizes(l) = n + 1; n }
      while (i > 0 && fs(i - 1) < f) {
        qs(i) = qs(i - 1); fs(i) = fs(i - 1); i -= 1
      }
      qs(i) = q; fs(i) = f
      true
    }
  }
}
