package graft.ops.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash (64-bit, emitted as a 64-char bit string): per-token xxhash64,
  * per-bit ±1 votes accumulated in one `aggregate` pass with an
  * array<long> accumulator, sign → bit. Near-identical documents differ in
  * few bit positions (Hamming distance), so near-dup candidates are "same
  * value in any of a few bit-band substrings" — joinable exactly like
  * MinHash bands.
  *
  * xxhash64 has no DuckDB twin, so SimHash queries are rows-only checked by
  * the driver; SimHashSpec covers the semantics (self-distance 0, small
  * perturbation → small Hamming distance, unrelated docs ≈ 32).
  */
object SimHash {

  /** 64-char bit-string SimHash of a whitespace-tokenized text column.
    * `col` must be a plain column name (spliced into a SQL lambda — Scala's
    * column DSL cannot shift by a lambda variable, `getbit` can).
    */
  def simhashBits(colName: String): Column = expr(
    s"""aggregate(
       |  transform(split(lower(trim($colName)), '\\\\s+'), t -> xxhash64(t)),
       |  array_repeat(0L, 64),
       |  (acc, h) -> zip_with(acc, sequence(0, 63),
       |    (v, i) -> v + (getbit(h, i) * 2 - 1)),
       |  acc -> concat_ws('', transform(acc,
       |    v -> CASE WHEN v > 0 THEN '1' ELSE '0' END)))""".stripMargin)

  /** Hamming distance between two equal-length bit strings. */
  def hamming(a: Column, b: Column): Column =
    size(filter(zip_with(split(a, ""), split(b, ""), (x, y) => x =!= y),
      d => d))

  /** 60-bit sha256-based SimHash as a BIGINT — the oracle-parity variant.
    * Token hash = first 15 hex chars of the token's sha256 (60 bits, so
    * the value fits a signed long exactly in both engines; DuckDB computes
    * the identical value via `('0x' || substr(sha256(t),1,15))::UBIGINT`).
    * Same ±1 bit-vote accumulation as `simhashBits`, finished by packing
    * the sign bits into one long.
    */
  def simhashSha(colName: String): Column = expr(
    s"""aggregate(
       |  transform(split(lower(trim($colName)), '\\\\s+'),
       |    t -> cast(conv(substr(sha2(t, 256), 1, 15), 16, 10) as bigint)),
       |  array_repeat(0L, 60),
       |  (acc, h) -> zip_with(acc, sequence(0, 59),
       |    (v, i) -> v + (getbit(h, i) * 2 - 1)),
       |  acc -> aggregate(zip_with(acc, sequence(0, 59),
       |    (v, i) -> if(v > 0, shiftleft(1L, i), 0L)),
       |    0L, (s, x) -> s + x))""".stripMargin)

  /** SimHash near-dup pairs over the sha-based 60-bit hash — banded like
    * `nearDuplicates` (pigeonhole over `bands` bit-slices, exact
    * `bit_count(a ^ b)` verify in-bucket), but fully oracle-checkable:
    * the DuckDB twin computes the same longs and verifies all pairs.
    */
  def nearDuplicatesSha(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3, bands: Int = 6): DataFrame = {
    require(maxHamming < bands, "need maxHamming < bands for pigeonhole")
    require(60 % bands == 0, "bands must divide 60")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val hashed = df.select(df(idCol).as("doc"), simhashSha(textCol).as("h"))
      // eager checkpoint: lazy + multi-branch consumers can deadlock Spark (see ops/llm/Dedup.scala "EAGER CHECKPOINT DISCIPLINE")
      .localCheckpoint(true)
    bandedPairs(hashed, bands, maxHamming,
      expr("cast(bit_count(ha ^ hb) as int)")) { b =>
      shiftright(col("h"), b * width).bitwiseAND(lit(mask))
    }
  }

  /** Pairs (a < b) of `hashed(doc, h)` that agree on at least one of the
    * `bands` bands `bits(band)` of `h`, kept when their `dist` (over the
    * two hashes `ha`, `hb`) is at most `maxHamming`.
    */
  private def bandedPairs(hashed: DataFrame, bands: Int, maxHamming: Int,
                          dist: Column)(bits: Int => Column): DataFrame = {
    val bandKeys = array((0 until bands).map(b =>
      struct(lit(b).as("band"), bits(b).as("bits"))): _*)
    val banded = hashed.select(col("doc"), col("h"),
        explode(bandKeys).as("bk"))
      .select(col("doc"), col("h"),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    val l = banded.toDF("a", "ha", "band", "bits")
    val r = banded.toDF("b", "hb", "band2", "bits2")
    val cand = l.join(r, col("band") === col("band2") &&
        col("bits") === col("bits2") && col("a") < col("b"))
      .select("a", "b", "ha", "hb").distinct()
    cand.withColumn("dist", dist)
      .filter(col("dist") <= maxHamming)
      .select(col("a"), col("b"), col("dist"))
  }

  /** SimHash near-dup pairs: docs whose 64-bit simhash differs in at most
    * `maxHamming` bits. Banded exactly like MinHash-LSH: split the 64
    * bits into `bands` substrings — a pair within `maxHamming < bands`
    * MUST agree on at least one full band (pigeonhole), so candidates
    * come from equi-joining on (band, band-bits) buckets, never
    * all-pairs; the exact Hamming check verifies inside buckets.
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, bands: Int = 8): DataFrame = {
    require(maxHamming < bands, "need maxHamming < bands for pigeonhole")
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val hashed = df.select(df(idCol).as("doc"),
        simhashBits(textCol).as("h"))
      .localCheckpoint(true)
    bandedPairs(hashed, bands, maxHamming, hamming(col("ha"), col("hb"))) {
      b => substring(col("h"), b * width + 1, width)
    }
  }
}
