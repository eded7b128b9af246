package graft.io

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Merge

/** Sinks: the staging+swap overwrite (Hadoop FS API) must let a plan that
  * READS the target dir be rewritten INTO the same dir — the reference's
  * read-overwrite race (SURVEY §2.11.1) made safe. Plus the bucketed state
  * path: with state bucketed by the merge key, the incremental merge plan
  * must not re-shuffle the state side.
  */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("overwriteSafely: plan reading the target survives the overwrite") {
    val dir = graft.TempDirs.create("graft-sink") + "/state"
    Seq(("ab", 1L), ("cd", 2L)).toDF("k", "v")
      .write.parquet(dir)
    // a LAZY plan over the current state, then overwrite the same dir with
    // a derived frame — the reference's shape that destroys data on JDBC.
    val current = spark.read.parquet(dir)
    val doubled = current.withColumn("v", col("v") * 2)
    Sinks.overwriteSafely(doubled, dir)
    val out = spark.read.parquet(dir).as[(String, Long)].collect().toMap
    assert(out == Map("ab" -> 2L, "cd" -> 4L))
    assert(!Files.exists(java.nio.file.Paths.get(dir + ".staging")))
  }

  test("text sink round-trips through the text source") {
    val dir = graft.TempDirs.create("graft-text") + "/out"
    val lines = Seq("how to train", "a b c").toDF("value")
    Sinks.text(lines, dir)
    val back = graft.io.Sources.textLines(spark, dir)
      .as[String].collect().toSeq.sorted
    assert(back == Seq("a b c", "how to train"))
  }

  test("co-bucketed fact-fact join is shuffle-free") {
    // THE 100 TB shuffle killer: lineitem-orders style joins become
    // exchange-free when both tables are bucketed on the join key.
    spark.sql("DROP TABLE IF EXISTS graft_fact_a")
    spark.sql("DROP TABLE IF EXISTS graft_fact_b")
    val a = (1L to 2000L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 500L).flatMap(i => Seq((i, s"b$i"), (i, s"bb$i")))
      .toDF("k", "vb")
    Sinks.writeBucketed(a, "graft_fact_a", buckets = 4, keys = Seq("k"))
    Sinks.writeBucketed(b, "graft_fact_b", buckets = 4, keys = Seq("k"))
    // disable broadcast so the test exercises the big-big join path the
    // bucketing exists for (at real scale neither side broadcasts)
    val thresh = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.get(thresh)
    try {
      spark.conf.set(thresh, "-1")
      val joined = spark.table("graft_fact_a")
        .join(spark.table("graft_fact_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set(thresh, orig)
  }

  /** Size-targeted parquet write: rebalances to ~`targetRows` rows per
    * output file (counts `df` first, then writes it).
    */
  private def parquetSized(df: DataFrame, path: String,
                           targetRows: Long): Unit = {
    val files = math.max(1, math.ceil(df.count().toDouble / targetRows).toInt)
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(path)
  }

  test("parquetSized controls output file count") {
    val dir = graft.TempDirs.create("graft-sized") + "/out"
    val df = (1 to 1000).toDF("i")
    parquetSized(df, dir, targetRows = 250)
    val files = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 4, s"expected 4 part files, got $files")
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("csv and json sources round-trip with explicit schemas") {
    val dir = graft.TempDirs.create("graft-srcs")
    val df = Seq((1L, "ab"), (2L, "cd")).toDF("id", "txt")
    df.write.option("header", "true").csv(s"$dir/c")
    df.write.json(s"$dir/j")
    val schema = df.schema
    val c = graft.io.Sources.csv(spark, s"$dir/c", schema)
      .as[(Long, String)].collect().toSet
    val j = graft.io.Sources.jsonLines(spark, s"$dir/j", schema)
      .as[(Long, String)].collect().toSet
    assert(c == Set((1L, "ab"), (2L, "cd")) && j == c)
  }

  test("overwriteSafely: first write (no existing state) works") {
    val dir = graft.TempDirs.create("graft-sink2") + "/state"
    Sinks.overwriteSafely(Seq(("x", 9L)).toDF("k", "v"), dir)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("bucketed state: bucket-aligned agg reuses bucketing, no shuffle") {
    val table = "graft_bucketed_state"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val state = (1 to 1000)
      .map(i => (s"p$i", s"q$i", i.toLong)).toDF("prefix", "query", "frequency")
    Sinks.writeBucketed(state, table, buckets = 4, keys = Seq("prefix"))
    val byPrefix = spark.table(table).groupBy("prefix")
      .agg(sum("frequency").as("frequency"))
    val planAligned = byPrefix.queryExecution.executedPlan.toString
    assert(planAligned.contains("Bucketed: true"),
      s"state scan must be bucketed:\n$planAligned")
    assert(!planAligned.contains("Exchange"),
      s"bucket-aligned agg must not shuffle:\n$planAligned")
  }

  test("persisted minhash index: delta mining equals recompute, reads buckets") {
    import graft.ops.llm.Dedup
    val bandsT = "graft_mh_bands"; val baseT = "graft_mh_base"
    spark.sql(s"DROP TABLE IF EXISTS $bandsT")
    spark.sql(s"DROP TABLE IF EXISTS $baseT")
    val seed = "spark merges batches of rows into partitions every stage"
    val corpus = (1 to 40).map(i =>
      (i.toLong, if (i % 7 == 0) seed else s"$seed variant number $i here"))
      .toDF("doc_id", "text")
    val delta = Seq((101L, seed), (102L, seed + " again"),
      (103L, "entirely unrelated words about cooking fresh pasta"),
      (104L, "entirely unrelated words about cooking fresh pasta"))
      .toDF("doc_id", "text")
    // build + persist the index once (bucketed on the join keys)
    val (bands, base) = Dedup.minhashIndex(corpus, "doc_id", "text")
    graft.io.Sinks.writeBucketed(bands, bandsT, buckets = 4,
      keys = Seq("band", "bkey"))
    graft.io.Sinks.writeBucketed(base, baseT, buckets = 4,
      keys = Seq("doc"))
    // increments mine against the STORED tables - no corpus rescan
    val (dBands, dBase) = Dedup.minhashIndex(delta, "doc_id", "text")
    val got = Dedup.minhashDeltaPairsIndexed(spark.table(bandsT),
      spark.table(baseT), dBands, dBase, num = 8, den = 10)
    val expected = Dedup.minhashDeltaPairs(corpus, delta,
      "doc_id", "text")
    assert(got.collect().map(_.toString).sorted.toSeq ==
      expected.collect().map(_.toString).sorted.toSeq,
      "indexed path must be row-identical to the recompute path")
    // delta x delta pairs are found too (103, 104 duplicate each other)
    assert(got.select("a", "b").as[(Long, Long)].collect().toSet
      .contains((103L, 104L)))
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains(bandsT) && p.contains(baseT),
      s"index tables must be the corpus side:\n$p")
    assert(p.contains("Bucketed: true"),
      s"index scans must use their bucketing:\n$p")
  }

  test("bucketAligned merge: only the delta shuffles, history stays put") {
    val table = "graft_bucketed_state2"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val state = (1 to 1000)
      .map(i => (s"p$i", s"q$i", i.toLong)).toDF("prefix", "query", "frequency")
    Sinks.writeBucketed(state, table, buckets = 4,
      keys = Seq("prefix", "query"))

    val delta = Seq(("p1", "q1", 5L), ("pX", "qX", 1L))
      .toDF("prefix", "query", "frequency")
    val merged = Merge.bucketAligned(spark.table(table), delta,
      Seq("prefix", "query"), "frequency")
    val plan = merged.queryExecution.executedPlan.toString

    assert(plan.contains("Bucketed: true"),
      s"state side must scan its buckets:\n$plan")
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 1,
      s"only the delta side may shuffle (got $exchanges):\n$plan")

    val out = merged.filter(col("prefix").isin("p1", "pX"))
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("p1", "q1", 6L), ("pX", "qX", 1L)))
  }

  test("writeZOrdered: per-file bounding boxes shrink in BOTH dimensions") {
    // Two decorrelated high-cardinality columns — the case directory
    // partitioning can't serve. A z-ordered layout must leave every
    // file's (x, y) min/max footer box small in both dimensions, which is
    // what lets a predicate on EITHER column skip most files at 100 TB.
    val n = 20000
    val data = (0 until n)
      .map(i => (i.toLong, (i * 2654435761L) % 1000L, ((i * 40503L) % 1000L).toDouble))
      .toDF("id", "x", "y")
    val base = graft.TempDirs.create("graft-zorder")
    val files = 16
    data.repartition(files).write.parquet(s"$base/plain")
    Sinks.writeZOrdered(data, "x", "y", s"$base/zorder", files)

    def boxArea(path: String): Double = {
      val boxes = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"))
      boxes.select(sum(col("dx") * col("dy"))).as[Double].head()
    }
    val plain = boxArea(s"$base/plain")
    val z = boxArea(s"$base/zorder")
    // round-robin files span ~the full 1000×1000 domain each; z-order
    // cells tile it, so the summed area drops by ~#files. Conservative 4×.
    assert(z * 4 < plain, s"z-order box area $z not < 1/4 of plain $plain")

    // and the data itself round-trips unchanged
    val back = spark.read.parquet(s"$base/zorder")
    assert(back.count() == n)
    assert(back.agg(sum("x")).as[Long].head() ==
      data.agg(sum("x")).as[Long].head())
  }

  test("kafkaPayload: exact key/value layout the Kafka sink writes (S4)") {
    // No broker exists in the sandbox, but Sinks.kafka is literally
    // `kafkaPayload(df).write.format("kafka")` — so asserting this frame
    // asserts the record layout that lands on the topic. The reference
    // publishes (prefix, completions-json) pairs; non-string columns must
    // be cast, extra columns dropped, and the output schema must be the
    // two nullable strings the kafka source/sink contract requires.
    val out = Sinks.kafkaPayload(
      graft.Pipeline.topCompletions(
        Seq(("ho", "how", 3L), ("ho", "hot", 1L))
          .toDF("prefix", "query", "frequency"), k = 10)
        .withColumnRenamed("prefix", "key")
        .withColumnRenamed("completions", "value")
        .withColumn("extra", lit(42)))
    assert(out.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("key", "string"), ("value", "string")))
    val rows = out.as[(String, String)].collect().toMap
    assert(rows.keySet == Set("ho"))
    assert(rows("ho").contains("how") && rows("ho").contains("hot"))

    // numeric key casts rather than failing
    val numKey = Sinks.kafkaPayload(Seq((7L, "v")).toDF("key", "value"))
      .as[(String, String)].head()
    assert(numKey == ("7", "v"))

    // a frame missing the contract columns fails loudly at plan time
    intercept[IllegalArgumentException] {
      Sinks.kafkaPayload(Seq(("a", "b")).toDF("prefix", "completions"))
    }
  }

  test("documentSink: Mongo-document layout round-trips (S5)") {
    // No mongod exists in the sandbox; the connector boundary is the
    // write format only — the DOCUMENT layout (steps.docx: {prefix,
    // completions: [{query, frequency}...], last_updated}) is what the
    // engine owns, so this round-trips exactly that. JsonPack.document
    // keeps the completions array TYPED (unlike `nested`, which
    // pre-serializes it for the SQL surface), so the JSON reader must
    // recover the array-of-struct shape, rank order, and every field.
    val ranked = Seq(
      ("ho", 1L, "how", 3L), ("ho", 2L, "hot", 1L), ("ca", 1L, "cat", 5L))
      .toDF("prefix", "rnk", "query", "frequency")
    val docs = graft.ops.JsonPack.document(ranked, "prefix", "rnk",
      "query", "frequency", lit("2024-01-01T00:00:00Z"))
    val dir = graft.TempDirs.create("graft-docsink") + "/out"
    Sinks.documentSink(docs, dir)
    // raw lines: one self-contained JSON document per line (the record a
    // connector insert would carry), nested array intact
    val lines = spark.read.text(dir).as[String].collect().toSeq
    assert(lines.size == 2)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    // structured read-back: schema + rank order + values
    val back = spark.read.json(dir)
    assert(back.columns.sorted.toSeq ==
      Seq("completions", "last_updated", "prefix"))
    val ho = back.filter(col("prefix") === "ho")
      .select(expr("transform(completions, c -> c.query)"),
        expr("transform(completions, c -> c.frequency)"),
        col("last_updated"))
      .as[(Seq[String], Seq[Long], String)].head()
    assert(ho == ((Seq("how", "hot"), Seq(3L, 1L),
      "2024-01-01T00:00:00Z")))
    val ca = back.filter(col("prefix") === "ca")
      .select(expr("transform(completions, c -> c.query)"))
      .as[Seq[String]].head()
    assert(ca == Seq("cat"))
  }

  test("ZOrder.bucket: NULL values, NULL bounds, constant columns pin to 0") {
    // degenerate inputs must not produce NaN/NULL buckets (or engine-
    // divergent clamping) — they pin to bucket 0 pre-division
    val rows = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (5L, 0L, 10L),     // mid-range → 128
      (10L, 0L, 10L),    // mx row → clamped top bucket
      (null, 0L, 10L),   // null value
      (5L, 5L, 5L),      // constant column (div-by-zero → NaN unguarded)
      (5L, null, null))  // all-null column bounds
      .toDF("c", "mn", "mx")
    val out = rows.select(graft.ops.ZOrder
      .bucket(col("c"), col("mn"), col("mx")).as("b"))
      .as[Long].collect().toSeq
    assert(out == Seq(128L, 255L, 0L, 0L, 0L), s"got $out")
  }
}
