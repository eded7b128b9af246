package graft.queries

import graft.{SparkSpec, Tables, TempDirs}

/** Pins the StreamStaging contracts: (1) the memo key fingerprints each
  * layout's SOURCE table, so a mid-session events rewrite restages
  * events-derived layouts (and does NOT restage documents-derived ones);
  * (2) replacing a stale layout deletes its staged directory, not just
  * its memo entry — repeated corpus regenerations must not accumulate
  * corpus-sized orphans under tmpdir. Both hold for every fixture
  * staged through it, the IncrFixture and FormatFixture layouts too.
  */
class StreamStagingSpec extends SparkSpec {

  test("events rewrite restages events layouts and deletes the evicted dir") {
    val dir = TempDirs.create("graft-staging-sf")
    def writeEvents(n: Int): Unit =
      Tables.table(spark, sf0001, "events").limit(n)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.table(spark, sf0001, "documents").limit(20)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    writeEvents(100)
    val ev1 = StreamStaging.dir(spark, dir, "events8range")
    val docs1 = StreamStaging.dir(spark, dir, "docs8")
    assert(new java.io.File(ev1).exists, "first generation must stage")

    // mid-session source rewrite: only the events table changes
    writeEvents(60)
    val ev2 = StreamStaging.dir(spark, dir, "events8range")
    assert(ev2 != ev1,
      "events-derived layout must restage after an events rewrite")
    assert(new java.io.File(ev2).exists)
    assert(!new java.io.File(ev1).exists,
      "the evicted generation's staged directory must be deleted")
    assert(spark.read.parquet(ev2).count() == 60,
      "the restaged layout must serve the rewritten source")

    // documents untouched -> the documents-derived layout keeps its
    // staged generation (no spurious restaging, no wasted corpus copy)
    val docs2 = StreamStaging.dir(spark, dir, "docs8")
    assert(docs2 == docs1,
      "documents-derived layout must not restage on an events rewrite")
    assert(new java.io.File(docs1).exists)
  }

  test("documents rewrite restages the incr and format fixtures and " +
      "deletes the dirs they replace") {
    val dir = TempDirs.create("graft-staging-docs")
    def writeDocs(n: Int): Unit =
      Tables.table(spark, sf0001, "documents").limit(n)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def exists(p: String): Boolean = new java.io.File(p).exists
    writeDocs(60)
    val incr1 = IncrFixture.paths(spark, dir)
    val incrDir1 = new java.io.File(incr1.head).getParent
    val orc1 = FormatFixture.path(spark, dir, "orc")
    assert(exists(incrDir1) && exists(orc1), "first layouts must stage")
    assert(IncrFixture.paths(spark, dir) == incr1 &&
      FormatFixture.path(spark, dir, "orc") == orc1,
      "an unchanged source must not restage")

    writeDocs(25)
    val incr2 = IncrFixture.paths(spark, dir)
    val orc2 = FormatFixture.path(spark, dir, "orc")
    assert(new java.io.File(incr2.head).getParent != incrDir1 && orc2 != orc1,
      "a documents rewrite must restage both fixtures")
    assert(!exists(incrDir1) && !exists(orc1),
      "the replaced layouts' directories must be deleted")
    assert(spark.read.text(incr2: _*).count() == 25 &&
      spark.read.orc(orc2).count() == 25,
      "the restaged layouts must serve the rewritten source")
  }
}
