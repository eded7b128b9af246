package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables

/** The staged fixture layouts of the declared queries, and their
  * lifetime: the stream sources below, the [[IncrFixture]] hourly files
  * and the [[FormatFixture]] format copies. Each layout is a pure
  * function of (testdata dir, source-table fingerprint); it is written
  * once per JVM into a [[graft.TempDirs]] dir (deleted at exit) and
  * served from memory after that. A new fingerprint for the same
  * (dir, kind) — the source table was rewritten — stages afresh and
  * deletes the directory it replaces, so a stale layout is never served
  * and regenerated corpora leave no orphans behind.
  *
  * The entries time the STREAM (drain, state merging, sink writes); the
  * one-off staging write is fixture I/O that `Bench` bills to its
  * shared-base phase. Checkpoint directories are NOT staged here — every
  * invocation must re-drain the whole stream; only the immutable source
  * files are shared.
  *
  * Stream layouts ("kind"):
  *  - docs8: documents, 8 random files (dedup/top-K entries — no
  *    event-time semantics, arrival order irrelevant);
  *  - events8range: events range-partitioned on ts with file mtimes
  *    PINNED to slice order before any reader lists them —
  *    FileStreamSource picks batches by mtime, and for watermarked
  *    consumers out-of-order slices silently drop data; complete-mode
  *    sessionize shares it (no watermark there, the pinning just makes
  *    batch composition deterministic);
  *  - events8sentinel: events8range plus the watermark-heartbeat
  *    sentinel row in the last slice (append-mode sessionize);
  *  - cdc8: the deterministic CDC change feed, 8 random files;
  *  - emb8: embeddings, 8 random files (per-row cell assignment — no
  *    event-time semantics, arrival order irrelevant).
  */
private[graft] object StreamStaging {

  private final case class Layout(fp: String, path: String)
  /** (source dir, kind) -> its live layout. */
  private val layouts =
    scala.collection.mutable.HashMap.empty[(String, String), Layout]
  /** Source schema per live stream-layout path. */
  private val schemas =
    scala.collection.mutable.HashMap.empty[String, StructType]

  /** The staged directory for (dir, kind) at fingerprint `fp`, written
    * by `write` (given the path to produce) when absent or stale.
    */
  private[queries] def stage(dir: String, kind: String, fp: String)(
      write: String => Unit): String = synchronized {
    layouts.get((dir, kind)) match {
      case Some(l) if l.fp == fp => l.path
      case old =>
        old.foreach { l =>
          layouts.remove((dir, kind))
          schemas.remove(l.path)
          graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(l.path))
        }
        val dest = graft.TempDirs.create(s"graft-stage-$kind-")
        write(dest)
        layouts((dir, kind)) = Layout(fp, dest)
        dest
    }
  }

  /** Source schema of a staged parquet dir. A live stream layout is
    * immutable, so its schema is read once; any other dir (the ad-hoc
    * drains' own staging) pays the footer read every time.
    */
  def schema(s: SparkSession, stagedDir: String): StructType =
    synchronized {
      if (layouts.valuesIterator.exists(_.path == stagedDir))
        schemas.getOrElseUpdate(stagedDir, s.read.parquet(stagedDir).schema)
      else s.read.parquet(stagedDir).schema
    }

  private def events(s: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(s, sfDir, "events")
    ev.select(ev("user_id"), ev("event_id"),
      timestamp_micros(expr("ts div 1000")).as("ts"),
      ev("event_type"))
  }

  private def pinMtimes(s: SparkSession, dest: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(dest)
    val fs = hPath.getFileSystem(s.sessionState.newHadoopConf())
    val parts = fs.listStatus(hPath).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val t0 = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (p, i) =>
      fs.setTimes(p, t0 + i * 1000L, -1L)
    }
  }

  /** The parquet table each layout derives from — the fingerprint must
    * track THAT table, not documents unconditionally: a mid-session
    * events rewrite that leaves documents untouched would otherwise
    * serve stale events8range/events8sentinel stages silently.
    */
  private def sourceTable(kind: String): String = kind match {
    case "events8range" | "events8sentinel" => "events.parquet"
    case "emb8"                             => "embeddings.parquet"
    case _                                  => "documents.parquet"
  }

  /** The staged stream source for `kind` over `sfDir`, building on first
    * use per source-table fingerprint (a regenerated corpus re-stages).
    */
  def dir(s: SparkSession, sfDir: String, kind: String): String = {
    val fp = SharedBases.fingerprint(s, sfDir, sourceTable(kind))
    stage(sfDir, s"stream_$kind", fp) { dest =>
      kind match {
        case "docs8" =>
          Tables.table(s, sfDir, "documents")
            .repartition(8).write.mode("overwrite").parquet(dest)
        case "events8range" =>
          events(s, sfDir).repartitionByRange(8, col("ts"))
            .write.mode("overwrite").parquet(dest)
          pinMtimes(s, dest)
        case "events8sentinel" =>
          val ev = events(s, sfDir)
          val gapUs = 43_200_000_000L
          val maxRow = ev.agg(max(unix_micros(col("ts")))).head()
          // empty events: no sessions exist — stage the (empty) table
          // without a sentinel instead of NPE-ing on the null max
          val withSentinel =
            if (maxRow.isNullAt(0)) ev
            else ev.unionByName(s.range(1).select(
              lit(-1L).as("user_id"), lit(-1L).as("event_id"),
              timestamp_micros(
                lit(maxRow.getLong(0) + gapUs + 7_200_000_000L))
                .as("ts"),
              lit("__sentinel__").as("event_type")))
          withSentinel.repartitionByRange(8, col("ts"))
            .write.mode("overwrite").parquet(dest)
          pinMtimes(s, dest)
        case "cdc8" =>
          MaintenanceQueries.cdcChangesFor(s, sfDir)
            .repartition(8).write.mode("overwrite").parquet(dest)
        case "emb8" =>
          // per-row assignment — arrival order irrelevant, like docs8
          Tables.table(s, sfDir, "embeddings")
            .repartition(8).write.mode("overwrite").parquet(dest)
        case other =>
          throw new IllegalArgumentException(s"unknown kind $other")
      }
    }
  }

  /** Pre-build every staged layout for `sfDir` (Bench's shared-base
    * phase calls this so the fixture I/O bills there, not inside the
    * first streaming entry's timer).
    */
  def prebuild(s: SparkSession, sfDir: String): Unit =
    Seq("docs8", "events8range", "events8sentinel", "cdc8", "emb8")
      .foreach(dir(s, sfDir, _))
}
