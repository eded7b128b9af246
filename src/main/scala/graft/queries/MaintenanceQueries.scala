package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Table-maintenance & governance tier (SURVEY.md §2.12 L63–L65): the
  * operations a 100 TB deployment runs to keep a corpus TABLE correct over
  * time — CDC/MERGE upsert application (the Delta/Iceberg `MERGE INTO`
  * kernel), snapshot-to-snapshot row diffs (the audit of what a merge
  * actually changed), and a k-anonymity privacy audit over
  * quasi-identifier equivalence classes.
  *
  * The CDC feed is synthesized DETERMINISTICALLY from the documents table
  * (modular-arithmetic key selection, fixed versions) so the full merge —
  * key dedup, last-writer-wins, delete-beats-update at equal version — is
  * hash-checked bit-for-bit against a DuckDB replay. At production scale
  * the changes side is a day's feed (orders of magnitude smaller than the
  * base), so AQE broadcasts it; the plan here is the general sort-merge
  * form: ONE exchange per side on the merge key, with the latest-per-key
  * window sharing the join's hash partitioning (no extra exchange).
  */
object MaintenanceQueries {

  /** The deterministic change feed over sfDir's documents — exposed for
    * StreamStaging so the CDC stream entries share one staged copy.
    */
  private[queries] def cdcChangesFor(s: SparkSession,
                                     sfDir: String): DataFrame =
    cdcChanges(table(s, sfDir, "documents"))

  /** The deterministic CDC feed shared by q_cdc_merge and q_snapshot_diff
    * (and replayed verbatim by their oracles):
    *   - v1 updates: every doc_id % 7 == 0 re-sourced to `cdc_update_v1`;
    *   - v2 updates: every doc_id % 14 == 0 re-sourced to `cdc_update_v2`
    *     (supersedes its own v1 row — last-writer-wins is load-bearing);
    *   - v2 deletes: every doc_id % 13 == 0;
    *   - v1 inserts: every doc_id % 11 == 0 cloned to key doc_id + 10^12
    *     (disjoint from all base keys; MaintenanceSpec asserts
    *     max(doc_id) stays far below the offset — a colliding key would
    *     make the stream's max(struct) state and the batch window's
    *     (version DESC, op ASC) tie-break diverge) with source
    *     `cdc_insert`.
    * Keys divisible by both 13 and 14 carry a v2 update AND a v2 delete:
    * the tie-break is (version DESC, op ASC), so 'D' < 'U' means the
    * delete wins — pinned in MaintenanceSpec on a constructed table.
    */
  private def cdcChanges(d: DataFrame): DataFrame = {
    def slice(cond: Column, op: String, ver: Int, src: Column,
              key: Column): DataFrame =
      d.filter(cond).select(key.cast("long").as("doc_id"), lit(op).as("op"),
        lit(ver).as("version"), d("lang"), src.as("source"), d("n_chars"))
    slice(d("doc_id") % 7 === 0, "U", 1, lit("cdc_update_v1"), d("doc_id"))
      .unionByName(slice(d("doc_id") % 14 === 0, "U", 2,
        lit("cdc_update_v2"), d("doc_id")))
      .unionByName(slice(d("doc_id") % 13 === 0, "D", 2, d("source"),
        d("doc_id")))
      .unionByName(slice(d("doc_id") % 11 === 0, "I", 1, lit("cdc_insert"),
        d("doc_id") + 1000000000000L))
  }

  /** The DuckDB replay of [[cdcChanges]] + latest-per-key dedup, shared by
    * both oracles below.
    */
  private val duckLatest: String =
    """ch AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, 'U' AS op, 1 AS version,
      |    lang, 'cdc_update_v1' AS source, n_chars
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, 'U', 2, lang, 'cdc_update_v2', n_chars
      |  FROM documents WHERE doc_id % 14 = 0
      |  UNION ALL
      |  SELECT doc_id, 'D', 2, lang, source, n_chars
      |  FROM documents WHERE doc_id % 13 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000000000, 'I', 1, lang, 'cdc_insert', n_chars
      |  FROM documents WHERE doc_id % 11 = 0),
      |latest AS (
      |  SELECT doc_id, op, lang, source, n_chars FROM (
      |    SELECT ch.*, row_number() OVER (
      |      PARTITION BY doc_id ORDER BY version DESC, op ASC) AS rn
      |    FROM ch) WHERE rn = 1)""".stripMargin

  /** Latest change per key: MERGE consumes ONE row per key; the window's
    * partitioning (doc_id) is the join key, so Spark reuses the exchange.
    */
  private def latestChange(d: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("version").desc, col("op").asc)
    cdcChanges(d).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "version")
  }

  /** The merged snapshot: base FULL OUTER latest-change on the key;
    * deletes drop, updates/inserts take the change row, untouched keys
    * keep the base row. `latest` must carry one row per key with
    * (doc_id, op, lang, source, n_chars).
    */
  private[queries] def applyLatest(d: DataFrame,
                                   latest: DataFrame): DataFrame = {
    val b = d.select(d("doc_id").as("b_id"), d("lang").as("b_lang"),
      d("source").as("b_source"), d("n_chars").as("b_nc"))
    val l = latest.select(col("doc_id").as("l_id"), col("op"),
      col("lang").as("l_lang"), col("source").as("l_source"),
      col("n_chars").as("l_nc"))
    b.join(l, b("b_id") === l("l_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(coalesce(col("l_id"), col("b_id")).as("doc_id"),
        when(col("l_id").isNotNull, col("l_lang")).otherwise(col("b_lang"))
          .as("lang"),
        when(col("l_id").isNotNull, col("l_source"))
          .otherwise(col("b_source")).as("source"),
        when(col("l_id").isNotNull, col("l_nc")).otherwise(col("b_nc"))
          .as("n_chars"))
  }

  private def cdcMerged(d: DataFrame): DataFrame =
    applyLatest(d, latestChange(d))

  // The merged snapshot: q_cdc_merge's oracle, shared by both stream
  // twins.
  private val duckCdcMerge =
    s"""WITH $duckLatest
      |SELECT COALESCE(l.doc_id, b.doc_id) AS doc_id,
      |  CASE WHEN l.doc_id IS NOT NULL THEN l.lang ELSE b.lang END
      |    AS lang,
      |  CASE WHEN l.doc_id IS NOT NULL THEN l.source ELSE b.source END
      |    AS source,
      |  CASE WHEN l.doc_id IS NOT NULL THEN l.n_chars ELSE b.n_chars
      |    END AS n_chars
      |FROM documents b FULL OUTER JOIN latest l ON b.doc_id = l.doc_id
      |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin

  val all: Map[String, Q] = Map(

    // L63 — CDC/MERGE upsert apply: the full post-merge snapshot, so the
    // hash certifies every row-level outcome class at once (update
    // applied, later version winning, delete removing, insert appearing,
    // untouched rows passing through byte-identical).
    "q_cdc_merge" -> Q(duckCdcMerge) { (s, dir) =>
      cdcMerged(table(s, dir, "documents"))
    },

    // L64 — snapshot diff: row-level audit of base → merged. Classifies
    // added / removed / changed and carries the (old, new) source pair;
    // unchanged rows are excluded so the output is change-sized, not
    // corpus-sized (at 100 TB the diff of a daily merge is the small
    // object; emitting the unchanged majority would BE the cost).
    "q_snapshot_diff" -> Q(
      s"""WITH $duckLatest,
         |merged AS (
         |  SELECT COALESCE(l.doc_id, b.doc_id) AS doc_id,
         |    CASE WHEN l.doc_id IS NOT NULL THEN l.lang ELSE b.lang END
         |      AS lang,
         |    CASE WHEN l.doc_id IS NOT NULL THEN l.source ELSE b.source
         |      END AS source,
         |    CASE WHEN l.doc_id IS NOT NULL THEN l.n_chars ELSE b.n_chars
         |      END AS n_chars
         |  FROM documents b FULL OUTER JOIN latest l
         |    ON b.doc_id = l.doc_id
         |  WHERE l.op IS NULL OR l.op <> 'D')
         |SELECT COALESCE(m.doc_id, b.doc_id) AS doc_id,
         |  CASE WHEN b.doc_id IS NULL THEN 'added'
         |       WHEN m.doc_id IS NULL THEN 'removed'
         |       ELSE 'changed' END AS change,
         |  b.source AS old_source, m.source AS new_source
         |FROM documents b FULL OUTER JOIN merged m ON b.doc_id = m.doc_id
         |WHERE b.doc_id IS NULL OR m.doc_id IS NULL
         |   OR b.lang <> m.lang OR b.source <> m.source
         |   OR b.n_chars <> m.n_chars""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val b = d.select(d("doc_id").as("o_id"), d("lang").as("o_lang"),
        d("source").as("o_source"), d("n_chars").as("o_nc"))
      val m = cdcMerged(d).select(col("doc_id").as("m_id"),
        col("lang").as("m_lang"), col("source").as("m_source"),
        col("n_chars").as("m_nc"))
      b.join(m, b("o_id") === m("m_id"), "full_outer")
        .filter(col("o_id").isNull || col("m_id").isNull ||
          col("o_lang") =!= col("m_lang") ||
          col("o_source") =!= col("m_source") ||
          col("o_nc") =!= col("m_nc"))
        .select(coalesce(col("m_id"), col("o_id")).as("doc_id"),
          when(col("o_id").isNull, "added")
            .when(col("m_id").isNull, "removed")
            .otherwise("changed").as("change"),
          col("o_source").as("old_source"),
          col("m_source").as("new_source"))
    },

    // L65 — k-anonymity audit (k=5) over the quasi-identifier tuple
    // (lang, source, n_chars bucketed to 100): per (lang, source), how
    // many equivalence classes exist, the smallest class, and how many
    // classes/rows fall below k — the re-identification risk surface a
    // corpus release is gated on. Two cascaded aggregations, both with
    // map-side partials; output is report-sized.
    "q_kanon" -> Q(
      """WITH cls AS (
        |  SELECT lang, source, n_chars // 100 AS size_bucket,
        |    CAST(count(*) AS BIGINT) AS cls_n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(cls_n) AS BIGINT) AS min_class,
        |  CAST(sum(CASE WHEN cls_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_classes,
        |  CAST(sum(CASE WHEN cls_n < 5 THEN cls_n ELSE 0 END) AS BIGINT)
        |    AS n_risky_rows
        |FROM cls GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val cls = d.groupBy(d("lang"), d("source"),
          expr("n_chars div 100").as("size_bucket"))
        .agg(count(lit(1)).as("cls_n"))
      cls.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_classes"),
          min("cls_n").as("min_class"),
          sum(when(col("cls_n") < 5, 1L).otherwise(0L))
            .as("n_risky_classes"),
          sum(when(col("cls_n") < 5, col("cls_n")).otherwise(0L))
            .as("n_risky_rows"))
    },

    // L87 — l-diversity audit (the q_kanon companion: k-anonymity bounds
    // re-identification by class SIZE, l-diversity bounds ATTRIBUTE
    // inference — a large class whose members all share one sensitive
    // value still leaks it). Quasi-identifiers (lang, size bucket);
    // sensitive attribute: source; a class is risky when fewer than 3
    // distinct sources appear in it. Same two-level rollup shape as
    // q_kanon plus one distinct-aggregate; everything class-count-sized
    // past the first shuffle.
    "q_l_diversity" -> Q(
      """WITH cls AS (
        |  SELECT lang, n_chars // 100 AS size_bucket,
        |    CAST(count(*) AS BIGINT) AS cls_n,
        |    CAST(count(DISTINCT source) AS BIGINT) AS l_div
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(l_div) AS BIGINT) AS min_diversity,
        |  CAST(sum(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_classes,
        |  CAST(sum(CASE WHEN l_div < 3 THEN cls_n ELSE 0 END) AS BIGINT)
        |    AS n_risky_rows
        |FROM cls GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
      val cls = d.groupBy(d("lang"), expr("n_chars div 100")
          .as("size_bucket"))
        .agg(count(lit(1)).as("cls_n"),
          countDistinct(col("source")).as("l_div"))
      cls.groupBy("lang")
        .agg(count(lit(1)).as("n_classes"),
          min("l_div").as("min_diversity"),
          sum(when(col("l_div") < 3, 1L).otherwise(0L))
            .as("n_risky_classes"),
          sum(when(col("l_div") < 3, col("cls_n")).otherwise(0L))
            .as("n_risky_rows"))
    },

    // L90 — t-closeness audit: the third leg of the privacy family
    // (q_kanon bounds re-identification by class SIZE, q_l_diversity
    // bounds inference by DISTINCT sensitive values; t-closeness bounds
    // it by DISTRIBUTION distance — a class can be large and diverse
    // yet still leak if its source mix is far from the corpus's). Per
    // quasi-identifier class (lang, size bucket): the total-variation
    // distance between the class's sensitive-value (source) histogram
    // and the global one, ENTIRELY in exact integers — the class×value
    // grid is DENSE (a class missing a value contributes |0·N − g_v·n_c|,
    // which a join on observed counts alone would drop), TVD numerator
    // num = Σ_v |c_v·N − g_v·n_c| over denominator 2·n_c·N, and the ppm
    // value is integer division (both engines truncate non-negatives
    // identically) — no mirrored doubles anywhere. Scale: one corpus
    // projection checkpointed for its three consumers; the grid is
    // class-count × V (V = sensitive cardinality, tiny) with the value
    // histogram and the 1-row total as broadcasts; BIGINT-safe while
    // 10⁶·2·n_c·N < 2⁶³ (n_c·N ≲ 4.6e12; beyond: DECIMAL(38), the X51
    // pattern). Rolled up per lang so output is lang-sized.
    "q_t_closeness" -> Q(
      """WITH base AS (SELECT lang, n_chars // 100 AS size_bucket, source
        |  FROM documents),
        |cls AS (SELECT lang, size_bucket, CAST(count(*) AS BIGINT) n_c
        |  FROM base GROUP BY 1, 2),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) g_v
        |  FROM base GROUP BY 1),
        |tot AS (SELECT CAST(sum(g_v) AS BIGINT) n FROM g),
        |cnt AS (SELECT lang, size_bucket, source,
        |    CAST(count(*) AS BIGINT) c
        |  FROM base GROUP BY 1, 2, 3),
        |t AS (SELECT cls.lang, cls.size_bucket, cls.n_c, tot.n,
        |    CAST(sum(abs(coalesce(cnt.c, 0) * tot.n - g.g_v * cls.n_c))
        |      AS BIGINT) num
        |  FROM cls CROSS JOIN g CROSS JOIN tot
        |  LEFT JOIN cnt ON cnt.lang = cls.lang
        |    AND cnt.size_bucket = cls.size_bucket
        |    AND cnt.source = g.source
        |  GROUP BY 1, 2, 3, 4),
        |tc AS (SELECT lang, n_c,
        |    (1000000 * num) // (2 * n_c * n) AS t_ppm
        |  FROM t)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(max(t_ppm) AS BIGINT) AS max_t_ppm,
        |  CAST(sum(CASE WHEN t_ppm > 250000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_risky_classes,
        |  CAST(sum(CASE WHEN t_ppm > 250000 THEN n_c ELSE 0 END)
        |    AS BIGINT) AS n_risky_rows
        |FROM tc GROUP BY 1""".stripMargin) { (s, dir) =>
      val base = table(s, dir, "documents")
        .select(col("lang"), expr("n_chars div 100").as("size_bucket"),
          col("source"))
        // 3 consumers: classes, the value histogram, and the counts
        .localCheckpoint(true)
      val cls = base.groupBy("lang", "size_bucket")
        .agg(count(lit(1)).as("n_c"))
      val g = base.groupBy("source").agg(count(lit(1)).as("g_v"))
        // 2 consumers: the grid and the global total
        .localCheckpoint(true)
      val tot = g.agg(sum("g_v").as("n"))
      val cnt = base.groupBy("lang", "size_bucket", "source")
        .agg(count(lit(1)).as("c"))
      val t = cls.crossJoin(broadcast(g)).crossJoin(broadcast(tot))
        .join(cnt, Seq("lang", "size_bucket", "source"), "left_outer")
        .select(col("lang"), col("size_bucket"), col("n_c"), col("n"),
          abs(coalesce(col("c"), lit(0L)) * col("n") -
            col("g_v") * col("n_c")).as("term"))
        .groupBy("lang", "size_bucket", "n_c", "n")
        .agg(sum("term").as("num"))
      t.select(col("lang"), col("n_c"),
          expr("(1000000 * num) div (2 * n_c * n)").as("t_ppm"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_classes"),
          max("t_ppm").as("max_t_ppm"),
          sum(when(col("t_ppm") > 250000, 1L).otherwise(0L))
            .as("n_risky_classes"),
          sum(when(col("t_ppm") > 250000, col("n_c")).otherwise(0L))
            .as("n_risky_rows"))
    },

    // X12o — the CDC CONSUMER as a REAL streaming run: the change feed
    // arrives as a file-source stream (8 staged files, 2 per trigger →
    // ≥4 micro-batches) and the latest-per-key state is a complete-mode
    // max(struct(version, delete-rank, payload)) aggregation
    // (StreamingPipeline.streamCdcComplete). The streamed state, applied
    // to the base, must be bit-identical to the batch q_cdc_merge
    // snapshot. Oracle = q_cdc_merge's SQL verbatim.
    "q_stream_cdc" -> Q(duckCdcMerge) { (s, dir) =>
      val d = table(s, dir, "documents")
      graft.streaming.StreamingPipeline.streamCdcComplete(s, dir,
        latest => applyLatest(d, latest))
    },

    // X12r — the UPDATE-mode twin of q_stream_cdc: the same
    // latest-per-key max(struct) state, but each micro-batch's changed
    // keys MERGE into the hash-prefix-partitioned sink table
    // (StreamingPipeline.streamCdcUpdate), and applying the state to the
    // base snapshot is a READ-side join — the state-table-plus-view split
    // a real CDC consumer serves from. Oracle = q_cdc_merge's SQL verbatim, the
    // same certification as the complete-mode twin.
    "q_stream_cdc_update" -> Q(duckCdcMerge) { (s, dir) =>
      val d = table(s, dir, "documents")
      graft.streaming.StreamingPipeline.streamCdcUpdate(s, dir,
        latest => applyLatest(d, latest))
    }
  )
}
