package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** TOMBSTONE PURGE CASCADE (SURVEY §2.9 privacy/ops family, beside
  * q67's PII redaction and q178's DP release): the right-to-be-forgotten
  * sweep a production corpus owes its users — given a tombstone set of
  * document ids (deletion requests), remove every trace of those
  * documents from EVERY surface that derives from them: the document
  * store itself, the embedding store keyed by the same ids, and the
  * derived chunk table (the q65 chunker's output — the shape of every
  * downstream materialization a pipeline accretes). The q202 audit row
  * per surface reports before/tombstoned/after counts plus a
  * `residual_clean` verdict recounted IN-PLAN on the actually-purged
  * frame — the evidence a deletion-compliance report needs, not just
  * the intent.
  *
  * Scale shape: the tombstone set is requests-sized (≪ corpus, the
  * GDPR/CCPA regime), so every purge is one BROADCAST anti-join — no
  * corpus shuffle, no full rewrite plan-side; on a partitioned 100 TB
  * store the write-back touches only the partitions holding tombstoned
  * rows (the [[graft.layout.Compactor]] rewrite lifecycle), while the
  * audit here is the plan-side recount. The fixture tombstone set is
  * the deterministic `doc_id % TombstoneMod = 0` subset; a deployment
  * passes its real request table.
  */
object Purge extends graft.QueryModule {

  /** Fixture tombstone rule — deterministic stand-in for the external
    * deletion-request table. */
  val TombstoneMod = 97

  /** The tombstoned doc ids of `dir`'s corpus. */
  private[graft] def tombstones(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % TombstoneMod === 0)
      .select(col("doc_id").as("t_id"))

  /** PRODUCTION purge of ANY frame keyed by `key`: one broadcast
    * anti-join against the tombstone set. */
  private[graft] def purged(df: DataFrame, key: Column, tomb: DataFrame): DataFrame =
    df.join(broadcast(tomb), key === col("t_id"), "left_anti")

  /** One audit row for surface `name`: before/tombstoned counts from a
    * single broadcast left join, after = the difference, and the
    * residual verdict recounted on the PURGED frame itself (the purge
    * and its evidence come from the same plan, the q43 in-plan-gate
    * convention). */
  private def auditRow(name: String, df: DataFrame, key: Column,
      tomb: DataFrame): DataFrame = {
    // coalesce: `sum` over an EMPTY surface is NULL — an empty table
    // audits as (0, 0, 0, clean), not a NULL row
    val counted = df.join(broadcast(tomb), key === col("t_id"), "left")
      .agg(
        count(lit(1)).as("n_before"),
        coalesce(sum(when(col("t_id").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_tombstoned"))
    val residual = purged(df, key, tomb)
      .join(broadcast(tomb), key === col("t_id"), "left")
      .agg(coalesce(
        sum(when(col("t_id").isNotNull, 1L).otherwise(0L)), lit(0L))
        .as("n_residual"))
    counted.crossJoin(broadcast(residual))
      .select(
        lit(name).as("surface"),
        col("n_before"), col("n_tombstoned"),
        (col("n_before") - col("n_tombstoned")).as("n_after"),
        (col("n_residual") === 0L).as("residual_clean"))
  }

  /** q202 — the purge-cascade audit over the three derived surfaces. */
  def q202PurgeCascade(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    auditOver(spark, Tables.documents(spark, dir), Tables.embeddings(spark, dir))
  }

  /** The audit over ANY (documents, embeddings) frame pair — also the
    * `purge_audit()` TVF body. */
  private[graft] def auditOver(spark: SparkSession, docs: DataFrame,
      emb: DataFrame): DataFrame = {
    val tomb = docs.filter(col("doc_id") % TombstoneMod === 0)
      .select(col("doc_id").as("t_id"))
    val chunks = TextOps.chunkOverlap(
      Tables.fanout(spark, docs), TextOps.ChunkSize, TextOps.ChunkStride)
    auditRow("chunks", chunks, col("doc_id"), tomb)
      .unionAll(auditRow("documents", docs, col("doc_id"), tomb))
      .unionAll(auditRow("embeddings", emb, col("vec_id"), tomb))
      .orderBy("surface")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q202_purge_cascade" -> (q202PurgeCascade _))

  /** Full value oracle: tombstone rule + per-surface counts replayed
    * (the chunk surface re-derives the q65 chunk-count formula);
    * `residual_clean` is deterministic — an anti-join leaves nothing
    * behind by definition, which the Spark side still proves in-plan. */
  val oracles: Map[String, String] = Map(
    "q202_purge_cascade" -> {
      val cs = TextOps.ChunkSize
      val st = TextOps.ChunkStride
      s"""WITH tomb AS (
         |  SELECT doc_id FROM documents WHERE doc_id % $TombstoneMod = 0),
         |ch AS (
         |  SELECT doc_id,
         |    CAST(ceil(greatest(len(list_filter(string_split(text, ' '),
         |      x -> x <> '')) - $cs, 0) / ${st.toDouble}) + 1 AS BIGINT) AS n_chunks
         |  FROM documents
         |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
         |rows_ AS (
         |  SELECT 'chunks' AS surface,
         |    (SELECT CAST(sum(n_chunks) AS BIGINT) FROM ch) AS n_before,
         |    (SELECT CAST(coalesce(sum(n_chunks), 0) AS BIGINT) FROM ch
         |       WHERE doc_id IN (SELECT doc_id FROM tomb)) AS n_tombstoned
         |  UNION ALL
         |  SELECT 'documents',
         |    (SELECT count(*) FROM documents),
         |    (SELECT count(*) FROM documents
         |       WHERE doc_id IN (SELECT doc_id FROM tomb))
         |  UNION ALL
         |  SELECT 'embeddings',
         |    (SELECT count(*) FROM embeddings),
         |    (SELECT count(*) FROM embeddings
         |       WHERE vec_id IN (SELECT doc_id FROM tomb)))
         |SELECT surface, n_before, n_tombstoned,
         |  n_before - n_tombstoned AS n_after, TRUE AS residual_clean
         |FROM rows_ ORDER BY surface""".stripMargin
    })
}
