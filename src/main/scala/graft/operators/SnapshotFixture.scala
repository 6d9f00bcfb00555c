package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ArtifactStore, Tables}

/** Materialized two-snapshot corpus fixture: the deterministic version
  * rules of [[Corpus]] (q66/q71/q76) written out as REAL parquet
  * snapshot tables, so the incremental-corpus operators run against
  * distinct file sets the way a production recrawl pipeline does —
  * exercising file-level versioning end-to-end (the snapshot directory is
  * keyed by the source corpus' [[graft.core.TableVersion]] content
  * signature; a corpus rewrite re-materializes it and deletes the stale
  * one) instead of two filters over one in-memory frame.
  *
  * The DERIVATION stays the deterministic modulus rules: the DuckDB
  * oracle cannot see extra parquet files, so it reconstructs each
  * version from `documents` with the same arithmetic — which is exactly
  * what keeps the correctness gate meaningful: the engine answers from
  * the materialized files, the oracle from the rules, and they must
  * agree byte-for-byte.
  *
  * Three tables, because the fixtures need two different change rules:
  *  - `documents_v1_edit`  — v1 with q66's UPPER(text) edits (content
  *    fingerprints change, token counts may not)
  *  - `documents_v1_growth` — v1 with q76's appended-footer edits
  *    (token counts change, exercising the stats delta terms)
  *  - `documents_v2`       — the shared current snapshot
  */
object SnapshotFixture {

  /** The derived snapshot frames, in dependency on the live corpus. */
  private def derivations(docs: DataFrame): Seq[(String, DataFrame)] = {
    import Corpus._
    val v1Membership = col("doc_id") % RemovedInV2Mod =!= RemovedInV2Rem
    Seq(
      "documents_v1_edit" -> docs.filter(v1Membership)
        .withColumn("text",
          when(col("doc_id") % ChangedMod === 0, upper(col("text")))
            .otherwise(col("text"))),
      "documents_v1_growth" -> docs.filter(v1Membership)
        .withColumn("text",
          when(col("doc_id") % ChangedMod === 0, concat(col("text"), lit(ChangedFooter)))
            .otherwise(col("text"))),
      "documents_v2" -> docs.filter(
        col("doc_id") % DroppedFromV1Mod =!= DroppedFromV1Rem))
  }

  /** The local directory holding the three snapshot tables of the corpus
    * at `dir`: built once per corpus content version in [[ArtifactStore]],
    * which deletes the previous version's directory when the corpus is
    * rewritten. */
  def ensure(spark: SparkSession, dir: String): String =
    ArtifactStore.tempDir(spark, dir, Seq("documents.parquet"), "snapshots") { out =>
      derivations(Tables.documents(spark, dir)).foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(new HPath(out, name).toString)
      }
    }

  /** Read one materialized snapshot table for the corpus at `dir`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(new HPath(ensure(spark, dir), name).toString)
}
