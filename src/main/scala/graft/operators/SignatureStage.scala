package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{ArtifactStore, TableVersion}

/** The stage format of the dedup family's shared intermediates (the
  * tokenize → shingle → hash tables q26/q27/q28/q38 and their siblings
  * start from): a stage is `.cache()`d and materialized once, and with
  * `spark.graft.signatures.persist=true` also written as parquet under
  * `<root>/<version>/<name>`, root = [[ArtifactStore.persistRoot]] of
  * kind `signatures`, and loaded from there before building, so a fresh
  * session reuses it. Keying, versioning on `documents.parquet`,
  * replacement and release are the [[ArtifactStore]]'s. Persist failures
  * degrade to cache-only, never fail the query.
  */
object SignatureStage {

  /** Physical bucket layout for a persisted stage: when set, the stage
    * is persisted as a BUCKETED+SORTED table instead of flat parquet, so
    * every later join on the bucket columns — including in a fresh
    * session that merely reloads the stage — plans without an Exchange
    * on the stage side (same lever as [[graft.layout.BucketedLayout]],
    * applied to the dedup family's intermediates). */
  private[operators] final case class BucketSpec(cols: Seq[String], n: Int)

  /** The named stage for `dir`, built (cached + materialized) on first
    * use and reused until the corpus content changes or it is released.
    * Build functions must derive only from the corpus under `dir`. */
  private[operators] def stage(spark: SparkSession, dir: String, name: String,
      buckets: Option[BucketSpec] = None)(
      build: => DataFrame): DataFrame =
    ArtifactStore.frame(spark, dir, Seq("documents.parquet"), name) { version =>
      val df = loadPersisted(spark, dir, version, name, buckets).getOrElse {
        val built = build
        persist(spark, dir, version, name, built, buckets).getOrElse(built)
      }
      val cached = df.cache()
      cached.count() // materialize: later queries read blocks, never re-plan
      cached
    }

  private def persistRoot(spark: SparkSession, dir: String): HPath =
    ArtifactStore.persistRoot(spark, dir, "signatures")

  /** Catalog identifier for a bucketed persisted stage. Bucket METADATA
    * lives in the session catalog (parquet files alone don't carry it),
    * so a fresh session re-registers the table over the existing files
    * with CREATE TABLE … CLUSTERED BY … LOCATION — the files are already
    * bucket-id-named by the original write, re-registration is pure DDL. */
  private def tableIdent(dir: String, version: String, name: String): String = {
    val mask = TableVersion.md5Hex(dir + "#" + version)
    s"graft_sigs.${name}_$mask"
  }

  private def registerBucketed(spark: SparkSession, ident: String, p: HPath,
      schemaDdl: String, b: BucketSpec): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_sigs")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $ident ($schemaDdl) USING parquet
         |CLUSTERED BY (${b.cols.mkString(", ")})
         |SORTED BY (${b.cols.mkString(", ")}) INTO ${b.n} BUCKETS
         |LOCATION '${p.toString}'""".stripMargin)
  }

  private def loadPersisted(
      spark: SparkSession, dir: String, version: String, name: String,
      buckets: Option[BucketSpec]): Option[DataFrame] = {
    if (!ArtifactStore.persistEnabled(spark)) return None
    scala.util.Try {
      val p = new HPath(new HPath(persistRoot(spark, dir), version), name)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new HPath(p, "_SUCCESS"))) None
      else buckets match {
        case None => Some(spark.read.parquet(p.toString))
        case Some(b) =>
          // schema from the files; bucket layout re-declared over them
          val schemaDdl = spark.read.parquet(p.toString).schema.toDDL
          val ident = tableIdent(dir, version, name)
          registerBucketed(spark, ident, p, schemaDdl, b)
          Some(spark.table(ident))
      }
    }.toOption.flatten
  }

  private def persist(
      spark: SparkSession, dir: String, version: String, name: String,
      df: DataFrame, buckets: Option[BucketSpec]): Option[DataFrame] = {
    if (!ArtifactStore.persistEnabled(spark)) return None
    scala.util.Try {
      val root = persistRoot(spark, dir)
      val p = new HPath(new HPath(root, version), name)
      val reread = buckets match {
        case None =>
          df.write.mode("overwrite").parquet(p.toString)
          spark.read.parquet(p.toString)
        case Some(b) =>
          val ident = tableIdent(dir, version, name)
          spark.sql("CREATE DATABASE IF NOT EXISTS graft_sigs")
          spark.sql(s"DROP TABLE IF EXISTS $ident")
          df.write.mode("overwrite")
            .option("path", p.toString)
            .bucketBy(b.n, b.cols.head, b.cols.tail: _*)
            .sortBy(b.cols.head, b.cols.tail: _*)
            .format("parquet")
            .saveAsTable(ident)
          spark.table(ident)
      }
      ArtifactStore.keepOnlyVersion(spark, root, version)
      reread
    }.toOption
  }
}
