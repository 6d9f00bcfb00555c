package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.ArtifactStore
import graft.layout.BucketedLayout.Bucketing

/** The stage format of the dedup family's shared intermediates (the
  * tokenize → shingle → hash tables q26/q27/q28/q38 and their siblings
  * start from): a stage is `.cache()`d and materialized once, versioned on
  * `documents.parquet`. With `spark.graft.signatures.persist=true` it is
  * also a durable artifact of kind `signatures`, flat parquet or a
  * bucketed table `graft_sigs.<name>_<md5(path)>`, so a fresh session
  * reuses it. Disk failures degrade to the in-memory stage.
  */
object SignatureStage {

  /** Physical bucket layout for a persisted stage: clustered and sorted
    * on `cols`, so every later join on them, also in a fresh session
    * that only reloads the stage, plans no Exchange on the stage side. */
  private[operators] type BucketSpec = Bucketing
  private[operators] val BucketSpec = Bucketing

  /** The named stage for `dir`, built (cached + materialized) on first
    * use and reused until the corpus content changes or it is released.
    * Build functions must derive only from the corpus under `dir`. */
  private[operators] def stage(spark: SparkSession, dir: String, name: String,
      buckets: Option[BucketSpec] = None)(
      build: => DataFrame): DataFrame =
    ArtifactStore.frame(spark, dir, Seq("documents.parquet"), name) { _ =>
      lazy val built = build
      val df =
        if (!ArtifactStore.persistEnabled(spark)) built
        else scala.util.Try(ArtifactStore.durable(spark, dir, Seq("documents.parquet"),
          ArtifactStore.Persisted("signatures"), name)(path => buckets match {
            case None => built.write.mode("overwrite").parquet(path)
            case Some(b) => b.write(built, "graft_sigs", ident(name, path), path)
          })(path => buckets.fold(spark.read.parquet(path))(
            _.register(spark, "graft_sigs", ident(name, path), path)))).getOrElse(built)
      val cached = df.cache()
      cached.count() // materialize: later queries read blocks, never re-plan
      cached
    }

  private def ident(name: String, path: String): String =
    s"${name}_${graft.core.TableVersion.md5Hex(path)}"
}
