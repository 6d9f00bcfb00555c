package graft.operators

import java.nio.file.Files

import graft.SparkSpec

class IvfIndexSpec extends SparkSpec {

  test("IVF quantizer persists next to the corpus and later sessions load it") {
    val tmp = Files.createTempDirectory("graft_ivf").toFile
    Files.copy(
      new java.io.File(sf, "embeddings.parquet").toPath,
      new java.io.File(tmp, "embeddings.parquet").toPath)
    spark.conf.set("spark.graft.signatures.persist", "true")
    try {
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      val built = IvfIndex.centroids(spark, tmp.getPath, 8)
      val files = new java.io.File(tmp, "_graft/ivf").listFiles()
        .flatMap(_.listFiles()).filter(_.getName == "centroids_8.txt")
      assert(files.length == 1, "quantizer file written under the version dir")

      // prove the LOAD path is real: tamper the persisted file, drop the
      // JVM cache — the next call must return the tampered centroids,
      // not a silent refit
      val tampered = built.map(_.map(_ + 1.0))
      Files.write(files.head.toPath,
        tampered.map(_.mkString(",")).mkString("\n").getBytes("UTF-8"))
      // the raw write bypasses Hadoop's checksum sidecar; drop it so the
      // read sees the tampered bytes instead of (correctly) rejecting them
      new java.io.File(files.head.getParentFile, s".${files.head.getName}.crc").delete()
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      val loaded = IvfIndex.centroids(spark, tmp.getPath, 8)
      assert(loaded.head.head == built.head.head + 1.0,
        "fresh session must load the persisted quantizer")

      // corpus rewrite ⇒ new version signature ⇒ refit (tampering gone)
      Thread.sleep(1100) // mtime granularity
      Files.copy(
        new java.io.File(sf, "embeddings.parquet").toPath,
        new java.io.File(tmp, "embeddings.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(tmp, "embeddings.parquet")
        .setLastModified(System.currentTimeMillis())
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      val refit = IvfIndex.centroids(spark, tmp.getPath, 8)
      assert(refit.head.head == built.head.head,
        "rewritten corpus must refit, not load the stale index")
    } finally {
      spark.conf.unset("spark.graft.signatures.persist")
      graft.core.ArtifactStore.release(spark, tmp.getPath)
    }
  }

  test("under a shared signatures.dir root, persisting a stage keeps the IVF quantizer") {
    val tmp = Files.createTempDirectory("graft_ivf_shared").toFile
    Seq("embeddings.parquet", "documents.parquet").foreach(t =>
      Files.copy(new java.io.File(sf, t).toPath, new java.io.File(tmp, t).toPath))
    val root = Files.createTempDirectory("graft_ivf_sigroot").toFile
    spark.conf.set("spark.graft.signatures.persist", "true")
    spark.conf.set("spark.graft.signatures.dir", root.getPath)
    def quantizerFiles: Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten.flatMap(c => c +: walk(c))
      walk(root).filter(_.getName == "centroids_8.txt")
    }
    try {
      IvfIndex.centroids(spark, tmp.getPath, 8)
      assert(quantizerFiles.size == 1, "quantizer persisted under the override root")
      Dedup.shingleSigs(spark, tmp.getPath).count() // persists a stage, evicting stale versions
      assert(quantizerFiles.size == 1,
        "persisting a signature stage must not delete the corpus's persisted quantizer")
    } finally {
      spark.conf.unset("spark.graft.signatures.persist")
      spark.conf.unset("spark.graft.signatures.dir")
      graft.core.ArtifactStore.release(spark, tmp.getPath)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp); rm(root)
    }
  }
}
