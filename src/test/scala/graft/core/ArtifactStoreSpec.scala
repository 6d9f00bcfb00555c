package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** Contract of the one derived-artifact store: per-key single builds with
  * no cross-key lock, nested builds, uncached failures, one live version
  * per (dir, name), and full release through `CleanupJob`. */
class ArtifactStoreSpec extends SparkSpec {

  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool)) finally pool.shutdownNow()
  }

  private def corpus(tables: String*): String = {
    val d = Files.createTempDirectory("graft_store_spec").toFile
    tables.foreach(t => Files.copy(Paths.get(sf, t), d.toPath.resolve(t)))
    d.getPath
  }

  private def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go)); f.delete(); ()
    }
    go(new java.io.File(path))
  }

  test("builds of different keys run concurrently") {
    val dir = corpus()
    val aStarted = new CountDownLatch(1)
    val bRan = new CountDownLatch(1)
    try withPool(2) { implicit ec =>
      val a = Future(ArtifactStore.value(spark, dir, Seq("t"), "a") { _ =>
        aStarted.countDown()
        bRan.await(20, TimeUnit.SECONDS)
      })
      assert(aStarted.await(20, TimeUnit.SECONDS))
      val b = Future(ArtifactStore.value(spark, dir, Seq("t"), "b") { _ =>
        bRan.countDown(); true
      })
      assert(Await.result(a, 60.seconds), "build A never saw build B run: a lock spans keys")
      assert(Await.result(b, 60.seconds))
    } finally { ArtifactStore.release(spark, dir); rm(dir) }
  }

  test("concurrent calls for one key run its build once") {
    val dir = corpus()
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    try withPool(8) { implicit ec =>
      val calls = (1 to 8).map(_ => Future {
        go.await()
        ArtifactStore.value(spark, dir, Seq("t"), "once") { _ =>
          builds.incrementAndGet(); Thread.sleep(200); new Object
        }
      })
      go.countDown()
      val got = calls.map(Await.result(_, 60.seconds))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head), "every caller gets the one built value")
    } finally { ArtifactStore.release(spark, dir); rm(dir) }
  }

  test("a build may ask the store for another key") {
    val dir = corpus()
    try {
      val outer = ArtifactStore.value(spark, dir, Seq("t"), "outer") { _ =>
        ArtifactStore.value(spark, dir, Seq("t"), "inner") { _ => 1 } + 1
      }
      assert(outer == 2)
      assert(ArtifactStore.live.filter(_._1 == dir).map(_._2).toSet == Set("outer", "inner"))
    } finally { ArtifactStore.release(spark, dir); rm(dir) }
  }

  test("a build that throws is not cached and is retried on the next call") {
    val dir = corpus()
    var builds = 0
    try {
      intercept[IllegalStateException] {
        ArtifactStore.value[Int](spark, dir, Seq("t"), "flaky") { _ =>
          builds += 1; throw new IllegalStateException("transient")
        }
      }
      assert(ArtifactStore.live.forall(_._1 != dir))
      assert(ArtifactStore.value(spark, dir, Seq("t"), "flaky") { _ => builds += 1; 42 } == 42)
      assert(builds == 2)
    } finally { ArtifactStore.release(spark, dir); rm(dir) }
  }

  test("a corpus rewrite keeps one entry per (dir, name) and releases the old one") {
    val dir = corpus("embeddings.parquet")
    val emb = new java.io.File(dir, "embeddings.parquet")
    def buildAll(): (org.apache.spark.sql.DataFrame, String) = {
      graft.operators.KMeans.trainedCentroids(spark, dir)
      graft.operators.Pq.trainedBook(spark, dir)
      graft.operators.Pca.model(spark, dir)
      val df = ArtifactStore.frame(spark, dir, Seq("embeddings.parquet"), "frame") { v =>
        val f = spark.range(3).withColumn("v", lit(v)).cache()
        f.count(); f
      }
      val tmp = ArtifactStore.tempDir(spark, dir, Seq("embeddings.parquet"), "tmpdir") { out =>
        Files.writeString(Paths.get(out, "x"), "x"); ()
      }
      (df, tmp)
    }
    try {
      val (oldDf, oldTmp) = buildAll()
      val oldVersion = TableVersion.signature(spark, dir, "embeddings.parquet")
      assert(emb.setLastModified(emb.lastModified() + 120000))
      val (newDf, newTmp) = buildAll()
      val newVersion = TableVersion.signature(spark, dir, "embeddings.parquet")
      assert(newVersion != oldVersion)
      val entries = ArtifactStore.live.filter(_._1 == dir)
      assert(entries.map(_._2).sorted ==
        Seq("frame", "kmeans_centroids", "pca_model", "pq_codebook", "tmpdir"))
      assert(entries.forall(_._3 == newVersion), s"stale entries kept: $entries")
      assert(oldDf.storageLevel == StorageLevel.NONE, "the replaced frame is unpersisted")
      assert(newDf.storageLevel != StorageLevel.NONE)
      assert(!Files.exists(Paths.get(oldTmp)), "the replaced temp dir is deleted")
      val localFs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      assert(!localFs.cancelDeleteOnExit(new org.apache.hadoop.fs.Path(oldTmp)),
        "the replaced temp dir leaves the delete-on-exit set")
      assert(Files.exists(Paths.get(newTmp)))
    } finally { ArtifactStore.release(spark, dir); rm(dir) }
  }

  test("CleanupJob empties the store and deletes the layout temp dirs") {
    val z = graft.layout.ZOrderLayout.ensure(spark, sf)
    val p = graft.layout.PartitionedEventsLayout.ensure(spark, sf)
    graft.operators.Dedup.shingleSigs(spark, sf)
    assert(Files.exists(Paths.get(z)) && Files.exists(Paths.get(p)))
    graft.exec.CleanupJob.run(spark)
    assert(ArtifactStore.live.isEmpty)
    assert(!Files.exists(Paths.get(z)) && !Files.exists(Paths.get(p)))
  }

  test("no cache map or synchronized cache outside the store in core, operators, layout") {
    val MapField = """^  (private(\[\w+\])? )?(val|var) .*(mutable\.\w*Map|ConcurrentHashMap|TrieMap)""".r
    // scans sources and streaming too: the on-disk fixtures live in the store
    val offenders = Seq("core", "operators", "layout", "sources", "streaming").flatMap { pkg =>
      Files.list(Paths.get("src/main/scala/graft", pkg)).iterator().asScala.toSeq
        .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "ArtifactStore.scala")
        .flatMap { f =>
          val name = f.getFileName.toString
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (l, i) if MapField.findFirstIn(l).nonEmpty ||
                """\bsynchronized\b""".r.findFirstIn(l).nonEmpty =>
              s"$pkg/$name:${i + 1}: ${l.trim}"
          }
        }
    }
    assert(offenders.isEmpty,
      s"derived artifacts belong in graft.core.ArtifactStore:\n${offenders.mkString("\n")}")
  }

  test("only the store spells out the durable rule") {
    val Rule = """"_SUCCESS"|keepOnlyVersion|persistRoot""".r
    val main = Paths.get("src/main/scala/graft")
    val store = main.resolve("core/ArtifactStore.scala")
    val offenders = Files.walk(main).iterator().asScala.toSeq
      .filter(f => f.toString.endsWith(".scala") && f != store)
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if !Seq("//", "*", "/*").exists(l.trim.startsWith) &&
              Rule.findFirstIn(l).nonEmpty =>
            s"${main.relativize(f)}:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty, "artifacts that outlive a session go through " +
      s"ArtifactStore.durable:\n${offenders.mkString("\n")}")
  }
}
