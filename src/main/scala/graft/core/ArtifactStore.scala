package graft.core

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one store for artifacts derived from a corpus: signature stages,
  * trained quantizers and models, layout copies, streaming models. It is
  * the only place that knows how such an artifact is keyed, versioned,
  * built, replaced and released.
  *
  * Contract:
  *  - Key: `(applicationId, dir, tables, name)`. An entry carries the
  *    version it was built at: the `_`-joined [[TableVersion.signature]]
  *    of `tables` under `dir`. A call at another version rebuilds.
  *  - One build per key at a time. No lock shared across keys is held
  *    while a build runs: builds of different keys run concurrently, and
  *    a build may ask the store for another key. Concurrent callers of
  *    one key wait for its build. A build that throws is not cached; a
  *    waiter then builds itself, and the next call builds again.
  *  - Replacement: building version V of a key releases every entry of
  *    its `(applicationId, dir, tables)` group at another version, so a
  *    rewritten corpus keeps one live version of each artifact.
  *  - Release by kind: a [[frame]] is unpersisted, a [[tempDir]] is
  *    deleted, a [[database]] is dropped from the catalog, a [[value]]
  *    is dropped. An entry still building is released when its build
  *    finishes. [[release]] drops one corpus, [[releaseAll]] everything
  *    (`CleanupJob` calls it).
  *  - On disk: a [[durable]] artifact outlives the session. It lives at
  *    `<root>/<version>/<name>`; a completed write is marked by
  *    `<root>/<version>/_SUCCESS.<name>`, which gates reuse; writing
  *    version V deletes every other version under the root.
  */
object ArtifactStore {

  private final case class Key(app: String, dir: String, tables: Seq[String], name: String) {
    def group: (String, String, Seq[String]) = (app, dir, tables)
  }

  private final class Entry(val version: String, release: Any => Unit) {
    val result = new CompletableFuture[Any]()
    def dispose(): Unit = {
      result.thenAccept((v: Any) => scala.util.Try(release(v)))
      ()
    }
  }

  private val entries = new ConcurrentHashMap[Key, Entry]()

  /** A driver-side value (model, centroid array, catalog name): dropped
    * on release. `build` receives the version it builds. */
  def value[T](spark: SparkSession, dir: String, tables: Seq[String], name: String)(
      build: String => T): T =
    get[T](spark, dir, tables, name, _ => ())(build)

  /** A session-catalog database that `build` registers; returns its
    * name. Dropped with its tables on release: they must be external, so
    * the drop deletes no data. */
  def database(spark: SparkSession, dir: String, tables: Seq[String], name: String)(
      build: String => String): String =
    get[String](spark, dir, tables, name,
      db => { spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"); () })(build)

  /** A cached DataFrame: unpersisted on release. */
  def frame(spark: SparkSession, dir: String, tables: Seq[String], name: String)(
      build: String => DataFrame): DataFrame =
    get[DataFrame](spark, dir, tables, name, _.unpersist(blocking = true))(build)

  /** A fresh local temp directory (prefix `graft-<name>`) that `build`
    * fills; returns its path. Deleted on release, when `build` throws, and
    * at JVM exit if neither happened first. */
  def tempDir(spark: SparkSession, dir: String, tables: Seq[String], name: String)(
      build: String => Unit): String = {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // a released dir leaves the exit set too, so a long-lived JVM does
    // not keep one dead path per build
    def delete(out: String): Unit = {
      fs.cancelDeleteOnExit(new HPath(out))
      graft.exec.Retention.deleteRecursively(java.nio.file.Paths.get(out))
    }
    get[String](spark, dir, tables, name, delete) { _ =>
      val out = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
      fs.deleteOnExit(new HPath(out))
      try { build(out); out }
      catch { case t: Throwable => scala.util.Try(delete(out)); throw t }
    }
  }

  private def get[T](spark: SparkSession, dir: String, tables: Seq[String], name: String,
      release: T => Unit)(build: String => T): T = {
    val key = Key(spark.sparkContext.applicationId, dir, tables, name)
    val version = versionOf(spark, dir, tables)
    val fresh = new Entry(version, v => release(v.asInstanceOf[T]))
    var replaced: Option[Entry] = None
    val live = entries.compute(key, (_, prev) =>
      if (prev != null && prev.version == version) prev
      else { replaced = Option(prev); fresh })
    if (live ne fresh) {
      try live.result.join().asInstanceOf[T]
      catch { case _: CompletionException => get(spark, dir, tables, name, release)(build) }
    } else {
      replaced.foreach(_.dispose())
      evict(e => e._1.group == key.group && e._2.version != version)
      val built =
        try build(version)
        catch {
          case t: Throwable =>
            entries.remove(key, fresh)
            fresh.result.completeExceptionally(t)
            throw t
        }
      fresh.result.complete(built)
      built
    }
  }

  /** The version of `dir`'s `tables`: their joined signatures. */
  private def versionOf(spark: SparkSession, dir: String, tables: Seq[String]): String =
    tables.map(TableVersion.signature(spark, dir, _)).mkString("_")

  private def evict(p: ((Key, Entry)) => Boolean): Unit =
    entries.asScala.toSeq.filter(p).foreach { case (k, e) =>
      if (entries.remove(k, e)) e.dispose()
    }

  /** Release every artifact of `dir` in this application. */
  def release(spark: SparkSession, dir: String): Unit = {
    val app = spark.sparkContext.applicationId
    evict(e => e._1.app == app && e._1.dir == dir)
  }

  /** Release every artifact of every corpus. */
  def releaseAll(): Unit = evict(_ => true)

  /** `(dir, name, version)` of every live entry. */
  private[graft] def live: Seq[(String, String, String)] =
    entries.asScala.toSeq.map { case (k, e) => (k.dir, k.name, e.version) }

  def persistEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.signatures.persist").exists(_.trim.toBoolean)

  /** Where one kind of a corpus's durable artifacts lives. Each kind and
    * corpus owns its root, so a replacement under it never touches
    * another's files. */
  sealed trait Root
  /** Next to the corpus, `<dir>/_graft/<kind>`, or
    * `<spark.graft.signatures.dir>/corpus_<md5(dir)>/<kind>` for corpora on
    * read-only storage. */
  final case class Persisted(kind: String) extends Root
  /** A deployment path of its own: `<base>/corpus_<md5(dir)>`. */
  final case class Under(base: String) extends Root

  /** The durable artifact `name` of `dir`: `write` fills
    * `<root>/<version>/<name>` (a file or a directory) unless a completed
    * write of this version is already there; `read` then opens it. The
    * version is the joined signature of `tables`, the tables the artifact
    * reads. Writing version V deletes every other version under the root.
    * IO failures propagate; the caller chooses its posture. */
  def durable[T](spark: SparkSession, dir: String, tables: Seq[String], root: Root,
      name: String)(write: String => Unit)(read: String => T): T = {
    val base = root match {
      case Persisted(kind) => spark.conf.getOption("spark.graft.signatures.dir")
        .map(r => new HPath(r, s"corpus_${TableVersion.md5Hex(dir)}/$kind"))
        .getOrElse(new HPath(dir, s"_graft/$kind"))
      case Under(b) => new HPath(b, s"corpus_${TableVersion.md5Hex(dir)}")
    }
    val version = versionOf(spark, dir, tables)
    val path = new HPath(new HPath(base, version), name)
    val done = new HPath(new HPath(base, version), s"_SUCCESS.$name")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      write(path.toString)
      fs.create(done, true).close()
      fs.listStatus(base).filter(st => st.isDirectory && st.getPath.getName != version)
        .foreach(st => fs.delete(st.getPath, true))
    }
    read(path.toString)
  }
}
