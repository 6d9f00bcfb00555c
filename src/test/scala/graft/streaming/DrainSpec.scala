package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.state.StateStore

import graft.SparkSpec

/** The streaming family's one drain ([[EventStream.drainToFiles]]) owns
  * its files' lifetime and its state stores, in both output modes; a
  * source pin keeps every stream start and every source on it. */
class DrainSpec extends SparkSpec {

  private val ResultsDirConf = "spark.graft.streamResultsDir"

  /** Run `body` with drains landing under a fresh directory, handing it
    * that directory; the directory is removed afterwards. */
  private def withResultsDir[T](body: Path => T): T = {
    val dir = new Path(Files.createTempDirectory("graft-drain-spec").toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = spark.conf.getOption(ResultsDirConf)
    spark.conf.set(ResultsDirConf, dir.toString)
    try body(dir) finally {
      prev match {
        case Some(v) => spark.conf.set(ResultsDirConf, v)
        case None => spark.conf.unset(ResultsDirConf)
      }
      fs.delete(dir, true)
    }
  }

  test("append and update drains keep their data, drop their checkpoints, and are reaped at exit") {
    withResultsDir { dir =>
      val windows = EventStream.q34StreamWindows(spark, sf)
      val funnel = FunnelStream.q98StreamFunnel(spark, sf)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val roots = fs.listStatus(dir).map(s => fs.makeQualified(s.getPath)).toSeq
      assert(roots.size == 2, s"one root per drain: $roots")
      // both frames read back after their drains returned
      assert(windows.count() > 0)
      assert(funnel.head().getAs[Long]("n_users") > 0)
      roots.foreach { root =>
        assert(fs.exists(new Path(root, "data")), s"$root lost its data")
        assert(!fs.exists(new Path(root, "checkpoint")), s"$root keeps its checkpoint")
        // true only when the root was registered for deletion at exit
        assert(fs.cancelDeleteOnExit(root), s"$root is not registered for deletion at exit")
      }
    }
  }

  test("CleanupJob deletes this application's drain roots and their exit registrations") {
    withResultsDir { dir =>
      EventStream.q34StreamWindows(spark, sf)
      FunnelStream.q98StreamFunnel(spark, sf)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val roots = fs.listStatus(dir).map(s => fs.makeQualified(s.getPath)).toSeq
      assert(roots.size == 2, s"one root per drain: $roots")
      graft.exec.CleanupJob.run(spark)
      roots.foreach { root =>
        assert(!fs.exists(root), s"$root survived CleanupJob")
        // false: the root no longer waits in the delete-on-exit set
        assert(!fs.cancelDeleteOnExit(root), s"$root is still registered for deletion at exit")
      }
    }
  }

  test("update drains stop the state store's maintenance when they return") {
    withResultsDir { _ =>
      Seq[(String, () => Unit)](
        "q98_stream_funnel" -> (() => FunnelStream.q98StreamFunnel(spark, sf)),
        "UserStatsStream.run" -> (() => UserStatsStream.run(spark, sf)),
        "q166_stream_nb_train" -> (() => ClassifyStream.q166StreamNbTrain(spark, sf))
      ).foreach { case (name, drain) =>
        drain()
        assert(!StateStore.isMaintenanceRunning, s"$name left state-store maintenance running")
      }
    }
  }

  test("writeStream only in the drain, readStream only in the named sources and IngestStream") {
    val Call = """\.(readStream|writeStream)\b""".r
    val Def = """\bdef (\w+)""".r
    val sites = Files.list(Paths.get("src/main/scala/graft/streaming")).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        var enclosing = ""
        Files.readAllLines(f).asScala.flatMap { l =>
          val t = l.trim
          if (t.startsWith("*") || t.startsWith("/") || t.isEmpty) Nil
          else {
            Def.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
            Call.findAllMatchIn(l).map(m => (m.group(1), f.getFileName.toString, enclosing))
          }
        }
      }
    val Sources = Set("parquetStream", "documentsStream", "embeddingsStream", "eventsStream")
    val offenders = sites.filterNot {
      case ("writeStream", "EventStream.scala", "drainToFiles") => true
      case ("readStream", "EventStream.scala", d) => Sources(d)
      case ("readStream", "IngestStream.scala", _) => true
      case _ => false
    }
    assert(sites.count(_._1 == "writeStream") == 1, s"one stream start: $sites")
    assert(offenders.isEmpty, "streams start in EventStream.drainToFiles and read " +
      s"through its sources:\n${offenders.mkString("\n")}")
  }
}
