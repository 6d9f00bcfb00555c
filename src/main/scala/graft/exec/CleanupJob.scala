package graft.exec

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Engine-level teardown (SURVEY §3: lifecycle tooling) — the analogue of
  * the reference's ordered cleanup (`scripts/cleanup_aws.py:360-391`:
  * stop the query workgroup, empty the buckets, destroy the stack, then
  * verify), re-expressed for the Spark engine:
  *
  *  1. cancel in-flight executions (workgroup stop),
  *  2. purge the results store (results-bucket empty; reuses
  *     [[Retention]]'s recursive delete with age 0),
  *  3. drop the registered tables and database (stack destroy of the
  *     Glue catalog),
  *  4. purge the warehouse/layout directories (data-bucket empty),
  *  5. verify: report anything that survived instead of claiming success.
  *
  * Each step is independent and failure-isolated (a failed drop must not
  * leave the results purge unattempted — same posture as the reference's
  * manual-cleanup fallback). The report is returned, not printed. */
object CleanupJob {

  final case class Report(
      cancelledExecutions: Seq[String],
      purgedResults: Seq[String],
      droppedTables: Seq[String],
      droppedDatabases: Seq[String],
      purgedDirs: Seq[String],
      leftovers: Seq[String])

  /** Tear down everything the engine created for `db`/`resultsDir`/
    * `warehouseDirs`, release every [[graft.core.ArtifactStore]] entry and
    * delete this application's drain roots — a teardown that strands
    * them leaks block-manager memory, layout temp dirs and drain output. */
  def run(
      spark: SparkSession,
      db: Option[String] = None,
      manager: Option[QueryExecutionManager] = None,
      resultsDir: Option[String] = None,
      warehouseDirs: Seq[String] = Nil): Report = {

    // 1. stop in-flight work first — a purge racing a running write
    // recreates artifacts behind the purge (the reference stops the
    // workgroup before emptying buckets for the same reason)
    val cancelled = manager.toSeq.flatMap { m =>
      m.list().filter(_.status == QueryExecutionManager.Status.Running)
        .map(_.id).filter(m.cancel)
    }

    // 2. results store: everything, regardless of age
    val purgedResults = resultsDir.toSeq.flatMap(d =>
      scala.util.Try(Retention.cleanup(d, maxAgeDays = 0)).getOrElse(Nil))

    // 3. catalog: tables then database (ordered, like the stack teardown).
    // listTables(db) also returns the SESSION's temp views — which belong
    // to whoever registered them (e.g. the SQL shell's table views), not
    // to this database; dropping them here would silently unregister
    // another component's views and report them as catalog drops.
    val droppedTables = db.toSeq.flatMap { d =>
      if (!spark.catalog.databaseExists(d)) Nil
      else spark.catalog.listTables(d).collect()
        .filter(_.tableType != "TEMPORARY").map { t =>
          scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS $d.${t.name}"))
          s"$d.${t.name}"
        }.toSeq
    }
    val droppedDbs = db.toSeq.flatMap { d =>
      if (!spark.catalog.databaseExists(d)) Nil
      else {
        scala.util.Try(spark.sql(s"DROP DATABASE IF EXISTS $d CASCADE"))
        Seq(d)
      }
    }

    // 4. data directories (warehouse/layout paths)
    val purgedDirs = warehouseDirs.flatMap { d =>
      val p = Paths.get(d)
      if (!Files.exists(p)) Nil
      else {
        scala.util.Try(Retention.deleteRecursively(p))
        Seq(d)
      }
    }

    // derived per-corpus artifacts (cached stages, models, layout copies)
    // and this application's drain results
    graft.core.ArtifactStore.releaseAll()
    scala.util.Try(graft.streaming.EventStream.releaseDrains(spark))

    // 5. verify — list survivors, never assume
    val leftovers =
      resultsDir.filter(d => nonEmptyDir(d)).map(d => s"results:$d").toSeq ++
        db.filter(spark.catalog.databaseExists).map(d => s"database:$d").toSeq ++
        warehouseDirs.filter(d => Files.exists(Paths.get(d))).map(d => s"dir:$d")

    Report(cancelled, purgedResults, droppedTables, droppedDbs, purgedDirs, leftovers)
  }

  private def nonEmptyDir(d: String): Boolean = {
    val p = Paths.get(d)
    if (!Files.isDirectory(p)) false
    else {
      val s = Files.list(p)
      try s.iterator().hasNext finally s.close()
    }
  }
}
