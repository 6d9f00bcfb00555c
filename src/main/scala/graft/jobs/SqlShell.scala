package graft.jobs

import graft.core.{Sessions, Tables}

/** Ad-hoc SQL entry point: the Athena-console role (reference
  * `README.md:107-144` — "run these queries in the Athena console"),
  * pointed at the synthetic tables.
  *
  * Usage: runMain graft.jobs.SqlShell <sfDir> "<sql>" [maxRows] [--plain]
  * Registers every table in <sfDir> as a view plus the graft dialect
  * functions (strpos, string_agg, cosine_sim, simhash_agg), runs the
  * statement, prints up to maxRows (default 20).
  *
  * `--plain` builds a raw session that skips [[Sessions.prepare]] — it
  * then only has whatever `spark.sql.extensions` injected, which makes
  * this the diagnostic for the config-driven [[graft.functions.GraftExtensions]]
  * path (e.g. run with -Dspark.sql.extensions=graft.functions.GraftExtensions).
  * It also lacks graft's session settings, so a TIMESTAMP(NANOS)
  * `events.parquet` does not read there.
  */
object SqlShell {

  def main(args: Array[String]): Unit = {
    val plain = args.contains("--plain")
    val rest = args.filterNot(_ == "--plain")
    require(rest.length >= 2, "usage: SqlShell <sfDir> <sql> [maxRows] [--plain]")
    val (dir, sql) = (rest(0), rest(1))
    val maxRows = if (rest.length > 2) rest(2).toInt else 20
    val spark =
      if (plain)
        org.apache.spark.sql.SparkSession.builder()
          .master("local[8]")
          .appName("graft-sql-plain")
          .config("spark.sql.shuffle.partitions", "8")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
      else Sessions.local("graft-sql", 8)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.registerAll(spark, dir)
    try {
      spark.sql(sql).show(maxRows, truncate = false)
    } catch {
      case e: Exception =>
        System.err.println(s"[sql-error] ${e.getMessage}")
        sys.exit(1)
    }
    spark.stop()
  }
}
