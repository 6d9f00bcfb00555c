package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of one or more queries —
  * the ".explain and iterate" loop as a runnable main.
  *
  *   sbt "runMain graft.tools.PlanAudit <sfDir> [queryName ...]"
  *
  * With no names, audits every query. Output is the formatted plan plus
  * a one-line summary of the scale-relevant facts: exchange count,
  * whole-stage-codegen span count, and whether any scan reads all
  * columns (a pruning miss). */
object PlanAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSeq
    val spark = graft.core.Sessions.prepare(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    selected.foreach { case (name, fn) =>
      println(s"\n=== $name ===")
      try {
        val df = fn(spark, sfDir)
        df.collect() // finalize AQE so the audited plan is the executed one
        val plan = df.queryExecution.executedPlan
        val exchanges = graft.layout.BucketedLayout.collectExchanges(plan)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // formatted mode annotates codegen membership as "[codegen id : N]"
        val codegenSpans = "codegen id : (\\d+)".r
          .findAllMatchIn(formatted).map(_.group(1)).toSet.size
        println(formatted)
        println(s"--- $name: exchanges=${exchanges.size} " +
          s"[${exchanges.mkString(", ")}] codegenSpans=$codegenSpans")
      } catch {
        case e: Throwable => println(s"--- $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
