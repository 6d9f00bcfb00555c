// Drives queries through the query-execution lifecycle on the compiled
// classes, without sbt, and prints each execution's status, its pages and
// its CSV twin. About 20 s:
//
//   sbt -batch compile
//   spark-shell --driver-class-path target/scala-2.13/classes \
//     -i tools/lifecycle_probe.scala
//
// Edit `queries` below to probe other edge cases. Artifacts go to a fresh
// temp directory, which is printed.
import java.nio.file.{Files, Paths}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

import graft.exec.QueryExecutionManager

graft.core.Sessions.prepare(spark)
spark.sparkContext.setLogLevel("ERROR")

val queries = Seq(
  "SELECT TIMESTAMP'2024-01-15 10:30:00' AS ts, X'4142' AS bin",
  "SELECT id AS __graft_row, array(1, 2) AS a FROM range(2)",
  "SELECT 7 AS __GRAFT_ROW, id AS v FROM range(3)",
  "SELECT 1.50BD AS dec, 1.0E7D AS dbl, 'a,b' AS s, '' AS e, CAST(NULL AS INT) AS n")

val dir = Files.createTempDirectory("graft_probe").toString
val mgr = new QueryExecutionManager(spark, dir)
println(s"[probe] artifacts under $dir")
for (sql <- queries) {
  val id = mgr.submit(sql)
  val st = mgr.await(id)
  println(s"\n[probe] $sql\n[probe]   ${st.status.name}${st.reason.fold("")(r => s": $r")}")
  mgr.results(id).foreach { case (header, rows) =>
    println(s"[probe]   page: ${header.mkString(" | ")}")
    rows.foreach(r => println(s"[probe]   page: ${r.map(_.getOrElse("NULL")).mkString(" | ")}"))
  }
  val csv = Paths.get(dir, s"$id.csv")
  if (Files.isDirectory(csv))
    Files.list(csv).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala).foreach(l => println(s"[probe]   csv:  $l"))
  val left = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
    .filter(_.startsWith(id)).toSeq.sorted
  println(s"[probe]   artifacts: ${if (left.isEmpty) "none" else left.mkString(", ")}")
}
System.exit(0)
