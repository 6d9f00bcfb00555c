package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** Generator for `OPERATORS.md` — the one-page operator catalog mapping
  * every `qNN` query to its implementing module, oracle status, covering
  * specs and plan gates.
  *
  * Generated, never hand-edited: the content derives from
  * [[SparkEntry.queries]] / [[SparkEntry.oracleSql]] plus a scan of the
  * source tree for definition and coverage sites, and
  * `OperatorCatalogSpec` regenerates it in CI and fails on any diff — so
  * the catalog cannot drift from the code the way a hand-maintained
  * README table would.
  *
  * Run with `sbt "runMain graft.tools.OperatorCatalog"` after adding or
  * changing a query.
  */
object OperatorCatalog {

  private val mainRoot = Paths.get("src/main/scala/graft")
  private val testRoot = Paths.get("src/test/scala/graft")

  private def scalaFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
    finally s.close()
  }

  /** Files (repo-relative) whose text satisfies `hit`. */
  private def filesWhere(files: Seq[(Path, String)])(hit: String => Boolean): Seq[String] =
    files.collect { case (p, text) if hit(text) =>
      Paths.get("").toAbsolutePath.relativize(p.toAbsolutePath).toString
    }

  /** Whether a text cites query prefix `q16` as a whole word:
    * `q16_distinct` and `q16(` do, `q160` and `sq16` do not. */
  private def cites(prefix: String): String => Boolean = {
    val word = ("(?<![A-Za-z0-9])" + java.util.regex.Pattern.quote(prefix) + "(?![0-9])").r
    text => word.findFirstIn(text).isDefined
  }

  def generate(): String = {
    val mains = scalaFiles(mainRoot).map(p => p -> Files.readString(p))
    val tests = scalaFiles(testRoot).map(p => p -> Files.readString(p))
    val oracles = SparkEntry.oracleSql
    val names = SparkEntry.queries.keys.toSeq.sorted
    val rows = names.map { name =>
      // the defining module: the main file that declares the map entry
      val definedIn = filesWhere(mains)(_.contains("\"" + name + "\""))
        .filterNot(_.endsWith("SparkEntry.scala"))
      val specs = filesWhere(tests)(cites(name.split("_").head))
        .map(_.replaceAll(".*/", ""))
      val planGate =
        if (filesWhere(tests)(_.contains(name)).exists(_.endsWith("PlanAuditSpec.scala")))
          " + plan gate" else ""
      val oracle =
        if (oracles.contains(name)) "DuckDB oracle"
        else "rows-only (spec-bounded)"
      s"| `$name` | ${definedIn.map(f => s"`$f`").mkString("<br>")} | $oracle | " +
        s"${specs.map(f => s"`$f`").mkString("<br>")}$planGate |"
    }
    val nOracle = names.count(oracles.contains)
    // assembled without stripMargin: the table rows' leading '|' would
    // read as margin characters
    val header = Seq(
      "<!-- GENERATED by graft.tools.OperatorCatalog — do not edit.",
      "     Regenerate: sbt \"runMain graft.tools.OperatorCatalog\"",
      "     CI check: OperatorCatalogSpec fails on any drift. -->",
      "",
      "# Operator catalog",
      "",
      s"${names.size} queries: $nOracle with a DuckDB oracle (value-hash-checked by " +
        s"the driver's per-round gate), ${names.size - nOracle} " +
        "rows-only with spec-bounded twins (approximate / engine-hash operators).",
      "Per-round RESULTS live in the driver's `CORRECTNESS_r*.json` — that",
      "artifact, not this catalog, is the record of which hashes matched.",
      "Every row is runnable as `SparkEntry.queries(\"<name>\")(spark, sfDir)`;",
      "the driver's correctness gate (`graft.Verify` + DuckDB) replays the",
      "oracle column, and `ConformanceSpec`/`graft.Verify` exercise every",
      "query generically beyond the per-module specs listed. Table-shaped",
      "LLM-pipeline operators are additionally reachable from SQL (see",
      "`graft.functions.TableFunctions`).",
      "",
      "| query | defined in | correctness gate | specs |",
      "|---|---|---|---|")
    (header ++ rows).mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    val out = Paths.get("OPERATORS.md")
    Files.writeString(out, generate())
    println(s"wrote ${out.toAbsolutePath}")
  }
}
