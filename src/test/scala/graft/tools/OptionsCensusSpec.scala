package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Census of graft's own session options: every `"spark.graft.…"` string
  * literal in the main sources names one of [[Keys]], every one of them is
  * read, and README's options section lists exactly them. A new option
  * therefore lands with a README line, or not at all. */
class OptionsCensusSpec extends AnyFunSuite {

  private val Keys = Set(
    "spark.graft.bucketDir",
    "spark.graft.checkpointDir",
    "spark.graft.export.dir",
    "spark.graft.export.format",
    "spark.graft.signatures.dir",
    "spark.graft.signatures.persist",
    "spark.graft.streamResultsDir",
    "spark.graft.streaming.stateStoreProvider",
    "spark.graft.scanFanout")

  private val Literal = """"(spark\.graft\.[A-Za-z][A-Za-z0-9_.]*[A-Za-z0-9_])""".r

  private def withoutComments(src: String): String =
    src.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("""//[^\n]*""", "")

  private lazy val codeKeys: Map[String, Seq[String]] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { (f: Path) =>
      Literal.findAllMatchIn(withoutComments(Files.readString(f)))
        .map(m => m.group(1) -> f.toString)
    }.groupBy(_._1).map { case (k, hits) => k -> hits.map(_._2).distinct }
  }

  test("the main sources read exactly the nine graft options") {
    val unknown = codeKeys.filter { case (k, _) => !Keys(k) }
    assert(unknown.isEmpty, s"options outside the census (add them to README's options " +
      s"section and here, or remove them): $unknown")
    assert(codeKeys.keySet == Keys, s"listed but never read: ${Keys -- codeKeys.keySet}")
  }

  test("README's options section lists exactly the options the code reads") {
    val readme = Files.readString(Paths.get("README.md"))
    val start = readme.indexOf("\n## Options")
    assert(start >= 0, "README lost its '## Options' section")
    val end = readme.indexOf("\n## ", start + 1)
    val section = readme.substring(start, if (end < 0) readme.length else end)
    val listed = """`(spark\.graft\.[A-Za-z0-9_.]+)`""".r
      .findAllMatchIn(section).map(_.group(1)).toSet
    assert(listed == codeKeys.keySet,
      s"README lists ${listed -- codeKeys.keySet} the code does not read, " +
        s"and misses ${codeKeys.keySet -- listed}")
  }
}
