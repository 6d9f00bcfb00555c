package graft.functions

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  /** Run `f` on a fresh session over the JVM-wide SparkContext, built
    * with [[GraftExtensions]] or left raw.
    *
    * The spark.sql.extensions CONFIG path only applies when the
    * SparkContext itself is created with it (Spark reads it from the
    * context conf) — unreachable in a shared test JVM. withExtensions
    * drives the exact same injectFunction mechanism, so that is what
    * this spec exercises; a fresh SparkSession is still required, hence
    * the default/active clearing (never stop the shared SparkContext). */
  private def freshSession[T](extensions: Boolean)(f: SparkSession => T): T = {
    val previous = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val builder = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
      f((if (extensions) builder.withExtensions(new GraftExtensions()) else builder).getOrCreate())
    } finally {
      // restore the shared session for the other suites; never stop the
      // SparkContext here — it is JVM-wide.
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      previous.foreach(SparkSession.setDefaultSession)
    }
  }

  /** The scalar and table function names a session resolves to graft's
    * builders (graft replaces Spark's own `string_agg`, so a name diff
    * against the built-ins would miss it). */
  private def graftNames(spark: SparkSession): (Set[String], Set[String]) = {
    def ours(reg: FunctionRegistryBase[_]): Set[String] =
      reg.listFunction()
        .filter(id => reg.lookupFunction(id).exists(_.getClassName == classOf[GraftExtensions].getName))
        .map(_.funcName).toSet
    (ours(spark.sessionState.functionRegistry), ours(spark.sessionState.tableFunctionRegistry))
  }

  test("extensions install the dialect on a fresh session (withExtensions)") {
    freshSession(extensions = true) { spark =>
      val one = spark.sql("SELECT strpos('a@b', '@') AS p").head().getInt(0)
      assert(one == 2)
      val agg = spark.sql(
        "SELECT string_agg(x, '|') AS s FROM VALUES ('b'), ('a'), ('c') t(x)")
        .head().getString(0)
      assert(agg == "a|b|c") // deterministic value-ordered
      val cos = spark.sql(
        "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      val sh = spark.sql(
        "SELECT simhash_agg(xxhash64(x)) AS s FROM VALUES ('b'), ('a') t(x)")
        .head().getLong(0)
      assert(sh != 0L)
      // row-local forms agree with their composable/grouped siblings
      val sh64 = spark.sql(
        "SELECT simhash64(array(xxhash64('a'), xxhash64('b'))) AS s").head().getLong(0)
      assert(sh64 == sh) // same token set -> same signature
      val mins = spark.sql(
        "SELECT minhash_sigs(array(xxhash64('a'), xxhash64('b')), 4) AS m")
        .head().getSeq[Long](0)
      assert(mins.length == 4 && mins.distinct.length > 1)
    }
  }

  test("extensions and Sessions.prepare install the same function names") {
    val prepared = freshSession(extensions = false)(s => graftNames(graft.core.Sessions.prepare(s)))
    val injected = freshSession(extensions = true)(graftNames)
    assert(injected == prepared)
    assert(freshSession(extensions = false)(graftNames) == ((Set.empty, Set.empty)),
      "a raw session carries no graft function")
    assert(injected._1 == Dialect.functions.map(_.name).toSet)
    assert(injected._2 == TableFunctions.builders.map(_.name).toSet)
    assert(injected._1.size == Dialect.functions.size &&
      injected._2.size == TableFunctions.builders.size, "a name is declared twice")
  }

  test("date_parse, a TVF and wrong-arity errors through the extension path") {
    freshSession(extensions = true) { spark =>
      val t = spark.sql(
        "SELECT date_parse('2024-03-05 07:08:09', '%Y-%m-%d %H:%i:%s') AS t").head().getTimestamp(0)
      assert(t == Timestamp.valueOf("2024-03-05 07:08:09.0"))

      import spark.implicits._
      Seq((1L, "web", "en", "the quick brown fox"), (2L, "web", "de", "der schnelle fuchs"),
          (3L, "code", "en", "def f(x): return x"))
        .toDF("doc_id", "source", "lang", "text")
        .createOrReplaceTempView("documents")
      val viaSql = spark.sql("SELECT * FROM token_fertility()").collect().map(_.toString).sorted
      val viaScala = graft.operators.TextOps.tokenFertility(spark.table("documents"))
        .collect().map(_.toString).sorted
      assert(viaSql.nonEmpty && viaSql.sameElements(viaScala))

      val e = intercept[IllegalArgumentException](spark.sql("SELECT strpos('a')").collect())
      assert(e.getMessage.contains("strpos expects (str, substr)"))
      val e2 = intercept[IllegalArgumentException](
        spark.sql("SELECT strpos('a', 'b', 'c')").collect())
      assert(e2.getMessage.contains("strpos expects (str, substr)"))
    }
  }
}
