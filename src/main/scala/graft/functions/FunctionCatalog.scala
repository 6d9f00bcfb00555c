package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.Decimal

/** One graft SQL function, declared once: its name, its argument
  * signature, a one-line description and a builder over the checked
  * arguments.
  *
  * The signature is both the documentation and the arity: parameters are
  * comma-separated, a `[bracketed]` one is optional, and a trailing `...`
  * admits any number more — `"query, k"` takes two, `"[rounds]"` zero or
  * one, `"ngram, ..."` one or more. A call with any other count throws
  * `IllegalArgumentException("<name> expects (<sig>)")` before the
  * builder runs, on either install path. */
final class Fn[T](val name: String, val sig: String, doc: String)(build: Args => T)
    extends (Seq[Expression] => T) {

  private val (minArgs, maxArgs) = {
    val ps = sig.split(",").map(_.trim).filter(_.nonEmpty)
    (ps.count(p => !p.startsWith("[") && p != "..."),
      if (ps.contains("...")) Int.MaxValue else ps.length)
  }

  def apply(exprs: Seq[Expression]): T = {
    val args = new Args(name, sig, exprs)
    if (exprs.size < minArgs || exprs.size > maxArgs) args.fail(s"called with ${exprs.size}")
    build(args)
  }

  private[functions] def info: ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, s"$name($sig) - $doc", "")
}

/** The argument reader every [[Fn]] builder gets: positional access plus
  * the literal readers. A literal argument must be foldable and non-NULL;
  * an integer one must be integral-valued within range. Every failure is
  * `IllegalArgumentException("<name> expects (<sig>): <why>")`. */
final class Args private[functions] (name: String, sig: String, exprs: Seq[Expression]) {

  def size: Int = exprs.size
  def apply(i: Int): Expression = exprs(i)

  private[functions] def fail(why: String): Nothing =
    throw new IllegalArgumentException(s"$name expects ($sig): $why")

  private def value(i: Int): Any = {
    if (!exprs(i).foldable) fail(s"argument ${i + 1} must be a literal")
    val v = exprs(i).eval()
    if (v == null) fail(s"argument ${i + 1} is NULL")
    v
  }

  def string(i: Int): String = value(i).toString

  def long(i: Int): Long = value(i) match {
    case n: java.lang.Number => n.longValue()
    case other => fail(s"argument ${i + 1} must be an integer, got $other")
  }

  def int(i: Int): Int = {
    val n = long(i)
    if (n != n.toInt) fail(s"argument ${i + 1} is outside the Int range, got $n")
    n.toInt
  }

  def double(i: Int): Double = value(i) match {
    case n: java.lang.Number => n.doubleValue()
    case d: Decimal => d.toDouble
    case other => fail(s"argument ${i + 1} must be a number, got $other")
  }
}

/** Installs graft's two function lists — the scalars
  * ([[Dialect.functions]]) and the table functions
  * ([[TableFunctions.builders]]) — into a session. [[install]] serves
  * [[graft.core.Sessions.prepare]], [[inject]] serves
  * `spark.sql.extensions=graft.functions.GraftExtensions`; both read the
  * same lists, so the two paths carry the same names and builders.
  * Installing again skips every entry the session already holds. */
object FunctionCatalog {

  def install(spark: SparkSession): Unit = {
    def put[T](reg: FunctionRegistryBase[T], fns: Seq[Fn[T]]): Unit = fns.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.lookupFunctionBuilder(id).contains(f)) reg.registerFunction(id, f.info, f)
    }
    put(spark.sessionState.functionRegistry, Dialect.functions)
    put(spark.sessionState.tableFunctionRegistry, TableFunctions.builders)
  }

  def inject(ext: SparkSessionExtensions): Unit = {
    Dialect.functions.foreach(f => ext.injectFunction((FunctionIdentifier(f.name), f.info, f)))
    TableFunctions.builders.foreach(f => ext.injectTableFunction((FunctionIdentifier(f.name), f.info, f)))
  }
}
