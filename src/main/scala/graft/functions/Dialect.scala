package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Ascending, Cast, Expression, Literal, ParseToTimestamp, SortOrder, StringInstr}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AnyValue, HyperLogLogPlusPlus, ListAgg}
import org.apache.spark.sql.types.TimestampType

/** Presto/Athena dialect shims (SURVEY §2.7 X2, §2.3 A10; extended to
  * the migration pack — `date_parse`, `from_iso8601_timestamp`,
  * `approx_distinct`, `arbitrary` — in round 15, gated by q253).
  *
  * The reference's SQL corpus uses two function names Spark SQL doesn't
  * ship under the same name:
  *
  *  - `strpos(string, substring)` (reference `sql/sample_athena_queries.sql:45,49`)
  *    — identical semantics to Spark's `instr` (1-based, 0 when absent),
  *    so the shim is a thin [[StringInstr]] registration, fully
  *    codegen'd; no UDF, no performance cliff.
  *  - `string_agg(expr, sep)` (reference `sql/sample_athena_queries.sql:194`)
  *    — Spark 4 ships the same aggregate as `listagg`. The shim registers
  *    the Presto name over the native [[ListAgg]] aggregate, with a
  *    deterministic `ORDER BY expr` (the reference query doesn't pin an
  *    order; we pin one so results are reproducible and oracle-checkable).
  *
  * [[functions]] declares each name once; [[FunctionCatalog]] installs
  * the list when the session is prepared or through [[GraftExtensions]].
  * Both shims are native Catalyst expressions — they inherit whole-stage
  * codegen and partial aggregation, which is what makes them safe in a
  * 100 TB plan (a Scala UDF here would break codegen in every projection
  * that mentions them).
  */
object Dialect {

  /** Presto's `approx_distinct` default max standard error (its
    * documented 2.3%), mapped directly onto Spark's HLL++ `rsd`. */
  val ApproxDistinctDefaultRsd = 0.023

  /** MySQL-style format (Presto `date_parse`, MySQL `STR_TO_DATE`) →
    * Java `DateTimeFormatter` pattern. Presto's format language is
    * MySQL's `%`-directives; Spark's parser speaks Java patterns — a
    * name-only shim would silently MISPARSE every format string (e.g.
    * `%m` month read as Java literal `m`), which is worse than missing.
    * Translation happens once at plan time on the literal format (the
    * universal case in real queries); an unsupported directive throws
    * instead of guessing. Alphabetic literal runs are quoted so the
    * Java pattern language cannot reinterpret them. */
  private[functions] def mysqlToJavaPattern(fmt: String): String = {
    val sb = new StringBuilder
    val plain = new StringBuilder
    def flush(): Unit = {
      val s = plain.result(); plain.clear()
      if (s.nonEmpty) {
        if (s.exists(_.isLetter)) sb.append('\'').append(s.replace("'", "''")).append('\'')
        else sb.append(s)
      }
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        flush()
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("MM")
          case 'c' => sb.append("M")
          case 'd' => sb.append("dd")
          case 'e' => sb.append("d")
          case 'H' => sb.append("HH")
          case 'k' => sb.append("H")
          case 'h' | 'I' => sb.append("hh")
          case 'l' => sb.append("h")
          case 'i' => sb.append("mm")
          case 's' | 'S' => sb.append("ss")
          case 'f' => sb.append("SSSSSS")
          case 'p' => sb.append("a")
          case 'j' => sb.append("DDD")
          case 'a' => sb.append("EEE")
          case 'W' => sb.append("EEEE")
          case 'b' => sb.append("MMM")
          case 'M' => sb.append("MMMM")
          case 'T' => sb.append("HH:mm:ss")
          case 'r' => sb.append("hh:mm:ss a")
          case '%' => plain.append('%')
          case other => throw new IllegalArgumentException(
            s"date_parse: unsupported MySQL format directive '%$other'")
        }
        i += 2
      } else { plain.append(c); i += 1 }
    }
    flush()
    sb.result()
  }

  /** graft's scalar and aggregate SQL functions, each declared once;
    * [[FunctionCatalog]] installs them on both paths. Every one is a
    * native Catalyst expression. */
  val functions: Seq[Fn[Expression]] = Seq(
    new Fn[Expression]("strpos", "str, substr",
      "1-based position of substr in str, 0 if absent (Presto dialect)")(
      a => StringInstr(a(0), a(1))),
    // deterministic value order: the reference query pins none, the
    // oracle needs one
    new Fn[Expression]("string_agg", "expr, [sep]",
      "concatenate values ordered by value (Presto dialect)")(
      a => ListAgg(a(0), if (a.size > 1) a(1) else Literal(","), Seq(SortOrder(a(0), Ascending)))),
    // —— the Presto/Athena migration pack: the names an Athena user's
    // first-week queries carry. Names Presto and Spark already share
    // (element_at, split_part, try_cast, date_trunc, bool_and) need no
    // shim and are spec-gated as-is.
    new Fn[Expression]("date_parse", "string, MySQL-format string literal",
      "parse with a MySQL-style format, translated to a Java pattern (Presto dialect)")(
      a => new ParseToTimestamp(a(0), Literal(mysqlToJavaPattern(a.string(1))))),
    // ISO 8601 parse is exactly Spark's string→timestamp cast
    new Fn[Expression]("from_iso8601_timestamp", "string",
      "parse an ISO 8601 timestamp (Presto dialect)")(a => Cast(a(0), TimestampType)),
    // Presto's default max standard error, not Spark's (0.05)
    new Fn[Expression]("approx_distinct", "col, [max_standard_error]",
      "HLL++ distinct estimate, default error 0.023 (Presto dialect)")(
      a => if (a.size == 1) new HyperLogLogPlusPlus(a(0), ApproxDistinctDefaultRsd, 0, 0)
           else new HyperLogLogPlusPlus(a(0), a(1))),
    new Fn[Expression]("arbitrary", "col", "any value of the group (Presto dialect)")(
      a => new AnyValue(a(0))),
    // —— graft-native functions
    new Fn[Expression]("cosine_sim", "a, b", "cosine similarity of two float vectors (codegen)")(
      a => CosineSimilarity(a(0), a(1))),
    new Fn[Expression]("simhash_agg", "hash", "64-bit SimHash signature over a group of hashes")(
      a => SimhashAgg(a(0))),
    new Fn[Expression]("simhash64", "hash_array", "row-local 64-bit SimHash signature (codegen)")(
      a => Simhash64(a(0))),
    new Fn[Expression]("rolling_hash", "text",
      "polynomial fingerprint of the UTF-8 bytes, (acc*31+b) mod 1e9+7 (codegen)")(
      a => RollingHash64(a(0))),
    new Fn[Expression]("deflate_ratio", "text",
      "compressed/original byte ratio over UTF-8 bytes (quality signal)")(
      a => DeflateRatio(a(0))),
    new Fn[Expression]("minhash_sigs", "array<bigint>, int literal",
      "all n MinHash permutation minima in one pass (codegen)")(
      a => MinhashSigs(a(0), a.int(1))))
}
