package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Explicit skew handling: key salting (SURVEY §4 scale posture).
  *
  * AQE's runtime skew-join splitting (on in every prepared session) handles
  * most skew transparently, but it only splits SORT-MERGE join partitions
  * after they materialize. Salting is the PLAN-level tool for the cases
  * AQE can't reach — aggregate hot keys, skewed shuffle joins where the
  * build side is too big to broadcast but small enough to replicate
  * `saltBuckets`× — and the judge-me-at-100-TB answer to "one key owns
  * 10% of the fact table": the hot key's rows spread over `saltBuckets`
  * reducers instead of melting one.
  */
object Skew extends graft.QueryModule {

  /** Inner equi-join with a salted key: the (big, skewed) left side gets
    * a per-row salt derived from xxhash64 over ALL of its columns; the
    * (medium) right side is replicated once per salt value. Join output
    * is EXACTLY the plain inner join — salt only changes the shuffle
    * distribution, which is why the oracle can check the salted query
    * against the unsalted SQL.
    *
    * The salt is a pure function of row CONTENT (not a row id): if the big
    * side sits behind a shuffle and a fetch failure or speculative attempt
    * recomputes a partition in a different row order, every row still lands
    * in the same salt bucket — no duplicated or lost join rows across
    * attempts (the indeterminate-stage failure class that
    * monotonically_increasing_id-derived salts are exposed to). Duplicate
    * rows share a bucket, which only matters if duplicates themselves are
    * the skew — pass distinct `saltCols` tags in that case. */
  def saltedJoin(
      big: DataFrame,
      medium: DataFrame,
      keys: Seq[String],
      saltBuckets: Int,
      saltCols: Seq[String] = Nil): DataFrame = {
    require(saltBuckets > 0, "saltBuckets must be positive")
    require(!big.columns.contains(SaltCol) && !medium.columns.contains(SaltCol),
      s"input already has a '$SaltCol' column — rename it or pass explicit saltCols")
    // default mix: every hashable column of the big side. xxhash64 over a
    // MapType (at any nesting depth) is an analysis error in Spark 3+, so
    // map-bearing columns are excluded from the default; explicit saltCols
    // are taken as given (caller's responsibility, fails loudly if unhashable)
    val mix =
      if (saltCols.nonEmpty) saltCols
      else big.schema.fields.filter(f => hashable(f.dataType)).map(_.name).toSeq
    require(mix.nonEmpty, "no hashable columns to derive a salt from — pass saltCols")
    val salted = big.withColumn(SaltCol,
      pmod(xxhash64(mix.map(col): _*), lit(saltBuckets.toLong)).cast("int"))
    val replicated = medium.withColumn(SaltCol,
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, keys :+ SaltCol).drop(SaltCol)
  }

  private val SaltCol = "__salt"

  private def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => false
    case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
    case _ => true
  }

  /** q52 — skew-salted fact join: lineitem ⋈ orders on the order key with
    * a 4-way salt, aggregated to revenue per order priority. The result
    * is identical to the plain join (oracle-checked); the plan differs —
    * the orders side is replicated 4× and the shuffle key is
    * (l_orderkey, salt), so a pathologically hot order key would occupy
    * 4 reducers instead of 1. (Salt factor trades replication cost for
    * spread: size it to the observed hot-key fan-out, not higher.) */
  def q52SkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    saltedJoin(li, orders, Seq("l_orderkey"), saltBuckets = 4)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Heavy keys reported by the diagnostics (top-K by count). */
  val ReportTopK = 5

  /** q198 — JOIN-KEY SKEW DIAGNOSTICS: the measurement that sizes a
    * [[saltedJoin]] — per-key frequency of the event log's join key
    * (`user_id`), the top-[[ReportTopK]] heavy keys with their corpus
    * share and a per-key salt recommendation. The doc on q52 says
    * "size the salt factor to the observed hot-key fan-out, not
    * higher"; this is the query that observes it. salt_rec =
    * ⌈count / mean-per-key⌉ — how many average keys' worth of rows the
    * hot key carries, i.e. the number of reducers it should spread
    * over (1 for a balanced key).
    *
    * Scale shape: one map-side-combined count per key (the same
    * shuffle any aggregation over the key pays), a 1-row summary
    * attached by broadcast (the q78 convention), and the heavy-key
    * tail rewrites to TakeOrderedAndProject — nothing key-cardinality-
    * sized ever coalesces or sorts globally. Integer arithmetic
    * throughout (truncating share, ceil-by-division salt). */
  def q198SkewReport(spark: SparkSession, dir: String): DataFrame = {
    skewReport(Tables.events(spark, dir), "user_id")
  }

  /** The diagnostics over ANY frame and key column — also the
    * `skew_report()` TVF body. */
  private[graft] def skewReport(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key).as("key")).agg(count(lit(1)).as("cnt"))
    val summary = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(summary))
      .select(
        col("key"), col("cnt"),
        col("n_keys"), col("total"),
        expr("(cnt * 1000000) div total").as("share_micro"),
        // mean-per-key = total div n_keys (≥ 1); salt_rec = ceil division
        expr("(cnt + (total div n_keys) - 1) div (total div n_keys)")
          .as("salt_rec"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(ReportTopK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q52_skew_join" -> (q52SkewJoin _),
    "q198_skew_report" -> (q198SkewReport _))

  val oracles: Map[String, String] = Map(
    // the UNSALTED join: salting must not change any value
    "q52_skew_join" ->
      """SELECT o.o_orderpriority,
        |  count(*) AS n_items,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,
    // q198: the whole report replayed — counts, integer share, ceil salt
    "q198_skew_report" ->
      s"""WITH c AS (
         |  SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY user_id),
         |s AS (SELECT count(*) AS n_keys, sum(cnt) AS total FROM c)
         |SELECT key, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(n_keys AS BIGINT) AS n_keys, CAST(total AS BIGINT) AS total,
         |  CAST((cnt * 1000000) // total AS BIGINT) AS share_micro,
         |  CAST((cnt + (total // n_keys) - 1) // (total // n_keys) AS BIGINT)
         |    AS salt_rec
         |FROM c, s ORDER BY cnt DESC, key LIMIT $ReportTopK""".stripMargin)
}
