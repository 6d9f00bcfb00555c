package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Sessions, Tables}

/** The relational operator inventory of SURVEY §2 (projection / filter /
  * aggregation / sort / set ops / joins / window / scalar functions),
  * re-expressed as idiomatic Spark DataFrame plans over the driver's
  * synthetic tables.
  *
  * Every query here is declarative — Catalyst gets full freedom to push
  * filters into the parquet scan, prune columns, pick broadcast vs
  * shuffle joins, and rewrite ORDER BY+LIMIT into TakeOrderedAndProject.
  * Aggregates on doubles are rounded in BOTH the Spark plan and the
  * DuckDB oracle so accumulation-order ulp noise can't fail the
  * hash-compare.
  *
  * Naming contract: every computed column is aliased identically here and
  * in [[oracles]] (the driver sorts columns by name before hashing).
  * Every query ends in a fully-deterministic ORDER BY (all ties broken).
  */
object Relational extends graft.QueryModule {

  /** q01 — ungrouped COUNT(*) (SURVEY A1; reference
    * `sql/sample_athena_queries.sql:6-7`, `test_pipeline.py:117`). */
  def q01Count(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.lineitem(spark, dir).agg(count(lit(1)).as("record_count"))
  }

  /** q02 — projection + conjunctive filter + ORDER BY + LIMIT
    * (SURVEY P1/F4/O2/O3; reference `sql:10-12`, `sql:53-60`). */
  def q02ProjFilterLimit(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_orderkey"))
      .limit(10)
  }

  /** q03 — group-count + ORDER BY agg DESC + LIMIT k: the reference's
    * canonical "top cities" query shape (SURVEY A2/O1/O4; reference
    * `test_pipeline.py:129`, `README.md:137`). Catalyst rewrites this to
    * TakeOrderedAndProject — no global sort materialization. */
  def q03GroupTopK(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("user_count"))
      .orderBy(col("user_count").desc, col("c_mktsegment"))
      .limit(3)
  }

  /** q04 — multi-aggregate pricing summary (TPC-H Q1 shape): multi-column
    * GROUP BY, SUM/AVG over arithmetic expressions, ROUND (SURVEY
    * A3/A5-A8, X5/X7; reference completeness-metric arithmetic at
    * `sql:122-163`). Partial aggregation (map-side combine) is free via
    * HashAggregateExec — at 100 TB this is the canonical
    * shuffle-light aggregate. */
  def q04PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(disc), 2).as("sum_disc_price"),
        round(sum(disc * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q05 — GROUP BY on a computed expression, via the `strpos` dialect
    * shim (SURVEY A4/X1/X2; reference domain-extraction
    * `sql:44-50`: `SUBSTR(email, STRPOS(email, '@') + 1)`). */
  def q05ExprGroup(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.part(spark, dir)
      .groupBy(expr("substr(p_name, strpos(p_name, ' ') + 1)").as("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")
  }

  /** q06 — LIKE prefix + regexp filter + disjunction (SURVEY F3-F6;
    * reference phone-format analysis `sql:62-80`). Both predicates are
    * codegen'd; the parquet scan sees the pushed-down conjuncts. */
  def q06FilterLike(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.part(spark, dir)
      .filter(col("p_name").like("small%") || col("p_brand").rlike("^Brand#1[0-9]$"))
      .select("p_partkey", "p_name", "p_brand")
      .orderBy("p_partkey")
  }

  /** q07 — multi-branch CASE classification + conditional aggregation
    * (SURVEY X4/A7; reference `sql:63-80` phone-format buckets and
    * `sql:122-127` missing-field counts). */
  def q07CaseAgg(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val bucket = when(col("o_totalprice") < 50000.0, "small")
      .when(col("o_totalprice") < 150000.0, "medium")
      .otherwise("large")
    Tables.orders(spark, dir)
      .groupBy(bucket.as("price_bucket"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"))
      .orderBy("price_bucket")
  }

  /** q08 — ungrouped MIN/MAX over timestamps: the reference's
    * data-freshness probe (SURVEY A5; reference `sql:14-19`). */
  def q08MinMax(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.orders(spark, dir)
      .agg(
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"))
  }

  /** q09 — duplicate detection via GROUP BY + HAVING (SURVEY A9/A11;
    * reference duplicate-email check `sql:113-119`). */
  def q09HavingDup(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("line_count"))
      .filter(col("line_count") > 4)
      .orderBy(col("line_count").desc, col("l_orderkey"))
  }

  /** q10 — per-field completeness report: N uniform aggregate branches
    * UNION ALL'd, built by folding over the field list instead of
    * copy-pasting SQL (SURVEY U1/A6-A8; reference `sql:131-163`). */
  def q10Completeness(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val cust = Tables.customer(spark, dir)
    def branch(field: String): DataFrame =
      cust.agg(
        count(lit(1)).as("total"),
        sum(when(col(field).isNull, 1L).otherwise(0L)).as("missing"),
        round(lit(100.0) * sum(when(col(field).isNotNull, 1L).otherwise(0L)) / count(lit(1)), 2)
          .as("pct_complete"))
        .select(lit(field).as("field"), col("total"), col("missing"), col("pct_complete"))
    Seq("c_name", "c_mktsegment", "c_acctbal").map(branch).reduce(_ unionAll _)
      .orderBy("field")
  }

  /** q11 — star join through two broadcast dimensions: customer ⋈ nation
    * ⋈ region (SURVEY §2.6). nation (25 rows) and region (5 rows) are
    * broadcast — no shuffle of the fact side at any scale; the explicit
    * `broadcast()` hints pin the strategy the optimizer would pick from
    * statistics anyway. */
  def q11JoinRegion(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("customers"),
        round(sum(col("c_acctbal")), 2).as("total_acctbal"))
      .orderBy("r_name")
  }

  /** q12 — multi-way fact join with date-range filter: revenue per nation
    * (TPC-H Q5 shape). lineitem ⋈ orders shuffles on orderkey (both
    * fact-sized — unavoidable, and the key is uniform so no skew);
    * customer joins on custkey; nation broadcasts. Filters sit below the
    * joins so Catalyst pushes them into the scans. */
  def q12RevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    Tables.customer(spark, dir)
      .join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q13 — left-semi join (EXISTS): customers that have orders. Semi join
    * never materializes the right side's columns — at scale this is the
    * correct EXISTS plan, not a join+distinct. */
  def q13SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** q14 — left-anti join (NOT EXISTS): customers with no orders. */
  def q14AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** q15 — window function: top-1 order per customer by totalprice
    * (row_number over a partitioned window; SURVEY §2.3 note — windows
    * are the idiomatic Spark form of the reference's per-group-best
    * patterns). Single shuffle on the partition key. */
  def q15WindowTopPerKey(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  /** q16 — exact COUNT DISTINCT over two columns (SURVEY §2.3 note).
    * Spark plans this as expand + two-phase aggregate; at 100 TB the
    * approx_count_distinct variant (HLL) is the cheap alternative, kept
    * out of the oracle-checked surface because its result is
    * engine-specific. */
  def q16Distinct(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.lineitem(spark, dir)
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_suppliers"))
  }

  /** q17 — global top-k by value (SURVEY O4): TakeOrderedAndProject, no
    * full sort. */
  def q17TopOrders(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  /** q18 — string aggregation via the `string_agg` dialect shim over the
    * native ListAgg aggregate (SURVEY A10; reference `sql:189-199`:
    * STRING_AGG of names per group). Runs through spark.sql to prove the
    * SQL-dialect surface end-to-end. */
  def q18StringAgg(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT r_name, string_agg(n_name, ', ') AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin)
  }

  /** q19 — tumbling 10-minute window aggregation over the event log
    * (batch form; the streaming form with watermarking lives in
    * graft.streaming). `window()` buckets align to the epoch in UTC. */
  def q19EventWindows(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "10 minutes").getField("start").as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy("window_start", "event_type")
  }

  /** q20 — semi-structured extraction: pull the numeric field out of the
    * JSON `props` payload (SURVEY §2.9 text analysis is the heavyweight
    * variant; this is the scalar form the reference's Athena SQL would
    * use). regexp_extract stays inside codegen. */
  def q20JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg(regexp_extract(col("props"), "([0-9]+)", 1).cast("long")), 4).as("avg_k"))
      .orderBy("event_type")
  }

  /** q35 — computed projection: CONCAT full-address shape (SURVEY P3;
    * reference `sql:176-187`: `CONCAT(address_street, ', ', address_city)
    * AS full_address` + ORDER BY name). */
  def q35ComputedProjection(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_name"),
        concat(col("c_name"), lit(" <"), col("c_mktsegment"), lit("> "), col("n_name"))
          .as("full_label"),
        upper(col("c_mktsegment")).as("segment_uc"))
      .orderBy("c_name")
  }

  /** q36 — three-column GROUP BY: the geographic-distribution shape
    * (SURVEY A3; reference `sql:33-40` groups by lat, lng, city). */
  def q36GeoGroup(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("c_acctbal").isNotNull)
      .groupBy("r_name", "n_name", "c_mktsegment")
      .agg(
        count(lit(1)).as("n_customers"),
        // exact integer cents: `round(avg(double), 2)` ties on .xx5
        // boundaries where engines disagree on shortest-decimal vs
        // raw-binary rounding; summing 2-dp money as BIGINT cents and
        // rounding half-up with integer arithmetic is engine-portable
        sum(round(col("c_acctbal") * 100).cast("long")).as("sum_cents"))
      .filter(col("n_customers") >= 1)
      .select(
        col("r_name"), col("n_name"), col("c_mktsegment"), col("n_customers"),
        (floor((col("sum_cents") * 2 + col("n_customers")) /
          (col("n_customers") * 2)) / 100.0).as("avg_acctbal"))
      .orderBy("r_name", "n_name", "c_mktsegment")
  }

  /** q37 — DATE() time-based analysis (SURVEY X6; reference
    * `sql:166-174`: extraction counts per DATE(extraction_timestamp)).
    * Groups the order log by calendar month. */
  def q37DateBuckets(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.orders(spark, dir)
      .groupBy(
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("month_total"))
      .orderBy("order_year", "order_month")
  }

  /** q41 — exact percentiles per group (order statistics, the aggregate
    * family the reference's Athena would serve with approx_percentile;
    * exact here so the oracle can hash-match — both engines use the
    * standard (n−1)·p linear interpolation). At 100 TB the approximate
    * twin (q42 path) is the right default; exact percentile requires a
    * per-group sort. */
  def q41Percentiles(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Relative-error budget the q42 HLL estimates are gated on: Spark's
    * `approx_count_distinct` default rsd is 0.05, so 0.10 = 2σ. */
  val HllErrorBound = 0.10

  /** q42 — approximate distinct counts (HLL++): the 100 TB form of q16,
    * GATED in-plan against the exact counts. Each key emits its exact
    * distinct count plus a boolean verdict: is the HLL estimate within
    * ±2σ (rsd 0.05 × 2 = 10%) of it? The sketch itself is deterministic
    * for a given dataset (register merges are commutative maxima), so
    * the verdict row is exactly reproducible and the oracle asserts it
    * literally — a full hash-match where this query used to be a
    * rows-only check. Production callers at 100 TB run the estimate
    * alone; the exact twin here is the gate's evidence, same pattern as
    * q43. */
  def q42ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    def gated(c: String, name: String): Seq[Column] = {
      val exact = countDistinct(col(c))
      val est = approx_count_distinct(col(c))
      Seq(
        exact.as(s"n_$name"),
        (abs(est.cast("double") - exact.cast("double")) <=
          exact.cast("double") * HllErrorBound).as(s"${name}_within_2sigma"))
    }
    Tables.lineitem(spark, dir)
      .agg(
        (gated("l_partkey", "parts") ++
         gated("l_suppkey", "suppliers") ++
         gated("l_orderkey", "orders")).head,
        (gated("l_partkey", "parts") ++
         gated("l_suppkey", "suppliers") ++
         gated("l_orderkey", "orders")).tail: _*)
  }

  /** Bound the q253 `approx_distinct` verdicts are gated on: the Presto
    * shim's rsd is 0.023 (Presto's documented default max standard
    * error), so 0.046 = 2σ — the q42 convention at the migrated
    * function's own precision. */
  val PrestoHllBound = 0.046

  /** q253 — PRESTO/ATHENA DIALECT PACK (round-14 verdict item 3): an
    * Athena user's first-week rollup written in PRESTO dialect and run
    * VERBATIM through `spark.sql` under the [[graft.functions.Dialect]]
    * shims — the reference's de-facto user language is
    * `sql/sample_athena_queries.sql`, and a migration carries these
    * names long before anyone rewrites them. Exercises the shimmed
    * names (`date_parse` with a MySQL format string — translated, not
    * name-aliased; `from_iso8601_timestamp`; `approx_distinct` at
    * Presto's 0.023 default error; `arbitrary`; `strpos`) plus the
    * names the engines already share (`try_cast`, `element_at`,
    * `split_part`, `bool_and`).
    *
    * Hash-exact oracle: the approx estimate is gated in-plan against
    * the exact distinct count (±2σ verdict, the q42 pattern); the two
    * parse routes (MySQL-format and ISO 8601) are asserted equal per
    * group; `arbitrary` is taken over a functionally-dependent column
    * (single-valued per group), its one legitimately deterministic use.
    *
    * Scale shape: one scan of `events`, every scalar codegen'd
    * (ParseToTimestamp/Cast/StringInstr — no UDF), one partial-agg
    * shuffle at event_type grain. */
  def q253PrestoDialect(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.registerAll(spark, dir)
    spark.sql(
      s"""WITH parsed AS (
         |  SELECT user_id, event_type,
         |    date_parse(substr(cast(ts AS varchar(26)), 1, 19),
         |               '%Y-%m-%d %H:%i:%s') AS ts_mysql,
         |    from_iso8601_timestamp(concat(
         |      substr(cast(ts AS varchar(26)), 1, 10), 'T',
         |      substr(cast(ts AS varchar(26)), 12, 8))) AS ts_iso,
         |    try_cast(trim(replace(element_at(split(props, ':'), 2), '}', ''))
         |      AS bigint) AS k_val,
         |    replace(replace(split_part(props, ':', 1), '{', ''), '"', '')
         |      AS prop_key
         |  FROM events
         |  WHERE strpos(props, 'k') > 0)
         |SELECT event_type,
         |  count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  (abs(cast(approx_distinct(user_id) AS double) -
         |       cast(count(DISTINCT user_id) AS double))
         |    <= cast(count(DISTINCT user_id) AS double) * $PrestoHllBound)
         |    AS users_within_2sigma,
         |  bool_and(ts_mysql = ts_iso) AS parse_routes_agree,
         |  min(cast(ts_mysql AS date)) AS first_day,
         |  sum(k_val) AS sum_props_k,
         |  arbitrary(prop_key) AS prop_key
         |FROM parsed
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** The (SparkSession, sfDir) => DataFrame entries for SparkEntry.queries. */
  /** q74 — semi-structured JSON extraction (SURVEY S2's decode surface
    * applied to a COLUMN: the reference stores raw JSON strings and
    * queries them relationally; here `events.props` carries a JSON
    * payload whose field is extracted, typed, and aggregated). Spark's
    * `get_json_object` is a codegen'd scalar — the extraction rides the
    * scan, no UDF, no intermediate parse table; at 100 TB the same query
    * shape works on any sidecar-JSON column. Buckets the extracted value
    * and profiles event counts per bucket. */
  def q74JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.events(spark, dir)
      .select(
        col("event_type"),
        floor(get_json_object(col("props"), "$.k").cast("long") / lit(10.0))
          .cast("long").as("k_decile"))
      .filter(col("k_decile").isNotNull)
      .groupBy("event_type", "k_decile")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type", "k_decile")
  }

  /** q75 — ROLLUP subtotals (the GROUPING SETS family, SURVEY §2.3's
    * multi-level reporting shape): per (returnflag, linestatus) metrics
    * with per-flag subtotals and a grand total in one pass — Spark plans
    * one Expand + one aggregation, not three scans. `grouping_id`
    * disambiguates subtotal rows; explicit NULLS FIRST ordering keeps
    * both engines' output order identical. */
  def q75Rollup(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(
        col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** q81 — CUBE over (returnflag, linestatus): every grouping-set
    * combination — cell, per-flag, per-status, grand total — in ONE
    * pass (completes the grouping-sets family next to q75's ROLLUP,
    * which omits the per-status cut). Same plan shape: one Expand (4
    * replicas per row) + one partial-agged aggregation — at 100 TB the
    * Expand multiplies the MAP side only; the shuffle still carries one
    * partial row per (grouping set × cell), never the fact table.
    * `grouping_id` disambiguates; NULLS FIRST keeps engine order
    * identical. */
  def q81Cube(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(
        col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** q91 — explicit GROUPING SETS: the two one-dimension cuts plus the
    * cell grain, WITHOUT the grand total — the set list neither ROLLUP
    * (q75) nor CUBE (q81) can express, completing the grouping family.
    * Same scale shape as both: one Expand (3 replicas per row, map side
    * only) + one partial-agged aggregation; the shuffle carries one
    * partial row per (set × cell), never the fact table. */
  def q91GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")),
          Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(
        col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** q243 — the EXISTS family through Catalyst's SUBQUERY path (SURVEY
    * §2.6 note: q13/q14 build the semi/anti plans directly with the
    * Dataset API; an Athena/Presto user writes them as subqueries, and
    * this query proves the SQL surface plans them identically). Three
    * forms in one statement: `EXISTS` in WHERE (decorrelates to a left
    * SEMI join), `NOT EXISTS` in WHERE (left ANTI join), and `EXISTS`
    * in SELECT (an ExistenceJoin carrying the boolean). Scale shape:
    * `RewritePredicateSubquery` turns every arm into a hash join keyed
    * on custkey — no per-row subplan, no nested loop; the plan gate in
    * `PlanAuditSpec` asserts it stays that way. Reference behavior
    * studied: freddiemo/data-pipeline-python-aws-cdk
    * `sql/sample_athena_queries.sql:113-119` (the duplicate check an
    * Athena user would equally phrase with EXISTS). */
  def q243ExistsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT c.c_custkey, c.c_name,
        |  EXISTS (SELECT 1 FROM orders o
        |          WHERE o.o_custkey = c.c_custkey
        |            AND o.o_totalprice > 100000) AS has_big_order
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c.c_custkey""".stripMargin)
  }

  /** q244 — IN / NOT IN subqueries: membership against one subquery
    * (semi join) and NON-membership against another (Spark's NULL-AWARE
    * anti join — the plan that makes `NOT IN` correct when the subquery
    * side could carry nulls). Both decorrelate to key-hashed joins; the
    * plan gate asserts no nested loop survives. */
  def q244InSubquery(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** q245 — CORRELATED SCALAR subqueries: each customer's most expensive
    * order, with the customer's order count attached by a second scalar
    * subquery in the SELECT list. `RewriteCorrelatedScalarSubquery`
    * decorrelates both into ONE per-custkey aggregate joined back —
    * never a per-row subplan (at 100 TB a re-executed subquery per row
    * IS the difference between a join and a full second scan per row).
    * All-integer/exact comparisons (max equality, count) so the filter
    * cannot flip on float summation order across engines. */
  def q245ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
        |  (SELECT count(*) FROM orders o2
        |   WHERE o2.o_custkey = o.o_custkey) AS n_cust_orders
        |FROM orders o
        |WHERE o.o_totalprice = (SELECT max(o3.o_totalprice) FROM orders o3
        |                        WHERE o3.o_custkey = o.o_custkey)
        |ORDER BY o.o_orderkey""".stripMargin)
  }

  /** q249 — the SQL GENERATOR surface: `LATERAL VIEW explode` (Spark's
    * spelling of Presto/Athena's `CROSS JOIN UNNEST`, the construct an
    * Athena user reaches for daily — reference behavior studied:
    * freddiemo/data-pipeline-python-aws-cdk
    * `sql/sample_athena_queries.sql`'s string-splitting duplicate
    * checks, which Presto users routinely phrase over UNNEST) and
    * `UNPIVOT` (the inverse of q83's PIVOT), both through `spark.sql`
    * like q243-q245 gated the subquery family. One statement: tokenize
    * per source via a lateral generator, aggregate, then unpivot the
    * wide per-source stats to (source, metric, value) rows.
    *
    * Scale shape: the generator plans as a streamed `Generate` node
    * (per-row array fan-out inside whole-stage codegen — never a join,
    * never a CartesianProduct), and UNPIVOT plans as an `Expand` over
    * the |sources|-grain aggregate (3 replicas of a tiny frame). The
    * plan gate in `PlanAuditSpec` asserts both. All values are BIGINT
    * counts — order-free, oracle-exact. */
  def q249UnnestUnpivot(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.registerAll(spark, dir)
    spark.sql(
      """WITH tok AS (
        |  SELECT d.source, t.token
        |  FROM documents d
        |  LATERAL VIEW explode(filter(split(d.text, ' '), x -> x != '')) t AS token
        |),
        |agg AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT token) AS BIGINT) AS n_distinct_tokens,
        |    CAST(sum(length(token)) AS BIGINT) AS n_chars
        |  FROM tok GROUP BY source
        |)
        |SELECT source, metric, value
        |FROM agg UNPIVOT (value FOR metric IN (n_tokens, n_distinct_tokens, n_chars))
        |ORDER BY source, metric""".stripMargin)
  }

  /** q103 — the complete ranking-window family in one plan: row_number,
    * rank, dense_rank, ntile, percent_rank, cume_dist over the same
    * per-priority price ordering (row_number alone appears in q15; the
    * rest of the family gets its coverage here). The ordering carries a
    * unique tie-break (orderkey), so every function is deterministic;
    * percent_rank/cume_dist are single integer-derived divisions,
    * identical in both engines. One window shuffle; the top-3 filter
    * keeps the gate output group-bounded. */
  def q103WindowFamily(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("long").as("rn"), col("rnk"), col("drnk"),
        col("quartile"), col("pct_rank"), col("cume"))
      .orderBy("o_orderpriority", "rn")
  }

  /** q104 — set-operation completeness (INTERSECT / EXCEPT next to q10's
    * UNION): customers holding an URGENT order vs customers with a
    * positive balance, tagged by which side(s) they fall on. Both set
    * ops plan as aggregates/anti-joins over co-partitioned keys — no new
    * physical machinery, which is the point of expressing them
    * declaratively. */
  def q104SetOps(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey")).distinct()
    val rich = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("custkey")).distinct()
    urgent.intersect(rich).withColumn("op", lit("both"))
      .unionByName(urgent.except(rich).withColumn("op", lit("urgent_only")))
      .unionByName(rich.except(urgent).withColumn("op", lit("rich_only")))
      .select(col("op"), col("custkey"))
      .orderBy("op", "custkey")
  }

  /** q105 — the approx-percentile VERDICT GATE (the q42 HLL pattern
    * applied to quantile sketches): per group, the exact percentiles
    * plus in-plan booleans asserting `percentile_approx`'s estimates sit
    * within 1% RANK error of their targets — verified by recounting the
    * estimate's true rank INTERVAL [count(< e), count(<= e)] against the
    * group size (a value with duplicate mass at the quantile occupies
    * the whole interval; the gate passes iff the target rank falls
    * inside it ± 1%), so the sketch is judged by the guarantee it
    * actually makes (rank error ≤ n/accuracy, far inside the 1% gate). The estimates themselves stay engine-side
    * (sketch merges are partition-shaped); the oracle replays the exact
    * side and asserts the verdicts literally. Two fact scans: the
    * aggregate and the rank recount — the honest cost of auditing a
    * sketch against its own data. */
  def q105ApproxPercentileGate(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"))
    val agg = o.groupBy("o_orderpriority").agg(
      count(lit(1)).as("n_orders"),
      expr("percentile(o_totalprice, 0.5)").as("x50"),
      expr("percentile(o_totalprice, 0.9)").as("x90"),
      expr("percentile_approx(o_totalprice, 0.5, 10000)").as("e50"),
      expr("percentile_approx(o_totalprice, 0.9, 10000)").as("e90"))
    // both strict and inclusive rank counts: a returned value with
    // duplicate mass occupies the whole rank interval
    // [count(< e), count(<= e)] — judging only count(<=) would read the
    // value's MAXIMUM rank and could fail a sketch that meets its own
    // rank-error contract on a distribution with ties at the quantile
    val ranks = o
      .join(broadcast(agg.select(col("o_orderpriority"), col("e50"), col("e90"))),
        Seq("o_orderpriority"))
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_totalprice") < col("e50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("o_totalprice") <= col("e50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("o_totalprice") < col("e90"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("o_totalprice") <= col("e90"), 1L).otherwise(0L)).as("le90"))
    def withinGate(q: Double, lt: String, le: String) =
      (lit(q) >= col(lt).cast("double") / col("n_orders") - 0.01) &&
        (lit(q) <= col(le).cast("double") / col("n_orders") + 0.01)
    agg.join(ranks, Seq("o_orderpriority"))
      .select(
        col("o_orderpriority"), col("n_orders"),
        round(col("x50"), 4).as("median_price"),
        round(col("x90"), 4).as("p90_price"),
        withinGate(0.5, "lt50", "le50").as("p50_within_1pct"),
        withinGate(0.9, "lt90", "le90").as("p90_within_1pct"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q105_approx_percentile" -> (q105ApproxPercentileGate _),
    "q103_window_family"    -> (q103WindowFamily _),
    "q104_set_ops"          -> (q104SetOps _),
    "q91_grouping_sets"     -> (q91GroupingSets _),
    "q243_exists_subquery"  -> (q243ExistsSubquery _),
    "q244_in_subquery"      -> (q244InSubquery _),
    "q245_scalar_subquery"  -> (q245ScalarSubquery _),
    "q249_unnest_unpivot"   -> (q249UnnestUnpivot _),
    "q74_json_extract"      -> (q74JsonExtract _),
    "q75_rollup"            -> (q75Rollup _),
    "q81_cube"              -> (q81Cube _),
    "q01_count"             -> (q01Count _),
    "q02_proj_filter_limit" -> (q02ProjFilterLimit _),
    "q03_group_topk"        -> (q03GroupTopK _),
    "q04_pricing_summary"   -> (q04PricingSummary _),
    "q05_expr_group"        -> (q05ExprGroup _),
    "q06_filter_like"       -> (q06FilterLike _),
    "q07_case_agg"          -> (q07CaseAgg _),
    "q08_minmax"            -> (q08MinMax _),
    "q09_having_dup"        -> (q09HavingDup _),
    "q10_completeness"      -> (q10Completeness _),
    "q11_join_region"       -> (q11JoinRegion _),
    "q12_revenue_nation"    -> (q12RevenueByNation _),
    "q13_semi_join"         -> (q13SemiJoin _),
    "q14_anti_join"         -> (q14AntiJoin _),
    "q15_window_top"        -> (q15WindowTopPerKey _),
    "q16_distinct"          -> (q16Distinct _),
    "q17_top_orders"        -> (q17TopOrders _),
    "q18_string_agg"        -> (q18StringAgg _),
    "q19_event_windows"     -> (q19EventWindows _),
    "q20_json_extract"      -> (q20JsonExtract _),
    "q35_computed_proj"     -> (q35ComputedProjection _),
    "q36_geo_group"         -> (q36GeoGroup _),
    "q37_date_buckets"      -> (q37DateBuckets _),
    "q41_percentiles"       -> (q41Percentiles _),
    "q42_approx_distinct"   -> (q42ApproxDistinct _),
    "q253_presto_dialect"   -> (q253PrestoDialect _))

  /** DuckDB-runnable oracle SQL, column-name-aligned with the Spark plans. */
  val oracles: Map[String, String] = Map(
    "q74_json_extract" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10.0)
        |      AS BIGINT) AS k_decile
        |  FROM events)
        |SELECT event_type, k_decile, count(*) AS n_events
        |FROM e WHERE k_decile IS NOT NULL
        |GROUP BY event_type, k_decile
        |ORDER BY event_type, k_decile""".stripMargin,
    // q105: exact percentiles + literal-TRUE rank verdicts — the
    // estimates are engine-side; the oracle replays the exact side
    "q105_approx_percentile" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
        |  TRUE AS p50_within_1pct,
        |  TRUE AS p90_within_1pct
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q103_window_family" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(rn AS BIGINT) AS rn, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(drnk AS BIGINT) AS drnk, CAST(quartile AS BIGINT) AS quartile,
        |  pct_rank, cume
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER w AS rn,
        |    rank() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk,
        |    ntile(4) OVER w AS quartile,
        |    round(percent_rank() OVER w, 6) AS pct_rank,
        |    round(cume_dist() OVER w, 6) AS cume
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey)) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q104_set_ops" ->
      """WITH urgent AS (
        |  SELECT DISTINCT o_custkey AS custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |rich AS (
        |  SELECT DISTINCT c_custkey AS custkey FROM customer
        |  WHERE c_acctbal > 5000)
        |SELECT 'both' AS op, custkey FROM (
        |  SELECT custkey FROM urgent INTERSECT SELECT custkey FROM rich)
        |UNION ALL
        |SELECT 'urgent_only', custkey FROM (
        |  SELECT custkey FROM urgent EXCEPT SELECT custkey FROM rich)
        |UNION ALL
        |SELECT 'rich_only', custkey FROM (
        |  SELECT custkey FROM rich EXCEPT SELECT custkey FROM urgent)
        |ORDER BY op, custkey""".stripMargin,
    // q243-q245: the engine side runs the SAME statements through
    // spark.sql — the value of the gate is that Catalyst's subquery
    // rewrite (semi/anti/existence joins, scalar decorrelation) lands on
    // the answer the reference's Presto engine computes directly
    "q243_exists_subquery" ->
      """SELECT c.c_custkey, c.c_name,
        |  EXISTS (SELECT 1 FROM orders o
        |          WHERE o.o_custkey = c.c_custkey
        |            AND o.o_totalprice > 100000) AS has_big_order
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c.c_custkey""".stripMargin,
    "q244_in_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,
    "q245_scalar_subquery" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
        |  (SELECT count(*) FROM orders o2
        |   WHERE o2.o_custkey = o.o_custkey) AS n_cust_orders
        |FROM orders o
        |WHERE o.o_totalprice = (SELECT max(o3.o_totalprice) FROM orders o3
        |                        WHERE o3.o_custkey = o.o_custkey)
        |ORDER BY o.o_orderkey""".stripMargin,
    // q249: DuckDB's unnest replays the lateral generator; the UNPIVOT
    // replays as the UNION ALL it desugars to (values never null, so
    // Spark's exclude-nulls default drops nothing)
    "q249_unnest_unpivot" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |agg AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT token) AS BIGINT) AS n_distinct_tokens,
        |    CAST(sum(length(token)) AS BIGINT) AS n_chars
        |  FROM tok GROUP BY source)
        |SELECT source, metric, value FROM (
        |  SELECT source, 'n_tokens' AS metric, n_tokens AS value FROM agg
        |  UNION ALL
        |  SELECT source, 'n_distinct_tokens', n_distinct_tokens FROM agg
        |  UNION ALL
        |  SELECT source, 'n_chars', n_chars FROM agg)
        |ORDER BY source, metric""".stripMargin,
    "q91_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q75_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q81_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q01_count" ->
      "SELECT count(*) AS record_count FROM lineitem",
    "q02_proj_filter_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 100000
        |ORDER BY o_orderkey LIMIT 10""".stripMargin,
    "q03_group_topk" ->
      """SELECT c_mktsegment, count(*) AS user_count FROM customer
        |GROUP BY c_mktsegment ORDER BY user_count DESC, c_mktsegment LIMIT 3""".stripMargin,
    "q04_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q05_expr_group" ->
      """SELECT substr(p_name, strpos(p_name, ' ') + 1) AS word, count(*) AS cnt
        |FROM part GROUP BY 1 ORDER BY word""".stripMargin,
    "q06_filter_like" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_name LIKE 'small%' OR regexp_matches(p_brand, '^Brand#1[0-9]$')
        |ORDER BY p_partkey""".stripMargin,
    "q07_case_agg" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            ELSE 'large' END AS price_bucket,
        |  count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
        |FROM orders GROUP BY 1 ORDER BY price_bucket""".stripMargin,
    "q08_minmax" ->
      """SELECT min(o_orderdate) AS first_order, max(o_orderdate) AS last_order,
        |  count(*) AS n_orders FROM orders""".stripMargin,
    "q09_having_dup" ->
      """SELECT l_orderkey, count(*) AS line_count FROM lineitem
        |GROUP BY l_orderkey HAVING count(*) > 4
        |ORDER BY line_count DESC, l_orderkey""".stripMargin,
    "q10_completeness" ->
      """SELECT 'c_name' AS field, count(*) AS total,
        |  CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing,
        |  round(100.0 * sum(CASE WHEN c_name IS NOT NULL THEN 1 ELSE 0 END) / count(*), 2) AS pct_complete
        |FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment', count(*),
        |  CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  round(100.0 * sum(CASE WHEN c_mktsegment IS NOT NULL THEN 1 ELSE 0 END) / count(*), 2)
        |FROM customer
        |UNION ALL
        |SELECT 'c_acctbal', count(*),
        |  CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  round(100.0 * sum(CASE WHEN c_acctbal IS NOT NULL THEN 1 ELSE 0 END) / count(*), 2)
        |FROM customer
        |ORDER BY field""".stripMargin,
    "q11_join_region" ->
      """SELECT r_name, count(*) AS customers, round(sum(c_acctbal), 2) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q12_revenue_nation" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q13_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q14_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q15_window_top" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q16_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS distinct_parts,
        |  count(DISTINCT l_suppkey) AS distinct_suppliers FROM lineitem""".stripMargin,
    "q17_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q18_string_agg" ->
      """SELECT r_name, string_agg(n_name, ', ' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q19_event_windows" ->
      """SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000) AS window_start,
        |  event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q20_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  round(avg(CAST(regexp_extract(props, '([0-9]+)') AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q35_computed_proj" ->
      """SELECT c_name,
        |  concat(c_name, ' <', c_mktsegment, '> ', n_name) AS full_label,
        |  upper(c_mktsegment) AS segment_uc
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_name""".stripMargin,
    "q36_geo_group" ->
      """SELECT r_name, n_name, c_mktsegment, count(*) AS n_customers,
        |  floor((2 * sum(CAST(round(c_acctbal * 100) AS BIGINT)) + count(*))
        |        / (2.0 * count(*))) / 100.0 AS avg_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_acctbal IS NOT NULL
        |GROUP BY r_name, n_name, c_mktsegment
        |HAVING count(*) >= 1
        |ORDER BY r_name, n_name, c_mktsegment""".stripMargin,
    "q37_date_buckets" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS month_total
        |FROM orders GROUP BY 1, 2 ORDER BY order_year, order_month""".stripMargin,
    "q41_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q42_approx_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  TRUE AS parts_within_2sigma,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |  TRUE AS suppliers_within_2sigma,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  TRUE AS orders_within_2sigma
        |FROM lineitem""".stripMargin,
    // q42: exact counts + literal-TRUE 2σ verdicts — the estimate is
    // engine-side; the oracle replays the exact side and the verdict.
    // q253: the oracle replays the dialect query's SEMANTICS in DuckDB
    // dialect (strptime for date_parse, its own split/cast spellings);
    // the approx verdict is literal-TRUE per the q42 convention and the
    // parse-parity verdict is recomputed, not assumed.
    "q253_presto_dialect" ->
      """WITH parsed AS (
        |  SELECT user_id, event_type,
        |    strptime(substr(CAST(ts AS VARCHAR), 1, 19),
        |             '%Y-%m-%d %H:%M:%S') AS ts_mysql,
        |    CAST(concat(substr(CAST(ts AS VARCHAR), 1, 10), 'T',
        |      substr(CAST(ts AS VARCHAR), 12, 8)) AS TIMESTAMP) AS ts_iso,
        |    TRY_CAST(trim(replace(string_split(props, ':')[2], '}', ''))
        |      AS BIGINT) AS k_val,
        |    replace(replace(string_split(props, ':')[1], '{', ''), '"', '')
        |      AS prop_key
        |  FROM events
        |  WHERE strpos(props, 'k') > 0)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  TRUE AS users_within_2sigma,
        |  bool_and(ts_mysql = ts_iso) AS parse_routes_agree,
        |  min(CAST(ts_mysql AS DATE)) AS first_day,
        |  CAST(sum(k_val) AS BIGINT) AS sum_props_k,
        |  arbitrary(prop_key) AS prop_key
        |FROM parsed
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
}
