package graft.layout

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.Exchange

import graft.core.{ArtifactStore, Plans, Tables}

/** Physical-layout manager: bucketed tables for shuffle-free joins and
  * per-entity analytics. Bucketing `lineitem` and `orders` by the order
  * key moves the one fact-fact join's shuffle to write time, once: every
  * later join on the key plans as a zero-Exchange SortMergeJoin, and
  * bucket pruning turns key lookups into single-bucket scans. The event
  * log bucketed by `user_id` does the same for per-user windows.
  *
  * Each layout is a durable artifact under
  * `<spark.graft.bucketDir>/graft_buckets/<pair|events>` (default: the JVM
  * temp dir), registered as database `graft_b_<md5(path)>`. `buckets`
  * should target ~128-256 MB per bucket file at cluster scale; it
  * defaults small to match the fixtures.
  */
object BucketedLayout extends graft.QueryModule {

  val FactKey = "o_orderkey"

  private val Buckets = 8

  /** A bucketed table layout: clustered on `keys` into `n` buckets and
    * sorted on `sortCols` (default: `keys`). Bucket metadata lives in the
    * session catalog, not in the parquet files, so a later session
    * [[register]]s the files an earlier one wrote with pure DDL. */
  private[graft] final case class Bucketing(keys: Seq[String], n: Int,
      sortCols: Seq[String] = Nil) {
    private val sort = if (sortCols.isEmpty) keys else sortCols

    /** Write `df` as `db.table`, stored at `path`. */
    def write(df: DataFrame, db: String, table: String, path: String): Unit = {
      df.sparkSession.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      df.sparkSession.sql(s"DROP TABLE IF EXISTS $db.$table")
      df.write.mode(SaveMode.Overwrite).option("path", path)
        .bucketBy(n, keys.head, keys.tail: _*).sortBy(sort.head, sort.tail: _*)
        .format("parquet").saveAsTable(s"$db.$table")
    }

    /** `db.table` over the files at `path`, declared unless it exists. */
    def register(spark: SparkSession, db: String, table: String, path: String): DataFrame = {
      if (!spark.catalog.tableExists(db, table)) {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
        spark.sql(
          s"""CREATE TABLE $db.$table (${spark.read.parquet(path).schema.toDDL}) USING parquet
             |CLUSTERED BY (${keys.mkString(", ")}) SORTED BY (${sort.mkString(", ")})
             |INTO $n BUCKETS LOCATION '$path'""".stripMargin)
      }
      spark.table(s"$db.$table")
    }
  }

  /** The bucketed pair: table, bucket key, source. */
  private val Pair = Seq(
    ("lineitem_b", "l_orderkey", Tables.lineitem _),
    ("orders_b", "o_orderkey", Tables.orders _))

  /** Write lineitem + orders as bucketed, sorted tables `db.lineitem_b`
    * and `db.orders_b`, stored under `path`. */
  def bucketize(spark: SparkSession, sfDir: String, db: String,
      path: String, buckets: Int = Buckets): Unit =
    Pair.foreach { case (t, key, source) =>
      Bucketing(Seq(key), buckets).write(source(spark, sfDir), db, t, s"$path/$t")
    }

  /** Exchange nodes in an executed plan, INCLUDING those hidden inside
    * AQE query stages (see [[Plans.planNodes]]) — a silent false-negative
    * for any "is this shuffle-free?" assertion otherwise. A query stage
    * wrapper is not itself an exchange: only the Exchange node its
    * materialized subtree starts with counts. */
  def collectExchanges(plan: SparkPlan): Seq[String] =
    Plans.planNodes(plan).collect { case e: Exchange => e.nodeName }

  /** The co-located join: order revenue rollup over the bucketed pair.
    * With both sides bucketed+sorted on the key, Catalyst plans
    * SortMergeJoin with NO Exchange on either side — and the aggregate
    * reuses the bucket partitioning (grouping on a superset of the
    * bucket key), so the whole plan is shuffle-free. */
  def colocatedOrderRevenue(spark: SparkSession, db: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // per-order revenue in EXACT decimal, surfaced as double: with ~4-row
    // double sums, engines' summation order differs by an ulp exactly at
    // half-cent boundaries, so round(sum(double), 2) is not reproducible
    // across engines at per-order granularity (group-level rollups like
    // q12/q52 tolerate it; 15k single-order groups hit the boundary).
    // Cents-exact inputs → decimal arithmetic is exact → identical doubles.
    spark.table(s"$db.orders_b")
      .join(spark.table(s"$db.lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))), 2)
        .cast("double").as("revenue"))
  }

  /** The database holding `orders_b`/`lineitem_b` for `sfDir`, written
    * once per content version of both tables. */
  def ensure(spark: SparkSession, sfDir: String): String =
    layout(spark, sfDir, Seq("orders.parquet", "lineitem.parquet"), "pair")(
      bucketize(spark, sfDir, _, _)) { (db, path) =>
      Pair.foreach { case (t, key, _) => Bucketing(Seq(key), Buckets).register(spark, db, t, s"$path/$t") }
    }

  /** One bucketed layout of `sfDir`: a catalog entry over the durable
    * artifact of `kind`, versioned on `tables`; returns its database,
    * which is dropped when the entry is released or replaced. */
  private def layout(spark: SparkSession, sfDir: String, tables: Seq[String], kind: String)(
      write: (String, String) => Unit)(register: (String, String) => Unit): String =
    ArtifactStore.database(spark, sfDir, tables, s"bucketed_$kind") { _ =>
      val base = spark.conf.getOption("spark.graft.bucketDir")
        .getOrElse(System.getProperty("java.io.tmpdir"))
      def db(path: String) = s"graft_b_${graft.core.TableVersion.md5Hex(path)}"
      ArtifactStore.durable(spark, sfDir, tables, ArtifactStore.Under(s"$base/graft_buckets/$kind"),
        "tables")(path => write(db(path), path)) { path => register(db(path), path); db(path) }
    }

  /** q55 — the benched co-located fact join: lineitem ⋈ orders on the
    * order key over the bucketed layout, revenue per order. Identical
    * output to the flat join (the oracle IS the flat join); the plan is
    * the point — zero Exchange nodes (spec-asserted), because the
    * bucket layout moved the join shuffle to (one-time) write time.
    * That is the 100 TB answer for a fact-fact join queried repeatedly:
    * the per-query shuffle of both tables disappears. */
  def q55ColocatedJoin(spark: SparkSession, dir: String): DataFrame = {
    val db = ensure(spark, dir)
    colocatedOrderRevenue(spark, db).orderBy("o_orderkey")
  }

  /** The database holding the event log bucketed by `user_id` (sorted by
    * user, time): every per-user computation then rides the bucket
    * partitioning with no data shuffle. */
  def ensureEvents(spark: SparkSession, sfDir: String, buckets: Int = Buckets): String = {
    val b = Bucketing(Seq("user_id"), buckets, Seq("user_id", "ts"))
    layout(spark, sfDir, Seq("events.parquet"), "events")(
      (db, path) => b.write(Tables.events(spark, sfDir), db, "events_b", s"$path/events_b"))(
      (db, path) => b.register(spark, db, "events_b", s"$path/events_b"))
  }

  /** q97 — the q84 funnel over the BUCKETED event log: identical output
    * (the oracle IS q84's), but the chained conditional-min windows and
    * the user-grain reduce all ride the bucket partitioning — the only
    * Exchange left in the plan is the 1-row global roll-up. At 100 TB
    * the flat funnel's one shuffle IS the event log; the bucketed layout
    * moves it to (one-time) ingest, the q55 story applied to per-entity
    * analytics instead of a join. */
  def q97FunnelBucketed(spark: SparkSession, dir: String): DataFrame = {
    val db = ensureEvents(spark, dir)
    graft.operators.Analytics.funnelOver(spark.table(s"$db.events_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q55_colocated_join" -> (q55ColocatedJoin _),
    "q97_funnel_bucketed" -> (q97FunnelBucketed _))

  val oracles: Map[String, String] = Map(
    // the FLAT funnel (q84's oracle verbatim): bucketing must change the
    // plan, never a value
    "q97_funnel_bucketed" ->
      graft.operators.Analytics.oracles("q84_funnel"),
    // the FLAT join: bucketing must change the plan, never a value
    // (decimal arithmetic on both sides — see colocatedOrderRevenue)
    "q55_colocated_join" ->
      """SELECT o.o_orderkey, o.o_orderdate,
        |  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY o.o_orderkey""".stripMargin)
}
