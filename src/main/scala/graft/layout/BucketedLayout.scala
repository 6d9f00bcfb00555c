package graft.layout

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.Exchange

import graft.core.{Plans, Tables}

/** Physical-layout manager: bucketed fact tables for shuffle-free
  * co-located joins (the 100 TB design lever the flat parquet fixtures
  * can't express).
  *
  * Rationale: `lineitem ⋈ orders` on orderkey is the workload's one
  * fact-fact join. On flat files every such join shuffles both sides —
  * at 100 TB that is the dominant cost, repeated per query. Bucketing
  * both tables by the join key at ingest time moves that shuffle to
  * write time, once: every subsequent join on the key is planned as a
  * zero-Exchange SortMergeJoin (bucket-to-bucket, locally sorted).
  *
  * Sizing: `buckets` should target ~128-256 MB per bucket file at the
  * cluster scale (100 TB lineitem → O(500k) buckets); here it defaults
  * small to match the fixtures. Bucket pruning additionally turns
  * point-lookups on the key into single-bucket scans.
  */
object BucketedLayout extends graft.QueryModule {

  val FactKey = "o_orderkey"

  /** Re-register `db.table` over bucket files a PRIOR run already wrote
    * (pure DDL — bucket metadata lives in the session catalog, not the
    * parquet files, same trick as `SignatureStage.registerBucketed`).
    * The db name is content-addressed — md5(dir#content-version) — so
    * existing files under it are exactly the current corpus's layout;
    * returns false (caller rewrites) when the files are absent. Without
    * this, every fresh session (each bench run) paid the full layout
    * write again — the write is meant to be ONE-TIME per corpus version,
    * which is the layout's entire argument. */
  private def reRegister(spark: SparkSession, db: String, table: String,
      path: String, keyCols: Seq[String], sortCols: Seq[String], buckets: Int): Boolean =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) false
      else {
        val schemaDdl = spark.read.parquet(path).schema.toDDL
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $db.$table ($schemaDdl) USING parquet
             |CLUSTERED BY (${keyCols.mkString(", ")})
             |SORTED BY (${sortCols.mkString(", ")}) INTO $buckets BUCKETS
             |LOCATION '$path'""".stripMargin)
        true
      }
    }.getOrElse(false)

  /** Write lineitem + orders as bucketed, sorted tables into `db`,
    * stored under `path` — or, when a prior run's files are already
    * there, re-register them with pure DDL. One-time layout cost (the
    * write shuffles on the bucket key); every later key-join is
    * shuffle-free. */
  def bucketize(spark: SparkSession, sfDir: String, db: String,
      path: String, buckets: Int = 8): Unit = {
    val reused =
      reRegister(spark, db, "lineitem_b", s"$path/lineitem_b",
        Seq("l_orderkey"), Seq("l_orderkey"), buckets) &&
      reRegister(spark, db, "orders_b", s"$path/orders_b",
        Seq("o_orderkey"), Seq("o_orderkey"), buckets)
    if (reused) return
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Tables.lineitem(spark, sfDir)
      .write.mode(SaveMode.Overwrite)
      .option("path", s"$path/lineitem_b")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .format("parquet")
      .saveAsTable(s"$db.lineitem_b")
    Tables.orders(spark, sfDir)
      .write.mode(SaveMode.Overwrite)
      .option("path", s"$path/orders_b")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .format("parquet")
      .saveAsTable(s"$db.orders_b")
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

  /** Ensure the bucketed pair exists for `sfDir`; returns the database
    * holding `orders_b`/`lineitem_b`. Held in the
    * [[graft.core.ArtifactStore]] (versioned on `orders.parquet`), so
    * repeated queries pay the layout write once per content version. */
  def ensure(spark: SparkSession, sfDir: String): String =
    graft.core.ArtifactStore.value(spark, sfDir, Seq("orders.parquet"), "bucketed_pair") { version =>
      // identifier-safe, collision-free per (dir, version): full md5 digest
      val db = s"graft_b_${graft.core.TableVersion.md5Hex(sfDir + "#" + version)}"
      bucketize(spark, sfDir, db, s"${bucketBase(spark)}/graft_buckets/$db")
      db
    }

  private def bucketBase(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.bucketDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** q55 — the benched co-located fact join: lineitem ⋈ orders on the
    * order key over the bucketed layout, revenue per order. Identical
    * output to the flat join (the oracle IS the flat join); the plan is
    * the point — zero Exchange nodes (spec-asserted), because the
    * bucket layout moved the join shuffle to (one-time) write time.
    * That is the 100 TB answer for a fact-fact join queried repeatedly:
    * the per-query shuffle of both tables disappears. */
  def q55ColocatedJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Sessions.prepare(spark)
    val db = ensure(spark, dir)
    colocatedOrderRevenue(spark, db).orderBy("o_orderkey")
  }

  /** Event log bucketed by `user_id` (sorted by user, time) — the
    * per-entity layout: every per-user computation (funnels, sessions,
    * windows, stateful features) then runs with ZERO data shuffles,
    * because the bucketed scan already satisfies the window's
    * ClusteredDistribution(user_id). Its own store entry, versioned on
    * `events.parquet`. */
  def ensureEvents(spark: SparkSession, sfDir: String, buckets: Int = 8): String =
    graft.core.ArtifactStore.value(spark, sfDir, Seq("events.parquet"), "bucketed_events") { version =>
      val db = s"graft_be_${graft.core.TableVersion.md5Hex(sfDir + "#" + version)}"
      val path = s"${bucketBase(spark)}/graft_buckets/$db/events_b"
      if (!reRegister(spark, db, "events_b", path,
          Seq("user_id"), Seq("user_id", "ts"), buckets)) {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
        Tables.events(spark, sfDir)
          .write.mode(SaveMode.Overwrite)
          .option("path", path)
          .bucketBy(buckets, "user_id").sortBy("user_id", "ts")
          .format("parquet")
          .saveAsTable(s"$db.events_b")
      }
      db
    }

  /** q97 — the q84 funnel over the BUCKETED event log: identical output
    * (the oracle IS q84's), but the chained conditional-min windows and
    * the user-grain reduce all ride the bucket partitioning — the only
    * Exchange left in the plan is the 1-row global roll-up. At 100 TB
    * the flat funnel's one shuffle IS the event log; the bucketed layout
    * moves it to (one-time) ingest, the q55 story applied to per-entity
    * analytics instead of a join. */
  def q97FunnelBucketed(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Sessions.prepare(spark)
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
