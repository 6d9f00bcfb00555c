package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** Distributed Lloyd k-means over the FULL embedding corpus — the scale
  * path past [[IvfIndex]]'s capped-sample training: when the sample cap
  * biases the coarse quantizer (skewed cluster mass, rare modes missing
  * from the sample), refinement must iterate over every vector, which
  * means each Lloyd round has to be a distributed aggregate, not a
  * driver loop over points.
  *
  * Everything is INTEGER-EXACT so the oracle replays the whole
  * trajectory hash-for-hash: embeddings quantize to micro units via
  * sign-split floor(|x·1e6|+0.5) — the q88 half-away contract; NOT
  * `round()`, whose half/shortest-decimal semantics differ between
  * Spark and DuckDB (the round-7 hash failure); distances are int64
  * sums of squared micro diffs (≤ 64·(2·10⁶)² ≈ 2.6e14, no overflow);
  * assignment tie-breaks to the lowest cluster id; centroid update is
  * pure-int64 floor-division s div n with explicit sign handling;
  * per-row inertia contributions are fixed to micro true-units by
  * integer (d+5e5) div 1e6 BEFORE the sum so the corpus-sized sum
  * stays in range at any scale. After entry quantization no double is
  * ever materialized — there is nothing left for the engines to
  * disagree about.
  *
  * Scale shape per round: one map-only assignment pass (centroids are a
  * k×dim broadcast literal — k and dim fixed), one (cluster, dim)-grain
  * aggregate for the update (k·dim rows shuffle, corpus-sized input
  * map-side combined), one (cluster)-grain aggregate for the report.
  * The only collects are the k×dim centroid frames between rounds —
  * bounded by construction, the exact shape a parameter server would
  * hold. The quantized input is cached once and reused by all rounds.
  *
  * Cites: Lloyd 1982 (the algorithm); the reference has no clustering
  * operator — this is part of the similarity-search scale family
  * (SURVEY §2.9) alongside [[IvfIndex]].
  */
object KMeans extends graft.QueryModule {

  /** Cluster count — [[IvfIndex]]-small so the per-round broadcast is a
    * few KB; a deployment sizes this to its quantizer. */
  val K = 8

  /** Fixed refinement rounds (each is one distributed pass; the
    * trajectory report makes convergence visible per round). */
  val Iters = 3

  /** Micro-quantized embeddings (vec_id, em: array<long>) — the
    * integer-exact entry shared with [[Pca]]. Quantization is the q88
    * HALF-AWAY form, sign-split floor(|y|+0.5): `round()` is banned
    * here because Spark HALF_UPs the shortest-decimal rendering while
    * DuckDB rounds the binary value — they disagree on representation
    * ties, which is exactly what sank this query's hash in round 7.
    * floor/abs/negate/+0.5 are all single correctly-rounded (or exact)
    * IEEE-754 ops, so both engines land on the same integer. */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(Tables.embeddings(spark, dir))

  /** The micro quantization over ANY (vec_id, embedding) frame — the
    * frame-parametric entry the TVF surface uses. Fanned out first
    * (Tables.fanout): every embedding-family pipeline starts here with
    * per-row array math (quantize, distances, PQ encode), and the
    * fixtures' one-row-group scan would otherwise run it all on one
    * core. */
  private[graft] def quantizedOf(emb: DataFrame): DataFrame =
    graft.core.Tables.fanout(emb.sparkSession, emb)
      .select(col("vec_id"), transform(col("embedding"), quantizeCol _).as("em"))

  /** Sign-split half-away-from-zero rounding of a double column to
    * long: floor(y+0.5) for y ≥ 0, -floor(-y+0.5) otherwise. The one
    * rounding convention every cross-engine quantization in this file
    * (and [[Pca]]) uses, mirrored literally in the generated oracles. */
  private[graft] def halfAway(y: Column): Column =
    when(y >= 0, floor(y + lit(0.5))).otherwise(-floor(-y + lit(0.5))).cast("long")

  /** The same convention as a SQL fragment over expression `y` (DuckDB
    * side of the generated oracles). */
  private[graft] def halfAwaySql(y: String): String =
    s"CASE WHEN ($y) >= 0 THEN CAST(floor(($y) + 0.5) AS BIGINT) " +
      s"ELSE -CAST(floor(-($y) + 0.5) AS BIGINT) END"

  /** Squared L2 distance between the quantized vector column and a
    * centroid literal — int64-exact. */
  private def dist2(em: Column, c: Array[Long]): Column =
    aggregate(
      zip_with(em, array(c.map(lit(_)): _*), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** The entry quantization as a column transform (float/double →
    * int64 micros) — shared with the STREAMING assignment path
    * ([[graft.streaming.AssignStream]]), so ingest-time and batch
    * quantization can never drift. */
  private[graft] def quantizeCol(x: Column): Column =
    halfAway(x.cast("double") * 1e6)

  /** Assignment columns: cluster = argmin distance (ties → lowest id),
    * d = the winning distance. array_min over (d, j) structs compares
    * field-by-field, which is exactly that tie-break. Row-local
    * (centroids are literals) — safe on a stream. */
  private[graft] def assigned(df: DataFrame, cents: Seq[(Int, Array[Long])]): DataFrame = {
    val pairs = cents.map { case (j, c) =>
      struct(dist2(col("em"), c).as("d"), lit(j).as("j"))
    }
    df.withColumn("m", array_min(array(pairs: _*)))
      .select(col("vec_id"), col("em"),
        col("m.j").as("cluster"), col("m.d").as("d"))
  }

  /** q130 — DISTRIBUTED K-MEANS REFINEMENT TRAJECTORY: [[Iters]] Lloyd
    * rounds over the full corpus from a deterministic seed (the [[K]]
    * lowest-vec_id vectors), reporting per (round, cluster): member
    * count and inertia (Σ micro-rounded squared distance to the
    * centroid the round assigned against). The report is what a
    * quantizer-training job publishes to decide whether the sample-
    * trained index needs full-data refinement. */
  def q130KmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    refine(quantized(spark, dir), K, Iters)
  }

  /** Seed: the k lowest vec_ids, cluster id = rank in that order — a
    * bounded k-row collect, deterministic and oracle-replayable. */
  private def seedCentroids(q: DataFrame, k: Int): Seq[(Int, Array[Long])] =
    q.orderBy("vec_id").limit(k).collect().zipWithIndex
      .map { case (r, j) => (j, r.getSeq[Long](1).toArray) }

  /** One Lloyd update: (cluster, dim)-grain sums, then int64
    * FLOOR-division s/n with explicit sign handling (s can be negative;
    * `div` truncates toward zero, so the negative branch is the
    * ceiling-of-negated identity) — pure integer, no double ever; the
    * k×dim collect between rounds is the parameter-server state. */
  private def updateCentroids(a: DataFrame): Seq[(Int, Array[Long])] = {
    val upd = a
      .select(col("cluster"), posexplode(col("em")).as(Seq("i", "v")))
      .groupBy("cluster", "i")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("cluster"), col("i"),
        expr("CASE WHEN s >= 0 THEN s div n ELSE -((-s + n - 1) div n) END")
          .cast("long").as("c"))
      .collect()
    upd.groupBy(_.getInt(0)).toSeq.map { case (j, rows) =>
      (j, rows.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1).map(_._2).toArray)
    }.sortBy(_._1)
  }

  /** The refinement over ANY (vec_id, em: array<long>) quantized frame —
    * the generic entry the spec drives with crafted blobs. */
  private[graft] def refine(input: DataFrame, k: Int, iters: Int): DataFrame = {
    val q = input.persist()
    try {
      var cents = seedCentroids(q, k)
      val reports = (1 to iters).map { it =>
        val a = assigned(q, cents)
        // inertia: HALF-AWAY integer division of the non-negative int64
        // distance — (d + 5e5) div 1e6 never touches a double, so there
        // is nothing for the engines to disagree about
        val rep = a.groupBy("cluster")
          .agg(count(lit(1)).as("n_members"),
            sum(expr("(d + 500000) div 1000000")).as("inertia_micro"))
          .select(lit(it).as("iter"), col("cluster").cast("long").as("cluster"),
            col("n_members"), col("inertia_micro"))
        cents = updateCentroids(a)
        rep
      }
      reports.reduce(_ unionAll _).orderBy("iter", "cluster")
        // materialize before unpersist: the caller gets a plain local
        // result-backed plan, not one that recomputes the freed cache
        .transform(graft.core.Materialize.once(_))
    } finally { q.unpersist(); () }
  }

  /** Final centroids after [[Iters]] Lloyd rounds over `dir`'s corpus —
    * the trained coarse quantizer the STREAMING assignment
    * ([[graft.streaming.AssignStream]], q135) broadcasts to the ingest
    * path; held in the [[graft.core.ArtifactStore]]. Identical arithmetic
    * to the q130 trajectory, so the streamed assignments are exactly
    * round [[Iters]]+1's assignment against the q130-final centroids. */
  private[graft] def trainedCentroids(spark: SparkSession, dir: String): Seq[(Int, Array[Long])] =
    graft.core.ArtifactStore.value(spark, dir, Seq("embeddings.parquet"), "kmeans_centroids") { _ =>
      trainOn(quantized(spark, dir))
    }

  /** q177 — SIMPLIFIED SILHOUETTE of the trained quantizer (the
    * centroid-distance silhouette of Hruschka et al. 2004 — the O(n·k)
    * form production uses where the classic silhouette's O(n²)
    * point-to-point means cannot run): per vector, `a` = distance to
    * its (nearest) centroid, `b` = distance to the runner-up, and
    * `s = (b − a) / b` in integer micros — 0 means the point sits on
    * the decision boundary, →1 means the cluster is well separated.
    * Reported per cluster (count, mean, min) — the table a pipeline
    * reads to decide whether the q130 model's k is adequate before
    * freezing it into the IVF index (q43/q170).
    *
    * Numeric contract: membership and both distances come from ONE
    * sorted distance array per vector (`array_sort` over (d, j)
    * structs — the [[assigned]] tie-break), all int64; `s_micro` uses
    * truncating division on non-negatives (a ≤ b by construction).
    * The oracle replays the trajectory via [[commonCtes]] and ranks
    * the same (d, j) order.
    *
    * Scale shape: the k-sized centroid model rides into the scan as
    * LITERALS (map-only scoring — the q135 posture); the only shuffle
    * is the k-row final aggregate. O(n·k·dim) work, no pairs. */
  def q177Silhouette(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val cents = trainedCentroids(spark, dir)
    val pairs = cents.map { case (j, c) => struct(dist2(col("em"), c).as("d"), lit(j).as("j")) }
    quantized(spark, dir)
      .withColumn("ds", array_sort(array(pairs: _*)))
      .select(
        col("vec_id"),
        col("ds").getItem(0).getField("j").cast("long").as("cluster"),
        col("ds").getItem(0).getField("d").as("a"),
        col("ds").getItem(1).getField("d").as("b"))
      .withColumn("s_micro", expr("(b - a) * 1000000 div greatest(b, 1)"))
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("n_members"),
        expr("sum(s_micro) div count(*)").as("mean_s_micro"),
        min(col("s_micro")).as("min_s_micro"))
      .orderBy("cluster")
  }

  /** Per-cluster keep budget for [[q237ClusterPrune]] — sized so the
    * fixture's 8 clusters (~62 members each) land in both regimes
    * (every cluster prunes, none empties); a deployment sizes it to its
    * target kept fraction. */
  val PruneCap = 32L

  /** q237 — CLUSTER-CAPPED DATA PRUNING (Sorscher et al. 2022, "Beyond
    * neural scaling laws": past the power-law regime, pruning the EASY,
    * prototypical examples — the ones closest to their cluster
    * centroid — beats random downsampling): every vector is assigned to
    * the trained quantizer's cluster, ranked within its cluster by
    * difficulty (distance to centroid, DESCENDING — hardest first,
    * vec_id tie-break), and kept iff its rank fits the per-cluster
    * budget ([[PruneCap]]). Capping per CLUSTER rather than globally
    * also flattens density: a mode that dominates the corpus cannot
    * dominate the kept set (the q59 source-cap idea at embedding-space
    * grain).
    *
    * Scale shape: assignment is the q135 map-only posture (centroids
    * ride as literals). The per-cluster rank is WINDOW-FREE: with k
    * clusters a cluster-partitioned window is k giant partitions at
    * 100 TB, so the rank is ONE range-partitioned global sort over
    * (cluster, d DESC, vec_id) ([[Classify.withGlobalRank]], the q175
    * contract) and the within-cluster rank is the global rank minus the
    * cluster's start offset — a k-row aggregate broadcast back. Output
    * is per-vector (vec_id, cluster, d, prune_rank, kept). */
  def q237ClusterPrune(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    pruneOver(quantized(spark, dir), trainedCentroids(spark, dir))
  }

  /** The prune over ANY quantized (vec_id, em) frame against given
    * centroids — also the `cluster_prune()` TVF body (which trains via
    * [[trainOn]] at resolution time, the `sem_dedup` convention). */
  private[graft] def pruneOver(q: DataFrame,
      cents: Seq[(Int, Array[Long])]): DataFrame = {
    val a = assigned(q, cents)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"), col("d"))
    val ranked = Classify.withGlobalRank(a,
      Seq(col("cluster"), col("d").desc, col("vec_id")), "grk")
    val offsets = ranked.groupBy("cluster").agg(min(col("grk")).as("base"))
    ranked.join(broadcast(offsets), Seq("cluster"))
      .withColumn("prune_rank", col("grk") - col("base") + 1)
      .select(col("vec_id"), col("cluster"), col("d"), col("prune_rank"),
        (col("prune_rank") <= PruneCap).as("kept"))
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_kmeans_refine" -> (q130KmeansRefine _),
    "q177_silhouette" -> (q177Silhouette _),
    "q237_cluster_prune" -> (q237ClusterPrune _))

  /** The full trajectory unrolled round-by-round in SQL — generated by
    * the same [[Iters]]/[[K]] constants the plan uses, so the two
    * engines can never disagree about hyperparameters. */
  val oracles: Map[String, String] = Map(
    "q130_kmeans_refine" -> oracleSql,
    // q177: trajectory CTEs → distances of every vector to every FINAL
    // centroid → rank 1 = membership (a), rank 2 = runner-up (b)
    "q177_silhouette" ->
      s"""WITH $commonCtes,
         |dd AS (
         |  SELECT e.vec_id, c.j,
         |    list_sum(list_transform(range(1, 65),
         |      i -> (e.em[i] - c.c[i]) * (e.em[i] - c.c[i]))) AS d
         |  FROM e, c$Iters c),
         |rk AS MATERIALIZED (
         |  SELECT vec_id, j, d,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS r
         |  FROM dd),
         |ab AS (
         |  SELECT a.vec_id, CAST(a.j AS BIGINT) AS cluster,
         |    CAST(a.d AS BIGINT) AS da, CAST(b.d AS BIGINT) AS db
         |  FROM rk a JOIN rk b ON a.vec_id = b.vec_id AND a.r = 1 AND b.r = 2)
         |SELECT cluster, count(*) AS n_members,
         |  CAST(sum((db - da) * 1000000 // greatest(db, 1)) // count(*) AS BIGINT)
         |    AS mean_s_micro,
         |  CAST(min((db - da) * 1000000 // greatest(db, 1)) AS BIGINT) AS min_s_micro
         |FROM ab GROUP BY cluster ORDER BY cluster""".stripMargin,
    // q237: the q135 assignment replay, then the within-cluster
    // difficulty rank as a window (the oracle side is allowed the
    // window the distributed path avoids) — same (d DESC, vec_id)
    // order as the engine's global sort
    "q237_cluster_prune" ->
      s"""WITH $commonCtes,
         |df AS (
         |  SELECT e.vec_id, c.j,
         |    list_sum(list_transform(range(1, 65),
         |      i -> (e.em[i] - c.c[i]) * (e.em[i] - c.c[i]))) AS d
         |  FROM e, c$Iters c),
         |asg AS (
         |  SELECT vec_id, j AS cluster, d
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rk
         |        FROM df) WHERE rk = 1),
         |pr AS (
         |  SELECT vec_id, cluster, d,
         |    row_number() OVER (PARTITION BY cluster ORDER BY d DESC, vec_id)
         |      AS prune_rank
         |  FROM asg)
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, CAST(d AS BIGINT) AS d,
         |  CAST(prune_rank AS BIGINT) AS prune_rank,
         |  prune_rank <= $PruneCap AS kept
         |FROM pr ORDER BY vec_id""".stripMargin)

  /** Entry + seed + all [[Iters]] Lloyd rounds as SQL CTE text — shared
    * verbatim by the q130 oracle and q135's
    * ([[graft.streaming.AssignStream]]), so the two oracles can never
    * disagree about the trained quantizer. */
  private[graft] def commonCtes: String = commonCtesWhere("")

  /** [[commonCtes]] with a membership rule injected into the entry CTE —
    * the q164 `nbCtesWhere` convention applied to the quantizer: q170
    * trains its FROZEN index on the v1 snapshot slice, and its oracle
    * replays the identical trajectory over the identical slice. */
  private[graft] def commonCtesWhere(where: String): String = {
    val dim = 64
    def assign(prev: String, n: Int) =
      s"""d$n AS (
         |  SELECT e.vec_id, e.em, c.j,
         |    list_sum(list_transform(range(1, ${dim + 1}),
         |      i -> (e.em[i] - c.c[i]) * (e.em[i] - c.c[i]))) AS d
         |  FROM e, $prev c),
         |a$n AS MATERIALIZED (
         |  SELECT vec_id, em, j AS cluster, d
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rk
         |        FROM d$n) WHERE rk = 1),
         |r$n AS (
         |  SELECT $n AS iter, cluster, count(*) AS n_members,
         |    CAST(sum((CAST(d AS BIGINT) + 500000) // 1000000) AS BIGINT) AS inertia_micro
         |  FROM a$n GROUP BY cluster),
         |u$n AS (
         |  SELECT cluster, i, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
         |  FROM (SELECT cluster, unnest(em) AS v,
         |          unnest(range(1, ${dim + 1})) AS i FROM a$n)
         |  GROUP BY 1, 2),
         |c$n AS MATERIALIZED (
         |  SELECT cluster AS j,
         |    list(CAST(CASE WHEN s >= 0 THEN s // n
         |              ELSE -((-s + n - 1) // n) END AS BIGINT) ORDER BY i) AS c
         |  FROM u$n GROUP BY 1)""".stripMargin
    val rounds = (1 to Iters).map(n => assign(if (n == 1) "c0" else s"c${n - 1}", n))
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> ${halfAwaySql("CAST(x AS DOUBLE) * 1000000")}) AS em
       |  FROM embeddings $where),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, em AS c
       |  FROM e ORDER BY vec_id LIMIT $K),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** The [[Iters]]-round training loop over ANY quantized (vec_id, em)
    * frame, uncached — [[trainedCentroidsOf]]'s body, also run at
    * TVF-resolution time where no corpus dir exists to key a cache. */
  private[graft] def trainOn(input: DataFrame): Seq[(Int, Array[Long])] = {
    val q = input.persist()
    try {
      var cents = seedCentroids(q, K)
      (1 to Iters).foreach { _ => cents = updateCentroids(assigned(q, cents)) }
      cents
    } finally { q.unpersist(); () }
  }

  /** Final centroids of the [[Iters]]-round trajectory over a slice of
    * `dir`'s quantized corpus — the frozen-index entry q170's incremental
    * maintenance reuses; stored under the caller's `tag`. */
  private[graft] def trainedCentroidsOf(
      spark: SparkSession, dir: String, tag: String,
      input: => DataFrame): Seq[(Int, Array[Long])] =
    graft.core.ArtifactStore.value(spark, dir, Seq("embeddings.parquet"),
      s"kmeans_centroids_$tag") { _ => trainOn(input) }

  private def oracleSql: String = {
    val unions = (1 to Iters).map(n => s"SELECT * FROM r$n").mkString(" UNION ALL ")
    s"""WITH $commonCtes
       |SELECT CAST(iter AS INTEGER) AS iter, CAST(cluster AS BIGINT) AS cluster,
       |  n_members, inertia_micro
       |FROM ($unions) ORDER BY iter, cluster""".stripMargin
  }

  /** The q135 replay ([[graft.streaming.AssignStream]]): the shared
    * trajectory CTEs, then one more assignment pass against the final
    * centroids — exactly what the stream computes per arriving vector. */
  private[graft] def assignOracleSql: String = {
    val dim = 64
    s"""WITH $commonCtes,
       |df AS (
       |  SELECT e.vec_id, c.j,
       |    list_sum(list_transform(range(1, ${dim + 1}),
       |      i -> (e.em[i] - c.c[i]) * (e.em[i] - c.c[i]))) AS d
       |  FROM e, c$Iters c)
       |SELECT vec_id, CAST(j AS BIGINT) AS cluster, CAST(d AS BIGINT) AS d
       |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rk
       |      FROM df) WHERE rk = 1
       |ORDER BY vec_id""".stripMargin
  }
}
