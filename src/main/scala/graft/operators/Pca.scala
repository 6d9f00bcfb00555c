package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions

/** Principal-component extraction over the embedding corpus: one
  * distributed mean pass, one distributed covariance pass, then power
  * iteration on the driver over the collected dim×dim matrix — the
  * parameter-server split a 100 TB embedding table forces: the
  * corpus-sized work (two map-side-combined aggregates whose output is
  * dim- and dim²-sized respectively) is distributed; the dim×dim eigen
  * step is microseconds on any machine and gains nothing from a
  * cluster. The dominant component is what an embedding-curation
  * pipeline extracts before whitening, anisotropy correction ("all
  * embeddings share a huge common direction" — Mu & Viswanath 2018,
  * all-but-the-top), or 1-D projection indexes.
  *
  * INTEGER-EXACT end to end (the q130 contract, half-away q88
  * quantization — never `round()`): micro-quantized vectors, pure-int64
  * floor-div means, per-row centered products fixed to micro units by
  * half-away integer division, covariance normalized by int64
  * floor-div s/n so matrix entries are n-independent-bounded (no
  * overflow at any corpus scale), and power-iteration rescaling to
  * ±1e6 by max-|component| each round via the same sign-split
  * floor(+0.5) in driver loop and oracle.
  * The oracle replays the whole pipeline — both passes and all
  * [[PowerIters]] matrix-vector rounds — in unrolled SQL from the same
  * constants, so the result hash-matches, not approximately-matches.
  */
object Pca extends graft.QueryModule {

  /** Embedding dimensionality of the corpus fixtures. */
  val Dim = 64

  /** Power-iteration rounds (unrolled in the oracle SQL). Convergence
    * is geometric in λ₂/λ₁ — the fixture spectrum is flat-ish (clustered
    * embeddings), so the count is sized for it: 24 rounds align the
    * engine component with a 200-round double-precision reference at
    * |cos| > 0.99 (spec-checked). Each round is a dim-sized
    * matrix-vector product — driver-trivial, oracle-unrollable. */
  val PowerIters = 24

  /** (micro means, dominant component) for `dir`'s embeddings, held in
    * the [[graft.core.ArtifactStore]]: the two corpus passes run once per
    * corpus version and q133/q134 share the dim-bounded result. */
  private[graft] def model(spark: SparkSession, dir: String): (Array[Long], Array[Long]) =
    graft.core.ArtifactStore.value(spark, dir, Seq("embeddings.parquet"), "pca_model") { _ =>
      computeModel(spark, dir)
    }

  /** q133 — DOMINANT PRINCIPAL COMPONENT: (i, loading_micro) per
    * dimension, the unit-ish (∞-norm = 1e6) dominant eigenvector of the
    * micro-covariance matrix. */
  def q133PcaPower(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val (_, v) = model(spark, dir)
    import spark.implicits._
    v.zipWithIndex.map { case (l, i) => (i + 1, l) }.toSeq
      .toDF("i", "loading_micro").orderBy("i")
  }

  private def computeModel(spark: SparkSession, dir: String): (Array[Long], Array[Long]) = {
    val q = KMeans.quantized(spark, dir).persist()
    try {
      // pass 1: per-dim integer means — dim-sized aggregate, bounded
      // dim-row collect (the parameter-server state)
      val meanRows = q.select(posexplode(col("em")).as(Seq("i", "v")))
        .groupBy("i").agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), Math.floorDiv(r.getLong(1), r.getLong(2))))
        .sortBy(_._1)
      val mu: Array[Long] = meanRows.map(_._2)
      val muLit = array(mu.map(lit(_)): _*)
      // pass 2: upper-triangle centered second moments, micro-rounded
      // per row so the sum stays in int64 at any corpus size; the
      // explode is dim²/2 structs per row, map-side combined down to
      // dim²/2 rows per partition before the one shuffle
      // per-row product fixed to micro units by HALF-AWAY division of
      // the int64 product: (|p|+5e5) div 1e6 with the sign re-applied.
      // Implemented as floor over a double quotient of non-negative
      // int64s — EXACT here, not merely deterministic: |p| ≤ 1.6e13 is
      // well under 2^53, the quotient's distance from any integer it
      // doesn't hit exactly is ≥ 1e-6 while its ulp is ~4e-9, so
      // floor(correctly-rounded q) == the true integer division on
      // every input; the oracle computes the same value with pure
      // integer `//`.
      def halfAwayDivMicro(p: Column): Column =
        when(p >= 0, floor((p + lit(500000L)).cast("double") / 1e6))
          .otherwise(-floor((-p + lit(500000L)).cast("double") / 1e6))
          .cast("long")
      val pairs = flatten(transform(sequence(lit(1), lit(Dim)), i =>
        transform(sequence(i, lit(Dim)), j =>
          struct(i.as("i"), j.as("j"),
            halfAwayDivMicro(
              (element_at(col("em"), i) - element_at(muLit, i)) *
              (element_at(col("em"), j) - element_at(muLit, j))).as("p")))))
      val cov = q.select(explode(pairs).as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
        .groupBy("i", "j").agg(sum(col("p")).as("s"), count(lit(1)).as("n"))
        .select(col("i"), col("j"),
          expr("CASE WHEN s >= 0 THEN s div n ELSE -((-s + n - 1) div n) END")
            .cast("long").as("c"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
      // dense symmetric matrix from the triangle
      val m = Array.tabulate(Dim, Dim) { (a, b) =>
        val (i, j) = (math.min(a, b) + 1, math.max(a, b) + 1)
        cov.getOrElse((i, j), 0L)
      }
      // power iteration, arithmetic identical to the SQL replay:
      // w = M·v (exact int64); v' = halfAway(1e6 · w / max|w|) — the
      // same two correctly-rounded IEEE ops then the sign-split
      // floor(+0.5) the oracle's CASE performs (never math.round /
      // SQL round(), which disagree at negative halves / binary ties)
      def rnd(y: Double): Long =
        (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)).toLong
      var v = Array.tabulate(Dim)(i => if (i == 0) 1000000L else 0L)
      (1 to PowerIters).foreach { _ =>
        val w = Array.tabulate(Dim)(i =>
          (0 until Dim).map(j => m(i)(j) * v(j)).sum)
        val norm = w.map(math.abs).max.toDouble
        v = w.map(x => rnd(1e6 * x / norm))
      }
      (mu, v)
    } finally { q.unpersist(); () }
  }

  /** q134 — ALL-BUT-THE-TOP anisotropy correction audit (Mu &
    * Viswanath 2018: embedding spaces share one huge common direction;
    * removing the mean and the dominant component materially improves
    * cosine retrieval). Per vector: the projection coefficient onto the
    * [[q133PcaPower]] component (integer micros) and the squared norm
    * of the centered vector BEFORE and AFTER removing that projection —
    * the audit a curation pipeline publishes to decide whether its
    * embedding space needs the correction (a large norm drop = the
    * common direction dominates = cosine scores are inflated).
    *
    * INTEGER-EXACT (the q130/q133 contract): centered vectors and the
    * model are int64 micros; `dot` and `vv` are exact int64 sums; the
    * projection is ONE int64-derived double expression (1e6·dot/vv,
    * both operands < 2^53) fixed by sign-split floor(+0.5); the removed
    * component re-quantizes per dimension by pure-integer half-away
    * division, and both norms are exact int64 sums of squares. The
    * oracle replays the q133 pipeline (shared CTE text) plus this exact
    * arithmetic.
    *
    * Scale shape: the model is a dim-bounded broadcast literal; the
    * audit pass is MAP-ONLY over the corpus (no shuffle at all beyond
    * the final order) — the q132-style "model at scoring time" posture
    * applied to embedding post-processing. */
  def q134AllButTop(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val (mu, v) = model(spark, dir)
    val muLit = array(mu.map(lit(_)): _*)
    val vLit = array(v.map(lit(_)): _*)
    val vv = v.map(x => x * x).sum // ≤ 64·1e12 — exact int64, < 2^53
    // pure-integer half-away division by 1e6 (numerator |p| ≤ ~2.6e14)
    def haDivMicro(p: Column): Column =
      when(p >= 0, floor((p + lit(500000L)).cast("double") / 1e6))
        .otherwise(-floor((-p + lit(500000L)).cast("double") / 1e6))
        .cast("long")
    val centered = zip_with(col("em"), muLit, (a, b) => a - b)
    val base = KMeans.quantized(spark, dir)
      .select(col("vec_id"), centered.as("c"))
      .select(col("vec_id"), col("c"),
        aggregate(zip_with(col("c"), vLit, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("dot"),
        aggregate(transform(col("c"), x => x * x),
          lit(0L), (acc, x) => acc + x).as("norm2_before"))
      // ONE int64-derived double op pair (multiply then divide,
      // correctly-rounded IEEE, mirrored literally in the oracle),
      // then the halfAway floor
      .withColumn("proj_micro",
        KMeans.halfAway(lit(1e6) * col("dot").cast("double") / lit(vv.toDouble)))
    base
      .select(col("vec_id"), col("proj_micro"), col("norm2_before"),
        aggregate(
          transform(zip_with(col("c"), vLit,
              (c, vi) => c - haDivMicro(col("proj_micro") * vi)),
            x => x * x),
          lit(0L), (acc, x) => acc + x).as("norm2_after"))
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q133_pca_power" -> (q133PcaPower _),
    "q134_all_but_top" -> (q134AllButTop _))

  val oracles: Map[String, String] = Map(
    "q133_pca_power" -> oracleSql,
    "q134_all_but_top" -> q134OracleSql)

  /** Means, micro-covariance and all [[PowerIters]] matrix-vector
    * rounds unrolled in SQL off the same constants as the plan —
    * shared verbatim by the q133 and q134 oracles, so the two can never
    * disagree about the model. */
  private def commonCtes: String = {
    // every quantization below is the q88 half-away convention, pure
    // integer where the input is integer — `round()` never appears
    // (Spark/DuckDB round() disagree on representation ties); the one
    // double step per power round (1e6·w/mx) is the same two
    // correctly-rounded IEEE ops the driver loop performs, then the
    // sign-split floor(+0.5).
    //
    // EVERY per-round CTE is MATERIALIZED: w$n is referenced twice
    // (x$n and v$n), so with default inlining each round's subtree is
    // planned ~twice per reference — 2^24 plan blowup across the
    // unrolled rounds, and every inlined copy of `e` re-opened the
    // parquet file (the round-7 driver crash: "Too many open files").
    // Materialization makes the replay linear: each round computes once.
    def round(n: Int) =
      s"""w$n AS MATERIALIZED (
         |  SELECT m.i, CAST(sum(m.c * v.l) AS BIGINT) AS w
         |  FROM m JOIN v${n - 1} v ON m.j = v.i GROUP BY m.i),
         |x$n AS MATERIALIZED (SELECT CAST(max(abs(w)) AS BIGINT) AS mx FROM w$n),
         |v$n AS MATERIALIZED (
         |  SELECT i, CASE WHEN w >= 0
         |    THEN CAST(floor(1000000.0 * w / mx + 0.5) AS BIGINT)
         |    ELSE -CAST(floor(1000000.0 * (-w) / mx + 0.5) AS BIGINT) END AS l
         |  FROM w$n, x$n)""".stripMargin
    val prodSql = "cm[i] * cm[j]"
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> ${KMeans.halfAwaySql("CAST(x AS DOUBLE) * 1000000")}) AS em
       |  FROM embeddings),
       |u AS (
       |  SELECT i, v FROM (
       |    SELECT unnest(em) AS v, unnest(range(1, ${Dim + 1})) AS i FROM e)),
       |mus AS (
       |  SELECT i, CAST(sum(v) AS BIGINT) AS s, count(*) AS n FROM u GROUP BY i),
       |mu AS MATERIALIZED (
       |  SELECT i, CAST(CASE WHEN s >= 0 THEN s // n
       |                 ELSE -((-s + n - 1) // n) END AS BIGINT) AS mu
       |  FROM mus),
       |mul AS MATERIALIZED (SELECT list(mu ORDER BY i) AS ml FROM mu),
       |ec AS (
       |  SELECT list_transform(range(1, ${Dim + 1}), i -> em[i] - ml[i]) AS cm
       |  FROM e, mul),
       |pr AS (
       |  SELECT unnest(flatten(list_transform(range(1, ${Dim + 1}), i ->
       |    list_transform(range(i, ${Dim + 1}), j ->
       |      {'i': i, 'j': j,
       |       'p': CASE WHEN $prodSql >= 0
       |              THEN ($prodSql + 500000) // 1000000
       |              ELSE -((-($prodSql) + 500000) // 1000000) END})))) AS t
       |  FROM ec),
       |tri AS (
       |  SELECT t.i AS i, t.j AS j, CAST(sum(t.p) AS BIGINT) AS s, count(*) AS n
       |  FROM pr GROUP BY 1, 2),
       |half AS MATERIALIZED (
       |  SELECT i, j, CAST(CASE WHEN s >= 0 THEN s // n
       |                    ELSE -((-s + n - 1) // n) END AS BIGINT) AS c
       |  FROM tri),
       |m AS MATERIALIZED (
       |  SELECT i, j, c FROM half
       |  UNION ALL
       |  SELECT j, i, c FROM half WHERE i <> j),
       |v0 AS (
       |  SELECT i, CASE WHEN i = 1 THEN 1000000 ELSE 0 END AS l
       |  FROM range(1, ${Dim + 1}) t(i)),
       |${(1 to PowerIters).map(round).mkString(",\n")}""".stripMargin
  }

  private def oracleSql: String =
    s"""WITH $commonCtes
       |SELECT CAST(i AS INTEGER) AS i, l AS loading_micro
       |FROM v$PowerIters ORDER BY i""".stripMargin

  /** The q134 replay: the shared model CTEs, then the exact correction
    * arithmetic — integer dot/vv, one double expression with the plan's
    * op order for the projection, pure-integer half-away removal, int64
    * norms. */
  private def q134OracleSql: String = {
    val haProj = KMeans.halfAwaySql("1000000.0 * dot / vv")
    val rm = "proj_micro * vl[i]"
    s"""WITH $commonCtes,
       |vm AS MATERIALIZED (SELECT list(l ORDER BY i) AS vl FROM v$PowerIters),
       |vvs AS (
       |  SELECT CAST(list_sum(list_transform(vl, x -> x * x)) AS BIGINT) AS vv FROM vm),
       |cvec AS (
       |  SELECT vec_id, list_transform(range(1, ${Dim + 1}), i -> em[i] - ml[i]) AS c
       |  FROM e, mul),
       |d1 AS (
       |  SELECT vec_id, c, vl, vv,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> c[i] * vl[i]))
       |      AS BIGINT) AS dot,
       |    CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS norm2_before
       |  FROM cvec, vm, vvs),
       |d2 AS (
       |  SELECT vec_id, c, vl, norm2_before, $haProj AS proj_micro FROM d1),
       |d3 AS (
       |  SELECT vec_id, proj_micro, norm2_before,
       |    list_transform(range(1, ${Dim + 1}), i ->
       |      c[i] - CASE WHEN $rm >= 0
       |               THEN ($rm + 500000) // 1000000
       |               ELSE -((-($rm) + 500000) // 1000000) END) AS cprime
       |  FROM d2)
       |SELECT vec_id, proj_micro, norm2_before,
       |  CAST(list_sum(list_transform(cprime, x -> x * x)) AS BIGINT) AS norm2_after
       |FROM d3 ORDER BY vec_id""".stripMargin
  }
}
