package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import VectorSearch.{NumProbes, TopK}

/** Product-quantization codebook training + distortion audit — the PQ
  * half of IVF-PQ, the storage-side ANN standard (Jégou, Douze &
  * Schmid 2011, "Product Quantization for Nearest Neighbor Search"):
  * split each vector into [[M]] subspaces, learn a tiny per-subspace
  * codebook, and store each vector as [[M]] byte-sized codes — a
  * 64-dim float32 vector compresses to 8 bytes (32×), which is what
  * makes exhaustive re-ranking over a 100 TB embedding store feasible.
  * Complements [[IvfIndex]]/[[KMeans]] (the coarse quantizer — WHICH
  * list a vector lives in) with the fine quantizer (WHAT the residual
  * looks like inside the list) and [[Quantize]]'s q88 scalar-int8 audit
  * (4×) with the vector-codebook alternative.
  *
  * Training follows the [[KMeans]] INTEGER-EXACT contract so the oracle
  * replays the whole trajectory hash-for-hash: micro-quantized input
  * (shared [[KMeans.quantized]] entry — sign-split floor(|y|+0.5), the
  * q88 half-away rule), int64 squared distances, argmin tie-broken to
  * the lowest code, pure-int64 floor-division centroid update with
  * explicit sign handling, per-row distortion fixed to micro true-units
  * by integer (d+5e5) div 1e6 BEFORE the corpus-sized sum. After entry
  * quantization no double is ever materialized.
  *
  * Scale shape: sub-vector explode is map-only ([[M]] rows per vector,
  * no shuffle); each of the three passes (seed-assign, update,
  * refined-assign) is one distributed aggregate; the codebook between
  * passes is an [[M]]×[[K]]×[[Dsub]] collect — 1024 longs, the
  * parameter-server shape, independent of corpus size. Encoding
  * (vector → [[M]] codes) is a broadcast-literal argmin — the same
  * map-only posture as [[KMeans.assigned]], streaming-safe.
  */
object Pq extends graft.QueryModule {

  /** Subspaces (64-dim fixture vectors → 8 dims per subspace). */
  val M = 8

  /** Dims per subspace. */
  val Dsub = 8

  /** Codes per subspace codebook (a real deployment uses 256 = one
    * byte; 16 keeps the fixture clusters non-degenerate at sf0.001). */
  val K = 16

  /** Sub-vector frame: (vec_id, sub, sv: array<long> of [[Dsub]]) —
    * map-only explode of the micro-quantized corpus. */
  private def subVectors(spark: SparkSession, dir: String): DataFrame =
    KMeans.quantized(spark, dir)
      .select(col("vec_id"), explode(sequence(lit(0), lit(M - 1))).as("sub"), col("em"))
      .select(col("vec_id"), col("sub"),
        slice(col("em"), col("sub") * Dsub + 1, lit(Dsub)).as("sv"))

  /** Int64 squared L2 distance between the sub-vector column and a
    * centroid literal. */
  private def dist2(sv: Column, c: Array[Long]): Column =
    aggregate(
      zip_with(sv, array(c.map(lit(_)): _*), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** Assignment columns (code = argmin distance, ties → lowest code;
    * d = winning distance) for an exploded sub-vector frame, against a
    * per-subspace codebook literal: a when-chain on `sub` selects the
    * subspace's argmin struct — row-local, broadcast-literal, the
    * [[KMeans.assigned]] posture. */
  private def assigned(df: DataFrame, book: Seq[(Int, Seq[(Int, Array[Long])])]): DataFrame = {
    val bySub = book.map { case (s, cs) =>
      val pairs = cs.map { case (j, c) =>
        struct(dist2(col("sv"), c).as("d"), lit(j).as("j"))
      }
      (s, array_min(array(pairs: _*)))
    }
    val m = bySub.tail.foldLeft(when(col("sub") === bySub.head._1, bySub.head._2)) {
      case (acc, (s, e)) => acc.when(col("sub") === s, e)
    }
    df.withColumn("m", m)
      .select(col("vec_id"), col("sub"), col("sv"),
        col("m.j").as("code"), col("m.d").as("d"))
  }

  /** Seed codebook: the [[K]] lowest vec_ids' sub-vectors, code = rank
    * in that order — one bounded K-row collect, sliced per subspace
    * driver-side (K×[[M]]×[[Dsub]] longs). */
  private def seedBook(q: DataFrame): Seq[(Int, Seq[(Int, Array[Long])])] = {
    val rows = q.orderBy("vec_id").limit(K).collect()
    (0 until M).map { s =>
      (s, rows.toSeq.zipWithIndex.map { case (r, j) =>
        (j, r.getSeq[Long](1).slice(s * Dsub, (s + 1) * Dsub).toArray)
      })
    }
  }

  /** One Lloyd update over an assigned sub-vector frame: (sub, code,
    * dim)-grain integer sums (corpus-sized input map-side combined into
    * ≤ [[M]]·[[K]]·[[Dsub]] cells), int64 floor-division with explicit
    * sign handling — the [[KMeans.updateCentroids]] arithmetic. Empty
    * codes disappear (their codebook row is never re-created), exactly
    * as k-means drops empty clusters. */
  private def updateBook(a: DataFrame): Seq[(Int, Seq[(Int, Array[Long])])] = {
    val upd = a
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("i", "v")))
      .groupBy("sub", "code", "i")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("sub"), col("code"), col("i"),
        expr("CASE WHEN s >= 0 THEN s div n ELSE -((-s + n - 1) div n) END")
          .cast("long").as("c"))
      .collect()
    upd.groupBy(_.getInt(0)).toSeq.map { case (s, rows) =>
      (s, rows.groupBy(_.getInt(1)).toSeq.map { case (j, cells) =>
        (j, cells.map(r => (r.getInt(2), r.getLong(3))).sortBy(_._1).map(_._2).toArray)
      }.sortBy(_._1))
    }.sortBy(_._1)
  }

  /** q136 — PQ CODEBOOK TRAINING + DISTORTION REPORT: seed from the
    * [[K]] lowest vec_ids, one full-corpus Lloyd refinement per
    * subspace, then the refined encoding's per-(subspace, code) cell
    * report: member count + total quantization distortion in micro
    * true-units. The table a pipeline publishes to decide whether the
    * codebook is balanced (no dead codes, no mega-cells) before
    * flipping the vector store to PQ codes. */
  def q136PqCodebook(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val q = subVectors(spark, dir).persist()
    try {
      val refined = updateBook(assigned(q, seedBook(KMeans.quantized(spark, dir))))
      assigned(q, refined)
        .groupBy("sub", "code")
        .agg(count(lit(1)).as("n_vecs"),
          sum(expr("(d + 500000) div 1000000")).as("distortion_micro"))
        .select(col("sub"), col("code").cast("long").as("code"),
          col("n_vecs"), col("distortion_micro"))
        .orderBy("sub", "code")
        .transform(graft.core.Materialize.once(_))
    } finally { q.unpersist(); () }
  }

  /** The trained (seed + one Lloyd round) codebook, held in the
    * [[graft.core.ArtifactStore]] and shared by the q140 ADC search, so
    * training happens once per corpus version however many searches run. */
  private[graft] def trainedBook(spark: SparkSession, dir: String): Seq[(Int, Seq[(Int, Array[Long])])] =
    graft.core.ArtifactStore.value(spark, dir, Seq("embeddings.parquet"), "pq_codebook") { _ =>
      val q = subVectors(spark, dir).persist()
      try updateBook(assigned(q, seedBook(KMeans.quantized(spark, dir))))
      finally { q.unpersist(); () }
    }

  /** Corpus-level recall floor for the q140 gate. With random-ish
    * fixture embeddings (distances concentrate — the hard regime for
    * any quantized index), the ADC SHORTLIST at [[shortlistFor]]'s 10%
    * rate recalls the exact top-[[TopK]] at measured min 0.6 (sf0.01) /
    * 0.8 (sf0.1); gated at 0.5 (the q49 floor convention — floors sit
    * under the measured minimum with margin, specs pin the margin). */
  val AdcRecallFloor = 0.5

  /** ADC shortlist size: 10% of the corpus, floored at 50 — the
    * re-rank budget that makes PQ a SHORTLIST index (scan compressed
    * codes for everything, pay exact distance only for R candidates).
    * Production tunes R per corpus; the scaling rule keeps the gate
    * meaningful at every fixture SF. */
  def shortlistFor(n: Long): Int = math.max(50L, n / 10L).toInt

  /** The per-(probe, sub, code) int64 distance lookup table — probes ×
    * [[M]] × [[K]] cells, built driver-side from two bounded frames. */
  private def lutRows(
      probes: Seq[(Long, Array[Long])],
      book: Seq[(Int, Seq[(Int, Array[Long])])]): Seq[(Long, Int, Int, Long)] =
    for {
      (pid, pv) <- probes
      (s, cs) <- book
      (j, c) <- cs
    } yield {
      var d = 0L
      var i = 0
      while (i < Dsub) {
        val diff = pv(s * Dsub + i) - c(i); d += diff * diff; i += 1
      }
      (pid, s, j, d)
    }

  /** ADC shortlist per probe: encoded corpus (vec_id → [[M]] codes)
    * scored against each probe through a per-(probe, sub, code)
    * distance lookup table — the PQ search trick (Jégou et al. §IV):
    * the probe is compared to [[K]] centroids per subspace ONCE (LUT =
    * probes × [[M]] × [[K]] int64 cells, built driver-side from two
    * bounded frames), and every corpus vector's approximate distance is
    * then [[M]] lookups + adds, independent of dimension. One
    * (probe, vec)-grain aggregate over the LUT-replicated code stream
    * — linear in corpus × probes. */
  private[graft] def adcShortlist(spark: SparkSession, dir: String, r: Int): DataFrame = {
    import spark.implicits._
    val book = trainedBook(spark, dir)
    val probes = VectorSearch.intProbes(KMeans.quantized(spark, dir))
    val lutDf = lutRows(probes, book).toDF("probe_id", "sub", "code", "pd")
    val encoded = assigned(subVectors(spark, dir), book)
      .select(col("vec_id"), col("sub"), col("code"))
    val adc = encoded.join(broadcast(lutDf), Seq("sub", "code"))
      .filter(VectorSearch.notSelf())
      .groupBy("probe_id", "vec_id")
      .agg(sum(col("pd")).as("adc_d"))
    shortlistOf(adc, r)
  }

  /** The `r` lowest-ADC-distance candidates per probe. */
  private def shortlistOf(adc: DataFrame, r: Int): DataFrame =
    VectorSearch.topK(adc, col("adc_d"), Some(r), neighbor = "vec_id")
      .select(col("probe_id"), col("vec_id"))

  /** The exact stage shared by [[adcTopK]] and [[ivfPqSearch]]: fetch the
    * shortlist's true vectors by key, pay one exact integer-L2 distance
    * per candidate (never corpus-sized) and keep the final top-[[TopK]]. */
  private def rerank(shortlist: DataFrame, q: DataFrame, probes: DataFrame): DataFrame =
    VectorSearch.topK(
      shortlist.join(q, Seq("vec_id")).join(probes, Seq("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          VectorSearch.l2(col("em"), col("pv")).as("d")),
      col("d")).select(col("probe_id"), col("neighbor_id"), col("d"))

  /** The PRODUCTION PQ search: ADC shortlist → exact re-rank of the R
    * candidates → final top-[[TopK]]. This two-stage shape is how
    * IVF-PQ deployments answer queries. */
  private[graft] def adcTopK(spark: SparkSession, dir: String): DataFrame = {
    val q = KMeans.quantized(spark, dir)
    val n = q.count()
    val pDf = VectorSearch.intProbeFrame(spark, VectorSearch.intProbes(q))
    rerank(adcShortlist(spark, dir, shortlistFor(n)), q, pDf)
  }

  /** Exact integer-L2 top-k twin over the micro-quantized corpus (the
    * recall reference — one corpus scan, probe literals broadcast). */
  private[graft] def exactTopK(spark: SparkSession, dir: String): DataFrame = {
    val q = KMeans.quantized(spark, dir)
    Sq.l2TopKOf(spark, q, q, "em")
  }

  /** q140 — the PQ-ADC SEARCH GATE (q43 convention): [[adcTopK]]
    * compared in-plan against the exact integer-L2 twin; emits the
    * oracle-recomputable corpus facts plus the deterministic
    * recall-floor verdict. Production callers use [[adcTopK]] — the
    * exact twin exists only inside the gate. */
  def q140PqAdc(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    recallPerProbe(adcTopK(spark, dir), exactTopK(spark, dir)).agg(
      count(lit(1)).as("n_probes"),
      sum(lit(TopK)).cast("long").as("n_exact_results"),
      (min(col("recall")) >= AdcRecallFloor).as("recall_ok"))
  }

  /** `(probe_id, recall)`: the share of each probe's exact top-k that
    * the approximate top-k found. */
  private def recallPerProbe(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = approx.select(col("probe_id"), col("neighbor_id"))
      .join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact")).as("recall"))
  }

  /** Coarse lists a probe visits in the q143 IVF-PQ search (of
    * [[KMeans.K]] = 8 total — a 25% expected scan). */
  val NprobeLists = 2

  /** Scan-fraction ceiling for the q143 gate: no probe may touch more
    * than this fraction of the corpus (measured ~0.25 at [[NprobeLists]]
    * = 2 of 8 lists; the bound holds with margin unless the coarse
    * quantizer collapses). */
  val MaxScanFraction = 0.6

  /** The FULL IVF-PQ search (Jégou et al. §V): the coarse k-means
    * quantizer ([[KMeans.trainedCentroids]], q130's model) routes each
    * probe to its [[NprobeLists]] nearest inverted lists; the ADC LUT
    * scores ONLY the vectors in those lists from their 8-byte codes;
    * the shortlist re-ranks exactly. Per-probe cost: (nprobe/k)·n code
    * lookups + R exact distances — the two-level structure that makes
    * billion-vector search tractable. Returns (topk, visited): the
    * final neighbors and the per-probe visited counts (the gate's
    * scan-fraction evidence). Routing is driver-side (both models are
    * bounded driver values); corpus-side work is two broadcast joins —
    * nothing shuffles except the (probe, vec)-grain aggregate. */
  private[graft] def ivfPqSearch(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val cents = KMeans.trainedCentroids(spark, dir)
    val book = trainedBook(spark, dir)
    val q = KMeans.quantized(spark, dir)
    val n = q.count()
    val probes = VectorSearch.intProbes(q)
    // probe → its NprobeLists nearest coarse lists (ties → lower id),
    // computed driver-side from the k×dim model
    val routes = probes.flatMap { case (pid, pv) =>
      cents.map { case (j, c) =>
        var dd = 0L
        var i = 0
        while (i < pv.length) { val df = pv(i) - c(i); dd += df * df; i += 1 }
        (dd, j)
      }.sorted.take(NprobeLists).map { case (_, j) => (pid, j) }
    }
    val routeDf = broadcast(routes.toDF("probe_id", "cluster"))
    // corpus routing: the SAME assignment pass the ingest stream runs
    // (q135) — at deployment the cluster column is already materialized
    val assignedLists = KMeans.assigned(q, cents)
      .select(col("vec_id"), col("cluster"))
    val visited = assignedLists.join(routeDf, Seq("cluster"))
      .filter(VectorSearch.notSelf())
      .select("probe_id", "vec_id")
    val lutDf = broadcast(lutRows(probes, book).toDF("probe_id", "sub", "code", "pd"))
    val encoded = assigned(subVectors(spark, dir), book)
      .select(col("vec_id"), col("sub"), col("code"))
    // the compressed-domain scan: |visited|·M code lookups
    val adc = visited.join(encoded, Seq("vec_id"))
      .join(lutDf, Seq("probe_id", "sub", "code"))
      .groupBy("probe_id", "vec_id")
      .agg(sum(col("pd")).as("adc_d"))
    val topk = rerank(shortlistOf(adc, shortlistFor(n)), q,
      VectorSearch.intProbeFrame(spark, probes))
    val fracs = visited.groupBy("probe_id")
      .agg((count(lit(1)).cast("double") / n).as("scan_frac"))
    (topk, fracs)
  }

  /** q143 — the IVF-PQ SEARCH GATE (q43 convention): [[ivfPqSearch]]
    * against the exact integer-L2 twin, plus the scan-fraction verdict
    * — the two claims an IVF-PQ index must prove (finds the neighbors,
    * touches a bounded slice). Production callers use [[ivfPqSearch]]'s
    * topk; the exact twin exists only inside the gate. */
  def q143IvfPq(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val (topk, fracs) = ivfPqSearch(spark, dir)
    recallPerProbe(topk, exactTopK(spark, dir)).join(fracs, Seq("probe_id")).agg(
      count(lit(1)).as("n_probes"),
      sum(lit(TopK)).cast("long").as("n_exact_results"),
      (min(col("recall")) >= AdcRecallFloor).as("recall_ok"),
      (max(col("scan_frac")) <= MaxScanFraction).as("scan_ok"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q136_pq_codebook" -> (q136PqCodebook _),
    "q140_pq_adc"      -> (q140PqAdc _),
    "q143_ivf_pq"      -> (q143IvfPq _))

  /** The training trajectory unrolled in SQL from the same [[M]]/[[K]]/
    * [[Dsub]] constants the plan uses ([[KMeans.oracleSql]] convention);
    * every doubly-referenced CTE is MATERIALIZED so the replay stays
    * fd-linear (the q133 lesson). */
  val oracles: Map[String, String] = Map(
    "q136_pq_codebook" -> oracleSql,
    // q140: the q43 gate shape — probe/result counts are corpus facts,
    // the recall verdict is deterministic (integer arithmetic end to
    // end), asserted literally.
    "q140_pq_adc" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(count(*) * $TopK AS BIGINT) AS n_exact_results,
         |  TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $NumProbes""".stripMargin,
    // q143: same gate shape with the scan-fraction verdict alongside.
    "q143_ivf_pq" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(count(*) * $TopK AS BIGINT) AS n_exact_results,
         |  TRUE AS recall_ok, TRUE AS scan_ok
         |FROM embeddings WHERE vec_id < $NumProbes""".stripMargin)

  /** Entry + sub-vector explode + seed + one Lloyd round + the refined
    * assignment (a2) as SQL CTE text — shared verbatim by the q136
    * oracle and q141's ([[graft.streaming.PqEncodeStream]]), so the two
    * oracles can never disagree about the trained codebook (the
    * [[KMeans.commonCtes]] convention). */
  private[graft] def commonCtes: String = {
    val idx = s"range(1, ${Dsub + 1})"
    def assign(book: String, n: Int) =
      s"""d$n AS (
         |  SELECT v.vec_id, v.sub, v.sv, c.j,
         |    list_sum(list_transform($idx,
         |      i -> (v.sv[i] - c.c[i]) * (v.sv[i] - c.c[i]))) AS d
         |  FROM sv v JOIN $book c ON v.sub = c.sub),
         |a$n AS MATERIALIZED (
         |  SELECT vec_id, sub, sv, j AS code, d
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, j) AS rk
         |        FROM d$n) WHERE rk = 1)""".stripMargin
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> ${KMeans.halfAwaySql("CAST(x AS DOUBLE) * 1000000")}) AS em
       |  FROM embeddings),
       |sv AS MATERIALIZED (
       |  SELECT e.vec_id, s.sub,
       |    list_transform($idx, i -> e.em[CAST(s.sub * $Dsub AS INTEGER) + i]) AS sv
       |  FROM e, (SELECT unnest(range(0, $M)) AS sub) s),
       |seed AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
       |  FROM e ORDER BY vec_id LIMIT $K),
       |c0 AS MATERIALIZED (
       |  SELECT v.sub, s.j, v.sv AS c
       |  FROM sv v JOIN seed s ON v.vec_id = s.vec_id),
       |${assign("c0", 1)},
       |u1 AS (
       |  SELECT sub, code, i, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
       |  FROM (SELECT sub, code, unnest(sv) AS v,
       |          unnest($idx) AS i FROM a1)
       |  GROUP BY 1, 2, 3),
       |c1 AS MATERIALIZED (
       |  SELECT sub, code AS j,
       |    list(CAST(CASE WHEN s >= 0 THEN s // n
       |              ELSE -((-s + n - 1) // n) END AS BIGINT) ORDER BY i) AS c
       |  FROM u1 GROUP BY 1, 2),
       |${assign("c1", 2)}""".stripMargin
  }

  private def oracleSql: String =
    s"""WITH $commonCtes
       |SELECT CAST(sub AS INTEGER) AS sub, CAST(code AS BIGINT) AS code,
       |  count(*) AS n_vecs,
       |  CAST(sum((CAST(d AS BIGINT) + 500000) // 1000000) AS BIGINT) AS distortion_micro
       |FROM a2 GROUP BY 1, 2 ORDER BY sub, code""".stripMargin

  /** The q141 replay ([[graft.streaming.PqEncodeStream]]): the shared
    * trajectory CTEs, then the refined assignment re-shaped to one row
    * per vector — the M=8 codes PACKED big-endian (subspace order, 4
    * bits each since K=16) into one BIGINT + the row-bounded total
    * squared distortion (raw micro² — an 8-term int64 sum, exact).
    * Packing keeps the result scalar/sortable for the driver harness
    * and is a tighter hash than an array column. */
  private[graft] def encodeOracleSql: String =
    s"""WITH $commonCtes
       |SELECT vec_id,
       |  CAST(sum(CAST(code AS BIGINT) * CAST(power($K, ${M - 1} - sub) AS BIGINT))
       |       AS BIGINT) AS codes_packed,
       |  CAST(sum(CAST(d AS BIGINT)) AS BIGINT) AS distortion_sq_micro
       |FROM a2 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** ROW-LOCAL PQ encode columns over a (vec_id, em: array<long>)
    * frame: codes_packed (the M subspace codes folded big-endian into
    * one int64 — K=16 codes are 4 bits each, so the pack is 32 bits and
    * exactly invertible) + total squared distortion — no explode, no
    * shuffle, broadcast-literal codebook; STREAMING-SAFE (the
    * [[KMeans.assigned]] posture), shared by the q141 ingest path so
    * batch and stream encoding can never drift. */
  private[graft] def encodeColumns(df: DataFrame, book: Seq[(Int, Seq[(Int, Array[Long])])]): DataFrame = {
    val mins = book.sortBy(_._1).map { case (s, cs) =>
      val pairs = cs.map { case (j, c) =>
        struct(dist2(slice(col("em"), lit(s * Dsub + 1), lit(Dsub)), c).as("d"),
          lit(j).as("j"))
      }
      array_min(array(pairs: _*))
    }
    df.withColumn("m", array(mins: _*))
      .select(col("vec_id"),
        aggregate(transform(col("m"), m => m.getField("j").cast("long")),
          lit(0L), (a, x) => a * K + x).as("codes_packed"),
        aggregate(transform(col("m"), m => m.getField("d")), lit(0L), (a, x) => a + x)
          .as("distortion_sq_micro"))
  }
}
