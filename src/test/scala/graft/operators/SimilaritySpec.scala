package graft.operators

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("brute-force top-k returns TopK neighbors per probe, sorted") {
    val rows = Similarity.q29CosineTopK(spark, sf).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.size == VectorSearch.NumProbes)
    byProbe.foreach { case (_, rs) =>
      assert(rs.length == VectorSearch.TopK)
      val cosines = rs.map(_.getDouble(2)).toSeq
      assert(cosines == cosines.sorted.reverse, "descending cosine order per probe")
    }
  }

  test("ANN-LSH neighbors are a subset of the corpus with exact cosines") {
    val exactAll = Similarity.q29CosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = Similarity.annLshTopK(spark, sf).collect()
    assert(ann.nonEmpty, "LSH buckets should yield candidates")
    // any ANN pair that is also in the exact top-k must carry the same cosine
    ann.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactAll.get(key).foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-9))
    }
  }

  test("ANN-LSH achieves non-trivial recall against brute force") {
    val exact = Similarity.q29CosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annLshTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ann.contains).toDouble / exact.size
    // single-probe sign-LSH: modest recall expected, zero means broken
    assert(recall >= Similarity.LshRecallFloor, s"recall@${VectorSearch.TopK} = $recall")
    // the q30 gate row reports the same comparison in-plan
    val gate = Similarity.q30AnnLsh(spark, sf).collect()
    assert(gate.length == 1 && gate.head.getBoolean(2), s"gate verdict: ${gate.toSeq}")
    assert(gate.head.getLong(0) == VectorSearch.NumProbes)
    assert(gate.head.getLong(1) == exact.size)
  }

  test("LSH near-dup scale path: exact precision, probabilistic recall vs q31") {
    val exact = Similarity.q31CosineNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.nearDupLshPairs(
      graft.core.Tables.embeddings(spark, sf), Similarity.NearDupThreshold,
      Similarity.NumTables, Similarity.PlanesPerTable).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    // precision is exact by construction (verify step recomputes cosine)
    assert(lsh.subsetOf(exact), s"false positives: ${(lsh diff exact).take(3)}")
    // recall is probabilistic: 1-(1-p^k)^T ≈ 0.79 at the widest pair angle
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= Similarity.NearDupRecallFloor,
      s"near-dup LSH recall $recall over ${exact.size} pairs")
    // the q49 gate row reports the same three facts in-plan
    val gate = Similarity.q49NearDupLsh(spark, sf).collect()
    assert(gate.length == 1, gate.toSeq)
    assert(gate.head.getLong(0) == exact.size, "n_exact_pairs")
    assert(gate.head.getBoolean(1) && gate.head.getBoolean(2), s"verdicts: ${gate.toSeq}")
  }

  test("near-dup LSH at the production threshold: recall ≥ 0.9, candidates ≤ n²/8") {
    // planted fixture for the cosine ≥ 0.9 regime the scaladoc documents
    // (k=8, T=8): 400 random unit-ish vectors (near-orthogonal in 64-d,
    // so no accidental near-dups) + 100 perturbed copies at cosine ≥ 0.95
    import spark.implicits._
    val rnd = new java.util.Random(7L)
    val dim = 64
    def randVec(): Array[Float] = Array.fill(dim)((rnd.nextGaussian()).toFloat)
    def perturb(v: Array[Float]): Array[Float] = {
      // small additive noise: cos(v, v+εu) ≥ 0.95 for ε ≈ 0.25·|v| in 64-d
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x + (rnd.nextGaussian() * 0.2 * n / math.sqrt(dim))).toFloat)
    }
    val base = Array.fill(400)(randVec())
    val rows =
      base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
        base.take(100).zipWithIndex.map { case (v, i) => (400L + i, perturb(v)) }
    val emb = rows.toSeq.toDF("vec_id", "embedding")
    val threshold = 0.9
    val k = 8; val t = 8
    // ground truth: exact all-pairs at the production threshold
    import org.apache.spark.sql.functions.col
    val l = emb.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val r = emb.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    val exact = l.crossJoin(r).filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"), Similarity.cosine(col("e1"), col("e2")).as("c"))
      .filter(col("c") >= threshold)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(exact.size >= 90, s"fixture should plant ~100 near-dup pairs, got ${exact.size}")
    val got = Similarity.nearDupLshPairs(emb, threshold, t, k, dim)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    // precision exact by construction; recall per the collision bound:
    // θ ≤ 18° → p1 = (1-θ/π)^8 ≈ 0.43, 1-(1-p1)^8 ≈ 0.99
    assert(got.subsetOf(exact), s"false positives: ${(got diff exact).take(3)}")
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.9, s"production-threshold recall $recall over ${exact.size} pairs")
    // pruning is real: candidate fraction ≈ T/2^k = 1/32 for the random
    // mass; allow 4× slack (n²/8) so the assertion bounds, not flakes
    val n = rows.length.toLong
    val candidates = Similarity.nearDupLshCandidates(emb, t, k, dim).count()
    assert(candidates <= n * (n - 1) / 2 / 8,
      s"candidate fraction too high: $candidates of ${n * (n - 1) / 2} pairs")
  }

  test("SemDeDup: join path ≡ exact within-cluster twin; statuses partition the corpus") {
    import org.apache.spark.sql.functions.col
    val out = Similarity.semDedupStatuses(spark, sf).collect()
    val emb = graft.core.Tables.embeddings(spark, sf)
    assert(out.length == emb.count())
    // twin: same clustering, brute-force all-pairs drop rule computed
    // driver-side — must agree EXACTLY (the cluster restriction is the
    // approximation; the join plumbing must not add to it)
    val centers = IvfIndex.centroids(spark, sf, Similarity.SemClusters)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dp / math.sqrt(na * nb)
    }
    def cluster(v: Array[Float]): Int =
      centers.indices.minBy { j =>
        var s = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - centers(j)(i); s += d * d; i += 1 }
        s
      }
    val byCluster = vecs.toSeq.groupBy { case (_, v) => cluster(v) }
    // group semantics, same as q38: duplicate groups are connected
    // components of the within-cluster pair graph; keeper = group min
    val expectDrop = byCluster.values.flatMap { members =>
      val sorted = members.sortBy(_._1)
      val edges = for {
        i <- sorted.indices
        j <- 0 until i
        if cos(sorted(j)._2, sorted(i)._2) >= Similarity.NearDupThreshold
      } yield (sorted(j)._1, sorted(i)._1)
      Dedup.unionFindMinLabel(edges.toArray)
        .collect { case (id, keeper) if id != keeper => id }
    }.toSet
    val gotDrop = out.filter(_.getString(2) == "drop").map(_.getLong(0)).toSet
    assert(gotDrop == expectDrop,
      s"mismatch: extra=${(gotDrop diff expectDrop).take(3)} missing=${(expectDrop diff gotDrop).take(3)}")
    assert(out.forall(r => r.getString(2) == "keep" || r.getString(2) == "drop"))
  }

  test("centroid drift: zero only where the versions' source slices agree") {
    val rows = Similarity.q82CentroidDrift(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.nonEmpty)
    rows.values.foreach(d => assert(d >= 0.0 && d <= 2.0, s"cosine drift range: $rows"))
    // recompute which sources actually lose/gain vectors between versions;
    // exactly those may drift, identical slices must not
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
    val changed = docs.filter(
      (col("doc_id") % Corpus.RemovedInV2Mod === Corpus.RemovedInV2Rem) ||
        (col("doc_id") % Corpus.DroppedFromV1Mod === Corpus.DroppedFromV1Rem))
      .select("source").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { case (s, d) =>
      if (!changed.contains(s)) assert(d == 0.0, s"source $s has identical slices: $d")
      else assert(d > 0.0, s"source $s lost/gained vectors yet drift is zero")
    }
  }

  test("q69 gate verdict: counts match the exact twin and both verdicts hold") {
    val row = Similarity.q69SemDedup(spark, sf).head()
    val emb = graft.core.Tables.embeddings(spark, sf)
    assert(row.getLong(0) == emb.count())
    val pairs = Similarity.q31CosineNearDup(spark, sf).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(row.getLong(1) == pairs.size.toLong)
    assert(row.getBoolean(2) && row.getBoolean(3), s"gate verdicts must hold: $row")
  }

  test("SemDeDup: planted duplicate groups collapse to one keeper each") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new java.util.Random(11L)
    val dim = 64
    def randVec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // 200 well-separated originals; the first 40 get two EXACT copies each
    val base = Array.fill(200)(randVec())
    val rows =
      base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
        base.take(40).zipWithIndex.flatMap { case (v, i) =>
          Seq((200L + 2 * i, v.clone()), (201L + 2 * i, v.clone()))
        }
    val emb = rows.toSeq.toDF("vec_id", "embedding")
    val centers = IvfIndex.lloyd(rows.map(_._2.map(_.toDouble)), 8)
    val out = Similarity.semDedup(emb, centers, threshold = 0.999).collect()
    // identical vectors always share a cluster → every copy drops, every
    // group keeps exactly its lowest id
    val dropped = out.filter(_.getString(2) == "drop").map(_.getLong(0)).toSet
    assert(dropped == (200L until 280L).toSet,
      s"copies 200-279 must drop, originals keep: got ${dropped.size} drops")
    // determinism: rerun is identical
    val again = Similarity.semDedup(emb, centers, threshold = 0.999).collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).sortBy(_._1).toSeq ==
      again.map(r => (r.getLong(0), r.getString(2))).sortBy(_._1).toSeq)
  }

  test("SemDeDup on a duplicate-free corpus keeps everything; empty pair graph short-circuits CC") {
    import spark.implicits._
    // pairwise-orthogonal (or opposite) unit vectors: no pair reaches any
    // positive cosine threshold, so the within-cluster pair graph is empty
    val emb = (0L until 8L).map { i =>
      (i, Array.tabulate(4)(d =>
        if (d == (i % 4).toInt) (if (i < 4) 1.0f else -1.0f) else 0.0f))
    }.toDF("vec_id", "embedding")
    val centers = Array(Array(1.0, 0.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0, 0.0))
    val out = Similarity.semDedup(emb, centers, Similarity.NearDupThreshold).collect()
    assert(out.length == 8)
    assert(out.forall(_.getString(2) == "keep"),
      "no near-dup pairs => every vector keeps")
    // the q38/q69-shared CC machinery must SHORT-CIRCUIT on the empty
    // graph: its only jobs are the bounded edge count and the result
    // read — the iterative min-label loop (>= 4 jobs: init + per-round
    // convergence aggregates) must never start
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    spark.sparkContext.setJobGroup("cc-empty-gate", "empty pair graph fast path")
    val groups = try Dedup.minLabelComponents(spark, empty).collect()
    finally spark.sparkContext.clearJobGroup()
    assert(groups.isEmpty)
    // the status store is fed asynchronously off the listener bus — give
    // straggling job-start events a moment to land before counting
    Thread.sleep(500)
    val ids = spark.sparkContext.statusTracker.getJobIdsForGroup("cc-empty-gate")
    assert(ids.length <= 3,
      s"empty pair graph ran ${ids.length} jobs — the CC loop must not start")
  }

  test("SemDeDup keeper election is group-consistent on star graphs") {
    import spark.implicits._
    // pair graph 1~3, 2~3 (NOT 1~2): unit vectors at 0°, 50°, 25° with
    // τ=0.9 → cos(1,3)=cos(2,3)=cos25°≈0.906 ≥ τ, cos(1,2)=cos50°≈0.64.
    // One duplicate GROUP {1,2,3}, keeper 1 — vec 2 must drop even though
    // its only direct neighbor (3) has a higher id. The chain-greedy rule
    // this replaced kept 2, disagreeing with q38's union-find semantics.
    def at(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val emb = Seq((1L, at(0)), (2L, at(50)), (3L, at(25))).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, Array(Array(1.0, 0.0)), threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "keep", 2L -> "drop", 3L -> "drop"),
      s"one keeper per duplicate group (the component min): $out")
  }

  test("IVF ANN beats sign-LSH recall at comparable scan fraction") {
    val exact = Similarity.q29CosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val recall = exact.count(ivf.contains).toDouble / exact.size
    // the q43 gate row reports the same comparison in-plan
    val gate = Similarity.q43AnnIvf(spark, sf).collect()
    assert(gate.length == 1 && gate.head.getBoolean(2),
      s"gate verdict must confirm recall ≥ ${Similarity.IvfRecallFloor}: ${gate.toSeq}")
    assert(gate.head.getLong(0) == VectorSearch.NumProbes)
    assert(gate.head.getLong(1) == exact.size)
    // operating point: recall ≥ 0.8 at nprobe × spill / nlist =
    // 4 × 2 / 32 = 25% expected scan fraction — spill-to-2nd-nearest
    // assignment recovers the boundary vectors single-assignment misses,
    // buying recall with index size instead of scan budget
    assert(Similarity.NumProbeLists.toDouble * Similarity.SpillAssign / Similarity.NumLists
      <= 0.25, "expected scan fraction must stay ≤ 25%")
    assert(recall >= 0.8, s"IVF recall@${VectorSearch.TopK} = $recall")
  }

  test("native cosine expression is bit-identical to the fold form") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sf)
    val l = emb.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val r = emb.limit(50).select(col("vec_id").as("v2"), col("embedding").as("e2"))
    val both = l.crossJoin(r).filter(col("v1") < col("v2"))
      .select(
        Similarity.cosine(col("e1"), col("e2")).as("native"),
        Similarity.cosineFold(col("e1"), col("e2")).as("fold"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(row =>
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(row.getDouble(1))))
  }

  test("q137: per-source counts conserve the train slice and flags match a direct recount") {
    import org.apache.spark.sql.functions.col
    val out = Similarity.q137SemDecontaminate(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // every max cosine is a valid cosine and the flag line is respected
    out.foreach { case (_, nTrain, nFlag, mx) =>
      assert(nFlag <= nTrain)
      assert(mx <= 1.000001 && mx >= -1.000001)
      if (mx < Similarity.NearDupThreshold) assert(nFlag == 0)
    }
    // conservation: Σ n_train = vectors outside the eval slice (that
    // have a documents row — fixture ids are 1:1)
    val emb = graft.core.Tables.embeddings(spark, sf)
    val nTrainExpected =
      emb.filter(col("vec_id") % Similarity.EvalVecModulus =!= 0).count()
    assert(out.map(_._2).sum == nTrainExpected)

    // direct recount on the driver (tiny fixture): flagged = train
    // vectors whose max cosine to any eval vector clears the threshold
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val ev = vecs.filter(_._1 % Similarity.EvalVecModulus == 0).map(_._2)
    val expectedFlagged = vecs
      .filter(_._1 % Similarity.EvalVecModulus != 0)
      .count { case (_, v) => ev.map(e => cos(v, e)).max >= Similarity.NearDupThreshold }
    assert(out.map(_._3).sum == expectedFlagged)
  }

  test("q156: negatives live strictly inside the band; ranks replay driver-side") {
    val emb = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def d(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      d(a, b) / math.sqrt(d(a, a) * d(b, b))
    }
    val rows = Similarity.q156HardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    val byAnchor = rows.groupBy(_.getLong(0))
    assert(byAnchor.keySet == (0L until VectorSearch.NumProbes).toSet)
    byAnchor.foreach { case (a, rs) =>
      assert(rs.length <= Similarity.HnK)
      // driver replay of the band + ranking
      val banded = emb.toSeq.filter(_._1 != a)
        .map { case (id, v) => (id, cos(emb(a), v)) }
        .filter { case (_, c) => c >= Similarity.HnLoCos && c < Similarity.HnHiCos }
        .sortBy { case (id, c) => (-c, id) }
        .take(Similarity.HnK)
      assert(rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq == banded.map(_._1),
        s"anchor $a negatives")
      // the false-negative guard: nothing at or above the near-dup line
      rs.foreach(r => assert(r.getDouble(3) < Similarity.NearDupThreshold))
    }
  }

  test("q157: Σ-vector identity equals the direct O(n²) pairwise mean on quantized vectors") {
    val src = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val emb = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def halfAway(y: Double): Long =
      if (y >= 0) math.floor(y + 0.5).toLong else -math.floor(-y + 0.5).toLong
    val quant = emb.map { case (id, v) =>
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      (src(id), v.map(x => halfAway(Similarity.DivQuant * x / n)))
    }
    val bySrc = quant.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = Similarity.q157EmbeddingDiversity(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (s, vs) =>
      val n = vs.length.toLong
      // direct: every ordered pair's integer dot
      val direct = (for {
        i <- vs.indices; j <- vs.indices if i != j
      } yield vs(i).indices.foldLeft(0L)((a, d) => a + vs(i)(d) * vs(j)(d))).sum
      val mean = if (direct >= 0) direct / (n * (n - 1)) else -((-direct) / (n * (n - 1)))
      assert(got(s) == ((n, mean)), s"source $s diversity")
    }
  }

  test("q162: nprobe sweep verdicts hold; recall is monotone across the sweep") {
    val rows = Similarity.q162NprobeSweep(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Similarity.NprobeSweep.map(_.toLong))
    rows.foreach { r =>
      assert(r.getLong(1) == VectorSearch.NumProbes.toLong)
      assert(r.getLong(2) == (VectorSearch.NumProbes * VectorSearch.TopK).toLong)
      assert(r.getBoolean(3), s"nprobe ${r.getLong(0)}: recall below floor")
      assert(r.getBoolean(4), s"nprobe ${r.getLong(0)}: recall not monotone")
      assert(r.getBoolean(5), s"nprobe ${r.getLong(0)}: candidate set not bounded")
    }
    // determinism: the gate's verdicts are stable across runs (cached
    // quantizer + fixed probe set)
    val again = Similarity.q162NprobeSweep(spark, sf).collect().map(_.toString).toSeq
    assert(again == rows.map(_.toString).toSeq)
  }

  test("cosine column matches a scala-side computation") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(3f, 2f, 1f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(
      org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b"))).head().getDouble(0)
    val expect = 10.0 / math.sqrt(14.0 * 14.0)
    assert(math.abs(got - expect) < 1e-12)
  }
}
