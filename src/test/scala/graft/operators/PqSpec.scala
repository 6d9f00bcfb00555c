package graft.operators

import graft.SparkSpec

class PqSpec extends SparkSpec {

  test("q136: shape, conservation, Lloyd improvement, determinism") {
    val rows = Pq.q136PqCodebook(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // every cell belongs to a real (subspace, code)
    assert(rows.forall { case (s, c, _, _) => s >= 0 && s < Pq.M && c >= 0 && c < Pq.K })

    // conservation: each subspace partitions the corpus exactly once
    val n = graft.core.Tables.embeddings(spark, sf).count()
    val bySub = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(bySub.keySet == (0 until Pq.M).toSet)
    assert(bySub.values.forall(_ == n), s"per-subspace member sums $bySub != corpus $n")

    // distortion is non-negative and the refined codebook beats (or
    // ties) the seed assignment in total — one Lloyd round cannot
    // increase the objective
    assert(rows.forall(_._4 >= 0))
    val refined = rows.map(_._4).sum

    // seed-assignment distortion computed on the driver from the same
    // integer-quantized corpus (test-only collect; tiny fixture)
    val pts = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0))
      .map(r => r.getSeq[Float](1).toArray.map { f =>
        val y = f.toDouble * 1e6
        (if (y >= 0) math.floor(y + 0.5) else -math.floor(-y + 0.5)).toLong
      })
    val seeds = pts.take(Pq.K)
    def cellDist(v: Array[Long], s: Int, c: Array[Long]): Long =
      (0 until Pq.Dsub).map { i =>
        val d = v(s * Pq.Dsub + i) - c(s * Pq.Dsub + i); d * d
      }.sum
    val seedTotal = (0 until Pq.M).map { s =>
      pts.map { v =>
        val d = seeds.map(c => cellDist(v, s, c)).min
        (d + 500000L) / 1000000L
      }.sum
    }.sum
    assert(refined <= seedTotal,
      s"refined distortion $refined > seed assignment $seedTotal")

    // deterministic end to end
    val again = Pq.q136PqCodebook(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == again.toSeq)
  }

  test("q140: ADC search hits the gate's recall floor with real margin") {
    val adc = Pq.adcTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val exact = Pq.exactTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(adc.length == VectorSearch.NumProbes * VectorSearch.TopK)
    assert(exact.length == VectorSearch.NumProbes * VectorSearch.TopK)
    val exactSet = exact.toSet
    val recalls = adc.groupBy(_._1).map { case (_, hits) =>
      hits.count(exactSet.contains).toDouble / VectorSearch.TopK
    }
    // the gate floor holds with margin — if the measured minimum decays
    // toward the floor after a fixture change, re-pin before it flaps
    assert(recalls.min >= Pq.AdcRecallFloor,
      s"min per-probe recall ${recalls.min} under floor ${Pq.AdcRecallFloor}")
    assert(recalls.sum / recalls.size >= 0.6, s"mean recall ${recalls.sum / recalls.size}")

    val gate = Pq.q140PqAdc(spark, sf).collect()
    assert(gate.length == 1)
    assert(gate.head.getLong(0) == VectorSearch.NumProbes)
    assert(gate.head.getLong(1) == VectorSearch.NumProbes * VectorSearch.TopK)
    assert(gate.head.getBoolean(2), "gate verdict false")
  }

  test("q143: IVF-PQ finds the neighbors while touching a bounded corpus slice") {
    val (topk, fracs) = Pq.ivfPqSearch(spark, sf)
    val tk = topk.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tk.length == VectorSearch.NumProbes * VectorSearch.TopK)
    val fr = fracs.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fr.length == VectorSearch.NumProbes)
    // the index must not degenerate into a full scan
    assert(fr.forall(_._2 <= Pq.MaxScanFraction),
      s"scan fractions ${fr.map(_._2).max} over bound")
    assert(fr.forall(_._2 > 0.0))
    val exactSet = Pq.exactTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = tk.groupBy(_._1).map { case (_, hits) =>
      hits.count(exactSet.contains).toDouble / VectorSearch.TopK
    }
    assert(recalls.min >= Pq.AdcRecallFloor,
      s"min per-probe recall ${recalls.min} under floor")
    val gate = Pq.q143IvfPq(spark, sf).collect()
    assert(gate.length == 1)
    assert(gate.head.getBoolean(2), "recall verdict false")
    assert(gate.head.getBoolean(3), "scan verdict false")
  }
}
