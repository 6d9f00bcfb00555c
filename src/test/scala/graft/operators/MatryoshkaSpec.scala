package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MatryoshkaSpec extends SparkSpec {

  test("q174: the truncation sweep replays driver-side; full dim is the identity row") {
    val rows = Matryoshka.q174TruncationSweep(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Matryoshka.Dims.map(_.toLong).toSet)
    // the full-dim branch intersects itself: recall exactly 1
    val full = rows(Matryoshka.FullDim.toLong)
    assert(full._2 == VectorSearch.NumProbes.toLong * VectorSearch.TopK)
    assert(full._3 == 1000000L)
    // every row's hits bound and micro arithmetic
    rows.foreach { case (d, (np, hits, micro)) =>
      assert(np == VectorSearch.NumProbes.toLong)
      assert(hits >= 0 && hits <= np * VectorSearch.TopK)
      assert(micro == hits * 1000000L / (np * VectorSearch.TopK), s"dim $d micro")
    }
    // driver replay of one truncated branch: recompute d=8 hits from the
    // quantized store with the same (distance, vec_id) tie-break
    val em = KMeans.quantized(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def topk(d: Int, pid: Long): Seq[Long] =
      em.toSeq.filter(_._1 != pid)
        .map { case (vid, v) =>
          var s = 0L; var i = 0
          while (i < d) { val df = v(i) - em(pid)(i); s += df * df; i += 1 }
          (s, vid)
        }
        .sorted.take(VectorSearch.TopK).map(_._2)
    val expectedHits = (0L until VectorSearch.NumProbes.toLong).map { pid =>
      (topk(8, pid).toSet & topk(Matryoshka.FullDim, pid).toSet).size.toLong
    }.sum
    assert(rows(8L)._2 == expectedHits, "d=8 branch replay")
  }
}
