package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SqSpec extends SparkSpec {

  test("SQ8 reconstruction replays the integer truncation arithmetic exactly") {
    def tdiv(a: Long, b: Long): Long = a / b // JVM / truncates toward zero
    val rows = Sq.reconstructed(spark, sf)
      .select(col("vec_id"), col("em"), col("sc"), col("recon"))
      .limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val em = r.getSeq[Long](1)
      val sc = r.getLong(2)
      val recon = r.getSeq[Long](3)
      assert(sc == math.max(em.map(math.abs).max, 1L))
      em.zip(recon).foreach { case (x, rx) =>
        val code = tdiv(x * 127, sc)
        assert(code >= -127 && code <= 127, s"code $code out of int8 range")
        assert(rx == tdiv(code * sc, 127), s"recon mismatch for $x at scale $sc")
        // the error bound SQ8 promises: one code step + one truncation step
        assert(math.abs(x - rx) <= sc / 127 + 2,
          s"|$x - $rx| exceeds the quantization step at scale $sc")
      }
    }
  }

  test("q173: SQ8 search recalls the exact top-k on the fixture corpus") {
    val rows = Sq.q173SqAdc(spark, sf).collect()
    assert(rows.length == VectorSearch.NumProbes)
    rows.foreach { r =>
      assert(r.getLong(1) == VectorSearch.TopK.toLong)
      // SQ8 at 4x compression should be near-exact; the fixture measures 1.0
      assert(r.getLong(3) >= 800000L,
        s"probe ${r.getLong(0)} recall ${r.getLong(3)} below the SQ8 expectation")
      // the error mass is real (the sketch is lossy), not a degenerate zero
      assert(r.getLong(4) > 0L)
    }
  }
}
