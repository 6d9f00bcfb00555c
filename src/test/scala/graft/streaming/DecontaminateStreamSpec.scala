package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

class DecontaminateStreamSpec extends SparkSpec {

  test("q167 at-ingest screen equals the batch q62 decontamination exactly") {
    val streamed = DecontaminateStream.q167StreamDecontaminate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val batch = graft.operators.Dedup.q62Decontaminate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(streamed == batch,
      "the streaming screen and the batch sweep share one definition")
    // every flagged doc is a train doc with at least one shared shingle
    streamed.foreach { case (docId, nShared) =>
      assert(docId % graft.operators.Dedup.EvalDocModulus != 0)
      assert(nShared >= 1)
    }
  }

  test("sorted_set_count probes exactly (codegen path, nulls, empty)") {
    import spark.implicits._
    val set = Array(-5L, 2L, 7L, 100L)
    java.util.Arrays.sort(set)
    val bc = spark.sparkContext.broadcast(set)
    val rows = Seq(
      (1L, Seq[java.lang.Long](2L, 7L, 7L, 3L)), // dup hits both count
      (2L, Seq[java.lang.Long](0L, 1L)),
      (3L, Seq[java.lang.Long]()),
      (4L, Seq[java.lang.Long](null, -5L, 100L))).toDF("id", "hs")
    val got = rows
      .select(col("id"),
        VectorFunctions.sorted_set_count(col("hs"), bc).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 0L, 3L -> 0L, 4L -> 2L))
  }

  test("q167 refuses an eval set beyond the broadcast guard instead of degrading") {
    val e = intercept[IllegalArgumentException] {
      DecontaminateStream.screen(spark, sf, broadcastLimit = 1).collect()
    }
    assert(e.getMessage.contains("batch path"))
  }
}
