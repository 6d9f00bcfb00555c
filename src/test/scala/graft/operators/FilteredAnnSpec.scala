package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FilteredAnnSpec extends SparkSpec {

  test("every filtered result satisfies the metadata predicate (prefilter)") {
    val res = Similarity.ivfFilteredTopK(spark, sf)
    val allowed = graft.core.Tables.documents(spark, sf)
      .filter(col("source") === Similarity.FilterSource)
      .select(col("doc_id").as("neighbor_id"))
    val stray = res.join(allowed, Seq("neighbor_id"), "left_anti").count()
    assert(stray == 0, "prefilter must make off-predicate results impossible")
  }

  test("adaptive probing reaches exact recall at the fixture's narrow filter") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // at 5% selectivity the probe widens to every list, so the filtered
    // search must equal the exact filtered twin outright
    assert(canon(Similarity.ivfFilteredTopK(spark, sf)) ==
      canon(Similarity.filteredExactTopK(spark, sf)))
  }

  test("q209 verdict row is all-green and the filter actually prunes") {
    val r = Similarity.q209FilteredAnn(spark, sf).collect()(0)
    assert(r.getLong(r.fieldIndex("n_probes")) == VectorSearch.NumProbes)
    assert(r.getBoolean(r.fieldIndex("recall_ok")))
    assert(r.getBoolean(r.fieldIndex("filter_selective")))
    val n = graft.core.Tables.embeddings(spark, sf).count()
    assert(r.getLong(r.fieldIndex("n_allowed")) < n)
  }
}
