package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.VectorFunctions
import graft.operators.{Admission, Dedup}

/** ADMISSION AT INGEST — q234's screen run on the arriving-document
  * firehose, completing the at-ingest family with the decision that
  * composes the others: q152 admits on quality, q114 flags near-dup
  * candidates, q167 flags contamination; this drain issues the ONE
  * per-document verdict a production front door actually emits, against
  * the SAME store-side artifacts the batch screen probes.
  *
  * Streaming shape — everything per-document is STATELESS:
  *  - quality score, fingerprint, shingle hashes, MinHash signature and
  *    band buckets are row-local column expressions shared verbatim
  *    with the batch path ([[Admission.screenCols]],
  *    [[Dedup.bandStructsOfSig]]);
  *  - the contamination probe is q167's sorted-array binary search
  *    against the broadcast eval shingle set (bounded by the same
  *    guard, shared [[DecontaminateStream.evalProbe]] builder);
  *  - the exact-dup and near-dup screens are STREAM-STATIC joins
  *    against the store's materialized indexes — the fingerprint set
  *    and the guarded LSH bucket table (band, bucket, doc) with the
  *    store signature table for the pair-local exact verify
  *    (`array_intersect` on the two shingle arrays, the q99 verify
  *    shape). Both static sides are corpus artifacts a deployment
  *    maintains incrementally (q100's posture); here they are built
  *    once per drain off the cached [[graft.operators.SignatureStage]]
  *    stages and localCheckpointed so micro-batches re-join, never
  *    re-plan.
  *
  * No watermark, no state store, zero streaming state: the only
  * cross-ROW decisions in the whole screen — the fingerprint keeper
  * window and the within-batch NEAR-DUP election — run on the DRAINED
  * frame (batch data: one fp-keyed window, then the batch-internal LSH
  * self-join → exact verify → q38 closure over the day's batch only),
  * the [[DedupStream.streamScreen]] convention of aggregating after
  * the drain rather than riding a stateful operator for a batch-sized
  * step. The drained rows carry each document's shingle hashes ONCE
  * (band-0 rows only — the bucket fan-out must not multiply the hash
  * volume) so the election re-derives its band buckets row-locally
  * from the same shared expressions. Verdict assembly is
  * [[Admission.verdictsOver]] — the shared expression, so stream ≡
  * batch by construction and both gate on the same full-value oracle.
  */
object AdmissionStream extends graft.QueryModule {

  /** q235 — the q234 admission verdicts produced by the streaming
    * screen: identical rows, identical oracle. */
  def q235StreamAdmission(spark: SparkSession, dir: String): DataFrame = {
    // the store-side artifacts below are INDEPENDENT until the drain
    // consumes them, but each is an eager materialization — built from
    // one driver thread they serialize four jobs back to back (the
    // q200 lesson). Overlap the three independent chains from driver
    // threads ([[graft.core.JobOverlap]]: a dedicated pool that carries
    // the submitting thread's job group / FAIR pool, so the sub-jobs
    // stay cancellable and pooled — the global EC leaks whatever
    // properties its threads inherited at creation): the eval probe
    // collect, the sigs-derived chain (storeSigs +
    // buckets→guard→storeBuckets, which share the cached signature
    // stage), and the fingerprint index scan.
    import graft.core.JobOverlap
    val sc = spark.sparkContext
    val evalF = JobOverlap.submit(sc)(spark.sparkContext.broadcast(
      DecontaminateStream.evalProbe(spark, dir)))
    // store-side artifacts (static join sides), off the cached
    // signature stage: the fingerprint index, the guarded bucket table
    // and the doc-keyed signature table for the pair-local verify
    val sigsChainF = JobOverlap.submit(sc) {
      val sigs = Dedup.shingleSigs(spark, dir)
      val ss = sigs.filter(!Admission.isArriving)
        .select(col("doc_id").as("sdoc"), col("hs").as("s_hs"),
          col("n_sh").cast("long").as("s_n"))
        .transform(graft.core.Materialize.once(_))
      val buckets = Dedup.bandBucketsOf(sigs)
      // the batch candidate generator's degenerate-bucket guard is sized
      // on WHOLE-CORPUS bucket occupancy — applying the same guard to the
      // static side keeps the stream's candidate set identical to the
      // batch's cross-restricted candidates
      val g = buckets.groupBy("band", "bucket")
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= Dedup.MaxBucket)
        .select("band", "bucket")
        .transform(graft.core.Materialize.once(_))
      val sb = buckets
        .join(g, Seq("band", "bucket"), "left_semi")
        .filter(!Admission.isArriving)
        .select(col("band"), col("bucket"), col("doc_id").as("sdoc"))
        .transform(graft.core.Materialize.once(_))
      (ss, g, sb)
    }
    val storeFpsF = JobOverlap.submit(sc) {
      graft.core.Materialize.once(
        Tables.documents(spark, dir)
          .filter(!Admission.isArriving)
          .select(md5(trim(coalesce(col("text"), lit("")))).as("fp"))
          .distinct())
    }
    val evalBc = JobOverlap.await(evalF)
    val (storeSigs, guarded, storeBuckets) = JobOverlap.await(sigsChainF)
    val storeFps = JobOverlap.await(storeFpsF)

    val stream = EventStream.documentsStream(spark, dir)
    // one row-local projection: quality columns, fingerprint, shingle
    // hashes, contamination count, signature, band buckets — then the
    // two stream-static probes; emitted rows are (doc × bucket) grain
    // with the verify verdict per colliding store doc
    val screened = Admission.screenCols(Tables.fanout(spark, stream))
      .filter(Admission.isArriving)
      .withColumn("hs", VectorFunctions.shingle_xxhashes(col("text")))
      .withColumn("n_sh", size(col("hs")).cast("long"))
      .withColumn("contam_n",
        VectorFunctions.sorted_set_count(col("hs"), evalBc))
      .withColumn("sig",
        VectorFunctions.minhash_sigs(col("hs"), Dedup.NumPerm))
      .withColumn("bb", explode(Dedup.bandStructsOfSig(col("sig"))))
      .select(col("doc_id"), col("source"), col("n_tok"), col("q_micro"),
        col("fp"), col("hs"), col("n_sh"), col("contam_n"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .join(storeBuckets, Seq("band", "bucket"), "left")
      .join(storeSigs, Seq("sdoc"), "left")
      .withColumn("inter",
        when(col("sdoc").isNotNull,
          size(array_intersect(col("hs"), col("s_hs"))).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("verified",
        col("sdoc").isNotNull &&
          round(col("inter").cast("double") /
            (col("n_sh") + col("s_n") - col("inter")), 4) >= 0.6)
      // the shingle hashes ride to the drain ONCE per document (band-0
      // rows), not once per emitted bucket row — at deployment scale the
      // drain's write volume is 1× the shingle table, not bands×
      .select(col("doc_id"), col("source"), col("n_tok"), col("q_micro"),
        col("fp"), col("contam_n"), col("verified"),
        when(col("band") === 0, col("hs")).as("hs_once"), col("n_sh"))

    // drained frame is batch data: collapse the bucket fan-out to one
    // row per document, then run the two elections + shared verdict
    val perDoc = EventStream.drainToFiles(spark, screened)
      .groupBy("doc_id")
      .agg(first(col("source")).as("source"), first(col("n_tok")).as("n_tok"),
        first(col("q_micro")).as("q_micro"), first(col("fp")).as("fp"),
        max(col("contam_n")).as("contam_n"), max(col("verified")).as("near_hit"),
        first(col("hs_once"), ignoreNulls = true).as("hs"),
        first(col("n_sh")).as("n_sh"))
      .transform(graft.core.Materialize.once(_))
    // within-batch near-dup pairs, batch-side only: band buckets
    // re-derived row-locally from the carried hashes (the SAME shared
    // expressions as the batch path), whole-corpus bucket guard applied,
    // self-join d1<d2, exact Jaccard verify at the q27 threshold
    // the bucket rows carry their own signature columns, so ONE
    // (band, bucket) self-join yields verify-ready pairs — the
    // pair-local verify runs per colliding band (≤ bands× duplicated
    // cheap array work) and the distinct collapses to the pair grain
    val bb = perDoc
      .select(col("doc_id"), col("hs"), col("n_sh"),
        explode(Dedup.bandStructsOfSig(
          VectorFunctions.minhash_sigs(col("hs"), Dedup.NumPerm))).as("bb"))
      .select(col("doc_id"), col("hs"), col("n_sh"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .join(guarded, Seq("band", "bucket"), "left_semi")
    val batchPairs = bb
      .select(col("band"), col("bucket"), col("doc_id").as("d1"),
        col("hs").as("h1"), col("n_sh").as("n1"))
      .join(bb.select(col("band"), col("bucket"), col("doc_id").as("d2"),
        col("hs").as("h2"), col("n_sh").as("n2")), Seq("band", "bucket"))
      .filter(col("d1") < col("d2"))
      .withColumn("inter2", size(array_intersect(col("h1"), col("h2"))).cast("long"))
      .filter(round(col("inter2").cast("double") /
        (col("n1") + col("n2") - col("inter2")), 4) >= 0.6)
      .select("d1", "d2").distinct()
    Admission.verdictsOver(
        perDoc.select("doc_id", "source", "n_tok", "q_micro", "fp"),
        storeFps,
        perDoc.filter(col("near_hit")).select("doc_id"),
        perDoc.filter(col("contam_n") > 0 &&
          col("doc_id") % Dedup.EvalDocModulus =!= 0).select("doc_id"),
        Admission.batchLabelsOf(spark, batchPairs))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q235_stream_admission" -> (q235StreamAdmission _))

  /** Stream ≡ batch by shared expressions, so the oracle is q234's,
    * verbatim (the q186/q204 convention). */
  val oracles: Map[String, String] = Map(
    "q235_stream_admission" -> Admission.admissionOracle)
}
