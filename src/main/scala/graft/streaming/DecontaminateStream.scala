package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.functions.VectorFunctions
import graft.operators.Dedup

/** DECONTAMINATION AT INGEST: the q62 benchmark-contamination check run
  * on the document firehose — every arriving document is shingled
  * map-only and probed against the eval set's shingle hashes, so a
  * contaminated document is flagged (or dropped) BEFORE it ever lands
  * in the training corpus, instead of by a later batch sweep over 100
  * TB. With q114 (near-dup screen), q135 (centroid assign), q141 (PQ
  * encode) and q152 (quality admission) this completes the at-ingest
  * family: every per-document curation decision the batch engine makes
  * has a streaming twin that shares its exact definition.
  *
  * Scale posture: the EVAL side is a benchmark/holdout set — bounded by
  * construction (a benchmark that needs a cluster to hold its shingle
  * set is not a benchmark), which is what makes the map-only form
  * legitimate: its distinct shingle hashes are collected ONCE under the
  * same guard as the batch path ([[Dedup.BroadcastShingleLimit]],
  * ~16 MB of longs at the default) and shipped SORTED as one broadcast;
  * each arriving document then pays |shingles|·log|eval| binary-search
  * probes inside whole-stage codegen
  * ([[graft.functions.SortedLongSetCount]] — exact, not a bloom: the
  * verdict gates document admission, so a false positive would drop
  * clean data). No watermark, no state store, ZERO streaming state; the
  * firehose never shuffles. Above the limit the answer is the batch
  * shuffle join (q62), not a bigger broadcast — the stream entry
  * fails fast rather than degrade.
  *
  * The emitted rows are EXACTLY q62's batch answer over the same corpus
  * (shared [[Dedup.decontaminateOracle]] text): contaminated train docs
  * with their distinct shared-shingle count — per-doc counts agree
  * because a doc's shingle-hash array is already distinct
  * ([[Dedup.shingleArray]]), so the row-local membership count IS
  * `count(DISTINCT shared)`.
  */
object DecontaminateStream extends graft.QueryModule {

  /** The eval slice's sorted shingle-hash probe array: built from the
    * batch signature stage (one corpus pass, already cached per corpus
    * version), bounded by the SAME limit the batch join's broadcast
    * decision uses, and held per corpus version in the ArtifactStore — the
    * probe set is the shipped artifact of an offline job in production,
    * so rebuilding the explode+distinct+sort per drain was fixture-only
    * overhead. Shared with [[AdmissionStream]], whose contamination
    * screen is this same probe. */
  private[streaming] def evalProbe(spark: SparkSession, dir: String): Array[Long] = {
    import spark.implicits._
    val isEval = col("doc_id") % Dedup.EvalDocModulus === 0
    val limit = math.min(
      spark.conf.getOption("spark.graft.decontam.broadcastShingleLimit")
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        .getOrElse(Dedup.BroadcastShingleLimit),
      Int.MaxValue - 1L).toInt
    graft.core.ArtifactStore.value(spark, dir, Seq("documents.parquet"),
        s"decontamProbe-$limit") { _ =>
      val hs = Dedup.shingleSigs(spark, dir).filter(isEval)
        .select(explode(col("hs")).as("h")).distinct()
        .as[Long].limit(limit + 1).collect()
      require(hs.length <= limit,
        s"eval shingle set exceeds the $limit-hash broadcast guard — " +
          "use the batch path (q62) for an eval set this large")
      java.util.Arrays.sort(hs)
      hs
    }
  }

  /** q167 — at-ingest contamination screen over `dir`'s documents. */
  def q167StreamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val evalBc = spark.sparkContext.broadcast(evalProbe(spark, dir))
    val stream = spark.readStream
      .schema(DedupStream.docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    // fan out before the per-doc shingle+hash+binary-search screen (the
    // micro-batch's dominant cost — see Tables.fanout)
    val screened = graft.core.Tables.fanout(spark, stream)
      .filter(col("doc_id") % Dedup.EvalDocModulus =!= 0)
      .select(col("doc_id"),
        VectorFunctions.sorted_set_count(
          VectorFunctions.shingle_xxhashes(coalesce(col("text"), lit(""))),
          evalBc).as("n_shared"))
      .filter(col("n_shared") > 0)
    EventStream.drainToFiles(spark, screened).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q167_stream_decontaminate" -> (q167StreamDecontaminate _))

  /** Full value oracle: the batch q62 answer, verbatim. */
  val oracles: Map[String, String] = Map(
    "q167_stream_decontaminate" -> Dedup.decontaminateOracle)
}
