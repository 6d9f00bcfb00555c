package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Taxonomy

/** STREAMING TOPIC ROUTER: q184's lexicon taxonomy run AT INGEST — each
  * arriving document is scored against the broadcast lexicons and
  * routed by its topic, with off-taxonomy documents (topic 'none')
  * dropped at the door (the q132/q152 batch-rule/score-at-ingest
  * posture applied to domain routing; in production each admitted
  * topic fans into its own landing prefix / downstream tier).
  *
  * Stateless row-local column math — no watermark, no state store, the
  * firehose never shuffles beyond the scan fan-out. The tag is a pure
  * function of the token multiset ([[Taxonomy.tagged]] — the SAME
  * column expression as batch), so the drained admission equals the
  * batch tagging minus the 'none' rows, and the q184 oracle machinery
  * gates this query at per-document grain. */
object RouteStream extends graft.QueryModule {

  /** q190 — streamed routing over `dir`'s documents table. */
  def q190StreamTopicRoute(spark: SparkSession, dir: String): DataFrame = {
    val stream = EventStream.documentsStream(spark, dir)
    val routed = Taxonomy.tagged(graft.core.Tables.fanout(spark, stream))
      .filter(col("topic") =!= "none")
    EventStream.drainToFiles(spark, routed).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_stream_topic_route" -> (q190StreamTopicRoute _))

  /** Per-document oracle from the shared q184 CTE pieces. */
  val oracles: Map[String, String] = Map(
    "q190_stream_topic_route" -> {
      val (hitCols, topicCase, great) = Taxonomy.perDocOracleSql
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, source,
         |    $hitCols
         |  FROM t),
         |p AS (
         |  SELECT doc_id, source,
         |    $topicCase AS topic,
         |    CAST(greatest($great) AS BIGINT) AS topic_hits
         |  FROM h)
         |SELECT doc_id, source, topic, topic_hits
         |FROM p WHERE topic <> 'none' ORDER BY doc_id""".stripMargin
    })
}
