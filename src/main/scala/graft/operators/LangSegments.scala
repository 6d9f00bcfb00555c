package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** CODE-SWITCH SEGMENTATION (SURVEY §2.9 text family, the window-level
  * refinement of q45/q179's document-level language ID): slice each
  * document into fixed [[SegWindowTokens]]-token windows, run the SAME
  * stopword-argmax language scorer per window
  * ([[TextOps.languageIdOfTokens]] — shared expression, so a window can
  * never disagree with a same-tokened document), and report the
  * document's language-mixing profile: window count, adjacent-window
  * switch count, dominant language and its share. A multilingual
  * corpus routes whole documents by q45; documents that SWITCH
  * mid-text (code-switching, boilerplate in a second language,
  * concatenation artifacts) need this view to be split or dropped —
  * doc-level argmax hides them by construction.
  *
  * Scale shape: map-only — windows, per-window scores, the switch
  * count and the dominant-language argmax are all row-local array
  * expressions over the token array (`transform`/`slice`/`filter`,
  * codegen'd, no explode, no shuffle); the only exchange is the output
  * sort. Fan-out opted in ([[Tables.fanout]]) for the per-row window
  * scoring.
  *
  * Parity: window starts, scores and counts are integers; the share is
  * one truncating division; ties break to the lexicographically LAST
  * language on both engines (the [[TextOps.languageId]] convention). */
object LangSegments extends graft.QueryModule {

  /** Window width in tokens (fixture docs run 10–99 tokens → 1–10
    * windows; a deployment sizes this to its segmenter granularity). */
  val SegWindowTokens = 10

  /** q205 — per-document language-mixing profile. */
  def q205CodeSwitchSegments(spark: SparkSession, dir: String): DataFrame = {
    segmentsOver(Tables.fanout(spark, Tables.documents(spark, dir)))
  }

  /** The profile over ANY (doc_id, text) frame — also the
    * `code_switch()` TVF body. */
  private[graft] def segmentsOver(docs: DataFrame): DataFrame = {
    val W = SegWindowTokens
    val langCodes = TextOps.stopwords.keys.toSeq.sorted
    docs
      .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("w"))
      .withColumn("n", size(col("w")))
      .filter(col("n") > 0)
      .withColumn("nw", ceil(col("n") / lit(W.toDouble)).cast("int"))
      .withColumn("langs",
        transform(sequence(lit(0), col("nw") - 1),
          k => TextOps.languageIdOfTokens(slice(col("w"), k * W + 1, lit(W)))))
      .withColumn("n_switches",
        when(col("nw") <= 1, 0L).otherwise(
          size(filter(sequence(lit(1), col("nw") - 1),
            i => element_at(col("langs"), i + 1) =!=
              element_at(col("langs"), i))).cast("long")))
      .withColumn("dom",
        element_at(array_sort(array(langCodes.map(l =>
          struct(
            size(filter(col("langs"), x => x === lit(l))).as("c"),
            lit(l).as("lang"))): _*)), -1))
      .select(
        col("doc_id"),
        col("nw").cast("long").as("n_windows"),
        col("n_switches"),
        col("dom").getField("lang").as("dominant_lang"),
        expr("(1000000 * dom.c) div nw").as("dominant_share_micro"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q205_code_switch_segments" -> (q205CodeSwitchSegments _))

  /** Full value oracle: windows via unnest + 1-based list slicing, the
    * stopword scores per window, the argmax CASE in ties-to-last
    * order, the lag-based switch count and the (count DESC, lang DESC)
    * dominant pick. */
  val oracles: Map[String, String] = Map(
    "q205_code_switch_segments" -> {
      val W = SegWindowTokens
      def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")
      val sw = TextOps.stopwords
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, w, CAST(ceil(len(w) / ${W.toDouble}) AS INT) AS nw
         |  FROM t WHERE len(w) > 0),
         |e AS (SELECT doc_id, nw, unnest(range(0, nw)) AS k, w FROM n),
         |seg AS (
         |  SELECT doc_id, nw, k, w[k*$W+1 : k*$W+$W] AS s FROM e),
         |sc AS (
         |  SELECT doc_id, nw, k,
         |    len(list_filter(s, x -> x IN (${inList(sw("de"))}))) AS s_de,
         |    len(list_filter(s, x -> x IN (${inList(sw("en"))}))) AS s_en,
         |    len(list_filter(s, x -> x IN (${inList(sw("es"))}))) AS s_es,
         |    len(list_filter(s, x -> x IN (${inList(sw("fr"))}))) AS s_fr
         |  FROM seg),
         |lg AS (
         |  SELECT doc_id, nw, k,
         |    CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
         |         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
         |         WHEN s_en >= s_de THEN 'en' ELSE 'de' END AS lang
         |  FROM sc),
         |sw_ AS (
         |  SELECT doc_id, any_value(nw) AS nw,
         |    CAST(sum(CASE WHEN prev IS NOT NULL AND lang <> prev
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
         |  FROM (SELECT *, lag(lang) OVER (PARTITION BY doc_id ORDER BY k) AS prev
         |        FROM lg)
         |  GROUP BY doc_id),
         |dom AS (
         |  SELECT doc_id, lang AS dominant_lang, c FROM (
         |    SELECT doc_id, lang, count(*) AS c,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY count(*) DESC, lang DESC) AS rk
         |    FROM lg GROUP BY doc_id, lang) WHERE rk = 1)
         |SELECT sw_.doc_id, CAST(sw_.nw AS BIGINT) AS n_windows,
         |  sw_.n_switches, dom.dominant_lang,
         |  CAST((1000000 * dom.c) // sw_.nw AS BIGINT) AS dominant_share_micro
         |FROM sw_ JOIN dom ON sw_.doc_id = dom.doc_id
         |ORDER BY sw_.doc_id""".stripMargin
    })
}
