package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Lexicon-based TAXONOMY TAGGING (SURVEY §2.9 text-analysis family):
  * assign every document a topic from small curated keyword lexicons —
  * the curation step a training-data pipeline runs to balance a corpus
  * by domain (code/law/medicine/news quotas) before mixing, and the
  * cheap first-pass router in front of expensive classifier tiers
  * (the q151 NB family scores ONE quality axis; this fans documents
  * into N domains with zero training).
  *
  * Scale shape: the lexicons are broadcast literals (a few hundred
  * words at production size); scoring is per-row array arithmetic over
  * the token array — map-only, no shuffle until the (source × topic)
  * report aggregate, whose cardinality is |sources|·|topics|. The
  * firehose never moves.
  *
  * Determinism contract: hits count token OCCURRENCES (not distinct
  * types); ties break by the FIXED topic declaration order via a
  * `>=`-chain (first listed wins), so the label is a pure function of
  * the token multiset on both engines — no float, no hash.
  *
  * Reference scope: the reference's text handling stops at LIKE/regex
  * filters (`sql/sample_athena_queries.sql:33-44`); taxonomy routing is
  * the §2.9 extension family's curation leg.
  */
object Taxonomy extends graft.QueryModule {

  /** Topic lexicons in TIE-BREAK ORDER (first listed wins a tie). The
    * fixture vocabulary is the synthetic query-engine wordlist, so the
    * lexicons partition it the way a real deployment's domain lists
    * partition natural text. */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "query" -> Seq("scan", "filter", "join", "agg", "group", "sort",
      "order", "window", "query"),
    "storage" -> Seq("table", "row", "column", "part", "batch", "data", "line"),
    "perf" -> Seq("fast", "slow", "small", "big", "merge", "hash", "key", "value"))

  /** Occurrence count of `lex` words in the token array. */
  private def hits(toks: Column, lex: Seq[String]): Column =
    size(filter(toks, t => lex.map(lit(_) === t).reduce(_ || _))).cast("long")

  /** Per-document topic assignment over ANY (doc_id, source, text)
    * frame — also the `topic_tag()` TVF body. Emits (doc_id, source,
    * topic, topic_hits). */
  private[graft] def tagged(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(coalesce(col("text"), lit("")))
    val withHits = docs.select(
      col("doc_id") +: col("source") +:
        Lexicons.map { case (t, lex) => hits(toks, lex).as(s"h_$t") }: _*)
    // first-listed-wins >=-chain, 'none' when every lexicon misses
    val names = Lexicons.map(_._1)
    val allZero = names.map(t => col(s"h_$t") === 0L).reduce(_ && _)
    val pick = names.init.zipWithIndex.foldRight(lit(names.last): Column) {
      case ((t, i), rest) =>
        when(names.drop(i + 1).map(u => col(s"h_$t") >= col(s"h_$u")).reduce(_ && _),
          lit(t)).otherwise(rest)
    }
    withHits.select(
      col("doc_id"), col("source"),
      when(allZero, lit("none")).otherwise(pick).as("topic"),
      greatest(names.map(t => col(s"h_$t")): _*).as("topic_hits"))
  }

  /** q184 — the corpus TOPIC MIX: documents tagged per the lexicons,
    * reported at (source, topic) grain with doc counts and total hits —
    * the table a mixing step reads to enforce domain quotas. */
  def q184TopicTag(spark: SparkSession, dir: String): DataFrame = {
    tagged(Tables.documents(spark, dir))
      .groupBy("source", "topic")
      .agg(count(lit(1)).as("n_docs"), sum(col("topic_hits")).as("sum_hits"))
      .orderBy("source", "topic")
  }

  /** Multi-token phrase lexicon of the q206 tagger, in output order.
    * Fixture-calibrated two-token collocations; a deployment loads its
    * real phrase list (entity names, banned phrases, domain terms). */
  val PhraseLexicon: Seq[String] = Seq(
    "big order", "customer join", "merge group",
    "part filter", "slow key", "table hash")

  /** q206 — PHRASE-LEXICON TAGGING: occurrence and document counts for
    * each MULTI-TOKEN phrase in [[PhraseLexicon]] — the Aho-Corasick /
    * FlashText job of a curation pipeline (entity inventories, banned-
    * phrase screens, domain-term audits), which single-token lexicons
    * ([[Lexicons]], q184) cannot express: "table hash" is a phrase
    * fact, not an intersection of token facts.
    *
    * Matching contract: tokenized bigram equality at token positions —
    * overlapping occurrences all count (`a a a` matches `a a` twice),
    * phrases never match across document boundaries, and every count
    * is a pure integer, so both engines agree exactly.
    *
    * Scale shape: bigrams are built row-locally (array `transform`,
    * map-only), then matched by a BROADCAST join against the phrase
    * list (requests-sized — even a 10⁵-phrase inventory broadcasts),
    * partially aggregated before the |phrases|-sized shuffle; unmatched
    * phrases are restored by a left join against the literal lexicon
    * frame so the report is total. The firehose never shuffles at
    * occurrence grain. */
  def q206PhraseTags(spark: SparkSession, dir: String): DataFrame = {
    phraseTagsOver(spark, Tables.fanout(spark, Tables.documents(spark, dir)))
  }

  /** The phrase report over ANY (doc_id, text) frame — also the
    * `phrase_tags()` TVF body. */
  private[graft] def phraseTagsOver(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val lex = PhraseLexicon.toDF("phrase")
    val grams = docs
      .select(col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))).as("w"))
      .withColumn("n", size(col("w")))
      .select(col("doc_id"),
        explode(when(col("n") >= 2,
          transform(sequence(lit(0), col("n") - 2),
            i => concat_ws(" ", col("w")(i), col("w")(i + 1))))
          .otherwise(typedLit(Seq.empty[String]))).as("gram"))
    val hits = grams
      .join(broadcast(lex), col("gram") === col("phrase"))
      .groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
    lex.join(hits, col("phrase") === col("gram"), "left")
      .select(col("phrase"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"))
      .orderBy("phrase")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q184_topic_tag" -> (q184TopicTag _),
    "q206_phrase_tags" -> (q206PhraseTags _))

  /** The per-document oracle CTEs (`h` with one h_<topic> column per
    * lexicon, plus the tie-chain CASE) — shared by the q184 report
    * oracle and the streaming router's per-doc oracle (q190). */
  private[graft] def perDocOracleSql: (String, String, String) = {
    def lexList(lex: Seq[String]) = lex.map(w => s"'$w'").mkString("[", ", ", "]")
    val hitCols = Lexicons.map { case (t, lex) =>
      s"len(list_filter(w, x -> list_contains(${lexList(lex)}, x))) AS h_$t"
    }.mkString(",\n    ")
    val names = Lexicons.map(_._1)
    val allZero = names.map(t => s"h_$t = 0").mkString(" AND ")
    val chain = names.init.zipWithIndex.map { case (t, i) =>
      val geq = names.drop(i + 1).map(u => s"h_$t >= h_$u").mkString(" AND ")
      s"WHEN $geq THEN '$t'"
    }.mkString("\n      ")
    val topicCase =
      s"""CASE WHEN $allZero THEN 'none'
         |      $chain
         |      ELSE '${names.last}' END""".stripMargin
    val great = names.map(t => s"h_$t").mkString(", ")
    (hitCols, topicCase, great)
  }

  /** Full value oracle: the same lexicons, occurrence counts and
    * >=-chain tie-break replayed in SQL. */
  val oracles: Map[String, String] = Map(
    "q184_topic_tag" -> {
      val (hitCols, topicCase, great) = perDocOracleSql
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, source,
         |    $hitCols
         |  FROM t)
         |SELECT source,
         |  $topicCase AS topic,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(greatest($great)) AS BIGINT) AS sum_hits
         |FROM h GROUP BY 1, 2 ORDER BY source, topic""".stripMargin
    },
    // q206: bigram construction + phrase match + totalizing left join
    // replayed; counts are pure integers.
    "q206_phrase_tags" -> {
      val lexList = PhraseLexicon.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= 2 THEN
         |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
         |    ELSE [] END) AS gram
         |  FROM t),
         |hits AS (
         |  SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    count(*) AS n_occurrences
         |  FROM b WHERE list_contains($lexList, gram) GROUP BY gram),
         |lex AS (SELECT unnest($lexList) AS phrase)
         |SELECT phrase,
         |  CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
         |  CAST(coalesce(n_occurrences, 0) AS BIGINT) AS n_occurrences
         |FROM lex LEFT JOIN hits ON phrase = gram
         |ORDER BY phrase""".stripMargin
    })
}
