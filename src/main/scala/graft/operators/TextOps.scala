package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** Text-analysis operators over the `documents` corpus (the north-star
  * LLM-data-pipeline surface, SURVEY §2.9): token statistics, document
  * fingerprinting, corpus profiling, quality scoring and a heuristic
  * language-ID.
  *
  * Everything here is built from codegen'd built-ins (`split`, `filter`,
  * higher-order array functions, `md5`, arithmetic) — no UDFs — so each
  * op runs embarrassingly parallel over document partitions with zero
  * shuffles except the final small aggregations. That is the shape that
  * holds at 100 TB: per-document work scales linearly, and the only
  * synchronization points are the roll-ups.
  */
object TextOps extends graft.QueryModule {

  /** Whitespace tokens with empties dropped — `split` + higher-order
    * `filter`, mirrored exactly by `list_filter(string_split(...))` on the
    * oracle side (consecutive/trailing separators yield empty strings in
    * both engines). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** SHARED tokenized-corpus stage: the one corpus pass the whole text
    * family reuses (q53/q54/q70/q78/q92/q109 — previously each
    * re-tokenized `documents` from scratch; at 100 TB tokenization is the
    * dominant repeated cost, exactly the problem [[SignatureStage]]
    * already solved for the shingle family).
    *
    * One row per token occurrence `(doc_id, dl, pos, token)` with
    * `dl` = the document's token count; token-less documents keep one
    * `(doc_id, 0, null, null)` row (`posexplode_outer`) so DOC-GRAIN
    * corpus stats (N, avgdl, support floors) also derive from the stage —
    * no consumer ever re-reads `text`. Built once per corpus version,
    * cached + materialized; with signature persistence on it lands as a
    * parquet table BUCKETED BY token, so vocabulary-keyed aggregations
    * and joins over the persisted stage plan without an Exchange on the
    * stage side. */
  def tokenStage(spark: SparkSession, dir: String): DataFrame =
    SignatureStage.stage(spark, dir, "tokens",
        Some(SignatureStage.BucketSpec(Seq("token"), 32))) {
      // fan out before the corpus tokenize (Tables.fanout): the cached
      // stage inherits the BUILD's partitioning, so a one-row-group
      // corpus would otherwise hand every stage consumer a
      // single-partition cache (the bucketed PERSISTED form re-shuffles
      // on its bucket columns regardless, so the fanout only ever adds
      // build parallelism)
      tokenized(Tables.fanout(spark, Tables.documents(spark, dir)))
    }

  /** The stage's tokenize pass over ANY (doc_id, text) frame —
    * (doc_id, dl, pos, token) occurrence grain, with a marker row
    * (null pos/token) for token-less docs so corpus-grain stats derive
    * from the stage too. Shared by [[tokenStage]] and the incremental
    * maintenance path ([[Corpus.incrementalTokens]]), so "carry or
    * rebuild" can never drift from the full build's definition. */
  private[graft] def tokenized(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        posexplode_outer(col("toks")).as(Seq("pos", "token")))

  /** Token-occurrence stream from the stage (drops the token-less-doc
    * marker rows). */
  private[operators] def tokenStream(spark: SparkSession, dir: String): DataFrame =
    tokenStage(spark, dir).filter(col("token").isNotNull)

  /** Corpus size as a 1-row frame derived from the stage (counts the
    * marker rows too, so it equals `count(*)` over `documents`).
    * Deliberately NOT a documents-table count: the text family's
    * one-corpus-pass contract (PlanAuditSpec) is zero parquet scans
    * per consumer once the stage is warm, and the distinct here reads
    * the CACHED stage, so the repeated-broadcast cost q109 pays is an
    * in-memory aggregate, not a corpus scan.
    *
    * The contract has exactly TWO documented exceptions, each allowed
    * ONE doc-grain `documents` scan ([[graft.operators.Sampling]]
    * `dsirFeatures` for q129/q132, [[q159BigramLm]]): adjacent-pair
    * features are a row-local fact of the token ARRAY, so deriving them
    * map-side from a fresh doc scan removes the occurrence-stream
    * shuffle+sort a lead()/lag() window over the stage would pay — the
    * right trade at any scale (doc-grain scan ≪ occurrence-grain
    * exchange). PlanAuditSpec pins both exceptions at exactly one scan
    * so neither direction can silently drift. */
  private[operators] def corpusSize(spark: SparkSession, dir: String): DataFrame =
    tokenStage(spark, dir).agg(countDistinct(col("doc_id")).as("n_docs"))

  /** Deterministic document fingerprint: md5 over the trimmed text
    * (SURVEY §2.9 "document fingerprinting"; the rolling-hash variant for
    * streaming chunks lives in [[Dedup.shingles]]). */
  def fingerprint(text: Column): Column = md5(trim(text))

  /** Heuristic n-gram language-ID (not oracle-checked — the synthetic
    * corpus shares one vocabulary across langs; the op exists for the
    * plumbing and is spec-tested on crafted inputs). Scores tiny
    * stopword lists per language and takes the argmax, ties broken by
    * language code order. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  def languageId(text: Column): Column =
    languageIdOfTokens(tokens(lower(text)))

  /** The same argmax over an ALREADY-TOKENIZED (lowercased) array —
    * shared by the doc-level [[languageId]] and the window-level
    * segmentation ([[LangSegments]]), so a window can never score
    * differently from a whole document with the same tokens. */
  private[graft] def languageIdOfTokens(toks: Column): Column = {
    // score(lang) = #tokens in lang's stopword list
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(filter(toks, t => words.map(lit(_) === t).reduce(_ || _))).as("score"),
        lit(lang).as("lang"))
    }
    // argmax by (score, reverse-lang) via array_max over structs:
    // struct comparison is field-order lexicographic, so put score first.
    element_at(array_sort(array(scored: _*)), -1).getField("lang")
  }

  /** q21 — per-document token statistics + fingerprint (SURVEY §2.9
    * "token counting"): token count, distinct-token count, average token
    * length, md5 fingerprint. All integer-derived arithmetic, so the
    * oracle matches bit-for-bit. */
  def q21TextStats(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_letters"),
        fingerprint(col("text")).as("fp"))
      .withColumn("avg_token_len",
        round(col("n_letters").cast("double") / col("n_tokens"), 4))
      .orderBy("doc_id")
  }

  /** q22 — corpus profile by language: doc counts, average length, and a
    * stopword-incidence measure (the reference's per-group profiling
    * shape, `sql/sample_athena_queries.sql:84-90`, applied to text). */
  def q22LangProfile(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        sum(when(col("text").contains("the"), 1L).otherwise(0L)).as("docs_with_the"))
      .orderBy("lang")
  }

  /** q23 — document quality scoring (SURVEY §2.9 "quality scoring"):
    * a deterministic score from token count and lexical diversity,
    * bucketed into quality tiers. Integer-derived doubles keep the
    * oracle exact. */
  def q23QualityScore(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val toks = tokens(col("text"))
    val scored = Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks).cast("double").as("n_tokens"),
        size(array_distinct(toks)).cast("double").as("n_distinct"))
      .withColumn("quality_score",
        round(least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
              (col("n_distinct") / col("n_tokens")) * 0.5, 4))
    scored
      .groupBy(
        when(col("quality_score") >= 0.6, "high")
          .when(col("quality_score") >= 0.4, "medium")
          .otherwise("low").as("quality_tier"))
      .agg(
        count(lit(1)).as("n_docs"),
        // scores are 4-dp quantized: sum them as exact 1e-4 integers so
        // the tier average can never tie-flip across engines
        sum(round(col("quality_score") * 10000).cast("long")).as("sum_e4"))
      .select(col("quality_tier"), col("n_docs"),
        (floor((col("sum_e4") * 2 + col("n_docs")) /
          (col("n_docs") * 2)) / 10000.0).as("avg_score"))
      .orderBy("quality_tier")
  }

  /** q45 — language-ID distribution: run [[languageId]] over the corpus
    * and count predictions (SURVEY §2.9 "language-ID"). The synthetic
    * corpus is English-vocabulary for every `lang` tag, so the value here
    * is the plumbing + exact argmax/tie-break semantics, which the oracle
    * reproduces as an ordered CASE over per-language stopword scores. */
  def q45LangId(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.documents(spark, dir)
      .groupBy(languageId(col("text")).as("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("predicted_lang")
  }

  /** q179 — LANG-ID CONFUSION MATRIX: the q45 heuristic evaluated
    * against the corpus' declared `lang` column — per (declared,
    * predicted) cell counts with the agreement flag. q45 reports what
    * the classifier SAYS; this reports where it is RIGHT — the
    * evaluation table that decides whether the cheap stopword heuristic
    * suffices for routing or a per-language corpus needs a real model
    * (the q151/q175 classifier-eval posture applied to lang-id).
    * One aggregate over the corpus scan; the cell frame is
    * |langs|²-bounded. */
  def q179LangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    langidConfusion(Tables.documents(spark, dir))
  }

  /** The confusion matrix over ANY (lang, text) frame — also the
    * `langid_confusion()` TVF body. */
  private[graft] def langidConfusion(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"), languageId(col("text")).as("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("predicted_lang"), col("n_docs"),
        (col("lang") === col("predicted_lang")).as("agree"))
      .orderBy("lang", "predicted_lang")

  /** Rolling polynomial fingerprint over the UTF-8 BYTES of a string:
    * h = fold(bytes, 0, (acc, b) → (acc·31 + b) mod 1e9+7). Byte-exact
    * (non-ASCII safe); the modulus keeps every intermediate < 3.3e10, so
    * ANSI-mode overflow checking never fires. Native codegen'd expression
    * ([[graft.functions.RollingHash64]]) — one tight byte loop per doc;
    * the interpreted `aggregate`-over-hex-pairs form it replaced survives
    * as [[rollingFingerprintComposable]] for the parity spec and as the
    * oracle shape. (This is the order-sensitive rolling variant of
    * [[fingerprint]]: md5 fingerprints equality, the rolling hash is the
    * building block for content-defined chunking and incremental
    * re-hashing.) */
  def rollingFingerprint(text: Column): Column =
    graft.functions.VectorFunctions.rolling_hash(text)

  /** Built-ins-only form of [[rollingFingerprint]] (bytes recovered from
    * `hex(binary)` pairs, fold via `aggregate`) — kept as the executable
    * specification the native expression is spec-checked against. */
  private[operators] def rollingFingerprintComposable(text: Column): Column = {
    val hx = hex(text.cast("binary"))
    val n = (length(hx) / 2).cast("int")
    when(n === 0, lit(0L)).otherwise(
      aggregate(
        sequence(lit(1), n),
        lit(0L),
        (acc, i) =>
          pmod(acc * 31 + conv(hx.substr(i * 2 - 1, lit(2)), 16, 10).cast("long"),
            lit(1000000007L))))
  }

  /** q46 — rolling-hash document fingerprints (SURVEY §2.9 "document
    * fingerprinting (rolling hash)"): per-document rolling fingerprint +
    * collision grouping (same shape as the md5 exact-dedup q24, over the
    * order-sensitive hash). */
  def q46RollingFp(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), rollingFingerprint(trim(col("text"))).as("rolling_fp"))
      .orderBy("doc_id")
  }

  /** BPE-ish subword tokenization by regex: letter runs capped at 4
    * chars (the subword pieces), digit runs, and punctuation runs — the
    * cheap estimator for "how many BPE tokens would this text cost"
    * (SURVEY §2.9 "token counting: whitespace + a BPE-ish regex"). Both
    * engines' regex engines split greedy-left identically on this
    * pattern. */
  val BpePattern = "[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9 ]+"

  /** q47 — token-cost profile: whitespace tokens vs BPE-ish subword
    * tokens per document, with the inflation ratio (tokens-per-word
    * estimate). Map-only over documents; pure codegen'd built-ins. */
  def q47TokenBpe(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long")
          .as("n_bpe_tokens"))
      // empty/whitespace-only docs: 0 tokens → ratio pinned to 0.0 (the
      // oracle guards identically; unguarded, Spark says NaN and DuckDB
      // 1.0 says NULL — a silent parity break on any corpus with an
      // empty document)
      .withColumn("bpe_inflation",
        when(col("n_ws_tokens") === 0, lit(0.0))
          .otherwise(round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 4)))
      .orderBy("doc_id")
  }

  /** q53 — corpus vocabulary profile: the 20 most frequent tokens with
    * document frequency. The classic first look at any training corpus.
    * Explode → two-level aggregate; partial aggregation makes the
    * shuffle carry one row per distinct token per mapper, not one per
    * occurrence — the shape that survives a 100 TB corpus (vocabulary
    * is sublinear in corpus size). */
  def q53VocabTop(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    tokenStream(spark, dir)
      .groupBy("token")
      .agg(
        count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("token"))
      .limit(20)
  }

  /** q54 — TF-IDF term salience: top-3 terms per document by
    * tf · ln(N/df). One explode, one (doc,token) aggregate, one token
    * aggregate joined back, one window top-k — no per-document loops,
    * no vocabulary collect. Ranking uses the ROUNDED score (then token)
    * so the order is reproducible across engines regardless of
    * last-ulp differences in ln. */
  def q54TfIdf(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    import org.apache.spark.sql.expressions.Window
    // corpus size as a broadcast 1-row aggregate over the shared token
    // stage — a driver-side count() would be an eager second action, a
    // documents count a second corpus scan
    val nDocs = corpusSize(spark, dir).select(col("n_docs").cast("double").as("n_docs"))
    val tf = tokenStream(spark, dir)
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    // document frequency via a window over the aggregated tf frame: a
    // groupBy + join-back would replan the explode subtree and scan the
    // corpus twice (same shape as the q70 BM25 df derivation)
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") / col("df")), 4))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("token"), col("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** PRODUCTION compression-ratio quality signal (the deflate filter):
    * per-doc ratio via the native [[graft.functions.DeflateRatio]]
    * expression. Map-only scan; deterministic for a given zlib, but zlib
    * output is not reproducible in the oracle engine — the [[q61CompressRatio]]
    * gate checks it against an oracle-computable entropy proxy instead of
    * exposing the raw ratios. */
  def compressionRatios(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(graft.functions.VectorFunctions.deflate_ratio(col("text")), 4)
          .as("deflate_ratio"))
      .orderBy("doc_id")
  }

  /** q61 gate bounds. Measured on the fixtures (both driver SFs):
    * ratios sit in [0.38, 1.13] (deflate never expands text beyond the
    * small-input header overhead) and the Pearson correlation between
    * deflate ratio and the distinct-token ratio — the oracle-computable
    * entropy proxy — is ≈ 0.95; the floors leave wide margin while a
    * broken deflate (all-zero, inverted, or uncorrelated output) fails
    * them immediately. */
  val DeflateRatioMax = 1.5
  val DeflateCorrFloor = 0.5

  /** q61 — the compression-ratio VERDICT GATE (same pattern as the
    * q28/q30/q43/q49 gates): [[compressionRatios]] validated IN-PLAN
    * against the distinct-token entropy proxy, emitting the corpus count
    * plus bounds/correlation booleans — zlib bytes never reach the
    * output, so the DuckDB oracle asserts the row literally (full
    * hash-match instead of rows-only). Production callers use
    * [[compressionRatios]]. */
  def q61CompressRatio(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(
        graft.functions.VectorFunctions.deflate_ratio(col("text")).as("r"),
        (size(array_distinct(toks)).cast("double") /
          greatest(size(toks), lit(1))).as("dtr"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("r")).as("rmin"), max(col("r")).as("rmax"),
        corr(col("r"), col("dtr")).as("c"))
      .select(
        col("n_docs"),
        (col("rmin") > 0.0 && col("rmax") <= DeflateRatioMax).as("bounds_ok"),
        (col("c") >= DeflateCorrFloor).as("corr_ok"))
  }

  /** Chunking parameters: window size and stride in tokens (overlap =
    * [[ChunkSize]] − [[ChunkStride]]). */
  val ChunkSize = 40
  val ChunkStride = 30

  /** q65 — sliding-window CHUNKING with overlap: each document explodes
    * into [[ChunkSize]]-token windows every [[ChunkStride]] tokens (the
    * long-context splitting step before embedding or packing), each
    * chunk carrying its token count and content fingerprint. Map-only —
    * a pure per-row explode, embarrassingly parallel at any corpus
    * size; chunk count per doc is ⌈max(n−C, 0) / S⌉ + 1 so the final
    * partial window is kept and no token is dropped. */
  def chunkOverlap(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0, "chunk size and stride must be positive")
    val toks = tokens(col("text"))
    val nChunks = (ceil(greatest(col("n_tokens") - size, lit(0)) /
      lit(stride.toDouble)) + 1).cast("int")
    docs
      .select(col("doc_id"), toks.as("toks"), org.apache.spark.sql.functions.size(toks).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), nChunks - 1)).as(Seq("chunk_idx", "c")))
      .select(
        col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * stride + 1, lit(size)).as("ct"))
      .select(
        col("doc_id"), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("ct")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("ct"))).as("chunk_fp"))
  }

  def q65ChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    chunkOverlap(Tables.documents(spark, dir), ChunkSize, ChunkStride)
      .orderBy("doc_id", "chunk_idx")
  }

  /** q68 — intra-document repetition signals (the Gopher/C4-style
    * repetition filters: Rae et al. 2021 §A1.1 uses duplicate-line and
    * repeated-n-gram fractions to drop degenerate documents):
    *   - `dup_token_frac`   = 1 − distinct/total tokens,
    *   - `top_token_frac`   = most-frequent-token share,
    *   - `dup_2gram_frac`   = 1 − distinct/total bigrams,
    * plus a `repetition_tier` classification over the rounded signals.
    *
    * Everything is map-side: the most-frequent-token count comes from the
    * max run length of the SORTED token array (one `array_sort` + one
    * `aggregate` fold per document, no (doc, token) shuffle) — per-doc
    * O(n log n), zero exchanges at any corpus size. The oracle computes
    * the same count relationally (unnest → group → max), which is equal
    * by definition. */
  def q68Repetition(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val toks = tokens(col("text"))
    // max run in sorted order == max occurrence count of any token
    val maxRun = aggregate(
      array_sort(col("toks")),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, t) => {
        val run = when(t === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    val bigrams = transform(sequence(lit(1), col("n") - 1),
      i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)))
    val sig = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
      .filter(col("n") > 0)
      .select(
        col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") / col("n"), 4)
          .as("dup_token_frac"),
        round(maxRun.cast("double") / col("n"), 4).as("top_token_frac"),
        when(col("n") < 2, lit(0.0)).otherwise(
          round(lit(1.0) - size(array_distinct(bigrams)).cast("double") / (col("n") - 1), 4))
          .as("dup_2gram_frac"))
    sig
      .withColumn("repetition_tier",
        when(col("top_token_frac") > 0.2 || col("dup_2gram_frac") > 0.5, "repetitive")
          .otherwise("clean"))
      .orderBy("doc_id")
  }

  /** Boilerplate detection parameters: shingle width (tokens), the
    * "appears in ≥ this many documents" threshold, and the report size. */
  val BoilerK = 3
  val BoilerMinDocs = 3
  val BoilerTop = 50

  /** q73 — inter-document BOILERPLATE n-gram detection (the cross-corpus
    * complement of q68's intra-document repetition): token shingles that
    * recur across ≥ [[BoilerMinDocs]] distinct documents, ranked by
    * document frequency — the C4-style "this 3-gram is a template/header,
    * strip or down-weight it" signal (Raffel et al. 2020 §2.2 drop
    * repeated boilerplate lines; this is the n-gram generalization).
    *
    * Scale shape: shingles are distinct WITHIN a document before the
    * explode ([[Dedup.shingleArray]]), so the one aggregation counts
    * documents with a plain `count`, not a `countDistinct` — partial
    * aggregation collapses each mapper's contribution to one row per
    * distinct shingle, and the shuffle carries the (sublinear) shingle
    * vocabulary, never the corpus token stream. The final report is a
    * bounded top-k. */
  def q73Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    // the exploded per-doc-distinct shingle table is a SignatureStage:
    // built once per corpus version, cached/persisted, shared by every
    // report over the same corpus (the k=3 sibling of the k=5 near-dup
    // family stage)
    val sh = SignatureStage.stage(spark, dir, s"shingles_k$BoilerK")(
      Dedup.shingles(Tables.documents(spark, dir), BoilerK))
    sh
      .groupBy(col("s").as("shingle"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= BoilerMinDocs)
      .orderBy(col("n_docs").desc, col("shingle"))
      .limit(BoilerTop)
  }

  /** q78 — corpus-self-trained UNIGRAM LM scoring (the CCNet-style
    * perplexity-proxy quality signal: documents whose tokens are
    * improbable under the corpus LM are noise; documents whose tokens
    * are too probable are boilerplate — filtering cuts both tails).
    * Per-token surprisal −log2 p(t) with p(t) = corpus count / corpus
    * size; per-document mean bits/token.
    *
    * Plan shape at scale: the token stream is reduced to per-doc term
    * frequencies FIRST (map-side-combined groupBy — the only shuffle
    * that carries corpus-proportional rows), corpus counts per token
    * type come from a window over that already-aggregated frame
    * partitioned BY TOKEN (so the vocabulary never coalesces to one
    * partition — a global window here would single-thread a billion-type
    * vocabulary), and the corpus token total is one scalar row attached
    * by broadcast cross join (the BM25 move; its scan is column-pruned
    * and explode-free). Parity: per-token surprisal is fixed to INTEGER
    * micros before the order-sensitive sum, and the per-doc mean uses
    * half-up integer division — so float addition order can never flip
    * a score in either engine. */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val docTok = docs
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // corpus total: one tiny row, broadcast by the cross join; the scan
    // reads only `text` and never explodes
    val total = docs.agg(sum(size(toks)).cast("long").as("n_total"))
    unigramCore(docTok, total)
  }

  /** Per-doc integer LM surprisal: (doc_id, n_tokens, bits_e4) where
    * bits_e4 = mean bits/token half-up-quantized to 1e-4 units, as an
    * exact int64 — the sortable difficulty key q144 buckets on and the
    * integer q78 divides down for display. */
  private[graft] def unigramBitsE4(docTok: DataFrame, total: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docTok
      .withColumn("cnt", sum(col("tf")).over(Window.partitionBy("token")))
      .crossJoin(broadcast(total))
      .withColumn("micro_bits",
        round(-log2(col("cnt").cast("double") / col("n_total")) * 1000000)
          .cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("micro_bits") * col("tf")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        floor((col("s") * 2 + col("n_tokens") * 100) /
          (col("n_tokens") * 200)).cast("long").as("bits_e4"))
  }

  private def unigramCore(docTok: DataFrame, total: DataFrame): DataFrame =
    unigramBitsE4(docTok, total)
      .select(col("doc_id"), col("n_tokens"),
        (col("bits_e4") / 10000.0).as("bits_per_token"))
      .orderBy("doc_id")

  def q78UnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    // both inputs from the shared token stage: per-doc term frequencies
    // and the corpus token total (= the stage's occurrence-row count) —
    // no corpus re-tokenize ([[unigramLogprob]] stays as the generic
    // any-frame entry point for the `lm_score` TVF)
    unigramCore(
      tokenStream(spark, dir).groupBy("doc_id", "token").agg(count(lit(1)).as("tf")),
      tokenStage(spark, dir).agg(count(col("token")).as("n_total")))
  }

  /** Begin-of-document sentinel for the q159 bigram history at position
    * 1. Reserved: the fixture vocabulary is plain lowercase words, so
    * the sentinel can never collide with a real token. */
  val BosToken = "<s>"

  /** q159 — corpus-self-trained BIGRAM LM scoring: the order-2 upgrade
    * of q78 and one step toward the 5-gram KenLM filter CCNet actually
    * ships (Wenzek et al. 2020 §3.3) — per-position surprisal
    * −log₂ p(wᵢ | wᵢ₋₁) under add-1 smoothing, per-document mean
    * bits/token. Context for position 1 is the [[BosToken]] sentinel.
    * A document of common words in UNCOMMON ORDER now scores high
    * (noise the unigram model can't see); boilerplate word sequences
    * score low.
    *
    * Plan shape (the q78 contract, one order up): positions come off
    * the shared token stage with a per-doc lag window (the q92
    * adjacency move); per-(doc, h, w) frequencies are the one
    * corpus-sized shuffle; the model is the (h, w)-grain aggregate with
    * per-HISTORY totals from a window partitioned BY h (never a global
    * window — a billion-history model stays parallel); the
    * vocabulary²-sparse model is kept DISTRIBUTED and scoring joins on
    * (h, w) — the q151 posture, one order up from q78's token join.
    * Per-(h, w)-type surprisal fixes to INTEGER micro-bits before the
    * order-sensitive per-doc sum; the mean is the q78 half-up integer
    * division. */
  def q159BigramLm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Sessions.prepare(spark)
    val st = tokenStream(spark, dir)
    // (history, word) pairs derived MAP-SIDE from the token array (the
    // q129 move): the previous lag() window shuffled AND sorted the
    // whole occurrence stream to look one position back — position 0
    // takes the BOS sentinel, position i takes t[i-1], exactly the
    // lag-with-coalesce semantics over the stage's pos order
    val bg = graft.core.Tables.fanout(spark,
        graft.core.Tables.documents(spark, dir))
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(expr(
        s"transform(t, (x, i) -> struct(" +
          s"CASE WHEN i = 0 THEN '$BosToken' ELSE t[i - 1] END AS h, " +
          "x AS w))")).as("p"))
      .select(col("doc_id"), col("p.h").as("h"), col("p.w").as("w"))
    val pairTf = bg.groupBy("doc_id", "h", "w").agg(count(lit(1)).as("tf"))
    val model = pairTf.groupBy("h", "w").agg(sum(col("tf")).as("cnt"))
      .withColumn("htot", sum(col("cnt")).over(Window.partitionBy("h")))
    val vocab = st.agg(countDistinct(col("token")).as("v"))
    val scores = model.crossJoin(broadcast(vocab))
      .select(col("h"), col("w"),
        round(-log2((col("cnt") + 1).cast("double") / (col("htot") + col("v"))) * 1000000)
          .cast("long").as("micro_bits"))
    pairTf.join(scores, Seq("h", "w"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"), sum(col("tf") * col("micro_bits")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (floor((col("s") * 2 + col("n_tokens") * 100) /
          (col("n_tokens") * 200)) / 10000.0).as("bits_per_token"))
      .orderBy("doc_id")
  }

  /** Bucket count for the q144 perplexity curriculum (CCNet's
    * head/middle/tail generalized to deciles). */
  val PerplexityBuckets = 10

  /** q144 — PERPLEXITY BUCKETING (Wenzek et al. 2020, CCNet; Bengio et
    * al. 2009 curriculum learning): the corpus partitioned into
    * [[PerplexityBuckets]] difficulty buckets by the q78 unigram
    * surprisal score, with per-bucket doc/token mass and score range —
    * the manifest a curriculum schedule or a CCNet-style quality
    * filter consumes ("train on head+middle, drop tail").
    *
    * SCALE SHAPE — deliberately NOT a global NTILE (a corpus-sized
    * single-partition sort): docs aggregate to a VALUE-GRAIN histogram
    * of the integer score (distinct bits_e4 values ≪ corpus, the q70
    * df-frame argument), the cumulative window runs over that bounded
    * histogram, and every doc with the same score lands in the same
    * bucket (value-threshold buckets, the CCNet posture — bucket
    * boundaries are score thresholds, so sizes wobble only at ties).
    * Integer end-to-end: bits_e4 is the q78 int64 key, the bucket id is
    * pure integer division, the only doubles are the /1e4 range
    * displays. */
  def q144PerplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    import org.apache.spark.sql.expressions.Window
    val db = unigramBitsE4(
      tokenStream(spark, dir).groupBy("doc_id", "token").agg(count(lit(1)).as("tf")),
      tokenStage(spark, dir).agg(count(col("token")).as("n_total")))
    val hist = db.groupBy("bits_e4")
      .agg(count(lit(1)).as("nv"), sum(col("n_tokens")).as("tv"))
    val total = hist.agg(sum(col("nv")).cast("long").as("n_docs_total"))
    // value-grain cumulative — the window frame is the bounded histogram
    val wv = Window.orderBy("bits_e4")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum_before", coalesce(sum(col("nv")).over(wv), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("bucket",
        expr(s"(cum_before * $PerplexityBuckets) div n_docs_total").cast("int"))
      .groupBy("bucket")
      .agg(
        sum(col("nv")).as("n_docs"),
        sum(col("tv")).as("total_tokens"),
        (min(col("bits_e4")) / 10000.0).as("min_bits_per_token"),
        (max(col("bits_e4")) / 10000.0).as("max_bits_per_token"))
      .orderBy("bucket")
  }

  /** Collocation-mining support floor: a bigram must occur this often
    * to be scored (PMI of singletons is noise). */
  val PmiMinPair = 5

  /** q92 — PMI collocations: top bigrams by pointwise mutual information
    * (log₂ p(ab)/(p(a)p(b))) — the collocation extractor a tokenizer/
    * vocabulary pipeline runs to find multi-word units worth merging.
    *
    * Scan budget (spec-gated at exactly 2, the q70 BM25 standard):
    * unigrams and bigrams explode together as tagged rows into one
    * aggregation shape; the second-word lookup and the totals row REUSE
    * the first two branches\u2019 exchanges (ReusedExchange, spec-gated), so
    * four logical consumers cost two physical corpus scans \u2014 the join
    * constraint inference pushes `isnotnull` predicates on the derived
    * word keys into the bigram branch only, which keeps that branch\u2019s
    * exchange from unifying with the unigram one (the alternative, a
    * pinned cache of the counts frame, is a worse trade inside a
    * query operator). Count frames are vocab-sized, so the attach joins
    * broadcast under AQE; totals attach as a 1-row broadcast. PMI lands
    * as integer micro-bits (round(log\u2082\u00b71e6), the q78 contract) so
    * ordering and the gate are ulp-proof. */
  def q92PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    pmiScored(spark, dir)
      .orderBy(desc("pmi_micro"), col("bigram"))
      .limit(30)
  }

  /** The unranked PMI-scored bigram frame behind q92, shared with the
    * q214 phrase-search phrase list (same stage, same scoring — a
    * phrase query can never disagree with the collocation report). */
  private[operators] def pmiScored(spark: SparkSession, dir: String): DataFrame = {
    // unigram + bigram counts as their own corpus-keyed stage — the
    // n-gram count table a collocation pipeline materializes once and
    // queries many times. Built from the shared token stage (adjacency =
    // lead(token) over (doc, pos), replacing the per-doc array walk), so
    // the whole query re-tokenizes nothing; and because the THREE
    // consumers below (bigram rows, word lookups, totals) read this
    // vocab-sized cached frame directly, none of them re-runs the
    // corpus-sized window+aggregation — explicit reuse, not
    // ReusedExchange-dependent (AQE does not reuse canonically-equal
    // stages above a cached-relation leaf, measured on this plan).
    val counts = SignatureStage.stage(spark, dir, "ngram_counts") {
      import org.apache.spark.sql.expressions.Window
      val st = tokenStream(spark, dir).filter(col("dl") >= 2)
      val withNext = st.withColumn("nxt",
        lead(col("token"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      val tagged = withNext.select(explode(concat(
        array(struct(lit("u").as("kind"), col("token").as("key"))),
        when(col("nxt").isNotNull,
          array(struct(lit("b").as("kind"),
            concat_ws(" ", col("token"), col("nxt")).as("key"))))
          .otherwise(array().cast("array<struct<kind:string,key:string>>")))).as("e"))
        .select(col("e.kind").as("kind"), col("e.key").as("key"))
      // group on KEY alone (unigram and bigram keys are disjoint —
      // bigrams contain a space): `kind` rides along as an aggregate
      tagged.groupBy("key")
        .agg(count(lit(1)).as("cnt"), max(col("kind")).as("kind"))
    }
    val uni = counts.filter(col("kind") === "u")
      .select(col("key").as("w"), col("cnt").as("c"))
    val big = counts.filter(col("kind") === "b")
      .filter(col("cnt") >= PmiMinPair)
      .select(col("key").as("bigram"), col("cnt").as("n_pair"),
        // get() not getItem(): ANSI indexing throws where a predicate
        // reorder lets a unigram key reach this projection
        get(split(col("key"), " "), lit(0)).as("w1"),
        get(split(col("key"), " "), lit(1)).as("w2"))
    val totals = counts.groupBy().agg(
      sum(when(col("kind") === "u", col("cnt"))).as("n_u"),
      sum(when(col("kind") === "b", col("cnt"))).as("n_b"))
    val ratio = (col("n_pair").cast("double") * col("n_u") * col("n_u")) /
      (col("n_b").cast("double") * col("c1") * col("c2"))
    big
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("n_pair"),
        col("c1").as("n_first"), col("c2").as("n_second"),
        round(log2(ratio) * lit(1e6)).cast("long").as("pmi_micro"))
  }

  /** Fractional support floor for [[q109Cooccurrence]] — scale-free, the
    * standard frequent-itemset formulation.
    *
    * Why the explode fan-out stays bounded at 100 TB (round-15 verdict
    * item 7 — the floor is already corpus-size-DERIVED, `⌈s·nd⌉` inside
    * the plan, so the bound holds at any scale): a frequent token has
    * df ≥ s·nd, and Σ_w df(w) over the whole vocabulary is at most
    * nd·D̄ (D̄ = mean DISTINCT tokens per document), so the frequent set
    * F satisfies |F| ≤ D̄/s — independent of corpus SIZE, a function of
    * document SHAPE only (s = 0.1 ⇒ |F| ≤ 10·D̄). Per-document pair
    * fan-out is C(k_d, 2) with k_d = |distinct(d) ∩ F| ≤ min(|distinct
    * (d)|, D̄/s), so one pathological document generates at most
    * min(|d|, 10·D̄)²/2 pairs and a single HOT token cannot pair-bomb a
    * document at all — a token contributes k_d−1 pairs in doc d, once,
    * regardless of its corpus frequency. The thing that CAN grow the
    * explode is a heavier-tailed document-length distribution, and the
    * answer is the classic one the scaladoc below states: raise the
    * floor. */
  val CoocSupport = 0.1

  /** q109 — frequent token CO-OCCURRENCE (document-level pair mining,
    * the Apriori complement of q92's adjacency PMI): token pairs
    * appearing together in ≥ [[CoocSupport]] of documents. The Apriori
    * property does the scaling work: only FREQUENT singles (one
    * vocab-grain aggregate + broadcast) participate in pair generation,
    * so the per-doc pair explosion is bounded by the per-doc
    * frequent-token count² — never vocabulary², never corpus² (the
    * pruning that makes frequent-itemset mining feasible at all; a
    * support floor any lower than memory allows is answered by raising
    * the floor, the classic trade). The doc count for the support floor
    * is a 1-row broadcast aggregate INSIDE the plan (the q54 pattern) —
    * no eager driver action, no second corpus scan; the token stream
    * comes from the shared [[tokenStage]]. */
  def q109Cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    cooccurrenceCore(
      tokenStream(spark, dir).select(col("doc_id"), col("token").as("w")),
      corpusSize(spark, dir).select(col("n_docs").as("nd")),
      CoocSupport)
  }

  /** [[q109Cooccurrence]] over ANY (doc_id, text) frame — the generic
    * entry the `cooccurrence(support)` TVF resolves (array-based
    * tokenize; the q109 route reuses the shared token stage instead). */
  def cooccurrence(docs: DataFrame, support: Double): DataFrame = {
    val tokenized = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    cooccurrenceCore(
      tokenized.select(col("doc_id"), explode(col("t")).as("w")),
      tokenized.agg(count(lit(1)).as("nd")),
      support)
  }

  /** Core over an occurrence stream `u` (doc_id, w) + a 1-row doc count
    * `nd`: Apriori frequent-singles prune, then per-doc pair explosion. */
  private def cooccurrenceCore(u: DataFrame, nd: DataFrame,
      support: Double): DataFrame = {
    val floor = ceil(lit(support) * col("nd")).cast("long")
    // the stage is occurrence-grain, so document frequency dedups in the
    // aggregate (countDistinct) instead of a per-doc array_distinct map
    val frequent = u.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") >= floor).select("w")
    // collect_set dedups repeated occurrences, so the raw stream joins
    // straight against the frequent vocabulary
    val fw = u.join(broadcast(frequent), Seq("w"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("w"))).as("fw"))
    val pairArr = flatten(transform(col("fw"), (x, i) =>
      transform(slice(col("fw"), i + lit(2), size(col("fw"))),
        y => struct(x.as("w1"), y.as("w2")))))
    fw.select(explode(pairArr).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(nd))
      .filter(col("n_docs") >= floor)
      .select(col("w1"), col("w2"), col("n_docs"),
        round(col("n_docs").cast("double") / col("nd"), 4).as("support"))
      .orderBy(desc("n_docs"), col("w1"), col("w2"))
      .limit(30)
  }

  /** Merge-table size for the BPE induction step. */
  val BpeTopK = 20

  /** q118 — BPE MERGE-STEP MINING (Sennrich et al. 2016): the adjacent
    * symbol-pair counts that drive one byte-pair-encoding induction step,
    * over every token occurrence in the corpus — the top pair is the
    * next merge; a tokenizer-training loop applies it and re-runs.
    *
    * Scale shape: the pair counting runs at VOCABULARY grain, not
    * occurrence grain — the stage aggregates to (token, n_occ) first
    * (token-bucketed, Exchange-free), so the character explode touches
    * each distinct token once and weights its pairs by `n_occ` (the
    * standard word-type/frequency BPE formulation: corpus-sized input,
    * vocab-sized explode). Counts are integer sums — order-free,
    * oracle-exact; the oracle counts the same pairs per occurrence,
    * which is identical by distributivity. */
  def q118BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    bpeMergeCounts(tokenStream(spark, dir))
  }

  /** The merge-step counts over ANY occurrence frame with a `token`
    * column. */
  def bpeMergeCounts(occ: DataFrame, topK: Int = BpeTopK): DataFrame =
    occ
      .groupBy("token").agg(count(lit(1)).as("n_occ"))
      .filter(length(col("token")) >= 2)
      .select(col("token"), col("n_occ"),
        explode(sequence(lit(1), length(col("token")) - 1)).as("i"))
      .select(expr("substring(token, i, 1)").as("left_sym"),
        expr("substring(token, i + 1, 1)").as("right_sym"), col("n_occ"))
      .groupBy("left_sym", "right_sym")
      .agg(sum(col("n_occ")).as("pair_count"))
      .orderBy(desc("pair_count"), col("left_sym"), col("right_sym"))
      .limit(topK)

  /** Merge rounds for the ITERATED BPE trainer — fixed like
    * [[Sampling.WaterfillRounds]] so the oracle replays the whole
    * trajectory as chained CTEs. */
  val BpeTrainRounds = 4

  /** Segmentation delimiter for the BPE trainer: each symbol is wrapped
    * as `SEP sym SEP`, so an adjacent pair (L, R) appears as the exact
    * substring `SEP L SEP SEP R SEP` and a merge is ONE non-overlapping
    * left-to-right string `replace` — the same greedy semantics in Spark
    * and DuckDB, with no shared-delimiter consumption between back-to-
    * back matches (a single-delimiter encoding would let one merge eat
    * the next match's boundary). U+0001 never occurs in corpus text. */
  private val BpeSep = "\u0001"

  /** q250 — ITERATED BPE TRAINING (Sennrich et al. 2016 §2): q118 mines
    * ONE merge step; a tokenizer pipeline runs k rounds with
    * RE-SEGMENTATION between them — round r's pair counts are taken
    * over the corpus as segmented by merges 1..r-1, which is what makes
    * the merge TABLE (not just the first merge) the trained artifact.
    * Output: one row per round — the elected merge (max pair count,
    * ties by symbol pair), its count, and the corpus symbol count after
    * applying it (Σ n_occ·|syms|, the compression trajectory).
    *
    * Scale shape: the whole loop runs at VOCABULARY grain (the q118
    * word-type/frequency formulation — the corpus is scanned once into
    * (token, n_occ)); each round is a vocab-sized pair explode + one
    * aggregate, a 1-row election broadcast back, and one map-side
    * string replace. The vocab frame is localCheckpointed per round
    * (the q236 waterfill lesson: k chained rounds must not replan —
    * without it the plan doubles per round because the election subtree
    * embeds the frame it elects over). */
  def q250BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    // the PERSISTED per-version merge table (round-14 verdict item 5):
    // a warm corpus serves the artifact; only a content change retrains
    bpeTrainedStages(spark, dir)._1.orderBy("merge_ord")
  }

  /** The trainer over ANY occurrence frame with a `token` column. */
  private[graft] def bpeTrain(occ: DataFrame, rounds: Int): DataFrame =
    bpeTrainFull(occ, rounds)._1

  /** BPE symbol array of a trained segmentation string. */
  private[graft] def bpeSyms(seg: Column): Column =
    split(trim(seg, BpeSep),
      java.util.regex.Pattern.quote(BpeSep + BpeSep))

  /** The full trainer: (merge table, final vocabulary segmentation) —
    * the segmentation frame `(token, seg, n_occ)` is what the ENCODE
    * step (q252) applies back to the corpus, so training and
    * application share one dataflow instead of replaying the rounds. */
  private[graft] def bpeTrainFull(occ: DataFrame,
      rounds: Int): (DataFrame, DataFrame) = {
    val sep = BpeSep
    // initial segmentation: every character its own wrapped symbol
    // ((?s) so an exotic token cannot silently drop characters)
    var cur = occ
      .groupBy("token").agg(count(lit(1)).as("n_occ"))
      .select(col("token"),
        regexp_replace(col("token"), "(?s)(.)", sep + "$1" + sep).as("seg"),
        col("n_occ"))
      .transform(graft.core.Materialize.once(_))
    val roundRows = (1 to rounds).map { ord =>
      val s = bpeSyms(col("seg"))
      val pairs = cur
        .select(col("n_occ"), s.as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("n_occ"), explode(transform(
          sequence(lit(0), size(col("s")) - 2),
          i => struct(element_at(col("s"), i + 1).as("l"),
            element_at(col("s"), i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n_occ")).as("pair_count"))
      // the elected merge: 1 row, checkpointed because it feeds BOTH the
      // re-segmentation and the report row
      val top1 = pairs
        .orderBy(col("pair_count").desc, col("l"), col("r"))
        .limit(1)
        .transform(graft.core.Materialize.once(_))
      // LEFT join against the (possibly EMPTY) election: a saturated
      // corpus — every token already one symbol — must leave the
      // vocabulary frame intact, not collapse it (a crossJoin would);
      // the oracle's LEFT JOIN ... ON TRUE mirrors this exactly
      cur = cur.join(broadcast(top1), lit(true), "left")
        .withColumn("seg", when(col("l").isNull, col("seg"))
          .otherwise(replace(col("seg"),
            concat(lit(sep), col("l"), lit(sep + sep), col("r"), lit(sep)),
            concat(lit(sep), col("l"), col("r"), lit(sep)))))
        .select("token", "seg", "n_occ")
        .transform(graft.core.Materialize.once(_))
      // Σ n_occ·|syms| after the merge — the compression trajectory
      val nAfter = cur.agg(
        sum(size(bpeSyms(col("seg"))).cast("long") * col("n_occ"))
          .as("n_symbols_after"))
      top1.crossJoin(nAfter)
        .select(lit(ord.toLong).as("merge_ord"),
          col("l").as("left_sym"), col("r").as("right_sym"),
          col("pair_count"), col("n_symbols_after"))
    }
    (roundRows.reduce(_ unionAll _).orderBy("merge_ord"), cur)
  }

  /** q252 — BPE ENCODE / TOKENIZER FERTILITY (the q250 trainer's
    * consumer — train→apply, the q151→q152 lifecycle at tokenizer
    * grain): the corpus re-tokenized under the q250-trained merge
    * table, reported per source as whitespace-token count, BPE-symbol
    * count and fertility (BPE symbols per word, integer micros) — the
    * number a tokenizer owner actually watches per source/language
    * slice (a high-fertility source burns context budget; q138's
    * proxy-fertility audit gets its REAL counterpart here).
    *
    * Scale shape: the trained segmentation lives at VOCABULARY grain
    * (the q250 dataflow, shared — training and encoding are ONE
    * pipeline), so applying it is a token-keyed join of the per-source
    * occurrence counts against the vocab frame — the corpus is never
    * re-segmented row by row. */
  def q252BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val occ = tokenStream(spark, dir)
    // apply the PERSISTED trained segmentation — the encode pass is a
    // token-keyed vocab join + doc-grain reduce, never a retrain
    bpeEncodeWith(bpeTrainedStages(spark, dir)._2, occ,
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")))
  }

  /** The encode report over ANY (doc_id, token) occurrence frame + a
    * (doc_id, source) metadata frame — also the `bpe_encode()` TVF
    * body (which tokenizes the session table inline). */
  private[graft] def bpeEncode(occ: DataFrame, meta: DataFrame): DataFrame =
    bpeEncodeWith(bpeTrainFull(occ.select("token"), BpeTrainRounds)._2,
      occ, meta)

  /** The encode report under an ALREADY-TRAINED vocabulary segmentation
    * frame `(token, seg, n_occ)` — the consumer half of the train→apply
    * lifecycle, fed from [[bpeTrainedStages]] on the q252 route so the
    * persisted artifact is applied, never re-derived. */
  private[graft] def bpeEncodeWith(seg: DataFrame, occ: DataFrame,
      meta: DataFrame): DataFrame = {
    val vocabLen = seg.select(col("token"),
      size(bpeSyms(col("seg"))).cast("long").as("bpe_len"))
    // token-keyed vocab attach FIRST (Exchange-free on a token-bucketed
    // stage side), then reduce to DOC grain before the metadata join —
    // so the doc_id-keyed join carries (doc_id, 2 longs) per document,
    // never the occurrence stream (the q119 shuffle lesson)
    val perDoc = occ
      .join(vocabLen, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nw"), sum(col("bpe_len")).as("nb"))
    meta
      .join(perDoc, Seq("doc_id"))
      .groupBy("source")
      .agg(sum(col("nw")).as("n_words"), sum(col("nb")).as("n_bpe_tokens"))
      .withColumn("fertility_micro",
        expr("(1000000 * n_bpe_tokens) div n_words"))
      .orderBy("source")
  }

  /** Trained BPE artifacts for the corpus under `dir` — (merge table,
    * final vocabulary segmentation) — built ONCE per (corpus, content
    * version) through [[SignatureStage]] and PERSISTED alongside the
    * dedup stages (round-14 verdict item 5): training is a per-version
    * artifact build like `SignatureStage`/IVF centroids, not a
    * per-query cost. A rewritten corpus evicts both stages; the lazy
    * pair means one training pass materializes both on a cold cache. */
  private[graft] def bpeTrainedStages(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    lazy val trained = bpeTrainFull(
      tokenStream(spark, dir).select("token"), BpeTrainRounds)
    val merges = SignatureStage.stage(spark, dir,
      s"bpe_merges_r$BpeTrainRounds")(trained._1)
    val seg = SignatureStage.stage(spark, dir,
      s"bpe_seg_r$BpeTrainRounds")(trained._2)
    (merges, seg)
  }

  /** TVF-path delimiter guard (round-14 advisor): the trainer's
    * segmentation encoding reserves [[BpeSep]] (U+0001) — guaranteed
    * absent in the fixture corpus, but `bpe_train()`/`bpe_encode()` run
    * over ARBITRARY session tables, where a token carrying it would
    * silently corrupt the segmentation (phantom symbol boundaries).
    * Fail loudly per offending token instead; the fixture-corpus q250/
    * q252 route never pays this branch. */
  private def guardBpeSep(tok: Column): Column =
    when(tok.contains(lit(BpeSep)),
      raise_error(concat(
        lit("bpe: token contains the reserved segmentation delimiter " +
          "U+0001: '"), tok, lit("'"))))
      .otherwise(tok)

  /** [[bpeTrain]] over ANY (doc_id, text) documents frame — the
    * `bpe_train(rounds)` TVF body (array-based tokenize; the q250 route
    * serves the persisted per-version artifact instead). */
  private[graft] def tableBpeTrain(docs: DataFrame, rounds: Int): DataFrame =
    bpeTrain(
      docs.select(explode(tokens(col("text"))).as("tok"))
        .select(guardBpeSep(col("tok")).as("token")),
      rounds)

  /** [[bpeEncode]] over ANY (doc_id, source, text) documents frame —
    * the `bpe_encode()` TVF body. */
  private[graft] def tableBpeEncode(docs: DataFrame): DataFrame =
    bpeEncode(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"), guardBpeSep(col("tok")).as("token")),
      docs.select("doc_id", "source"))

  /** DuckDB spelling of [[BpeSep]]. */
  private val BpeSepSql = "chr(1)"

  /** The shared q250/q252 oracle CTE chain: tokenize → initial
    * character segmentation (token carried through every round so the
    * encode step can join it back) → [[BpeTrainRounds]] rounds of pair
    * counting, merge election and greedy replace. */
  private def bpeOracleCtes: String = {
    val S = BpeSepSql
    val SS = s"$S || $S"
    val roundCtes = (1 to BpeTrainRounds).map { r =>
      val prev = s"v${r - 1}"
      s"p$r AS (\n" +
        s"  SELECT q.s[i] AS l, q.s[i + 1] AS r, CAST(sum(q.n_occ) AS BIGINT) AS c\n" +
        s"  FROM (SELECT string_split(trim(seg, $S), $SS) AS s, n_occ FROM $prev) q,\n" +
        s"       UNNEST(range(1, len(q.s))) AS t(i)\n" +
        s"  GROUP BY 1, 2),\n" +
        s"t$r AS (SELECT l, r AS rr, c FROM p$r ORDER BY c DESC, l, r LIMIT 1),\n" +
        s"v$r AS (\n" +
        s"  SELECT token, CASE WHEN l IS NULL THEN seg ELSE\n" +
        s"    replace(seg, $S || l || $S || $S || rr || $S," +
        s" $S || l || rr || $S) END AS seg, n_occ\n" +
        s"  FROM $prev LEFT JOIN t$r ON TRUE),\n" +
        s"m$r AS (\n" +
        s"  SELECT CAST($r AS BIGINT) AS merge_ord, l AS left_sym, rr AS right_sym,\n" +
        s"    c AS pair_count,\n" +
        s"    (SELECT CAST(sum(len(string_split(trim(seg, $S), $SS)) * n_occ) AS BIGINT)\n" +
        s"     FROM v$r) AS n_symbols_after\n" +
        s"  FROM t$r)"
    }.mkString(",\n")
    s"""WITH occ AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
       |  FROM documents),
       |v0 AS (
       |  SELECT token,
       |    regexp_replace(token, '(?s)(.)', $S || '\\1' || $S, 'g') AS seg,
       |    CAST(count(*) AS BIGINT) AS n_occ
       |  FROM occ GROUP BY token),
       |$roundCtes""".stripMargin
  }

  /** Reference-vocabulary size for the coverage audit. */
  val VocabTopV = 10

  /** q119 — tokenizer VOCABULARY-COVERAGE / OOV audit per (source, lang):
    * the per-cell out-of-vocabulary occurrence rate against a fixed
    * reference vocabulary (here the corpus' own top-`VocabTopV` tokens by
    * collection frequency, ties broken by token — the deployed shape
    * swaps in the tokenizer's real vocab table). The cell with the worst
    * coverage is the cell the tokenizer serves worst — the audit a
    * mixture rebalance reads before training.
    *
    * Scale shape: the vocabulary is tiny by construction → broadcast
    * membership join against the shared token stage; OOV flags aggregate
    * to DOC grain first (the shuffle carries (doc_id, 2 longs), never
    * the occurrence stream), then a doc-grain metadata join and a
    * cell-grain roll-up. The rate is an exact int64/int64 double
    * division. */
  def q119VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    vocabCoverage(tokenStream(spark, dir),
      Tables.documents(spark, dir).select("doc_id", "source", "lang"))
  }

  /** The audit over ANY (doc_id, token) occurrence frame + (doc_id,
    * source, lang) metadata frame. */
  def vocabCoverage(occ: DataFrame, meta: DataFrame,
      topV: Int = VocabTopV): DataFrame = {
    val vocab = occ.groupBy("token").agg(count(lit(1)).as("cf"))
      .orderBy(desc("cf"), col("token")).limit(topV)
      .select(col("token"), lit(1).as("in_vocab"))
    val perDoc = occ.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_occ"))
    meta
      .join(perDoc, Seq("doc_id"))
      .groupBy("source", "lang")
      .agg(sum(col("n_occ")).cast("long").as("n_occ"),
        sum(col("oov_occ")).cast("long").as("oov_occ"))
      .select(col("source"), col("lang"), col("n_occ"), col("oov_occ"),
        (col("oov_occ").cast("double") / col("n_occ")).as("oov_rate"))
      .orderBy("source", "lang")
  }

  /** Head-of-vocabulary size for the Zipf fit. */
  val ZipfTopK = 30

  /** q122 — ZIPF-SLOPE corpus-health audit: OLS fit of ln(frequency)
    * against ln(rank) over the top-[[ZipfTopK]] vocabulary — natural
    * corpora sit near slope −1 (Zipf's law); a flat slope flags
    * synthetic/templated text, a steep one a degenerate vocabulary. The
    * fit is the q93 OLS shape applied to the vocabulary: each ln is
    * fixed to integer MICROS before any sum (the q70 recipe), the OLS
    * normal equations run in exact int64 arithmetic, and the slope and
    * intercept are single int64-derived double divisions, rounded — so
    * the whole fit is oracle-exact despite the transcendentals.
    *
    * Scale shape: one vocabulary-keyed aggregate over the token stage
    * (Exchange-free on the stage side), a top-K take, then all math on a
    * K-row frame. */
  def q122ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    zipfSlope(tokenStream(spark, dir))
  }

  /** The fit over ANY occurrence frame with a `token` column. */
  def zipfSlope(occ: DataFrame, topK: Int = ZipfTopK): DataFrame = {
    val rk = occ
      .groupBy("token").agg(count(lit(1)).as("cf"))
      .orderBy(desc("cf"), col("token")).limit(topK)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(desc("cf"), col("token"))))
    val m = rk.select(
      round(log(col("rnk")) * 1000000).cast("long").as("x"),
      round(log(col("cf")) * 1000000).cast("long").as("y"))
    val s = m.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(
      col("n").as("n_terms"),
      round(slope, 6).as("zipf_slope"),
      round((col("sy").cast("double") - slope * col("sx")) / col("n") / 1000000, 6)
        .as("intercept_ln"))
  }

  /** Intra-doc self-repetition gram order (trigrams — the shortest
    * window that separates templated spans from ordinary word reuse,
    * whose per-doc FRACTIONS q68 already reports). */
  val SelfGramN = 3

  /** Result width of the template-span report. */
  val TemplateSpanTopK = 20

  /** q201 — TEMPLATE-SPAN MINING (SURVEY §2.9 text family): the
    * top-[[TemplateSpanTopK]] [[SelfGramN]]-grams that repeat WITHIN
    * individual documents, ranked by total internal repeat count —
    * the actionable companion to q68's per-document duplicate-n-gram
    * FRACTIONS (Rae et al. 2021 §A1.1): q68 says which documents are
    * internally repetitive; this says which exact spans do the
    * repeating, i.e. what boilerplate/template text a cleaning pass
    * should strip corpus-wide. A span counts once per extra internal
    * occurrence (`c − 1` per document with `c ≥ 2`), so ubiquitous
    * but unrepeated collocations (q92's territory) score zero.
    *
    * Scale shape: grams are built per row with array `transform`
    * (map-only, codegen'd), exploded to (doc, gram) occurrence grain,
    * and partially aggregated before the gram-keyed shuffle — the
    * exchange carries one row per distinct (doc, gram), the q26
    * shingle-pipeline shape; the final per-gram roll-up is
    * gram-vocabulary-sized and the result is a TakeOrdered top-k.
    * Fan-out opted in ([[Tables.fanout]]) for the per-row gram work. */
  def q201TemplateSpans(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    templateSpansOver(Tables.fanout(spark, Tables.documents(spark, dir)))
  }

  /** The miner over ANY (doc_id, text) frame — also the
    * `template_spans()` TVF body. */
  private[graft] def templateSpansOver(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      .select(col("doc_id"),
        explode(when(col("n") >= SelfGramN,
          transform(
            sequence(lit(0), col("n") - SelfGramN),
            i => concat_ws(" ", col("w")(i), col("w")(i + 1), col("w")(i + 2))))
          .otherwise(typedLit(Seq.empty[String]))).as("gram"))
    grams
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .groupBy("gram")
      .agg(count(lit(1)).as("n_docs"), sum(col("c") - 1).as("n_repeats"))
      .orderBy(col("n_repeats").desc, col("gram"))
      .limit(TemplateSpanTopK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q201_template_spans" -> (q201TemplateSpans _),
    "q122_zipf_slope" -> (q122ZipfSlope _),
    "q118_bpe_merges" -> (q118BpeMerges _),
    "q250_bpe_train" -> (q250BpeTrain _),
    "q252_bpe_encode" -> (q252BpeEncode _),
    "q119_vocab_coverage" -> (q119VocabCoverage _),
    "q109_cooccurrence" -> (q109Cooccurrence _),
    "q92_pmi_collocations" -> (q92PmiCollocations _),
    "q78_unigram_logprob" -> (q78UnigramLogprob _),
    "q159_bigram_lm" -> (q159BigramLm _),
    "q73_boilerplate"   -> (q73Boilerplate _),
    "q68_repetition"    -> (q68Repetition _),
    "q65_chunk_overlap" -> (q65ChunkOverlap _),
    "q61_compress_ratio" -> (q61CompressRatio _),
    "q21_text_stats"    -> (q21TextStats _),
    "q22_lang_profile"  -> (q22LangProfile _),
    "q23_quality_score" -> (q23QualityScore _),
    "q45_lang_id"       -> (q45LangId _),
    "q179_langid_confusion" -> (q179LangidConfusion _),
    "q46_rolling_fp"    -> (q46RollingFp _),
    "q47_token_bpe"     -> (q47TokenBpe _),
    "q53_vocab_top"     -> (q53VocabTop _),
    "q54_tfidf"         -> (q54TfIdf _),
    "q138_token_fertility" -> (q138TokenFertility _),
    "q144_perplexity_buckets" -> (q144PerplexityBuckets _))

  /** q138 — TOKENIZER FERTILITY BY LANGUAGE: per-lang corpus totals of
    * whitespace words, BPE-ish subword tokens ([[BpePattern]], the q47
    * estimator) and UTF-8 bytes, with the two ratios every multilingual
    * tokenizer report publishes — fertility (subwords per word; the
    * metric tokenizer papers use for cross-language cost skew, e.g.
    * Rust et al. 2021 "How Good is Your Tokenizer?") and compression
    * (bytes per subword). A language whose fertility is 2× pays 2× the
    * context budget for the same text — this table is how a pipeline
    * decides whether the tokenizer or the language mix needs to change.
    *
    * Shape: map-only per-document counting (codegen'd regex/size, no
    * explode — counts, not token streams), partial-agged into the
    * languages-grain report. Integer sums (order-free), then one
    * int-derived double division per ratio — the q122 contract. */
  def q138TokenFertility(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    tokenFertility(Tables.documents(spark, dir))
  }

  /** The q138 report over ANY documents-shaped frame (also the
    * `token_fertility()` TVF). */
  def tokenFertility(docs: DataFrame): DataFrame =
    docs
      .select(
        col("lang"),
        size(tokens(col("text"))).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long").as("bpe"),
        octet_length(col("text")).cast("long").as("b"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_words"),
        sum(col("bpe")).as("n_subwords"),
        sum(col("b")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"), col("n_bytes"),
        when(col("n_words") === 0, lit(0.0))
          .otherwise(round(col("n_subwords").cast("double") / col("n_words"), 4))
          .as("fertility"),
        when(col("n_subwords") === 0, lit(0.0))
          .otherwise(round(col("n_bytes").cast("double") / col("n_subwords"), 4))
          .as("bytes_per_subword"))
      .orderBy("lang")

  val oracles: Map[String, String] = Map(
    // q201: the gram construction replayed with 1-based list slicing —
    // DuckDB's range(1, len-1) enumerates exactly the Spark side's
    // sequence(0, n-3) window starts; repeat counts are pure integers
    // and the (n_repeats DESC, gram) order breaks every tie.
    "q201_template_spans" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= $SelfGramN THEN
         |      list_transform(range(1, len(w) - 1),
         |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         |    ELSE [] END) AS gram
         |  FROM t),
         |c AS (
         |  SELECT doc_id, gram, count(*) AS c FROM g
         |  GROUP BY doc_id, gram HAVING count(*) >= 2)
         |SELECT gram, count(*) AS n_docs, CAST(sum(c - 1) AS BIGINT) AS n_repeats
         |FROM c GROUP BY gram
         |ORDER BY n_repeats DESC, gram LIMIT $TemplateSpanTopK""".stripMargin,
    "q138_token_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws,
        |    len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9 ]+')) AS bpe,
        |    octet_length(encode(text)) AS b
        |  FROM documents),
        |g AS (
        |  SELECT lang, count(*) AS n_docs, CAST(sum(ws) AS BIGINT) AS n_words,
        |    CAST(sum(bpe) AS BIGINT) AS n_subwords, CAST(sum(b) AS BIGINT) AS n_bytes
        |  FROM t GROUP BY lang)
        |SELECT lang, n_docs, n_words, n_subwords, n_bytes,
        |  CASE WHEN n_words = 0 THEN 0.0
        |       ELSE round(CAST(n_subwords AS DOUBLE) / n_words, 4) END AS fertility,
        |  CASE WHEN n_subwords = 0 THEN 0.0
        |       ELSE round(CAST(n_bytes AS DOUBLE) / n_subwords, 4) END AS bytes_per_subword
        |FROM g ORDER BY lang""".stripMargin,
    // micro-fixed lns + exact int64 normal equations: the one double
    // division lands bit-identically on both engines
    "q122_zipf_slope" ->
      s"""WITH occ AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
         |  FROM documents),
         |v AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS cf FROM occ GROUP BY token
         |  ORDER BY cf DESC, token LIMIT $ZipfTopK),
         |rk AS (
         |  SELECT token, cf, row_number() OVER (ORDER BY cf DESC, token) AS rnk FROM v),
         |m AS (
         |  SELECT CAST(round(ln(rnk) * 1000000) AS BIGINT) AS x,
         |         CAST(round(ln(cf) * 1000000) AS BIGINT) AS y
         |  FROM rk),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |         SUM(x*y) AS sxy, SUM(x*x) AS sxx
         |  FROM m)
         |SELECT n AS n_terms,
         |  round(CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx), 6) AS zipf_slope,
         |  round((CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx)) * sx)
         |    / n / 1000000, 6) AS intercept_ln
         |FROM s""".stripMargin,
    // per-occurrence pair counting — equals the engine's weighted
    // vocabulary-grain formulation by distributivity
    "q118_bpe_merges" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |occ AS (SELECT unnest(w) AS token FROM tok),
         |pairs AS (
         |  SELECT token[i:i] AS left_sym, token[i+1:i+1] AS right_sym
         |  FROM occ, UNNEST(range(1, length(token))) AS t(i))
         |SELECT left_sym, right_sym, CAST(COUNT(*) AS BIGINT) AS pair_count
         |FROM pairs GROUP BY 1, 2
         |ORDER BY pair_count DESC, left_sym, right_sym LIMIT $BpeTopK""".stripMargin,
    // q250: the k-round trajectory replayed as chained CTEs — the same
    // wrapped-symbol string representation, the same greedy left-to-
    // right replace merge, the same (count DESC, l, r) election
    "q250_bpe_train" -> {
      val unions = (1 to BpeTrainRounds).map(r => s"SELECT * FROM m$r")
        .mkString("\n  UNION ALL ")
      s"""$bpeOracleCtes
         |SELECT * FROM (
         |  $unions
         |) ORDER BY merge_ord""".stripMargin
    },
    // q252: the SAME training CTEs (token carried through the rounds),
    // then the vocab segmentation joined back to per-source occurrence
    // counts — the corpus is never re-segmented row by row
    "q252_bpe_encode" -> {
      val S = BpeSepSql
      val SS = s"$S || $S"
      s"""$bpeOracleCtes,
         |enc AS (
         |  SELECT token,
         |    CAST(len(string_split(trim(seg, $S), $SS)) AS BIGINT) AS bpe_len
         |  FROM v$BpeTrainRounds),
         |st AS (
         |  SELECT d.source, o.token, count(*) AS n
         |  FROM occ o JOIN documents d USING (doc_id)
         |  GROUP BY 1, 2)
         |SELECT source,
         |  CAST(sum(n) AS BIGINT) AS n_words,
         |  CAST(sum(n * bpe_len) AS BIGINT) AS n_bpe_tokens,
         |  CAST((1000000 * sum(n * bpe_len)) // sum(n) AS BIGINT) AS fertility_micro
         |FROM st JOIN enc USING (token)
         |GROUP BY source ORDER BY source""".stripMargin
    },
    "q119_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, lang,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |occ AS (SELECT doc_id, source, lang, unnest(w) AS token FROM tok),
         |vocab AS (
         |  SELECT token FROM occ GROUP BY token
         |  ORDER BY COUNT(*) DESC, token LIMIT $VocabTopV)
         |SELECT source, lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_occ,
         |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_occ,
         |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate
         |FROM occ o LEFT JOIN vocab v USING (token)
         |GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "q109_cooccurrence" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |  FROM documents),
         |n AS (SELECT count(*) AS nd FROM d),
         |u AS (SELECT doc_id, unnest(t) AS w FROM d),
         |f AS (
         |  SELECT w FROM u GROUP BY w
         |  HAVING count(*) >= ceil($CoocSupport * (SELECT nd FROM n))),
         |uf AS (SELECT doc_id, w FROM u JOIN f USING (w)),
         |p AS (
         |  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM uf a JOIN uf b ON a.doc_id = b.doc_id AND a.w < b.w
         |  GROUP BY 1, 2
         |  HAVING count(*) >= ceil($CoocSupport * (SELECT nd FROM n)))
         |SELECT w1, w2, n_docs,
         |  round(CAST(n_docs AS DOUBLE) / (SELECT nd FROM n), 4) AS support
         |FROM p ORDER BY n_docs DESC, w1, w2 LIMIT 30""".stripMargin,
    "q92_pmi_collocations" ->
      s"""WITH d AS (
         |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
         |  FROM documents),
         |d2 AS (SELECT t FROM d WHERE len(t) >= 2),
         |uc AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(t) AS w FROM d2) GROUP BY w),
         |bc AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS cb
         |  FROM (SELECT unnest(list_transform(range(1, len(t)),
         |          i -> t[i] || ' ' || t[i + 1])) AS bg FROM d2)
         |  GROUP BY bg),
         |tot AS (
         |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS n_u,
         |         (SELECT CAST(sum(cb) AS BIGINT) FROM bc) AS n_b)
         |SELECT bg AS bigram, cb AS n_pair, u1.c AS n_first, u2.c AS n_second,
         |  CAST(round(log2((CAST(cb AS DOUBLE) * n_u * n_u)
         |    / (CAST(n_b AS DOUBLE) * u1.c * u2.c)) * 1000000) AS BIGINT)
         |    AS pmi_micro
         |FROM bc
         |CROSS JOIN tot
         |JOIN uc u1 ON u1.w = string_split(bg, ' ')[1]
         |JOIN uc u2 ON u2.w = string_split(bg, ' ')[2]
         |WHERE cb >= $PmiMinPair
         |ORDER BY pmi_micro DESC, bigram LIMIT 30""".stripMargin,
    // q61 gate: the corpus count is the only non-boolean column; the
    // bounds/correlation verdicts are deterministic for a given zlib.
    "q61_compress_ratio" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  TRUE AS bounds_ok, TRUE AS corr_ok FROM documents""".stripMargin,
    // q78: integer micro-bits per token type before any order-sensitive
    // sum; log2 agrees across engines at micro precision (same risk
    // profile as q70 BM25, which is oracle-exact).
    // q144: the q78 surprisal CTEs kept to the integer bits_e4 key,
    // value-grain histogram, integer cumulative division.
    "q144_perplexity_buckets" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
         |  FROM documents),
         |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         |n AS (SELECT sum(cnt) AS n_total FROM counts),
         |scores AS (
         |  SELECT token,
         |    CAST(round(-log2(CAST(cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS micro_bits
         |  FROM counts, n),
         |db AS (
         |  SELECT t.doc_id, count(*) AS n_tokens,
         |    CAST(floor((2 * sum(s.micro_bits) + 100 * count(*)) / (200.0 * count(*))) AS BIGINT) AS bits_e4
         |  FROM tok t JOIN scores s USING (token)
         |  GROUP BY t.doc_id),
         |hist AS (
         |  SELECT bits_e4, CAST(count(*) AS BIGINT) AS nv,
         |    CAST(sum(n_tokens) AS BIGINT) AS tv
         |  FROM db GROUP BY 1),
         |tot AS (SELECT CAST(sum(nv) AS BIGINT) AS n_docs_total FROM hist),
         |hb AS (
         |  SELECT bits_e4, nv, tv,
         |    CAST(coalesce(sum(nv) OVER (ORDER BY bits_e4
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM hist)
         |SELECT CAST((cum_before * $PerplexityBuckets) // n_docs_total AS INTEGER) AS bucket,
         |  CAST(sum(nv) AS BIGINT) AS n_docs, CAST(sum(tv) AS BIGINT) AS total_tokens,
         |  min(bits_e4) / 10000.0 AS min_bits_per_token,
         |  max(bits_e4) / 10000.0 AS max_bits_per_token
         |FROM hb, tot GROUP BY 1 ORDER BY 1""".stripMargin,
    // q159: positions and BOS histories rebuilt in SQL, per-(h, w)-type
    // integer micro-bits before the per-doc sum (the q78 contract).
    "q159_bigram_lm" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM d),
         |bg AS MATERIALIZED (
         |  SELECT doc_id, w[i] AS wd,
         |    CASE WHEN i = 1 THEN '$BosToken' ELSE w[i - 1] END AS h
         |  FROM pos),
         |ptf AS MATERIALIZED (
         |  SELECT doc_id, h, wd, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
         |m AS (SELECT h, wd, sum(tf) AS cnt FROM ptf GROUP BY 1, 2),
         |mh AS MATERIALIZED (
         |  SELECT h, wd, cnt, sum(cnt) OVER (PARTITION BY h) AS htot FROM m),
         |v AS (SELECT count(DISTINCT wd) AS v FROM bg),
         |sc AS (
         |  SELECT h, wd,
         |    CAST(round(-log2((cnt + 1) * 1.0 / (htot + v)) * 1000000) AS BIGINT) AS micro
         |  FROM mh, v)
         |SELECT p.doc_id, CAST(sum(p.tf) AS BIGINT) AS n_tokens,
         |  floor((2 * sum(p.tf * s.micro) + 100 * sum(p.tf)) / (200.0 * sum(p.tf))) / 10000.0
         |    AS bits_per_token
         |FROM ptf p JOIN sc s ON p.h = s.h AND p.wd = s.wd
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    "q78_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |n AS (SELECT sum(cnt) AS n_total FROM counts),
        |scores AS (
        |  SELECT token,
        |    CAST(round(-log2(CAST(cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS micro_bits
        |  FROM counts, n)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  floor((2 * sum(s.micro_bits) + 100 * count(*)) / (200.0 * count(*))) / 10000.0
        |    AS bits_per_token
        |FROM tok t JOIN scores s USING (token)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q73_boilerplate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(w) - ${BoilerK - 1}, 1) + 1),
         |    i -> array_to_string(list_slice(w, CAST(i AS INTEGER),
         |      CAST(i AS INTEGER) + ${BoilerK - 1}), ' ')))) AS s
         |  FROM toks),
         |c AS (
         |  SELECT s AS shingle, CAST(count(*) AS BIGINT) AS n_docs,
         |    min(doc_id) AS first_doc
         |  FROM sh GROUP BY s)
         |SELECT shingle, n_docs, first_doc FROM c
         |WHERE n_docs >= $BoilerMinDocs
         |ORDER BY n_docs DESC, shingle LIMIT $BoilerTop""".stripMargin,
    "q68_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    len(list_distinct(toks)) AS nd,
        |    len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1]))) AS nbd
        |  FROM t WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, token, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(toks) AS token FROM b)
        |  GROUP BY doc_id, token),
        |m AS (SELECT doc_id, max(cnt) AS maxc FROM c GROUP BY doc_id),
        |s AS (
        |  SELECT b.doc_id, CAST(n AS BIGINT) AS n_tokens,
        |    round(1.0 - CAST(nd AS DOUBLE) / n, 4) AS dup_token_frac,
        |    round(CAST(maxc AS DOUBLE) / n, 4) AS top_token_frac,
        |    CASE WHEN n < 2 THEN 0.0
        |         ELSE round(1.0 - CAST(nbd AS DOUBLE) / (n - 1), 4) END AS dup_2gram_frac
        |  FROM b JOIN m ON b.doc_id = m.doc_id)
        |SELECT doc_id, n_tokens, dup_token_frac, top_token_frac, dup_2gram_frac,
        |  CASE WHEN top_token_frac > 0.2 OR dup_2gram_frac > 0.5
        |       THEN 'repetitive' ELSE 'clean' END AS repetition_tier
        |FROM s ORDER BY doc_id""".stripMargin,
    "q65_chunk_overlap" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, toks, len(toks) AS n_tokens,
         |    CAST(ceil(greatest(len(toks) - $ChunkSize, 0) / ${ChunkStride.toDouble}) + 1 AS INTEGER) AS n_chunks
         |  FROM t WHERE len(toks) > 0),
         |e AS (
         |  -- DuckDB 1.0: no lateral generate_series; unnest in the SELECT
         |  -- list expands rows instead
         |  SELECT doc_id, toks, CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_idx
         |  FROM n),
         |c AS (
         |  SELECT doc_id, chunk_idx,
         |    toks[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkSize] AS ct
         |  FROM e)
         |SELECT doc_id, chunk_idx,
         |  CAST(len(ct) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(ct, ' ')) AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q21_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
        |    len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_distinct,
        |    length(replace(text, ' ', '')) AS n_letters,
        |    md5(trim(text)) AS fp
        |  FROM documents)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST(n_letters AS BIGINT) AS n_letters, fp,
        |  round(CAST(n_letters AS DOUBLE) / n_tokens, 4) AS avg_token_len
        |FROM t ORDER BY doc_id""".stripMargin,
    "q22_lang_profile" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
        |  CAST(sum(CASE WHEN contains(text, 'the') THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_the
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q23_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_tokens,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE) AS n_distinct
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    round(least(n_tokens / 100.0, 1.0) * 0.5 + (n_distinct / n_tokens) * 0.5, 4) AS quality_score
        |  FROM t)
        |SELECT CASE WHEN quality_score >= 0.6 THEN 'high'
        |            WHEN quality_score >= 0.4 THEN 'medium'
        |            ELSE 'low' END AS quality_tier,
        |  count(*) AS n_docs,
        |  floor((2 * sum(CAST(round(quality_score * 10000) AS BIGINT)) + count(*))
        |        / (2.0 * count(*))) / 10000.0 AS avg_score
        |FROM s GROUP BY 1 ORDER BY quality_tier""".stripMargin,
    // byte-exact rolling fold: bytes recovered from hex pairs, seeded
    // fold via list_prepend(0, …) — same (acc*31+b) mod 1e9+7 recurrence
    // as the Spark side, so values match exactly incl. non-ASCII text
    "q46_rolling_fp" ->
      """WITH h AS (
        |  SELECT doc_id, hex(encode(trim(text))) AS hx,
        |    octet_length(encode(trim(text))) AS n
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN n = 0 THEN 0 ELSE
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT), list_transform(range(1, n + 1),
        |        i -> CAST((strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INTEGER), 1)) - 1) * 16
        |           + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i AS INTEGER), 1)) - 1) AS BIGINT))),
        |      (acc, b) -> (acc * 31 + b) % 1000000007)
        |  END AS rolling_fp
        |FROM h ORDER BY doc_id""".stripMargin,
    "q47_token_bpe" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws_tokens,
        |    len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9 ]+')) AS n_bpe_tokens
        |  FROM documents)
        |SELECT doc_id, CAST(n_ws_tokens AS BIGINT) AS n_ws_tokens,
        |  CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
        |  CASE WHEN n_ws_tokens = 0 THEN 0.0
        |       ELSE round(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 4) END AS bpe_inflation
        |FROM t ORDER BY doc_id""".stripMargin,
    "q53_vocab_top" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |FROM t GROUP BY token
        |ORDER BY occurrences DESC, token LIMIT 20""".stripMargin,
    // rank by the ROUNDED score then token (same as the Spark window) so
    // last-ulp ln() differences can never reorder the top-3
    "q54_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.token,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf
        |  FROM tf JOIN df USING (token), n),
        |r AS (
        |  SELECT doc_id, token, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
        |  FROM s)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token, tfidf
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    // q179: the q45 prediction CTEs joined back to the declared lang
    "q179_langid_confusion" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','es'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','de','et','est'))) AS s_fr
        |  FROM t),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |         WHEN s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS predicted_lang
        |  FROM s)
        |SELECT d.lang, p.predicted_lang, count(*) AS n_docs,
        |  d.lang = p.predicted_lang AS agree
        |FROM p JOIN documents d USING (doc_id)
        |GROUP BY 1, 2, 4 ORDER BY 1, 2""".stripMargin,
    // argmax with ties going to the lexicographically LAST language —
    // the ordered >= CASE reproduces the struct-sort tie-break exactly
    "q45_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','es'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','de','et','est'))) AS s_fr
        |  FROM t),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |         WHEN s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS predicted_lang
        |  FROM s)
        |SELECT predicted_lang, count(*) AS n_docs
        |FROM p GROUP BY predicted_lang ORDER BY predicted_lang""".stripMargin)
}
