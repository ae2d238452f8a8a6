package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for a training-data pipeline — beyond the
  * reference's surface (SURVEY §7.5): token counting, quality scoring,
  * language-ID, document fingerprinting, all over `documents.parquet`.
  *
  * Every operator is a narrow projection + scalar expressions: no
  * shuffle at all (verified via explain — a single WholeStageCodegen
  * over the scan), so each scales linearly to 100 TB with zero
  * exchange; the parquet scan prunes to exactly the referenced columns.
  *
  * Determinism discipline: each query's arithmetic is written as the
  * SAME expression tree in Spark and the DuckDB oracle (single
  * divisions / left-assoc sums), so doubles match bit-for-bit.
  */
object TextAnalysis {

  /** Tokens by whitespace runs — the shared tokenizer (also used by
    * [[Dedup]]; one definition keeps oracle parity in one place). */
  private[ext] def tokens(c: Column): Column = split(c, "\\s+")
  private val tokensSql = "regexp_split_to_array(text, '\\s+')"

  /** Whitespace-normalized lowercase md5 — the shared content
    * fingerprint ([[docFingerprint]] and [[Dedup.exactDedup]]). */
  private[ext] def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(c, "\\s+", " ")))

  // ---------------------------------------------------------------- q28

  /** Per-document token statistics: token count (whitespace split),
    * char count, non-whitespace chars, mean token length. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    d.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_nonws"),
      (length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
        size(tokens(col("text")))).as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  CAST(len($tokensSql) AS BIGINT) AS n_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonws,
       |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |    / len($tokensSql) AS avg_token_len
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q29

  private[ext] val stopwords = Seq("the", "a", "of", "and", "is", "in", "to")

  /** Heuristic quality score: stopword ratio + length saturation +
    * punctuation penalty, then a CASE band. The score formula is the
    * same left-assoc expression in Spark and the oracle. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopCnt = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
      .cast("double")
    val punctCnt = length(regexp_replace(col("text"), "[^.,!?;:]", ""))
      .cast("double")
    val stopRatio = (stopCnt / nTok).as("stopword_ratio")
    val punctRatio = (punctCnt / length(col("text")).cast("double"))
      .as("punct_ratio")
    val score = round(
      lit(0.5) * (stopCnt / nTok) +
        lit(0.3) * least(lit(1.0), nTok / lit(100.0)) +
        lit(0.2) * (lit(1.0) - punctCnt / length(col("text")).cast("double")),
      6).as("quality_score")
    d.select(col("doc_id"), stopRatio, punctRatio, score)
      .withColumn("quality_band",
        when(col("quality_score") >= 0.45, "high")
          .when(col("quality_score") >= 0.35, "medium")
          .otherwise("low"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter($tokensSql, t -> t IN ($stopList))) AS DOUBLE) AS sc,
       |    CAST(len($tokensSql) AS DOUBLE) AS nt,
       |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS pc,
       |    CAST(length(text) AS DOUBLE) AS nc
       |  FROM documents)
       |SELECT doc_id,
       |  sc / nt AS stopword_ratio,
       |  pc / nc AS punct_ratio,
       |  round(0.5 * (sc / nt) + 0.3 * least(1.0, nt / 100.0)
       |        + 0.2 * (1.0 - pc / nc), 6) AS quality_score,
       |  CASE WHEN round(0.5 * (sc / nt) + 0.3 * least(1.0, nt / 100.0)
       |        + 0.2 * (1.0 - pc / nc), 6) >= 0.45 THEN 'high'
       |       WHEN round(0.5 * (sc / nt) + 0.3 * least(1.0, nt / 100.0)
       |        + 0.2 * (1.0 - pc / nc), 6) >= 0.35 THEN 'medium'
       |       ELSE 'low' END AS quality_band
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q30

  /** Marker-word profiles per language (function-word heuristic — the
    * n-gram-profile idea reduced to its deterministic core so the
    * DuckDB oracle can mirror it exactly). Tested on genuinely
    * multilingual snippets in TextAnalysisSpec. */
  private[ext] val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "que", "de", "los"),
    "fr" -> Seq("le", "les", "et", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Predict language = argmax over marker-word counts, 'und' when no
    * marker hits; fixed tie-break order en>de>es>fr>zh. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val toks = tokens(col("text"))
    val scores = langProfiles.map { case (lang, words) =>
      size(filter(toks, t => t.isin(words.map(lit): _*)))
        .cast("long").as(s"s_$lang")
    }
    val scored = d.select(col("doc_id") +: scores: _*)
    val best = greatest(langProfiles.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = langProfiles.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    // foldRight keeps declaration order as precedence (en first)
    scored.select(col("doc_id"), pred.as("lang_pred"), best.as("marker_hits"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val scoreCols = langProfiles.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter($tokensSql, t -> t IN ($list))) AS BIGINT) AS s_$lang"
    }.mkString(",\n    ")
    val gr = langProfiles.map { case (l, _) => s"s_$l" }.mkString(", ")
    val caseChain = langProfiles.map { case (l, _) =>
      s"WHEN s_$l = g AND g > 0 THEN '$l'"
    }.mkString("\n    ")
    s"""WITH s AS (
       |  SELECT doc_id,
       |    $scoreCols
       |  FROM documents),
       |g AS (SELECT *, greatest($gr) AS g FROM s)
       |SELECT doc_id,
       |  CASE $caseChain ELSE 'und' END AS lang_pred,
       |  g AS marker_hits
       |FROM g ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q31

  /** Content fingerprint: md5 of the whitespace-normalized, lowercased
    * text — the exact-dedup key. Both engines implement RFC-1321 md5,
    * so hex strings compare exactly. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    d.select(
      col("doc_id"),
      fingerprint(col("text")).as("fingerprint"),
      length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val docFingerprintSql: String =
    """SELECT doc_id,
      |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q48

  /** GPT-2-style pre-tokenizer pattern, restricted to the RE2-safe
    * subset (no lookarounds) so Spark (java.util.regex) and DuckDB
    * (RE2) match identically: contractions, space-prefixed letter
    * runs, digit runs, punctuation runs, whitespace. */
  private[ext] val BpePattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  /** Token counting with the BPE-ish regex (the tokenizer-budget
    * estimate a training pipeline runs before the real tokenizer):
    * token count, distinct-token count, chars-per-token. */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val toks = regexp_extract_all(col("text"), lit(BpePattern), lit(0))
    d.select(col("doc_id"), toks.as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_bpe_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        (length(concat_ws("", col("toks"))).cast("double") /
          size(col("toks"))).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  val bpeTokenStatsSql: String = {
    val re = BpePattern.replace("'", "''")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '$re') AS toks
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |  CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
       |    AS chars_per_token
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q49

  /** Corpus-level term statistics: top 50 tokens by document frequency
    * (deterministic tie-break on the token), with total frequency —
    * the vocabulary scan a filtering/weighting stage needs. Scale: one
    * explode + two-phase agg on the token; the topN is
    * TakeOrderedAndProject (no global sort). */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    d.select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"),
        count(lit(1)).as("term_freq"))
      .orderBy(col("doc_freq").desc, col("term_freq").desc, col("tok"))
      .limit(50)
  }

  val topTermsSql: String =
    """SELECT tok,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
      |  CAST(count(*) AS BIGINT) AS term_freq
      |FROM (SELECT doc_id,
      |        unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      |      FROM documents)
      |WHERE length(tok) > 0
      |GROUP BY tok
      |ORDER BY doc_freq DESC, term_freq DESC, tok LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q52

  /** Exact interpolated quantiles of document length per language
    * (corpus profiling for length filters). Both engines implement the
    * R-7 definition (rank = (n-1)·p, linear interpolation), so the
    * doubles compare exactly. Exact percentile collects per-group
    * sorted values — at 100 TB swap to approx_percentile and declare
    * the sketch, or compute via the two-pass count + windowed rank. */
  def charQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.5)").as("median_chars"),
        expr("percentile(n_chars, 0.9)").as("p90_chars"))
      .orderBy(col("lang"))
  }

  val charQuantilesSql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  quantile_cont(n_chars, 0.5) AS median_chars,
      |  quantile_cont(n_chars, 0.9) AS p90_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q60

  /** q60 — TF-IDF top terms per document (the keyword extraction /
    * relevance-weighting step of a filtering stage): weight =
    * tf × (N / df) — the rational idf form, NOT log-scaled, so the
    * doubles are the same three IEEE ops in both engines (an `ln`
    * would hinge on libm rounding). Top 3 per doc, ties broken on the
    * token.
    *
    * Scale: one explode + (doc, tok) count (exchange 1), then df as
    * `count(*) over (partition by tok)` — legal because tf already
    * holds exactly one row per (doc, tok), so the partition row count
    * IS the document frequency (exchange 2), then the per-doc rank
    * window (exchange 3 on doc_id). The window spelling keeps the
    * plan LINEAR: the naive tf-join-df formulation references the tf
    * subtree twice and Spark computes the explode + aggregate twice
    * (no automatic CSE across DataFrame DAG branches) — measured 2x
    * at sf0.1. Hot stopword tokens skew exchange 2 exactly as they
    * would the df aggregate; AQE's skew handling doesn't split
    * window partitions, so at 100 TB a stopword prefilter (or the
    * df-capped variant of q58) is the mitigation. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val n = d.count() // corpus size: one cheap metadata-ish scan
    val tf = d.select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("weight").desc, col("tok"))
    tf.withColumn("df", count(lit(1)).over(wTok))
      .withColumn("weight",
        col("tf").cast("double") * lit(n.toDouble) / col("df").cast("double"))
      .withColumn("rank", row_number().over(wDoc))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("tok"), round(col("weight"), 6).as("weight"),
        col("rank").cast("int").as("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfTopTermsSql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id,
      |          unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      |        FROM documents)
      |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
      |df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM tf GROUP BY tok),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.tok,
      |    CAST(tf.tf AS DOUBLE) * n.n / CAST(df.df AS DOUBLE) AS weight,
      |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY
      |      CAST(tf.tf AS DOUBLE) * n.n / CAST(df.df AS DOUBLE) DESC,
      |      tf.tok) AS rank
      |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
      |SELECT doc_id, tok, round(weight, 6) AS weight, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- q61

  /** q61 — curriculum length buckets: ntile(4) over (n_chars, doc_id)
    * — the quartile binning a curriculum or packing stage uses. The
    * doc_id tie-break makes the assignment total-order deterministic,
    * so both engines agree exactly.
    *
    * Scale note: ntile needs a single global ordering (one range
    * exchange + an unpartitioned window — the same single-reducer
    * shape as any exact global quantile). At 100 TB swap to bucket
    * boundaries from approx_percentile over a sample, then a
    * broadcast range-lookup — declared approximation; the exact form
    * stays as the oracle for it. */
  def lengthCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars"), col("doc_id"))
    d.select(col("doc_id"), col("n_chars"))
      .withColumn("bucket", ntile(4).over(w).cast("int"))
      .orderBy(col("doc_id"))
  }

  val lengthCurriculumSql: String =
    """SELECT doc_id, n_chars,
      |  CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS INT) AS bucket
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q86

  /** q86 — character/token DIVERSITY scoring, the entropy-proxy
    * quality tier (gibberish and looping text sit at the extremes of
    * both metrics):
    *
    *  - `char_collision`: the probability two random character
    *    positions hold the same char — Σ n_c(n_c−1) / (N(N−1)), the
    *    Simpson index. Chosen over Shannon entropy DELIBERATELY: it
    *    is one division of two exact 64-bit integers, so both
    *    engines produce bit-identical doubles, where entropy's
    *    per-term log2 would drift by libm ulps between JVM and
    *    DuckDB (the same exactness discipline as the integer
    *    PageRank / decimal centroid choices).
    *  - `ttr`: type-token ratio distinct/total tokens — again one
    *    exact integer division.
    *
    * Scale: the char histogram is explode + two map-side-combined
    * hash aggregates keyed on (doc_id, ch) then doc_id; ttr is
    * array arithmetic inside the scan projection. Joined on doc_id —
    * both sides doc-sized. */
  def charDiversity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val hist = d.select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("n"))
    val coll = hist.groupBy(col("doc_id")).agg(
      sum(col("n")).as("n_chars_total"),
      count(lit(1)).as("distinct_chars"),
      sum(col("n") * (col("n") - lit(1L))).as("coll_num"))
    val toks = tokens(col("text"))
    // degenerate-doc guards: for a 1-char document (or an empty token
    // array) the denominator is 0 — Spark's non-ANSI Divide yields
    // NULL there while DuckDB's default IEEE division yields inf/NaN,
    // so both sides pin the degenerate case to an explicit NULL
    val ttr = d.select(col("doc_id"),
      when(size(toks) > 0,
        size(array_distinct(toks)).cast("double") /
          size(toks).cast("double")).as("ttr"))
    coll.join(ttr, Seq("doc_id"))
      .select(col("doc_id"), col("n_chars_total"), col("distinct_chars"),
        when(col("n_chars_total") > 1,
          col("coll_num").cast("double") /
            (col("n_chars_total") * (col("n_chars_total") - lit(1L)))
              .cast("double")).as("char_collision"),
        col("ttr"))
      .orderBy(col("doc_id"))
  }

  val charDiversitySql: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
      |hist AS (
      |  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
      |  FROM ch GROUP BY doc_id, c),
      |coll AS (
      |  SELECT doc_id,
      |    CAST(sum(n) AS BIGINT) AS n_chars_total,
      |    CAST(count(*) AS BIGINT) AS distinct_chars,
      |    CAST(sum(n * (n - 1)) AS BIGINT) AS coll_num
      |  FROM hist GROUP BY doc_id),
      |t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(regexp_split_to_array(text, '\s+')) > 0 THEN
      |      CAST(len(list_distinct(regexp_split_to_array(text, '\s+')))
      |        AS DOUBLE) /
      |      CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE)
      |    END AS ttr
      |  FROM documents)
      |SELECT coll.doc_id, coll.n_chars_total, coll.distinct_chars,
      |  CASE WHEN coll.n_chars_total > 1 THEN
      |    CAST(coll.coll_num AS DOUBLE) /
      |      CAST(coll.n_chars_total * (coll.n_chars_total - 1) AS DOUBLE)
      |  END AS char_collision,
      |  t.ttr
      |FROM coll JOIN t ON t.doc_id = coll.doc_id
      |ORDER BY coll.doc_id""".stripMargin

  // ---------------------------------------------------------------- q91

  /** Tokens per training chunk and the stride between chunk starts
    * (overlap = [[ChunkTokens]] − [[ChunkStride]] = 16 tokens, the
    * usual context-carryover so no sentence is ever split across a
    * boundary without appearing whole in a neighbor). */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** q91 — document CHUNKING: split each document's token stream into
    * overlapping [[ChunkTokens]]-token windows — the
    * tokenize-and-shard step that turns a raw corpus into
    * training-sequence rows (every LLM data pipeline ends with it).
    * Chunk count = 1 + ⌈max(0, n−C) / stride⌉, so a short doc is one
    * chunk and the final chunk may run short; both engines slice with
    * clamping semantics, so the layout is bit-identical.
    *
    * Scale: a pure flatMap — `posexplode(sequence(...))` over the
    * scan, zero exchanges before the output sort; at 100 TB this is
    * the shape that parallelizes perfectly (one generator row in,
    * ~n/stride rows out, no state). */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val toks = tokens(col("text"))
    val nChunks = (lit(1) + floor(
      (greatest(size(toks) - ChunkTokens, lit(0)) + lit(ChunkStride - 1))
        / ChunkStride)).cast("int")
    d.select(col("doc_id"), toks.as("toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no").cast("int").as("chunk_no"),
        slice(col("toks"), col("chunk_no") * ChunkStride + lit(1),
          lit(ChunkTokens)).as("chunk"))
      .select(col("doc_id"), col("chunk_no"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_no"))
  }

  val docChunksSql: String = {
    val toks = "regexp_split_to_array(text, '\\s+')"
    s"""WITH base AS (
       |  SELECT doc_id, $toks AS toks,
       |    1 + CAST(ceil(greatest(len($toks) - $ChunkTokens, 0)
       |      / ${ChunkStride}.0) AS INT) AS n_chunks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, unnest(range(n_chunks)) AS chunk_no, toks
       |  FROM base)
       |SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
       |  CAST(len(toks[chunk_no * $ChunkStride + 1 :
       |            chunk_no * $ChunkStride + $ChunkTokens]) AS BIGINT)
       |    AS n_chunk_tokens,
       |  array_to_string(toks[chunk_no * $ChunkStride + 1 :
       |            chunk_no * $ChunkStride + $ChunkTokens], ' ')
       |    AS chunk_text
       |FROM c ORDER BY doc_id, chunk_no""".stripMargin
  }

  // ---------------------------------------------------------------- q92

  /** q92 — per-source CORPUS HEALTH report: the monitoring rollup a
    * data pipeline publishes after each crawl/ingest batch — document
    * volume, exact-dup rate (via the q32 fingerprint), token volume,
    * and mean quality (q29's score) PER SOURCE, so a regressing feed
    * is visible as its own row. Parity discipline: dup_rate is one
    * exact integer division; avg_quality sums the 6-dp scores in
    * exact decimal ([[graft.util.Cols.davg]]) so partial aggregation
    * order can never perturb the mean.
    *
    * Scale: one scan computing fingerprint + token count + score in
    * the projection, one hash exchange on source. countDistinct
    * plans as the standard two-phase partial_count(distinct fp) —
    * per-source fingerprint sets never sit in one task's memory. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopCnt = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
      .cast("double")
    val punctCnt = length(regexp_replace(col("text"), "[^.,!?;:]", ""))
      .cast("double")
    val score = round(
      lit(0.5) * (stopCnt / nTok) +
        lit(0.3) * least(lit(1.0), nTok / lit(100.0)) +
        lit(0.2) * (lit(1.0) - punctCnt / length(col("text")).cast("double")),
      6)
    d.select(col("source"), fingerprint(col("text")).as("fp"),
        size(toks).cast("long").as("nt"), score.as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        sum(col("nt")).as("n_tokens"),
        graft.util.Cols.davg(col("q"), 6).as("avg_quality"))
      .withColumn("dup_rate",
        lit(1.0) - col("n_unique").cast("double") / col("n_docs").cast("double"))
      .select(col("source"), col("n_docs"), col("n_unique"), col("dup_rate"),
        col("n_tokens"), col("avg_quality"))
      .orderBy(col("source"))
  }

  val corpusReportSql: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id, source,
       |    md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
       |    CAST(len($tokensSql) AS BIGINT) AS nt,
       |    round(
       |      0.5 * (CAST(len(list_filter($tokensSql, t -> t IN ($stopList)))
       |               AS DOUBLE) / CAST(len($tokensSql) AS DOUBLE))
       |      + 0.3 * least(1.0, CAST(len($tokensSql) AS DOUBLE) / 100.0)
       |      + 0.2 * (1.0 -
       |          CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
       |            AS DOUBLE) / CAST(length(text) AS DOUBLE)),
       |      6) AS q
       |  FROM documents)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
       |  1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS dup_rate,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  ${graft.util.Cols.davgSql("q", 6)} AS avg_quality
       |FROM f GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------- q97

  /** q97 — BIGRAM FAMILIARITY: a language-model fluency proxy in
    * exact integer arithmetic. CCNet-style corpora filter on LM
    * perplexity (Wenzek et al. 2019, arXiv:1911.00359 — a KenLM
    * 5-gram model scores every paragraph); the transcendental log in
    * true perplexity drifts by libm ulps across engines, so this
    * operator keeps the model's COUNTS: familiarity = the average
    * corpus frequency of a document's adjacent-token bigrams (exact
    * decimal mean over integers). Gibberish and OCR noise sit at the
    * floor (every transition unique), templated boilerplate at the
    * ceiling — the same ordering the log-space score induces on the
    * count model, minus the float hazard.
    *
    * Scale: token explode → one hash exchange building the bigram
    * count table (the "LM training" pass), one join back (the
    * "scoring" pass) — both linear; at 100 TB the count table is the
    * artifact you persist and the scoring pass streams against it
    * (same materialize-once shape as the sketch tables). */
  def bigramFamiliarity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    // adjacent pairs from the native n-gram kernel (one split per
    // doc); empty for <2-token docs
    val bg = d.select(col("doc_id"),
      explode(graft.functions.TextExprs.ngrams(col("text"), 2)).as("bg"))
    val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
    val scored = bg.join(counts, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.util.Cols.davg(col("cnt"), 0).as("familiarity"))
    d.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("familiarity"))
      .orderBy(col("doc_id"))
  }

  val bigramFamiliaritySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents),
       |b AS (
       |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
       |  FROM t CROSS JOIN LATERAL
       |    (SELECT unnest(range(1, len(toks))) AS i) u),
       |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bg),
       |s AS (
       |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    ${graft.util.Cols.davgSql("cnt", 0)} AS familiarity
       |  FROM b JOIN c USING (bg) GROUP BY b.doc_id)
       |SELECT d.doc_id,
       |  coalesce(s.n_bigrams, 0) AS n_bigrams,
       |  s.familiarity
       |FROM documents d LEFT JOIN s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- q103

  /** Token budget per packed training sequence. */
  val PackTokenBudget = 512L
  /** Parallel packing streams — each packs independently. */
  val PackStreams = 8

  /** q103 — cross-document SEQUENCE PACKING: assign every document to
    * a fixed-token-budget training example — the assembly step between
    * chunking (q91) and shard export, where short documents are
    * concatenated (with separator masking downstream) so no batch
    * token is padding. Documents hash into [[PackStreams]] independent
    * streams (deterministic `doc_id % streams`); within a stream the
    * greedy doc-order packer is the floor-of-running-sum relaxation
    * proven in q77: example = ⌊tokens-before / budget⌋, so every
    * example holds ≤ budget tokens + at most ONE overflowing document
    * (exact bin packing is NP-hard and order-dependent; this form is
    * deterministic, one window pass, and rerun-stable).
    *
    * Scale: the pack is a per-stream running sum — [[PackStreams]]
    * independent window partitions, each a single ordered scan; at
    * 100 TB raise the stream count with the cluster (the packer is
    * embarrassingly parallel across streams, and stream count only
    * changes WHICH docs share an example, not the budget contract). */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stream")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    d.select(col("doc_id"),
        pmod(col("doc_id"), lit(PackStreams.toLong)).as("stream"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("stream"), col("n_tokens"),
        floor(col("tokens_before") / PackTokenBudget).as("example_id"))
      .orderBy(col("doc_id"))
  }

  val sequencePackingSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % $PackStreams AS stream,
       |    CAST(len($tokensSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, stream, n_tokens,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS tokens_before
       |  FROM t)
       |SELECT doc_id, stream, n_tokens,
       |  CAST(tokens_before // $PackTokenBudget AS BIGINT) AS example_id
       |FROM r ORDER BY doc_id""".stripMargin
}
