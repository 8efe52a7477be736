package graft.operators

import graft.Q
import graft.functions.TextFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis queries over `documents` (SURVEY §2.3 rows 31-34). */
object TextQueries {

  private val stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "for")

  /** r15 (opt) — the TOKENIZED documents table as a staged frame
    * (doc_id, lang, source, n_chars, w: array<string>), content-gated on
    * the documents table: every text/corpus query front re-paid the
    * whitespace-split pass per run, and paid it inside the one-task
    * documents scan (single parquet file, one row group). Built once per
    * corpus state with a spread scan (so the staged parts read back
    * parallel); consumers that need only the token arrays read this;
    * consumers that read `text` itself (PII regexes, sentence splits,
    * fingerprints) keep the raw table. Tokenization is deterministic, so
    * stored-w ≡ inline-words(text) row for row (spec-pinned). */
  private[operators] def stagedDocTokens(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Stage.parquet(spark, "doctok", dir, "documents") {
      Tables(dir).spread("documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          words(col("text")).as("w"))
    }
  }

  /** §33 — token counting: whitespace tokens + a BPE-ish regex token count
    * (alpha runs / digit runs / single other non-space chars). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_measured"),
        size(words(col("text"))).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)")).as("subword_tokens"))
  }

  private val tokenStatsSql =
    """SELECT doc_id,
      |  LENGTH(text) AS n_chars_measured,
      |  LEN(list_filter(string_split_regex(text, '\s+'), x -> LEN(x) > 0)) AS ws_tokens,
      |  LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS subword_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** §32 — quality scoring: length/punctuation/stopword signals combined
    * into one deterministic linear score (no transcendentals — portable). */
  /** The linear quality score as a reusable column expression (shared by
    * [[qualityScore]] and [[qualityBuckets]]). */
  private[operators] def qualityCol: Column = {
    val n = length(col("text")).cast("double")
    val punct = (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?()]", ""))).cast("double")
    val nTok = size(words(col("text"))).cast("double")
    val nStop = stopwordCount(words(col("text")), stopwords).cast("double")
    round(least(n / lit(500.0), lit(1.0)) * 0.3
      + (lit(1.0) - punct / n) * 0.4
      + (nStop / nTok) * 0.3, 6)
  }

  /** The same linear quality score as a DuckDB SQL expression (shared
    * with the corpus importance sampler's oracle). */
  private[operators] def qualitySqlExpr: String =
    s"""ROUND(LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.3
       |      + (1.0 - CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE)
       |          / CAST(LENGTH(text) AS DOUBLE)) * 0.4
       |      + (CAST(LEN(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0),
       |            w -> w IN (${stopwords.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE)
       |          / CAST(LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) AS DOUBLE)) * 0.3, 6)""".stripMargin

  /** Long-word threshold for the LIX readability index (Björnsson 1968:
    * words of 7+ characters). */
  /** §8z(er) r13 — TOKEN DIVERSITY per document: total/distinct token
    * counts, type-token ratio, and unigram GINI impurity — all in
    * per-mille integers. Gini (1 − Σp²) is the transcendental-free
    * diversity measure (entropy needs log, whose engine-local rounding
    * breaks oracle exactness; Gini is one Σcnt² per doc):
    * gini_pm = 1000 − Σcnt²·1000 div n². A spammy doc repeating one
    * phrase scores near 0, natural prose near 1000 — the repetition
    * family's distribution-level complement (text_repetition flags
    * repeated n-gram RUNS; this reads the whole unigram distribution).
    * Σcnt² rides the DECIMAL lane (a 10⁷-token doc squares past int64
    * before the final divide).
    *
    * Scale shape: one explode + (doc, token) count + per-doc aggregate —
    * map-side partials on both keyed steps, output one row per doc. */
  def tokenDiversity(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[stagedDocTokens]])
    stagedDocTokens(spark, dir)
      .select(col("doc_id"), explode_outer(col("w")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("tok").isNotNull, col("cnt")).otherwise(0L)).as("n_tokens"),
        sum(when(col("tok").isNotNull, 1L).otherwise(0L)).as("n_distinct"),
        sum(when(col("tok").isNotNull,
          expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("ss"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("CASE WHEN n_tokens = 0 THEN 0L ELSE n_distinct * 1000 div n_tokens END").as("ttr_pm"),
        expr("""CASE WHEN n_tokens = 0 THEN 0L
               |ELSE CAST(1000 - ss * 1000 div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)
               |END""".stripMargin).as("gini_pm"))
  }

  private val tokenDiversitySql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> LEN(x) > 0)) AS tok
      |  FROM documents),
      |cnts AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      |per_doc AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |    SUM(CAST(cnt AS HUGEINT) * cnt) AS ss
      |  FROM cnts GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(n_tokens, 0) AS n_tokens,
      |  COALESCE(n_distinct, 0) AS n_distinct,
      |  CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0
      |       ELSE n_distinct * 1000 // n_tokens END AS ttr_pm,
      |  CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0
      |       ELSE CAST(1000 - ss * 1000 // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
      |       END AS gini_pm
      |FROM documents d LEFT JOIN per_doc USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private val LixLongWord = 7

  /** §8y(eo) r12 — READABILITY metrics per document: sentence/word/long-
    * word counts and the LIX index in per-mille integers
    * (LIX = words/sentences + 100·longwords/words — the readability
    * formula with NO syllable counting, so it is exactly computable from
    * splits alone and engine-identical; lix_pm = LIX·1000 in truncating
    * integer arithmetic). The quality-filter complement: `quality` says
    * "is this clean text", LIX says "how hard is it to read" — corpus
    * difficulty stratification (curriculum ordering, grade-level
    * filtering) reads this column, not the cleanliness score.
    *
    * Scale shape: pure row-local splits and counts — one narrow map over
    * the corpus, no shuffle at all. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .withColumn("w", words(col("text")))
      .select(col("doc_id"),
        size(expr("filter(split(text, '[.!?]+'), x -> length(trim(x)) > 0)"))
          .cast("long").as("n_sentences"),
        size(col("w")).cast("long").as("n_words"),
        size(expr(s"filter(w, x -> length(x) >= $LixLongWord)"))
          .cast("long").as("n_long_words"))
      .where(col("n_sentences") > 0 && col("n_words") > 0)
      .withColumn("lix_pm",
        expr("n_words * 1000 div n_sentences + n_long_words * 100000 div n_words"))
  }

  private val readabilitySql =
    s"""SELECT doc_id,
       |  CAST(LEN(list_filter(string_split_regex(text, '[.!?]+'),
       |    x -> LEN(trim(x)) > 0)) AS BIGINT) AS n_sentences,
       |  CAST(LEN(list_filter(string_split_regex(text, '\\s+'),
       |    x -> LEN(x) > 0)) AS BIGINT) AS n_words,
       |  CAST(LEN(list_filter(list_filter(string_split_regex(text, '\\s+'),
       |    x -> LEN(x) > 0), x -> LEN(x) >= $LixLongWord)) AS BIGINT) AS n_long_words,
       |  CAST(LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) AS BIGINT) * 1000
       |    // LEN(list_filter(string_split_regex(text, '[.!?]+'), x -> LEN(trim(x)) > 0))
       |  + CAST(LEN(list_filter(list_filter(string_split_regex(text, '\\s+'),
       |      x -> LEN(x) > 0), x -> LEN(x) >= $LixLongWord)) AS BIGINT) * 100000
       |    // LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) AS lix_pm
       |FROM documents
       |WHERE LEN(list_filter(string_split_regex(text, '[.!?]+'), x -> LEN(trim(x)) > 0)) > 0
       |  AND LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) > 0
       |ORDER BY doc_id""".stripMargin

  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val n = length(col("text")).cast("double")
    val punct = (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?()]", ""))).cast("double")
    val nTok = size(words(col("text"))).cast("double")
    val nStop = stopwordCount(words(col("text")), stopwords).cast("double")
    t.documents
      .select(
        col("doc_id"),
        n.as("n_chars_measured"),
        round(punct / n, 6).as("punct_ratio"),
        round(nStop / nTok, 6).as("stopword_ratio"),
        qualityCol.as("quality"))
  }

  /** CCNet-style per-language quality TIERS: every document lands in the
    * head / middle / tail third of its own language's quality
    * distribution — the standard pre-training split (keep head, sample
    * middle, drop tail) computed per language so low-resource languages
    * are not graded on the high-resource curve.
    *
    * Exact NTILE over (lang) is the oracle-able DEFINITION; its plan
    * sorts each language's partition, which serializes per language at
    * extreme scale. The deployed path for that regime already exists in
    * this repo: broadcast the per-language quantile thresholds from
    * `text_quality_quantiles` and assign tiers map-side — same tiers,
    * no per-language sort. This query pins the semantics both paths
    * must produce. */
  def qualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .select(col("doc_id"), col("lang"), qualityCol.as("quality"))
      .withColumn("tier",
        element_at(typedlit(Seq("head", "middle", "tail")),
          ntile(3).over(Window.partitionBy(col("lang"))
            .orderBy(col("quality").desc, col("doc_id")))))
  }

  private val qualityBucketsSql =
    s"""WITH x AS (
      |  SELECT doc_id, lang,
      |    ROUND(LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.3
      |      + (1.0 - CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE)
      |          / CAST(LENGTH(text) AS DOUBLE)) * 0.4
      |      + (CAST(LEN(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0),
      |            w -> w IN (${stopwords.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE)
      |          / CAST(LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) AS DOUBLE)) * 0.3, 6) AS quality
      |  FROM documents)
      |SELECT doc_id, lang, quality,
      |  ['head', 'middle', 'tail'][NTILE(3) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)] AS tier
      |FROM x ORDER BY doc_id""".stripMargin

  private[operators] val qualityScoreSql =
    s"""WITH x AS (
      |  SELECT doc_id,
      |    CAST(LENGTH(text) AS DOUBLE) AS n,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) AS punct,
      |    CAST(LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) AS DOUBLE) AS ntok,
      |    CAST(LEN(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0),
      |      w -> w IN (${stopwords.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) AS nstop
      |  FROM documents)
      |SELECT doc_id,
      |  n AS n_chars_measured,
      |  ROUND(punct / n, 6) AS punct_ratio,
      |  ROUND(nstop / ntok, 6) AS stopword_ratio,
      |  ROUND(LEAST(n / 500.0, 1.0) * 0.3 + (1.0 - punct / n) * 0.4 + (nstop / ntok) * 0.3, 6) AS quality
      |FROM x ORDER BY doc_id""".stripMargin

  /** §31 — language ID: marker-token scoring with a deterministic argmax
    * chain (en ≥ de ≥ es ≥ fr, then fr). Heuristic, n-gram-style. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and"),
    "de" -> Seq("der", "die", "das"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "les", "des"))

  /** CJK codepoint count (literal character range — identical regex
    * semantics on any RE dialect, unlike \u escapes). */
  private val CjkClass = "[一-鿿]"

  def langId(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    langIdFor(Tables(dir).documents)
  }

  /** Scoring over any frame with (doc_id, text, lang) — the query above
    * binds it to the documents table; specs feed real multilingual text
    * (the synthetic corpus is English word-salad under random labels, so
    * accuracy is only observable on real samples). */
  def langIdFor(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val scores = markers.map { case (lang, ms) =>
      stopwordCount(w, ms).cast("long").as(s"s_$lang")
    }
    val sEn = col("s_en"); val sDe = col("s_de"); val sEs = col("s_es"); val sFr = col("s_fr")
    docs
      .select((col("doc_id") +: col("lang").as("actual_lang") +:
        (length(col("text")) - length(regexp_replace(col("text"), CjkClass, ""))).cast("long").as("s_cjk") +:
        scores): _*)
      .withColumn("pred_lang",
        when(col("s_cjk") * 5 >= col("s_en") + col("s_de") + col("s_es") + col("s_fr") + 1, "zh")
          .when(sEn >= sDe && sEn >= sEs && sEn >= sFr, "en")
          .when(sDe >= sEs && sDe >= sFr, "de")
          .when(sEs >= sFr, "es")
          .otherwise("fr"))
  }

  /** Shared scoring CTEs: `scored` carries (doc features, pred_lang) —
    * the registered per-doc view and the confusion matrix both read it,
    * so the classifier cannot drift between its own evaluation and its
    * output. */
  private val langIdCtes = {
    val scoreExprs = markers.map { case (lang, ms) =>
      s"""CAST(LEN(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0),
         |      w -> w IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS BIGINT) AS s_$lang""".stripMargin
    }.mkString(",\n    ")
    s"""WITH x AS (
      |  SELECT doc_id, lang AS actual_lang,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '$CjkClass', '', 'g')) AS BIGINT) AS s_cjk,
      |    $scoreExprs
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, actual_lang, s_cjk, s_en, s_de, s_es, s_fr,
      |    CASE WHEN s_cjk * 5 >= s_en + s_de + s_es + s_fr + 1 THEN 'zh'
      |         WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |         WHEN s_es >= s_fr THEN 'es'
      |         ELSE 'fr' END AS pred_lang
      |  FROM x)""".stripMargin
  }

  private val langIdSql =
    s"""$langIdCtes
      |SELECT doc_id, actual_lang, s_cjk, s_en, s_de, s_es, s_fr, pred_lang
      |FROM scored ORDER BY doc_id""".stripMargin

  /** §8k — language-ID CONFUSION MATRIX: predicted vs labeled language
    * counts, the evaluation view of the classifier (on the synthetic
    * word-salad corpus it measures label-vs-heuristic disagreement
    * structure; on real text it is the accuracy report). One map-side
    * scoring pass and a |langs|²-bounded aggregate. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    langIdFor(Tables(dir).documents)
      .groupBy(col("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  private val langConfusionSql =
    s"""$langIdCtes
      |SELECT actual_lang, pred_lang, COUNT(*) AS n_docs
      |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** §34 — document fingerprint: min-of-shingle-md5s (winnowing-style). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r14 (opt): gated spread — per-row min-of-shingle-md5s off the
    // one-task scan (Tables.spread doc)
    Tables(dir).spread("documents")
      .withColumn("w", words(col("text")))
      .select(col("doc_id"), fingerprint(shingles("w")).as("fingerprint"))
  }

  private val docFingerprintSql =
    """WITH ws AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> LEN(x) > 0) AS w FROM documents)
      |SELECT doc_id,
      |  CASE WHEN LEN(w) >= 3
      |  THEN list_aggregate(list_transform(generate_series(1, LEN(w) - 2),
      |       i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])), 'min')
      |  ELSE md5(array_to_string(w, ' ')) END AS fingerprint
      |FROM ws ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- tokenizer fertility

  /** §8m(ca) — tokenizer FERTILITY audit: per language, subword tokens
    * per whitespace word (per-mille integer) — the standard "how many
    * pieces does the tokenizer cut a word into" metric that decides
    * whether a vocabulary underserves a language (fertility ≫ 1000
    * means words shatter; the multilingual-tokenizer fairness table).
    * Uses [[tokenStats]]' exact token counters aggregated per lang —
    * integer sums, integer div, zero floats. The divisor is guarded with
    * GREATEST(ws_tokens, 1) on both engines: a stratum whose docs are all
    * whitespace-empty would otherwise divide by zero and lean on the two
    * engines agreeing on int-div-by-zero semantics. */
  def fertility(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .select(col("lang"),
        size(words(col("text"))).cast("long").as("ws"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
          .cast("long").as("sub"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("sub")).as("subword_tokens"))
      .withColumn("fertility_pm", expr("subword_tokens * 1000 div greatest(ws_tokens, 1L)"))
  }

  private val fertilitySql =
    """WITH t AS (
      |  SELECT lang,
      |    CAST(LEN(list_filter(string_split_regex(text, '\s+'), x -> LEN(x) > 0)) AS BIGINT) AS ws,
      |    CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS sub
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
      |  CAST(SUM(sub) AS BIGINT) AS subword_tokens,
      |  CAST(SUM(sub) AS BIGINT) * 1000 // GREATEST(CAST(SUM(ws) AS BIGINT), 1) AS fertility_pm
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------ PII audit scan

  /** §8l(bv) — per-source PII exposure report: how many documents carry
    * each PII class (email / IP / phone) and the total hits, from the
    * SAME sequential-redaction counting as the scrub itself
    * ([[graft.functions.TextFunctions.piiCounts]] — classes never
    * double-count one substring), so the audit numbers are exactly what
    * [[graft.functions.TextFunctions.redactPii]] would remove. The
    * governance table a release review reads before any corpus ships;
    * one map-side regex pass + one small groupBy. */
  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    piiScanOf(Tables(dir).documents)
  }

  /** The scan over any (source, text) frame — spec-driven with crafted
    * PII (the shipped corpus is clean, so the registered query proves
    * the aggregation and the spec proves the counters). */
  private[graft] def piiScanOf(docs: DataFrame): DataFrame =
    docs.withColumn("pii", piiCounts(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pii.email_hits") > 0 || col("pii.ip_hits") > 0 ||
          col("pii.phone_hits") > 0, 1L).otherwise(0L)).as("docs_with_pii"),
        sum(col("pii.email_hits").cast("long")).as("email_hits"),
        sum(col("pii.ip_hits").cast("long")).as("ip_hits"),
        sum(col("pii.phone_hits").cast("long")).as("phone_hits"))

  private val piiScanSql = {
    val Seq((emailPat, emailRepl), (ipPat, ipRepl), (phonePat, _)) = piiPatterns
    // DuckDB string literals are escape-free (standard SQL): the Scala
    // string's single backslashes pass through verbatim
    def q(p: String) = p.replace("'", "''")
    s"""WITH scanned AS (
       |  SELECT source,
       |    LEN(regexp_extract_all(text, '${q(emailPat)}')) AS email_hits,
       |    LEN(regexp_extract_all(regexp_replace(text, '${q(emailPat)}', '$emailRepl', 'g'),
       |        '${q(ipPat)}')) AS ip_hits,
       |    LEN(regexp_extract_all(regexp_replace(regexp_replace(text, '${q(emailPat)}', '$emailRepl', 'g'),
       |        '${q(ipPat)}', '$ipRepl', 'g'), '${q(phonePat)}')) AS phone_hits
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN email_hits > 0 OR ip_hits > 0 OR phone_hits > 0
       |       THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       |  CAST(SUM(email_hits) AS BIGINT) AS email_hits,
       |  CAST(SUM(ip_hits) AS BIGINT) AS ip_hits,
       |  CAST(SUM(phone_hits) AS BIGINT) AS phone_hits
       |FROM scanned GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------- k-anonymity audit

  private val KanonK = 5

  /** §8l(bw) — k-anonymity audit over the corpus's quasi-identifiers
    * (lang, source, length-percentile-ish bucket n_chars div 100): every
    * combination held by fewer than [[KanonK]] documents is a
    * re-identification risk the release review must see. The standard
    * privacy table (Sweeney's k-anonymity) as one groupBy + a flag —
    * paired with [[piiScan]]: that one finds direct identifiers, this
    * one finds sparse-cohort indirect ones. */
  def kanonAudit(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .groupBy(col("lang"), col("source"), expr("n_chars div 100").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("at_risk", col("n_docs") < KanonK)
  }

  private val kanonAuditSql =
    s"""SELECT lang, source, n_chars // 100 AS len_bucket, COUNT(*) AS n_docs,
       |  COUNT(*) < $KanonK AS at_risk
       |FROM documents GROUP BY 1, 2, 3
       |ORDER BY lang, source, len_bucket""".stripMargin

  private val LDiversityL = 3

  /** §8n(ci) — l-diversity audit, [[kanonAudit]]'s sharper sibling
    * (Machanavajjhala et al.): a quasi-identifier cohort can be k-large
    * yet still leak if every member shares the SAME sensitive value.
    * Quasi-identifiers = (lang, length bucket); sensitive attribute =
    * source; a cohort with fewer than l = [[LDiversityL]] distinct
    * sources is flagged. One groupBy with an exact count-distinct —
    * the cohort table is tiny at any corpus size. */
  def ldiversityAudit(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .groupBy(col("lang"), expr("n_chars div 100").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .withColumn("at_risk", col("n_sources") < LDiversityL)
  }

  private val ldiversityAuditSql =
    s"""SELECT lang, n_chars // 100 AS len_bucket, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT source) AS n_sources,
       |  COUNT(DISTINCT source) < $LDiversityL AS at_risk
       |FROM documents GROUP BY 1, 2
       |ORDER BY lang, len_bucket""".stripMargin

  /** t-closeness threshold in ppm: a cohort whose sensitive-attribute
    * distribution sits further than 0.4 (variational distance) from the
    * corpus-wide distribution is flagged. */
  private val TClosePpm = 400000L

  /** §8q(dh) — t-closeness audit (Li/Li/Venkatasubramanian, ICDE 2007),
    * the third rung of the release-privacy ladder after [[kanonAudit]]
    * (cohort size) and [[ldiversityAudit]] (sensitive-value count):
    * a cohort can be k-large AND l-diverse yet still leak when its
    * sensitive-value DISTRIBUTION is skewed far from the corpus's. For
    * categorical sensitive attributes the earth-mover distance reduces
    * to the variational distance t_c = ½·Σ_s |p_c(s) − p(s)|; computed
    * over the full source domain (absent sources contribute p(s)·n_c)
    * in exact integers — Σ_s |n_cs·N − n_s·n_c| on the DECIMAL lane
    * (the product crosses int64 near 10¹⁰ docs), scaled to ppm by one
    * truncating division both engines floor identically.
    *
    * Scale shape: one corpus groupBy into (cohort × source) cells; the
    * grid join runs on the cell table (cohorts × |sources|, thousands
    * of rows at any corpus size), with the source totals and the 1-row
    * grand total broadcast. */
  def tclosenessAudit(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cell = Tables(dir).documents
      .groupBy(col("lang"), expr("n_chars div 100").as("len_bucket"), col("source"))
      .agg(count(lit(1)).as("n_cs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.operators.Cached.track(cell)
    val cohorts = cell.groupBy("lang", "len_bucket").agg(sum(col("n_cs")).as("n_c"))
    val srcTot = cell.groupBy("source").agg(sum(col("n_cs")).as("n_s"))
    val total = srcTot.agg(sum(col("n_s")).as("n_all"))
    cohorts
      .crossJoin(broadcast(srcTot))
      .crossJoin(broadcast(total))
      .join(cell, Seq("lang", "len_bucket", "source"), "left")
      .na.fill(0L, Seq("n_cs"))
      .groupBy(col("lang"), col("len_bucket"))
      .agg(max(col("n_c")).as("n_docs"),
        sum(expr("abs(CAST(n_cs AS DECIMAL(38,0)) * n_all - CAST(n_s AS DECIMAL(38,0)) * n_c)"))
          .as("num"),
        max(col("n_c")).as("n_c"), max(col("n_all")).as("n_all"))
      .select(col("lang"), col("len_bucket"), col("n_docs"),
        expr("CAST((num * 1000000) div (2 * CAST(n_c AS DECIMAL(38,0)) * n_all) AS BIGINT)")
          .as("t_ppm"))
      .withColumn("at_risk", col("t_ppm") > TClosePpm)
  }

  private val tclosenessAuditSql =
    s"""WITH cell AS (
       |  SELECT lang, n_chars // 100 AS len_bucket, source, COUNT(*) AS n_cs
       |  FROM documents GROUP BY 1, 2, 3),
       |cohorts AS (SELECT lang, len_bucket, CAST(SUM(n_cs) AS BIGINT) AS n_c
       |            FROM cell GROUP BY 1, 2),
       |src_tot AS (SELECT source, CAST(SUM(n_cs) AS BIGINT) AS n_s FROM cell GROUP BY 1),
       |total AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_all FROM src_tot),
       |grid AS (
       |  SELECT c.lang, c.len_bucket, c.n_c, s.source, s.n_s, t.n_all,
       |    COALESCE(x.n_cs, 0) AS n_cs
       |  FROM cohorts c CROSS JOIN src_tot s CROSS JOIN total t
       |  LEFT JOIN cell x ON x.lang = c.lang AND x.len_bucket = c.len_bucket
       |    AND x.source = s.source)
       |SELECT lang, len_bucket, MAX(n_c) AS n_docs,
       |  CAST((SUM(ABS(CAST(n_cs AS HUGEINT) * n_all - CAST(n_s AS HUGEINT) * n_c)) * 1000000)
       |       // (2 * CAST(MAX(n_c) AS HUGEINT) * MAX(n_all)) AS BIGINT) AS t_ppm,
       |  (SUM(ABS(CAST(n_cs AS HUGEINT) * n_all - CAST(n_s AS HUGEINT) * n_c)) * 1000000)
       |       // (2 * CAST(MAX(n_c) AS HUGEINT) * MAX(n_all)) > $TClosePpm AS at_risk
       |FROM grid GROUP BY 1, 2
       |ORDER BY lang, len_bucket""".stripMargin

  // ------------------------------------------ differentially-private release

  /** Release epoch salt: rotating it re-draws every cell's noise (a real
    * release pipeline rotates per publication; the privacy accounting is
    * per-epoch). */
  private val DpSalt = "graft-dp-v1:"

  /** Stability-style publication threshold on the NOISY count (thresholding
    * on the true count would itself leak; thresholding the noisy count is
    * the standard contingency-release shape). */
  private val DpReleaseMin = 10L

  /** §8x(ec) — ε = ln 2 geometric-mechanism release of the corpus
    * composition marginal (lang × source — the grain dataset cards
    * actually publish; the finer len-bucketed grid is the AUDIT grain of
    * [[kanonAudit]]): each cell's count is perturbed with two-sided
    * geometric noise — the universally-utility-maximizing mechanism for
    * counting queries under ε-DP (Ghosh, Roughgarden & Sundararajan,
    * STOC 2009) — and only cells whose NOISY count clears
    * [[DpReleaseMin]] are published. The fourth rung of the
    * release-privacy ladder: k-anonymity flags sparse cohorts,
    * l-diversity/t-closeness flag leaky ones, this one actually produces
    * the publishable table.
    *
    * The "noise" is a DETERMINISTIC seeded surrogate: two independent
    * 16-bit fields of the cell key's salted md5 each yield a
    * leading-1-bits count — 16 fair coin flips, so P(M = m) = 2⁻⁽ᵐ⁺¹⁾
    * for m < 16, Geometric(α = ½) TRUNCATED at 16 (the field has no
    * 17th bit: P(M = 16) = 2⁻¹⁶ absorbs the tail, so no mass beyond
    * 16) — and their DIFFERENCE M₁ − M₂ is the two-sided geometric
    * (discrete Laplace) with α = e^{−ε} = ½, truncated to |noise| ≤ 16
    * (the spec pins that envelope). The truncation shifts ~2⁻¹⁷ of
    * probability mass, so the stated ε = ln 2 accounting is off only
    * at that negligible tail; a release needing the untruncated
    * mechanism widens the field, not the algorithm.
    * Auditable release pipelines need bit-reproducible outputs (and the
    * oracle needs to replay them); against an adversary without the salt
    * the distribution is exactly the mechanism's. Pure integer
    * bit-arithmetic — no transcendentals to diverge between engines.
    *
    * Scale shape: one corpus groupBy into the bounded cell table; noise,
    * threshold and release are map-side over cells. */
  def dpRelease(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // leading-ones(u16): top m bits all 1 ⇔ u ≥ 2¹⁶ − 2^(16−m)
    def magCase(u: String) = (16 to 1 by -1)
      .map(m => s"WHEN $u >= ${65536L - (1L << (16 - m))} THEN ${m}L")
      .mkString("CASE ", " ", " ELSE 0L END")
    Tables(dir).documents
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("m", md5(concat(lit(DpSalt), col("lang"), lit("|"), col("source"))))
      .withColumn("u1", expr("CAST(conv(substring(m, 1, 4), 16, 10) AS BIGINT)"))
      .withColumn("u2", expr("CAST(conv(substring(m, 5, 4), 16, 10) AS BIGINT)"))
      .select(col("lang"), col("source"),
        (col("n_true") + expr(magCase("u1")) - expr(magCase("u2"))).as("n_released"))
      .where(col("n_released") >= DpReleaseMin)
  }

  private val dpReleaseSql = {
    val u1 = DedupQueries.hexToLongDuck("m", 4)
    val u2 = DedupQueries.hexToLongDuck("substring(m, 5, 4)", 4)
    def magCase(u: String) = (16 to 1 by -1)
      .map(m => s"WHEN $u >= ${65536L - (1L << (16 - m))} THEN ${m}")
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""WITH cells AS (
       |  SELECT lang, source, COUNT(*) AS n_true
       |  FROM documents GROUP BY 1, 2),
       |seeded AS (
       |  SELECT lang, source, n_true,
       |    md5('$DpSalt' || lang || '|' || source) AS m
       |  FROM cells),
       |noised AS (
       |  SELECT lang, source, n_true, $u1 AS u1, $u2 AS u2
       |  FROM seeded)
       |SELECT lang, source,
       |  n_true + (${magCase("u1")}) - (${magCase("u2")}) AS n_released
       |FROM noised
       |WHERE n_true + (${magCase("u1")}) - (${magCase("u2")}) >= $DpReleaseMin
       |ORDER BY lang, source""".stripMargin
  }

  private val MaxPhraseLen = 6
  private val breakRe = "[^a-z0-9]"

  /** §8o — RAKE keyphrase extraction (Rose et al. 2010): candidate
    * phrases are maximal runs of content tokens (runs break at stopwords
    * or any token carrying a non-alphanumeric character), a word scores
    * deg(w)/freq(w) over its phrase occurrences, a phrase scores the sum
    * of its member word scores. Scores ride ppm integers (deg·10⁶ div
    * freq), so both engines produce identical bits. Phrases are capped
    * at [[MaxPhraseLen]] tokens — the standard whale guard; a pathological
    * stopword-free document would otherwise emit its whole body as one
    * phrase.
    *
    * Scale shape: the run-id window is per-doc (bounded partition sort,
    * no global sort); everything downstream is hash aggregation over the
    * member rows with map-side partials. The phrase-TYPE table (distinct
    * phrase texts) is the only side the word-score join touches twice,
    * and member rows persist so the word-stat and phrase-text branches
    * don't re-tokenize the corpus. */
  def keyphrases(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // (r14 opt: Tables.spread on the tokenize/posexplode front
    // A/B-measured 2.12 -> 2.40 s — REJECTED)
    // r15 (opt): tokens come staged ([[stagedDocTokens]])
    val toks = stagedDocTokens(spark, dir)
      .select(col("doc_id"), posexplode_outer(col("w")).as(Seq("pos", "tok")))
      .where(col("tok").isNotNull)
    val runs = toks
      .withColumn("brk", col("tok").isin(stopwords: _*) || col("tok").rlike(breakRe))
      .withColumn("run_id",
        sum(when(col("brk"), 1L).otherwise(0L))
          .over(Window.partitionBy("doc_id").orderBy("pos")))
    val memb = graft.operators.Cached.track(
      runs.where(!col("brk"))
        .select(col("doc_id"), col("run_id"), col("pos"), col("tok"))
        .persist(MEMORY_AND_DISK))
    val occ = graft.operators.Cached.track(
      memb.groupBy("doc_id", "run_id")
        .agg(count(lit(1)).as("len"),
          expr("concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok))")
            .as("phrase"))
        .where(col("len") <= MaxPhraseLen)
        .persist(MEMORY_AND_DISK))
    val wscore = memb
      .join(occ.select("doc_id", "run_id", "len"), Seq("doc_id", "run_id"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("tok"),
        expr("CAST((CAST(deg AS DECIMAL(38,0)) * 1000000) div freq AS BIGINT)").as("score_ppm"))
    val ptypes = occ.groupBy("phrase").agg(count(lit(1)).as("n_occurrences"))
    ptypes
      .select(col("phrase"), col("n_occurrences"), explode(split(col("phrase"), " ")).as("tok"))
      .join(wscore, "tok")
      .groupBy("phrase", "n_occurrences")
      .agg(sum(col("score_ppm")).as("score_ppm"))
      .select(col("phrase"), col("n_occurrences"), col("score_ppm"))
      .orderBy(col("score_ppm").desc, col("n_occurrences").desc, col("phrase"))
      .limit(50)
  }

  private def keyphrasesSql =
    s"""WITH wd AS (SELECT doc_id, ${graft.functions.DuckSql.wordsOf("text")} AS w FROM documents),
       |toks AS (SELECT doc_id, w[i] AS tok, i AS pos
       |  FROM wd, UNNEST(generate_series(1, LEN(w))) AS g(i)),
       |runs AS (SELECT doc_id, pos, tok,
       |    (tok IN (${stopwords.map(w => s"'$w'").mkString(", ")})
       |      OR regexp_matches(tok, '$breakRe')) AS brk,
       |    SUM(CASE WHEN (tok IN (${stopwords.map(w => s"'$w'").mkString(", ")})
       |      OR regexp_matches(tok, '$breakRe')) THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
       |  FROM toks),
       |memb AS MATERIALIZED (SELECT doc_id, run_id, pos, tok FROM runs WHERE NOT brk),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, run_id, COUNT(*) AS len, STRING_AGG(tok, ' ' ORDER BY pos) AS phrase
       |  FROM memb GROUP BY doc_id, run_id HAVING COUNT(*) <= $MaxPhraseLen),
       |ws AS (SELECT m.tok, COUNT(*) AS freq, SUM(o.len) AS deg
       |  FROM memb m JOIN occ o ON m.doc_id = o.doc_id AND m.run_id = o.run_id
       |  GROUP BY m.tok),
       |wscore AS (SELECT tok, CAST((CAST(deg AS HUGEINT) * 1000000) // freq AS BIGINT) AS score_ppm
       |  FROM ws),
       |ptypes AS MATERIALIZED (SELECT phrase, COUNT(*) AS n_occurrences FROM occ GROUP BY phrase),
       |ptok AS (SELECT phrase, n_occurrences, unnest(string_split(phrase, ' ')) AS tok FROM ptypes)
       |SELECT p.phrase, p.n_occurrences, CAST(SUM(w.score_ppm) AS BIGINT) AS score_ppm
       |FROM ptok p JOIN wscore w ON p.tok = w.tok
       |GROUP BY p.phrase, p.n_occurrences
       |ORDER BY score_ppm DESC, n_occurrences DESC, phrase LIMIT 50""".stripMargin

  // ------------------------------------------- naive-Bayes language ID

  /** §8p(cw) — multinomial naive-Bayes language classifier, trained on
    * the corpus's own labels and read back as a confusion matrix — the
    * TRAINED counterpart of the heuristic `text_lang_id` (count-based
    * learning vs hand-rules), and the shape of every fastText-style
    * quality/domain classifier a training-data pipeline runs at scale.
    *
    * Exactness: the only transcendental is ln, taken ONCE per distinct
    * (word, class) smoothed probability and per class prior, immediately
    * rounded to integer micro-nats — after that every per-document score
    * is an exact integer Σ count·llr + prior, so the argmax and the
    * confusion matrix are bit-identical across engines (the
    * [[graft.pipeline.HllTable]] ln-admission precedent).
    *
    * Scale shape: train = one (word, class) groupBy over the token
    * stream + a classes-row broadcast; score = one word-keyed join of
    * per-doc counts against the model table and one (doc, class)
    * aggregate; the prediction argmax is a per-doc window (many tiny
    * groups → group-limit pushdown). The token frame feeds four
    * branches → persisted. Laplace smoothing (+1 / +V) keeps unseen
    * words finite; V is the global vocabulary count (a 1-scalar action
    * on the distinct-word table, the BPE-argmax driver-literal
    * pattern). */
  def nbLangId(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[stagedDocTokens]]); the doc-level
    // reads (count, per-lang priors) use the same frame — identical rows
    val docTok = stagedDocTokens(spark, dir)
    val tok = Cached.track(docTok
      .select(col("doc_id"), col("lang"), explode_outer(col("w")).as("word"))
      .where(col("word").isNotNull)
      .persist())
    val vocabV = tok.select("word").distinct().count()
    val nDocs = docTok.count()

    val clsStats = docTok.groupBy(col("lang").as("cls"))
      .agg(count(lit(1)).as("docs_c"))
      .join(tok.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("n_c")), Seq("cls"))
      .withColumn("prior_u", expr(
        s"CAST(ROUND(LN(CAST(docs_c AS DOUBLE) / $nDocs) * 1000000) AS BIGINT)"))
      .withColumn("llr0_u", expr(
        s"CAST(ROUND(LN(1.0 / (n_c + $vocabV)) * 1000000) AS BIGINT)"))
    val model = tok.groupBy(col("word"), col("lang").as("cls"))
      .agg(count(lit(1)).as("n_wc"))
      .join(broadcast(clsStats.select("cls", "n_c")), Seq("cls"))
      .withColumn("llr_u", expr(
        s"CAST(ROUND(LN(CAST(n_wc + 1 AS DOUBLE) / (n_c + $vocabV)) * 1000000) AS BIGINT)"))
      .select("word", "cls", "llr_u")

    val cntDw = tok.groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("cnt"))
    val scored = cntDw
      .crossJoin(broadcast(clsStats.select("cls", "prior_u", "llr0_u")))
      .join(model, Seq("word", "cls"), "left")
      .withColumn("llr_eff", coalesce(col("llr_u"), col("llr0_u")))
      .groupBy("doc_id", "lang", "cls")
      .agg((sum(col("cnt") * col("llr_eff")) + max(col("prior_u"))).as("score_u"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_u").desc, col("cls"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .groupBy(col("lang").as("actual_lang"), col("cls").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  private def nbLangIdSql = {
    val w = graft.functions.DuckSql.wordsOf("text")
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest($w) AS word FROM documents),
       |v AS (SELECT COUNT(DISTINCT word) AS vocab FROM tok),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
       |cls AS (
       |  SELECT d.lang AS cls, d.docs_c, t.n_c,
       |    CAST(ROUND(LN(CAST(d.docs_c AS DOUBLE) / n_docs) * 1000000) AS BIGINT) AS prior_u,
       |    CAST(ROUND(LN(1.0 / (t.n_c + vocab)) * 1000000) AS BIGINT) AS llr0_u
       |  FROM (SELECT lang, COUNT(*) AS docs_c FROM documents GROUP BY 1) d
       |  JOIN (SELECT lang, COUNT(*) AS n_c FROM tok GROUP BY 1) t ON d.lang = t.lang,
       |  v, nd),
       |model AS (
       |  SELECT m.word, m.cls,
       |    CAST(ROUND(LN(CAST(m.n_wc + 1 AS DOUBLE) / (c.n_c + vocab)) * 1000000) AS BIGINT) AS llr_u
       |  FROM (SELECT word, lang AS cls, COUNT(*) AS n_wc FROM tok GROUP BY 1, 2) m
       |  JOIN cls c USING (cls), v),
       |cnt AS (SELECT doc_id, lang, word, COUNT(*) AS cnt FROM tok GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT t.doc_id, t.lang, c.cls,
       |    CAST(SUM(t.cnt * COALESCE(m.llr_u, c.llr0_u)) AS BIGINT) + MAX(c.prior_u) AS score_u
       |  FROM cnt t CROSS JOIN cls c
       |  LEFT JOIN model m ON m.word = t.word AND m.cls = c.cls
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT doc_id, lang, cls,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_u DESC, cls) AS rn
       |  FROM scored)
       |SELECT lang AS actual_lang, cls AS pred_lang, COUNT(*) AS n_docs
       |FROM pred WHERE rn = 1
       |GROUP BY 1, 2
       |ORDER BY actual_lang, pred_lang""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "text_nb_langid" -> Q(nbLangId _, nbLangIdSql,
      Seq(col("actual_lang"), col("pred_lang"))),
    "text_keyphrases" -> Q(keyphrases _, keyphrasesSql,
      Seq(col("score_ppm").desc, col("n_occurrences").desc, col("phrase"))),
    "text_pii_scan" -> Q(piiScan _, piiScanSql, Seq(col("source"))),
    "text_fertility" -> Q(fertility _, fertilitySql, Seq(col("lang"))),
    "docs_kanon_audit" -> Q(kanonAudit _, kanonAuditSql,
      Seq(col("lang"), col("source"), col("len_bucket"))),
    "docs_ldiversity_audit" -> Q(ldiversityAudit _, ldiversityAuditSql,
      Seq(col("lang"), col("len_bucket"))),
    "docs_tcloseness_audit" -> Q(tclosenessAudit _, tclosenessAuditSql,
      Seq(col("lang"), col("len_bucket"))),
    "docs_dp_release" -> Q(dpRelease _, dpReleaseSql,
      Seq(col("lang"), col("source"))),
    "text_token_stats" -> Q(tokenStats _, tokenStatsSql, Seq(col("doc_id"))),
    "text_quality_score" -> Q(qualityScore _, qualityScoreSql, Seq(col("doc_id"))),
    "text_readability" -> Q(readability _, readabilitySql, Seq(col("doc_id"))),
    "text_token_diversity" -> Q(tokenDiversity _, tokenDiversitySql, Seq(col("doc_id"))),
    "text_quality_buckets" -> Q(qualityBuckets _, qualityBucketsSql, Seq(col("doc_id"))),
    "text_lang_id" -> Q(langId _, langIdSql, Seq(col("doc_id"))),
    "text_langid_confusion" -> Q(langConfusion _, langConfusionSql,
      Seq(col("actual_lang"), col("pred_lang"))),
    "text_fingerprint" -> Q(docFingerprint _, docFingerprintSql, Seq(col("doc_id"))),
  )
}
