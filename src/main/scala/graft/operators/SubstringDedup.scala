package graft.operators

import graft.Q
import graft.functions.DuckSql
import graft.functions.TextFunctions.words
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT-SUBSTRING deduplication — the Lee et al. 2022 ("Deduplicating
  * Training Data Makes Language Models Better") operator family: near-dup
  * detectors (minhash/simhash) see whole documents, but the pathology
  * that actually inflates LLM memorization is REPEATED SPANS — boilerplate
  * headers, licence blocks, quoted paragraphs — inside otherwise-distinct
  * documents. The paper finds them with a corpus-wide suffix array; the
  * distributed re-expression is fixed-width token-window hashing: every
  * duplicated substring of ≥ [[W]] tokens contains at least one duplicated
  * W-token window, so window-hash multiplicity is a complete detector at
  * the W-token threshold, and adjacent duplicated windows reassemble the
  * maximal span (the suffix array's answer) per document pair.
  *
  * Relationship to `dedup_repeated_spans` (CorpusQueries): that query is
  * the corpus-wide HASH census — which 30-token windows recur across
  * documents. This family answers the two questions it leaves open:
  * per DOCUMENT, how much of it is duplicated text (the scrub/keep
  * decision input — self-repetition included), and per document PAIR,
  * the MAXIMAL shared spans with their positions (the suffix array's
  * actual output, reassembled from adjacent window hits on a diagonal —
  * individual window hashes cannot say where a span starts or ends).
  *
  * Scale shape: one narrow map-side explode (|tokens| windows per doc —
  * stride 1, the paper's semantics), ONE window-hash-keyed shuffle for
  * multiplicity, and for the run assembly a rare-hash inverted index
  * (2 ≤ occurrences ≤ [[RareMax]], the dedup_containment df-bound) so pair
  * pressure is capped by the bound, never quadratic in a hash's
  * popularity — boilerplate that appears in thousands of documents is
  * already reported by the coverage census; the pair table is for the
  * rare, actionable spans. */
object SubstringDedup {

  /** Window width in tokens — the duplication threshold (spans shorter
    * than W are invisible, exactly the paper's length cutoff; the
    * synthetic corpus averages ~54 tokens/doc, so W=8 plays the role the
    * paper's 50-token threshold plays on real web text). */
  private val W = 8

  /** Occurrence cap for the pair stage (dedup_containment's rare-shingle
    * discipline): hashes seen more than this many times corpus-wide are
    * excluded from run assembly — a deterministic, documented undercount
    * that bounds the self-join at RareMax² per hash. */
  private val RareMax = 8

  /** (doc_id, pos, wh): md5 of each W-token window, stride 1, 0-based
    * pos. Two-step select so the generator plants no derived-filter scan
    * (pitfall: explode pushdown re-derivation); the array is non-empty by
    * the size guard, so posexplode_outer emits no null row. */
  // r14 (opt): gated spread — the stride-1 window md5 explode is the
  // family's heaviest map-side work and ran inside the one-task scan
  // (Tables.spread doc; scrub_spans 1.73 -> 0.90 in the sweep A/B)
  private def windows(t: Tables): DataFrame =
    t.spread("documents").select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) >= W)
      .select(col("doc_id"), posexplode_outer(expr(
        s"transform(sequence(0, size(w) - $W), i -> md5(concat_ws(' ', slice(w, i + 1, $W))))")))
      .select(col("doc_id"), col("pos"), col("col").as("wh"))

  /** Windows with corpus-wide occurrence counts — one wh-keyed shuffle. */
  private def withMultiplicity(t: Tables): DataFrame =
    windows(t).withColumn("df", count(lit(1)).over(Window.partitionBy(col("wh"))))

  /** §8v(dq) — duplicated-span COVERAGE census: per document, how many of
    * its W-token windows are duplicated ANYWHERE in the corpus (including
    * its own other positions — self-repetition is memorization fuel too),
    * as an exact per-mille. The "what fraction of this document is copied
    * text" table a corpus owner reads before training — and the complete
    * detector: every ≥W-token duplicated span registers here. */
  def substringCoverage(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    withMultiplicity(Tables(dir))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("dup_windows"))
      .withColumn("dup_permille", expr("dup_windows * 1000 div n_windows"))
  }

  private val substringCoverageSql =
    s"""WITH ws AS (SELECT doc_id, ${DuckSql.wordsOf("text")} AS w FROM documents),
       |wins AS (
       |  SELECT doc_id, i, md5(array_to_string(w[i:i+${W - 1}], ' ')) AS wh
       |  FROM ws, UNNEST(generate_series(1, LEN(w) - ${W - 1})) AS t(i)
       |  WHERE LEN(w) >= $W),
       |df AS (SELECT wh, COUNT(*) AS df FROM wins GROUP BY 1)
       |SELECT doc_id, COUNT(*) AS n_windows,
       |  CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
       |  CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000 // COUNT(*) AS dup_permille
       |FROM wins JOIN df USING (wh)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** §8v(dr) — maximal duplicated RUNS per document pair: rare duplicated
    * windows join by hash, land on a (doc_a, doc_b) DIAGONAL (pos_a −
    * pos_b constant along a shared span), and consecutive positions
    * collapse into maximal islands — the suffix array's maximal-match
    * output reassembled from window hits. run_tokens = n_win + W − 1 (a
    * run of n adjacent duplicated windows is one (n+W−1)-token span).
    * Cross-document pairs only (self-repetition is the census's job). */
  def substringRuns(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // persisted: BOTH self-join branches read the rare set, and its
    // lineage is the windows explode + the corpus-wide multiplicity
    // window — unpersisted, Catalyst re-runs that whole front once per
    // branch (the shared-branch pitfall measured 68 s vs 3 s in
    // ann_label_noise; the branches project different columns, so
    // exchange reuse is not guaranteed)
    val rare = Cached.track(withMultiplicity(Tables(dir))
      .where(col("df").between(2, RareMax))
      .select(col("wh"), col("doc_id"), col("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = rare.select(col("wh"), col("doc_id").as("doc_a"), col("pos").as("pa"))
    val b = rare.select(col("wh"), col("doc_id").as("doc_b"), col("pos").as("pb"))
    val diag = a.join(b, Seq("wh"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val wIsl = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pa"))
    diag.withColumn("island", col("pa") - row_number().over(wIsl))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("pa")).cast("long").as("start_a"),
        min(col("pb")).cast("long").as("start_b"),
        count(lit(1)).as("n_win"))
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("n_win"), (col("n_win") + (W - 1)).as("run_tokens"))
  }

  private val substringRunsSql =
    s"""WITH ws AS (SELECT doc_id, ${DuckSql.wordsOf("text")} AS w FROM documents),
       |wins AS (
       |  SELECT doc_id, i, md5(array_to_string(w[i:i+${W - 1}], ' ')) AS wh
       |  FROM ws, UNNEST(generate_series(1, LEN(w) - ${W - 1})) AS t(i)
       |  WHERE LEN(w) >= $W),
       |df AS (SELECT wh, COUNT(*) AS df FROM wins GROUP BY 1),
       |rare AS (
       |  SELECT doc_id, i, wh FROM wins JOIN df USING (wh)
       |  WHERE df BETWEEN 2 AND $RareMax),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS pa, b.i AS pb,
       |    a.i - b.i AS diag
       |  FROM rare a JOIN rare b ON a.wh = b.wh AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT doc_a, doc_b, diag, pa, pb,
       |    pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
       |  FROM pairs)
       |SELECT doc_a, doc_b,
       |  CAST(MIN(pa) - 1 AS BIGINT) AS start_a, CAST(MIN(pb) - 1 AS BIGINT) AS start_b,
       |  COUNT(*) AS n_win, COUNT(*) + ${W - 1} AS run_tokens
       |FROM isl GROUP BY doc_a, doc_b, diag, island
       |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin

  def queries: Map[String, Q] = Map(
    "dedup_substring_coverage" -> Q(substringCoverage _, substringCoverageSql,
      Seq(col("doc_id"))),
    "dedup_substring_runs" -> Q(substringRuns _, substringRunsSql,
      Seq(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))),
  )
}
