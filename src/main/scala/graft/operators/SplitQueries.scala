package graft.operators

import graft.Q
import graft.plans.VectorExpressions
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset split family: deterministic train/val/test assignment, split
  * composition auditing, and near-duplicate LEAKAGE detection/scrubbing
  * across the split boundary.
  *
  * The one thing a training-data pipeline must never do is let an eval
  * document (or a near-copy of one) into the training set. Three layers:
  *
  *  1. Assignment is keyed on the CONTENT hash, not the row id — two
  *     byte-identical documents can never straddle the boundary no matter
  *     how their ids were assigned, and re-ingesting a document under a
  *     new id cannot move it between splits.
  *  2. Exact co-assignment still misses near-duplicates, so
  *     [[splitLeakage]] reruns the corpus's LSH candidate generation
  *     ([[DedupQueries.lshPairsOf]] — the same bands, so the same pair
  *     set as the dedup family) and reports the pair-count matrix by
  *     (split_a, split_b); off-diagonal train↔eval cells are leaks.
  *  3. [[splitScrub]] is the corrective action: drop from train every
  *     document with a candidate near-dup in val or test (drop from
  *     TRAIN, never from eval — eval sets must stay fixed or results
  *     aren't comparable across runs).
  *
  * Scale shape: assignment is pure map-side (md5 + integer mix, no
  * shuffle — at 100 TB it is recomputed where needed rather than joined
  * from a materialized table). Leakage adds the banded-bucket exchange
  * from the LSH pipeline plus two doc_id-keyed joins of the (small)
  * candidate-pair set back to the assignment — the standard
  * candidate-verify shape shared with `dedup_ngram_jaccard`.
  *
  * Reference anchor: sources2csr derives per-entity outputs from config,
  * not hardcoded ids (`/root/reference/csr2transmart` semantics of
  * stable keying); the split discipline itself is brief-mandated
  * LLM-pipeline surface.
  *
  * Relation to `docs_split_sample` ([[AnalyticsQueries]]): that earlier
  * query is the split-COUNT summary keyed on doc_id (the quick sanity
  * view). This family is the full discipline: content-keyed assignment
  * (id-keyed deals break when ids are reassigned between ingests),
  * per-stratum composition audit, and the near-dup leakage layer that id
  * or content keying alone cannot give.
  */
object SplitQueries {

  /** Version salt: bump to re-deal every document deterministically. */
  private val Salt = "graft-split-v1"

  /** Per-mille boundaries: [0,800) train, [800,900) val, [900,1000) test. */
  private val TrainPm = 800
  private val ValPm = 900

  /** bucket ∈ [0,1000): first 8 hex nibbles of md5(salt || content-md5)
    * as a long, mod 1000. Uniform by md5's avalanche; salt isolates this
    * deal from every other md5-derived key in the engine. */
  private def bucketCol = pmod(
    VectorExpressions.hexPrefix(md5(concat(lit(Salt), md5(col("text")))), 8), lit(1000L))

  private def splitOf(bucket: org.apache.spark.sql.Column) =
    when(bucket < TrainPm, "train").when(bucket < ValPm, "val").otherwise("test")

  /** Append (bucket, split) to any frame with a `text` column — pure
    * row-local expressions, so the SAME columns run on batch and
    * streaming frames. Requires [[VectorExpressions.register]] on the
    * session. */
  def withSplit(docs: DataFrame): DataFrame =
    docs.withColumn("bucket", bucketCol)
      .withColumn("split", splitOf(col("bucket")))

  /** The assignment as a reusable frame: (doc_id, lang, source, bucket, split).
    * Map-side only — no shuffle, no state. */
  private[operators] def assigned(t: Tables): DataFrame =
    withSplit(t.documents).select("doc_id", "lang", "source", "bucket", "split")

  /** Registered: the full assignment listing. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    assigned(Tables(dir)).select("doc_id", "bucket", "split")
  }

  /** DuckDB mirror of the bucket expression over any hex column. */
  private def bucketDuck: String =
    s"(${DedupQueries.hexToLongDuck(s"md5('$Salt' || md5(text))", 8)}) % 1000"

  private val splitCase =
    s"CASE WHEN bucket < $TrainPm THEN 'train' WHEN bucket < $ValPm THEN 'val' ELSE 'test' END"

  private val splitAssignSql =
    s"""WITH b AS (SELECT doc_id, $bucketDuck AS bucket FROM documents)
       |SELECT doc_id, bucket, $splitCase AS split FROM b ORDER BY doc_id""".stripMargin

  /** Oracle-shared CTE: the assignment with lang/source carried (also
    * embedded by [[PipelineReport]]'s composite oracle). */
  private[operators] val assignedCte =
    s"""asg AS (
       |  SELECT doc_id, lang, source, bucket, $splitCase AS split
       |  FROM (SELECT doc_id, lang, source, $bucketDuck AS bucket FROM documents))""".stripMargin

  /** Stratification audit: per (split, lang) document count, char volume,
    * and the per-mille share of the split's documents that lang holds —
    * integer arithmetic only (n*1000 div split_total), so the compare is
    * exact. A healthy hash split shows each lang's per-mille roughly
    * constant across splits. One shuffle (the groupBy); the share join is
    * a broadcast of ≤3 rows. */
  def splitStats(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val a = assigned(Tables(dir)).join(
      Tables(dir).documents.select("doc_id", "n_chars"), Seq("doc_id"))
    val cells = a.groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
    val totals = a.groupBy("split").agg(count(lit(1)).as("split_total"))
    cells.join(broadcast(totals), Seq("split"))
      .withColumn("share_pm", expr("n_docs * 1000 div split_total"))
      .select("split", "lang", "n_docs", "n_chars", "share_pm")
  }

  private val splitStatsSql =
    s"""WITH $assignedCte,
       |j AS (SELECT a.split, a.lang, d.n_chars FROM asg a JOIN documents d USING (doc_id)),
       |cells AS (SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
       |          FROM j GROUP BY 1, 2),
       |tot AS (SELECT split, COUNT(*) AS split_total FROM j GROUP BY 1)
       |SELECT c.split, c.lang, c.n_docs, c.n_chars,
       |       c.n_docs * 1000 // t.split_total AS share_pm
       |FROM cells c JOIN tot t ON c.split = t.split
       |ORDER BY c.split, c.lang""".stripMargin

  /** Near-dup leakage matrix: LSH candidate pairs bucketed by the two
    * sides' splits. `is_leak` marks train↔eval cells (the pairs a scrub
    * must act on); val↔test crossings are reported but not leaks of
    * train. Pair generation is EXACTLY the dedup family's (same bands),
    * so this matrix is the split-conditional marginal of
    * `dedup_minhash_lsh`. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // r14 (opt, §2.4): the registered corpus at the registered 3-gram
    // convention — the staged-signature candidate path (minhashLsh) is the
    // identical pair set without re-shingling + re-minhashing the corpus
    // per run (staged≡inline pinned in StagedFramesSpec; the
    // docs_pipeline_report precedent).
    val pairs = DedupQueries.minhashLsh(spark, dir)
    val asg = assigned(t).select("doc_id", "split")
    pairs
      .join(asg.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "split_a"), Seq("doc_a"))
      .join(asg.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "split_b"), Seq("doc_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak",
        (col("split_a") =!= col("split_b")) &&
          (col("split_a") === "train" || col("split_b") === "train"))
  }

  private val splitLeakageSql =
    s"""WITH ${DedupQueries.minhashCtes},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |              AND a.doc_id < b.doc_id),
       |$assignedCte
       |SELECT sa.split AS split_a, sb.split AS split_b, COUNT(*) AS n_pairs,
       |       (sa.split <> sb.split AND (sa.split = 'train' OR sb.split = 'train')) AS is_leak
       |FROM cand
       |JOIN asg sa ON sa.doc_id = doc_a
       |JOIN asg sb ON sb.doc_id = doc_b
       |GROUP BY 1, 2, 4
       |ORDER BY split_a, split_b""".stripMargin

  /** Decontaminated train set: every train document with an LSH candidate
    * near-dup in val or test is dropped (left-anti join against the leak
    * side projection); eval splits are untouched by construction. Output
    * is the surviving train listing. */
  def splitScrub(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val asg = assigned(t).select("doc_id", "split")
    // r14 (opt, §2.4): staged-signature candidate path — identical pair
    // set, no per-run corpus re-shingle (see splitLeakage note)
    val pairs = DedupQueries.minhashLsh(spark, dir)
      .join(asg.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "split_a"), Seq("doc_a"))
      .join(asg.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "split_b"), Seq("doc_b"))
    // the train-side member of every train↔eval pair, from either column
    val leakTrain = pairs.where(col("split_a") === "train" && col("split_b") =!= "train")
      .select(col("doc_a").as("doc_id"))
      .union(pairs.where(col("split_b") === "train" && col("split_a") =!= "train")
        .select(col("doc_b").as("doc_id")))
      .distinct()
    asg.where(col("split") === "train")
      .join(leakTrain, Seq("doc_id"), "left_anti")
      .select("doc_id")
  }

  private val splitScrubSql =
    s"""WITH ${DedupQueries.minhashCtes},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |              AND a.doc_id < b.doc_id),
       |$assignedCte,
       |leak AS (
       |  SELECT sa.doc_id FROM cand
       |    JOIN asg sa ON sa.doc_id = doc_a JOIN asg sb ON sb.doc_id = doc_b
       |    WHERE sa.split = 'train' AND sb.split <> 'train'
       |  UNION
       |  SELECT sb.doc_id FROM cand
       |    JOIN asg sa ON sa.doc_id = doc_a JOIN asg sb ON sb.doc_id = doc_b
       |    WHERE sb.split = 'train' AND sa.split <> 'train')
       |SELECT doc_id FROM asg
       |WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM leak)
       |ORDER BY doc_id""".stripMargin

  /** Deterministic stratified TOP-K sample — exactly k docs per stratum
    * (`docs_stratified_sample` in [[AnalyticsQueries]] is the
    * FRACTION-based cousin: 10% of each stratum by hash slot; this one
    * answers "give me exactly 10 per lang" for eval-set construction,
    * which a fraction can't): within each lang,
    * keep the K documents with the smallest salted content-hash key
    * (ties by doc_id). No RNG — the "random" order is the md5 hex string,
    * identical on every engine and every run; adding documents to a
    * stratum can only displace the largest keys, so samples are stable
    * under corpus growth (bounded churn, the reservoir property without
    * reservoir state). One keyed shuffle (the per-lang window); the
    * partial WindowGroupLimit caps each stratum map-side before the
    * sort, so at 100 TB no stratum's full membership is ever sorted. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val k = 10
    val key = md5(concat(lit("graft-strat-v1"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(key.asc, col("doc_id").asc)
    Tables(dir).documents
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"))
  }

  private val stratifiedSampleSql =
    """WITH r AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5('graft-strat-v1' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT lang, rk, doc_id FROM r WHERE rk <= 10 ORDER BY lang, rk""".stripMargin

  /** §8k(bg) — χ² drift audit of the lang composition across splits: for
    * every (split, lang) cell, the observed count against the
    * independence expectation E = lang_total·split_total/N, with the
    * cell's χ² contribution (O−E)²/E. A content-keyed hash split should
    * show near-zero cells; a large cell is the drift alarm that a split
    * is not exchangeable with the corpus (the [[splitStats]] per-mille
    * table turned into the standard test statistic).
    *
    * Exactness: E is reported as exact integer milli-units
    * (1000·lt·st div N) and the χ² numerator/denominator are built in
    * DECIMAL before ONE correctly-rounded double division — the deviation
    * O·N−lt·st is an integer, so both engines divide the same two exact
    * reals (the BM25 integer-first discipline applied to a float-valued
    * statistic). Plan: one corpus-scan groupBy for the cells; lang /
    * split / grand totals are broadcast-size re-aggregates of the cell
    * table, NOT extra corpus passes. */
  def splitDrift(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val cells = assigned(Tables(dir)).groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(Cached.track)
    val byLang = cells.groupBy("lang").agg(sum("n_docs").as("lang_total"))
    val bySplit = cells.groupBy("split").agg(sum("n_docs").as("split_total"))
    val n = cells.agg(sum("n_docs").as("n_total"))
    cells.join(broadcast(byLang), Seq("lang")).join(broadcast(bySplit), Seq("split"))
      .crossJoin(broadcast(n))
      // operands promoted to DECIMAL BEFORE the products: at corpora near
      // 3·10⁹ docs, n_docs·n_total exceeds int64 and Spark would wrap
      // silently where DuckDB errors; the difference itself still fits
      // DECIMAL(19,0) so dev·dev stays within DECIMAL(38,0) exactness
      .withColumn("expected_milli",
        expr("CAST(1000 * CAST(lang_total AS DECIMAL(38,0)) * split_total div n_total AS BIGINT)"))
      .withColumn("dev", expr(
        "CAST(CAST(n_docs AS DECIMAL(38,0)) * n_total - CAST(lang_total AS DECIMAL(38,0)) * split_total AS DECIMAL(19,0))"))
      .withColumn("den", expr("CAST(CAST(n_total AS DECIMAL(19,0)) * lang_total * split_total AS DECIMAL(38,0))"))
      .withColumn("chi2_cell", round(expr("CAST(dev * dev AS DOUBLE) / CAST(den AS DOUBLE)"), 6))
      .select("split", "lang", "n_docs", "expected_milli", "chi2_cell")
  }

  private val splitDriftSql =
    s"""WITH $assignedCte,
       |cells AS (SELECT split, lang, COUNT(*) AS n_docs FROM asg GROUP BY 1, 2),
       |bl AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_total FROM cells GROUP BY 1),
       |bs AS (SELECT split, CAST(SUM(n_docs) AS BIGINT) AS split_total FROM cells GROUP BY 1),
       |n AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM cells)
       |SELECT c.split, c.lang, c.n_docs,
       |  CAST(1000 * CAST(lang_total AS HUGEINT) * split_total // n_total AS BIGINT) AS expected_milli,
       |  ROUND(CAST((CAST(c.n_docs AS HUGEINT) * n_total - CAST(lang_total AS HUGEINT) * split_total)
       |        * (CAST(c.n_docs AS HUGEINT) * n_total - CAST(lang_total AS HUGEINT) * split_total) AS DOUBLE)
       |    / CAST(CAST(n_total AS HUGEINT) * lang_total * split_total AS DOUBLE), 6) AS chi2_cell
       |FROM cells c JOIN bl USING (lang) JOIN bs USING (split), n
       |ORDER BY c.split, c.lang""".stripMargin

  def queries: Map[String, Q] = Map(
    "docs_split_assign" -> Q(splitAssign _, splitAssignSql, Seq(col("doc_id"))),
    "docs_split_drift" -> Q(splitDrift _, splitDriftSql, Seq(col("split"), col("lang"))),
    "docs_stratified_topk" -> Q(stratifiedSample _, stratifiedSampleSql,
      Seq(col("lang"), col("rk"))),
    "docs_split_stats" -> Q(splitStats _, splitStatsSql, Seq(col("split"), col("lang"))),
    "docs_split_leakage" -> Q(splitLeakage _, splitLeakageSql, Seq(col("split_a"), col("split_b"))),
    "docs_split_scrub" -> Q(splitScrub _, splitScrubSql, Seq(col("doc_id"))),
  )
}
