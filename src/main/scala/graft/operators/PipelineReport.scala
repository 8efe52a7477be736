package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The whole training-data funnel in ONE oracled query: per source, how
  * many documents survive each stage of the corpus pipeline —
  *
  *   raw → exact dedup → near-dup collapse → quality gate →
  *   content-keyed train split with near-dup leakage scrub
  *
  * Every stage reuses the EXACT semantics of its standalone operator
  * (`dedup_exact_docs`' min-id-per-content, `dedup_survivors`' LSH
  * cluster reps, `docs_quality_filter`'s scoring columns,
  * `docs_split_assign`/`docs_split_scrub`'s deal and scrub), so this
  * report is the governance view a data lead reads before a training
  * run: where each source's volume went, stage by stage. Stages are
  * monotone by construction (a cluster rep is the min id of its
  * component, which contains its exact-content group), so the columns
  * read as a funnel.
  *
  * Scale shape: one corpus pass per independent signal (content hash,
  * bands, quality expressions, split hash) — each already audited in its
  * own operator — then doc_id-keyed flag joins and ONE per-source
  * aggregate. Nothing here is new movement; it is the standalone plans
  * composed. */
object PipelineReport {

  def pipelineReport(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val docs = t.documents

    // stage 1: exact-content keeper (min doc_id per md5(text))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    val base = docs.select(col("doc_id"), col("source"),
      (col("doc_id") === min(col("doc_id")).over(w)).as("kept_exact"))

    // stage 2: near-dup cluster reps over the full corpus
    val reps = DedupQueries.nearDupClusters(spark, dir)
      .where(col("doc_id") === col("cluster_rep")).select(col("doc_id"))
      .withColumn("kept_near", lit(true))

    // stage 3: the quality gate's keep flag (shared scoring columns)
    val quality = graft.pipeline.CorpusPolicy.scored(docs)
      .select(col("doc_id"), col("keep").as("kept_quality"))

    // stage 4: content-keyed split + leakage scrub (train side only)
    val asg = SplitQueries.assigned(t).select(col("doc_id"), col("split"))
    // r14 (opt): the registered corpus at the registered 3-gram
    // convention — the staged-signature candidate path (minhashLsh)
    // produces the identical pair set without re-shingling the corpus
    // per run (staged≡inline pinned in StagedFramesSpec)
    val pairs = DedupQueries.minhashLsh(spark, dir)
      .join(asg.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "split_a"), Seq("doc_a"))
      .join(asg.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "split_b"), Seq("doc_b"))
    val leakTrain = pairs.where(col("split_a") === "train" && col("split_b") =!= "train")
      .select(col("doc_a").as("doc_id"))
      .union(pairs.where(col("split_b") === "train" && col("split_a") =!= "train")
        .select(col("doc_b").as("doc_id")))
      .distinct().withColumn("is_leak", lit(true))

    base
      .join(reps, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .join(asg, Seq("doc_id"))
      .join(leakTrain, Seq("doc_id"), "left")
      .select(col("source"), col("kept_exact"),
        coalesce(col("kept_near"), lit(false)).as("kept_near"),
        coalesce(col("kept_quality"), lit(false)).as("kept_quality"),
        col("split"), coalesce(col("is_leak"), lit(false)).as("is_leak"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("kept_exact"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("kept_near"), 1L).otherwise(0L)).as("n_near"),
        sum(when(col("kept_near") && col("kept_quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("kept_near") && col("kept_quality")
          && col("split") === "train" && !col("is_leak"), 1L).otherwise(0L))
          .as("n_train_final"))
  }

  private val pipelineReportSql = {
    s"""WITH RECURSIVE ${DedupQueries.minhashCtes},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
       |labels AS (SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
       |exact AS (
       |  SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS kept_exact
       |  FROM documents),
       |qx AS (
       |  SELECT doc_id,
       |    CAST(LENGTH(text) AS DOUBLE) AS n,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) AS punct,
       |    lang, list_filter(string_split_regex(text, '\\s+'), t -> LEN(t) > 0) AS w
       |  FROM documents),
       |quality AS (
       |  SELECT doc_id,
       |    (ROUND(LEAST(n / 500.0, 1.0) * 0.3 + (1.0 - punct / n) * 0.4
       |      + (CAST(LEN(list_filter(w, t -> t IN ('the','a','of','to','and','in','is','for'))) AS DOUBLE)
       |         / CAST(LEN(w) AS DOUBLE)) * 0.3, 6) >= 0.5
       |     AND CAST(LEN(w) AS BIGINT) >= 10 AND lang <> 'zh') AS kept_quality
       |  FROM qx),
       |${SplitQueries.assignedCte},
       |leak AS (
       |  SELECT sa.doc_id FROM pairs
       |    JOIN asg sa ON sa.doc_id = doc_a JOIN asg sb ON sb.doc_id = doc_b
       |    WHERE sa.split = 'train' AND sb.split <> 'train'
       |  UNION
       |  SELECT sb.doc_id FROM pairs
       |    JOIN asg sa ON sa.doc_id = doc_a JOIN asg sb ON sb.doc_id = doc_b
       |    WHERE sb.split = 'train' AND sa.split <> 'train'),
       |flags AS (
       |  SELECT d.doc_id, d.source, e.kept_exact,
       |    (l.rep = d.doc_id) AS kept_near, q.kept_quality, a.split,
       |    d.doc_id IN (SELECT doc_id FROM leak) AS is_leak
       |  FROM documents d
       |  JOIN exact e USING (doc_id) JOIN labels l USING (doc_id)
       |  JOIN quality q USING (doc_id) JOIN asg a USING (doc_id))
       |SELECT source, COUNT(*) AS n_raw,
       |  CAST(SUM(CASE WHEN kept_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN kept_near THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       |  CAST(SUM(CASE WHEN kept_near AND kept_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(SUM(CASE WHEN kept_near AND kept_quality AND split = 'train' AND NOT is_leak
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_train_final
       |FROM flags GROUP BY source ORDER BY source""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "docs_pipeline_report" -> Q(pipelineReport _, pipelineReportSql, Seq(col("source"))),
  )
}
