package graft.operators

import graft.Q
import graft.plans.VectorExpressions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-lingual parallel-pair mining over the embedding corpus — the
  * margin-based bitext retrieval recipe (Artetxe & Schwenk, "Margin-based
  * Parallel Corpus Mining with Multilingual Sentence Embeddings", ACL
  * 2019): a raw cosine threshold cannot separate true translations from
  * merely-related text because neighborhoods differ in density, so each
  * candidate pair is scored by the RATIO of its cosine to the mean cosine
  * of both endpoints' k-nearest neighborhoods — a pair mines only when it
  * stands out from BOTH sides' local hubs.
  *
  * Engine shape (the part that matters at 100 TB): candidate generation is
  * IVF-fronted, not all-pairs — both language pools are assigned to the
  * shared coarse-centroid set (`ann_ivf_topk`'s assignment kernel and tie
  * rule), source vectors probe their [[NProbe]] nearest clusters, and pairs
  * are scored only within probed clusters. The candidate join is keyed by
  * cluster id, so centroid count is the parallelism/recall knob (test
  * scale rides the shared 8-centroid seed set; a production index holds
  * 4k–64k). The margin arithmetic is exact integer micros: cosines are
  * computed once on the bit-identical double chain, scaled to µcos
  * (×10⁶, round-to-nearest), and every downstream sum/division is integer,
  * so the fwd/bwd top-[[MarginK]] neighborhood sums are order-free and the
  * engines agree bit-for-bit.
  */
object BitextQueries {

  private val NProbe = 2      // clusters each source vector probes
  private val MarginK = 4     // neighborhood size in the margin denominator
  private val MarginMinPpm = 1000000L // mine pairs with margin >= 1.0

  /** §8p(cs) — mined translation pairs: for every non-English document,
    * its best English match through the probed clusters, kept when the
    * ratio margin clears [[MarginMinPpm]]. Candidates are restricted to
    * POSITIVE cosine (a negative-similarity "match" is never a
    * translation, and positivity keeps every margin operand > 0 so
    * integer division is floor=truncate in both engines).
    *
    * margin_ppm = µcos(x,y) · 2k · 10⁶ div (Σ fwd top-k µcos + Σ bwd
    * top-k µcos) — the A&S ratio with both neighborhoods in the
    * denominator, in exact parts-per-million. */
  private def centCosOf(cents: Seq[Array[Float]])(embCol: Column): Column =
    VectorExpressions.centroidCosines(embCol, cents)

  /** Language-tagged corpus: embeddings keyed to documents by id (an
    * id-co-partitioned join — both sides shuffle once on the same key),
    * with the vector norm appended. */
  private def taggedCorpus(t: Tables): DataFrame =
    t.embeddings
      .join(t.documents.select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
      .withColumn("norm", sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))))

  /** English towers (the frozen archive side of the serving twin): each
    * target vector at its nearest centroid — same argmax-first-index tie
    * rule as the IVF kernel. */
  private def towersOf(tagged: DataFrame, cents: Seq[Array[Float]]): DataFrame = {
    val arr = centCosOf(cents)(col("embedding"))
    tagged.where(col("lang") === "en")
      .withColumn("cluster", (array_position(arr, array_max(arr)) - 1).cast("int"))
      .select(col("vec_id").as("tgt_id"), col("embedding").as("t_emb"),
        col("norm").as("t_norm"), col("cluster"))
  }

  /** Source-side probe assignment: any (vec_id, lang, embedding, norm)
    * frame exploded to its [[NProbe]] nearest clusters. */
  private def probedOf(df: DataFrame, cents: Seq[Array[Float]]): DataFrame = {
    // transform-with-index over the ONE kernel array (a k-wide literal
    // struct list would re-evaluate the kernel per element)
    val probeItems = transform(centCosOf(cents)(col("embedding")),
      (c, i) => struct(c.as("cos"), (-i).as("nidx"), i.as("idx")))
    df.withColumn("top_c", slice(reverse(array_sort(probeItems)), 1, NProbe))
      .select(col("vec_id").as("src_id"), col("lang"), col("embedding").as("s_emb"),
        col("norm").as("s_norm"),
        explode(expr("transform(top_c, x -> x.idx)")).as("cluster"))
  }

  /** Positive-cosine candidates inside probed clusters, in exact µcos. */
  private def candOf(src: DataFrame, tgt: DataFrame): DataFrame =
    src.join(tgt, Seq("cluster"))
      .select(col("src_id"), col("lang"), col("tgt_id"),
        expr("CAST(ROUND(" +
          "graft_dot(s_emb, t_emb) / (s_norm * t_norm) * 1000000) AS BIGINT)").as("cos_u"))
      .where(col("cos_u") > 0)

  /** Forward stage: per source, the top-[[MarginK]] neighborhood sum and
    * the rank-1 best pair. */
  private def fwdStage(cand: DataFrame): (DataFrame, DataFrame) = {
    val wFwd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_id")).orderBy(col("cos_u").desc, col("tgt_id"))
    val fwd = cand.withColumn("rn", row_number().over(wFwd)).where(col("rn") <= MarginK)
    (fwd.groupBy("src_id").agg(sum(col("cos_u")).as("fwd_sum")),
      fwd.where(col("rn") === 1).select("src_id", "lang", "tgt_id", "cos_u"))
  }

  /** Backward stage: per target, the top-[[MarginK]] neighborhood sum —
    * the state the serving twin freezes. */
  private def bwdOf(cand: DataFrame): DataFrame = {
    val wBwd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tgt_id")).orderBy(col("cos_u").desc, col("src_id"))
    cand.withColumn("rn", row_number().over(wBwd)).where(col("rn") <= MarginK)
      .groupBy("tgt_id").agg(sum(col("cos_u")).as("bwd_sum"))
  }

  /** The A&S ratio in exact ppm, thresholded at [[MarginMinPpm]]. A best
    * target with no bwd entry (possible only under a frozen archive
    * denominator) contributes 0 — the serving-mode convention. */
  private def margined(best: DataFrame, fwdSum: DataFrame, bwd: DataFrame): DataFrame =
    best.join(fwdSum, Seq("src_id")).join(bwd, Seq("tgt_id"), "left")
      .withColumn("bwd_sum", coalesce(col("bwd_sum"), lit(0L)))
      .withColumn("margin_ppm",
        expr(s"cos_u * CAST(${2 * MarginK * 1000000L} AS BIGINT) div (fwd_sum + bwd_sum)"))
      .where(col("margin_ppm") >= MarginMinPpm)
      .select(col("lang"), col("src_id"), col("tgt_id"), col("cos_u"), col("margin_ppm"))

  def minedPairs(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // ncentroids ∝ corpus (r08 verdict #5): the "4k–64k in production"
    // prose is now the registered harness — the same
    // AnnQueries.scaledCentroids rule that keeps cluster occupancy (and
    // therefore per-source candidate pressure) flat as the corpus grows
    val cents = AnnQueries.scaledCentroids(spark, t)
    val tagged = taggedCorpus(t)
    val tgt = towersOf(tagged, cents)
    val src = probedOf(tagged.where(col("lang") =!= "en"), cents)
    // consumed by three branches (fwd rank, bwd sum, final join) → persist
    val cand = Cached.track(candOf(src, tgt).persist())
    val (fwdSum, best) = fwdStage(cand)
    margined(best, fwdSum, bwdOf(cand))
  }

  /** The archive state the incremental form serves against: the en towers
    * and the FROZEN backward neighborhood sums from the full corpus
    * build. */
  def archiveState(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cents = AnnQueries.scaledCentroids(spark, t)
    val tagged = taggedCorpus(t)
    val tgt = towersOf(tagged, cents)
    (tgt, bwdOf(candOf(probedOf(tagged.where(col("lang") =!= "en"), cents), tgt)))
  }

  /** §8p(dc) — the incremental serving form: arriving
    * non-English documents mined against the FROZEN archive — en towers
    * and archived backward sums — exactly the index-served economics of
    * `text_hybrid_served`: per-batch cost follows the batch and the
    * probed clusters, never the corpus. Forward neighborhoods ARE
    * recomputed per batch (they live entirely inside the batch's own
    * candidate set); only the denominator's target side is frozen, the
    * standard serving approximation — and replaying the whole corpus as
    * one batch against its own archive state reproduces the batch query
    * bit-for-bit (spec-pinned). `batch` needs (vec_id, lang, embedding,
    * norm). */
  def mineBatch(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val cents = AnnQueries.scaledCentroids(spark, Tables(dir))
    val (towers, frozenBwd) = archiveState(spark, dir)
    val cand = Cached.track(candOf(probedOf(batch, cents), towers).persist())
    val (fwdSum, best) = fwdStage(cand)
    margined(best, fwdSum, frozenBwd)
  }

  /** Oracle: the same IVF-pruned candidate set and integer-micros margin.
    * `assign` ranks every (vector, centroid) pair once; rn = 1 is the
    * target pool's cluster, rn ≤ NProbe is the source pool's probe set —
    * one ranking, both assignment modes. */
  private def minedPairsSql = {
    val cos = AnnQueries.cosChainDuck("s_emb", "t_emb")
    val ccos = AnnQueries.cosChainDuck("e.embedding", "c")
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${AnnQueries.scaledKSql}
       |                  FROM embeddings)),
       |tagged AS (
       |  SELECT e.vec_id, e.embedding, d.lang FROM embeddings e
       |  JOIN documents d ON e.vec_id = d.doc_id),
       |assign AS (
       |  SELECT vec_id, embedding, lang, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |  FROM (SELECT e.vec_id, e.embedding, e.lang, cid, $ccos AS ccos
       |        FROM tagged e, cents) x),
       |tgt AS (
       |  SELECT vec_id AS tgt_id, embedding AS t_emb, cid AS cluster
       |  FROM assign WHERE lang = 'en' AND rn = 1),
       |src AS (
       |  SELECT vec_id AS src_id, lang, embedding AS s_emb, cid AS cluster
       |  FROM assign WHERE lang <> 'en' AND rn <= $NProbe),
       |cand AS (
       |  SELECT src_id, lang, tgt_id,
       |    CAST(ROUND($cos * 1000000) AS BIGINT) AS cos_u
       |  FROM src JOIN tgt USING (cluster)
       |  WHERE CAST(ROUND($cos * 1000000) AS BIGINT) > 0),
       |fwd AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos_u DESC, tgt_id) AS rn
       |  FROM cand),
       |fsum AS (
       |  SELECT src_id, CAST(SUM(cos_u) AS BIGINT) AS fwd_sum FROM fwd WHERE rn <= $MarginK GROUP BY 1),
       |best AS (SELECT src_id, lang, tgt_id, cos_u FROM fwd WHERE rn = 1),
       |bsum AS (
       |  SELECT tgt_id, CAST(SUM(cos_u) AS BIGINT) AS bwd_sum FROM (
       |    SELECT tgt_id, cos_u,
       |      ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY cos_u DESC, src_id) AS rn
       |    FROM cand) x WHERE rn <= $MarginK GROUP BY 1)
       |SELECT lang, src_id, tgt_id, cos_u,
       |  cos_u * ${2 * MarginK * 1000000L} // (fwd_sum + bwd_sum) AS margin_ppm
       |FROM best JOIN fsum USING (src_id) JOIN bsum USING (tgt_id)
       |WHERE cos_u * ${2 * MarginK * 1000000L} // (fwd_sum + bwd_sum) >= $MarginMinPpm
       |ORDER BY lang, src_id""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "docs_bitext_mining" -> Q(minedPairs _, minedPairsSql,
      Seq(col("lang"), col("src_id"))),
  )
}
