package graft.operators

import graft.Q
import graft.plans.VectorExpressions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY §2.3 rows 28-30).
  *
  * All vector math is native codegen'd Catalyst expressions — never UDFs:
  * [[graft.plans.CosineSim]] for centroid assignment and
  * [[graft.plans.DotProduct]] for pair scoring over per-row precomputed
  * norms (identical IEEE results, a third of the flops).
  * The probe set is bounded (`vec_id % 50 = 0`) and broadcast;
  * the corpus side is only ever scanned, never shuffled in full:
  *  - brute force: broadcast-nested-loop probes × corpus, then the
  *    [[TopK]] two-phase per-key top-k (no per-probe full sort);
  *  - IVF: corpus is assigned to its nearest centroid map-side (centroids
  *    are a bounded driver-side array, the only collect in the engine —
  *    SURVEY §5), probes search their nprobe nearest buckets via a
  *    broadcast join on the centroid id, pruning the scanned corpus to
  *    ~nprobe/ncentroids.
  *
  * The DuckDB oracle replays the exact same algorithm (same centroids,
  * same tie-breaks, bit-identical double arithmetic), so even the
  * *approximate* IVF result is hash-verified.
  */
object AnnQueries {

  private val ProbeMod = 50 // probe set: vec_id % 50 == 0

  /** r10: FIXED probe budget for the two index-quality audits
    * (`ann_ivf_recall`, `ann_rank_overlap`). The serving pipelines keep
    * the %-mod probe set — probe-proportional work is the point there —
    * but an audit that consumes the flat-scan exact truth over a probe
    * set ∝ corpus is Θ(n²/mod) (measured 9–11× at sf1). The
    * `ann_projection_audit` treatment: a deterministic hash-rank draw
    * of [[AuditProbeBudget]] probes from the same %-mod population
    * (lowest salted md5, vec_id tiebreak — a bounded-heap top-N in both
    * engines), so the truth side costs budget × corpus, linear, at any
    * scale. */
  private val AuditProbeBudget = 40
  private val AuditSalt = "graft-ann-audit:"

  /** Lowest-[[AuditProbeBudget]] of a probe frame by salted md5 rank
    * (deterministic fixed-size draw; sort+limit plans as a bounded
    * heap). */
  private def auditRestrict(probes: DataFrame): DataFrame =
    probes.withColumn("h", md5(concat(lit(AuditSalt), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(AuditProbeBudget).drop("h")

  /** The matching oracle surgery: rewrite a chain's %-mod probe
    * restriction into a semi-join against the `audit_ids` CTE (which the
    * caller prepends via [[auditIdsCte]]). */
  private def auditIdsCte: String =
    s"""audit_ids AS (
       |  SELECT vec_id FROM embeddings WHERE vec_id % $ProbeMod = 0
       |  ORDER BY md5('$AuditSalt' || CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $AuditProbeBudget)""".stripMargin

  private def auditSqlRestrict(sql: String): String = {
    val out = sql
      .replace(s"FROM embeddings WHERE vec_id % $ProbeMod = 0",
        "FROM embeddings JOIN audit_ids USING (vec_id)")
      .replace(s"FROM assign WHERE vec_id % $ProbeMod = 0",
        "FROM assign JOIN audit_ids USING (vec_id)")
    require(out != sql, "audit oracle surgery found no %-mod probe restriction")
    out
  }
  private val TopKK = 5
  private[operators] val NCentroids = 8 // centroid set: vec_id < 8 (deterministic)
  private val NProbeBuckets = 2
  private[operators] val CosineThreshold = 0.35 // embedding near-dup threshold
  private val Dim = 64

  // ---------------------------------------------------------------- SQL

  /** Left-associative explicit cosine chain — evaluation-order-identical to
    * [[graft.plans.CosineSim]]'s sequential loop, so both engines produce
    * bit-identical doubles. */
  private[operators] def cosChainDuck(a: String, b: String): String =
    cosChainDuckN(a, b, Dim)

  /** [[cosChainDuck]] over the first `n` components only (the Matryoshka
    * prefix-dim audits truncate the SAME left-associative chain, so the
    * prefix cosine is bit-identical to [[graft.plans.DotProduct]] over a
    * `slice(embedding, 1, n)`). */
  private[operators] def cosChainDuckN(a: String, b: String, n: Int): String = {
    def dot(x: String, y: String) =
      (1 to n).map(i => s"CAST($x[$i] AS DOUBLE) * CAST($y[$i] AS DOUBLE)").mkString("(", " + ", ")")
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  // ---------------------------------------------------- embedding dedup

  /** §28 — embedding cosine near-dup: probe set vs corpus, thresholded. */
  def embeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    scoredProbes(Tables(dir))
      .where(col("cos") >= CosineThreshold)
      .select("probe_id", "vec_id", "cos")
  }

  /** (probe_id, vec_id, cos): broadcast probes against the corpus scan.
    * Norms are precomputed once per row (corpus map-side, probes before
    * broadcast); each scored pair then costs one dot product — same IEEE
    * result as CosineSim (identical accumulation order), a third of the
    * flops. */
  private def scoredProbes(t: Tables, audited: Boolean = false): DataFrame = {
    val emb = t.embeddings
    val corpus = emb.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("c_norm"))
    val pbase = emb.where(col("vec_id") % ProbeMod === 0)
    val picked = if (audited) auditRestrict(pbase) else pbase
    val probes = picked
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("p_norm"))
    corpus.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
  }

  private val embeddingCosineSql =
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p FROM embeddings WHERE vec_id % $ProbeMod = 0),
       |scored AS (
       |  SELECT probe_id, e.vec_id, ROUND(${cosChainDuck("e.embedding", "p")}, 6) AS cos
       |  FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> probe_id)
       |SELECT probe_id, vec_id, cos FROM scored WHERE cos >= $CosineThreshold
       |ORDER BY probe_id, vec_id""".stripMargin

  /** SemDeDup-style SEMANTIC dedup (Abbas et al., 2023): assign every
    * embedding to its nearest coarse centroid map-side, then compare pairs
    * only WITHIN a cluster and drop the higher-id member of any pair above
    * the similarity threshold (reported with the lowest retained id it
    * duplicates). The cluster bucketing is what makes semantic dedup
    * tractable at corpus scale: candidate pairs are Σ|cluster|², never
    * |corpus|² — the embedding-space analogue of the LSH band buckets,
    * with ncentroids the knob that bounds bucket size (a whale cluster is
    * handled like a whale band: grow ncentroids or cap, with the cap
    * documented as an undercount). Unlike [[embeddingCosine]] (probe set
    * vs corpus), this deduplicates the WHOLE corpus against itself. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    semanticPairs(clusterAssigned(spark, Tables(dir)))
  }

  /** Embeddings with their nearest-centroid cluster and norm — the shared
    * front of [[semanticDedup]] and [[semanticDedupCapped]]. PERSISTED:
    * the pair stage reads it on both join branches, and without the cache
    * Catalyst collapses the projections and re-derives the whole
    * ncentroids-wide cosine array PER PAIR ROW — measured on
    * [[labelNoise]]'s identical shape as 68 s vs 3 s at sf1. */
  private def clusterAssigned(spark: SparkSession, t: Tables): DataFrame = {
    // SemDeDup trains k WITH the corpus: ncentroids = max(8, n/250)
    // (r09 — the labelNoise treatment; oracle-identical at the ≤2000-row
    // verification scales where the floor governs, linear pair stage at
    // every scale above them)
    val cents = scaledCentroids(spark, t)
    val centCos = VectorExpressions.centroidCosines(col("embedding"), cents)
    Cached.track(t.embeddings
      .withColumn("cluster", (array_position(centCos, array_max(centCos)) - 1).cast("int"))
      .select(col("cluster"), col("vec_id"), col("embedding"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("norm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Within-cluster pair stage shared by the capped/uncapped variants. */
  private def semanticPairs(assigned: DataFrame): DataFrame = {
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    a.join(b, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        round(VectorExpressions.dot(col("emb_a"), col("emb_b"))
          / (col("norm_a") * col("norm_b")), 6).as("cos"))
      .where(col("cos") >= CosineThreshold)
      .groupBy(col("cluster"), col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"), max(col("cos")).as("max_cos"))
  }

  // ------------------------------------------------- label-noise audit

  private val NoiseK = 5 // neighbors consulted per vector

  /** SemDeDup's k ∝ corpus rule for the label-noise harness: cluster
    * count scales so EXPECTED OCCUPANCY stays pinned at
    * [[CentroidOccupancy]] — the knob that keeps the cluster-keyed pair
    * stage Σ|cluster|² ≈ corpus × occupancy, i.e. LINEAR in the corpus,
    * instead of quadratic under a fixed k (the r08 46×-at-sf1 reading).
    * Floor of [[NCentroids]] so oracle-scale replicas (≤2000 vectors)
    * keep the family's 8-centroid harness bit-for-bit. */
  private[operators] val CentroidOccupancy = 250

  /** r10: CEILING on the scaled centroid count. The k ∝ corpus rule
    * keeps pair stages linear, but uncapped it makes the coarse
    * assignment k·n = Θ(n²/occupancy) cosines and the driver-collected
    * centroid matrix O(n/occupancy)·dim — at 10⁹ vectors that is 4×10¹⁵
    * cosine ops and a multi-GB literal baked into every task. 65536 is
    * the top of FAISS's published nlist guidance (4√n–16√n for n ≤ 10⁹,
    * capped at the 4k–64k production band BASELINE.md names). Past
    * `CentroidCap × CentroidOccupancy` (~16M) vectors k stays at the cap
    * and occupancy grows with the corpus; the flat assignment is the
    * only path. It binds at no verification scale (sf1 ≈ 20k vectors →
    * k = 80 ≪ cap); `CentroidCapSpec` pins the three regions. */
  private[operators] val CentroidCap = 65536

  /** THE family rule, capped: k = min(cap, max(floor, n / occupancy)).
    * Every seed-centroid query sizes k through this, and every oracle
    * carries [[scaledKSql]] — the same three-way expression in DuckDB. */
  private[operators] def scaledK(n: Long): Long =
    math.min(CentroidCap.toLong, math.max(NCentroids.toLong, n / CentroidOccupancy))

  /** DuckDB twin of [[scaledK]] over the embeddings table. */
  private[operators] def scaledKSql: String =
    s"LEAST($CentroidCap, GREATEST($NCentroids, COUNT(*) // $CentroidOccupancy))"

  /** The k ∝ corpus centroid set (first-k seed vectors, k = max(floor,
    * corpus / [[CentroidOccupancy]])) — shared by [[labelNoise]] and
    * `BitextQueries.minedPairs`; the count() that sizes k is a 1-row
    * driver read, the same bounded class as the centroid collect. The
    * matching oracle predicate is
    * `vec_id < (SELECT GREATEST(floor, COUNT(*) // occupancy) FROM embeddings)`. */
  private[operators] def scaledCentroids(spark: SparkSession, t: Tables): Seq[Array[Float]] =
    centroids(spark, t).map(_._2).toSeq // r09: centroids() itself scales now

  /** §8p(da) — k-NN label-noise audit (the confident-learning recipe,
    * Northcutt et al. 2021, reduced to its deterministic core): a vector
    * whose own label is in the STRICT MINORITY among its [[NoiseK]]
    * nearest neighbors is a mislabeling suspect — the table a dataset
    * owner reviews before training on bought or weak labels. Neighbors
    * come through the shared coarse-cluster pruning (the
    * [[semanticDedup]] bucketing: candidate pairs are Σ|cluster|², never
    * |corpus|²), cosines round-6 with the family tie rule, agreement
    * counting is pure integers.
    *
    * Scale shape: one map-side cluster assignment, one cluster-keyed
    * self-join, one per-vector group-limit window (many tiny groups),
    * one aggregate — with ncentroids ∝ corpus ([[CentroidOccupancy]]),
    * so per-cluster occupancy and therefore per-vector candidate cost is
    * CONSTANT as the corpus grows; the count() that sizes k is a 1-row
    * driver read, the same bounded class as the centroid collect. */
  def labelNoise(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cents = scaledCentroids(spark, t)
    val centCos = VectorExpressions.centroidCosines(col("embedding"), cents)
    // persisted: the k-cosine assignment is the expensive map, and BOTH
    // join branches read it — without the cache Catalyst collapses the
    // projections and re-derives the whole k-wide cosine array PER PAIR
    // ROW (measured 68 s vs 3 s for the sf1 pair stage)
    val assigned = Cached.track(t.embeddings
      .withColumn("cluster", (array_position(centCos, array_max(centCos)) - 1).cast("int"))
      .select(col("cluster"), col("vec_id"), col("label"), col("embedding"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("norm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = assigned.select(col("cluster"), col("vec_id"), col("label"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("nbr_id"),
      col("label").as("nbr_label"), col("embedding").as("emb_b"), col("norm").as("norm_b"))
    val pairs = a.join(b, Seq("cluster"))
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("label"), col("nbr_id"), col("nbr_label"),
        round(VectorExpressions.dot(col("emb_a"), col("emb_b"))
          / (col("norm_a") * col("norm_b")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr_id"))
    pairs.withColumn("rn", row_number().over(w)).where(col("rn") <= NoiseK)
      .groupBy("vec_id", "label")
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("nbr_label") === col("label"), 1L).otherwise(0L)).as("n_agree"))
      .where(col("n_agree") * 2 < col("n_nbrs"))
  }

  private def labelNoiseSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT vec_id, label, embedding, cid AS cluster FROM (
       |    SELECT e.vec_id, e.label, e.embedding, cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM (SELECT e.vec_id, e.label, e.embedding, cid,
       |            ${cosChainDuck("e.embedding", "c")} AS ccos
       |          FROM embeddings e, cents) e) x WHERE rn = 1),
       |pairs AS (
       |  SELECT a.vec_id, a.label, b.vec_id AS nbr_id, b.label AS nbr_label,
       |    ROUND(${cosChainDuck("a.embedding", "b.embedding")}, 6) AS cos
       |  FROM assign a JOIN assign b USING (cluster)
       |  WHERE a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT vec_id, label, nbr_label,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rn
       |  FROM pairs)
       |SELECT vec_id, label, COUNT(*) AS n_nbrs,
       |  CAST(SUM(CASE WHEN nbr_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |FROM ranked WHERE rn <= $NoiseK
       |GROUP BY 1, 2
       |HAVING CAST(SUM(CASE WHEN nbr_label = label THEN 1 ELSE 0 END) AS BIGINT) * 2 < COUNT(*)
       |ORDER BY vec_id""".stripMargin

  /** Whale-factor for [[semanticDedupCapped]]: a cluster is a whale when
    * its occupancy exceeds factor × (corpus / ncentroids). */
  private[operators] val SemanticWhaleFactor = 2.0

  /** [[semanticDedup]] with the family's WHALE-CLUSTER CAP — the
    * [[graft.plans.BandedPairsPlan]] `maxBucket` contract transposed to
    * embedding space: clusters whose occupancy exceeds
    * `whaleFactor × avg` (avg = corpus / ncentroids) are dropped from the
    * pair stage entirely, so no single skewed region of embedding space
    * can turn the cluster-bucketed Σ|cluster|² into a quadratic whale
    * self-join. The output is a documented UNDERCOUNT: pairs inside a
    * dropped whale are not reported (exactly the LSH band cap's
    * semantics). The cap is skew-RELATIVE, not absolute, because the
    * family's scale knob for aggregate cost is ncentroids ∝ corpus
    * (SemDeDup trains k with the corpus); the cap's job is only to bound
    * the worst single cluster at C× the average bucket. Occupancy is a
    * ≤ncentroids-row aggregate collected driver-side (same bounded class
    * as the centroid table itself). */
  def semanticDedupCapped(spark: SparkSession, dir: String,
                          whaleFactor: Double = SemanticWhaleFactor): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val assigned = clusterAssigned(spark, Tables(dir))
    val occ = assigned.groupBy("cluster").count().collect() // ≤ ncentroids rows
    val n = occ.map(_.getLong(1)).sum
    val k = scaledK(n) // the clusterAssigned rule
    val keep = occ.filter(_.getLong(1) <= whaleFactor * n / k)
      .map(r => r.getInt(0): Any).toSeq
    semanticPairs(assigned.where(col("cluster").isin(keep: _*)))
  }

  private val semanticDedupSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, e.embedding, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |clustered AS (
       |  SELECT vec_id, embedding, cid AS cluster FROM (
       |    SELECT vec_id, embedding, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign) x WHERE rn = 1),
       |pairs AS (
       |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
       |    ROUND(${cosChainDuck("a.embedding", "b.embedding")}, 6) AS cos
       |  FROM clustered a JOIN clustered b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
       |SELECT cluster, id_b AS vec_id, MIN(id_a) AS dup_of, MAX(cos) AS max_cos
       |FROM pairs WHERE cos >= $CosineThreshold
       |GROUP BY 1, 2 ORDER BY cluster, vec_id""".stripMargin

  private val semanticDedupCappedSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, e.embedding, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |clustered AS (
       |  SELECT vec_id, embedding, cid AS cluster FROM (
       |    SELECT vec_id, embedding, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign) x WHERE rn = 1),
       |occ AS (SELECT cluster, COUNT(*) AS occ FROM clustered GROUP BY 1),
       |total AS (SELECT COUNT(*) AS n FROM clustered),
       |kept AS (
       |  SELECT cl.vec_id, cl.embedding, cl.cluster
       |  FROM clustered cl JOIN occ o ON cl.cluster = o.cluster CROSS JOIN total t
       |  WHERE o.occ <= $SemanticWhaleFactor * t.n
       |                 / LEAST($CentroidCap, GREATEST($NCentroids, t.n // $CentroidOccupancy))),
       |pairs AS (
       |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
       |    ROUND(${cosChainDuck("a.embedding", "b.embedding")}, 6) AS cos
       |  FROM kept a JOIN kept b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
       |SELECT cluster, id_b AS vec_id, MIN(id_a) AS dup_of, MAX(cos) AS max_cos
       |FROM pairs WHERE cos >= $CosineThreshold
       |GROUP BY 1, 2 ORDER BY cluster, vec_id""".stripMargin

  // ------------------------------------------- cross-modal bridge (r10)

  /** Deterministic modality tag over vec_id — the `mm_binary_meta` fmt
    * rule's sibling, standing in for real ingest metadata: in a CLIP-
    * style deployment image/audio/text encoders land vectors in ONE
    * shared space and a modality column routes filtered retrieval. The
    * tag is data-independent so both engines derive it identically. */
  private def modalityCase(id: String): String =
    s"CASE WHEN $id % 4 = 1 THEN 'image' WHEN $id % 4 = 2 THEN 'audio' ELSE 'text' END"

  /** §8s(du) — CROSS-MODAL retrieval through the shared IVF tower (the
    * `mm_*`/`ann_*` bridge): text-modality probes retrieve their top-k
    * nearest IMAGE/AUDIO vectors — "find me the pictures/audio closest
    * to this text" — with the modality column flowing through the same
    * seed-centroid tower, kernel assignment, and nprobe pruning as
    * `ann_ivf_topk`. The corpus side filters to non-text BEFORE
    * clustering work reaches the join (pre-filter, like
    * `ann_ivf_filtered_topk`'s label filter), probes filter to text
    * within the family's %-mod probe set.
    *
    * Scale shape: identical to `ann_ivf_topk` — map-side kernel
    * assignment, broadcast exploded probes, one cluster-keyed join, the
    * bounded-heap TopK exec; the modality filters only SHRINK both
    * sides. Modality re-derives from vec_id after the top-k (pure
    * function, no join). */
  def crossModalTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cents = centroids(spark, t).toSeq.map(_._2)
    val probes = t.embeddings
      .where(col("vec_id") % ProbeMod === 0 && expr(modalityCase("vec_id")) === "text")
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val scored = crossModalCandidateFrame(probes, t.embeddings, cents)
    TopK.perKeyExec(scored, "probe_id", "cos", "vec_id", TopKK)
      .withColumn("modality", expr(modalityCase("vec_id")))
      .select(col("probe_id"), col("rank"), col("vec_id"), col("modality"), col("cos"))
  }

  /** The cross-modal candidate frame of [[crossModalTopK]]: non-text
    * corpus side cluster-assigned on the kernel, probes exploded to
    * their nprobe clusters, round-6 cosine off precomputed norms.
    * `probeFrame` needs (probe_id, embedding); the bounded probe set is
    * broadcast. */
  private def crossModalCandidateFrame(probeFrame: DataFrame, corpus: DataFrame,
      cents: Seq[Array[Float]]): DataFrame = {
    val side = assignNearest(corpus.where(expr(modalityCase("vec_id")) =!= "text"), cents)
      .withColumn("c_norm", sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))))
      .select(col("vec_id"), col("embedding"), col("cluster"), col("c_norm"))
    val p0 = probeFrame
      .withColumn("top_c", probeTopC(cents)) // reads the `embedding` column
      .select(col("probe_id"), col("embedding").as("p_emb"),
        explode(expr("transform(top_c, x -> x.idx)")).as("cluster"))
      .withColumn("p_norm", sqrt(VectorExpressions.dot(col("p_emb"), col("p_emb"))))
    side.join(broadcast(p0), Seq("cluster"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
  }

  private def crossModalSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |cluster AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign WHERE ${modalityCase("vec_id")} <> 'text') x WHERE rn = 1),
       |probe_assign AS (
       |  SELECT vec_id AS probe_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign WHERE vec_id % $ProbeMod = 0
       |      AND ${modalityCase("vec_id")} = 'text') x WHERE rn <= $NProbeBuckets),
       |scored AS (
       |  SELECT probe_id, e.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM probe_assign pa
       |  JOIN cluster cl ON cl.cluster = pa.cluster
       |  JOIN embeddings e ON e.vec_id = cl.vec_id
       |  JOIN embeddings p ON p.vec_id = pa.probe_id
       |  WHERE e.vec_id <> pa.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, ${modalityCase("vec_id")} AS modality, cos
       |FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin

  /** §8s(dx) r11 — CROSS-MODAL PAIR INTEGRITY audit (the CLIP-style QA
    * table a team reads before training on (text, image/audio) pairs):
    * every non-text vector's canonical text partner is its quad base
    * `vec_id − vec_id % 4` (the [[modalityCase]] rule's own domain —
    * %4 = 0 is text by construction, the ingest-metadata pairing stand-
    * in). For each pair, the audit asks the SERVING tower the serving
    * question: among the text candidates in the vector's nprobe probed
    * buckets, where does its OWN partner rank? Per modality: n_pairs,
    * n_found (partner surfaced in the probed buckets at all — the
    * quantizer-miss diagnostic), hit@1, hit@[[TopKK]], and the integer
    * reciprocal-rank mass Σ 1000 div rank. A corpus whose pairs don't
    * retrieve each other trains a broken alignment — this is the go/no-go
    * read, and it uses the same tower definitions as
    * [[crossModalTopK]] so the audit measures the deployed geometry.
    *
    * Scale shape: probes here are ALL non-text vectors (an audit must
    * cover every pair), so nothing is broadcast — the probe explode joins
    * the text corpus on the cluster key (one shuffle each side); the
    * partner's rank is a COUNT of better-scoring candidates (two passes
    * over the persisted candidate frame), never a per-probe sort. */
  def pairIntegrity(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cents = centroids(spark, t).toSeq.map(_._2)
    val emb = t.embeddings
    val texts = assignNearest(emb.where(expr(modalityCase("vec_id")) === "text"), cents)
      .withColumn("c_norm", sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))))
      .select(col("vec_id"), col("embedding"), col("cluster"), col("c_norm"))
    val pr = emb.where(expr(modalityCase("vec_id")) =!= "text")
      .withColumn("top_c", probeTopC(cents))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        explode(expr("transform(top_c, x -> x.idx)")).as("cluster"))
      .withColumn("p_norm", sqrt(VectorExpressions.dot(col("p_emb"), col("p_emb"))))
    // persisted: consumed by the partner-score branch AND the better-count
    // branch (pitfall: unpersisted shared branches re-run the scoring join)
    val cand = Cached.track(texts.join(pr, Seq("cluster"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val partner = col("probe_id") - (col("probe_id") % 4)
    val ps = cand.where(col("vec_id") === partner)
      .select(col("probe_id"), col("cos").as("pcos"))
    val better = cand.join(ps, Seq("probe_id"))
      .where(col("cos") > col("pcos") ||
        (col("cos") === col("pcos") && col("vec_id") < partner))
      .groupBy("probe_id").agg(count(lit(1)).as("n_better"))
    val ranked = ps.join(better, Seq("probe_id"), "left")
      .select(col("probe_id"), (coalesce(col("n_better"), lit(0L)) + 1).as("rank"))
    val pairs = emb.where(expr(modalityCase("vec_id")) =!= "text")
      .select(col("vec_id").as("probe_id"))
      .join(emb.select((col("vec_id")).as("pid")),
        col("pid") === col("probe_id") - (col("probe_id") % 4), "left_semi")
    pairs.join(ranked, Seq("probe_id"), "left")
      .withColumn("modality", expr(modalityCase("probe_id")))
      .groupBy("modality")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("rank").isNotNull, 1L).otherwise(0L)).as("n_found"),
        sum(when(col("rank") === 1, 1L).otherwise(0L)).as("n_hit1"),
        sum(when(col("rank") <= TopKK, 1L).otherwise(0L)).as("n_hitk"),
        sum(when(col("rank").isNotNull, expr("1000 div rank")).otherwise(0L)).as("rr_pm_sum"))
  }

  private def pairIntegritySql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |cluster AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign WHERE ${modalityCase("vec_id")} = 'text') x WHERE rn = 1),
       |probe_assign AS (
       |  SELECT vec_id AS probe_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign WHERE ${modalityCase("vec_id")} <> 'text') x WHERE rn <= $NProbeBuckets),
       |cand AS (
       |  SELECT probe_id, e.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM probe_assign pa
       |  JOIN cluster cl ON cl.cluster = pa.cluster
       |  JOIN embeddings e ON e.vec_id = cl.vec_id
       |  JOIN embeddings p ON p.vec_id = pa.probe_id),
       |ps AS (SELECT probe_id, cos AS pcos FROM cand WHERE vec_id = probe_id - probe_id % 4),
       |better AS (
       |  SELECT c.probe_id, COUNT(*) AS n_better
       |  FROM cand c JOIN ps USING (probe_id)
       |  WHERE c.cos > pcos OR (c.cos = pcos AND c.vec_id < probe_id - probe_id % 4)
       |  GROUP BY 1),
       |ranked AS (
       |  SELECT probe_id, COALESCE(n_better, 0) + 1 AS rank
       |  FROM ps LEFT JOIN better USING (probe_id)),
       |pairs AS (
       |  SELECT e.vec_id AS probe_id FROM embeddings e
       |  WHERE ${modalityCase("e.vec_id")} <> 'text'
       |    AND EXISTS (SELECT 1 FROM embeddings t WHERE t.vec_id = e.vec_id - e.vec_id % 4))
       |SELECT ${modalityCase("probe_id")} AS modality,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       |  CAST(SUM(CASE WHEN rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
       |  CAST(SUM(CASE WHEN rank <= $TopKK THEN 1 ELSE 0 END) AS BIGINT) AS n_hitk,
       |  CAST(SUM(CASE WHEN rank IS NOT NULL THEN 1000 // rank ELSE 0 END) AS BIGINT) AS rr_pm_sum
       |FROM pairs LEFT JOIN ranked USING (probe_id)
       |GROUP BY 1 ORDER BY modality""".stripMargin

  // ---------------------------------------------------------- brute force

  /** §29 — exact cosine top-k per probe. */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    TopK.perKeyExec(scoredProbes(Tables(dir)), "probe_id", "cos", "vec_id", TopKK)
  }

  private val bruteForceSql =
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p FROM embeddings WHERE vec_id % $ProbeMod = 0),
       |scored AS (
       |  SELECT probe_id, e.vec_id, ROUND(${cosChainDuck("e.embedding", "p")}, 6) AS cos
       |  FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin

  // ------------------------------------------------------- filtered search

  /** §8k(bj) — FILTERED vector search: exact cosine top-k restricted to
    * corpus vectors sharing the probe's label — "nearest neighbors within
    * a class", the metadata-predicate retrieval every vector deployment
    * grows (filtered search is the feature that separates a vector
    * DATABASE from an index). The filter applies BEFORE scoring
    * (pre-filter): the predicate prunes the candidate set ahead of the
    * distance kernel, so selectivity s cuts scoring cost to s·|corpus| —
    * the post-filter alternative scores everything and then discards,
    * and under-fills k when the filter is selective. Same probe set,
    * kernel, and TopKPerKey ranking as [[bruteForceTopK]], so the two
    * results diff directly (the filter's effect on the neighborhood). */
  def filteredTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val emb = Tables(dir).embeddings
    val corpus = emb.select(col("vec_id"), col("label"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("c_norm"))
    val probes = emb.where(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("probe_id"), col("label").as("p_label"),
        col("embedding").as("p_emb"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("p_norm"))
    val scored = corpus.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id") && col("label") === col("p_label"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
    TopK.perKeyExec(scored, "probe_id", "cos", "vec_id", TopKK)
  }

  private val filteredTopKSql =
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, label AS p_label, embedding AS p
       |  FROM embeddings WHERE vec_id % $ProbeMod = 0),
       |scored AS (
       |  SELECT probe_id, e.vec_id, ROUND(${cosChainDuck("e.embedding", "p")}, 6) AS cos
       |  FROM embeddings e CROSS JOIN probes
       |  WHERE e.vec_id <> probe_id AND e.label = p_label),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin

  // ------------------------------------------------------------ knn label

  /** k-NN majority-vote labeling — the auto-labeling step of a training
    * pipeline: each probe vector is assigned the majority label of its
    * TopKK exact nearest neighbors (cosine; self excluded), ties broken
    * toward the smallest label. The probe's own stored label rides along
    * with a `correct` flag, so the query doubles as the k-NN accuracy
    * audit of the embedding space. Plan: the brute-force scored pairs
    * (probe broadcast over one corpus scan) → bounded-heap TopKPerKey →
    * one |probes×labels| vote aggregate — the expensive part is the
    * same exact-scoring pass the top-k baseline already pays, and at
    * deployment scale the IVF front substitutes for the scan exactly as
    * in `ann_ivf_topk`. */
  /** The majority-vote layer over any (probe_id, vec_id) neighbor frame —
    * shared by the exact and IVF-fronted labelers. */
  private def voteLabels(topk: DataFrame, labels: DataFrame): DataFrame = {
    val votes = topk.join(labels, Seq("vec_id"))
      .groupBy(col("probe_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .join(labels.select(col("vec_id").as("probe_id"), col("label").as("true_label")),
        Seq("probe_id"))
      .select(col("probe_id"), col("label").as("pred_label"), col("votes"),
        col("true_label"), (col("label") === col("true_label")).as("correct"))
  }

  def knnLabel(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val topk = TopK.perKeyExec(scoredProbes(t), "probe_id", "cos", "vec_id", TopKK)
    voteLabels(topk, t.embeddings.select(col("vec_id"), col("label")))
  }

  /** The deployment-scale labeler: the SAME vote layer over the IVF
    * search's top-k (nprobe centroid buckets instead of a full corpus
    * scan — per-probe cost falls as the index grows, exactly as in
    * `ann_ivf_topk`). Recall differences vs the exact labeler are the
    * IVF family's documented trade, visible here as vote differences. */
  def ivfKnnLabel(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    voteLabels(ivfTopK(spark, dir), t.embeddings.select(col("vec_id"), col("label")))
  }

  // def, not val: reads ivfSql, which is declared later in the object
  private def ivfKnnLabelSql =
    s"""WITH ivf AS (${ivfSqlNoOrder.replace("\n", "\n     ")}),
       |votes AS (
       |  SELECT probe_id, l.label, COUNT(*) AS votes
       |  FROM ivf JOIN embeddings l USING (vec_id) GROUP BY 1, 2),
       |pick AS (
       |  SELECT probe_id, label, votes,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY votes DESC, label) AS rn
       |  FROM votes)
       |SELECT pk.probe_id, pk.label AS pred_label, pk.votes,
       |  t.label AS true_label, pk.label = t.label AS correct
       |FROM pick pk JOIN embeddings t ON t.vec_id = pk.probe_id
       |WHERE pk.rn = 1 ORDER BY probe_id""".stripMargin

  /** §8l(bu) — k-NN vote CALIBRATION: accuracy of [[knnLabel]]'s
    * prediction as a function of its vote margin — the reliability
    * diagram of the embedding-space labeler, in exact integers (per
    * vote-count bucket: probes, correct, per-mille accuracy). A
    * well-calibrated space shows accuracy rising with votes; a flat
    * curve means the votes carry no confidence signal and the
    * auto-labeling threshold must not trust them. */
  def knnCalibration(spark: SparkSession, dir: String): DataFrame =
    knnLabel(spark, dir).groupBy(col("votes"))
      .agg(count(lit(1)).as("n_probes"),
        sum(col("correct").cast("long")).as("n_correct"))
      .withColumn("acc_pm", expr("n_correct * 1000 div n_probes"))

  /** The same reliability diagram over the IVF-fronted labeler — the
    * deployment pair: exact calibration is the truth, this is what the
    * serving path actually exhibits (bucket pruning shifts votes, and
    * THIS table says whether the shifted votes still rank confidence). */
  def ivfKnnCalibration(spark: SparkSession, dir: String): DataFrame =
    ivfKnnLabel(spark, dir).groupBy(col("votes"))
      .agg(count(lit(1)).as("n_probes"),
        sum(col("correct").cast("long")).as("n_correct"))
      .withColumn("acc_pm", expr("n_correct * 1000 div n_probes"))

  private def calibrationSqlOver(labelSql: String): String = {
    val noOrder = labelSql.substring(0, labelSql.lastIndexOf("ORDER BY")).trim
    s"""WITH kl AS (${noOrder.replace("\n", "\n     ")})
       |SELECT votes, COUNT(*) AS n_probes,
       |  CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) * 1000 // COUNT(*) AS acc_pm
       |FROM kl GROUP BY votes ORDER BY votes""".stripMargin
  }

  private def knnCalibrationSql = calibrationSqlOver(knnLabelSql)
  private def ivfKnnCalibrationSql = calibrationSqlOver(ivfKnnLabelSql)

  private val knnLabelSql =
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p FROM embeddings WHERE vec_id % $ProbeMod = 0),
       |scored AS (
       |  SELECT probe_id, e.vec_id, ROUND(${cosChainDuck("e.embedding", "p")}, 6) AS cos
       |  FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored),
       |votes AS (
       |  SELECT probe_id, l.label, COUNT(*) AS votes
       |  FROM ranked JOIN embeddings l USING (vec_id)
       |  WHERE rank <= $TopKK GROUP BY 1, 2),
       |pick AS (
       |  SELECT probe_id, label, votes,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY votes DESC, label) AS rn
       |  FROM votes)
       |SELECT pk.probe_id, pk.label AS pred_label, pk.votes,
       |  t.label AS true_label, pk.label = t.label AS correct
       |FROM pick pk JOIN embeddings t ON t.vec_id = pk.probe_id
       |WHERE pk.rn = 1 ORDER BY probe_id""".stripMargin

  /** Recall@k audit of the IVF path against the exact top-k — THE
    * deployment metric for an approximate index (a 0.95 here is why
    * `ann_ivf_topk` may run where the flat scan can't). Per probe: how
    * many of the exact k nearest survive in the IVF answer, as a
    * per-mille integer (recall_pm = overlap·1000 div k — exact, no
    * float). Both sides are the already-oracled pipelines, so the audit
    * itself is oracle-verified too. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // r10: fixed AuditProbeBudget hash-rank probe draw on BOTH sides —
    // the truth side is budget × corpus (linear) instead of probes ∝
    // corpus × corpus (the 9.1×-at-sf1 quadratic)
    val exact = TopK.perKeyExec(scoredProbes(t, audited = true),
        "probe_id", "cos", "vec_id", TopKK)
      .select("probe_id", "vec_id")
    val ivf = ivfSearch(t, centroids(spark, t).toSeq.map(_._2), audited = true)
      .select("probe_id", "vec_id")
    val overlap = exact.join(ivf, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_overlap"))
    exact.select("probe_id").distinct()
      .join(overlap, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_pm", expr(s"n_overlap * 1000 div $TopKK"))
  }

  // def, not val: embeds ivfSql, which is declared later in the object
  private def ivfRecallSql =
    s"""WITH $auditIdsCte,
       |ex AS (SELECT probe_id, vec_id FROM (${auditSqlRestrict(bruteForceSql).replace("\n", "\n     ")}) t1),
       |iv AS (SELECT probe_id, vec_id FROM (${auditSqlRestrict(ivfSqlNoOrder).replace("\n", "\n     ")}) t2),
       |ov AS (SELECT probe_id, COUNT(*) AS n_overlap
       |       FROM ex JOIN iv USING (probe_id, vec_id) GROUP BY 1)
       |SELECT p.probe_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  COALESCE(ov.n_overlap, 0) * 1000 // $TopKK AS recall_pm
       |FROM (SELECT DISTINCT probe_id FROM ex) p
       |LEFT JOIN ov USING (probe_id) ORDER BY probe_id""".stripMargin

  /** Truncated-RBO coefficient per worst-rank m: Σ_{d=m..k} (1/2)^d / d.
    * Identical DOUBLE LITERALS are embedded in both engines, so the only
    * runtime float work is summing ≤k of them per probe. p = 1/2 keeps
    * the geometric weights dyadic; identical top-k lists score
    * Σ_d (1/2)^d = 1 − 2^{-k} (0.96875 at k=5). */
  private val RboCoeffs: Seq[Double] =
    (1 to TopKK).map(m => (m to TopKK).map(d => math.pow(0.5, d) / d).sum)

  /** §8n(ch) — rank-AGREEMENT audit of the IVF path: truncated
    * rank-biased overlap (RBO, p=1/2) between the exact and the IVF
    * top-k per probe. [[ivfRecall]] measures which of the true neighbors
    * the index FINDS (set overlap); this measures whether it returns
    * them in the right ORDER — the metric that moves when bucket pruning
    * starts reshuffling ranks before it starts losing neighbors, i.e.
    * the earlier warning. Each matched vector contributes a precomputed
    * coefficient keyed by its WORSE rank; per-probe sum + round-6 is the
    * whole float surface.
    *
    * Scale shape: both inputs are the already-oracled top-k pipelines
    * (k·|probes| rows each); the audit is one co-keyed join + one
    * aggregate. */
  def rankOverlap(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // r10: same fixed-budget probe draw as ivfRecall (see auditRestrict)
    val exact = TopK.perKeyExec(scoredProbes(t, audited = true),
        "probe_id", "cos", "vec_id", TopKK)
      .select(col("probe_id"), col("vec_id"), col("rank").cast("int").as("ra"))
    val ivf = ivfSearch(t, centroids(spark, t).toSeq.map(_._2), audited = true)
      .select(col("probe_id"), col("vec_id"), col("rank").cast("int").as("rb"))
    val matched = exact.join(ivf, Seq("probe_id", "vec_id"))
      .withColumn("c", element_at(typedlit(RboCoeffs), greatest(col("ra"), col("rb"))))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_common"), round(sum(col("c")), 6).as("rbo"))
    exact.select("probe_id").distinct()
      .join(matched, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("rbo"), lit(0.0)).as("rbo"))
  }

  // def, not val: embeds ivfSql, which is declared later in the object
  private def rankOverlapSql = {
    val coeffList = RboCoeffs.mkString("[", ", ", "]")
    s"""WITH $auditIdsCte,
       |ex AS (SELECT probe_id, vec_id, rank AS ra FROM (${auditSqlRestrict(bruteForceSql).replace("\n", "\n     ")}) t1),
       |iv AS (SELECT probe_id, vec_id, rank AS rb FROM (${auditSqlRestrict(ivfSqlNoOrder).replace("\n", "\n     ")}) t2),
       |mm AS (
       |  SELECT probe_id, CAST($coeffList[GREATEST(ra, rb)] AS DOUBLE) AS c
       |  FROM ex JOIN iv USING (probe_id, vec_id)),
       |ag AS (SELECT probe_id, COUNT(*) AS n_common, ROUND(SUM(c), 6) AS rbo
       |       FROM mm GROUP BY 1)
       |SELECT p.probe_id, COALESCE(ag.n_common, 0) AS n_common,
       |  COALESCE(ag.rbo, 0.0) AS rbo
       |FROM (SELECT DISTINCT probe_id FROM ex) p
       |LEFT JOIN ag USING (probe_id) ORDER BY probe_id""".stripMargin
  }

  // ------------------------------------------------------------------ IVF

  /** Per-base-dir memo of the collected centroid table. The sizing
    * count() plus the ≤k-row collect are bounded, but they are a full
    * corpus scan + a job PER CALL — and `BitextQueries.mineBatch` calls
    * this once per streaming micro-batch against the same frozen
    * archive. r11 (ADVICE): keyed on (dir, content signature of
    * embeddings.parquet — the [[Stage.signature]] size/mtime fold) so a
    * rewritten or grown table invalidates the memo instead of silently
    * serving stale k and stale centroids; dir immutability is verified,
    * not assumed. Stale vintages are evicted so the map stays one live
    * entry per dir. */
  private val centroidMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[(Long, Array[Float])])]()

  /** Literal centroid vectors — the bounded driver-side structure (id
    * asc). r09: SCALED via [[scaledK]] — SemDeDup/FAISS's
    * k-grows-with-the-corpus rule applied to the whole seed-centroid
    * family, so per-cluster occupancy (and with it every bucket-pruned
    * candidate set) stays pinned as the corpus grows; r10: CAPPED at
    * [[CentroidCap]] so coarse assignment stays ≤ cap·n cosines and the
    * collected matrix bounded. Oracle-identical at the ≤2000-vector
    * verification scales, where the floor governs; every family oracle
    * carries the same [[scaledKSql]] predicate. */
  private[operators] def centroids(spark: SparkSession, t: Tables): Array[(Long, Array[Float])] = {
    val sig = Stage.signature(s"${t.dir}/embeddings.parquet")
    centroidMemo.compute(t.dir, { (_, cached) =>
      if (cached != null && cached._1 == sig) cached
      else {
        import spark.implicits._
        val k = scaledK(t.embeddings.count()) // capped: see CentroidCap
        (sig, t.embeddings.where(col("vec_id") < k)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])].collect().sortBy(_._1))
      }
    })._2
  }

  /** Coarse assignment — the family's single entry point for "add a
    * `cluster` column": argmax cosine off the
    * [[VectorExpressions.centroidCosines]] kernel, first index on ties
    * (the family rule; the composed array-of-cosines form breaks codegen
    * past a few dozen centroids). One k-wide kernel per row; [[scaledK]]
    * keeps k ≤ [[CentroidCap]]. */
  private[operators] def assignNearest(df: DataFrame, cents: Seq[Array[Float]]): DataFrame = {
    val cc = VectorExpressions.centroidCosines(col("embedding"), cents)
    df.withColumn("cluster", (array_position(cc, array_max(cc)) - 1).cast("int"))
  }

  /** Probe-side twin of [[assignNearest]] — "which cells does this probe
    * search": the ranking (cos desc, centroid id asc) off ONE kernel
    * evaluation (transform-with-index so the k-wide fold runs once per
    * row, not once per element), cut at `width` cells. Emits
    * `array<struct<cos, nidx, idx>>`; consumers read only `x.idx`. The
    * serving family takes the [[NProbeBuckets]] width; the tuning curve
    * asks for its widest arm and slices each nprobe prefix from it. */
  private[operators] def probeTopC(cents: Seq[Array[Float]], width: Int = NProbeBuckets): Column =
    slice(reverse(array_sort(transform(
      VectorExpressions.centroidCosines(col("embedding"), cents),
      (c, i) => struct(c.as("cos"), (-i).as("nidx"), i.as("idx"))))), 1, width)

  /** §8n(cg) — per-cluster MEDOID prototypes: every vector assigned to
    * its nearest seed centroid (the `ann_ivf_topk` assignment — same
    * kernel, same tie rule), then each cluster reports the member most
    * similar to its centroid, with the membership count — the prototype
    * table diversity-aware sampling and dataset cartography read (pick
    * representatives, not random rows; SemDeDup's complement: instead of
    * dropping near-duplicates within a cluster, surface the row that
    * best REPRESENTS it). Cosines round-6 before the per-cluster argmax
    * so the tie-break (lowest vec_id) is identical in both engines.
    *
    * Scale shape: assignment is map-side against broadcast centroid
    * literals; ONE cluster-keyed aggregate (max-struct, partial
    * map-side) — no window, no join. */
  def clusterMedoids(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cents = centroids(spark, t).map(_._2).toSeq
    t.embeddings
      .withColumn("cs", VectorExpressions.centroidCosines(col("embedding"), cents))
      .withColumn("cluster", (array_position(col("cs"), array_max(col("cs"))) - 1).cast("long"))
      .withColumn("ccos", round(array_max(col("cs")), 6))
      .groupBy("cluster")
      .agg(
        max(struct(col("ccos"), (-col("vec_id")).as("nid"), col("vec_id"))).as("b"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("b.vec_id").as("medoid_id"),
        col("b.ccos").as("cos"), col("n_members"))
  }

  private def clusterMedoidsSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e, cents),
       |memb AS (
       |  SELECT vec_id, cid AS cluster, ROUND(ccos, 6) AS ccos6 FROM (
       |    SELECT vec_id, cid, ccos,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign) x WHERE rn = 1),
       |ranked AS (
       |  SELECT cluster, vec_id, ccos6,
       |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY ccos6 DESC, vec_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY cluster) AS n_members
       |  FROM memb)
       |SELECT cluster, vec_id AS medoid_id, ccos6 AS cos, n_members
       |FROM ranked WHERE rk = 1
       |ORDER BY cluster""".stripMargin

  /** IVF search against a given centroid set: map-side nearest-centroid
    * assignment (argmax cosine, first index on ties — equivalent to the
    * oracle's ORDER BY cos DESC, cid when centroids are id-sorted),
    * nprobe-bucket probe search, two-phase top-k. Bucket id = position in
    * `cents` — any consistent id works, membership is what must match. */
  private def ivfSearch(t: Tables, cents: Seq[Array[Float]],
                        labelFiltered: Boolean = false,
                        audited: Boolean = false): DataFrame =
    TopK.perKeyExec(ivfScored(t, cents, labelFiltered, audited),
      "probe_id", "cos", "vec_id", TopKK)

  /** The shared IVF probe stage: corpus assigned to its nearest centroid,
    * probes exploded to their [[NProbeBuckets]] nearest clusters, scored
    * pairs within probed clusters. [[ivfSearch]] tops-k it; the RANGE
    * search thresholds it — one pruning definition, two retrieval modes. */
  private def ivfScored(t: Tables, cents: Seq[Array[Float]],
                        labelFiltered: Boolean = false,
                        audited: Boolean = false): DataFrame = {
    // corpus: nearest centroid (first index on ties = smallest centroid id)
    val corpus = assignNearest(t.embeddings, cents)
      .select(col("vec_id"), col("embedding"), col("cluster"), col("label"))

    // probes: nprobe nearest centroids (cos desc, centroid id asc)
    val pbase = t.embeddings.where(col("vec_id") % ProbeMod === 0)
    val probes = (if (audited) auditRestrict(pbase) else pbase)
      .withColumn("top_c", probeTopC(cents))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("label").as("p_label"),
        explode(expr("transform(top_c, x -> x.idx)")).as("cluster"))

    val joined = corpus
      .withColumn("c_norm", sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))))
      .join(broadcast(probes.withColumn("p_norm",
        sqrt(VectorExpressions.dot(col("p_emb"), col("p_emb"))))), Seq("cluster"))
      .where(col("vec_id") =!= col("probe_id"))
    (if (labelFiltered) joined.where(col("label") === col("p_label")) else joined)
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
  }

  /** §8o — IVF-fronted RANGE search: every corpus vector within cosine
    * ≥ [[CosineThreshold]] of each probe, found through the probed
    * clusters instead of a P×C flat scan — the radius-query twin of
    * `ann_ivf_topk` and the serving shape of `dedup_embedding_cosine`
    * (same threshold: "fetch my near-dups through the index"). Same
    * centroid set, same assignment tie rule, same probe pruning; the
    * only difference is the tail — a threshold filter instead of a
    * top-k, so result size follows the data's true neighborhood
    * density rather than a fixed k. Scale: per-probe cost is the
    * probed-cluster rows, falling as the corpus spreads over more
    * clusters — the `*_served` economics. */
  def ivfRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    ivfScored(t, centroids(spark, t).toSeq.map(_._2))
      .where(col("cos") >= CosineThreshold)
  }

  /** Oracle: `ann_ivf_topk`'s CTE chain verbatim up to `scored` (one
    * pruning definition on the SQL side too), thresholded instead of
    * ranked. */
  private def ivfRangeSql: String = {
    val cut = ivfSql.indexOf("ranked AS")
    require(cut > 0, "ivfSql shape changed; range oracle surgery needs updating")
    val base = ivfSql.substring(0, ivfSql.lastIndexOf(",", cut))
    s"""$base
       |SELECT probe_id, vec_id, cos FROM scored WHERE cos >= $CosineThreshold
       |ORDER BY probe_id, cos DESC, vec_id""".stripMargin
  }

  /** §30 — IVF: deterministic centroids, map-side nearest-centroid assign,
    * nprobe-bucket search, two-phase top-k. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    ivfSearch(t, centroids(spark, t).toSeq.map(_._2))
  }

  /** IVF top-`n` candidate ranking for ONE probe — the dense tower of the
    * index-served hybrid (`text_hybrid_served`): nprobe bucket pruning,
    * exact cosine inside the probed buckets, rank by (cos6 desc, vec_id).
    * Returns (doc_id, rank_vec) like [[TextIndexQueries.bm25Ranked]]'s
    * lexical shape so the fusion join is symmetric. */
  private[operators] def ivfRankedForProbe(spark: SparkSession, dir: String,
                                           probeId: Long, n: Int): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cents = centroids(spark, t).toSeq.map(_._2)
    val corpus = assignNearest(t.embeddings, cents)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val probe = t.embeddings.where(col("vec_id") === probeId)
      .withColumn("top_c", probeTopC(cents))
      .select(col("embedding").as("p_emb"),
        explode(expr("transform(top_c, x -> x.idx)")).as("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id"))
    corpus
      .withColumn("c_norm", sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))))
      .join(broadcast(probe.withColumn("p_norm",
        sqrt(VectorExpressions.dot(col("p_emb"), col("p_emb"))))), Seq("cluster"))
      .where(col("vec_id") =!= probeId)
      .select(col("vec_id").as("doc_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(n)
      .select(col("doc_id"), row_number().over(w).as("rank_vec"))
  }

  /** DuckDB CTE chain ending in `vecr(doc_id, rank_vec)` — the
    * [[ivfRankedForProbe]] mirror, shared into the hybrid-served oracle. */
  private[operators] def ivfRankedCtes(probeId: Long, n: Int): String =
    s"""cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |cluster AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign) x WHERE rn = 1),
       |probe_assign AS (
       |  SELECT cid AS cluster FROM (
       |    SELECT cid, ROW_NUMBER() OVER (ORDER BY ccos DESC, cid) AS rn
       |    FROM assign WHERE vec_id = $probeId) x WHERE rn <= $NProbeBuckets),
       |vec_scored AS (
       |  SELECT e.vec_id AS doc_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM probe_assign pa
       |  JOIN cluster cl ON cl.cluster = pa.cluster
       |  JOIN embeddings e ON e.vec_id = cl.vec_id
       |  JOIN embeddings p ON p.vec_id = $probeId
       |  WHERE e.vec_id <> $probeId),
       |vecr AS (
       |  SELECT doc_id, r AS rank_vec FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
       |    FROM vec_scored) x WHERE r <= $n)""".stripMargin

  /** §8k(bo) — FILTERED search on the IVF index: [[filteredTopK]]'s label
    * predicate composed with the nprobe bucket pruning — the deployment
    * path for predicate retrieval (the flat filtered scan is the recall
    * baseline, this is what actually runs at corpus scale). The filter
    * applies INSIDE the probed buckets, after pruning: selectivity s
    * multiplies the already-pruned candidate set, so per-probe cost is
    * s · (probed fraction) · corpus. The recall trade is the same as
    * unfiltered IVF — and one notch sharper: a selective filter thins
    * each probed bucket toward empty, the known failure mode of
    * pre-filter-inside-IVF serving (k under-fill), visible directly by
    * diffing against `ann_filtered_topk`. */
  def ivfFilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    ivfSearch(t, centroids(spark, t).toSeq.map(_._2), labelFiltered = true)
  }

  private val ivfFilteredSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |cluster AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign) x WHERE rn = 1),
       |probe_assign AS (
       |  SELECT vec_id AS probe_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign WHERE vec_id % $ProbeMod = 0) x WHERE rn <= $NProbeBuckets),
       |scored AS (
       |  SELECT probe_id, e.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM probe_assign pa
       |  JOIN cluster cl ON cl.cluster = pa.cluster
       |  JOIN embeddings e ON e.vec_id = cl.vec_id
       |  JOIN embeddings p ON p.vec_id = pa.probe_id
       |  WHERE e.vec_id <> pa.probe_id AND e.label = p.label),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin

  /** Means quantization grid: one Lloyd step must stay bit-reproducible in
    * the oracle, and double sums are order-dependent — so components are
    * rounded onto an integer grid (v → round(v·10⁴), exact: a float×10⁴
    * product fits a double's 53-bit mantissa), summed as EXACT integers
    * (order-independent), and the mean sum/(n·10⁴) is one deterministic
    * IEEE division, narrowed to float the same way in both engines. */
  private val QuantScale = 10000L

  /** §30b (SURVEY §8b) — IVF with one Lloyd refinement: assign to the seed
    * centroids, recompute each cluster's mean on the quantized-integer
    * grid (distributed: posexplode → (cluster, dim) partial-agg sums; only
    * the ncentroids×dim sums reach the driver), then search against the
    * refined centroids. Strictly better bucketing than the raw seeds at
    * the cost of one extra corpus pass — the standard IVF training
    * trade-off, here with a hash-verifiable result. */
  def ivfRefinedTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    ivfSearch(Tables(dir), trainRefinedCentroids(spark, dir))
  }

  /** The Lloyd-step training pass, factored out so centroids can be
    * persisted ([[trainIvf]]) and searches run training-free. */
  private def trainRefinedCentroids(spark: SparkSession, dir: String): Seq[Array[Float]] =
    trainRefinedSteps(spark, dir, 1)

  /** §8e(r) — N Lloyd steps on the quantized-integer grid: each step
    * re-assigns the corpus to the current centroids (argmax cosine, first
    * index on ties) and recenters every non-empty cluster to the exact
    * integer-grid mean; a cluster that loses all members keeps its
    * previous centroid (the oracle applies the same COALESCE fallback).
    * Each step is one corpus pass; only ncentroids×dim sums reach the
    * driver per step. The objective (mean assignment cosine) is
    * monotone in exact arithmetic; the grid rounds it, so the spec gates
    * on non-degradation rather than strict improvement. */
  private[operators] def trainRefinedSteps(spark: SparkSession, dir: String, steps: Int): Seq[Array[Float]] = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    var cents = centroids(spark, t).toSeq.map(_._2)
    (1 to steps).foreach(_ => cents = lloydStep(t, cents))
    cents
  }

  private def lloydStep(t: Tables, cents: Seq[Array[Float]])
                       (implicit spark: SparkSession): Seq[Array[Float]] = {
    // r15 (opt): Tables.spread on the training scan was built and
    // A/B-REJECTED (ann_ivf_refined2 0.58 -> 0.83/1.04, ivfpq_trained
    // wash) — the round-robin exchange ships the raw embedding arrays
    // (~300 B/row), which costs more than parallelizing the argmax saves
    val assigned = assignNearest(t.embeddings, cents)

    // (cluster, dim) → exact integer sum of quantized components
    val sums = assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("cluster"), col("pos"),
        round(col("v").cast("double") * QuantScale, 0).cast("long").as("q"))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .collect() // bounded: ncentroids × dim rows

    val out = cents.map(_.clone()).toArray
    sums.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
      .foreach { case (cluster, rows) =>
        rows.foreach { case (_, pos, s, n) =>
          out(cluster)(pos) = (s.toDouble / (n * QuantScale).toDouble).toFloat
        }
      }
    out.toSeq
  }

  /** §8e(r) — IVF search against twice-refined centroids. */
  def ivfRefined2TopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    ivfSearch(Tables(dir), trainRefinedSteps(spark, dir, 2))
  }

  /** §8b(g) — train once, persist the centroid table: at 100 TB the
    * training pass (full corpus assign + mean) is the expensive step, and
    * every subsequent search should read `(cluster, embedding)` instead of
    * re-deriving it. Plain parquet so the centroid table is itself
    * queryable/joinable like any dataset. */
  def trainIvf(spark: SparkSession, dir: String, centroidPath: String): Unit = {
    import spark.implicits._
    trainRefinedCentroids(spark, dir).zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("cluster", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(centroidPath)
  }

  /** Search against a persisted centroid table — no training/seeding pass
    * touches the corpus; only the bounded centroid table is collected. */
  def ivfTopKFrom(spark: SparkSession, dir: String, centroidPath: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    import spark.implicits._
    val cents = spark.read.parquet(centroidPath)
      .orderBy("cluster").as[(Int, Array[Float])].collect().map(_._2).toSeq
    ivfSearch(Tables(dir), cents)
  }

  private def ivfSqlNoOrder: String = {
    val full = ivfSql
    full.substring(0, full.lastIndexOf("ORDER BY")).trim
  }

  private val ivfSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |cluster AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign) x WHERE rn = 1),
       |probe_assign AS (
       |  SELECT vec_id AS probe_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign WHERE vec_id % $ProbeMod = 0) x WHERE rn <= $NProbeBuckets),
       |scored AS (
       |  SELECT probe_id, e.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM probe_assign pa
       |  JOIN cluster cl ON cl.cluster = pa.cluster
       |  JOIN embeddings e ON e.vec_id = cl.vec_id
       |  JOIN embeddings p ON p.vec_id = pa.probe_id
       |  WHERE e.vec_id <> pa.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin

  /** N-step Lloyd refinement CTE chain (mirror of [[trainRefinedSteps]]):
    * centsK recenters non-empty clusters on the quantized grid and keeps
    * the previous centroid for empty ones (COALESCE — same fallback as
    * the Scala trainer). The search runs against cents{steps}. */
  private def buildIvfRefinedSql(steps: Int): String = {
    def assign(k: Int) =
      s"""assign$k AS (
         |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
         |  FROM embeddings e CROSS JOIN cents$k)""".stripMargin
    def cluster(k: Int) =
      s"""cluster$k AS (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |    FROM assign$k) x WHERE rn = 1)""".stripMargin
    def qsum(k: Int) =
      s"""qsum$k AS (
         |  SELECT c.cluster, t.i,
         |    CAST(SUM(CAST(ROUND(CAST(e.embedding[t.i] AS DOUBLE) * $QuantScale, 0) AS BIGINT)) AS DOUBLE) AS s,
         |    COUNT(*) AS n
         |  FROM embeddings e JOIN cluster${k - 1} c USING (vec_id) CROSS JOIN range(1, $Dim + 1) t(i)
         |  GROUP BY c.cluster, t.i)""".stripMargin
    def cents(k: Int) =
      s"""cents$k AS (
         |  SELECT p.cid, COALESCE(r.c, p.c) AS c
         |  FROM cents${k - 1} p LEFT JOIN (
         |    SELECT cluster AS cid, list(CAST(s / (n * $QuantScale.0) AS REAL) ORDER BY i) AS c
         |    FROM qsum$k GROUP BY cluster) r ON r.cid = p.cid)""".stripMargin
    val chain = (1 to steps).flatMap(k =>
      Seq(qsum(k), cents(k), assign(k), cluster(k))).mkString(",\n")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |${assign(0)},
       |${cluster(0)},
       |$chain,
       |probe AS (
       |  SELECT vec_id AS probe_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign$steps WHERE vec_id % $ProbeMod = 0) x WHERE rn <= $NProbeBuckets),
       |scored AS (
       |  SELECT probe_id, e.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM probe pa
       |  JOIN cluster$steps cl ON cl.cluster = pa.cluster
       |  JOIN embeddings e ON e.vec_id = cl.vec_id
       |  JOIN embeddings p ON p.vec_id = pa.probe_id
       |  WHERE e.vec_id <> pa.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin
  }

  private val ivfRefinedSql = buildIvfRefinedSql(1)
  private val ivfRefined2Sql = buildIvfRefinedSql(2)

  // ------------------------------------------------- random-hyperplane LSH

  private val LshBands = 12
  private val LshRows = 5

  /** Hyperplane index pairs for the 60 signature bits: bit p is the sign
    * of the projection onto (e_i − e_j), i.e. `v[i] > v[j]` — a valid
    * random-projection family that BOTH engines can evaluate exactly (a
    * float comparison, no dot-product arithmetic to keep bit-stable). The
    * pairs are generated HERE and splashed into the Spark plan and the
    * oracle SQL, so bucketing is identical by construction.
    *
    * Band geometry is a per-corpus dial. Sign-bit agreement for a pair at
    * cosine c is 1 − arccos(c)/π — at this corpus's near-threshold (0.35)
    * that is only ~0.61, so (bands=12, rows=5) lands at ~0.69 recall with
    * a ~0.32 candidate fraction (measured at sf0.001 in AnnLshSpec). The
    * random-collision floor is bands·2^-rows of all pairs — raising rows
    * prunes harder but kills recall at low τ; on a high-similarity corpus
    * (near-dup mining at τ ≥ 0.8, agreement ≥ 0.9) the same operator with
    * rows=8+ gets >90% recall at a ≤3% candidate fraction. τ=0.35 is kept
    * here to exercise the hard regime against the exact oracle. */
  private def hyperplanePairs(n: Int): Seq[(Int, Int)] =
    (0 until n).map { p =>
      val i = (7 * p + 1) % Dim
      val j0 = (13 * p + 5) % Dim
      (i, if (j0 == i) (j0 + 1) % Dim else j0)
    }
  private val lshPairs: Seq[(Int, Int)] = hyperplanePairs(LshBands * LshRows)

  /** Band `b`'s sign-LSH hash over the hyperplane pairs `prs`: bit r is
    * set when the embedding is larger on the first coordinate of pair
    * `b * nRows + r`. */
  private def bandHash(prs: Seq[(Int, Int)], nRows: Int, b: Int): Column =
    (0 until nRows).map { r =>
      val (i, j) = prs(b * nRows + r)
      when(col("embedding")(i) > col("embedding")(j), lit(1 << r)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Band `b`'s per-bit margins |v[i] − v[j]| in double: the multiprobe
    * flips the lowest-margin bit ([[flippedHashCol]]). */
  private def bandMargins(prs: Seq[(Int, Int)], nRows: Int, b: Int): Column = array((0 until nRows).map { r =>
    val (i, j) = prs(b * nRows + r)
    abs(col("embedding")(i).cast("double") - col("embedding")(j).cast("double"))
  }: _*)

  /** §29b — near-neighbor pairs via random-hyperplane LSH: 64 sign bits →
    * 8 bands × 8 bits, candidates = pairs sharing any band's 8-bit bucket,
    * then exact-cosine rerank. The whole-corpus all-pairs product never
    * materializes: the self-join is keyed on (band_id, band_hash) — at
    * 100 TB each bucket holds ~|corpus|/256 per band and the exchange
    * spreads buckets across the cluster; the verify join pulls only
    * candidate vectors by id. Same recall/cost trade as minhash-LSH for
    * text ([[DedupQueries]]), here over the embedding space. */
  def lshCosine(spark: SparkSession, dir: String): DataFrame =
    lshSearch(spark, dir, LshBands, LshRows, multiprobe = false)

  /** Parameterized sign-LSH pair search shared by the plain and multiprobe
    * queries (and the recall specs). `multiprobe = true` ALSO probes, per
    * band, the signature with its lowest-margin bit flipped (margin =
    * |v[i] − v[j]| in double, ties to the lowest bit) — the closest bucket
    * the vector just missed. Recall per band jumps from "all R bits agree"
    * to "≤1 low-margin disagreement" with ZERO extra signature storage;
    * the cost is 2× band rows into the exchange and the extra candidates.
    * Measured at sf0.001, τ=0.35, geometry (8,8): recall 0.12 → 0.46 with
    * candidates still ≤12% of all-pairs (AnnLshSpec pins the floors). */
  private[operators] def lshSearch(spark: SparkSession, dir: String,
                                   nBands: Int, nRows: Int, multiprobe: Boolean): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val emb = Tables(dir).embeddings
    val prs = hyperplanePairs(nBands * nRows)

    val bands =
      if (!multiprobe) {
        emb.select(col("vec_id"),
            explode(array((0 until nBands).map(b =>
              struct(lit(b).as("band_id"), bandHash(prs, nRows, b).as("band_hash"))): _*)).as("b"))
          .select(col("vec_id"), col("b.band_id").as("band_id"), col("b.band_hash").as("band_hash"))
      } else {
        // compute h + margins ONCE per (vector, band) in a single Generate;
        // the two probe rows come from a second tiny explode over the
        // already-materialized columns (a unionAll of sig would re-run the
        // scan + signature arithmetic twice)
        val sig = emb.select(col("vec_id"),
            explode(array((0 until nBands).map(b =>
              struct(lit(b).as("band_id"), bandHash(prs, nRows, b).as("h"), bandMargins(prs, nRows, b).as("m"))): _*)).as("s"))
          .select(col("vec_id"), col("s.band_id").as("band_id"), col("s.h").as("h"), col("s.m").as("m"))
        val flipped = flippedHashCol(nRows)
        sig.select(col("vec_id"), col("band_id"),
          explode(array(col("h"), flipped)).as("band_hash"))
      }

    // custom BandedPairs operator: one bucket-clustered exchange, pairs
    // streamed per bucket — subsumes the band self-join (parity-spec'd)
    val cand = Banded.pairsExec(bands, Seq("band_id", "band_hash"), "vec_id").distinct()
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("norm"))
    cand
      .join(withNorm.select(col("vec_id").as("id_a"), col("embedding").as("e_a"), col("norm").as("n_a")), "id_a")
      .join(withNorm.select(col("vec_id").as("id_b"), col("embedding").as("e_b"), col("norm").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(VectorExpressions.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6).as("cos"))
      .where(col("cos") >= CosineThreshold)
  }

  /** The nearest-miss bucket hash: the band signature with its
    * lowest-margin bit flipped (margin = |v[i] − v[j]|, ties to the
    * lowest bit). Reads columns `h` and `m` — shared by the flat
    * multiprobe pair search and the served probe path. */
  private def flippedHashCol(nRows: Int): Column =
    (0 until nRows).foldLeft(Option.empty[Column]) { (acc, r) =>
      val isMin = ((r + 1) until nRows).map(t => col("m")(r) <= col("m")(t)).reduceOption(_ && _)
      Some((acc, isMin) match {
        case (None, Some(cond)) => when(cond, col("h").bitwiseXOR(lit(1 << r)))
        case (Some(c), Some(cond)) => c.when(cond, col("h").bitwiseXOR(lit(1 << r)))
        case (Some(c), None) => c.otherwise(col("h").bitwiseXOR(lit(1 << r)))
        case (None, None) => col("h").bitwiseXOR(lit(1 << r)) // nRows == 1
      })
    }.get

  private val MpBands = 8
  private val MpRows = 8

  /** §29c — multiprobe sign-LSH at the TIGHT geometry (8 bands × 8 bits):
    * where the plain 8-bit bands are too selective for this diffuse corpus
    * (recall 0.12), probing each band's nearest-miss bucket recovers most
    * of the lost recall (0.46) while keeping the strong pruning tight
    * bands buy (candidates ≤12% of all-pairs vs ~37% for the loose plain
    * geometry). The multiprobe dial trades candidate volume for recall
    * WITHOUT growing signature storage or band count — at 100 TB that is
    * the difference between re-sharding the signature table and just
    * scanning a few more buckets. */
  def lshMultiprobe(spark: SparkSession, dir: String): DataFrame =
    lshSearch(spark, dir, MpBands, MpRows, multiprobe = true)

  private def mpSigDuck: String = {
    val prs = hyperplanePairs(MpBands * MpRows)
    def sig(b: Int) = {
      val h = (0 until MpRows).map { r =>
        val (i, j) = prs(b * MpRows + r)
        s"CASE WHEN embedding[${i + 1}] > embedding[${j + 1}] THEN ${1 << r} ELSE 0 END"
      }.mkString("(", " + ", ")")
      val ms = (0 until MpRows).map { r =>
        val (i, j) = prs(b * MpRows + r)
        s"abs(CAST(embedding[${i + 1}] AS DOUBLE) - CAST(embedding[${j + 1}] AS DOUBLE)) AS m$r"
      }.mkString(", ")
      s"SELECT vec_id, $b AS band_id, $h AS h, $ms FROM embeddings"
    }
    (0 until MpBands).map(sig).mkString("\n  UNION ALL\n  ")
  }

  private def mpFlipDuck: String = {
    val branches = (0 until MpRows).map { r =>
      val cond = ((r + 1) until MpRows).map(t => s"m$r <= m$t").mkString(" AND ")
      if (cond.nonEmpty) s"WHEN $cond THEN xor(h, ${1 << r})" else s"ELSE xor(h, ${1 << r})"
    }
    "CASE " + branches.mkString(" ") + " END"
  }

  private val lshMultiprobeSql =
    s"""WITH sig AS (
       |  $mpSigDuck),
       |probe AS (
       |  SELECT vec_id, band_id, h AS band_hash FROM sig
       |  UNION ALL
       |  SELECT vec_id, band_id, $mpFlipDuck AS band_hash FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
       |  FROM probe a JOIN probe c
       |    ON a.band_id = c.band_id AND a.band_hash = c.band_hash AND a.vec_id < c.vec_id),
       |scored AS (
       |  SELECT id_a, id_b, ROUND(${cosChainDuck("ea.embedding", "eb.embedding")}, 6) AS cos
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = id_a
       |  JOIN embeddings eb ON eb.vec_id = id_b)
       |SELECT id_a, id_b, cos FROM scored WHERE cos >= $CosineThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Per-bucket candidate budget of the served LSH index: each
    * (band, hash) bucket keeps its [[LshServeCap]] lowest vec_ids as
    * servable candidates — the whale-bucket cap baked into the INDEX
    * build (a deterministic, documented undercount, mirrored in the
    * oracle), which is what bounds per-probe work at any corpus size. */
  private val LshServeCap = 16

  /** r14 (r13 verdict #6 alternative) — the served sign-LSH index: the
    * capped (band_id, band_hash, vec_id) bucket table at the tight
    * multiprobe geometry, staged content-gated on the embeddings table
    * (the IVF/PQ `*_served` discipline: train/build once per corpus
    * state, serve reads). Only plain hashes are stored — the multiprobe
    * flip is probe-side arithmetic, so the index carries zero extra
    * signature storage. The cap lives in the BUILD (not the read): a
    * serving query never re-ranks corpus buckets. */
  private[operators] def stagedLshSigs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Stage.cached(spark, "lshsig", dir, "embeddings") {
      val prs = hyperplanePairs(MpBands * MpRows)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band_id"), col("band_hash")).orderBy(col("vec_id"))
      Tables(dir).embeddings
        .select(col("vec_id"),
          explode(array((0 until MpBands).map(b =>
            struct(lit(b).as("band_id"), bandHash(prs, MpRows, b).as("band_hash"))): _*)).as("b"))
        .select(col("vec_id"), col("b.band_id").as("band_id"), col("b.band_hash").as("band_hash"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= LshServeCap)
        .select("band_id", "band_hash", "vec_id")
    }
  }

  /** §29c(r14) — FIXED-BUDGET probed LSH serving: top-[[TopKK]] neighbors
    * per probe through the staged capped index. Per probe the budget is
    * hard: 2 buckets per band (own + nearest-miss flip, probe-side
    * arithmetic) × [[MpBands]] bands × ≤[[LshServeCap]] candidates per
    * bucket = ≤256 exact cosines — per-probe work is CONSTANT in corpus
    * size, the serving shape `ann_lsh_multiprobe` (a deliberate flat
    * pair-search baseline, P×C by construction) is not. Probes broadcast
    * against the index join; candidates dedupe across bands before
    * scoring; ranking is the bounded-heap TopK exec with the family's
    * (cos desc, vec_id) tie rule. The oracle replays the identical
    * capped index + probe set. */
  def lshServed(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val emb = Tables(dir).embeddings
    val prs = hyperplanePairs(MpBands * MpRows)
    val sig = emb.where(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("probe_id"),
        explode(array((0 until MpBands).map(b =>
          struct(lit(b).as("band_id"), bandHash(prs, MpRows, b).as("h"), bandMargins(prs, MpRows, b).as("m"))): _*)).as("s"))
      .select(col("probe_id"), col("s.band_id").as("band_id"),
        col("s.h").as("h"), col("s.m").as("m"))
    val probeBuckets = sig.select(col("probe_id"), col("band_id"),
      explode(array(col("h"), flippedHashCol(MpRows))).as("band_hash"))
    val cands = stagedLshSigs(spark, dir)
      .join(broadcast(probeBuckets), Seq("band_id", "band_hash"))
      .where(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("norm"))
    val scored = cands
      .join(withNorm.select(col("vec_id").as("probe_id"),
        col("embedding").as("p_emb"), col("norm").as("p_norm")), Seq("probe_id"))
      .join(withNorm.select(col("vec_id"),
        col("embedding").as("e_emb"), col("norm").as("e_norm")), Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("e_emb"), col("p_emb"))
          / (col("e_norm") * col("p_norm")), 6).as("cos"))
    TopK.perKeyExec(scored, "probe_id", "cos", "vec_id", TopKK)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
  }

  private val lshServedSql =
    s"""WITH sig AS (
       |  $mpSigDuck),
       |capped AS (
       |  SELECT band_id, band_hash, vec_id FROM (
       |    SELECT band_id, h AS band_hash, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY band_id, h ORDER BY vec_id) AS rn
       |    FROM sig) x WHERE rn <= $LshServeCap),
       |probe AS (
       |  SELECT vec_id AS probe_id, band_id, h AS band_hash FROM sig WHERE vec_id % $ProbeMod = 0
       |  UNION ALL
       |  SELECT vec_id, band_id, $mpFlipDuck AS band_hash FROM sig WHERE vec_id % $ProbeMod = 0),
       |cand AS (
       |  SELECT DISTINCT p.probe_id, c.vec_id
       |  FROM probe p JOIN capped c
       |    ON c.band_id = p.band_id AND c.band_hash = p.band_hash
       |  WHERE c.vec_id <> p.probe_id),
       |scored AS (
       |  SELECT probe_id, cand.vec_id,
       |    ROUND(${cosChainDuck("e.embedding", "pe.embedding")}, 6) AS cos
       |  FROM cand
       |  JOIN embeddings e ON e.vec_id = cand.vec_id
       |  JOIN embeddings pe ON pe.vec_id = cand.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin

  private def lshBandHashDuck(b: Int): String =
    (0 until LshRows).map { r =>
      val (i, j) = lshPairs(b * LshRows + r)
      s"CASE WHEN embedding[${i + 1}] > embedding[${j + 1}] THEN ${1 << r} ELSE 0 END"
    }.mkString("(", " + ", ")")

  private val lshCosineSql =
    s"""WITH bands AS (
       |  ${(0 until LshBands).map(b =>
            s"SELECT vec_id, $b AS band_id, ${lshBandHashDuck(b)} AS band_hash FROM embeddings")
            .mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
       |  FROM bands a JOIN bands c
       |    ON a.band_id = c.band_id AND a.band_hash = c.band_hash AND a.vec_id < c.vec_id),
       |scored AS (
       |  SELECT id_a, id_b, ROUND(${cosChainDuck("ea.embedding", "eb.embedding")}, 6) AS cos
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = id_a
       |  JOIN embeddings eb ON eb.vec_id = id_b)
       |SELECT id_a, id_b, cos FROM scored WHERE cos >= $CosineThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** r11: the pair-audit analogue of [[AuditProbeBudget]] — a
    * deterministic hash-rank draw of anchors from ALL vec_ids (pairs
    * have no %-mod population; any vector can anchor a pair). */
  private val LshAuditSalt = "graft-lsh-audit:"

  /** Recall audit of the sign-LSH pair search against the exact truth at
    * the same threshold — `ann_ivf_recall`'s sibling for the second
    * approximate family, and the registered/oracled form of the recall
    * floors AnnLshSpec pins.
    *
    * r11: fixed-budget ANCHOR restriction on BOTH sides (the last
    * flat-scan truth audit — 234.9 s / 80× at sf1 as all-pairs). Recall
    * is measured over τ-pairs touching a deterministic
    * [[AuditProbeBudget]]-anchor hash-rank draw: the exact side is
    * anchors × corpus (broadcast, linear), and the LSH side joins the
    * anchors' band signatures (budget × bands rows, broadcast) against
    * the full band frame — the banded search restricted to
    * anchor-involving pairs, which is exactly the full LSH pair set ∩
    * anchor pairs. Anchor-pair recall is an unbiased estimate of the
    * global pair recall at budget × corpus cost. One output row:
    * (n_exact, n_lsh, n_overlap, recall_pm). */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val emb = Tables(dir).embeddings
    val anchors = emb.select(col("vec_id"))
      .withColumn("h", md5(concat(lit(LshAuditSalt), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(AuditProbeBudget).drop("h")
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("norm"))
    val aSide = withNorm.join(anchors, Seq("vec_id"))
      .select(col("vec_id").as("a_id"), col("embedding").as("e_a"), col("norm").as("n_a"))
    val exact = withNorm.crossJoin(broadcast(aSide))
      .where(col("vec_id") =!= col("a_id"))
      .select(least(col("a_id"), col("vec_id")).as("id_a"),
        greatest(col("a_id"), col("vec_id")).as("id_b"),
        round(VectorExpressions.dot(col("e_a"), col("embedding")) / (col("n_a") * col("norm")), 6).as("cos"))
      .where(col("cos") >= CosineThreshold)
      .select("id_a", "id_b").distinct()
    val prs = lshPairs
    val bands = emb
      .select(col("vec_id"),
        explode(array((0 until LshBands).map(b =>
          struct(lit(b).as("band_id"), bandHash(prs, LshRows, b).as("band_hash"))): _*)).as("b"))
      .select(col("vec_id"), col("b.band_id").as("band_id"), col("b.band_hash").as("band_hash"))
    val aBands = bands.join(anchors, Seq("vec_id"))
      .select(col("vec_id").as("a_id"), col("band_id"), col("band_hash"))
    val cand = bands.join(broadcast(aBands), Seq("band_id", "band_hash"))
      .where(col("vec_id") =!= col("a_id"))
      .select(least(col("a_id"), col("vec_id")).as("id_a"),
        greatest(col("a_id"), col("vec_id")).as("id_b"))
      .distinct()
    // r15 (opt, guide §2.4): consumed TWICE (the overlap left-join AND the
    // n_lsh count) — unpersisted, the full band explode + candidate join +
    // cosine verify ran twice per execution (sf1 read 17.6 s vs the r13
    // record's 2.0). The frame is tiny (τ-pairs touching ≤ budget anchors).
    val lsh = graft.operators.Cached.track(cand
      .join(withNorm.select(col("vec_id").as("id_a"), col("embedding").as("e_a"), col("norm").as("n_a")), "id_a")
      .join(withNorm.select(col("vec_id").as("id_b"), col("embedding").as("e_b"), col("norm").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(VectorExpressions.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6).as("cos"))
      .where(col("cos") >= CosineThreshold)
      .select("id_a", "id_b")
      .persist())
    exact.join(lsh.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .select(col("n_exact"), col("n_lsh"), col("n_overlap"),
        expr("n_overlap * 1000 div greatest(n_exact, 1)").as("recall_pm"))
  }

  private def lshRecallSql =
    s"""WITH anchor AS (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY md5('$LshAuditSalt' || CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $AuditProbeBudget),
       |ex AS (
       |  SELECT DISTINCT LEAST(a.vec_id, b.vec_id) AS id_a,
       |         GREATEST(a.vec_id, b.vec_id) AS id_b
       |  FROM embeddings a JOIN anchor an ON an.vec_id = a.vec_id
       |  JOIN embeddings b ON b.vec_id <> a.vec_id
       |  WHERE ROUND(${cosChainDuck("a.embedding", "b.embedding")}, 6) >= $CosineThreshold),
       |bands AS (
       |  ${(0 until LshBands).map(b =>
            s"SELECT vec_id, $b AS band_id, ${lshBandHashDuck(b)} AS band_hash FROM embeddings")
            .mkString("\n  UNION ALL\n  ")}),
       |abands AS (SELECT b.* FROM bands b JOIN anchor USING (vec_id)),
       |cand AS (
       |  SELECT DISTINCT LEAST(a.vec_id, c.vec_id) AS id_a,
       |         GREATEST(a.vec_id, c.vec_id) AS id_b
       |  FROM abands a JOIN bands c
       |    ON a.band_id = c.band_id AND a.band_hash = c.band_hash AND a.vec_id <> c.vec_id),
       |lsh AS (
       |  SELECT id_a, id_b
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = id_a
       |  JOIN embeddings eb ON eb.vec_id = id_b
       |  WHERE ROUND(${cosChainDuck("ea.embedding", "eb.embedding")}, 6) >= $CosineThreshold),
       |ov AS (SELECT COUNT(*) AS n_overlap FROM ex JOIN lsh USING (id_a, id_b))
       |SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
       |       (SELECT COUNT(*) FROM lsh) AS n_lsh,
       |       n_overlap,
       |       n_overlap * 1000 // GREATEST((SELECT COUNT(*) FROM ex), 1) AS recall_pm
       |FROM ov""".stripMargin

  // ------------------------------------------------ product quantization

  /** PQ geometry: 64 dims = 8 subspaces × 8; 32 codewords per subspace
    * (subvectors of the deterministic seed rows, cid = vec_id), ADC
    * shortlist 100 — measured recall@5 vs brute force: 0.96 at sf0.01
    * (see the sweep in PqSpec; (4,8,20) scored 0.20 — geometry is the
    * whole game for flat PQ). 8 byte-codes per vector = 32× compression
    * vs the raw float corpus: at 100 TB of embeddings the ADC scan
    * touches ~3 TB of codes and no float vectors move after encoding. */
  private val PqM = 8
  private val PqSubDim = Dim / PqM
  private val PqK = 32
  private val PqShortlist = 100

  /** Codeword subvectors: (m, cid) → 16 floats, from the seed rows. */
  private def pqCodebook(spark: SparkSession, t: Tables): Array[Array[Array[Float]]] = {
    import spark.implicits._
    val seeds = t.embeddings.where(col("vec_id") < PqK)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    Array.tabulate(PqM)(m => seeds.map(_._2.slice(m * PqSubDim, (m + 1) * PqSubDim)))
  }

  /** Subspace slice of the embedding column (1-based slice). */
  private def sub(c: Column, m: Int): Column = slice(c, m * PqSubDim + 1, PqSubDim)

  /** §30c — PQ + ADC top-k with exact re-rank: encode the corpus to 4
    * codebook indices map-side (argmin subspace L2, three-dot form,
    * first-index ties); each probe precomputes its 4×8 inner-product
    * lookup table map-side; the ADC score is 4 table lookups + 3 adds per
    * (probe, vector) — no float vectors move after encoding. The ADC
    * shortlist (top 20 per probe via [[TopK.perKeyExec]]) is then exactly
    * re-ranked with true cosine on only |probes|×20 vectors. The scale
    * story: the scan side carries 4 bytes/vector instead of 256, and the
    * exact pass touches a bounded candidate set — the flat-PQ half of
    * FAISS-style IVF-PQ (bucket with [[ivfTopK]]'s assignment to compose
    * the full thing). */
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    pqAdcSearch(t, pqCodebook(spark, t))
  }

  /** Corpus → (vec_id, code_0..code_M-1): per-subspace argmin codeword
    * (dist² = xx − 2·xc + cc, first-index ties) — the encode pass shared
    * by inline ADC search and the persisted-code path. */
  private def pqEncode(t: Tables, cb: Array[Array[Array[Float]]]): DataFrame = {
    def codeCol(m: Int): Column = {
      val x = sub(col("embedding"), m)
      val dists = array(cb(m).map { cw =>
        val c = typedlit(cw)
        VectorExpressions.dot(x, x) - lit(2.0) * VectorExpressions.dot(x, c) +
          VectorExpressions.dot(c, c)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int").as(s"code_$m")
    }
    t.embeddings.select(col("vec_id") +: (0 until PqM).map(codeCol): _*)
  }

  /** The flat-PQ ADC search body, parameterized by the codebook (seed
    * slices or Lloyd-refined) — the code path is identical, only the
    * codeword literals change. */
  private def pqAdcSearch(t: Tables, cb: Array[Array[Array[Float]]])
                         (implicit spark: SparkSession): DataFrame =
    pqAdcFromCodes(t, cb, pqEncode(t, cb))

  /** ADC search over an ALREADY-ENCODED corpus: the scan side is the
    * (vec_id, code_*) table — persisted once, 32× smaller than the float
    * corpus — and raw embeddings are touched only by the bounded probe
    * set (LUT build) and the per-probe shortlist (exact re-rank). */
  private def pqAdcFromCodes(t: Tables, cb: Array[Array[Array[Float]]],
                             codes: DataFrame)
                            (implicit spark: SparkSession): DataFrame = {
    // probes → ADC lookup tables: lut_m[cid] = dot(q_m, codeword)
    def lutCol(m: Int): Column =
      array(cb(m).map(cw => VectorExpressions.dot(sub(col("embedding"), m), typedlit(cw))): _*)
        .as(s"lut_$m")
    val probes = t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("probe_id") +: (0 until PqM).map(lutCol): _*)

    val approx = codes
      .crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round((0 until PqM).map(m =>
            element_at(col(s"lut_$m"), col(s"code_$m") + 1))
          .reduce(_ + _), 6).as("approx"))
    val shortlist = TopK.perKeyExec(approx, "probe_id", "approx", "vec_id", PqShortlist)
      .select("probe_id", "vec_id")

    // exact cosine re-rank on the shortlist only
    val corpus = t.embeddings.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("c_norm"))
    val pEmb = t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("p_norm"))
    val exact = corpus
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(pEmb), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
    TopK.perKeyExec(exact, "probe_id", "cos", "vec_id", TopKK)
  }

  /** §8d(n) — one Lloyd step on the PQ codebook itself: every corpus
    * subvector is assigned to its nearest SEED codeword (the same argmin
    * as encoding), then each (subspace, codeword) is recentered to the
    * quantized-integer mean of its assigned subvectors — the same
    * bit-reproducible grid discipline as the coarse quantizer
    * ([[trainRefinedCentroids]]). Codewords that attract no subvectors
    * keep their seed values (both engines apply the same fallback).
    * Distributed shape: assignment is map-side; only M×K×subdim integer
    * sums reach the driver. */
  private[operators] def trainPqCodebook(spark: SparkSession, dir: String): Array[Array[Array[Float]]] = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cb0 = pqCodebook(spark, t)
    def codeCol(m: Int): Column = {
      val x = sub(col("embedding"), m)
      val dists = array(cb0(m).map { cw =>
        val c = typedlit(cw)
        VectorExpressions.dot(x, x) - lit(2.0) * VectorExpressions.dot(x, c) +
          VectorExpressions.dot(c, c)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int").as(s"code_$m")
    }
    val enc = t.embeddings.select(col("embedding") +: (0 until PqM).map(codeCol): _*)
    val sums = enc
      .select(explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), col(s"code_$m").as("cid"),
          sub(col("embedding"), m).as("sv"))): _*)).as("e"))
      .select(col("e.m").as("m"), col("e.cid").as("cid"),
        posexplode(col("e.sv")).as(Seq("pos", "v")))
      .select(col("m"), col("cid"), col("pos"),
        round(col("v").cast("double") * QuantScale, 0).cast("long").as("q"))
      .groupBy(col("m"), col("cid"), col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .collect() // bounded: M × K × subdim rows

    val refined = cb0.map(_.map(_.clone()))
    sums.map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .groupBy(t3 => (t3._1, t3._2))
      .foreach { case ((m, cid), rows) =>
        val vec = refined(m)(cid)
        rows.foreach { case (_, _, pos, sTot, n) =>
          vec(pos) = (sTot.toDouble / (n * QuantScale).toDouble).toFloat
        }
      }
    refined
  }

  /** §8d(n) — flat-PQ ADC search over the TRAINED codebook: recentered
    * codewords cut per-subspace quantization error vs raw seed slices, so
    * the ADC shortlist ranks closer to true cosine order and recall per
    * scanned byte improves with zero change to the search path (same
    * plan, different literals). */
  def pqTrainedTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    pqAdcSearch(Tables(dir), trainPqCodebook(spark, dir))
  }

  /** §30d — IVF-PQ: the FAISS-style composition of the two scale
    * mechanisms. IVF restricts WHICH vectors each probe scores (nprobe
    * nearest centroid buckets — [[ivfSearch]]'s assignment, same seeds,
    * same tie rule); PQ restricts WHAT moves per scored vector (8 codes,
    * ADC lookups — [[pqAdcTopK]]'s codebook). The ADC scan therefore
    * touches only the probed buckets' code rows; the exact re-rank pass
    * touches only the per-probe shortlist. At 100 TB: bucket pruning
    * cuts the scan ~NCentroids/nprobe-fold, codes cut the scanned bytes
    * 32-fold, and the full-precision corpus is read only for shortlist
    * rows (a semi-join against a bounded candidate set). */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    ivfPqSearch(t, centroids(spark, t).toSeq.map(_._2), pqCodebook(spark, t))
  }

  /** The IVF-PQ search body, parameterized by centroid set + codebook so it
    * runs identically against seed artifacts ([[ivfPqTopK]]), freshly
    * trained ones ([[ivfPqTrainedTopK]]), or a persisted index
    * ([[ivfPqTopKFrom]]). */
  /** Corpus → (vec_id, cluster, code_0..M-1): IVF cluster assignment + PQ
    * codes in ONE map-side pass — shared by the inline search and the
    * persisted-corpus path. */
  /** Encode an arbitrary embedding frame with a PERSISTED index recipe —
    * the serving-side codepath and the incremental-maintenance one: new
    * vectors are coded with the frozen centroids/codebook, never
    * triggering a retrain. */
  def encodeWithIndex(spark: SparkSession, emb: DataFrame, indexPath: String): DataFrame = {
    VectorExpressions.register(spark)
    ivfPqEncodeDf(emb,
      readCentroids(spark, s"$indexPath/centroids"),
      readCodebook(spark, s"$indexPath/codebook"))
  }

  /** Incremental index maintenance: encode ONLY the new batch with the
    * persisted recipe and APPEND to the codes table — no retrain, no
    * archive re-encode. Because the encode is deterministic (distance
    * argmin with fixed tie-break), append-of-batches equals a full
    * re-encode row-for-row (spec-proven), so an ever-growing 100 TB
    * corpus pays exactly one encode per vector, ever. */
  def appendToIvfPqIndex(spark: SparkSession, newEmb: DataFrame, indexPath: String): Unit =
    encodeWithIndex(spark, newEmb, indexPath)
      .write.mode("append").parquet(s"$indexPath/codes")

  private def ivfPqEncode(t: Tables, cents: Seq[Array[Float]],
                          cb: Array[Array[Array[Float]]]): DataFrame =
    ivfPqEncodeDf(t.embeddings, cents, cb)

  private def ivfPqEncodeDf(emb: DataFrame, cents: Seq[Array[Float]],
                            cb: Array[Array[Array[Float]]]): DataFrame = {
    def codeCol(m: Int): Column = {
      val x = sub(col("embedding"), m)
      val dists = array(cb(m).map { cw =>
        val c = typedlit(cw)
        VectorExpressions.dot(x, x) - lit(2.0) * VectorExpressions.dot(x, c) +
          VectorExpressions.dot(c, c)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int").as(s"code_$m")
    }
    assignNearest(emb, cents).select(
      Seq(col("vec_id"), col("cluster")) ++
        (0 until PqM).map(codeCol): _*)
  }

  private def ivfPqSearch(t: Tables, cents: Seq[Array[Float]],
                          cb: Array[Array[Array[Float]]])
                         (implicit spark: SparkSession): DataFrame =
    ivfPqSearchCoded(t, cents, cb, ivfPqEncode(t, cents, cb))

  /** The IVF-PQ search body over an ALREADY-ENCODED corpus: the scan side
    * is the (vec_id, cluster, code_*) table; raw embeddings are touched
    * only by the bounded probe set and the exact re-rank shortlist. */
  private def ivfPqSearchCoded(t: Tables, cents: Seq[Array[Float]],
                               cb: Array[Array[Array[Float]]], coded: DataFrame)
                              (implicit spark: SparkSession): DataFrame = {
    // probes: nprobe buckets + ADC LUTs in one pass
    def lutCol(m: Int): Column =
      array(cb(m).map(cw => VectorExpressions.dot(sub(col("embedding"), m), typedlit(cw))): _*)
        .as(s"lut_$m")
    val probes = t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .withColumn("top_c", probeTopC(cents))
      .select(Seq(col("vec_id").as("probe_id"),
        explode(expr("transform(top_c, x -> x.idx)")).as("cluster")) ++
        (0 until PqM).map(lutCol): _*)

    // ADC only inside the probed buckets (co-partitioned on cluster)
    val approx = coded
      .join(broadcast(probes), Seq("cluster"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round((0 until PqM).map(m =>
            element_at(col(s"lut_$m"), col(s"code_$m") + 1))
          .reduce(_ + _), 6).as("approx"))
    val shortlist = TopK.perKeyExec(approx, "probe_id", "approx", "vec_id", PqShortlist)
      .select("probe_id", "vec_id")

    val corpus = t.embeddings.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("c_norm"))
    val pEmb = t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("p_norm"))
    val exact = corpus
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(pEmb), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
    TopK.perKeyExec(exact, "probe_id", "cos", "vec_id", TopKK)
  }

  /** §8c(j) — IVF-PQ with TRAINED partitioning: the Lloyd-refined centroids
    * ([[trainRefinedCentroids]], quantized-integer means — bit-reproducible
    * in the oracle) drive the bucket assignment, the PQ codebook drives the
    * ADC scan. Refined centroids fit the corpus's actual density, so the
    * nprobe buckets a probe scans contain more of its true neighbors than
    * the raw seed partition gives — recall per scanned byte improves with
    * NO change to the search path. This is the composition FAISS calls
    * IVFx,PQy with a trained coarse quantizer. */
  def ivfPqTrainedTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    ivfPqSearch(t, trainRefinedCentroids(spark, dir), pqCodebook(spark, t))
  }

  /** Train once, persist the FULL index recipe: `<path>/centroids` as
    * (cluster, embedding) — the Lloyd-refined coarse quantizer — and
    * `<path>/codebook` as (m, cid, codeword). At 100 TB the training pass
    * is the expensive step; every later search reads two tiny parquet
    * tables (ncentroids + m·k rows) instead of re-deriving them, and both
    * artifacts stay queryable/joinable like any dataset. */
  def trainIvfPq(spark: SparkSession, dir: String, indexPath: String): Unit = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    trainRefinedCentroids(spark, dir).zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("cluster", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
    val t = Tables(dir)
    pqCodebook(spark, t).zipWithIndex.flatMap { case (cws, m) =>
      cws.zipWithIndex.map { case (cw, cid) => (m, cid, cw) }
    }.toSeq.toDF("m", "cid", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebook")
  }

  /** Read back a persisted (m, cid, codeword) codebook table. */
  private[graft] def readCodebook(spark: SparkSession, path: String): Array[Array[Array[Float]]] = {
    import spark.implicits._
    graft.sources.Tables.relationAt(spark, path)
      .orderBy("m", "cid").as[(Int, Int, Array[Float])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }.toArray
  }

  /** Search a persisted IVF-PQ index — no training or seeding pass touches
    * the corpus; only the two bounded index tables are collected. */
  /** Read back a persisted (cluster, embedding) centroid table. */
  private[graft] def readCentroids(spark: SparkSession, path: String): Seq[Array[Float]] = {
    import spark.implicits._
    graft.sources.Tables.relationAt(spark, path)
      .orderBy("cluster").as[(Int, Array[Float])].collect().map(_._2).toSeq
  }

  def ivfPqTopKFrom(spark: SparkSession, dir: String, indexPath: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    ivfPqSearch(Tables(dir), readCentroids(spark, s"$indexPath/centroids"),
      readCodebook(spark, s"$indexPath/codebook"))
  }

  /** [[trainIvfPq]]'s recipe PLUS the encoded corpus: `<path>/codes` holds
    * (vec_id, cluster, code_0..M-1) — the IVF-PQ analogue of
    * [[persistPqCorpus]]. At 100 TB the encode is one map-only pass; every
    * later search scans the ~32×-smaller coded table and never touches the
    * float corpus outside the probe set and the re-rank shortlist. */
  def persistIvfPqCorpus(spark: SparkSession, dir: String, indexPath: String): Unit = {
    implicit val s: SparkSession = spark
    trainIvfPq(spark, dir, indexPath)
    val cents = readCentroids(spark, s"$indexPath/centroids")
    val cb = readCodebook(spark, s"$indexPath/codebook")
    ivfPqEncode(Tables(dir), cents, cb).write.mode("overwrite").parquet(s"$indexPath/codes")
  }

  // ------------------------------------------- persisted PQ code corpus

  /** §8f(y) — persist the PQ-ENCODED CORPUS itself, not just the recipe:
    * `<path>/codebook` as (m, cid, codeword) — tiny, coalesced — and
    * `<path>/codes` as (vec_id, code_0..code_M-1) — corpus-sized, so it
    * KEEPS its partitioning (one file per input partition; at 100 TB the
    * encode is one map-only pass writing ~3 TB of codes, and every later
    * ANN query scans codes instead of re-encoding 100 TB of floats).
    * Codes stay a queryable table: joinable, compactable, zone-mappable
    * like any other dataset. */
  def persistPqCorpus(spark: SparkSession, dir: String, indexPath: String): Unit = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    import spark.implicits._
    val t = Tables(dir)
    val cb = pqCodebook(spark, t)
    cb.zipWithIndex.flatMap { case (cws, m) =>
      cws.zipWithIndex.map { case (cw, cid) => (m, cid, cw) }
    }.toSeq.toDF("m", "cid", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebook")
    pqEncode(t, cb).write.mode("overwrite").parquet(s"$indexPath/codes")
  }

  /** ADC top-k served from a persisted code corpus: the encode pass is
    * GONE from the query — the scan side reads the code table, raw
    * embeddings are read only for the probe set and the exact re-rank
    * shortlist. Identical results to [[pqAdcTopK]] by construction (same
    * codebook, same encode rule, persisted vs inline). */
  def pqAdcTopKFrom(spark: SparkSession, dir: String, indexPath: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    pqAdcFromCodes(Tables(dir), readCodebook(spark, s"$indexPath/codebook"),
      spark.read.parquet(s"$indexPath/codes"))
  }

  /** §8f(y) registered query — the full write-once/serve cycle: encode +
    * persist the code corpus into a per-sf scratch path, then answer from
    * the persisted codes. The encode pass is gated by the [[Stage]]
    * content signature (embeddings.parquet size+mtime), so a repeated
    * execution — the bench's min-of-N, a dashboard's refresh — pays ONLY
    * the serving scan: exactly the encode-once economics the design
    * claims at 100 TB. Oracle: identical to [[pqAdcTopK]]'s SQL —
    * persistence must not change a single row. */
  def pqServedTopK(spark: SparkSession, dir: String): DataFrame = {
    pqAdcTopKFrom(spark, dir,
      Stage.path("pq_corpus", dir, "embeddings")(persistPqCorpus(spark, dir, _)))
  }

  /** [[persistIvfPqCorpus]] with the code corpus laid out
    * PARTITIONED BY cluster: each IVF bucket is its own directory, so a
    * search that probes nprobe buckets prunes every other bucket's FILES
    * at the scan — bucket pruning becomes partition pruning. At 100 TB
    * this is the difference between scanning 3 TB of codes and scanning
    * nprobe/ncentroids of them. */
  def persistIvfPqCorpusPartitioned(spark: SparkSession, dir: String, indexPath: String): Unit = {
    implicit val s: SparkSession = spark
    trainIvfPq(spark, dir, indexPath)
    val cents = readCentroids(spark, s"$indexPath/centroids")
    val cb = readCodebook(spark, s"$indexPath/codebook")
    ivfPqEncode(Tables(dir), cents, cb)
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$indexPath/codes")
  }

  /** The distinct IVF buckets the probe set will scan — bounded by
    * |probes| × nprobe, collected to drive partition pruning. */
  private def probeClusters(t: Tables, cents: Seq[Array[Float]]): Seq[Int] = {
    t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .withColumn("top_c", probeTopC(cents))
      .select(explode(expr("transform(top_c, x -> x.idx)")).as("cluster"))
      .distinct().collect().map(_.getInt(0)).toSeq
  }

  /** §r05b — IVF-PQ served from the cluster-PARTITIONED code corpus with
    * the probe set's bucket list pushed into the scan as a partition
    * filter: only the probed buckets' files are read (spec asserts the
    * pruned PartitionCount). The `isin` prefilter is semantically a
    * no-op — the search's cluster join already restricts to probed
    * buckets — but it is the version the SCAN can see. Same oracle as
    * [[ivfPqTrainedTopK]]: layout must not change a row. */
  def ivfPqPrunedTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val indexPath =
      Stage.path("ivfpq_part", dir, "embeddings")(persistIvfPqCorpusPartitioned(spark, dir, _))
    val t = Tables(dir)
    val cents = readCentroids(spark, s"$indexPath/centroids")
    val cb = readCodebook(spark, s"$indexPath/codebook")
    val wanted = probeClusters(t, cents)
    val coded = spark.read.parquet(s"$indexPath/codes")
      .where(col("cluster").isin(wanted: _*))
    ivfPqSearchCoded(t, cents, cb, coded)
  }

  /** §r05(7) registered query — IVF-PQ served from the FULLY persisted
    * index: [[persistIvfPqCorpus]] (Lloyd-refined centroids + PQ codebook
    * + encoded corpus) runs once per corpus state behind the [[Stage]]
    * signature gate; every later execution reads the two tiny recipe
    * tables and scans the coded corpus — no training pass, no encode
    * pass. Oracle: identical to [[ivfPqTrainedTopK]]'s SQL — serving from
    * the persisted index must reproduce the trained search row-for-row. */
  def ivfPqServedTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val indexPath = ivfPqServedIndex(spark, dir)
    ivfPqSearchCoded(Tables(dir),
      readCentroids(spark, s"$indexPath/centroids"),
      readCodebook(spark, s"$indexPath/codebook"),
      spark.read.parquet(s"$indexPath/codes"))
  }

  /** Ensure the full IVF-PQ index (centroids + codebook + coded corpus)
    * is persisted for `dir` and return its path — the Stage-gated
    * train/encode-once entry of the served query. */
  private def ivfPqServedIndex(spark: SparkSession, dir: String): String =
    Stage.path("ivfpq_idx", dir, "embeddings")(persistIvfPqCorpus(spark, dir, _))

  private val ivfPqSql = {
    val encs = (0 until PqM).map(pqEncDuck).mkString("\n  UNION ALL\n  ")
    val lutSum = (0 until PqM)
      .map(m => s"${pqDotDuckFull("p.embedding", s"w$m.embedding", m)}")
      .mkString("(", " + ", ")")
    val codeJoins = (0 until PqM)
      .map(m => s"JOIN codes c$m ON c$m.vec_id = x.vec_id AND c$m.m = $m\n  JOIN cw w$m ON w$m.cid = c$m.cid")
      .mkString("\n  ")
    s"""WITH cw AS (
       |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < $PqK),
       |cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |cluster AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign) x WHERE rn = 1),
       |probe_assign AS (
       |  SELECT vec_id AS probe_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign WHERE vec_id % $ProbeMod = 0) x WHERE rn <= $NProbeBuckets),
       |enc AS (
       |  $encs),
       |codes AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
       |    FROM enc) z WHERE rn = 1),
       |adc AS (
       |  SELECT pa.probe_id, x.vec_id, ROUND($lutSum, 6) AS approx
       |  FROM probe_assign pa
       |  JOIN cluster cl ON cl.cluster = pa.cluster
       |  JOIN embeddings x ON x.vec_id = cl.vec_id
       |  JOIN embeddings p ON p.vec_id = pa.probe_id
       |  $codeJoins
       |  WHERE x.vec_id <> pa.probe_id),
       |shortlist AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY approx DESC, vec_id) AS rn
       |    FROM adc) z WHERE rn <= $PqShortlist),
       |exact AS (
       |  SELECT probe_id, s.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings p ON p.vec_id = s.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM exact)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin
  }

  /** Trained-coarse-quantizer IVF-PQ oracle: the Lloyd-refinement CTEs
    * (cents0→cents1, quantized-integer means — same grid as
    * [[trainRefinedCentroids]]) feed the same enc/codes/adc/shortlist/exact
    * pipeline as [[ivfPqSql]], with cluster assignment taken against the
    * REFINED centroids. */
  private val ivfPqTrainedSql = {
    val encs = (0 until PqM).map(pqEncDuck).mkString("\n  UNION ALL\n  ")
    val lutSum = (0 until PqM)
      .map(m => s"${pqDotDuckFull("p.embedding", s"w$m.embedding", m)}")
      .mkString("(", " + ", ")")
    val codeJoins = (0 until PqM)
      .map(m => s"JOIN codes c$m ON c$m.vec_id = x.vec_id AND c$m.m = $m\n  JOIN cw w$m ON w$m.cid = c$m.cid")
      .mkString("\n  ")
    s"""WITH cw AS (
       |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < $PqK),
       |cents0 AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign0 AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents0),
       |cluster0 AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign0) x WHERE rn = 1),
       |qsum AS (
       |  SELECT c0.cluster, t.i,
       |    CAST(SUM(CAST(ROUND(CAST(e.embedding[t.i] AS DOUBLE) * $QuantScale, 0) AS BIGINT)) AS DOUBLE) AS s,
       |    COUNT(*) AS n
       |  FROM embeddings e JOIN cluster0 c0 USING (vec_id) CROSS JOIN range(1, $Dim + 1) t(i)
       |  GROUP BY c0.cluster, t.i),
       |cents1 AS (
       |  SELECT p.cid, COALESCE(r.c, p.c) AS c
       |  FROM cents0 p LEFT JOIN (
       |    SELECT cluster AS cid, list(CAST(s / (n * $QuantScale.0) AS REAL) ORDER BY i) AS c
       |    FROM qsum GROUP BY cluster) r ON r.cid = p.cid),
       |assign1 AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents1),
       |cluster1 AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign1) x WHERE rn = 1),
       |probe1 AS (
       |  SELECT vec_id AS probe_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign1 WHERE vec_id % $ProbeMod = 0) x WHERE rn <= $NProbeBuckets),
       |enc AS (
       |  $encs),
       |codes AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
       |    FROM enc) z WHERE rn = 1),
       |adc AS (
       |  SELECT pa.probe_id, x.vec_id, ROUND($lutSum, 6) AS approx
       |  FROM probe1 pa
       |  JOIN cluster1 cl ON cl.cluster = pa.cluster
       |  JOIN embeddings x ON x.vec_id = cl.vec_id
       |  JOIN embeddings p ON p.vec_id = pa.probe_id
       |  $codeJoins
       |  WHERE x.vec_id <> pa.probe_id),
       |shortlist AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY approx DESC, vec_id) AS rn
       |    FROM adc) z WHERE rn <= $PqShortlist),
       |exact AS (
       |  SELECT probe_id, s.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings p ON p.vec_id = s.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM exact)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin
  }

  /** Left-assoc subspace dot mirror (1-based, m fixed). */
  private def pqDotDuck(a: String, b: String, m: Int): String =
    (1 to PqSubDim).map { i =>
      s"CAST($a[${m * PqSubDim + i}] AS DOUBLE) * CAST($b[$i] AS DOUBLE)"
    }.mkString("(", " + ", ")")

  /** Same with BOTH arrays sliced by m (codeword stored full-width). */
  private def pqDotDuckFull(a: String, b: String, m: Int): String =
    (1 to PqSubDim).map { i =>
      s"CAST($a[${m * PqSubDim + i}] AS DOUBLE) * CAST($b[${m * PqSubDim + i}] AS DOUBLE)"
    }.mkString("(", " + ", ")")

  /** Subvector dot with BOTH arrays 1-based subvector-width. */
  private def pqDotDuckSub(a: String, b: String): String =
    (1 to PqSubDim).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString("(", " + ", ")")

  private def pqEncDuck(m: Int): String =
    s"""SELECT e.vec_id, $m AS m, cid,
       |    (${pqDotDuckFull("e.embedding", "e.embedding", m)}
       |     - 2.0 * ${pqDotDuckFull("e.embedding", "w.embedding", m)}
       |     + ${pqDotDuckFull("w.embedding", "w.embedding", m)}) AS d2
       |  FROM embeddings e CROSS JOIN cw w""".stripMargin

  private val pqAdcSql = {
    val encs = (0 until PqM).map(pqEncDuck).mkString("\n  UNION ALL\n  ")
    val lutSum = (0 until PqM)
      .map(m => s"${pqDotDuckFull("p.embedding", s"w$m.embedding", m)}")
      .mkString("(", " + ", ")")
    val codeJoins = (0 until PqM)
      .map(m => s"JOIN codes c$m ON c$m.vec_id = x.vec_id AND c$m.m = $m\n  JOIN cw w$m ON w$m.cid = c$m.cid")
      .mkString("\n  ")
    s"""WITH cw AS (
       |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < $PqK),
       |enc AS (
       |  $encs),
       |codes AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
       |    FROM enc) z WHERE rn = 1),
       |adc AS (
       |  SELECT pr.vec_id AS probe_id, x.vec_id, ROUND($lutSum, 6) AS approx
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % $ProbeMod = 0) pr
       |  JOIN embeddings p ON p.vec_id = pr.vec_id
       |  CROSS JOIN embeddings x
       |  $codeJoins
       |  WHERE x.vec_id <> pr.vec_id),
       |shortlist AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY approx DESC, vec_id) AS rn
       |    FROM adc) z WHERE rn <= $PqShortlist),
       |exact AS (
       |  SELECT probe_id, s.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings p ON p.vec_id = s.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM exact)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin
  }

  /** Trained-codebook PQ oracle: seed encode (enc/codes), quantized-mean
    * recenter with seed fallback (cwr/cwseed/cw1), re-encode against the
    * refined codewords (enc1/codes1), then the standard ADC → shortlist →
    * exact re-rank chain. */
  private val pqTrainedSql = {
    val encs = (0 until PqM).map(pqEncDuck).mkString("\n  UNION ALL\n  ")
    val enc1s = (0 until PqM).map { m =>
      s"""SELECT e.vec_id, $m AS m, w.cid,
         |    (${pqDotDuckFull("e.embedding", "e.embedding", m)}
         |     - 2.0 * ${pqDotDuck("e.embedding", "w.c", m)}
         |     + ${pqDotDuckSub("w.c", "w.c")}) AS d2
         |  FROM embeddings e CROSS JOIN (SELECT cid, c FROM cw1 WHERE m = $m) w""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val lutSum = (0 until PqM)
      .map(m => s"${pqDotDuck("p.embedding", s"w$m.c", m)}")
      .mkString("(", " + ", ")")
    val codeJoins = (0 until PqM)
      .map(m => s"JOIN codes1 c$m ON c$m.vec_id = x.vec_id AND c$m.m = $m\n  JOIN cw1 w$m ON w$m.m = $m AND w$m.cid = c$m.cid")
      .mkString("\n  ")
    s"""WITH cw AS (
       |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < $PqK),
       |enc AS (
       |  $encs),
       |codes AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
       |    FROM enc) z WHERE rn = 1),
       |qsub AS (
       |  SELECT c.m, c.cid, t.i,
       |    CAST(SUM(CAST(ROUND(CAST(e.embedding[c.m * $PqSubDim + t.i] AS DOUBLE) * $QuantScale, 0) AS BIGINT)) AS DOUBLE) AS s,
       |    COUNT(*) AS n
       |  FROM codes c JOIN embeddings e ON e.vec_id = c.vec_id
       |  CROSS JOIN range(1, ${PqSubDim + 1}) t(i)
       |  GROUP BY c.m, c.cid, t.i),
       |cwr AS (
       |  SELECT m, cid, list(CAST(s / (n * $QuantScale.0) AS REAL) ORDER BY i) AS c
       |  FROM qsub GROUP BY m, cid),
       |cwseed AS (
       |  SELECT t.m, vec_id AS cid, embedding[(t.m * $PqSubDim + 1):(t.m * $PqSubDim + $PqSubDim)] AS c
       |  FROM embeddings CROSS JOIN range(0, $PqM) t(m) WHERE vec_id < $PqK),
       |cw1 AS (
       |  SELECT sd.m, sd.cid, COALESCE(r.c, sd.c) AS c
       |  FROM cwseed sd LEFT JOIN cwr r ON r.m = sd.m AND r.cid = sd.cid),
       |enc1 AS (
       |  $enc1s),
       |codes1 AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
       |    FROM enc1) z WHERE rn = 1),
       |adc AS (
       |  SELECT pr.vec_id AS probe_id, x.vec_id, ROUND($lutSum, 6) AS approx
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % $ProbeMod = 0) pr
       |  JOIN embeddings p ON p.vec_id = pr.vec_id
       |  CROSS JOIN embeddings x
       |  $codeJoins
       |  WHERE x.vec_id <> pr.vec_id),
       |shortlist AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY approx DESC, vec_id) AS rn
       |    FROM adc) z WHERE rn <= $PqShortlist),
       |exact AS (
       |  SELECT probe_id, s.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings p ON p.vec_id = s.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM exact)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin
  }

  // --------------------------------------- scalar quantization (int8)

  private val SqShortlist = 100

  /** Int8 scalar-quantized ANN — the 4× compression point between raw
    * floats and PQ's 32×: per-dimension maxabs scales fit in one
    * distributed pass (only Dim rows reach the driver), the corpus
    * quantizes to [-127, 127] bigints map-side, and the scan-side proxy
    * score is an INTEGER dot product — exact, no float summation drift,
    * so shortlist membership is engine-identical by construction (PQ's
    * float ADC needs a rounding convention; this needs none). Exact
    * cosine re-rank on the bounded shortlist, as everywhere in the
    * family. */
  def sqTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // fit pass: per-dim maxabs scales (bounded: Dim rows to the driver)
    val scales: Seq[Double] = t.embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(max(abs(col("v"))).as("m"))
      .collect().sortBy(_.getInt(0))
      .map(r => { val m = r.getFloat(1).toDouble; if (m == 0.0) 1.0 else m }).toSeq
    def quant(c: Column): Column =
      zip_with(c, typedlit(scales), (v, m) => round(v.cast("double") * lit(127.0) / m, 0).cast("long"))
    val corpusQ = t.embeddings.select(col("vec_id"), quant(col("embedding")).as("cq"))
    val probesQ = t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("probe_id"), quant(col("embedding")).as("pq"))
    val approx = corpusQ.crossJoin(broadcast(probesQ))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        aggregate(zip_with(col("cq"), col("pq"), _ * _), lit(0L), _ + _)
          .cast("double").as("qdot"))
    val shortlist = TopK.perKeyExec(approx, "probe_id", "qdot", "vec_id", SqShortlist)
      .select("probe_id", "vec_id")
    val corpus = t.embeddings.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("c_norm"))
    val pEmb = t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("p_norm"))
    val exact = corpus
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(pEmb), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
    TopK.perKeyExec(exact, "probe_id", "cos", "vec_id", TopKK)
  }

  private val sqSql =
    s"""WITH dims AS (
       |  SELECT t.i AS pos, MAX(ABS(CAST(embedding[t.i] AS DOUBLE))) AS m
       |  FROM embeddings, UNNEST(generate_series(1, $Dim)) AS t(i)
       |  GROUP BY t.i),
       |sc AS (
       |  SELECT list(CASE WHEN m = 0 THEN 1.0 ELSE m END ORDER BY pos) AS s FROM dims),
       |cq AS (
       |  SELECT vec_id, list_transform(generate_series(1, $Dim),
       |    i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 127.0 / s[i], 0) AS BIGINT)) AS q
       |  FROM embeddings, sc),
       |pq AS (SELECT vec_id AS probe_id, q FROM cq WHERE vec_id % $ProbeMod = 0),
       |adc AS (
       |  SELECT probe_id, c.vec_id,
       |    list_sum(list_transform(generate_series(1, $Dim), i -> c.q[i] * p.q[i])) AS qdot
       |  FROM cq c CROSS JOIN pq p WHERE c.vec_id <> probe_id),
       |shortlist AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rn
       |    FROM adc) z WHERE rn <= $SqShortlist),
       |exact AS (
       |  SELECT probe_id, s.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings p ON p.vec_id = s.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM exact)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin

  /** IVF front over the int8 scan — the pruned serving regime for SQ
    * (SURVEY §8i(ap), closing the one super-linear row in the sf1
    * table): corpus vectors quantize once and assign to their nearest
    * coarse centroid map-side; each probe scans only its nprobe buckets,
    * so the integer-ADC candidate set is the PRUNED fraction of the
    * corpus instead of all of it — the same bucket economics as IVF-PQ,
    * with SQ's exact integer proxy inside the bucket. */
  def ivfSqTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cents = centroids(spark, t).toSeq.map(_._2)
    val scales: Seq[Double] = t.embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(max(abs(col("v"))).as("m"))
      .collect().sortBy(_.getInt(0))
      .map(r => { val m = r.getFloat(1).toDouble; if (m == 0.0) 1.0 else m }).toSeq
    def quant(c: Column): Column =
      zip_with(c, typedlit(scales), (v, m) => round(v.cast("double") * lit(127.0) / m, 0).cast("long"))
    val corpusQ = assignNearest(t.embeddings, cents)
      .select(col("vec_id"), quant(col("embedding")).as("cq"), col("cluster"))
    val probes = t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .withColumn("top_c", probeTopC(cents))
      .select(col("vec_id").as("probe_id"), quant(col("embedding")).as("pq2"),
        explode(expr("transform(top_c, x -> x.idx)")).as("cluster"))
    val approx = corpusQ.join(broadcast(probes), Seq("cluster"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        aggregate(zip_with(col("cq"), col("pq2"), _ * _), lit(0L), _ + _)
          .cast("double").as("qdot"))
    val shortlist = TopK.perKeyExec(approx, "probe_id", "qdot", "vec_id", SqShortlist)
      .select("probe_id", "vec_id")
    val corpus = t.embeddings.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("c_norm"))
    val pEmb = t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("p_norm"))
    val exact = corpus
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(pEmb), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
    TopK.perKeyExec(exact, "probe_id", "cos", "vec_id", TopKK)
  }

  private val ivfSqSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |cluster AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign) x WHERE rn = 1),
       |probe_assign AS (
       |  SELECT vec_id AS probe_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign WHERE vec_id % $ProbeMod = 0) x WHERE rn <= $NProbeBuckets),
       |dims AS (
       |  SELECT t.i AS pos, MAX(ABS(CAST(embedding[t.i] AS DOUBLE))) AS m
       |  FROM embeddings, UNNEST(generate_series(1, $Dim)) AS t(i)
       |  GROUP BY t.i),
       |sc AS (
       |  SELECT list(CASE WHEN m = 0 THEN 1.0 ELSE m END ORDER BY pos) AS s FROM dims),
       |cq AS (
       |  SELECT vec_id, list_transform(generate_series(1, $Dim),
       |    i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 127.0 / s[i], 0) AS BIGINT)) AS q
       |  FROM embeddings, sc),
       |adc AS (
       |  SELECT pa.probe_id, cl.vec_id,
       |    list_sum(list_transform(generate_series(1, $Dim), i -> c.q[i] * p.q[i])) AS qdot
       |  FROM probe_assign pa
       |  JOIN cluster cl ON cl.cluster = pa.cluster
       |  JOIN cq c ON c.vec_id = cl.vec_id
       |  JOIN cq p ON p.vec_id = pa.probe_id
       |  WHERE cl.vec_id <> pa.probe_id),
       |shortlist AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rn
       |    FROM adc) z WHERE rn <= $SqShortlist),
       |exact AS (
       |  SELECT probe_id, s.vec_id, ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings p ON p.vec_id = s.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM exact)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin

  /** §8t(du) — embedding-slice centroid drift audit (the pre-training QA
    * check before mixing corpus slices: a slice whose centroid points
    * away from the corpus centroid is a different DISTRIBUTION — wrong
    * encoder version, language skew, corrupt batch — and mixing it
    * silently shifts the training geometry; per slice (= label here) the
    * centroid-vs-global-centroid cosine plus the mean squared norm, the
    * two cheapest distribution fingerprints). Exact lane: coordinates
    * µ-quantize once (ROUND ×10⁶, the SQ admission), per-(slice, coord)
    * sums are exact integers, and since cosine is scale-invariant the
    * INTEGER SUM VECTORS stand in for the centroids — dot and norms are
    * exact DECIMAL/HUGEINT folds with ONE float chain (÷√·÷√) at the
    * end, round-6.
    *
    * Scale: one explode pass (|vecs|·Dim rows, map-side partial agg)
    * into |slices|×Dim cells; everything downstream runs on the cell
    * table with the Dim-row global vector broadcast. */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ex = Tables(dir).embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("label"), col("i"),
        expr("CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("xu"))
    // consumed by the per-slice fold AND the global-vector fold — persist
    val cells = graft.operators.Cached.track(ex
      .groupBy("label", "i")
      .agg(sum(expr("CAST(xu AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(xu AS DECIMAL(38,0)) * xu")).as("s2"))
      .persist(MEMORY_AND_DISK))
    val g = cells.groupBy("i").agg(sum(col("s")).as("g"))
    val gn = g.agg(sum(expr("g * g")).as("normg"))
    val labs = Tables(dir).embeddings.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    cells.join(broadcast(g), Seq("i"))
      .groupBy("label")
      .agg(sum(expr("s * g")).as("dot"),
        sum(expr("s * s")).as("norml"),
        sum(col("s2")).as("ssq"))
      .join(broadcast(labs), Seq("label"))
      .crossJoin(broadcast(gn))
      .select(col("label"), col("n_vecs"),
        expr("round(CAST(dot AS DOUBLE) / sqrt(CAST(norml AS DOUBLE)) / sqrt(CAST(normg AS DOUBLE)), 6)")
          .as("centroid_cos"),
        expr("round(CAST(ssq AS DOUBLE) / n_vecs / 1e12, 6)").as("mean_sq_norm"))
      .withColumn("drifted", col("centroid_cos") < 0.98)
  }

  private val centroidDriftSql =
    s"""WITH ex AS (
       |  SELECT label, t.i AS i,
       |    CAST(ROUND(CAST(embedding[t.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS xu
       |  FROM embeddings, UNNEST(generate_series(1, $Dim)) AS t(i)),
       |cells AS (
       |  SELECT label, i, SUM(CAST(xu AS HUGEINT)) AS s,
       |    SUM(CAST(xu AS HUGEINT) * xu) AS s2
       |  FROM ex GROUP BY 1, 2),
       |g AS (SELECT i, SUM(s) AS g FROM cells GROUP BY 1),
       |gn AS (SELECT SUM(g * g) AS normg FROM g),
       |labs AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY 1),
       |agg AS (
       |  SELECT c.label, SUM(c.s * g.g) AS dot, SUM(c.s * c.s) AS norml,
       |    SUM(c.s2) AS ssq
       |  FROM cells c JOIN g USING (i) GROUP BY 1)
       |SELECT a.label, l.n_vecs,
       |  ROUND(CAST(a.dot AS DOUBLE) / sqrt(CAST(a.norml AS DOUBLE)) / sqrt(CAST(gn.normg AS DOUBLE)), 6)
       |    AS centroid_cos,
       |  ROUND(CAST(a.ssq AS DOUBLE) / l.n_vecs / 1e12, 6) AS mean_sq_norm,
       |  ROUND(CAST(a.dot AS DOUBLE) / sqrt(CAST(a.norml AS DOUBLE)) / sqrt(CAST(gn.normg AS DOUBLE)), 6)
       |    < 0.98 AS drifted
       |FROM agg a JOIN labs l USING (label) CROSS JOIN gn
       |ORDER BY a.label""".stripMargin

  // ------------------------------------------- Matryoshka prefix dims

  /** Matryoshka prefix lengths audited: quarter and half of [[Dim]].
    * MRL-trained embedding stacks (Kusupati et al., NeurIPS 2022) order
    * information so a PREFIX of the vector is itself a usable embedding;
    * serving at d/4 cuts the score-stage flops and — with the prefix
    * materialized as its own column — the scan bytes 4×. These audits
    * quantify what that truncation costs on THIS corpus before anyone
    * flips the serving tier to it. */
  private val MrlDims: Seq[Int] = Seq(Dim / 4, Dim / 2)

  /** Stage-1 candidate pool of the truncate-then-refine pipeline:
    * 4·k prefix-dim candidates per probe, re-ranked exactly. */
  private val MrlCandK = 4 * TopKK

  /** Stage-1 prefix-cosine candidate frame of [[matryoshkaRefine]]:
    * per (probe, corpus row), the d/4-prefix cosine as `approx`, with the
    * probe's FULL vector and norm carried along for the stage-2 exact
    * re-rank, so stage 2 needs no re-join to the probe table. */
  private def mrlCandidateFrame(probes: DataFrame, corpus: DataFrame): DataFrame = {
    val d = Dim / 4
    val c = corpus.select(col("vec_id"), slice(col("embedding"), 1, d).as("e_pfx"))
      .withColumn("cn", sqrt(VectorExpressions.dot(col("e_pfx"), col("e_pfx"))))
    val p0 = probes
      .select(col("probe_id"), col("embedding").as("p_emb"),
        slice(col("embedding"), 1, d).as("p_pfx"))
      .withColumn("pn", sqrt(VectorExpressions.dot(col("p_pfx"), col("p_pfx"))))
      .withColumn("p_norm", sqrt(VectorExpressions.dot(col("p_emb"), col("p_emb"))))
    c.join(broadcast(p0), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("p_emb"), col("p_norm"), col("vec_id"),
        round(VectorExpressions.dot(col("e_pfx"), col("p_pfx"))
          / (col("cn") * col("pn")), 6).as("approx"))
  }

  /** Shared scored frame: ONE probes×corpus pass computing the full-dim
    * cosine and every [[MrlDims]] prefix cosine on the same row (the
    * prefix self-norms are precomputed per side before the join, so the
    * pair stage is one [[graft.plans.DotProduct]] per d). */
  private def mrlScored(t: Tables)(implicit spark: SparkSession): DataFrame = {
    def withNorms(df: DataFrame, vec: String, pfx: String): DataFrame =
      MrlDims.foldLeft(
        df.withColumn(s"${pfx}n$Dim", sqrt(VectorExpressions.dot(col(vec), col(vec))))) {
        case (d, n) =>
          d.withColumn(s"${pfx}n$n",
            sqrt(VectorExpressions.dot(slice(col(vec), 1, n), slice(col(vec), 1, n))))
      }
    val corpus = withNorms(t.embeddings.select(col("vec_id"), col("embedding")), "embedding", "c")
    val probes = withNorms(
      auditRestrict(t.embeddings.where(col("vec_id") % ProbeMod === 0))
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb")), "p_emb", "p")
    def cosAt(n: Int): Column = {
      val (e, p) =
        if (n == Dim) (col("embedding"), col("p_emb"))
        else (slice(col("embedding"), 1, n), slice(col("p_emb"), 1, n))
      round(VectorExpressions.dot(e, p) / (col(s"cn$n") * col(s"pn$n")), 6)
    }
    corpus.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id") +: col("vec_id") +:
        (MrlDims :+ Dim).map(n => cosAt(n).as(s"cos_$n")): _*)
  }

  /** §8w(ea) — Matryoshka truncation audit: recall@k of the prefix-dim
    * exact top-k against the full-dim exact top-k, per probe and prefix
    * length. The go/no-go read before serving truncated vectors: a d/4
    * row at recall_pm ≥ 950 says the 4× cheaper tier loses <5% of true
    * neighbors. Fixed [[AuditProbeBudget]] probe draw on both sides, so
    * the audit costs budget × corpus (linear) at any scale; the three
    * rankings share ONE persisted scored frame (one pair pass, not
    * three). */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val scored = Cached.track(mrlScored(Tables(dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val truth = TopK.perKeyExec(
        scored.select(col("probe_id"), col("vec_id"), col(s"cos_$Dim").as("cos")),
        "probe_id", "cos", "vec_id", TopKK)
      .select("probe_id", "vec_id")
    MrlDims.map { d =>
      val pfx = TopK.perKeyExec(
          scored.select(col("probe_id"), col("vec_id"), col(s"cos_$d").as("cos")),
          "probe_id", "cos", "vec_id", TopKK)
        .select("probe_id", "vec_id")
      val overlap = truth.join(pfx, Seq("probe_id", "vec_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_overlap"))
      truth.select("probe_id").distinct()
        .join(overlap, Seq("probe_id"), "left")
        .select(lit(d).as("d"), col("probe_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .withColumn("recall_pm", expr(s"n_overlap * 1000 div $TopKK"))
    }.reduce(_.union(_))
  }

  private def mrlScoredSql: String =
    s"""probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p
       |  FROM embeddings JOIN audit_ids USING (vec_id)),
       |scored AS (
       |  SELECT probe_id, e.vec_id,
       |    ${(MrlDims :+ Dim).map(n =>
             s"ROUND(${cosChainDuckN("e.embedding", "p", n)}, 6) AS cos_$n").mkString(",\n    ")}
       |  FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> probe_id)""".stripMargin

  private def mrlRecallSql = {
    def topk(scoreCol: String, name: String) =
      s"""$name AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY $scoreCol DESC, vec_id) AS rn
         |    FROM scored) x WHERE rn <= $TopKK)""".stripMargin
    val arms = MrlDims.map { d =>
      s"""SELECT $d AS d, p.probe_id, COALESCE(ov.n, 0) AS n_overlap,
         |  COALESCE(ov.n, 0) * 1000 // $TopKK AS recall_pm
         |FROM (SELECT DISTINCT probe_id FROM tr) p
         |LEFT JOIN (SELECT probe_id, COUNT(*) AS n
         |           FROM tr JOIN p$d USING (probe_id, vec_id) GROUP BY 1) ov
         |USING (probe_id)""".stripMargin
    }
    s"""WITH $auditIdsCte,
       |${mrlScoredSql},
       |${topk(s"cos_$Dim", "tr")},
       |${MrlDims.map(d => topk(s"cos_$d", s"p$d")).mkString(",\n")}
       |${arms.mkString("", "\nUNION ALL\n", "")}
       |ORDER BY d, probe_id""".stripMargin
  }

  /** §8w(eb) — truncate-then-refine retrieval (the MRL "adaptive
    * retrieval" deployment shape): stage 1 ranks the corpus by the d/4
    * PREFIX cosine and keeps [[MrlCandK]] candidates per probe; stage 2
    * re-scores ONLY those candidates at full dimension and returns the
    * exact-rank top-k. Stage 1 is the only corpus-width pass and runs at
    * a quarter of the flops (and, with the prefix stored as its own
    * column/table, a quarter of the scan bytes); stage 2 touches
    * candidates × k rows. The full %-mod probe set — probe-proportional
    * work is the deployment semantics, as with the IVF family. */
  def matryoshkaRefine(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val probes = t.embeddings.where(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val stage1 = TopK.perKeyExec(
      mrlCandidateFrame(probes, t.embeddings.select(col("vec_id"), col("embedding")))
        .select(col("probe_id"), col("vec_id"), col("approx").as("cos")),
      "probe_id", "cos", "vec_id", MrlCandK)
    val full = t.embeddings.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("fn"))
    val pfull = t.embeddings.select(col("vec_id").as("probe_id"),
      col("embedding").as("p_emb"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("pfn"))
    TopK.perKeyExec(
      stage1.select("probe_id", "vec_id")
        .join(full, Seq("vec_id"))
        .join(broadcast(pfull), Seq("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(VectorExpressions.dot(col("embedding"), col("p_emb"))
            / (col("fn") * col("pfn")), 6).as("cos")),
      "probe_id", "cos", "vec_id", TopKK)
  }

  private def mrlRefineSql = {
    val d = Dim / 4
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p FROM embeddings
       |  WHERE vec_id % $ProbeMod = 0),
       |stage1 AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY ROUND(${cosChainDuckN("e.embedding", "p", d)}, 6) DESC, e.vec_id) AS rn
       |    FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> probe_id) x
       |  WHERE rn <= $MrlCandK),
       |refined AS (
       |  SELECT s.probe_id, s.vec_id,
       |    ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM stage1 s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings p ON p.vec_id = s.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM refined)
       |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= $TopKK
       |ORDER BY probe_id, rank""".stripMargin
  }

  // ------------------------------------------------ nprobe tuning curve

  /** Arms of the probe curve (the max is also the single pair pass's
    * pruning width — smaller arms are rank filters over the same frame). */
  private val CurveProbes = Seq(1, 2, 4)

  /** §8x(ed) — recall-vs-nprobe TUNING CURVE for the IVF tower: one row
    * per nprobe arm with the aggregate recall@k against the exact top-k
    * AND the scanned candidate-pair count — the two axes of the only
    * tuning decision an IVF deployment has (scan more buckets = linearly
    * more cost for asymptotically less recall). Reading the curve at
    * 100 TB decides nprobe BEFORE committing a fleet to it.
    *
    * Cost shape: the fixed [[AuditProbeBudget]] hash-rank probe draw on
    * both sides (truth = budget × corpus, linear); ALL arms share ONE
    * scored pair pass at the widest pruning (cluster rank ≤ max nprobe,
    * persisted) — each arm is a rank filter + bounded-heap top-k over
    * that frame, so the curve costs one arm, not three. */
  def probeCurve(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cents = centroids(spark, t).toSeq.map(_._2)
    val maxP = CurveProbes.max
    val corpus = assignNearest(t.embeddings, cents)
      .select(col("vec_id"), col("embedding"), col("cluster"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("c_norm"))
    // probe cells ranked once at the curve's widest arm; each arm keeps
    // its crank prefix
    val probes = auditRestrict(t.embeddings.where(col("vec_id") % ProbeMod === 0))
      .withColumn("top_c", probeTopC(cents, width = maxP))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("p_norm"),
        posexplode(expr("transform(top_c, x -> x.idx)")).as(Seq("crank0", "cluster")))
    val scored = Cached.track(corpus
      .join(broadcast(probes), Seq("cluster"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), (col("crank0") + 1).as("crank"),
        round(VectorExpressions.dot(col("embedding"), col("p_emb"))
          / (col("c_norm") * col("p_norm")), 6).as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val truth = Cached.track(
      TopK.perKeyExec(scoredProbes(t, audited = true),
          "probe_id", "cos", "vec_id", TopKK)
        .select("probe_id", "vec_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nProbes = truth.agg(countDistinct(col("probe_id")).as("n_probes"))
    CurveProbes.map { np =>
      val cand = scored.where(col("crank") <= np)
      val ivf = TopK.perKeyExec(cand.select("probe_id", "vec_id", "cos"),
        "probe_id", "cos", "vec_id", TopKK)
      val overlap = truth.join(ivf.select("probe_id", "vec_id"),
        Seq("probe_id", "vec_id")).agg(count(lit(1)).as("n_overlap"))
      val scanned = cand.agg(count(lit(1)).as("scanned_pairs"))
      nProbes.crossJoin(overlap).crossJoin(scanned)
        .select(lit(np).as("nprobe"), col("n_probes"), col("scanned_pairs"),
          expr(s"n_overlap * 1000 div (n_probes * $TopKK)").as("recall_pm"))
    }.reduce(_.union(_))
  }

  private def probeCurveSql = {
    val maxP = CurveProbes.max
    val arms = CurveProbes.map { np =>
      s"""SELECT $np AS nprobe,
         |  (SELECT COUNT(DISTINCT probe_id) FROM tr) AS n_probes,
         |  (SELECT COUNT(*) FROM scored WHERE crank <= $np) AS scanned_pairs,
         |  (SELECT COUNT(*) FROM tr JOIN (
         |      SELECT probe_id, vec_id FROM (
         |        SELECT probe_id, vec_id,
         |          ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn
         |        FROM scored WHERE crank <= $np) x WHERE rn <= $TopKK) iv
         |    USING (probe_id, vec_id)) * 1000
         |    // ((SELECT COUNT(DISTINCT probe_id) FROM tr) * $TopKK) AS recall_pm""".stripMargin
    }
    s"""WITH $auditIdsCte,
       |cents AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  WHERE vec_id < (SELECT ${scaledKSql}
       |                  FROM embeddings)),
       |assign AS (
       |  SELECT e.vec_id, cid, ${cosChainDuck("e.embedding", "c")} AS ccos
       |  FROM embeddings e CROSS JOIN cents),
       |cluster AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign) x WHERE rn = 1),
       |pa AS (
       |  SELECT vec_id AS probe_id, cid AS cluster, rn AS crank FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM assign JOIN audit_ids USING (vec_id)) x WHERE rn <= $maxP),
       |scored AS (
       |  SELECT pa.probe_id, e.vec_id, pa.crank,
       |    ROUND(${cosChainDuck("e.embedding", "p.embedding")}, 6) AS cos
       |  FROM pa
       |  JOIN cluster cl ON cl.cluster = pa.cluster
       |  JOIN embeddings e ON e.vec_id = cl.vec_id
       |  JOIN embeddings p ON p.vec_id = pa.probe_id
       |  WHERE e.vec_id <> pa.probe_id),
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p
       |  FROM embeddings JOIN audit_ids USING (vec_id)),
       |tr AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY ROUND(${cosChainDuck("e.embedding", "p")}, 6) DESC, e.vec_id) AS rn
       |    FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> probe_id) x
       |  WHERE rn <= $TopKK)
       |${arms.mkString("", "\nUNION ALL\n", "")}
       |ORDER BY nprobe""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "ann_sq_topk" -> Q(sqTopK _, sqSql, Seq(col("probe_id"), col("rank"))),
    "ann_ivf_sq_topk" -> Q(ivfSqTopK _, ivfSqSql, Seq(col("probe_id"), col("rank"))),
    "ann_pq_adc" -> Q(pqAdcTopK _, pqAdcSql, Seq(col("probe_id"), col("rank"))),
    "ann_pq_served" -> Q(pqServedTopK _, pqAdcSql, Seq(col("probe_id"), col("rank"))),
    "ann_pq_trained" -> Q(pqTrainedTopK _, pqTrainedSql, Seq(col("probe_id"), col("rank"))),
    "ann_ivfpq" -> Q(ivfPqTopK _, ivfPqSql, Seq(col("probe_id"), col("rank"))),
    "ann_ivfpq_trained" -> Q(ivfPqTrainedTopK _, ivfPqTrainedSql, Seq(col("probe_id"), col("rank"))),
    "ann_ivfpq_served" -> Q(ivfPqServedTopK _, ivfPqTrainedSql, Seq(col("probe_id"), col("rank"))),
    "ann_ivfpq_pruned" -> Q(ivfPqPrunedTopK _, ivfPqTrainedSql, Seq(col("probe_id"), col("rank"))),
    "dedup_embedding_cosine" -> Q(embeddingCosine _, embeddingCosineSql, Seq(col("probe_id"), col("vec_id"))),
    "dedup_semantic_clusters" -> Q(semanticDedup _, semanticDedupSql, Seq(col("cluster"), col("vec_id"))),
    "dedup_semantic_capped" -> Q((s: SparkSession, d: String) => semanticDedupCapped(s, d),
      semanticDedupCappedSql, Seq(col("cluster"), col("vec_id"))),
    "ann_centroid_drift" -> Q(centroidDrift _, centroidDriftSql, Seq(col("label"))),
    "ann_lsh_cosine" -> Q(lshCosine _, lshCosineSql, Seq(col("id_a"), col("id_b"))),
    "ann_lsh_multiprobe" -> Q(lshMultiprobe _, lshMultiprobeSql, Seq(col("id_a"), col("id_b"))),
    "ann_lsh_served" -> Q(lshServed _, lshServedSql, Seq(col("probe_id"), col("rank"))),
    "ann_bruteforce_topk" -> Q(bruteForceTopK _, bruteForceSql, Seq(col("probe_id"), col("rank"))),
    "ann_filtered_topk" -> Q(filteredTopK _, filteredTopKSql, Seq(col("probe_id"), col("rank"))),
    "ann_ivf_filtered_topk" -> Q(ivfFilteredTopK _, ivfFilteredSql,
      Seq(col("probe_id"), col("rank"))),
    "ann_knn_label" -> Q(knnLabel _, knnLabelSql, Seq(col("probe_id"))),
    "ann_knn_calibration" -> Q(knnCalibration _, knnCalibrationSql, Seq(col("votes"))),
    "ann_ivf_knn_calibration" -> Q(ivfKnnCalibration _, ivfKnnCalibrationSql, Seq(col("votes"))),
    "ann_ivf_knn_label" -> Q(ivfKnnLabel _, ivfKnnLabelSql, Seq(col("probe_id"))),
    "ann_ivf_recall" -> Q(ivfRecall _, ivfRecallSql, Seq(col("probe_id"))),
    "ann_lsh_recall" -> Q(lshRecall _, lshRecallSql),
    "ann_ivf_topk" -> Q(ivfTopK _, ivfSql, Seq(col("probe_id"), col("rank"))),
    "mm_ann_crossmodal" -> Q(crossModalTopK _, crossModalSql,
      Seq(col("probe_id"), col("rank"))),
    "mm_pair_integrity" -> Q(pairIntegrity _, pairIntegritySql, Seq(col("modality"))),
    "ann_ivf_range" -> Q(ivfRangeSearch _, ivfRangeSql,
      Seq(col("probe_id"), col("cos").desc, col("vec_id"))),
    "ann_cluster_medoids" -> Q(clusterMedoids _, clusterMedoidsSql, Seq(col("cluster"))),
    "ann_label_noise" -> Q(labelNoise _, labelNoiseSql, Seq(col("vec_id"))),
    "ann_rank_overlap" -> Q(rankOverlap _, rankOverlapSql, Seq(col("probe_id"))),
    "ann_ivf_refined" -> Q(ivfRefinedTopK _, ivfRefinedSql, Seq(col("probe_id"), col("rank"))),
    "ann_ivf_refined2" -> Q(ivfRefined2TopK _, ivfRefined2Sql, Seq(col("probe_id"), col("rank"))),
    "ann_matryoshka_recall" -> Q(matryoshkaRecall _, mrlRecallSql,
      Seq(col("d"), col("probe_id"))),
    "ann_matryoshka_refine" -> Q(matryoshkaRefine _, mrlRefineSql,
      Seq(col("probe_id"), col("rank"))),
    "ann_probe_curve" -> Q(probeCurve _, probeCurveSql, Seq(col("nprobe"))),
  )
}
