package graft.operators

import graft.Q
import graft.functions.TextFunctions._
import graft.plans.VectorExpressions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication family (SURVEY §2.3 rows 24-27 + §2.2 row 18).
  *
  * Mirrors the reference's entity-key dedup idea (sources2csr dedups entity
  * keys before merging) scaled to LLM-corpus semantics. All hashing is
  * md5-hex (bit-identical across engines → DuckDB-oracle-verifiable, and
  * portable across the heterogeneous engines a 100 TB corpus pipeline
  * spans).
  *
  * Scale shape (SURVEY §5): shingling/minhashing/simhashing are per-row
  * map-side (whole-stage codegen, no UDFs); the only shuffles are the
  * band-bucket groupBy/join — keyed on (band_id, band_hash), uniformly
  * distributed by construction — and the final distinct. No all-pairs
  * comparison ever happens: candidate pairs come from co-partitioned
  * band-bucket self-joins.
  */
object DedupQueries {

  /** Minhash signature length K = B bands × R rows (LSH banding). */
  private val B = 4
  private val R = 3
  private val K = B * R

  /** Near-dup verification threshold on shingle-set Jaccard. */
  private[graft] val JaccardThreshold = 0.5

  /** Simhash bit width and hamming acceptance radius. 60 bits = 15 md5
    * nibbles (fits signed BIGINT in every engine); 4 bands × 15 bits give
    * 32768 bucket values per band — enough spread that the banded
    * self-join stays near-linear at corpus scale (8-bit bands would cap
    * at 256 buckets and go quadratic inside each). Pigeonhole: every pair
    * with hamming ≤ 3 still shares a band. */
  private val SimBits = 60
  private val SimBands = 4 // 15 bits each
  private val SimBandBits = SimBits / SimBands
  private val MaxHamming = 3

  // ---------------------------------------------------------------- exact

  /** §24/§18 — exact dedup: hash-groupBy on content, min doc_id survives.
    * One shuffle keyed by content hash; at 100 TB the map-side partial agg
    * collapses duplicates before the exchange. */
  def exactDocs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
  }

  private val exactDocsSql =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  // ------------------------------------------------------------- minhash

  /** doc_id + word array + shingle array. */
  private def shingled(t: Tables): DataFrame =
    t.documents
      .withColumn("w", words(col("text")))
      .withColumn("s", shingles("w"))
      .select("doc_id", "s")

  /** r15 (opt) — the per-doc DISTINCT STRING shingle sets as a staged
    * frame, content-gated on the documents table (the [[stagedSigs]] /
    * [[stagedSourceShingles]] discipline, string variant): the exact
    * verifies whose outputs are pinned to string-set Jaccard
    * ([[ngramJaccard]], [[incrementalDedup]], [[minhashEstimate]]'s exact
    * side, [[lshRecallAudit]]'s truth side, the containment family) each
    * re-paid the words→shingles pass per run — and paid it inside the
    * one-task documents scan. Built once per corpus state with a spread
    * scan; consumers add their own filters/explodes over the stored
    * arrays. */
  private[operators] def stagedShingleSets(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Stage.parquet(spark, "shset", dir, "documents") {
      Tables(dir).spread("documents")
        .withColumn("w", words(col("text")))
        .withColumn("s", shingles("w"))
        .select(col("doc_id"), array_distinct(col("s")).as("ss"))
    }
  }

  /** Per-seed linear-mix constants for the K minwise hashes: one md5 per
    * shingle (the expensive part), then K cheap (a*h + b) % p mixes of its
    * leading 32 bits — vs K full md5 passes, this cuts the map-side hash
    * work by ~K× at identical LSH quality. All values stay < 2^62, so the
    * arithmetic is overflow-safe in both engines. */
  private val P = 2147483647L // 2^31 - 1
  private def mixA(i: Int): Long = Math.floorMod(2654435761L * (i + 1), 1L << 30) | 1L
  private def mixB(i: Int): Long = Math.floorMod(1103515245L * (i + 7), 1L << 30)

  /** (doc_id, band_id, band_hash): K minhashes → B banded md5 bucket keys.
    * r13: reads the staged signature artifact ([[stagedSigs]]) — the
    * corpus md5+mix pass is paid once per corpus state; band derivation
    * stays narrow (map-side). [[bandExplode]] remains the from-scratch
    * pipeline for arbitrary frames. */
  private def bandBuckets(t: Tables)(implicit s: SparkSession): DataFrame =
    bandsFromSigs(stagedSigs(s, t.dir))

  /** Append the K-component minhash signature array `m` to any (doc_id, s)
    * frame — the shared prefix of [[bandExplode]], factored out so the
    * signature-accuracy audit ([[minhashEstimate]]) scores the IDENTICAL
    * signatures the LSH pipeline buckets on. */
  private[graft] def minhashSigs(sh: DataFrame): DataFrame = sh
    .withColumn("hx", expr("transform(s, x -> md5(x))"))
    .withColumn("hs", transform(col("hx"), h => graft.plans.VectorExpressions.hexPrefix(h, 8)))
    .withColumn("m", array((0 until K).map(i =>
      expr(s"array_min(transform(hs, h -> (${mixA(i)}L * h + ${mixB(i)}L) % ${P}L))")): _*))

  /** The band-signature pipeline over any frame with (doc_id, s): every
    * expression is row-local (transform/md5/explode). Extra input columns
    * are carried through the explode untouched. */
  private[graft] def bandExplode(sh: DataFrame): DataFrame =
    bandsFromSigs(minhashSigs(sh)).drop("hx", "hs", "s")

  /** Band rows off an already-built signature frame — factored out so a
    * consumer that needs BOTH the band and the component view of the same
    * signatures ([[hardNegatives]]) computes them once. */
  private def bandsFromSigs(mh: DataFrame): DataFrame = {
    val bandCols = (0 until B).map { b =>
      struct(
        lit(b).as("band_id"),
        md5(concat_ws("|", (0 until R).map(r => col("m").getItem(b * R + r)): _*)).as("band_hash"))
    }
    mh.withColumn("bb", explode(array(bandCols: _*)))
      .withColumn("band_id", col("bb.band_id"))
      .withColumn("band_hash", col("bb.band_hash"))
      .drop("bb", "m")
  }

  /** Candidate pairs from the banded self-join (co-partitioned on the
    * bucket key — never all-pairs). r13: the signature front comes from
    * [[stagedSigs]] — the corpus md5+K-mix pass is paid once per corpus
    * state, and every LSH-family consumer (minhash_lsh, clusters,
    * ngram/sorted Jaccard verify, cosine verify, the pair miners)
    * buckets the SAME staged rows the audits score. Bands derive
    * narrowly (B md5-of-concat per doc). */
  private def lshCandidates(t: Tables)(implicit s: SparkSession): DataFrame =
    Banded.pairsExec(bandsFromSigs(stagedSigs(s, t.dir)),
        Seq("band_id", "band_hash"), "doc_id")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()

  /** §8f(w) — the same minhash-LSH candidate pipeline over an arbitrary
    * (doc_id, text) frame with a configurable shingle size — the
    * pipeline-facing twin of [[lshCandidates]] (which is pinned to the
    * registered 3-gram convention). Same shape: narrow shingle→band map
    * pass, then the co-partitioned [[Banded.pairsExec]] self-join. */
  private[graft] def lshPairsOf(docs: DataFrame, shingleSize: Int = 3): DataFrame = {
    val sh = docs
      .withColumn("w", words(col("text")))
      .withColumn("s", shingles("w", shingleSize))
      .select("doc_id", "s")
    Banded.pairsExec(bandExplode(sh), Seq("band_id", "band_hash"), "doc_id")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
  }

  /** §25 — MinHash + LSH near-dup candidate pairs. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    lshCandidates(Tables(dir))
  }

  /** DuckDB mirror of words→shingles→minhash→bands (1-based list indexing).
    * Shared with [[SplitQueries]] — the split-leakage oracle reruns the
    * SAME candidate generation so its pair set is bit-identical. */
  private[operators] def minhashCtes: String = {
    val mh = (0 until K)
      .map(i => s"list_aggregate(list_transform(hs, h -> (${mixA(i)} * h + ${mixB(i)}) % $P), 'min')")
      .mkString(",\n    ")
    val bands = (0 until B).map { b =>
      s"SELECT doc_id, $b AS band_id, md5(m[${b * R + 1}] || '|' || m[${b * R + 2}] || '|' || m[${b * R + 3}]) AS band_hash FROM mh"
    }.mkString(" UNION ALL ")
    s"""ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0) AS w FROM documents),
       |sh AS (SELECT doc_id, CASE WHEN LEN(w) >= 3
       |    THEN list_transform(generate_series(1, LEN(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [array_to_string(w, ' ')] END AS s FROM ws),
       |hsv AS (SELECT doc_id, s, list_transform(list_transform(s, x -> md5(x)), h -> ${hexToLongDuck("h")}) AS hs FROM sh),
       |mh AS (SELECT doc_id, [$mh] AS m FROM hsv),
       |bands AS ($bands)""".stripMargin
  }

  private val minhashLshSql =
    s"""WITH $minhashCtes
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------ clusters

  /** §25b — near-dup CLUSTERS: connected components over the LSH candidate
    * pairs (a dedup pipeline collapses whole duplicate groups, not pairs).
    *
    * Label propagation to fixpoint with pointer jumping: every doc starts
    * labeled with its own id; each round a doc takes the min of its own,
    * its neighbors', and its label's label (path halving — so convergence
    * is O(log diameter) rounds, not O(diameter), and a long duplicate
    * chain of length 1000 converges in ~10 rounds instead of 1000). Each
    * round is a co-partitioned join + partial-agg min; `localCheckpoint`
    * truncates the growing lineage so round N's plan doesn't replay rounds
    * 1..N-1. Throws IllegalStateException if `maxRounds` is hit before the
    * fixpoint — an unconverged result would silently diverge from the
    * oracle's exact min-reachable-id (recursive CTE), so failing loudly is
    * the only safe behavior. */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    nearDupClusters(spark, dir, maxRounds = 25)

  def nearDupClusters(spark: SparkSession, dir: String, maxRounds: Int): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    clustersOf(t.documents.select(col("doc_id")), lshCandidates(t), maxRounds)
  }

  /** The label-propagation core over an arbitrary id frame + (doc_a,
    * doc_b) pair frame — shared by [[nearDupClusters]] and the pipeline's
    * near-dup stage ([[graft.pipeline.CorpusPipeline]]). Returns
    * (doc_id, cluster_rep, cluster_size). */
  private[graft] def clustersOf(ids: DataFrame, pairs0: DataFrame,
                                maxRounds: Int = 25): DataFrame = {
    val pairs = pairs0.localCheckpoint()
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
      .localCheckpoint()
    var labels = ids.select(col("doc_id"), col("doc_id").as("label")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("src"), col("label").as("src_label")), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("src_label")).as("nbr_label"))
      // pointer jumping: label(label(x)) — compresses chains logarithmically
      val jump = labels.select(col("doc_id").as("label"), col("label").as("jump_label"))
      val updated = labels.join(nbrMin, Seq("doc_id"), "left")
        .join(jump, Seq("label"), "left")
        .select(col("doc_id"), col("label").as("old_label"),
          least(col("label"),
            coalesce(col("nbr_label"), col("label")),
            coalesce(col("jump_label"), col("label"))).as("label"))
        .localCheckpoint()
      changed = updated.where(col("label") =!= col("old_label")).count()
      labels = updated.select("doc_id", "label")
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"nearDupClusters did not converge after $maxRounds rounds ($changed labels still moving); " +
          "raise maxRounds — returning unconverged labels would corrupt downstream dedup")
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("cluster_rep"), col("cluster_size"))
  }

  /** Shared WITH-RECURSIVE chain ending in `labels(doc_id, cluster_rep)`
    * — the connected-components labeling over the LSH band graph, used
    * verbatim by the cluster, survivor, and size-spectrum oracles (one
    * definition so a labeling fix cannot desynchronize them — the same
    * hazard [[minhashCtes]] was factored out to prevent). */
  private def clusterCtes: String =
    s"""$minhashCtes,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
       |labels AS (SELECT id AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY id)""".stripMargin

  private val nearDupClustersSql =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc_id, cluster_rep,
       |  COUNT(*) OVER (PARTITION BY cluster_rep) AS cluster_size
       |FROM labels ORDER BY doc_id""".stripMargin

  /** §25c — the dedup endgame: the surviving corpus. Each near-dup cluster
    * keeps its canonical member (smallest doc_id = the cluster rep), and
    * the output is the per-cluster survivor with how many docs it absorbed
    * — what actually ships to training after dedup. */
  def dedupedCorpus(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    nearDupClusters(spark, dir)
      .where(col("doc_id") === col("cluster_rep"))
      .select(col("doc_id").as("kept_doc_id"), col("cluster_size").as("n_absorbed"))
  }

  private val dedupedCorpusSql =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT cluster_rep AS kept_doc_id, COUNT(*) AS n_absorbed
       |FROM labels GROUP BY cluster_rep ORDER BY kept_doc_id""".stripMargin

  /** §8z(eq) r13 — CLUSTER-SIZE SPECTRUM: the near-dup cluster table
    * rolled to one row per exact cluster size — n_clusters, n_docs, and
    * the character MASS sitting at that size. The governance read behind
    * every dedup decision: a corpus whose mass hides in a few whale
    * clusters dedups very differently from one with millions of pairs,
    * and "how much of my data is a size-k near-dup family" is the first
    * question a training-data owner asks of the cluster table (nobody
    * pages through `dedup_clusters`' per-doc rows). Distinct sizes are
    * ≤ √(2·|docs|)-ish in practice, so the output is tiny at any scale;
    * the plan is the cluster build (staged-signature front) + one
    * doc-keyed join for n_chars + two keyed aggregates. */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val perCluster = nearDupClusters(spark, dir)
      .join(Tables(dir).documents.select("doc_id", "n_chars"), Seq("doc_id"))
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("sz"), sum(col("n_chars")).as("chars"))
    perCluster.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("chars")).as("total_chars"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"), col("total_chars"))
  }

  private val clusterSizesSql =
    s"""WITH RECURSIVE $clusterCtes,
       |per_cluster AS (
       |  SELECT l.cluster_rep, COUNT(*) AS sz, SUM(d.n_chars) AS chars
       |  FROM labels l JOIN documents d USING (doc_id)
       |  GROUP BY l.cluster_rep)
       |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(chars) AS BIGINT) AS total_chars
       |FROM per_cluster GROUP BY sz
       |ORDER BY cluster_size""".stripMargin

  // ------------------------------------------------------------- jaccard

  /** §27 — n-gram Jaccard verification of the LSH candidates only (the
    * exact similarity is computed on the candidate set, never all-pairs).
    *
    * Shingle sets are materialized ONLY for documents that appear in a
    * candidate pair: the candidate doc-id set rides a broadcast semi-join
    * into the documents scan before any shingling happens, so the exact
    * verify stage reshingles |candidates| documents, not the corpus —
    * at 100 TB that's the difference between re-tokenizing everything
    * twice and touching a few thousand near-dup docs. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cands = lshCandidates(t)
    val candDocs = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // r15 (opt): candidate docs' string sets read the staged frame
    // ([[stagedShingleSets]]) instead of re-shingling inside the one-task
    // documents scan; the semi-join-before-materialize discipline stands
    val sets = stagedShingleSets(spark, dir)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("ss_a"), col("ss_b")))
          / size(array_union(col("ss_a"), col("ss_b"))), 6).as("jaccard"))
      .withColumn("is_near_dup", col("jaccard") >= JaccardThreshold)
  }

  private val ngramJaccardSql =
    s"""WITH $minhashCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh)
       |SELECT doc_a, doc_b,
       |  ROUND(LEN(list_intersect(sa.ss, sb.ss)) / LEN(list_distinct(list_concat(sa.ss, sb.ss))), 6) AS jaccard,
       |  ROUND(LEN(list_intersect(sa.ss, sb.ss)) / LEN(list_distinct(list_concat(sa.ss, sb.ss))), 6) >= $JaccardThreshold AS is_near_dup
       |FROM cand
       |JOIN sets sa ON sa.doc_id = doc_a
       |JOIN sets sb ON sb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------- LSH recall audit

  /** Anchor-draw salt for [[lshRecallAudit]] (the `ann_lsh_recall`
    * treatment ported to the Jaccard family: pairs have no %-mod
    * population, so a fixed hash-rank anchor draw bounds the truth). */
  private val DedupAuditSalt = "graft-dedup-audit:"
  private val DedupAuditBudget = 40

  /** §8x(ee) — recall/precision audit of the MinHash-LSH candidate stage
    * against the EXACT shingle-Jaccard truth at the same τ — the missing
    * quality read for the dedup family (`ann_ivf_recall` tells you what
    * the vector index loses; this tells you what the banding loses, and
    * what fraction of the banded candidates the verify stage will throw
    * away — the two knobs B×R trade). Truth is τ-pairs touching a fixed
    * [[DedupAuditBudget]]-anchor hash-rank draw: exact side = anchors'
    * shingle sets joined through the (doc, shingle) frame (one keyed
    * join, anchors broadcast — budget × corpus, linear, never all-pairs),
    * LSH side = the anchors' band rows against the full band frame =
    * the full banded pair set ∩ anchor pairs. Anchor-pair recall is an
    * unbiased estimate of the global pair recall. One output row:
    * (n_exact, n_cand, n_found, recall_pm, precision_pm). */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val anchors = t.documents.select(col("doc_id"))
      .withColumn("h", md5(concat(lit(DedupAuditSalt), col("doc_id").cast("string"))))
      .orderBy(col("h"), col("doc_id")).limit(DedupAuditBudget).drop("h")
    // the (doc, shingle) frame feeds FOUR branches (sizes, both join sides)
    // and the band frame two — unpersisted, Catalyst re-runs the tokenize/
    // shingle (and for bands the K-minhash) pass per branch (measured
    // 16.7 s vs 3 s at sf0.1)
    // (r14 opt: Tables.spread on this shingle front A/B-measured
    // 1.87 -> 2.33 s — REJECTED, the persist fill is exchange-bound)
    // r15 (opt): the fill reads the staged string sets instead of
    // re-shingling the documents scan
    val docSh = Cached.track(stagedShingleSets(spark, dir)
      .select(col("doc_id"), explode(col("ss")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = docSh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val aSh = docSh.join(broadcast(anchors), Seq("doc_id"))
      .select(col("doc_id").as("a_id"), col("sh"))
    val exact = docSh.join(broadcast(aSh), Seq("sh"))
      .where(col("doc_id") =!= col("a_id"))
      .groupBy(col("a_id"), col("doc_id")).agg(count(lit(1)).as("n_int"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("n_a")), Seq("a_id"))
      .join(sizes.select(col("doc_id"), col("n").as("n_b")), Seq("doc_id"))
      .select(least(col("a_id"), col("doc_id")).as("id_a"),
        greatest(col("a_id"), col("doc_id")).as("id_b"),
        round(col("n_int") / (col("n_a") + col("n_b") - col("n_int")), 6).as("j"))
      .where(col("j") >= JaccardThreshold)
      .select("id_a", "id_b").distinct()
    val bands = Cached.track(bandBuckets(t)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val aBands = bands.join(broadcast(anchors), Seq("doc_id"))
      .select(col("doc_id").as("a_id"), col("band_id"), col("band_hash"))
    // r15 (opt, guide §2.4): cand is consumed twice (the recall left-join
    // AND the precision count) — unpersisted, the banded candidate join +
    // distinct ran twice per execution (the ann_lsh_recall pattern,
    // 17.6 -> 3.2 s at sf1 there). The frame is anchor-bounded and tiny.
    val cand = Cached.track(bands.join(broadcast(aBands), Seq("band_id", "band_hash"))
      .where(col("doc_id") =!= col("a_id"))
      .select(least(col("a_id"), col("doc_id")).as("id_a"),
        greatest(col("a_id"), col("doc_id")).as("id_b"))
      .distinct()
      .persist())
    exact.join(cand.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        // outer coalesce: SUM over ZERO rows (an anchor draw with no
        // exact τ-pairs — quiet corpus) is NULL in Spark while the
        // DuckDB twin's COUNT over the empty join emits 0
        coalesce(sum(coalesce(col("hit"), lit(0))), lit(0))
          .cast("long").as("n_found"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .select(col("n_exact"), col("n_cand"), col("n_found"),
        expr("n_found * 1000 div greatest(n_exact, 1)").as("recall_pm"),
        expr("n_found * 1000 div greatest(n_cand, 1)").as("precision_pm"))
  }

  private def lshRecallAuditSql =
    s"""WITH $minhashCtes,
       |anchor AS (
       |  SELECT doc_id FROM documents
       |  ORDER BY md5('$DedupAuditSalt' || CAST(doc_id AS VARCHAR)), doc_id
       |  LIMIT $DedupAuditBudget),
       |sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh),
       |ex AS (
       |  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS id_a,
       |         GREATEST(a.doc_id, b.doc_id) AS id_b
       |  FROM sets a JOIN anchor an ON an.doc_id = a.doc_id
       |  JOIN sets b ON b.doc_id <> a.doc_id
       |  WHERE ROUND(LEN(list_intersect(a.ss, b.ss))
       |          / LEN(list_distinct(list_concat(a.ss, b.ss))), 6) >= $JaccardThreshold),
       |abands AS (SELECT b.* FROM bands b JOIN anchor USING (doc_id)),
       |cand AS (
       |  SELECT DISTINCT LEAST(a.doc_id, c.doc_id) AS id_a,
       |         GREATEST(a.doc_id, c.doc_id) AS id_b
       |  FROM abands a JOIN bands c
       |    ON a.band_id = c.band_id AND a.band_hash = c.band_hash AND a.doc_id <> c.doc_id),
       |fnd AS (SELECT COUNT(*) AS n_found FROM ex JOIN cand USING (id_a, id_b))
       |SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
       |       (SELECT COUNT(*) FROM cand) AS n_cand,
       |       n_found,
       |       n_found * 1000 // GREATEST((SELECT COUNT(*) FROM ex), 1) AS recall_pm,
       |       n_found * 1000 // GREATEST((SELECT COUNT(*) FROM cand), 1) AS precision_pm
       |FROM fnd""".stripMargin

  private[graft] val CosVerifyThreshold = 0.8

  /** §8k(bb) — WEIGHTED-cosine verify over the same LSH candidate pairs:
    * each candidate doc becomes a TF-IDF vector over its 3-gram shingles
    * (tf × the BM25 family's log-free integer idf surrogate
    * (100·(2N−2df+1)) div (2df+1) — boilerplate shingles shared by half
    * the corpus score near zero, rare content dominates), and the pair's
    * exact cosine replaces the unweighted Jaccard. The weighted twin of
    * [[ngramJaccard]]: two docs sharing lots of template text but
    * differing in their rare content are near-dups to Jaccard and
    * distinct to TF-IDF cosine.
    *
    * Exactness: dot product and squared norms are pure-integer sums
    * (DECIMAL lane — shingle weights reach ~4·10¹⁰ at corpus
    * N ≈ 10⁹, so w² overflows int64 at scale even though every value is
    * exact); ONE float chain at the end (decimal→double, double·double,
    * sqrt, divide — each correctly rounded, so both engines emit the
    * same bits; zero-norm vectors — a doc whose every shingle has
    * df = N — score 0 by definition rather than NaN).
    *
    * Scale shape: the corpus is shingled once for the (term, df) table
    * (the [[graft.operators.TextIndexQueries]] inverted-index pass); tf
    * VECTORS are built only for candidate docs (the [[ngramJaccard]]
    * semi-join discipline), so the verify joins are candidate-bounded —
    * pair count × doc shingle count, never corpus². */
  def cosineVerify(spark: SparkSession, dir: String): DataFrame =
    cosineVerifyCore(spark, dir)._2

  /** The verify pipeline with its persisted LSH candidate frame EXPOSED,
    * so downstream consumers ([[trainingPairs]], [[hardNegatives]]) share
    * the one materialized frame explicitly instead of rebuilding
    * `lshCandidates` and relying on CacheManager plan-matching to
    * substitute the cached subplan (the r07 shape: three fresh
    * `lshCandidates` constructions whose reuse was an accident of plan
    * canonicalization). Returns (cands, scored). */
  private[graft] def cosineVerifyCore(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // both shared frames are consumed by >=3 plan branches; without
    // materialization each branch re-runs the whole minhash band pipeline
    // (resp. the corpus tf/df build) - 35 shuffles in the executed plan
    // instead of 7. r14 (opt): the scored frame comes STAGED
    // ([[stagedBandScored]]) - the scoring pass depends only on corpus
    // state and was re-run per query by verify + the training-pair miner.
    val cands = lshCandidates(t)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(Cached.track)
    (cands, stagedBandScored(spark, dir))
  }

  /** r14 (opt) - STAGED scored candidate-pair frames (the
    * stagedStayPairs serving precedent): the TF-IDF-cosine scoring of
    * the band candidates (dedup_cosine_verify, docs_training_pairs) and
    * of the loose single-component candidates (docs_hard_negatives)
    * depends only on corpus state, and each query re-ran the candidate
    * build + weight semi-join + dot aggregate per run. Content-gated on
    * the documents table; the oracles keep recomputing the identical
    * chain from base tables, and the staged=inline equality is pinned in
    * StagedFramesSpec. */
  private[operators] def stagedBandScored(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    stagedScored(spark, dir, "bandsc", t => Cached.track(lshCandidates(t)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
  }

  private[operators] def stagedLooseScored(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    stagedScored(spark, dir, "loosesc", t => Cached.track(looseCandidates(t)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
  }

  private def stagedScored(spark: SparkSession, dir: String, tag: String,
                           candsOf: Tables => DataFrame): DataFrame = {
    implicit val s: SparkSession = spark
    graft.plans.VectorExpressions.register(spark)
    Stage.cached(spark, tag, dir, "documents") {
      scorePairs(Tables(dir), candsOf(Tables(dir)))
    }
  }

  /** The corpus term statistics the verify weights derive from: per-doc
    * term frequencies, document frequencies, and the corpus size — built
    * ONCE and reusable across several scoring passes (the hard-negative
    * miner scores two candidate sets; without sharing, each pass re-runs
    * the corpus shingle+group pipeline). */
  private def tfParts(t: Tables)(implicit s: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    // two-step select, NOT withColumn chaining: explode plants an implicit
    // `size(input) > 0` filter, and with the shingle expression still
    // inline that predicate pushes below the projections and re-derives
    // the whole words→shingles tree per row AT THE SCAN
    val shingleTerms = t.documents.select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode(shingles("w")).as("term"))
    val tfAll = shingleTerms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfx = tfAll.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
    (tfAll, dfx, nDocs)
  }

  /** r13 (verdict #3) — the full-corpus per-doc TF-IDF TERM-WEIGHT frame
    * (doc_id, term, wgt) as a staged artifact, content-signature gated
    * on the documents table (the [[stagedSigs]] precedent). The verify
    * scoring tail was measured NOT to be the cost (the r10 SortedTermDot
    * rejection); what the two heaviest non-graph deployment rows
    * (`docs_training_pairs`, `docs_hard_negatives`) each paid per run
    * was this frame's corpus-linear front — the shingle explode, the
    * (doc, term) tf groupBy, and the df groupBy. Weights depend only on
    * corpus state (tf, df, N — never on the candidate set), so the
    * frame stages whole; scoring passes semi-join it down to candidate
    * docs, exactly the rows the inline build produced. */
  private[operators] def stagedTermWeights(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Stage.cached(spark, "tfwgt", dir, "documents") {
      val (tfAll, dfx, nDocs) = tfParts(Tables(dir))
      tfAll.join(dfx, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("wgt", expr("tf * ((100 * (2 * n_docs - 2 * df + 1)) div (2 * df + 1))"))
        .select("doc_id", "term", "wgt")
    }
  }

  /** TF-IDF-cosine scoring of an arbitrary (doc_a, doc_b) pair frame —
    * the verify body factored out of [[cosineVerifyCore]] so the
    * hard-negative miner scores its candidate sets with the IDENTICAL
    * weights and float chain. `cands` must already be persisted (it
    * feeds ≥3 branches). Weights read staged ([[stagedTermWeights]]). */
  private[operators] def scorePairs(t: Tables, cands: DataFrame)(
      implicit s: SparkSession): DataFrame =
    scorePairsWith(stagedTermWeights(s, t.dir), cands)

  /** r14 (opt): candidate-doc weight tables small enough to broadcast
    * skip the sort-merge of the pair×term intermediate entirely — the
    * dots join becomes scan-cands → two broadcast hash joins → map-side
    * partial agg, ONE exchange of partial sums instead of three sorted
    * exchanges (measured on docs_hard_negatives' loose candidates:
    * scoring 5.4 → 3.5 s at sf0.1, rows identical). The decision is
    * RUNTIME-adaptive, not a blanket hint: wt is persisted anyway (≥3
    * consumers), so the gate counts the materialized frame — rows, the
    * stable proxy for its hash-relation footprint — and keeps the keyed
    * join beyond the budget (a 100 TB candidate set never broadcasts). */
  private val WeightBroadcastMaxRows: Long = 4L << 20

  private def scorePairsWith(wtAll: DataFrame, cands: DataFrame)(
      implicit s: SparkSession): DataFrame = {
    val candDocs = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val wt = wtAll.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(Cached.track)
    val gate: DataFrame => DataFrame =
      if (wt.count() <= WeightBroadcastMaxRows) broadcast _ else identity _
    val n2 = wt.groupBy("doc_id")
      .agg(sum(expr("CAST(wgt AS DECIMAL(18,0)) * wgt")).as("n2"))
    val dots = cands
      .join(gate(wt.select(col("doc_id").as("doc_a"), col("term"), col("wgt").as("w_a"))), Seq("doc_a"))
      .join(gate(wt.select(col("doc_id").as("doc_b"), col("term"), col("wgt").as("w_b"))),
        Seq("doc_b", "term"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(expr("CAST(w_a AS DECIMAL(18,0)) * w_b")).as("dot"))
    val scored = cands
      .join(dots, Seq("doc_a", "doc_b"), "left")
      .join(gate(n2.select(col("doc_id").as("doc_a"), col("n2").as("n2_a"))), Seq("doc_a"))
      .join(gate(n2.select(col("doc_id").as("doc_b"), col("n2").as("n2_b"))), Seq("doc_b"))
      .withColumn("cos", round(expr(
        """CASE WHEN n2_a = 0 OR n2_b = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(coalesce(dot, 0) AS DOUBLE) / sqrt(CAST(n2_a AS DOUBLE) * CAST(n2_b AS DOUBLE)) END""".stripMargin), 6))
      .select(col("doc_a"), col("doc_b"), col("cos"),
        (col("cos") >= CosVerifyThreshold).as("is_dup"))
    scored
  }

  /** Oracle-shared CTE chain ending in `scored(doc_a, doc_b, cos)` over
    * the LSH candidates (and `cand` itself) — shared by the verify
    * oracle and the training-pair miner's. */
  private def cosineVerifyCtes: String =
    s"""$minhashCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |$scoreCtes""".stripMargin

  /** The scoring tail (cdocs → … → scored) over whatever `cand` CTE
    * precedes it — shared by the band-retriever chain above and the
    * component-retriever chain of [[hardNegativesSql]]. */
  private def scoreCtes: String =
    s"""cdocs AS (SELECT DISTINCT doc_a AS doc_id FROM cand
       |          UNION SELECT DISTINCT doc_b FROM cand),
       |tf AS (SELECT doc_id, t.term, COUNT(*) AS tf FROM sh, UNNEST(s) AS t(term) GROUP BY 1, 2),
       |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |wt AS (
       |  SELECT doc_id, term, tf * ((100 * (2 * n_docs - 2 * df + 1)) // (2 * df + 1)) AS wgt
       |  FROM tf JOIN dfx USING (term), n
       |  WHERE doc_id IN (SELECT doc_id FROM cdocs)),
       |n2 AS (SELECT doc_id, SUM(CAST(wgt AS HUGEINT) * wgt) AS n2 FROM wt GROUP BY 1),
       |dots AS (
       |  SELECT c.doc_a, c.doc_b, SUM(CAST(wa.wgt AS HUGEINT) * wb.wgt) AS dot
       |  FROM cand c
       |  JOIN wt wa ON wa.doc_id = c.doc_a
       |  JOIN wt wb ON wb.doc_id = c.doc_b AND wb.term = wa.term
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |    ROUND(CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN CAST(0 AS DOUBLE)
       |      ELSE CAST(COALESCE(d.dot, 0) AS DOUBLE)
       |        / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) END, 6) AS cos
       |  FROM cand c
       |  LEFT JOIN dots d ON d.doc_a = c.doc_a AND d.doc_b = c.doc_b
       |  JOIN n2 na ON na.doc_id = c.doc_a
       |  JOIN n2 nb ON nb.doc_id = c.doc_b)""".stripMargin

  private def cosineVerifySql =
    s"""WITH $cosineVerifyCtes
       |SELECT doc_a, doc_b, cos, cos >= $CosVerifyThreshold AS is_dup
       |FROM scored ORDER BY doc_a, doc_b""".stripMargin

  private val PairNegDraws = 2

  /** §8m(cb) — contrastive TRAINING-PAIR mining: for every document with
    * a VERIFIED near-dup (weighted cosine ≥ the verify threshold), one
    * positive — its best-scoring partner — and [[PairNegDraws]]
    * salted-hash negatives from the doc-id domain, dropped if they hash
    * onto the anchor, its positive, or any LSH candidate partner of the
    * anchor (a candidate is too plausibly similar to serve as a
    * negative). The (anchor, positive, negative) triples an
    * embedding-model trainer consumes — the dedup pipeline's byproduct
    * turned into supervision, with the negative sampler's determinism
    * (pure function of the corpus, reproducible anywhere).
    *
    * Scale shape: verified pairs are candidate-bounded; best-partner is
    * one per-anchor max-struct aggregate; negative draws explode
    * map-side; the false-negative guard is an anti-join against the
    * symmetrized candidate set. */
  def trainingPairs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val (cands, scored) = cosineVerifyCore(spark, dir)
    val best = bestPartner(scored)
    val maxDoc = Tables(dir).documents.agg(max(col("doc_id")).as("max_doc"))
    val candsSym = cands
      .select(col("doc_a").as("anchor"), col("doc_b").as("neg"))
      .unionByName(cands.select(col("doc_b").as("anchor"), col("doc_a").as("neg")))
    best.crossJoin(broadcast(maxDoc))
      .select(col("anchor"), col("pos_id"), col("cos"),
        explode(expr(s"sequence(0, ${PairNegDraws - 1})")).as("draw"), col("max_doc"))
      .withColumn("neg",
        graft.plans.VectorExpressions.hexPrefix(
          md5(concat(lit("d#"), col("anchor").cast("string"), lit("#"), col("draw").cast("string"))), 8)
          % (col("max_doc") + 1))
      .where(col("neg") =!= col("anchor") && col("neg") =!= col("pos_id"))
      .join(candsSym, Seq("anchor", "neg"), "left_anti")
      .select(col("anchor"), col("pos_id"), col("cos"), col("draw"), col("neg"))
  }

  /** Each anchor's best VERIFIED partner (highest cos, doc-id tiebreak)
    * from the scored frame — shared by [[trainingPairs]] and
    * [[hardNegatives]] so both consume the same per-anchor positive. */
  private def bestPartner(scored: DataFrame): DataFrame = {
    val verified = scored.where(col("is_dup"))
    val directed = verified
      .select(col("doc_a").as("anchor"), col("doc_b").as("pos"), col("cos"))
      .unionByName(verified.select(col("doc_b").as("anchor"), col("doc_a").as("pos"), col("cos")))
    directed.groupBy("anchor")
      .agg(max(struct(col("cos"), (-col("pos")).as("np"), col("pos"))).as("b"))
      .select(col("anchor"), col("b.pos").as("pos_id"), col("b.cos").as("cos"))
  }

  private val HardNegK = 2

  /** Loose candidate pairs: docs sharing ANY single minhash COMPONENT
    * (the bands share all R=3 of a band's components, so band candidates
    * are a strict subset) — the deliberately recall-heavy retriever the
    * hard-negative miner needs. Single-component collision probability
    * is the Jaccard itself, so even J≈0.2 pairs surface with
    * 1−(1−J)^K ≈ 93% — exactly the "plausibly similar, provably not
    * duplicate" population. Same co-partitioned bucket self-join as the
    * band pipeline ([[graft.plans.BandedPairsPlan]] whale cap applies),
    * keyed on (component index, component value). */
  /** Whale cap on the component buckets: a component value shared by
    * more than this many docs is a boilerplate-level signal (its pairs
    * are only weakly similar — exactly the pairs hard-negative mining
    * doesn't need), and under replica densification its pair count grows
    * quadratically. Dropping whole whale buckets is the registered
    * [[graft.plans.BandedPairs]] `maxBucket` contract (deterministic
    * undercount, spec-proven); at the oracle scales the largest bucket
    * is ~22, so the registered result is EXACT there and the cap binds
    * only where the quadratic blow-up would. r10: tightened 64 → 24 —
    * still above every oracle-scale bucket (cap-64 vs cap-24 symdiff
    * measured 0 at sf0.001/0.01/0.1), but under ×10 replica
    * densification it sheds the mid-frequency boilerplate buckets whose
    * pairs dominated the scoring join (sf1: 4.16M → 548k candidate
    * pairs, the whole query 50.5 → ~12 s). A component value shared by
    * 25+ documents is a boilerplate signal, not a near-duplicate one —
    * its pairs score far below the verify threshold and merely dilute
    * the per-anchor top-k. */
  private val LooseBucketCap = 24

  private def looseCandidates(t: Tables)(implicit s: SparkSession): DataFrame =
    looseCandidatesCapped(t, LooseBucketCap)

  private[operators] def looseCandidatesCapped(t: Tables, cap: Int)(
      implicit s: SparkSession): DataFrame = {
    // posexplode_OUTER: the non-outer form plants an implicit
    // `size(m) > 0` filter that predicate-pushdown drags to the scan with
    // the whole K-component minhash tree substituted inline — a
    // non-codegen per-row re-derivation (92 s vs 4 s at sf0.1). The
    // signature array always has exactly K elements, so outer semantics
    // are identical and no filter is planted. r13: signatures come
    // staged ([[stagedSigs]]) — the component view explodes the same
    // rows the band pipeline buckets.
    val comp = stagedSigs(s, t.dir)
      .select(col("doc_id"), posexplode_outer(col("m")).as(Seq("comp_id", "v")))
    Banded.pairsExec(comp, Seq("comp_id", "v"), "doc_id", maxBucket = cap)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
  }

  /** §8m(cc) — HARD-negative mining, the standard companion to
    * [[trainingPairs]]' random draws: score the HIGH-RECALL retriever's
    * candidates ([[looseCandidates]] — any shared minhash component;
    * band candidates are a strict subset since a band match implies all
    * its component values match) with the same TF-IDF cosine, take each
    * anchor's best verified partner as its positive, and its [[HardNegK]]
    * top-scoring REJECTED partners (cos below the dup threshold) as
    * negatives — documents the retriever surfaced as plausibly similar
    * but verification rejected. These are the negatives contrastive
    * training needs most: random negatives teach the embedding the easy
    * margin; these teach the boundary. (The strict band retriever cannot
    * supply them — at the registered precision nearly everything it
    * returns IS a duplicate, so its rejected set is empty.)
    *
    * Scale shape: ONE retriever, ONE candidate-bounded scoring pass —
    * loose pairs come from capped bucket self-joins keyed on (component
    * index, value), positives and negatives both read the same persisted
    * scored frame, and the per-anchor top-k is one window over
    * symmetrized rejected pairs (many small groups — group-limit
    * pushdown). At sf0.1 the whole chain is ~2.7× faster than the DuckDB
    * oracle executing the identical semantics. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // r14 (opt): the scored loose-candidate frame comes staged
    // ([[stagedLooseScored]]) - the retriever + scoring pass was the
    // query's whole front, re-run per query
    val scored = stagedLooseScored(spark, dir)
    val best = bestPartner(scored)
    val rejected = scored.where(!col("is_dup"))
    val sym = rejected
      .select(col("doc_a").as("anchor"), col("doc_b").as("neg"), col("cos").as("neg_cos"))
      .unionByName(rejected
        .select(col("doc_b").as("anchor"), col("doc_a").as("neg"), col("cos").as("neg_cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor")).orderBy(col("neg_cos").desc, col("neg"))
    best.join(
        sym.withColumn("rk", row_number().over(w)).where(col("rk") <= HardNegK),
        Seq("anchor"))
      .select(col("anchor"), col("pos_id"), col("neg"), col("neg_cos"), col("rk"))
  }

  /** The component-retriever chain: same minhash tables, `cand` = pairs
    * sharing any single signature component, then the shared scoring
    * tail. */
  private def looseCtes: String =
    s"""$minhashCtes,
       |comp0 AS (SELECT doc_id, i AS comp_id, m[i] AS v
       |          FROM mh, UNNEST(generate_series(1, $K)) AS t(i)),
       |smallb AS (SELECT comp_id, v FROM comp0
       |           GROUP BY comp_id, v HAVING COUNT(*) <= $LooseBucketCap),
       |comp AS (SELECT c.* FROM comp0 c JOIN smallb USING (comp_id, v)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM comp a JOIN comp b
       |    ON a.comp_id = b.comp_id AND a.v = b.v AND a.doc_id < b.doc_id),
       |$scoreCtes""".stripMargin

  private def hardNegativesSql =
    s"""WITH ${bestPartnerCtesOver(looseCtes)},
       |sym AS (
       |  SELECT doc_a AS anchor, doc_b AS neg, cos AS neg_cos FROM scored WHERE cos < $CosVerifyThreshold
       |  UNION ALL SELECT doc_b, doc_a, cos FROM scored WHERE cos < $CosVerifyThreshold),
       |ranked AS (
       |  SELECT anchor, neg, neg_cos,
       |    ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY neg_cos DESC, neg) AS rk
       |  FROM sym)
       |SELECT b.anchor, b.pos_id, r.neg, r.neg_cos, r.rk
       |FROM best b JOIN ranked r USING (anchor)
       |WHERE r.rk <= $HardNegK
       |ORDER BY anchor, rk""".stripMargin

  /** Oracle CTE chain ending in `best(anchor, pos_id, cos)` on top of
    * whichever retriever chain's `scored` precedes it — shared by the
    * training-pair (band retriever) and hard-negative (component
    * retriever) oracles. */
  private def bestPartnerCtesOver(base: String): String =
    s"""$base,
       |dup AS (SELECT doc_a, doc_b, cos FROM scored WHERE cos >= $CosVerifyThreshold),
       |directed AS (
       |  SELECT doc_a AS anchor, doc_b AS pos, cos FROM dup
       |  UNION ALL SELECT doc_b, doc_a, cos FROM dup),
       |best AS (
       |  SELECT anchor, pos AS pos_id, cos FROM (
       |    SELECT anchor, pos, cos,
       |      ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY cos DESC, pos) AS rn
       |    FROM directed) x WHERE rn = 1)""".stripMargin

  private def trainingPairsSql = {
    val h = hexToLongDuck("md5('d#' || CAST(anchor AS VARCHAR) || '#' || CAST(d.draw AS VARCHAR))", 8)
    s"""WITH ${bestPartnerCtesOver(cosineVerifyCtes)},
       |mx AS (SELECT MAX(doc_id) AS max_doc FROM documents),
       |csym AS (
       |  SELECT doc_a AS anchor, doc_b AS neg FROM cand
       |  UNION ALL SELECT doc_b, doc_a FROM cand),
       |draws AS (
       |  SELECT b.anchor, b.pos_id, b.cos, d.draw, ($h) % (max_doc + 1) AS neg
       |  FROM best b, mx, (SELECT UNNEST(generate_series(0, ${PairNegDraws - 1})) AS draw) d)
       |SELECT anchor, pos_id, cos, draw, neg
       |FROM draws dr
       |WHERE dr.neg <> dr.anchor AND dr.neg <> dr.pos_id
       |  AND NOT EXISTS (SELECT 1 FROM csym c WHERE c.anchor = dr.anchor AND c.neg = dr.neg)
       |ORDER BY anchor, draw""".stripMargin
  }

  /** §8k(bh) — minhash signature ACCURACY audit: for every LSH candidate
    * pair, the Jaccard the K=12 signature components estimate
    * (matching-component fraction) against the exact shingle-set Jaccard,
    * with the signed error — all in per-mille INTEGERS, so the audit of a
    * probabilistic estimator is itself engine-exact. The `ann_ivf_recall`
    * / `ann_lsh_recall` sibling for the signature layer: recall audits
    * measure which pairs the index FINDS, this one measures how well the
    * signatures it finds them with track the true similarity (the
    * K-vs-accuracy knob's direct evidence).
    *
    * Scale shape: signatures and shingle sets are rebuilt only for
    * candidate docs (the [[ngramJaccard]] semi-join discipline); the
    * audit joins are candidate-bounded. */
  /** r12 (verdict #5) — the full-corpus K-component minhash SIGNATURES as
    * a staged artifact (doc_id, m), content-signature gated on the
    * documents table like the ANN indices: the expensive part of the LSH
    * family's preamble (one md5 per shingle + K mixes over every doc) is
    * paid once per corpus state, not per query. Bands derive narrowly
    * ([[bandsFromSigs]] — B md5-of-concat per doc); the signatures an
    * audit scores are bit-identical to what the pipeline buckets on
    * because they ARE the same staged rows. */
  private[operators] def stagedSigs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Stage.cached(spark, "mhsig", dir, "documents") {
      minhashSigs(shingled(Tables(dir))).select("doc_id", "m")
    }
  }

  def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // signatures come staged; bands are a narrow derivation over them —
    // this query used to pay the full shingle-md5-minhash pass TWICE
    // (bandBuckets for candidates, minhashSigs again for scoring)
    val sigsAll = stagedSigs(spark, dir)
    val cands = Banded.pairsExec(bandsFromSigs(sigsAll),
        Seq("band_id", "band_hash"), "doc_id")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(Cached.track)
    val candDocs = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // exact side reads the STAGED string shingle sets for candidate docs
    // only (the ngramJaccard semi-join discipline) — no md5/minhash
    // re-pass and (r15) no re-shingle either
    val sigs = stagedShingleSets(spark, dir)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .join(sigsAll, Seq("doc_id"))
    cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("m").as("m_a"), col("ss").as("ss_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("m").as("m_b"), col("ss").as("ss_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"size(filter(zip_with(m_a, m_b, (x, y) -> x = y), v -> v)) * 1000 div $K").as("est_pm"),
        expr("size(array_intersect(ss_a, ss_b)) * 1000 div size(array_distinct(concat(ss_a, ss_b)))").as("exact_pm"))
      .withColumn("err_pm", col("est_pm") - col("exact_pm"))
  }

  private val minhashEstimateSql =
    s"""WITH $minhashCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |sigs AS (SELECT mh.doc_id, mh.m, list_distinct(sh.s) AS ss
       |         FROM mh JOIN sh ON mh.doc_id = sh.doc_id),
       |scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |    LEN(list_filter(generate_series(1, $K), i -> sa.m[i] = sb.m[i])) * 1000 // $K AS est_pm,
       |    LEN(list_intersect(sa.ss, sb.ss)) * 1000
       |      // LEN(list_distinct(list_concat(sa.ss, sb.ss))) AS exact_pm
       |  FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a JOIN sigs sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, est_pm, exact_pm, est_pm - exact_pm AS err_pm
       |FROM scored ORDER BY doc_a, doc_b""".stripMargin

  /** §8y(ej) r12 — CALIBRATION of the minhash estimator: the
    * [[minhashEstimate]] per-pair audit rolled into the reliability
    * table the K-vs-accuracy knob is actually read from. Pairs bucket by
    * their ESTIMATED similarity decile (est_pm div 100 — the number the
    * pipeline acts on); per bucket: pair count, the mean TRUE similarity
    * (integer per-mille), and the mean |error| — a bucket whose
    * mean_exact_pm strays from its nominal decile is where K=12
    * signatures mislead the banding threshold. All integer arithmetic
    * (sums then one truncating div), so the calibration of a
    * probabilistic estimator is itself engine-exact.
    *
    * Scale shape: [[minhashEstimate]]'s candidate-bounded frame (staged
    * signatures, narrow band derivation) plus ONE ≤11-cell aggregate —
    * the audit's cost, not a new corpus pass. */
  def estimateCalibration(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    minhashEstimate(spark, dir)
      .groupBy(expr("est_pm div 100").as("est_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("exact_pm")).as("sum_exact"),
        sum(abs(col("err_pm"))).as("sum_abs_err"))
      .select(col("est_decile"), col("n_pairs"),
        expr("sum_exact div n_pairs").as("mean_exact_pm"),
        expr("sum_abs_err div n_pairs").as("mean_abs_err_pm"))
  }

  private val estimateCalibrationSql =
    s"""WITH est AS (${minhashEstimateSql.replace("ORDER BY doc_a, doc_b", "")})
       |SELECT est_pm // 100 AS est_decile, COUNT(*) AS n_pairs,
       |  CAST(SUM(exact_pm) AS BIGINT) // COUNT(*) AS mean_exact_pm,
       |  CAST(SUM(ABS(err_pm)) AS BIGINT) // COUNT(*) AS mean_abs_err_pm
       |FROM est GROUP BY 1 ORDER BY est_decile""".stripMargin

  /** §8y(em) r12 — SOURCE-OVERLAP MATRIX: pairwise shingle-set Jaccard
    * between ingestion sources — which feeds duplicate EACH OTHER, the
    * question upstream of `dedup_source_trend` (that one watches a
    * source's overlap against everything already landed; this one names
    * the specific pair, which is what actually gets a feed deprecated or
    * a crawl boundary fixed). Same 3-gram shingle convention as the
    * whole minhash family; sets are distinct per source, so a document
    * duplicated WITHIN one source counts once. Shingles travel as 60-bit
    * md5-prefix HASHES, not strings (the `dedup_jaccard_sorted`
    * convention — the distinct and the join shuffle 8-byte longs instead
    * of ~40-byte 3-gram text; equal up to md5-prefix collisions,
    * negligible at any corpus size, and the oracle recomputes the
    * identical hashed formulation). Measured 10.5 → 3.0 s at sf0.1.
    *
    * Scale shape: one (source, hash) distinct (map-side partial), then
    * the `graph_resource_allocation` packed-key pattern instead of a
    * hash-keyed self-join: sources map to DENSE integer ids (driver
    * dict, loudly required < 1024), each shingle's sorted id set emits
    * its pairs IN-ROW as single packed longs (a·1024 + b), and ONE
    * count aggregate with map-side combine collapses them to ≤|sources|²
    * rows before anything shuffles. The join form was measured and
    * REJECTED at sf0.1: hot shingles live in ALL sources, so the join
    * materialized ~|shingles|·|sources|² two-string rows (10.5 s); the
    * packed aggregate reads 3.0 s. Sizes broadcast; names map back
    * through the bounded dict. */
  /** r13 (verdict #4) — the source-governance family's ONE staged frame:
    * per-doc DISTINCT 60-bit hashed-shingle arrays with the doc's
    * source/lang identity, (doc_id, source, lang, hs: array<long>),
    * content-signature gated on the documents table. `dedup_source_
    * overlap`, `dedup_source_similarity` and `dedup_source_trend` each
    * paid the corpus words→shingles(→md5) pass per run; all three now
    * explode this frame narrowly (overlap drops doc identity, trend
    * derives its vintage from doc_id, similarity derives its 32-bit
    * mix-input as hs div 2^28 — the leading-8-hex-chars value, exactly
    * `hexPrefix(md5(shingle), 8)`). Hashes are built per-doc-distinct
    * BEFORE any explode (the documented generator-re-evaluation
    * pitfall); the oracles recompute the identical hashed formulation
    * (the `dedup_jaccard_sorted` convention). */
  private[operators] def stagedSourceShingles(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.plans.VectorExpressions.register(spark)
    Stage.cached(spark, "srcsh", dir, "documents") {
      Tables(dir).documents
        .withColumn("w", words(col("text")))
        .withColumn("sarr", shingles("w"))
        .select(col("doc_id"), col("source"), col("lang"),
          array_distinct(transform(col("sarr"),
            x => graft.plans.VectorExpressions.hexPrefix(md5(x), 15))).as("hs"))
    }
  }

  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    // hashed per-doc arrays come staged ([[stagedSourceShingles]]); the
    // explode here reads stored arrays, so no generator re-derivation
    val ss = Cached.track(stagedSourceShingles(spark, dir)
      .select(col("source"), explode(col("hs")).as("shg"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val names = ss.select("source").distinct().orderBy("source")
      .collect().map(_.getString(0)) // bounded: one row per ingestion feed
    require(names.length < 1024,
      s"dedup_source_overlap: ${names.length} sources exceed the 10-bit packed-pair domain")
    val sid = names.zipWithIndex.toMap
    val sidCol = element_at(typedlit(sid), col("source"))
    val nameCol = (c: Column) => element_at(typedlit(names.toSeq), c.cast("int") + 1)
    val pairs = ss.select(col("shg"), sidCol.cast("long").as("sid"))
      .groupBy("shg").agg(sort_array(collect_set(col("sid"))).as("sids"))
      .select(explode(expr(
        "flatten(transform(sids, (x, i) -> " +
          "transform(slice(sids, i + 2, size(sids) - i - 1), y -> x * 1024 + y)))")).as("ab"))
      .groupBy("ab").agg(count(lit(1)).as("n_common"))
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n"))
    pairs
      .select(nameCol(expr("ab div 1024")).as("src_a"),
        nameCol(col("ab") % 1024).as("src_b"), col("n_common"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"), col("n_b"),
        expr("n_common * 1000 div (n_a + n_b - n_common)").as("jaccard_pm"))
  }

  private val sourceOverlapSql =
    s"""WITH ws AS (
       |  SELECT source, list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0) AS w
       |  FROM documents),
       |shs AS (SELECT source, CASE WHEN LEN(w) >= 3
       |    THEN list_transform(generate_series(1, LEN(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [array_to_string(w, ' ')] END AS s FROM ws),
       |ss AS (SELECT DISTINCT source, ${hexToLongDuck("md5(shg0)", 15)} AS shg
       |       FROM (SELECT source, UNNEST(s) AS shg0 FROM shs)),
       |sizes AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY 1),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
       |  FROM ss a JOIN ss b ON a.shg = b.shg AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
       |  n_common * 1000 // (sa.n + sb.n - n_common) AS jaccard_pm
       |FROM inter
       |JOIN sizes sa ON sa.source = src_a
       |JOIN sizes sb ON sb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------- source overlap, incremental

  /** The mergeable state behind the incremental source-overlap matrix:
    * per-shingle sorted source-id sets, the packed pair counts, the
    * per-source distinct-shingle sizes, and the id→name dict. All four
    * are distributive over batch folds ([[sourceOverlapFold]]), so any
    * micro-batch replay lands the same state — spec-pinned. */
  private[graft] final case class SourceOverlapState(
      catalog: DataFrame, pairs: DataFrame, sizes: DataFrame, names: Seq[String])

  /** Fold one batch of distinct (source, shg) cells into the state.
    * Only shingles the batch TOUCHES are re-aggregated: a new cell
    * (shg, sid) contributes pairs against the sids already on that
    * shingle plus pairs among the batch's own new sids — the archive's
    * untouched rows pass through. Work is ∝ batch-touched shingles,
    * never archive size. */
  private[graft] def sourceOverlapFold(st: SourceOverlapState, batchCells: DataFrame)(
      implicit s: SparkSession): SourceOverlapState = {
    val newNames = batchCells.select("source").distinct()
      .collect().map(_.getString(0)).filterNot(st.names.toSet).sorted
    val names = st.names ++ newNames // archive ids stay stable; new sources append
    require(names.length < 1024,
      s"source_overlap_incremental: ${names.length} sources exceed the 10-bit packed-pair domain")
    val sid = names.zipWithIndex.toMap
    val bc = batchCells
      .select(col("shg"), element_at(typedlit(sid), col("source")).cast("long").as("sid"))
      .groupBy("shg").agg(sort_array(collect_set(col("sid"))).as("nsids0"))
    val touched = Cached.track(bc.join(st.catalog, Seq("shg"), "left")
      .select(col("shg"),
        expr("coalesce(sids, CAST(array() AS ARRAY<BIGINT>))").as("osids"),
        expr("array_sort(array_except(nsids0, coalesce(sids, CAST(array() AS ARRAY<BIGINT>))))").as("nn"))
      .where(size(col("nn")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // pair delta: new×old cross (disjoint by construction) + new×new
    val deltaPairs = touched
      .select(explode(expr(
        """concat(
          |  flatten(transform(nn, x -> transform(osids, y ->
          |    IF(x < y, x * 1024 + y, y * 1024 + x)))),
          |  flatten(transform(nn, (x, i) ->
          |    transform(slice(nn, i + 2, size(nn) - i - 1), y -> x * 1024 + y))))""".stripMargin)).as("ab"))
      .groupBy("ab").agg(count(lit(1)).as("d"))
    val pairs = st.pairs.join(deltaPairs, Seq("ab"), "full_outer")
      .select(col("ab"),
        (coalesce(col("n_common"), lit(0L)) + coalesce(col("d"), lit(0L))).as("n_common"))
    val deltaSizes = touched.select(explode(col("nn")).as("sid"))
      .groupBy("sid").agg(count(lit(1)).as("d"))
    val sizes = st.sizes.join(deltaSizes, Seq("sid"), "full_outer")
      .select(col("sid"), (coalesce(col("n"), lit(0L)) + coalesce(col("d"), lit(0L))).as("n"))
    val catalog = st.catalog.join(touched.select("shg", "nn"), Seq("shg"), "full_outer")
      .select(col("shg"), sort_array(concat(
        expr("coalesce(sids, CAST(array() AS ARRAY<BIGINT>))"),
        expr("coalesce(nn, CAST(array() AS ARRAY<BIGINT>))"))).as("sids"))
    SourceOverlapState(catalog, pairs, sizes, names)
  }

  /** The matrix view of a state: names back through the dict, pair
    * orientation normalized LEXICALLY (new sources take ids past the
    * archive's, so packed numeric order need not be name order). */
  private[graft] def sourceOverlapMatrix(st: SourceOverlapState)(
      implicit s: SparkSession): DataFrame = {
    val nameCol = (c: Column) => element_at(typedlit(st.names), c.cast("int") + 1)
    val byName = broadcast(st.sizes.select(nameCol(col("sid")).as("nm"), col("n")))
    st.pairs
      .select(nameCol(expr("ab div 1024")).as("x"), nameCol(col("ab") % 1024).as("y"),
        col("n_common"))
      .select(least(col("x"), col("y")).as("src_a"),
        greatest(col("x"), col("y")).as("src_b"), col("n_common"))
      .join(byName.select(col("nm").as("src_a"), col("n").as("n_a")), Seq("src_a"))
      .join(byName.select(col("nm").as("src_b"), col("n").as("n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"), col("n_b"),
        expr("n_common * 1000 div (n_a + n_b - n_common)").as("jaccard_pm"))
  }

  /** The empty state (a cold start folds the whole corpus as one batch). */
  private[graft] def emptyOverlapState(implicit s: SparkSession): SourceOverlapState = {
    import org.apache.spark.sql.types._
    def empty(schema: StructType) =
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    SourceOverlapState(
      empty(StructType(Seq(StructField("shg", LongType),
        StructField("sids", ArrayType(LongType))))),
      empty(StructType(Seq(StructField("ab", LongType), StructField("n_common", LongType)))),
      empty(StructType(Seq(StructField("sid", LongType), StructField("n", LongType)))),
      Nil)
  }

  /** The archive (md5 doc-bucket < 80, the [[incrementalDedup]] split)
    * folded into [[SourceOverlapState]] artifacts ONCE per corpus state
    * — catalog/pairs/sizes/dict parquet under one content-gated stage.
    * Serving cycles read these and fold only the arriving batch. */
  private[graft] def stagedSourceOverlapState(spark: SparkSession, dir: String): SourceOverlapState = {
    implicit val s: SparkSession = spark
    val path = Stage.path("srcovlst", dir, "documents") { p =>
      val archCells = stagedSourceShingles(spark, dir)
        .where(graft.plans.VectorExpressions.hexPrefix(md5(col("doc_id").cast("string")), 8) % 100 < 80)
        .select(col("source"), explode(col("hs")).as("shg"))
        .distinct()
      val st = sourceOverlapFold(emptyOverlapState, archCells)
      st.catalog.write.parquet(s"$p/catalog")
      st.pairs.write.parquet(s"$p/pairs")
      st.sizes.write.parquet(s"$p/sizes")
      import spark.implicits._
      st.names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("sid", "source").coalesce(1).write.parquet(s"$p/dict")
      // build-time persists stay on the Cached registry — the CONSUMER
      // releases after its action (a releaseAll here would unpersist
      // unrelated in-flight frames session-wide, and drop the
      // stagedSourceShingles cache the caller immediately re-reads)
    }
    val names = spark.read.parquet(s"$path/dict").orderBy("sid")
      .collect().map(_.getString(1)).toSeq // bounded: one row per ingestion feed
    SourceOverlapState(
      Cached.track(spark.read.parquet(s"$path/catalog")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
      spark.read.parquet(s"$path/pairs"),
      spark.read.parquet(s"$path/sizes"),
      names)
  }

  /** §8z(eo) r13 — INCREMENTAL source-overlap: the updated full-corpus
    * overlap matrix computed by folding only the NEW batch (md5
    * doc-bucket ≥ 80) into the archive's staged overlap state — the
    * archive is never re-shingled and archive-only shingles are never
    * re-aggregated (untouched pair cells pass through the merge). The
    * result EQUALS the batch `dedup_source_overlap` over the whole
    * corpus, which is exactly what the oracle recomputes; the fold is
    * associative over micro-batch splits (spec-pinned), making it the
    * `dedup_containment_incremental`-style serving twin of the overlap
    * matrix. */
  def sourceOverlapIncremental(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val st = stagedSourceOverlapState(spark, dir)
    val batchCells = stagedSourceShingles(spark, dir)
      .where(graft.plans.VectorExpressions.hexPrefix(md5(col("doc_id").cast("string")), 8) % 100 >= 80)
      .select(col("source"), explode(col("hs")).as("shg"))
      .distinct()
    sourceOverlapMatrix(sourceOverlapFold(st, batchCells))
  }

  /** §8j(av) — the same candidate-pair Jaccard verify over SORTED
    * 60-bit shingle-HASH sets and the two-pointer merge kernel
    * ([[graft.plans.SortedIntersectCount]]), instead of
    * `array_intersect`/`array_union` over string arrays (which build a
    * boxed hash set per pair). Jaccard over hashed sets equals Jaccard
    * over the shingle sets up to md5-prefix collisions (60 bits ⇒
    * negligible at any corpus size that fits a cluster); union size
    * comes free as n + m − inter. Same candidates, same threshold —
    * the DuckDB oracle recomputes the identical hashed formulation. */
  def jaccardSorted(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val cands = lshCandidates(t)
    val candDocs = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // r15 (opt): the candidate docs' hashed sets come from the staged
    // per-doc shingle-hash arrays ([[stagedSourceShingles]] — the same
    // array_distinct(hexPrefix(md5)) chain, stored) instead of
    // re-shingling the candidate documents per run; only the sort is
    // in-row here.
    val sets = stagedSourceShingles(spark, dir)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_sort(col("hs")).as("hs"))
    val inter = graft.plans.VectorExpressions.sortedIntersect(col("hs_a"), col("hs_b"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .withColumn("inter", inter)
      .select(
        col("doc_a"), col("doc_b"),
        round(col("inter") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")), 6)
          .as("jaccard"))
      .withColumn("is_near_dup", col("jaccard") >= JaccardThreshold)
  }

  private val jaccardSortedSql =
    s"""WITH $minhashCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id,
       |  list_sort(list_distinct(list_transform(s, x -> ${hexToLongDuck("md5(x)", 15)}))) AS hs
       |  FROM sh)
       |SELECT doc_a, doc_b,
       |  ROUND(LEN(list_intersect(sa.hs, sb.hs))
       |    / (LEN(sa.hs) + LEN(sb.hs) - LEN(list_intersect(sa.hs, sb.hs))), 6) AS jaccard,
       |  ROUND(LEN(list_intersect(sa.hs, sb.hs))
       |    / (LEN(sa.hs) + LEN(sb.hs) - LEN(list_intersect(sa.hs, sb.hs))), 6)
       |    >= $JaccardThreshold AS is_near_dup
       |FROM cand
       |JOIN sets sa ON sa.doc_id = doc_a
       |JOIN sets sb ON sb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------- simhash

  private[operators] def hexToLongDuck(h: String, nChars: Int = 8): String =
    (0 until nChars).map { p =>
      s"(strpos('0123456789abcdef', substring($h, ${p + 1}, 1)) - 1) * CAST(${1L << (4 * (nChars - 1 - p))} AS BIGINT)"
    }.mkString("(", " + ", ")")


  private def simhashDuck: String =
    (0 until SimBits).map { j =>
      s"""(CASE WHEN list_sum(list_transform(hs, x ->
         |  CASE WHEN ((x >> $j) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |  THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin
    }.mkString(" + ")

  /** §26 — SimHash near-dup pairs: 60-bit simhash from token md5 bits,
    * LSH-banded on 4×15-bit bands (pigeonhole: every pair with hamming ≤ 3
    * shares a band), exact hamming verify on the candidates.
    *
    * The per-bit ±1 sums run as explode + hash aggregate (60 codegen'd
    * conditional sums with map-side partial aggregation) rather than 60
    * higher-order `aggregate()` passes over the token array — one pass
    * over the tokens instead of 60, and the partial agg collapses each
    * doc's contribution before any shuffle. Empty documents are excluded
    * (both engines, identically). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val bitSums = (0 until SimBits).map { j =>
      sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1L).otherwise(-1L)).as(s"s_$j")
    }
    val simExpr = (0 until SimBits)
      .map(j => s"(CASE WHEN s_$j > 0 THEN ${1L << j}L ELSE 0L END)")
      .mkString(" + ")
    // r14 (opt): Tables.spread on this front was built and A/B-measured
    // 1.99 -> 2.56 s — the round-robin exchange of the text payload costs
    // more than the serialized token-md5 front saves; REJECTED
    // r14 (opt): the band self-join consumes this frame on both sides and
    // the planner broadcasts one, so the tokenize+md5+60-bit-sum front
    // runs TWICE (no ReusedExchange under a BroadcastExchange). A persist
    // barrier was built and A/B-measured 2.41 -> 2.86 s — REJECTED: on
    // local[32] the duplicate subtrees run concurrently on spare cores,
    // while the persist serializes fill -> join and pays materialization.
    // r15 (opt): routing the band pairing through Banded.pairsExec (one
    // clustered exchange, persisted |docs|-row sims joined back onto the
    // pairs) was built, oracle-verified, and REJECTED on measurement:
    // sf1 adjacent A/B read 26.5 s vs 7.5 s — under replica-dense band
    // buckets the exec's sort + the TWO candidate-keyed join-backs cost
    // far more than re-running the front under a map-side broadcast probe
    // that streams pairs straight into the distinct's partial aggregate.
    val sims = Tables(dir).documents
      .withColumn("w", words(col("text")))
      .where(size(col("w")) > 0)
      .withColumn("hx", expr("transform(w, t -> md5(t))"))
      .withColumn("hs", transform(col("hx"), h => graft.plans.VectorExpressions.hexPrefix(h, 15)))
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), expr(simExpr).as("sim"))
    val bandCols = (0 until SimBands).map { b =>
      struct(lit(b).as("band_id"),
        expr(s"shiftright(sim, ${SimBandBits * b}) & ${(1 << SimBandBits) - 1}").as("band_val"))
    }
    val bands = sims
      .select(col("doc_id"), col("sim"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sim"), col("bb.band_id").as("band_id"), col("bb.band_val").as("band_val"))
    val a = bands.select(col("band_id"), col("band_val"), col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val b = bands.select(col("band_id"), col("band_val"), col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    a.join(b, Seq("band_id", "band_val"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sim_a", "sim_b")
      .distinct()
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast("long"))
      .where(col("hamming") <= MaxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  private val simhashSql =
    s"""WITH ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0) AS w FROM documents WHERE LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) > 0),
       |hx AS (SELECT doc_id, list_transform(w, t -> md5(t)) AS hxs FROM ws),
       |hsv AS (SELECT doc_id, list_transform(hxs, h -> ${hexToLongDuck("h", 15)}) AS hs FROM hx),
       |sims AS (SELECT doc_id, $simhashDuck AS sim FROM hsv),
       |bands AS (
       |  SELECT doc_id, sim, band_id, (sim >> (${SimBandBits} * band_id)) & ${(1 << SimBandBits) - 1} AS band_val
       |  FROM sims CROSS JOIN range(${SimBands}) t(band_id)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sim AS sim_a, b.sim AS sim_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= $MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Quality-aware survivor selection: instead of keeping each near-dup
    * cluster's min-id member ([[dedupedCorpus]] — the reference's
    * keep-first entity dedup), keep its HIGHEST-QUALITY member (the
    * [[TextQueries.qualityScore]] measure, ties to the lower id). This is
    * what an LLM corpus pipeline actually wants from dedup: drop the
    * duplicates, keep the best exemplar. Composition: cluster labels join
    * quality scores on doc_id, one rank-1 window per cluster — the window
    * input is |docs| rows with two narrow columns. */
  def qualitySurvivors(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val clusters = nearDupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
    val quality = TextQueries.qualityScore(spark, dir).select(col("doc_id"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_rep")).orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("cluster_rep").as("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("cluster_size").as("n_members"), col("quality"))
  }

  private val qualitySurvivorsSql =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
       |labels AS (SELECT id AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY id),
       |sizes AS (SELECT cluster_rep, COUNT(*) AS n_members FROM labels GROUP BY cluster_rep),
       |q AS (${TextQueries.qualityScoreSql.replace("\n", "\n     ")}),
       |ranked AS (
       |  SELECT l.cluster_rep AS cluster_id, l.doc_id, s.n_members, q.quality,
       |    ROW_NUMBER() OVER (PARTITION BY l.cluster_rep
       |                       ORDER BY q.quality DESC, l.doc_id) AS rn
       |  FROM labels l
       |  JOIN sizes s ON s.cluster_rep = l.cluster_rep
       |  JOIN q ON q.doc_id = l.doc_id)
       |SELECT cluster_id, doc_id AS kept_doc_id, n_members, quality
       |FROM ranked WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------- cross-modal audit

  private def CosineThreshold = AnnQueries.CosineThreshold // one near-dup bar, both modalities' owners

  /** Training-data quality report (SURVEY §8b candidate (b)): every text
    * LSH candidate pair scored on BOTH modalities — n-gram Jaccard over
    * shingles and embedding cosine — with an agreement flag. Disagreement
    * rows are exactly the pairs a pipeline owner audits by hand: texts
    * that look duplicated but embed far apart (template spam), or vice
    * versa (paraphrase dups the shingles miss). Shape: the candidate set
    * is LSH-bounded (never all-pairs), both verifies join by id, and the
    * embedding side only pulls candidate vectors. */
  def crossModalAudit(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val emb = Tables(dir).embeddings.select(col("vec_id"), col("embedding"),
      sqrt(VectorExpressions.dot(col("embedding"), col("embedding"))).as("norm"))
    ngramJaccard(spark, dir)
      .join(emb.select(col("vec_id").as("doc_a"), col("embedding").as("e_a"), col("norm").as("n_a")), Seq("doc_a"))
      .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("e_b"), col("norm").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(VectorExpressions.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6).as("cos"))
      .withColumn("modal_agree",
        (col("jaccard") >= JaccardThreshold) === (col("cos") >= CosineThreshold))
  }

  private val crossModalAuditSql =
    s"""WITH tx AS (${ngramJaccardSql.replace("\n", "\n     ")})
       |SELECT doc_a, doc_b, jaccard,
       |  ROUND(${AnnQueries.cosChainDuck("ea.embedding", "eb.embedding")}, 6) AS cos,
       |  (jaccard >= $JaccardThreshold) = (ROUND(${AnnQueries.cosChainDuck("ea.embedding", "eb.embedding")}, 6) >= $CosineThreshold) AS modal_agree
       |FROM tx
       |JOIN embeddings ea ON ea.vec_id = tx.doc_a
       |JOIN embeddings eb ON eb.vec_id = tx.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------- incremental

  /** Incremental dedup: new-batch documents (md5-bucket ≥ 80 — the
    * val+test 20% standing in for "today's crawl") checked against the
    * already-ingested index (bucket < 80) WITHOUT re-pairing the index
    * against itself. Band signatures are computed for both sides in one
    * map pass, but the join is strictly batch × index on (band_id,
    * band_hash) — at 100 TB the index side's signatures would be a
    * persisted table and only the (small) batch gets hashed per cycle;
    * index-internal pairs never form. Candidates are then exact-verified
    * by shingle Jaccard on the candidate documents only (same
    * semi-join-before-reshingle discipline as [[ngramJaccard]]). */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val bucket = graft.plans.VectorExpressions.hexPrefix(md5(col("doc_id").cast("string")), 8) % 100
    val membership = t.documents.select(col("doc_id"), (bucket < 80).as("in_index"))
    val bb = bandBuckets(t).join(membership, Seq("doc_id"))
    val idx = bb.where(col("in_index"))
      .select(col("doc_id").as("index_doc"), col("band_id"), col("band_hash"))
    val bat = bb.where(!col("in_index"))
      .select(col("doc_id").as("batch_doc"), col("band_id"), col("band_hash"))
    val cands = bat.join(idx, Seq("band_id", "band_hash"))
      .select(col("batch_doc"), col("index_doc")).distinct()
    val candDocs = cands
      .select(explode(array(col("batch_doc"), col("index_doc"))).as("doc_id"))
      .distinct()
    // r15 (opt): staged string sets for the candidate docs (the
    // ngramJaccard discipline) — no per-run re-shingle
    val sets = stagedShingleSets(spark, dir)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    cands
      .join(sets.select(col("doc_id").as("batch_doc"), col("ss").as("ss_a")), Seq("batch_doc"))
      .join(sets.select(col("doc_id").as("index_doc"), col("ss").as("ss_b")), Seq("index_doc"))
      .select(col("batch_doc"), col("index_doc"),
        round(size(array_intersect(col("ss_a"), col("ss_b")))
          / size(array_union(col("ss_a"), col("ss_b"))), 6).as("jaccard"))
      .where(col("jaccard") >= JaccardThreshold)
  }

  private val incrementalDedupSql =
    s"""WITH $minhashCtes,
       |bk AS (SELECT doc_id, ${graft.functions.DuckSql.docBucket} AS bucket FROM documents),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS batch_doc, a.doc_id AS index_doc
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |  JOIN bk ka ON ka.doc_id = a.doc_id
       |  JOIN bk kb ON kb.doc_id = b.doc_id
       |  WHERE ka.bucket < 80 AND kb.bucket >= 80),
       |sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh)
       |SELECT batch_doc, index_doc,
       |  ROUND(LEN(list_intersect(sa.ss, sb.ss)) / LEN(list_distinct(list_concat(sa.ss, sb.ss))), 6) AS jaccard
       |FROM cand
       |JOIN sets sa ON sa.doc_id = batch_doc
       |JOIN sets sb ON sb.doc_id = index_doc
       |WHERE ROUND(LEN(list_intersect(sa.ss, sb.ss)) / LEN(list_distinct(list_concat(sa.ss, sb.ss))), 6) >= $JaccardThreshold
       |ORDER BY batch_doc, index_doc""".stripMargin

  // ------------------------------------------------- per-source report

  /** Dedup governance report — the table a corpus owner reads to decide
    * which sources to trim: per source, how many documents are exact
    * duplicates of something in the corpus (content-hash membership in a
    * >1-occurrence group), and what share of the source's CDC chunks
    * repeat corpus-wide (the near-dup leading indicator: chunk overlap
    * rises before whole-document hashes collide). Two hash-keyed
    * aggregates over frames the engine already produces; rates are
    * multiplied out in bigint and rounded once. */
  def sourceReport(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = Tables(dir).documents
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val dupHashes = docs.groupBy("h").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("h")
    val docStats = docs
      .join(broadcast(dupHashes.withColumn("is_dup", lit(1L))), Seq("h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
    val chunks = CorpusQueries.cdcChunksOf(Tables(dir).documents)
      .join(Tables(dir).documents.select("doc_id", "source"), "doc_id")
      .select(col("source"), col("chunk_hash"))
    val dupChunks = chunks.groupBy("chunk_hash").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("chunk_hash")
    val chunkStats = chunks
      .join(broadcast(dupChunks.withColumn("is_dup", lit(1L))), Seq("chunk_hash"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_chunks"))
    docStats.join(chunkStats, "source")
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs") * lit(100.0) / col("n_docs"), 4).as("doc_dup_pct"),
        col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks") * lit(100.0) / col("n_chunks"), 4).as("chunk_dup_pct"))
  }

  private val sourceReportSql = {
    val w = graft.functions.DuckSql.wordsOf("text")
    val h = graft.functions.DuckSql.hexToLong("md5(tok)")
    s"""WITH docs AS (
       |  SELECT doc_id, source, md5(text) AS h FROM documents),
       |dup_h AS (SELECT h FROM docs GROUP BY h HAVING COUNT(*) > 1),
       |doc_stats AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN h IN (SELECT h FROM dup_h) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
       |  FROM docs GROUP BY source),
       |toks AS (
       |  SELECT doc_id, $w AS w FROM documents WHERE LEN($w) > 0),
       |pos AS (
       |  SELECT doc_id, g.i AS pos, w[g.i] AS tok
       |  FROM toks, UNNEST(generate_series(1, LEN(w))) AS g(i)),
       |b AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN $h % 16 = 0 THEN 1 ELSE 0 END AS cut
       |  FROM pos),
       |c AS (
       |  SELECT doc_id, pos, tok,
       |    COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM b),
       |chunks AS (
       |  SELECT d.source, md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
       |  FROM c JOIN documents d USING (doc_id)
       |  GROUP BY c.doc_id, c.chunk_id, d.source),
       |dup_c AS (SELECT chunk_hash FROM chunks GROUP BY chunk_hash HAVING COUNT(*) > 1),
       |chunk_stats AS (
       |  SELECT source, COUNT(*) AS n_chunks,
       |    CAST(SUM(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM dup_c) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
       |  FROM chunks GROUP BY source)
       |SELECT source, n_docs, n_dup_docs,
       |  ROUND(n_dup_docs * 100.0 / n_docs, 4) AS doc_dup_pct,
       |  n_chunks, n_dup_chunks,
       |  ROUND(n_dup_chunks * 100.0 / n_chunks, 4) AS chunk_dup_pct
       |FROM doc_stats JOIN chunk_stats USING (source)
       |ORDER BY source""".stripMargin
  }

  /** Cross-SOURCE duplication flow: the LSH candidate-pair set bucketed by
    * the unordered source pair it straddles. `dedup_source_report` audits
    * duplication WITHIN each source; this matrix shows which source pairs
    * feed near-identical content to each other — the view that decides
    * which upstream feed to drop when two crawls overlap. least/greatest
    * collapse the symmetric cells so (src0,src3) and (src3,src0) are one
    * row. Same scale shape as the leakage matrix: banded candidate
    * exchange + two doc-keyed joins of the bounded pair set. */
  def crossSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val src = t.documents.select(col("doc_id"), col("source"))
    // r14 (opt, §2.4): the registered corpus at the registered 3-gram
    // convention — lshCandidates reads the staged signatures instead of
    // re-running the full shingle+md5+K-mix pass per run (identical pair
    // set; the docs_pipeline_report precedent)
    lshCandidates(t)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .groupBy(
        least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val crossSourceMatrixSql =
    s"""WITH $minhashCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |              AND a.doc_id < b.doc_id)
       |SELECT LEAST(da.source, db.source) AS source_lo,
       |       GREATEST(da.source, db.source) AS source_hi,
       |       COUNT(*) AS n_pairs
       |FROM cand
       |JOIN documents da ON da.doc_id = doc_a
       |JOIN documents db ON db.doc_id = doc_b
       |GROUP BY 1, 2 ORDER BY source_lo, source_hi""".stripMargin

  // ------------------------------------------ source-level union sketch

  /** §8p(cy) — source×source similarity matrix from MERGED minhash union
    * sketches: per source, one K-component signature of the UNION of its
    * docs' shingle sets (component = min over every shingle the source
    * emits — the same md5+linear-mix family as the doc-level LSH, so the
    * sketch merges across files/days/engines by plain MIN, the
    * [[graft.pipeline.HllTable]] register algebra applied to Jaccard).
    * Per source pair: estimated Jaccard = matching components / K — the
    * corpus-overlap heat map a mixture designer reads when deciding
    * whether two crawls are the same crawl — with the EXACT shingle-set
    * Jaccard riding along as the in-data accuracy audit.
    *
    * Scale shape: one (source, shingle) distinct (keyed shuffle with
    * map-side collapse), then the sketch is ONE groupBy producing
    * |sources| rows — the pair matrix is a broadcast self-join of a
    * dozens-row table no matter the corpus size. The exact intersection
    * (shingle-keyed self-join) is the audit, not the product: a 100 TB
    * run ships signatures only. */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    // r13: shingles travel as staged 60-bit hashes ([[stagedSourceShingles]]
    // — identity up to md5-prefix collisions, the dedup_jaccard_sorted
    // convention; the oracle recomputes the identical hashed formulation).
    // The minwise mix input is the leading-8-hex-chars value, recovered
    // from the 15-char prefix as h div 2^28.
    val ssh = Cached.track(stagedSourceShingles(spark, dir)
      .select(col("source"), explode(col("hs")).as("h"))
      .distinct()
      .persist())
    val sigs = ssh
      .withColumn("h8", expr("h div 268435456"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        array((0 until K).map(i =>
          min(expr(s"(${mixA(i)}L * h8 + ${mixB(i)}L) % ${P}L"))): _*).as("m"))
    val pairs = sigs.select(col("source").as("src_a"), col("n").as("n_a"), col("m").as("ma"))
      .join(broadcast(sigs.select(col("source").as("src_b"), col("n").as("n_b"), col("m").as("mb"))),
        col("src_a") < col("src_b"))
      .withColumn("matches", expr(
        "aggregate(zip_with(ma, mb, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (acc, v) -> acc + v)"))
    val inter = ssh.as("x")
      .join(ssh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_inter"),
        expr("n_inter * 1000000 div (n_a + n_b - n_inter)").as("jaccard_ppm"),
        expr(s"CAST(matches * 1000000 div $K AS BIGINT)").as("est_ppm"))
  }

  private def sourceSimilaritySql = {
    val mins = (0 until K)
      .map(i => s"MIN((${mixA(i)} * (h // 268435456) + ${mixB(i)}) % $P) AS m$i").mkString(",\n    ")
    val matches = (0 until K)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ws AS (SELECT source, ${graft.functions.DuckSql.wordsOf("text")} AS w FROM documents),
       |sh AS (SELECT source, CASE WHEN LEN(w) >= 3
       |    THEN list_transform(generate_series(1, LEN(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [array_to_string(w, ' ')] END AS s FROM ws),
       |ssh AS (SELECT DISTINCT source, ${hexToLongDuck("md5(shingle)", 15)} AS h
       |        FROM (SELECT source, unnest(s) AS shingle FROM sh)),
       |sigs AS (SELECT source, COUNT(*) AS n,
       |    $mins
       |  FROM ssh GROUP BY 1),
       |inter AS (SELECT x.source AS src_a, y.source AS src_b, COUNT(*) AS n_inter
       |  FROM ssh x JOIN ssh y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b,
       |    $matches AS matches
       |  FROM sigs a JOIN sigs b ON a.source < b.source)
       |SELECT src_a, src_b, n_a, n_b, COALESCE(n_inter, 0) AS n_inter,
       |  COALESCE(n_inter, 0) * 1000000 // (n_a + n_b - COALESCE(n_inter, 0)) AS jaccard_ppm,
       |  CAST(matches * 1000000 // $K AS BIGINT) AS est_ppm
       |FROM pairs LEFT JOIN inter USING (src_a, src_b)
       |ORDER BY src_a, src_b""".stripMargin
  }

  // ------------------------------------------- source trend (r11, #8a)

  /** Ingest-batch vintages for the trend audit: the md5 doc bucket
    * (0–99) folded into [[TrendVintages]] consecutive arrival windows —
    * a deterministic stand-in for ingest timestamps that both engines
    * derive identically. */
  private val TrendVintages = 4L

  /** §8v(dy) r11 — per-source duplication TREND across ingest vintages
    * (the URL-less domain-governance proxy): for each (source, lang,
    * vintage) cell, what share of the cell's distinct shingles was
    * already landed by ANY source in an EARLIER vintage. A healthy fresh
    * source holds a low, flat seen-share; a source that starts recycling
    * the archive (or re-crawling itself) trends up — the early-warning
    * read BEFORE whole-document hashes collide, per source, over time.
    * seen = first-occurrence vintage < own vintage, so the whole audit
    * is ONE shingle-keyed min-aggregate joined back to the cell grain —
    * no pair stage at all.
    *
    * Scale shape: (source, lang, vintage, shingle) distinct (one keyed
    * shuffle with map-side collapse), one global (shingle → min vintage)
    * aggregate, one join, one cell rollup. Digests could replace raw
    * shingles at 100 TB (the md5 column is already there). */
  def sourceTrend(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    // r13: reads the staged hashed-shingle frame ([[stagedSourceShingles]])
    // — vintage derives from the staged doc_id, shingle identity is the
    // 60-bit hash (oracle recomputes the identical hashed formulation)
    val bucket = graft.plans.VectorExpressions.hexPrefix(md5(col("doc_id").cast("string")), 8) % 100
    val docs = stagedSourceShingles(spark, dir)
      .withColumn("vintage", (bucket / (lit(100L) / TrendVintages)).cast("long"))
    val cells = docs.groupBy("source", "lang", "vintage")
      .agg(count(lit(1)).as("n_docs"))
    val sh = Cached.track(docs
      .select(col("source"), col("lang"), col("vintage"),
        explode_outer(col("hs")).as("shingle"))
      .where(col("shingle").isNotNull)
      .distinct()
      .persist())
    val firstV = sh.groupBy("shingle").agg(min(col("vintage")).as("fv"))
    val rolled = sh.join(firstV, Seq("shingle"))
      .groupBy("source", "lang", "vintage")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fv") < col("vintage"), 1L).otherwise(0L)).as("n_seen"))
    cells.join(rolled, Seq("source", "lang", "vintage"), "left")
      .select(col("source"), col("lang"), col("vintage"), col("n_docs"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("seen_pm", expr("n_seen * 1000 div greatest(n_shingles, 1)"))
  }

  private def sourceTrendSql =
    s"""WITH bk AS (SELECT doc_id, CAST((${graft.functions.DuckSql.docBucket}) // (100 // $TrendVintages) AS BIGINT) AS vintage
       |           FROM documents),
       |docs AS (SELECT d.doc_id, d.source, d.lang, d.text, bk.vintage
       |         FROM documents d JOIN bk USING (doc_id)),
       |cells AS (SELECT source, lang, vintage, COUNT(*) AS n_docs FROM docs GROUP BY 1, 2, 3),
       |ws AS (SELECT source, lang, vintage, ${graft.functions.DuckSql.wordsOf("text")} AS w FROM docs),
       |shl AS (SELECT source, lang, vintage, CASE WHEN LEN(w) >= 3
       |    THEN list_transform(generate_series(1, LEN(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [array_to_string(w, ' ')] END AS s FROM ws),
       |sh AS (SELECT DISTINCT source, lang, vintage, ${hexToLongDuck("md5(shingle)", 15)} AS shingle
       |       FROM (SELECT source, lang, vintage, unnest(list_distinct(s)) AS shingle FROM shl)),
       |fv AS (SELECT shingle, MIN(vintage) AS fv FROM sh GROUP BY 1),
       |rolled AS (
       |  SELECT source, lang, vintage, COUNT(*) AS n_shingles,
       |    CAST(SUM(CASE WHEN fv < vintage THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
       |  FROM sh JOIN fv USING (shingle) GROUP BY 1, 2, 3)
       |SELECT c.source, c.lang, c.vintage, c.n_docs,
       |  COALESCE(n_shingles, 0) AS n_shingles, COALESCE(n_seen, 0) AS n_seen,
       |  COALESCE(n_seen, 0) * 1000 // GREATEST(COALESCE(n_shingles, 0), 1) AS seen_pm
       |FROM cells c LEFT JOIN rolled USING (source, lang, vintage)
       |ORDER BY source, lang, vintage""".stripMargin

  // --------------------------------------------------- containment

  private[graft] val RareDfMax = 5L       // rare-shingle anchor: 2 <= df <= 5
  private[graft] val ContainmentMinPm = 500L

  /** §8p(de) — asymmetric CONTAINMENT dedup: |A∩B| / min(|A|,|B|) —
    * the quote/subsumption detector Jaccard is structurally blind to (a
    * short doc fully embedded in a long one has tiny Jaccard, so the
    * minhash bands rarely collide; it is still a duplication event a
    * training pipeline must see). Candidates therefore come from a
    * DIFFERENT blocker than the LSH family: the rare-shingle inverted
    * index — pairs sharing any shingle with 2 ≤ df ≤ [[RareDfMax]].
    * An embedded quote of ≥ 3 words carries its shingles with it, and
    * at corpus scale a shingle of the quoted content is almost surely
    * rare, so containment pairs surface even at near-zero Jaccard.
    * Pair pressure is bounded by construction: Σ C(df,2) ≤
    * (RareDfMax−1)/2 · Σ df over rare shingles — the df cap IS the
    * whale guard (a boilerplate shingle shared by half the corpus
    * never reaches the pair stage).
    *
    * Scale shape: one shingle-keyed df aggregate, one rare-anchored
    * self-join (co-partitioned on the shingle), exact set intersect
    * only on candidate docs — the [[ngramJaccard]] verify economics
    * under a containment-complete-for-rare-content blocker. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    // the candidate stage is declared as a plain DISTINCT self-join and
    // COMPILED to the BandedPairs bucket operator by the engine's
    // rewrite rule — installed here so sessions built without
    // GraftExtensions (a user's own builder) get the same plan
    graft.plans.BandedPairsRewrite.install(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // r14 (opt): gated spread - both shingle passes ran inside the
    // one-task documents scan (Tables.spread doc; A/B 2.54 -> 1.86 s)
    // r15 (opt): the fill reads the staged string sets — no per-run
    // re-shingle at all
    val sh = Cached.track(stagedShingleSets(spark, dir)
      .select(col("doc_id"), explode_outer(col("ss")).as("shingle"))
      .where(col("shingle").isNotNull)
      .persist())
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= RareDfMax)
      .select("shingle")
    val occ = sh.join(rare, Seq("shingle"))
    // r15 (opt, guide §2.4/§5): the candidate-pair frame is consumed TWICE
    // (once to derive candDocs for the semi-join pushdown, once as the
    // verify join's spine) — unpersisted, the BandedPairs sort+dedup and
    // its upstream ran twice per execution (plan showed two BandedPairs
    // subtrees). The frame is tiny (bounded by the rare-shingle pair
    // count), so the persist barrier costs ~nothing and halves that stage.
    val cand = Cached.track(occ.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(occ.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct().persist())
    val candDocs = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    // same §2.4 move for the candidate shingle sets: joined twice (ss_a /
    // ss_b), so the candidate-doc tokenize+shingle pass also ran twice
    val sets = Cached.track(t.documents
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .withColumn("w", words(col("text")))
      .withColumn("s", shingles("w"))
      .select(col("doc_id"), array_distinct(col("s")).as("ss"))
      .persist())
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(col("ss_a")).cast("long").as("n_a"),
        size(col("ss_b")).cast("long").as("n_b"),
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long").as("n_inter"))
      .withColumn("containment_pm", expr("n_inter * 1000 div least(n_a, n_b)"))
      .withColumn("jaccard_pm", expr("n_inter * 1000 div (n_a + n_b - n_inter)"))
      .where(col("containment_pm") >= ContainmentMinPm)
  }

  /** §8v(dw) r11 — batch-vs-archive CONTAINMENT (the [[containment]]
    * blocker under [[incrementalDedup]]'s split): new-batch documents
    * (md5-bucket ≥ 80) score against the already-ingested archive
    * (bucket < 80) through the archive's RARE-shingle inverted index —
    * shingles with 1 ≤ archive-df ≤ [[RareDfMax]] (df = 1 anchors are
    * kept here, unlike the batch query's df ≥ 2: the arriving document
    * IS the second occurrence; the df cap is still the whale guard).
    * Candidate and verify cost are proportional to the batch, never the
    * archive; archive-internal pairs never form: candidates come from the
    * batch's shingles hitting the rare-occurrence list, and the exact
    * |A∩B| / min verify runs on those pairs only. Per-pair verdicts depend
    * only on the pair's two documents, so any split of the batch scores
    * to the same row set. */
  def containmentIncremental(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val bucket = graft.plans.VectorExpressions.hexPrefix(md5(col("doc_id").cast("string")), 8) % 100
    val docs = t.documents.select(col("doc_id"), col("text"), (bucket < 80).as("in_index"))
    // ONE archive tokenize/shingle pass: the set frame persists and both
    // the inverted-index branches and the verify stage derive from it
    // (an unpersisted second words→shingles pass re-scanned the whole
    // archive — the lshRecallAudit pitfall)
    // r15 (opt): the fill reads the staged string sets, filtered to the
    // archive bucket by the same doc_id hash the membership split uses
    val archSets = Cached.track(stagedShingleSets(spark, dir)
      .where(graft.plans.VectorExpressions.hexPrefix(
        md5(col("doc_id").cast("string")), 8) % 100 < 80)
      .persist())
    val archSh = archSets
      .select(col("doc_id"), explode_outer(col("ss")).as("shingle"))
      .where(col("shingle").isNotNull)
    val rare = archSh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") >= 1 && col("df") <= RareDfMax)
      .select("shingle")
    val rareOcc = archSh.join(rare, Seq("shingle"))
    val bsh = docs.where(!col("in_index"))
      .withColumn("w", words(col("text")))
      .withColumn("s", shingles("w"))
      .select(col("doc_id"), array_distinct(col("s")).as("ss"))
    val bocc = bsh
      .select(col("doc_id").as("batch_doc"), explode_outer(col("ss")).as("shingle"))
      .where(col("shingle").isNotNull)
    val cand = bocc
      .join(rareOcc.select(col("shingle"), col("doc_id").as("index_doc")), Seq("shingle"))
      .select("batch_doc", "index_doc").dropDuplicates("batch_doc", "index_doc")
    cand
      .join(bsh.select(col("doc_id").as("batch_doc"), col("ss").as("ss_a")), Seq("batch_doc"))
      .join(archSets.select(col("doc_id").as("index_doc"), col("ss").as("ss_b")), Seq("index_doc"))
      .select(col("batch_doc"), col("index_doc"),
        size(col("ss_a")).cast("long").as("n_batch"),
        size(col("ss_b")).cast("long").as("n_index"),
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long").as("n_inter"))
      .withColumn("containment_pm", expr("n_inter * 1000 div least(n_batch, n_index)"))
      .withColumn("jaccard_pm", expr("n_inter * 1000 div (n_batch + n_index - n_inter)"))
      .where(col("containment_pm") >= ContainmentMinPm)
  }

  private def containmentIncrementalSql =
    s"""WITH ws AS (SELECT doc_id, ${graft.functions.DuckSql.wordsOf("text")} AS w FROM documents),
       |shl AS (SELECT doc_id, CASE WHEN LEN(w) >= 3
       |    THEN list_transform(generate_series(1, LEN(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [array_to_string(w, ' ')] END AS s FROM ws),
       |bk AS (SELECT doc_id, ${graft.functions.DuckSql.docBucket} AS bucket FROM documents),
       |sh AS (SELECT DISTINCT doc_id, shingle
       |       FROM (SELECT doc_id, unnest(list_distinct(s)) AS shingle FROM shl)),
       |arch AS (SELECT s.doc_id, s.shingle FROM sh s JOIN bk USING (doc_id) WHERE bucket < 80),
       |rare AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM arch GROUP BY 1)
       |         WHERE df >= 1 AND df <= $RareDfMax),
       |bocc AS (SELECT s.doc_id, s.shingle FROM sh s JOIN bk USING (doc_id) WHERE bucket >= 80),
       |cand AS (SELECT DISTINCT b.doc_id AS batch_doc, a.doc_id AS index_doc
       |         FROM bocc b JOIN rare r ON r.shingle = b.shingle
       |         JOIN arch a ON a.shingle = b.shingle),
       |sets AS (SELECT doc_id, list_distinct(s) AS ss FROM shl),
       |v AS (
       |  SELECT batch_doc, index_doc,
       |    CAST(LEN(sa.ss) AS BIGINT) AS n_batch, CAST(LEN(sb.ss) AS BIGINT) AS n_index,
       |    CAST(LEN(list_intersect(sa.ss, sb.ss)) AS BIGINT) AS n_inter
       |  FROM cand JOIN sets sa ON sa.doc_id = batch_doc JOIN sets sb ON sb.doc_id = index_doc)
       |SELECT batch_doc, index_doc, n_batch, n_index, n_inter,
       |  n_inter * 1000 // LEAST(n_batch, n_index) AS containment_pm,
       |  n_inter * 1000 // (n_batch + n_index - n_inter) AS jaccard_pm
       |FROM v
       |WHERE n_inter * 1000 // LEAST(n_batch, n_index) >= $ContainmentMinPm
       |ORDER BY batch_doc, index_doc""".stripMargin

  private def containmentSql =
    s"""WITH ws AS (SELECT doc_id, ${graft.functions.DuckSql.wordsOf("text")} AS w FROM documents),
       |shl AS (SELECT doc_id, CASE WHEN LEN(w) >= 3
       |    THEN list_transform(generate_series(1, LEN(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [array_to_string(w, ' ')] END AS s FROM ws),
       |sh AS (SELECT DISTINCT doc_id, shingle
       |       FROM (SELECT doc_id, unnest(list_distinct(s)) AS shingle FROM shl)),
       |rare AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
       |         WHERE df >= 2 AND df <= $RareDfMax),
       |occ AS (SELECT s.shingle, s.doc_id FROM sh s JOIN rare USING (shingle)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM occ a JOIN occ b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_distinct(s) AS ss FROM shl),
       |v AS (
       |  SELECT doc_a, doc_b,
       |    CAST(LEN(sa.ss) AS BIGINT) AS n_a, CAST(LEN(sb.ss) AS BIGINT) AS n_b,
       |    CAST(LEN(list_intersect(sa.ss, sb.ss)) AS BIGINT) AS n_inter
       |  FROM cand JOIN sets sa ON sa.doc_id = doc_a JOIN sets sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_a, n_b, n_inter,
       |  n_inter * 1000 // LEAST(n_a, n_b) AS containment_pm,
       |  n_inter * 1000 // (n_a + n_b - n_inter) AS jaccard_pm
       |FROM v
       |WHERE n_inter * 1000 // LEAST(n_a, n_b) >= $ContainmentMinPm
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, Q] = Map(
    "dedup_containment" -> Q(containment _, containmentSql,
      Seq(col("doc_a"), col("doc_b"))),
    "dedup_containment_incremental" -> Q(containmentIncremental _, containmentIncrementalSql,
      Seq(col("batch_doc"), col("index_doc"))),
    "dedup_source_trend" -> Q(sourceTrend _, sourceTrendSql,
      Seq(col("source"), col("lang"), col("vintage"))),
    "dedup_source_similarity" -> Q(sourceSimilarity _, sourceSimilaritySql,
      Seq(col("src_a"), col("src_b"))),
    "dedup_cross_source" -> Q(crossSourceMatrix _, crossSourceMatrixSql,
      Seq(col("source_lo"), col("source_hi"))),
    "dedup_source_report" -> Q(sourceReport _, sourceReportSql, Seq(col("source"))),
    "dedup_exact_docs" -> Q(exactDocs _, exactDocsSql, Seq(col("keep_doc_id"))),
    "dedup_incremental" -> Q(incrementalDedup _, incrementalDedupSql,
      Seq(col("batch_doc"), col("index_doc"))),
    "dedup_crossmodal_audit" -> Q(crossModalAudit _, crossModalAuditSql, Seq(col("doc_a"), col("doc_b"))),
    "dedup_minhash_lsh" -> Q(minhashLsh _, minhashLshSql, Seq(col("doc_a"), col("doc_b"))),
    "dedup_clusters" -> Q(nearDupClusters _, nearDupClustersSql, Seq(col("doc_id"))),
    "dedup_cluster_sizes" -> Q(clusterSizes _, clusterSizesSql, Seq(col("cluster_size"))),
    "dedup_survivors" -> Q(dedupedCorpus _, dedupedCorpusSql, Seq(col("kept_doc_id"))),
    "dedup_quality_survivors" -> Q(qualitySurvivors _, qualitySurvivorsSql, Seq(col("cluster_id"))),
    "dedup_ngram_jaccard" -> Q(ngramJaccard _, ngramJaccardSql, Seq(col("doc_a"), col("doc_b"))),
    "dedup_lsh_recall" -> Q(lshRecallAudit _, lshRecallAuditSql),
    "dedup_cosine_verify" -> Q(cosineVerify _, cosineVerifySql, Seq(col("doc_a"), col("doc_b"))),
    "dedup_minhash_estimate" -> Q(minhashEstimate _, minhashEstimateSql,
      Seq(col("doc_a"), col("doc_b"))),
    "dedup_estimate_calibration" -> Q(estimateCalibration _, estimateCalibrationSql,
      Seq(col("est_decile"))),
    "dedup_source_overlap" -> Q(sourceOverlap _, sourceOverlapSql,
      Seq(col("src_a"), col("src_b"))),
    "dedup_source_overlap_incremental" -> Q(sourceOverlapIncremental _, sourceOverlapSql,
      Seq(col("src_a"), col("src_b"))),
    "docs_training_pairs" -> Q(trainingPairs _, trainingPairsSql,
      Seq(col("anchor"), col("draw"))),
    "docs_hard_negatives" -> Q(hardNegatives _, hardNegativesSql,
      Seq(col("anchor"), col("rk"))),
    "dedup_jaccard_sorted" -> Q(jaccardSorted _, jaccardSortedSql, Seq(col("doc_a"), col("doc_b"))),
    "dedup_simhash" -> Q(simhash _, simhashSql, Seq(col("doc_a"), col("doc_b"))),
  )
}
