package graft.streaming

import graft.functions.TextFunctions.{shingles, words}
import graft.pipeline.CorpusPolicy
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document scoring and incremental dedup written so the same code runs
  * on batch and streaming frames: the quality columns the batch
  * `docs_quality_filter` and the corpus pipeline's gate share, and the
  * arriving-documents-vs-persisted-index joins behind the incremental
  * dedup and containment queries.
  *
  * Everything here is either stateless per-row (the scoring — trivially
  * streaming-safe, scales with ingest bandwidth) or keyed state with the
  * documented growth bound (the pair-level dedup of index hits).
  */
object DocStreams {

  /** The batch quality columns (doc_id, lang, quality, n_tokens, keep) —
    * single definition used by the batch operator and the stream gate.
    * Works unchanged on batch and streaming frames (pure row-local
    * expressions; nothing here needs a watermark). */
  def scored(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("lang"), qualityCol.as("quality"),
        nTokensCol.as("n_tokens"))
      .withColumn("keep",
        col("quality") >= 0.5 && col("n_tokens") >= 10 && col("lang") =!= "zh")
  }

  /** The shared row-local scoring expressions (no thresholds). */
  private def qualityCol: Column = {
    val n = length(col("text")).cast("double")
    val punct = (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?()]", ""))).cast("double")
    val wcol = words(col("text"))
    val nTok = size(wcol).cast("double")
    round(least(n / lit(500.0), lit(1.0)) * 0.3
      + (lit(1.0) - punct / n) * 0.4
      + (size(filter(wcol, w => w.isin("the", "a", "of", "to", "and", "in", "is", "for"))) / nTok) * 0.3, 6)
  }

  private def nTokensCol: Column = size(words(col("text"))).cast("long")

  /** §8f(v) — the config-driven gate: SAME scoring expressions as
    * [[scored]], thresholds resolved per source from a [[CorpusPolicy]].
    * The policy reaches the plan as a broadcast left join on `source`
    * (bounded: one row per *configured* source) with the defaults as
    * coalesce fallbacks — unlisted sources gate exactly like the
    * fixed-threshold [[scored]] when the policy is all defaults
    * (spec-pinned). Row-local + broadcast ⇒ streaming-safe in append
    * mode and shuffle-free at any corpus size. */
  def scoredWith(docs: DataFrame, policy: CorpusPolicy): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("lang"),
      qualityCol.as("quality"), nTokensCol.as("n_tokens"))
    def keepCond(mq: Column, mt: Column, dl: Column): Column =
      col("quality") >= mq && col("n_tokens") >= mt && !array_contains(dl, col("lang"))
    if (policy.perSource.isEmpty)
      base.withColumn("keep", keepCond(lit(policy.minQuality),
        lit(policy.minTokens), typedlit(policy.dropLangs)))
    else {
      val spark = docs.sparkSession
      import spark.implicits._
      val ov = policy.perSource.keys.toSeq.sorted.map { src =>
        val (mq, mt, dl, _) = policy.resolve(src)
        (src, mq, mt, dl)
      }.toDF("source", "p_mq", "p_mt", "p_dl")
      base.join(broadcast(ov), Seq("source"), "left")
        .withColumn("keep", keepCond(
          coalesce(col("p_mq"), lit(policy.minQuality)),
          coalesce(col("p_mt"), lit(policy.minTokens)),
          coalesce(col("p_dl"), typedlit(policy.dropLangs))))
        .drop("p_mq", "p_mt", "p_dl")
    }
  }

  /** §8v(dw) r11 — streaming/incremental CONTAINMENT scorer, shared by
    * the registered batch query
    * ([[graft.operators.DedupQueries.containmentIncremental]]) and the
    * bucketed-catalog serving path: arriving
    * documents (doc_id, text) score against the archive's persisted
    * rare-shingle occurrence list (candidate blocker — 1 ≤ archive-df ≤
    * RareDfMax bounds pair pressure; the arriving doc is the second
    * occurrence a df=1 anchor needs) and the archive's shingle-set table
    * (exact |A∩B| / min verify). Cost per cycle ∝ the batch: the
    * archive-sized frames are joined, never rebuilt; per-pair verdicts
    * depend only on the pair's two documents, so any micro-batch split
    * replays to the identical row set. */
  def incrementalContainment(stream: DataFrame, rareOcc: DataFrame,
                             indexSets: DataFrame): DataFrame = {
    val bsh = stream
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
      .join(indexSets.select(col("doc_id").as("index_doc"), col("ss").as("ss_b")), Seq("index_doc"))
      .select(col("batch_doc"), col("index_doc"),
        size(col("ss_a")).cast("long").as("n_batch"),
        size(col("ss_b")).cast("long").as("n_index"),
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long").as("n_inter"))
      .withColumn("containment_pm", expr("n_inter * 1000 div least(n_batch, n_index)"))
      .withColumn("jaccard_pm", expr("n_inter * 1000 div (n_batch + n_index - n_inter)"))
      .where(col("containment_pm") >= graft.operators.DedupQueries.ContainmentMinPm)
  }

  /** §8c(l) — streaming incremental near-dup: the batch
    * [[graft.operators.DedupQueries.incrementalDedup]] band join run as
    * documents land, against a PERSISTED index manifest
    * ([[graft.operators.DedupQueries.persistDedupIndex]]: band signatures
    * + shingle sets of the already-ingested corpus).
    *
    * Per arriving document everything is row-local (the SAME
    * [[graft.operators.DedupQueries.bandExplode]] columns as batch), the
    * candidate step is a stream-static equi-join on (band_id, band_hash)
    * — the index side never re-hashes — and the Jaccard verify joins only
    * candidate rows against the persisted shingle sets. The one stateful
    * op is the pair-level dropDuplicates (multi-band hits of the same
    * pair); its state grows with the number of DISTINCT candidate pairs
    * seen (the honest bound for content dedup without an event-time
    * horizon), and a deployment
    * with an ingest-time horizon switches it to
    * `dropDuplicatesWithinWatermark`.
    *
    * Emits (batch_doc, index_doc, jaccard) for verified near-dups — the
    * stream twin of the batch `dedup_incremental` result restricted to
    * the streamed documents (spec-pinned). */
  def incrementalDedup(stream: DataFrame, indexSigs: DataFrame,
                       indexShingles: DataFrame): DataFrame = {
    val sh = stream
      .withColumn("w", words(col("text")))
      .withColumn("s", shingles("w"))
      .withColumn("ss", array_distinct(col("s")))
      .select("doc_id", "s", "ss")
    val banded = graft.operators.DedupQueries.bandExplode(sh)
    val cand = banded
      .join(indexSigs.select(col("doc_id").as("index_doc"), col("band_id"), col("band_hash")),
        Seq("band_id", "band_hash"))
      .select(col("doc_id").as("batch_doc"), col("index_doc"), col("ss").as("ss_a"))
      .dropDuplicates("batch_doc", "index_doc")
    cand
      .join(indexShingles.select(col("doc_id").as("index_doc"), col("ss").as("ss_b")),
        Seq("index_doc"))
      .select(col("batch_doc"), col("index_doc"),
        round(size(array_intersect(col("ss_a"), col("ss_b")))
          / size(array_union(col("ss_a"), col("ss_b"))), 6).as("jaccard"))
      .where(col("jaccard") >= graft.operators.DedupQueries.JaccardThreshold)
  }
}
