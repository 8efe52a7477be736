package graft.pipeline

import java.nio.file.Path

import graft.operators.{CorpusQueries, DedupQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-corpus pipeline configuration.
  *
  * `sourcesConfigPath` (§8f(v)) points at the JSON policy file
  * ([[CorpusPolicy]]) — per-source gate thresholds and shingle sizes,
  * the corpus analogue of the reference's sources_config.json. Absent →
  * the fixed default policy (identical behavior to the unconfigured
  * pipeline). `nearDup` (§8f(w)) swaps the exact-hash dedup stage for
  * minhash-LSH cluster survivors behind the same task id. */
final case class CorpusConfig(
    docsDir: String,    // input documents parquet directory
    workDir: String,    // staged outputs (gated/deduped/packed/balanced/skew)
    signalsDir: Path,
    sourcesConfigPath: Option[String] = None,
    nearDup: Boolean = false,
    load: Option[ExternalLoad] = None)

/** §8j(aw) — external serving-load hookup: after rebalance, `submit`
  * triggers the external system's load of the balanced shards and `poll`
  * reports its status, both driven through [[ExternalTask]]'s bounded
  * retry/poll (the reference's post-load API step: trigger the after-load
  * update, poll `update_status` to completion). The completed load's
  * signal is the external system's content signature, so downstream
  * consumers — and the no-op-rerun property — extend across the service
  * boundary. `attemptLog` feeds [[RunReport.land]]'s retry columns. */
final case class ExternalLoad(
    submit: () => Unit,
    poll: () => ExternalTask.PollStatus,
    policy: ExternalTask.RetryPolicy = ExternalTask.RetryPolicy(),
    attemptLog: scala.collection.concurrent.TrieMap[String, ExternalTask.Attempts] =
      new scala.collection.concurrent.TrieMap)

/** The training-data pipeline end-to-end, composed from graft operators
  * under the same [[Dag]] scheduler as the reference-shaped ETL
  * ([[GraftPipeline]]): the corpus analogue of sync → transform → load.
  *
  *  1. `quality_gate` — the `docs_quality_filter` scoring
  *     ([[CorpusPolicy.scored]], SAME columns): drop low-quality docs.
  *     With a policy file, thresholds resolve per source
  *     ([[CorpusPolicy.scoredWith]] — broadcast join, zero extra shuffles).
  *  2. `dedup` — exact content dedup (min doc_id survives per md5(text)),
  *     or with `nearDup` the minhash-LSH near-dup survivors (cluster rep
  *     = min doc_id, same semantics as the registered `dedup_survivors`).
  *     Per-source shingle sizes from the policy partition the corpus into
  *     size groups; candidates form within a group (signatures with
  *     different shingle sizes are not comparable), one banding pass per
  *     distinct size.
  *  3. `pack` — sequence packing of the deduped corpus
  *     ([[CorpusQueries.packAll]]).
  *  4. `rebalance` — whole-sequence shard rebalance ([[Shards.rebalance]]).
  *  5. `skew_report` — the per-shard load table after rebalancing.
  *
  * Done-signals are output-content signatures ([[GraftPipeline.doneSignal]]),
  * so an unchanged corpus is a no-op run and a drop of new documents
  * re-runs exactly the downstream cone — the property that matters when
  * step 3 onward is cheap metadata but steps 1–2 re-scan 100 TB. The
  * POLICY is part of the gate/dedup input signals (the reference treats
  * sources_config.json the same way): editing a threshold re-runs the
  * cone even though no data changed. */
object CorpusPipeline {

  def build(spark: SparkSession, cfg: CorpusConfig): Dag = {
    graft.plans.VectorExpressions.register(spark) // hexPrefix in the shard bucket
    def sig(dir: String): String = GraftPipeline.doneSignal(spark, dir)
    // re-loaded per probe: an edited config must invalidate the cone
    def policy(): CorpusPolicy =
      cfg.sourcesConfigPath.map(CorpusPolicy.load).getOrElse(CorpusPolicy())

    def qualityGate(): String = {
      val docs = spark.read.parquet(cfg.docsDir)
      val keep = CorpusPolicy.scoredWith(docs, policy())
        .where(col("keep")).select(col("doc_id"))
      docs.join(keep, Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"${cfg.workDir}/gated")
      sig(s"${cfg.workDir}/gated")
    }

    def exactDedup(gated: DataFrame): DataFrame =
      gated.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")

    /** §8f(w): near-dup survivors — LSH candidates per shingle-size group,
      * one connected-component pass over the union of pairs, cluster rep
      * (min doc_id) survives. Unconfigured sources use the default size. */
    def nearDupSurvivors(gated: DataFrame, p: CorpusPolicy): DataFrame = {
      val groups = p.shingleSizeGroups
      val overridden = groups.values.flatten.toSeq
      val defaultGroup =
        if (overridden.isEmpty) gated
        else gated.where(!col("source").isin(overridden: _*))
      val pairs = (DedupQueries.lshPairsOf(defaultGroup, p.shingleSize) +:
        groups.toSeq.sortBy(_._1).map { case (sz, srcs) =>
          DedupQueries.lshPairsOf(gated.where(col("source").isin(srcs: _*)), sz)
        }).reduce(_ unionByName _)
      DedupQueries.clustersOf(gated.select(col("doc_id")), pairs)
        .where(col("doc_id") === col("cluster_rep"))
        .select("doc_id")
    }

    def dedup(): String = {
      val gated = spark.read.parquet(s"${cfg.workDir}/gated")
      val keep = if (cfg.nearDup) nearDupSurvivors(gated, policy()) else exactDedup(gated)
      gated.join(keep, Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"${cfg.workDir}/deduped")
      sig(s"${cfg.workDir}/deduped")
    }

    def pack(): String = {
      CorpusQueries.packAll(spark.read.parquet(s"${cfg.workDir}/deduped"))
        .write.mode("overwrite").parquet(s"${cfg.workDir}/packed")
      sig(s"${cfg.workDir}/packed")
    }

    def rebalance(): String = {
      Shards.rebalance(spark.read.parquet(s"${cfg.workDir}/packed"))
        .write.mode("overwrite").parquet(s"${cfg.workDir}/balanced")
      sig(s"${cfg.workDir}/balanced")
    }

    /** CDC chunk table of the deduped corpus — the RAG / chunk-dedup
      * substrate, derived once per corpus vintage (zero-shuffle plan). */
    def chunkIndex(): String = {
      CorpusQueries.cdcChunksOf(spark.read.parquet(s"${cfg.workDir}/deduped"))
        .write.mode("overwrite").parquet(s"${cfg.workDir}/chunks")
      sig(s"${cfg.workDir}/chunks")
    }

    /** Vocabulary fit + id mapping of the deduped corpus. The vocab is a
      * first-class artifact (persisted next to the ids): a NEW corpus
      * vintage refits it, and the signature chain re-runs exactly this
      * cone — the tokenizer-retrain discipline, content-addressed. */
    def tokenize(): String = {
      val deduped = spark.read.parquet(s"${cfg.workDir}/deduped")
      CorpusQueries.vocabOf(deduped, 64).coalesce(1)
        .write.mode("overwrite").parquet(s"${cfg.workDir}/vocab")
      CorpusQueries.tokenIdsOf(deduped, spark.read.parquet(s"${cfg.workDir}/vocab"))
        .write.mode("overwrite").parquet(s"${cfg.workDir}/tokens")
      sig(s"${cfg.workDir}/vocab") + sig(s"${cfg.workDir}/tokens")
    }

    /** BPE merge training on the DEDUPED corpus — a tokenizer must not
      * be fitted on duplicated text (dup clusters would vote for their
      * own boilerplate pairs; this ordering is why dedup precedes
      * tokenizer training in every published pipeline). Merges are a
      * first-class artifact like the vocab: the signature chain
      * retrains exactly when the deduped corpus changes. */
    def bpeTrain(): String = {
      implicit val s: SparkSession = spark
      CorpusQueries.bpeMergesOf(spark.read.parquet(s"${cfg.workDir}/deduped"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"${cfg.workDir}/bpe_merges")
      sig(s"${cfg.workDir}/bpe_merges")
    }

    /** §8k — term-frequency governance profile: the capacity-32
      * Misra-Gries summary per SOURCE over the deduped corpus
      * ([[TopFreq]]) — the bounded-size "what dominates each source"
      * artifact a mixture designer reads before setting rates, with the
      * undercount ledger carried as data. k rows per source no matter
      * the corpus size; derived after dedup so duplicated boilerplate
      * cannot vote. */
    def freqProfile(): String = {
      val deduped = spark.read.parquet(s"${cfg.workDir}/deduped")
      val toks = deduped.select(col("source"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("tok"))
      TopFreq.build(toks, col("tok"), col("source"), 32)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"${cfg.workDir}/freq")
      sig(s"${cfg.workDir}/freq")
    }

    def skewReport(): String = {
      val balanced = spark.read.parquet(s"${cfg.workDir}/balanced")
      val loads = balanced.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      loads.withColumn("skew_pct",
          round((col("total_tokens") - avg(col("total_tokens"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy()))
            * lit(100.0) / avg(col("total_tokens"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy()), 4))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"${cfg.workDir}/skew")
      sig(s"${cfg.workDir}/skew")
    }

    // gate thresholds gate the docs; dedup mode + shingle sizes shape the
    // dedup output — each task's external input carries exactly the policy
    // slice it consumes, so a config edit re-runs the right cone
    def gatePolicySig(): String = {
      val p = policy()
      (p.minQuality, p.minTokens, p.dropLangs,
        p.perSource.toSeq.sortBy(_._1).map { case (s, o) =>
          (s, o.minQuality, o.minTokens, o.dropLangs)
        }).toString
    }
    def dedupPolicySig(): String =
      if (!cfg.nearDup) "exact"
      else s"neardup:${policy().shingleSize}:${policy().shingleSizeGroups.toSeq.sortBy(_._1)}"

    val core = Seq(
      Task("quality_gate", Nil, run = qualityGate _,
        externalInput = () => s"${sig(cfg.docsDir)}\n${gatePolicySig()}"),
      Task("dedup", Seq("quality_gate"), dedup _,
        externalInput = dedupPolicySig _),
      Task("pack", Seq("dedup"), pack _),
      Task("rebalance", Seq("pack"), rebalance _),
      Task("skew_report", Seq("rebalance"), skewReport _),
      Task("chunk_index", Seq("dedup"), chunkIndex _),
      Task("tokenize", Seq("dedup"), tokenize _),
      Task("bpe_train", Seq("dedup"), bpeTrain _),
      Task("freq_profile", Seq("dedup"), freqProfile _))
    // poll-gated external load of the balanced shards (when configured):
    // ordinary Dag task, so an unchanged shard set skips the external
    // trigger entirely and a new corpus vintage re-loads exactly once
    val loadTask = cfg.load.map(l =>
      ExternalTask.task("load", Seq("rebalance"), l.submit, l.poll,
        l.policy, l.attemptLog))
    new Dag(core ++ loadTask)
  }

  /** Run with persistent `.done-<task>` signals under cfg.signalsDir. */
  def run(spark: SparkSession, cfg: CorpusConfig): DagReport =
    build(spark, cfg).execute(new FileSignalStore(cfg.signalsDir))
}
