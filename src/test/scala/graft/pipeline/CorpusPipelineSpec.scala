package graft.pipeline

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end corpus pipeline under the Dag: runs once, no-ops when
  * nothing changed, re-runs the cone on a document drop. */
class CorpusPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCfg(): CorpusConfig = {
    val root = TestSpark.tempDir("graft-corpus-pipe")
    val docsDir = s"$root/docs"
    spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .write.parquet(docsDir)
    CorpusConfig(docsDir, s"$root/work", root.resolve("signals"))
  }

  test("full run, no-op rerun, and cone re-run on a new document drop") {
    val cfg = freshCfg()
    val first = CorpusPipeline.run(spark, cfg)
    assert(first.ran.toSet == allTasks.toSet && first.ran.size == allTasks.size)
    assert(first.skipped.isEmpty)

    // outputs are consistent: dedup ⊆ gated, packed rows = deduped rows,
    // rebalance conserves rows+tokens, skew has one row per shard
    val gated = spark.read.parquet(s"${cfg.workDir}/gated")
    val deduped = spark.read.parquet(s"${cfg.workDir}/deduped")
    val packed = spark.read.parquet(s"${cfg.workDir}/packed")
    val balanced = spark.read.parquet(s"${cfg.workDir}/balanced")
    assert(deduped.count() <= gated.count() && deduped.count() > 0)
    assert(packed.count() == deduped.count())
    assert(balanced.count() == packed.count())
    assert(balanced.agg(sum("n_tokens")).head.getLong(0) ==
      packed.agg(sum("n_tokens")).head.getLong(0))
    val skew = spark.read.parquet(s"${cfg.workDir}/skew")
    assert(skew.count() == balanced.select("shard").distinct().count())
    // chunk index and token table cover exactly the deduped corpus (the
    // gate's min-token floor guarantees every survivor tokenizes)
    val chunks = spark.read.parquet(s"${cfg.workDir}/chunks")
    assert(chunks.select("doc_id").distinct().count() == deduped.count())
    val tokens = spark.read.parquet(s"${cfg.workDir}/tokens")
    assert(tokens.count() == deduped.count())
    val vocab = spark.read.parquet(s"${cfg.workDir}/vocab")
    assert(vocab.count() > 0 && vocab.count() <= 64)
    // the trained merges are a first-class artifact: full rank sequence,
    // and trained on the DEDUPED corpus (left/right of rank 1 must be
    // symbols that occur there)
    val bpe = spark.read.parquet(s"${cfg.workDir}/bpe_merges")
    assert(bpe.count() == graft.operators.CorpusQueries.BpeMergeRounds)
    assert(bpe.select("rank").collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to graft.operators.CorpusQueries.BpeMergeRounds))
    // freq governance profile: ≤32 rows per source, MG bound vs the
    // deduped corpus's exact per-source term counts
    val freq = spark.read.parquet(s"${cfg.workDir}/freq")
    val perSource = freq.groupBy("grain").count().collect().map(_.getLong(1))
    assert(perSource.nonEmpty && perSource.forall(_ <= 32))
    val exactTok = deduped.select(col("source"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("tok"))
      .groupBy("source", "tok").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    freq.collect().foreach { r =>
      val (g, k, cnt, err) = (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
      assert(cnt <= exactTok((g, k)) && cnt >= exactTok((g, k)) - err, s"$g/$k")
    }

    // unchanged input → complete no-op
    val second = CorpusPipeline.run(spark, cfg)
    assert(second.ran.isEmpty)
    assert(second.skipped.toSet == allTasks.toSet)

    // drop new documents → the whole cone re-runs
    spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .where(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .write.mode("append").parquet(cfg.docsDir)
    val third = CorpusPipeline.run(spark, cfg)
    assert(third.ran.toSet == allTasks.toSet)
  }

  private val allTasks = Seq("quality_gate", "dedup", "pack", "rebalance", "skew_report",
    "chunk_index", "tokenize", "bpe_train", "freq_profile")
  private val dedupCone = Seq("dedup", "pack", "rebalance", "skew_report",
    "chunk_index", "tokenize", "bpe_train", "freq_profile")

  test("§8f(v): policy file drives the gate; a config edit re-runs the cone") {
    val cfg0 = freshCfg()
    val confPath = java.nio.file.Path.of(cfg0.docsDir).getParent.resolve("corpus_config.json")
    def writeConf(minQuality: Double): Unit =
      java.nio.file.Files.writeString(confPath,
        s"""{ "default": {"min_quality": $minQuality} }""")
    writeConf(0.0)
    val cfg = cfg0.copy(sourcesConfigPath = Some(confPath.toString))

    val first = CorpusPipeline.run(spark, cfg)
    assert(first.ran.toSet == allTasks.toSet)
    // min_quality 0 admits everything the token/lang gates admit — the
    // gate is really reading the file, not the fixed 0.5 default
    val docs = spark.read.parquet(cfg.docsDir)
    val lax = spark.read.parquet(s"${cfg.workDir}/gated").count()
    assert(lax == CorpusPolicy.scored(docs)
      .where(col("n_tokens") >= 10 && col("lang") =!= "zh").count())

    // unchanged config + data → no-op
    val second = CorpusPipeline.run(spark, cfg)
    assert(second.ran.isEmpty && second.skipped.toSet == allTasks.toSet)

    // tighten the threshold → the whole cone re-runs off the config edit
    writeConf(0.6)
    val third = CorpusPipeline.run(spark, cfg)
    assert(third.ran.toSet == allTasks.toSet)
    assert(spark.read.parquet(s"${cfg.workDir}/gated").count() < lax)
  }

  test("§8f(w): near-dup stage replaces exact dedup behind the same task id") {
    val cfg = freshCfg()
    val exact = CorpusPipeline.run(spark, cfg)
    assert(exact.ran.toSet == allTasks.toSet)
    val exactKept = spark.read.parquet(s"${cfg.workDir}/deduped")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // switching the dedup mode invalidates dedup's cone but NOT the gate
    val near = CorpusPipeline.run(spark, cfg.copy(nearDup = true))
    assert(near.skipped == Seq("quality_gate"))
    assert(near.ran.toSet == dedupCone.toSet)

    // survivors = LSH cluster reps of the gated corpus (min doc_id per
    // component), recomputed independently here
    val gated = spark.read.parquet(s"${cfg.workDir}/gated")
    val pairs = graft.operators.DedupQueries.lshPairsOf(gated)
    val want = graft.operators.DedupQueries
      .clustersOf(gated.select(col("doc_id")), pairs)
      .where(col("doc_id") === col("cluster_rep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"${cfg.workDir}/deduped")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
    // near-dup absorbs at least the exact duplicates
    assert(got.size <= exactKept.size)

    // same mode again → full no-op (the mode marker is part of the signal)
    val again = CorpusPipeline.run(spark, cfg.copy(nearDup = true))
    assert(again.ran.isEmpty && again.skipped.toSet == allTasks.toSet)
  }

  test("poll-gated external load: runs after rebalance with retries, skips when nothing changed") {
    import ExternalTask._
    val cfg0 = freshCfg()
    var submits = 0
    var polls = 0
    val log = new scala.collection.concurrent.TrieMap[String, Attempts]
    val flaky = ExternalLoad(
      submit = () => { submits += 1; if (submits == 1) sys.error("503") },
      poll = () => { polls += 1; if (polls % 2 == 1) PollStatus.Pending else PollStatus.Completed("serving-v1") },
      policy = RetryPolicy(submitAttempts = 3, maxPolls = 5, delayMs = 1L, sleep = _ => ()),
      attemptLog = log)
    val cfg = cfg0.copy(load = Some(flaky))
    val first = CorpusPipeline.run(spark, cfg)
    assert(first.ran.contains("load"))
    assert(first.ran.indexOf("load") > first.ran.indexOf("rebalance"),
      "load must wait for the balanced shards")
    assert(log("load") == Attempts(submits = 2, polls = 2))
    // unchanged corpus + unchanged service signal → the external trigger
    // is NOT re-fired (the no-op property crosses the service boundary)
    val before = submits
    val second = CorpusPipeline.run(spark, cfg)
    assert(second.ran.isEmpty && second.skipped.contains("load"))
    assert(submits == before, "a skipped load must not touch the external service")
  }
}
