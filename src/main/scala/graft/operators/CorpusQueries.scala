package graft.operators

import graft.Q
import graft.functions.DuckSql
import graft.functions.TextFunctions.{shingles, words}
import graft.plans.VectorExpressions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 training-corpus operators: the checks a pretraining data
  * pipeline runs between ingestion and tokenization — benchmark
  * contamination (train/test n-gram overlap), chunk-level exact dedup
  * (RefinedWeb-style line dedup generalized to fixed token windows),
  * within-document repetition scoring, and the corpus mixture report that
  * drives sampling weights.
  *
  * All splits derive from the one deterministic md5-bucket convention
  * (docs_split_sample): bucket(doc) = first-8-hex(md5(doc_id)) mod 100,
  * <80 train / <90 val / else test. Shingling is the shared 3-gram word
  * shingle of the dedup family, so contamination numbers are directly
  * comparable with near-dup scores.
  */
object CorpusQueries {

  /** Deterministic 0..99 doc bucket (native codegen'd HexPrefix — same
    * value as the oracle's [[DuckSql.docBucket]]). */
  private def docBucket: Column =
    VectorExpressions.hexPrefix(md5(col("doc_id").cast("string")), 8) % 100

  // -------------------------------------------------------- contamination

  /** Benchmark contamination scan: for every TEST-split document, the
    * fraction of its distinct 3-gram shingles that also occur anywhere in
    * the TRAIN split. Shape at 100 TB: both sides are map-side shingle
    * explosions; the single shuffle keys on the shingle string (uniformly
    * distributed), with the train side map-side-deduped by the partial
    * aggregate before the exchange. The test side is 10% of the corpus by
    * construction. (The probabilistic scale path — a Bloom filter over
    * train shingles broadcast to the test scan — trades this exactness
    * for zero shuffle; this operator is the exact variant.) */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[TextQueries.stagedDocTokens]])
    val docs = TextQueries.stagedDocTokens(spark, dir).withColumn("bucket", docBucket)
    def shingleSet(d: DataFrame): DataFrame = d
      .where(size(col("w")) > 0)
      .withColumn("sh", explode(array_distinct(shingles("w"))))
      .select(col("doc_id"), col("sh"))
    val trainSh = shingleSet(docs.where(col("bucket") < 80))
      .select(col("sh")).distinct().withColumn("hit", lit(1))
    val testSh = shingleSet(docs.where(col("bucket") >= 90))
    testSh.join(trainSh, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_contaminated"))
      .withColumn("contamination_pct",
        round(col("n_contaminated") * lit(100.0) / col("n_shingles"), 4))
  }

  private val contaminationSql = {
    s"""WITH bk AS (SELECT doc_id, text, ${DuckSql.docBucket} AS bucket FROM documents),
       |ws AS (SELECT doc_id, bucket, ${DuckSql.wordsOf("text")} AS w FROM bk),
       |sh AS (SELECT doc_id, bucket, ${DuckSql.shinglesOf("w")} AS s FROM ws WHERE LEN(w) > 0),
       |train_sh AS (SELECT DISTINCT unnest(s) AS sh FROM sh WHERE bucket < 80),
       |test_sh AS (SELECT DISTINCT doc_id, unnest(s) AS sh FROM sh WHERE bucket >= 90)
       |SELECT t.doc_id, COUNT(*) AS n_shingles, COUNT(tr.sh) AS n_contaminated,
       |  ROUND(COUNT(tr.sh) * 100.0 / COUNT(*), 4) AS contamination_pct
       |FROM test_sh t LEFT JOIN train_sh tr ON t.sh = tr.sh
       |GROUP BY t.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------- schedule audit

  /** The per-document TRAINING MANIFEST — the schedule family composed
    * into the one table a training run materializes: curriculum position
    * (phase, step), the importance-sampling verdict, the epoch repeat
    * count, and the resulting token contribution (zero when sampled
    * out). Fully oracled: each component is SQL-expressible, so the
    * composite is too — the hash gate proves the three deterministic
    * mechanisms agree doc-by-doc across engines. Plan shape: the
    * curriculum subplan's one keyed shuffle dominates; the importance
    * verdict and epoch tier are recomputed map-side in the same pass
    * rather than re-scanned (all three derive from the same row). */
  def scheduleAudit(spark: SparkSession, dir: String): DataFrame = {
    val cur = curriculum(spark, dir)
    val imp = importanceSample(spark, dir).select(col("doc_id"), lit(true).as("kept"))
    val ep = epochPlan(spark, dir).select(col("doc_id"), col("repeats"))
    cur
      .join(imp, Seq("doc_id"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(false)))
      .join(ep, Seq("doc_id"))
      .withColumn("tokens_contributed",
        when(col("kept"), col("n_tokens") * col("repeats")).otherwise(lit(0L)).cast("long"))
      .select(col("doc_id"), col("phase"), col("step"), col("kept"),
        col("repeats"), col("n_tokens"), col("tokens_contributed"))
  }

  private lazy val scheduleAuditSql =
    s"""WITH cur AS (${curriculumSql.replace("ORDER BY doc_id", "")}),
       |imp AS (${importanceSampleSql.replace("ORDER BY doc_id", "")}),
       |ep AS (${epochPlanSql.replace("ORDER BY doc_id", "")})
       |SELECT c.doc_id, c.phase, c.step, (i.doc_id IS NOT NULL) AS kept,
       |  e.repeats, c.n_tokens,
       |  CAST(CASE WHEN i.doc_id IS NOT NULL THEN c.n_tokens * e.repeats
       |       ELSE 0 END AS BIGINT) AS tokens_contributed
       |FROM cur c
       |LEFT JOIN imp i ON c.doc_id = i.doc_id
       |JOIN ep e ON c.doc_id = e.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // -------------------------------------------------------- BPE trainer

  /** Number of merge rounds the registered query trains (a real run
    * trains ~30k; the loop is identical, each round one bounded job). */
  private[graft] val BpeMergeRounds = 12

  /** Distributed BPE merge training — the missing third of the tokenizer
    * story (train → fit → serve): learns the top-K byte-pair merges from
    * the corpus, Sennrich-style.
    *
    * The scale design is the classic BPE factoring: the CORPUS is
    * touched exactly once (the word-frequency groupBy); every merge
    * round then runs over the DISTINCT-WORD table — |W| rows, bounded by
    * the language, orders of magnitude smaller than the corpus — as one
    * pair-explode + one keyed sum, with only the single argmax row ever
    * reaching the driver (the IVF-centroid discipline: per-round driver
    * state is one pair, total K rows). The merge apply is a pure
    * `aggregate` fold over each word's symbol array — left-to-right,
    * non-overlapping by construction (a merged token can never equal its
    * own left half), no UDF. Ties break (freq desc, pair lexicographic)
    * so the merge sequence is deterministic on any cluster.
    *
    * Rows-only correctness check by design (the merge recurrence is not
    * expressible as one DuckDB query); the REAL verification is the spec
    * pinning the full merge sequence against an independent driver-side
    * reference BPE at sf0.001. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r14 (opt): the merge loop is a chain of micro-jobs over the
    // language-bounded distinct-word table — below the size gate AQE's
    // per-stage re-planning is the dominant term (measured 2.09 → 1.74 s
    // at sf0.1 min-of-2, merge sequence identical).
    LoopConf.noAqeBelow(spark, Stage.bytes(s"$dir/documents.parquet")) {
      bpeMergesOf(Tables(dir).documents)
    }
  }

  /** The trainer over any document frame with a `text` column — the
    * pipeline trains on the DEDUPED corpus (duplicated text must not
    * vote for its own boilerplate pairs). */
  def bpeMergesOf(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val wordFreq = docs
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        filter(split(col("word"), ""), c => c =!= "").as("syms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = wordFreq
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= BpeMergeRounds && !exhausted) {
      val top = cur
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), j -> struct(element_at(syms, j) AS a, element_at(syms, j + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("w"))
        .orderBy(col("w").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, w) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, a, b, w))
        val (la, lb) = (lit(a), lit(b))
        // r14 (opt): PERSIST each round's symbol table. The higher-order
        // `aggregate` fold is interpreted (CodegenFallback); left lazy,
        // round k re-evaluates all k−1 earlier folds on every row —
        // Σk = O(K²) interpreted fold passes across training (measured:
        // the last rounds' pair-count jobs slow down linearly). Cached,
        // every round evaluates exactly ONE fold over the previous
        // round's materialized |W|-row table; round k's next `top`
        // collect materializes it. Same merge sequence by construction.
        cur = Cached.track(cur.withColumn("syms",
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, sym) => when(size(acc) > 0
                && element_at(acc, -1) === la && sym === lb,
              concat(slice(acc, lit(1), size(acc) - 1), array(concat(la, lb))))
              .otherwise(concat(acc, array(sym)))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        round += 1
      }
    }
    wordFreq.unpersist()
    merges.result().toDF("rank", "left", "right", "pair_freq")
      .withColumn("merged", concat(col("left"), col("right")))
      .select(col("rank"), col("left"), col("right"), col("merged"), col("pair_freq"))
  }

  /** Trained merge list as a PERSISTED artifact (the `ann_*_served`
    * encode-once discipline): trained once per corpus state behind the
    * content-signature gate, read back ordered. A tokenizer is trained
    * once and served forever — reruns must not pay the training jobs. */
  def trainedBpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_bpe_${Integer.toHexString(dir.hashCode)}"
    Stage.ensure(path, s"$dir/documents.parquet") {
      bpeMerges(spark, dir).write.mode("overwrite").parquet(path)
    }
    graft.sources.Tables.relationAt(spark, path).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
  }

  /** BPE segmentation SERVING — the trained merges applied to the corpus:
    * per-doc subword counts and the chars-per-subword compression ratio
    * (the number a tokenizer team actually watches). Same factoring as
    * training: the merge folds run over the DISTINCT-WORD table only,
    * the segmented vocabulary broadcasts back to the token stream
    * (docs_tokenize_ids discipline), and the merges arrive from the
    * persisted artifact, not a retrain. Rows-only at the oracle; the
    * spec asserts reconstruction (subwords concat back to every word)
    * and exact agreement with the reference segmenter. */
  def bpeSegment(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val merges = trainedBpeMerges(spark, dir)
    val docs = Tables(dir).documents
    val seg0 = docs.select(explode(words(col("text"))).as("word")).distinct()
      .withColumn("syms", filter(split(col("word"), ""), c => c =!= ""))
    val seg = foldMerges(seg0, merges)
    docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(broadcast(seg), "word")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(col("syms"))).cast("long").as("n_subwords"),
        sum(length(col("word"))).cast("long").as("n_chars"))
      .withColumn("chars_per_subword",
        round(col("n_chars").cast("double") / col("n_subwords"), 4))
  }

  /** Subword vocabulary size for the id encoding — truncated BELOW the
    * corpus's reachable subword count (24 base chars + 12 merges ≈ 36)
    * so OOV is a real case at every test SF, mirroring a production
    * vocab cap. */
  private[graft] val SubwordVocabSize = 24

  /** Subword-ID encoding — the tensor a trainer actually consumes,
    * closing the tokenizer ring (train → segment → encode): the trained
    * merges segment the distinct-word table once, subwords rank into a
    * corpus-frequency vocabulary (top-K, deterministic ties), every word
    * maps to its id sequence, and documents reduce to id-sequence stats
    * plus the head — the docs_tokenize_ids shape, at the subword unit.
    * All vocabulary objects are word/subword-bounded (broadcast); the
    * corpus-side work is one posexplode + keyed re-aggregation on
    * doc_id. Subwords beyond the top-K map to 0 (OOV) — real, because
    * the vocab is truncated like any production tokenizer's. */
  /** Apply a merge list to a frame's `syms` array column, in rank order
    * (shared by the segment / ids queries and the vocab fitter). */
  private[graft] def foldMerges(df: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(df) { case (d, (a, b)) =>
      val (la, lb) = (lit(a), lit(b))
      d.withColumn("syms",
        aggregate(col("syms"), array().cast("array<string>"),
          (acc, sym) => when(size(acc) > 0
              && element_at(acc, -1) === la && sym === lb,
            concat(slice(acc, lit(1), size(acc) - 1), array(concat(la, lb))))
            .otherwise(concat(acc, array(sym)))))
    }

  /** The truncated subword→id vocabulary as a driver map — FITTED
    * offline (one corpus pass), the stream-serving analogue of
    * [[trainedBpeMerges]]: bounded at [[SubwordVocabSize]] entries by
    * construction. */
  def trainedSubwordVocab(spark: SparkSession, dir: String): Map[String, Long] = {
    implicit val s: SparkSession = spark
    val merges = trainedBpeMerges(spark, dir)
    val wf = Tables(dir).documents
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wfreq"))
      .withColumn("syms", filter(split(col("word"), ""), c => c =!= ""))
    foldMerges(wf, merges)
      .select(col("wfreq"), explode(col("syms")).as("sub"))
      .groupBy(col("sub")).agg(sum(col("wfreq")).as("n"))
      .orderBy(col("n").desc, col("sub")).limit(SubwordVocabSize)
      .collect().zipWithIndex
      .map { case (r, i) => r.getString(0) -> (i + 1L) }.toMap
  }

  def bpeIds(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val merges = trainedBpeMerges(spark, dir)
    // (r14 opt: Tables.spread on both corpus passes A/B-measured
    // 1.84 -> 2.21 s — REJECTED)
    val docs = Tables(dir).documents
    val wordFreq = docs.select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wfreq"))
      .withColumn("syms", filter(split(col("word"), ""), c => c =!= ""))
    // persisted: the segmented vocabulary is word-bounded, and BOTH the
    // subword ranking and the word→ids map derive from it — left lazy,
    // the 12-deep fold expression re-analyzes and re-executes per
    // consumer (measured 6.4 s vs 1.3 s for the single-consumer segment
    // query at sf0.01 — the cost is plan constant, not data)
    val seg = Cached.track(foldMerges(wordFreq, merges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the ranked subword vocabulary is ≤ SubwordVocabSize rows by
    // construction — a BOUNDED driver map (tokenizeStream's vocab
    // discipline), so the word→ids step is a map-literal projection
    // over the cached segmentation instead of explode+join+regroup
    val subMap = seg.select(col("wfreq"), explode(col("syms")).as("sub"))
      .groupBy(col("sub")).agg(sum(col("wfreq")).as("n"))
      .orderBy(col("n").desc, col("sub")).limit(SubwordVocabSize)
      .collect().zipWithIndex
      .map { case (r, i) => r.getString(0) -> (i + 1L) }.toMap
    val m = typedlit(subMap)
    val wordIds = seg.select(col("word"),
      transform(col("syms"), sb => coalesce(element_at(m, sb), lit(0L))).as("ids"))
    docs
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("wpos", "word")))
      .join(broadcast(wordIds), "word")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(col("ids"))).cast("long").as("n_subwords"),
        sum(size(filter(col("ids"), i => i === 0L))).cast("long").as("n_oov"),
        concat_ws(",", expr(
          s"transform(slice(flatten(transform(array_sort(collect_list(struct(wpos, ids))), x -> x.ids)), 1, $IdsHead), x -> CAST(x AS STRING))"))
          .as("ids_head"))
  }

  // ------------------------------------------- BPE oracle replay (r10)

  /** DuckDB replay of the BPE training recurrence — the r09 "not
    * expressible as one DuckDB query" claim retired by UNROLLING the
    * [[BpeMergeRounds]] fixed-round loop into chained MATERIALIZED CTEs
    * (12 rounds: pair-count → arg-max → merge-apply). The merge apply
    * rides one exact equivalence: each word's symbol sequence is encoded
    * as a sentinel-wrapped string (0x01+sym+0x02 per symbol) and
    * `replace(s, ⟨a⟩⟨b⟩, ⟨ab⟩)` IS the left-to-right non-overlapping
    * greedy fold — `replace` scans forward and resumes AFTER each
    * replacement, and a freshly merged `⟨ab⟩` can never re-match
    * `⟨a⟩⟨b⟩` (a = a+b would need an empty b), which is exactly the
    * Spark `aggregate`-fold's reachability. MATERIALIZED is load-bearing:
    * each round's word table is read by BOTH the next pair count and the
    * next merge apply, and inlined CTEs would re-expand 2^12-fold.
    * Sentinels 0x01/0x02 (wrapping each symbol) are injected via chr() so the oracle string
    * stays printable.
    *
    * ASSUMPTION (documented per ADVICE r11): document text contains no
    * raw 0x01/0x02 bytes — a token carrying either control char would
    * corrupt symbol boundaries and break the replace-fold equivalence.
    * The driver's testdata generator emits alphanumeric words only, and
    * `words()` splits on whitespace, so the assumption holds for every
    * verification corpus; a production ingest should scrub C0 controls
    * (the `text_quality_score` pipeline already treats them as quality
    * failures) before BPE training. */
  private def bpeBaseCtes: Seq[String] = {
    val base = Seq(
      s"ws AS MATERIALIZED (SELECT doc_id, ${DuckSql.wordsOf("text")} AS w FROM documents)",
      "wf AS MATERIALIZED (SELECT word, COUNT(*) AS freq FROM (SELECT unnest(w) AS word FROM ws) GROUP BY 1)",
      "w0 AS MATERIALIZED (SELECT word, freq, list_aggregate(list_transform(string_split(word, ''), c -> chr(1)||c||chr(2)), 'string_agg', '') AS s FROM wf)")
    val rounds = (1 to BpeMergeRounds).flatMap { i =>
      val p = i - 1
      Seq(
        s"p$i AS MATERIALIZED (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS w FROM (" +
          s"SELECT freq, syms[j] AS a, syms[j+1] AS b FROM " +
          s"(SELECT freq, string_split(trim(s, chr(1)||chr(2)), chr(2)||chr(1)) AS syms FROM w$p) t, " +
          s"UNNEST(generate_series(1, len(syms)-1)) AS u(j)) GROUP BY 1,2)",
        s"t$i AS MATERIALIZED (SELECT a, b, w FROM p$i ORDER BY w DESC, a, b LIMIT 1)",
        // LEFT JOIN ON TRUE + COALESCE: a degenerate corpus can exhaust
        // the pair table before the last round (every word fully merged);
        // a CROSS JOIN against the then-empty t$i would wipe the word
        // table and zero every downstream CTE, while the Spark side
        // (which stops on `exhausted`) keeps its segmentation. The NULL
        // merge row makes replace() yield NULL and the word carries
        // forward unchanged — the no-op round the trainer performs.
        s"w$i AS MATERIALIZED (SELECT word, freq, COALESCE(replace(s, chr(1)||t.a||chr(2)||chr(1)||t.b||chr(2), chr(1)||t.a||t.b||chr(2)), s) AS s FROM w$p LEFT JOIN t$i t ON TRUE)")
    }
    base ++ rounds :+
      s"seg AS MATERIALIZED (SELECT word, freq, string_split(trim(s, chr(1)||chr(2)), chr(2)||chr(1)) AS syms FROM w$BpeMergeRounds)"
  }

  private def bpeMergesSql: String = {
    val union = (1 to BpeMergeRounds).map { i =>
      s"""SELECT $i AS rank, a AS "left", b AS "right", a||b AS merged, w AS pair_freq FROM t$i"""
    }.mkString("\nUNION ALL\n")
    "WITH " + bpeBaseCtes.mkString(",\n") + "\n" + union + "\nORDER BY rank"
  }

  private def bpeSegmentSql: String =
    "WITH " + (bpeBaseCtes :+
      "toks AS (SELECT doc_id, unnest(w) AS word FROM ws)").mkString(",\n") + "\n" +
      """SELECT doc_id, COUNT(*) AS n_words,
        |  CAST(SUM(len(syms)) AS BIGINT) AS n_subwords,
        |  CAST(SUM(LEN(word)) AS BIGINT) AS n_chars,
        |  ROUND(CAST(SUM(LEN(word)) AS BIGINT) * 1.0 / CAST(SUM(len(syms)) AS BIGINT), 4) AS chars_per_subword
        |FROM toks JOIN seg USING (word)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin

  private def bpeIdsSql: String =
    "WITH " + (bpeBaseCtes ++ Seq(
      s"vocab AS MATERIALIZED (SELECT sub, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, sub) AS BIGINT) AS id FROM (" +
        s"SELECT sub, SUM(freq) AS n FROM (SELECT freq, unnest(syms) AS sub FROM seg) GROUP BY 1) " +
        s"ORDER BY n DESC, sub LIMIT $SubwordVocabSize)",
      "wids AS MATERIALIZED (SELECT word, list(COALESCE(id, 0) ORDER BY j) AS ids FROM (" +
        "SELECT word, j, syms[j] AS sub FROM seg, UNNEST(generate_series(1, len(syms))) AS u(j)) sw " +
        "LEFT JOIN vocab USING (sub) GROUP BY 1)",
      "toks AS (SELECT doc_id, j AS wpos, w[j] AS word FROM ws, UNNEST(generate_series(1, len(w))) AS u(j))"))
      .mkString(",\n") + "\n" +
      s"""SELECT doc_id, COUNT(*) AS n_words,
         |  CAST(SUM(len(ids)) AS BIGINT) AS n_subwords,
         |  CAST(SUM(len(list_filter(ids, x -> x = 0))) AS BIGINT) AS n_oov,
         |  array_to_string(flatten(list(ids ORDER BY wpos))[1:$IdsHead], ',') AS ids_head
         |FROM toks JOIN wids USING (word)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- epoch plan

  /** Quality thresholds granting 4 / 3 / 2 repeats (else 1). Set at the
    * testdata quartiles (~0.67 / 0.60 / 0.52 of a 0.43–0.74 range) so
    * every tier binds at every test SF; a deployment derives them from
    * its quality distribution. */
  private val EpochTiers = Seq(0.67, 0.60, 0.52)

  /** Epoch REPETITION plan — the data-constrained-scaling knob: when the
    * token budget exceeds the deduplicated corpus, repeat the best data
    * rather than relaxing the filters. Per-doc repeat counts step by
    * quality tier (capped at 4 — the published regime where repeated
    * epochs still behave almost like fresh data), and the contributed
    * token total makes the budget arithmetic auditable per document.
    * Deterministic, map-side, zero-shuffle: one scan computing quality +
    * tier + contribution inside a single codegen span. Composes with the
    * schedule family: [[importanceSample]] thins, this repeats,
    * [[curriculum]] orders. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .withColumn("quality", TextQueries.qualityCol)
      .withColumn("n_tokens", size(words(col("text"))).cast("long"))
      .withColumn("repeats",
        when(col("quality") >= EpochTiers(0), 4)
          .when(col("quality") >= EpochTiers(1), 3)
          .when(col("quality") >= EpochTiers(2), 2)
          .otherwise(1))
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("repeats"),
        (col("n_tokens") * col("repeats")).cast("long").as("tokens_contributed"))
  }

  private val epochPlanSql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) AS BIGINT) AS n_tokens,
       |    ${TextQueries.qualitySqlExpr} AS quality
       |  FROM documents)
       |SELECT doc_id, n_tokens, quality,
       |  CASE WHEN quality >= ${EpochTiers(0)} THEN 4
       |       WHEN quality >= ${EpochTiers(1)} THEN 3
       |       WHEN quality >= ${EpochTiers(2)} THEN 2 ELSE 1 END AS repeats,
       |  CAST(n_tokens * (CASE WHEN quality >= ${EpochTiers(0)} THEN 4
       |       WHEN quality >= ${EpochTiers(1)} THEN 3
       |       WHEN quality >= ${EpochTiers(2)} THEN 2 ELSE 1 END) AS BIGINT) AS tokens_contributed
       |FROM d ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ decontaminate

  /** N-gram length for the decontamination ACTION: 8, not the report's 3.
    * The 3-gram overlap is the right REPORT statistic (comparable with
    * the near-dup family's shingles) but far too weak a DROP key — on
    * this corpus it would scrub ~96% of train, since any common phrase
    * matches. 8-gram overlap (the GPT-3-style decontamination window)
    * flags only genuinely shared passages: here, exactly the planted
    * test-twin documents. */
  private[graft] val DecontamNgram = 8

  /** Benchmark DECONTAMINATION — the action behind [[contamination]]'s
    * report (the report/action symmetry of repeated-spans → scrub): drop
    * from the TRAIN split every document sharing ANY 8-gram shingle with
    * the held-out test split, keep the clean remainder. Shape at 100 TB:
    * the test shingle set is ~10% of the corpus map-side-deduped before
    * its exchange; the contaminated-id set comes from one semi join on
    * the shingle key (uniform), and the final anti join keys on doc_id.
    * Nothing is ever wider than a keyed shuffle of shingle strings; the
    * probabilistic zero-shuffle path (broadcast Bloom over test
    * shingles, q_bloom_semi precedent) trades exactness for one scan
    * when the strict form's shuffle dominates. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    // (r14 opt: Tables.spread on the two 8-gram explode passes
    // A/B-measured 1.24 -> 1.39 s — REJECTED)
    val docs = Tables(dir).documents.withColumn("bucket", docBucket)
    // r15 (opt): the two n-gram explode fronts read the staged token
    // frame ([[TextQueries.stagedDocTokens]]); the surviving OUTPUT rows
    // (which carry `text`) still come from the raw table below
    val tokDocs = TextQueries.stagedDocTokens(spark, dir).withColumn("bucket", docBucket)
    def ngramSet(d: DataFrame): DataFrame = d
      .where(size(col("w")) > 0)
      .withColumn("sh", explode(array_distinct(shingles("w", DecontamNgram))))
      .select(col("doc_id"), col("sh"))
    val testSh = ngramSet(tokDocs.where(col("bucket") >= 90))
      .select(col("sh")).distinct()
    val contaminated = ngramSet(tokDocs.where(col("bucket") < 80))
      .join(testSh, Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.where(col("bucket") < 80)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
  }

  private val decontaminateSql =
    s"""WITH bk AS (SELECT doc_id, text, source, lang, n_chars, ${DuckSql.docBucket} AS bucket FROM documents),
       |ws AS (SELECT doc_id, bucket, ${DuckSql.wordsOf("text")} AS w FROM bk),
       |sh AS (SELECT doc_id, bucket, ${DuckSql.ngramsOf("w", DecontamNgram)} AS s FROM ws WHERE LEN(w) > 0),
       |test_sh AS (SELECT DISTINCT unnest(s) AS sh FROM sh WHERE bucket >= 90),
       |bad AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM (SELECT doc_id, unnest(s) AS sh FROM sh WHERE bucket < 80) t
       |  JOIN test_sh te ON t.sh = te.sh)
       |SELECT doc_id, source, lang, n_chars
       |FROM bk WHERE bucket < 80 AND doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- chunk dedup

  /** Non-overlapping token-window size for chunk-level dedup. */
  private val ChunkTokens = 20

  /** Chunk-level exact dedup: split every document into fixed 20-token
    * windows and report every chunk content-hash that occurs more than
    * once in the corpus (within or across documents). This is the
    * boilerplate-removal primitive: headers, footers and licence blocks
    * surface here long before whole-document dedup sees them. One shuffle
    * keyed by chunk hash with map-side partial counts; the explode is
    * narrow. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .withColumn("w", words(col("text")))
      .where(size(col("w")) > 0)
      .withColumn("chunk", explode(expr(
        s"transform(sequence(0, (size(w) - 1) div $ChunkTokens), i -> concat_ws(' ', slice(w, i * $ChunkTokens + 1, $ChunkTokens)))")))
      .groupBy(md5(col("chunk")).as("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .where(col("n_occurrences") > 1)
  }

  private val chunkDedupSql =
    s"""WITH ws AS (SELECT doc_id, ${DuckSql.wordsOf("text")} AS w FROM documents),
       |ch AS (SELECT doc_id,
       |         list_transform(generate_series(0, (LEN(w) - 1) // $ChunkTokens),
       |           i -> array_to_string(list_slice(w, i * $ChunkTokens + 1, i * $ChunkTokens + $ChunkTokens), ' ')) AS chunks
       |       FROM ws WHERE LEN(w) > 0),
       |ex AS (SELECT doc_id, unnest(chunks) AS chunk FROM ch)
       |SELECT md5(chunk) AS chunk_hash, COUNT(DISTINCT doc_id) AS n_docs,
       |  COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc
       |FROM ex GROUP BY md5(chunk) HAVING COUNT(*) > 1
       |ORDER BY first_doc, chunk_hash""".stripMargin

  // ---------------------------------------------------------- repetition

  /** Within-document repetition score: share of 3-gram shingles that are
    * repeats of an earlier shingle in the same document (1 − distinct ⁄
    * total). A high score flags degenerate generations / boilerplate
    * loops — a standard pretraining quality gate. Entirely map-side:
    * zero shuffles, scales with corpus bytes. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[TextQueries.stagedDocTokens]])
    TextQueries.stagedDocTokens(spark, dir)
      .where(size(col("w")) > 0)
      .withColumn("s", shingles("w"))
      .select(col("doc_id"), size(col("s")).as("n_shingles"),
        size(array_distinct(col("s"))).as("n_distinct"))
      .withColumn("repetition_pct",
        round((col("n_shingles") - col("n_distinct")) * lit(100.0) / col("n_shingles"), 4))
  }

  private val repetitionSql =
    s"""WITH ws AS (SELECT doc_id, ${DuckSql.wordsOf("text")} AS w FROM documents),
       |sh AS (SELECT doc_id, ${DuckSql.shinglesOf("w")} AS s FROM ws WHERE LEN(w) > 0)
       |SELECT doc_id, LEN(s) AS n_shingles, LEN(list_distinct(s)) AS n_distinct,
       |  ROUND((LEN(s) - LEN(list_distinct(s))) * 100.0 / LEN(s), 4) AS repetition_pct
       |FROM sh
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ mixture report

  /** Corpus mixture report: per (source, lang) document counts, byte and
    * token volumes, and each cell's share of total corpus tokens — the
    * table a sampling-weight scheduler consumes. One coarse groupBy; the
    * global total rides a window over the already-aggregated (tiny)
    * frame, not a second scan of the corpus. */
  def mixtureReport(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val agg = Tables(dir).documents
      .select(col("source"), col("lang"), col("n_chars"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"))
    agg.withColumn("token_share_pct",
      round(col("total_tokens") * lit(100.0) /
        sum(col("total_tokens")).over(Window.partitionBy()), 4))
  }

  private val mixtureReportSql =
    s"""WITH d AS (SELECT source, lang, n_chars,
       |             CAST(LEN(${DuckSql.wordsOf("text")}) AS BIGINT) AS n_tokens
       |           FROM documents),
       |agg AS (SELECT source, lang, COUNT(*) AS n_docs,
       |          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |        FROM d GROUP BY source, lang)
       |SELECT source, lang, n_docs, total_chars, total_tokens,
       |  ROUND(total_tokens * 100.0 / SUM(total_tokens) OVER (), 4) AS token_share_pct
       |FROM agg
       |ORDER BY source, lang""".stripMargin

  // ----------------------------------------------------- sequence packing

  /** Training-sequence length (tokens) and the per-shard seq-id stride
    * (supports up to 10⁶ sequences ≈ 2×10⁹ tokens per shard before ids
    * would collide — raise the modulus of the shard bucket, not the
    * stride, when a shard outgrows it). */
  private val SeqLen = 2048L
  private val SeqStride = 1000000L

  /** Sequence packing: assign every document a contiguous slot in a
    * fixed-SeqLen-token training sequence — the last assembly step before
    * tokenization, where documents are concatenated into uniform training
    * windows. Packing is inherently sequential per stream, so the corpus
    * is first split by the deterministic md5 shard bucket (the SAME
    * convention as the train/val/test split) into independent packing
    * streams: within a shard, docs pack in doc_id order at offset
    * `running_sum(n_tokens) - n_tokens`, and the window is per-shard —
    * each shard is one sorted partition run, never a global sort. At
    * 100 TB the shard modulus is the parallelism dial; sequences never
    * span shards, so shards can be packed (and re-packed after corpus
    * edits) independently. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    packDocs(Tables(dir).documents)
  }

  /** The packing pipeline over any (doc_id, text) frame, with a per-shard
    * base offset (0 for a fresh pack; the manifest total for an
    * incremental append). */
  private def packDocs(docs: DataFrame, base: Option[DataFrame] = None): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sized = docs
      .select(col("doc_id"), docBucket.as("shard"),
        size(words(col("text"))).cast("long").as("n_tokens"))
    val based = base.fold(sized.withColumn("base_tok", lit(0L)))(b =>
      sized.join(broadcast(b), Seq("shard"), "left")
        .withColumn("base_tok", coalesce(col("base_tok"), lit(0L))))
    based
      .withColumn("start_tok",
        col("base_tok") + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("shard") * SeqStride + expr(s"start_tok DIV $SeqLen")).as("seq_id"),
        (col("start_tok") % SeqLen).as("seq_offset"))
  }

  /** Fresh pack of an arbitrary (doc_id, text) frame — the pipeline-facing
    * entry ([[graft.pipeline.CorpusPipeline]] packs the deduped corpus,
    * not the raw table the registered query reads). */
  def packAll(docs: DataFrame): DataFrame = packDocs(docs)

  /** §8e(t) — incremental packing: pack ONLY the new documents, continuing
    * each shard's token stream from the existing packing table's end
    * offset. Contiguity makes the end offset just the per-shard token sum
    * — a bounded manifest aggregate, broadcast to the new batch — so the
    * archive is NEVER re-packed and a cycle's cost is proportional to the
    * new batch, not the corpus. Arrival order defines the stream: new
    * documents append after everything already packed (in doc_id order
    * within the batch); when the batch's ids all follow the archive's —
    * the monotonic-ingest case — the result is bit-identical to a full
    * repack (spec-pinned). */
  def packIncrement(existing: DataFrame, newDocs: DataFrame): DataFrame = {
    val base = existing.groupBy(col("shard")).agg(sum(col("n_tokens")).as("base_tok"))
    packDocs(newDocs, Some(base))
  }

  private val packSequencesSql =
    s"""WITH d AS (SELECT doc_id, CAST(${DuckSql.docBucket} AS BIGINT) AS shard,
       |             CAST(LEN(${DuckSql.wordsOf("text")}) AS BIGINT) AS n_tokens
       |           FROM documents),
       |w AS (SELECT doc_id, shard, n_tokens,
       |        SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |                            ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
       |      FROM d)
       |SELECT doc_id, shard, n_tokens,
       |  CAST(shard * $SeqStride + start_tok // $SeqLen AS BIGINT) AS seq_id,
       |  CAST(start_tok % $SeqLen AS BIGINT) AS seq_offset
       |FROM w ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- shard skew

  /** §8d(q) — packing-shard skew report: per-shard document and token
    * totals with each shard's percentage deviation from the mean shard
    * load. This is the table a rebalancer consults before moving whole
    * sequences between shards (sequences never span shards, so moving one
    * is metadata-only): a shard far above the mean packs longer than its
    * peers and stalls the tokenization wave. One coarse aggregate; the
    * mean rides a window over the ≤100-row shard frame. */
  def shardSkew(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .select(docBucket.as("shard"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .withColumn("skew_pct",
        round((col("total_tokens") - avg(col("total_tokens")).over(Window.partitionBy()))
          * lit(100.0) / avg(col("total_tokens")).over(Window.partitionBy()), 4))
  }

  private val shardSkewSql =
    s"""WITH d AS (SELECT CAST(${DuckSql.docBucket} AS BIGINT) AS shard,
       |             CAST(LEN(${DuckSql.wordsOf("text")}) AS BIGINT) AS n_tokens
       |           FROM documents),
       |agg AS (SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |        FROM d GROUP BY shard)
       |SELECT shard, n_docs, total_tokens,
       |  ROUND((total_tokens - AVG(total_tokens) OVER ()) * 100.0 / AVG(total_tokens) OVER (), 4) AS skew_pct
       |FROM agg
       |ORDER BY shard""".stripMargin

  // ---------------------------------------------------------- boilerplate

  private val TopNBigrams = 100

  /** Boilerplate scoring: the fraction of a document's word-bigram
    * occurrences that fall in the corpus's $TopNBigrams most frequent
    * bigrams. Template/boilerplate text (headers, navigation, legal
    * footers) scores high; novel prose scores low — the complement is an
    * outlier/novelty signal. Exactly two corpus passes: (1) the
    * top-bigram table — count-aggregate + bounded top-k, ties broken by
    * bigram text so the cutoff is deterministic in both engines; (2) ONE
    * bigram explosion per document, left-outer MARK-joined against the
    * broadcast top table, folded by a single per-doc aggregate computing
    * total and hit counts together (no second explosion, no per-doc
    * outer join — the plan audit caught and removed both). No
    * transcendentals — the score is an exact ratio, so rankings are
    * engine-identical. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r14 (opt): gated spread — the bigram explode is evaluated by two
    // consumers off the one-task scan (Tables.spread doc)
    val bg = Tables(dir).spread("documents")
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode(shingles("w", 2)).as("bigram"))
    val top = bg.groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram")).limit(TopNBigrams)
      .select(col("bigram"), lit(1L).as("is_common"))
    bg.join(broadcast(top), Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("is_common"), lit(0L))).as("common_hits"))
      .withColumn("boilerplate_pct",
        round(col("common_hits") * lit(100.0) / col("n_bigrams"), 4))
  }

  private val boilerplateSql =
    s"""WITH wd AS (SELECT doc_id, ${DuckSql.wordsOf("text")} AS w FROM documents),
       |bg AS (SELECT doc_id, unnest(${DuckSql.bigramsOf("w")}) AS bigram FROM wd),
       |top AS (SELECT bigram FROM (
       |  SELECT bigram, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS rn
       |  FROM bg GROUP BY bigram) z WHERE rn <= $TopNBigrams),
       |perdoc AS (SELECT doc_id, COUNT(*) AS n_bigrams FROM bg GROUP BY doc_id),
       |hits AS (SELECT doc_id, COUNT(*) AS common_hits FROM bg
       |         WHERE bigram IN (SELECT bigram FROM top) GROUP BY doc_id)
       |SELECT p.doc_id, p.n_bigrams,
       |  CAST(COALESCE(h.common_hits, 0) AS BIGINT) AS common_hits,
       |  ROUND(COALESCE(h.common_hits, 0) * 100.0 / p.n_bigrams, 4) AS boilerplate_pct
       |FROM perdoc p LEFT JOIN hits h ON h.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin

  // ------------------------------------------------------ mixture sample

  /** §8g(ad) — deterministic mixture resampling: each source keeps a
    * configured fraction of its documents (the training-mixture knob —
    * upsample books, downsample web). The keep decision is the same
    * md5 bucket every split/sample op here uses, so it is reproducible,
    * engine-portable, map-side only (a pure filter — no shuffle, no
    * sampling state), and STABLE under corpus growth: a doc's fate never
    * changes when other docs arrive, which is what makes incremental
    * re-mixes cheap. Rates tier by source index (mod 4 → 100/50/25/10%)
    * as a stand-in for the per-source policy config. */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val rate = element_at(typedlit(Seq(100, 50, 25, 10)),
      (expr("CAST(substring(source, 4) AS INT)") % 4) + 1)
    Tables(dir).documents
      .withColumn("rate_pct", rate)
      .where(docBucket < col("rate_pct"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("rate_pct").cast("int").as("rate_pct"))
  }

  private val mixtureSampleSql =
    s"""WITH d AS (
       |  SELECT doc_id, source, lang, n_chars,
       |    ${graft.functions.DuckSql.docBucket} AS bucket,
       |    [100, 50, 25, 10][(CAST(SUBSTRING(source, 4) AS INT) % 4) + 1] AS rate_pct
       |  FROM documents)
       |SELECT doc_id, source, lang, n_chars, CAST(rate_pct AS INT) AS rate_pct
       |FROM d WHERE bucket < rate_pct
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- importance sample

  /** Per-document IMPORTANCE sampling: acceptance probability equals the
    * document's own quality score (keep_pct = ⌊quality·100⌋ against the
    * shared md5 bucket) — the per-doc complement of [[mixtureSample]]'s
    * per-source rates. High-quality documents survive, low-quality ones
    * thin out proportionally, and the decision is the same deterministic
    * map-side filter as every sampling op here: no RNG, no shuffle, no
    * sampling state, stable under corpus growth (a doc's fate never
    * changes when other docs arrive). Both engines compute the quality
    * double with the identical IEEE expression, so ⌊·⌋ at the bucket
    * boundary is engine-exact — pinned by the oracle hash gate. */
  def importanceSample(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .withColumn("quality", TextQueries.qualityCol)
      .withColumn("keep_pct", floor(col("quality") * 100).cast("int"))
      .where(docBucket < col("keep_pct"))
      .select(col("doc_id"), col("source"), col("quality"), col("keep_pct"))
  }

  private val importanceSampleSql =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    ${TextQueries.qualitySqlExpr} AS quality,
       |    ${graft.functions.DuckSql.docBucket} AS bucket
       |  FROM documents)
       |SELECT doc_id, source, quality,
       |  CAST(FLOOR(quality * 100) AS INT) AS keep_pct
       |FROM d WHERE bucket < CAST(FLOOR(quality * 100) AS INT)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- sliding chunks

  private val WinTokens = 80
  private val WinStride = 60

  /** Sliding-window token chunking — the RAG / long-context preprocessing
    * step: fixed-size windows (80 tokens) advancing by a stride (60, i.e.
    * 20-token overlap so no boundary sentence is lost), the final window
    * clamped to the document tail. Pure map-side: tokenize once, explode
    * the window starts, slice the token array per window — no shuffle at
    * all until whatever consumes the chunks. Each chunk carries its
    * content hash, which is exactly what chunk-level dedup and RAG
    * indexing key on downstream. */
  def chunkSliding(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    chunksOf(Tables(dir).documents)
  }

  /** The chunker as a frame transform: every operation is stateless
    * row-local (tokenize, explode window starts, slice), so the identical
    * plan is streaming-legal — [[graft.streaming.DocStreams]] applies it
    * unchanged to the document stream. */
  def chunksOf(docs: DataFrame): DataFrame = {
    val d = lit(WinStride)
    val toks = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) > 0)
      .withColumn("ntok", size(col("w")))
    // last start = ceil(max(ntok-C,0)/S)*S — the tail window is short but
    // every token is covered
    val lastStart = floor((greatest(col("ntok") - WinTokens, lit(0)) + d - 1) / d) * d
    toks
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), lastStart.cast("int"), lit(WinStride))).as("start"))
      .withColumn("chunk_w", slice(col("w"), col("start") + 1, lit(WinTokens)))
      .select(
        col("doc_id"),
        (col("start") / WinStride).cast("long").as("chunk_idx"),
        size(col("chunk_w")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk_w"))).as("chunk_hash"))
  }

  private val chunkSlidingSql =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0) AS w
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, w, LEN(w) AS ntok FROM t WHERE LEN(w) > 0),
       |starts AS (
       |  SELECT doc_id, w, unnest(generate_series(0,
       |    ((GREATEST(ntok - $WinTokens, 0) + $WinStride - 1) // $WinStride) * $WinStride,
       |    $WinStride)) AS st
       |  FROM n)
       |SELECT doc_id,
       |  st // $WinStride AS chunk_idx,
       |  CAST(LEN(w[st + 1 : st + $WinTokens]) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(w[st + 1 : st + $WinTokens], ' ')) AS chunk_hash
       |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------- content-defined chunking

  private val CdcModulus = 16

  /** Content-defined chunking: a token ends a chunk when its own hash
    * lands in 1/16 of the space — cut points depend only on CONTENT, so
    * inserting text early in a document disturbs chunks only up to the
    * next cut, after which boundaries (and hence chunk hashes) realign.
    * That shift-invariance is what makes CDC the dedup substrate for
    * near-identical documents with offset edits, where fixed windows
    * ([[chunkSliding]]) would misalign everything downstream of the edit
    * (property spec-proven in CorpusSpec).
    *
    * Plan: one explode of the token stream, one per-doc running-sum
    * window (partitions bounded by document length, keyed on doc_id —
    * uniformly distributed), one (doc, chunk) aggregate. Expected chunk
    * length is the modulus (16 tokens); the hash is the same md5 the
    * exact-dedup layer keys on. */
  def chunkCdc(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    cdcChunksOf(Tables(dir).documents)
  }

  /** CDC chunking as a frame transform (shift-invariance property is
    * spec-proven against a prepend edit in CorpusSpec).
    *
    * ZERO-shuffle form: cut positions, chunk spans, and chunk hashes are
    * all array expressions over the per-row token array — the first
    * version exploded the token stream through a per-doc window (two
    * shuffles); this one never leaves the row, which is both the 100 TB
    * plan you want (chunking is embarrassingly parallel) and what makes
    * the operator streaming-legal ([[graft.streaming.DocStreams]] applies
    * it to the document stream unchanged, spec-pinned). */
  def cdcChunksOf(docs: DataFrame): DataFrame = {
    VectorExpressions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) > 0)
      // a cut at position j (1-based, j < n) ends the chunk AT j; the next
      // chunk starts at j+1 — chunk_id(i) = #cuts strictly before i
      .withColumn("starts", expr(
        s"""concat(array(1), transform(
           |  filter(sequence(1, size(w) - 1),
           |         j -> graft_hex_prefix(md5(element_at(w, j)), 8) % $CdcModulus = 0),
           |  j -> j + 1))""".stripMargin))
      .withColumn("bounds", expr("concat(starts, array(size(w) + 1))"))
      .select(col("doc_id"), col("w"),
        explode(expr(
          """transform(sequence(1, size(starts)), k -> struct(
            |  CAST(k - 1 AS BIGINT) AS chunk_id,
            |  CAST(element_at(bounds, k) AS BIGINT) AS start_pos,
            |  CAST(element_at(bounds, k + 1) - element_at(bounds, k) AS BIGINT) AS n_tokens))""".stripMargin))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        col("c.start_pos").as("start_pos"), col("c.n_tokens").as("n_tokens"),
        md5(concat_ws(" ", expr("slice(w, CAST(c.start_pos AS INT), CAST(c.n_tokens AS INT))")))
          .as("chunk_hash"))
  }

  private val chunkCdcSql = {
    val w = DuckSql.wordsOf("text")
    val h = DuckSql.hexToLong("md5(tok)")
    s"""WITH toks AS (
       |  SELECT doc_id, $w AS w FROM documents WHERE LEN($w) > 0),
       |pos AS (
       |  SELECT doc_id, g.i AS pos, w[g.i] AS tok
       |  FROM toks, UNNEST(generate_series(1, LEN(w))) AS g(i)),
       |b AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN $h % $CdcModulus = 0 THEN 1 ELSE 0 END AS cut
       |  FROM pos),
       |c AS (
       |  SELECT doc_id, pos, tok,
       |    COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM b)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(MIN(pos) AS BIGINT) AS start_pos,
       |  COUNT(*) AS n_tokens,
       |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
       |FROM c GROUP BY doc_id, chunk_id
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ------------------------------------------------------- tokenization

  private val VocabSize = 30
  private val IdsHead = 20

  /** Vocabulary-id tokenization — the id-mapping step before packing:
    * the corpus's top-30 terms become ids 1..30 (count-desc, term-asc —
    * deterministic), everything else is OOV id 0. The vocabulary is a
    * TakeOrdered over the distributed term counts and joins back as a
    * broadcast (a real 100 TB vocab of 100k rows is still broadcast-
    * sized — that asymmetry is the whole design). Output keeps the
    * per-doc id sequence head plus OOV accounting. */
  def tokenizeIds(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[TextQueries.stagedDocTokens]])
    val toks = TextQueries.stagedDocTokens(spark, dir)
    tokenIdsOfTokens(toks, vocabOfTokens(toks, VocabSize))
  }

  /** Vocabulary fit: top-k terms → (term, id 1..k), count-desc/term-asc
    * deterministic. TakeOrdered over the distributed counts; the id
    * window runs on k rows. */
  def vocabOf(docs: DataFrame, k: Int): DataFrame =
    vocabOfTokens(docs.select(words(col("text")).as("w")), k)

  /** [[vocabOf]] over an already-tokenized frame (reads only `w`). */
  def vocabOfTokens(toks: DataFrame, k: Int): DataFrame =
    toks
      .select(explode(col("w")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(k)
      .withColumn("id", row_number().over(Window.orderBy(col("n").desc, col("term"))).cast("long"))
      .select("term", "id")

  /** Id-mapping against a fitted vocabulary (broadcast join; OOV → 0). */
  def tokenIdsOf(docs: DataFrame, vocab: DataFrame): DataFrame =
    tokenIdsOfTokens(docs.select(col("doc_id"), words(col("text")).as("w")), vocab)

  /** [[tokenIdsOf]] over an already-tokenized (doc_id, w) frame. */
  def tokenIdsOfTokens(toks: DataFrame, vocab: DataFrame): DataFrame =
    toks
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
      .join(broadcast(vocab), col("tok") === col("term"), "left")
      .withColumn("id", coalesce(col("id"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"),
        concat_ws(",",
          expr(s"transform(slice(array_sort(collect_list(struct(pos, id))), 1, $IdsHead), x -> CAST(x.id AS STRING))"))
          .as("ids_head"))

  private val tokenizeIdsSql = {
    val w = DuckSql.wordsOf("text")
    s"""WITH vocab AS (
       |  SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT) AS id
       |  FROM (
       |    SELECT t.term, COUNT(*) AS n
       |    FROM documents, UNNEST($w) AS t(term)
       |    GROUP BY t.term ORDER BY n DESC, term LIMIT $VocabSize)),
       |toks AS (
       |  SELECT doc_id, g.i AS pos, w[g.i] AS tok
       |  FROM (SELECT doc_id, $w AS w FROM documents WHERE LEN($w) > 0) d,
       |    UNNEST(generate_series(1, LEN(w))) AS g(i)),
       |ids AS (
       |  SELECT doc_id, pos, COALESCE(id, 0) AS id
       |  FROM toks LEFT JOIN vocab ON tok = term)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  array_to_string((list(id ORDER BY pos))[1:$IdsHead], ',') AS ids_head
       |FROM ids GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- repeated-span dedup

  private val SpanTokens = 30

  /** Exact-substring dedup (the Lee et al. 2022 mode): every 30-token
    * window at EVERY stride-1 position, hashed and grouped corpus-wide —
    * cross-document repeats surface regardless of alignment, which is
    * exactly what fixed windows ([[chunkDedup]]'s aligned chunks, the CDC
    * chunker's content-cut chunks) cannot see when the repeat starts
    * mid-chunk. Window generation is a map-side array expression (no
    * shuffle until the hash groupBy); the per-token cost is O(window)
    * hashing — the honest trade against a suffix-array build, linear in
    * the corpus with a documented constant, and embarrassingly parallel
    * where the suffix array is not. Only spans seen in >1 document
    * survive (within-doc repetition is `text_repetition`'s job). */
  /** The stride-1 [[SpanTokens]]-token window-hash frame
    * (doc_id, pos, span_hash), pos 1-based — the span family's shared
    * front, extracted so the staged builder and the spec pin use the one
    * expression. */
  private[operators] def spansOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) >= SpanTokens)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w) - ${SpanTokens - 1}),
           |  i -> struct(i AS pos, md5(concat_ws(' ', slice(w, i, $SpanTokens))) AS h))""".stripMargin))
        .as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("span_hash"))

  /** r15 (opt, §2.3/§6) — the span front STAGED, content-gated on the
    * documents table (the `stagedSigs`/`stagedSourceShingles` discipline):
    * [[repeatedSpans]] and [[scrubSpans]] each re-paid the
    * words→transform→md5 stride-1 explode per run — the family's whole
    * map-side front — while both only consume the (doc_id, pos, hash)
    * rows. Built once per corpus state (spread scan — the one-task
    * unsplittable-file pitfall), read as a narrow parquet scan. */
  private[operators] def stagedSpans(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val path = s"/tmp/graft_spans_${new java.io.File(dir).getName}"
    Stage.ensure(path, s"$dir/documents.parquet") {
      spansOf(Tables(dir).spread("documents")).write.mode("overwrite").parquet(path)
    }
    graft.sources.Tables.relationAt(spark, path)
  }

  def repeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    stagedSpans(spark, dir)
      .groupBy(col("span_hash"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("n_docs") > 1)
      .select(col("span_hash"), col("n_docs"), col("n_occurrences"),
        col("first.doc_id").as("first_doc"), col("first.pos").cast("long").as("first_pos"))
  }

  private val repeatedSpansSql = {
    val w = DuckSql.wordsOf("text")
    s"""WITH toks AS (
       |  SELECT doc_id, $w AS w FROM documents WHERE LEN($w) >= $SpanTokens),
       |spans AS (
       |  SELECT doc_id, g.i AS pos,
       |    md5(array_to_string(w[g.i : g.i + ${SpanTokens - 1}], ' ')) AS span_hash
       |  FROM toks, UNNEST(generate_series(1, LEN(w) - ${SpanTokens - 1})) AS g(i)),
       |grouped AS (
       |  SELECT span_hash,
       |    COUNT(DISTINCT doc_id) AS n_docs,
       |    COUNT(*) AS n_occurrences,
       |    MIN(struct_pack(doc_id := doc_id, pos := pos)) AS first
       |  FROM spans GROUP BY span_hash)
       |SELECT span_hash, n_docs, n_occurrences,
       |  CAST(first.doc_id AS BIGINT) AS first_doc, CAST(first.pos AS BIGINT) AS first_pos
       |FROM grouped WHERE n_docs > 1
       |ORDER BY span_hash""".stripMargin
  }

  /** The scrub ACTION for span dedup (what Lee et al. actually do to the
    * corpus): every occurrence of a cross-document repeated span EXCEPT
    * the corpus-first one has its tokens dropped; first occurrences and
    * unique text survive verbatim. Overlapping repeats resolve by token
    * mask union (a position is dropped if ANY non-first occurrence
    * covers it), which makes the result order-independent and
    * deterministic. Per doc: token count, scrubbed-token count, and the
    * md5 of the kept text — the scrubbed corpus signature downstream
    * stages re-key on. The in-row kept mask is one walk over the sorted
    * span starts, O(tokens + starts) per doc. */
  def scrubSpans(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val toks = Tables(dir).documents
      .select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) > 0)
    // r15 (opt): the span front comes staged ([[stagedSpans]]) — the
    // stride-1 explode+md5 was re-paid per run while only the
    // (doc_id, pos, hash) rows are consumed
    val spans = stagedSpans(spark, dir)
      .select(col("doc_id"), col("pos"), col("span_hash").as("h"))
    // r10: the first-occurrence filter is ONE window pass over the
    // h-partitions instead of an aggregate + self-join — the join form
    // consumed the unpersisted span table twice (words → explode → md5
    // front re-ran per branch) AND shuffled it twice; persisting it
    // traded that for materialization cost (fresh-JVM sf0.1 3.5 → 6.0 s,
    // worse). The window shuffles spans on h exactly once: sf1 verbatim
    // 25.2 → 11.9 s, salted 17.2 → 10.0 s, sf0.1 3.5 → 1.8 s fresh-JVM.
    // r11 (ADVICE): the cross-document test is min(doc_id) ≠ max(doc_id)
    // — exactly "distinct docs > 1", but with CONSTANT window state. The
    // earlier size(collect_set(doc_id)) buffered every doc id of a span
    // group in memory unspillably, so one boilerplate span shared by very
    // many documents concentrated the whole id set in a single group; the
    // window's row buffer itself is the spillable UnsafeExternalSorter,
    // and min/max/min-struct add O(1) each.
    val wH = Window.partitionBy(col("h"))
    // r15 (opt, §2.3 "shuffle keys instead of payloads"): ship only the
    // SPAN STARTS of non-first duplicated occurrences (≤ spans-per-doc
    // values) and reconstruct the covered-position set IN-ROW — the
    // explode to per-position rows blew each occurrence up 30× into a
    // corpus-wide distinct (a ~40M-row shuffle at sf1) whose whole output
    // was immediately re-collapsed per doc. The kept positions are the
    // complement of ∪[p, p+29] over the sorted start list, walked once:
    // every span has the same length, so the covered run up to start s_k
    // ends at s_k + 29 and the kept positions are exactly the gaps
    // [1, s_1 − 1], [s_k + 30, s_{k+1} − 1], [s_m + 30, n] — O(tokens +
    // starts) per doc, where testing each position against every start
    // was O(tokens × starts). n_scrubbed = n_tokens − |kept|.
    val starts = spans
      .withColumn("multi", min(col("doc_id")).over(wH) =!= max(col("doc_id")).over(wH))
      .withColumn("first", min(struct(col("doc_id"), col("pos"))).over(wH))
      .where(col("multi") &&
        !(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    val (lo, hi) = (s"IF(k = 0, 1, element_at(starts, k) + $SpanTokens)",
      "IF(k = size(starts), size(w), element_at(starts, k + 1) - 1)")
    toks.join(starts, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept", expr(
        s"flatten(transform(sequence(0, size(starts)), k -> IF($lo <= $hi, sequence($lo, $hi), array())))"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_scrubbed"),
        md5(concat_ws(" ", expr("transform(kept, i -> element_at(w, i))")))
          .as("scrubbed_hash"))
  }

  private val scrubSpansSql = {
    val w = DuckSql.wordsOf("text")
    s"""WITH toks AS (
       |  SELECT doc_id, $w AS w FROM documents WHERE LEN($w) > 0),
       |spans AS (
       |  SELECT doc_id, g.i AS pos,
       |    md5(array_to_string(w[g.i : g.i + ${SpanTokens - 1}], ' ')) AS h
       |  FROM toks, UNNEST(generate_series(1, LEN(w) - ${SpanTokens - 1})) AS g(i)
       |  WHERE LEN(w) >= $SpanTokens),
       |firsts AS (
       |  SELECT h, MIN(struct_pack(doc_id := doc_id, pos := pos)) AS first
       |  FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
       |covered AS (
       |  SELECT DISTINCT s.doc_id, g.c AS cpos
       |  FROM spans s JOIN firsts f USING (h),
       |    UNNEST(generate_series(s.pos, s.pos + ${SpanTokens - 1})) AS g(c)
       |  WHERE NOT (s.doc_id = f.first.doc_id AND s.pos = f.first.pos)),
       |cuts AS (
       |  SELECT doc_id, list(cpos ORDER BY cpos) AS cut FROM covered GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(LEN(w) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(LEN(cut), 0) AS BIGINT) AS n_scrubbed,
       |  md5(COALESCE(array_to_string(
       |    list_transform(
       |      list_filter(generate_series(1, LEN(w)), i -> cut IS NULL OR NOT list_contains(cut, i)),
       |      i -> w[i]), ' '), '')) AS scrubbed_hash
       |FROM toks t LEFT JOIN cuts USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- length batching

  private val LenBucketWidth = 32
  private val BatchSize = 8

  /** Length-bucketed inference/training batches: documents grouped into
    * token-length buckets (width 32), then packed into fixed-size batches
    * in (length, id) order within each bucket; each batch reports the
    * padding waste (Σ max_tokens − n_tokens) a dense-batch runner would
    * pay. Bucketing first is the point — batching a mixed-length stream
    * pads everything to the global max; bucketing bounds the spread per
    * batch by the bucket width. One shuffle on bucket for the window, one
    * aggregate on (bucket, batch). */
  def lengthBatches(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = Tables(dir).documents
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bucket", (col("n_tokens") / LenBucketWidth).cast("long"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("n_tokens"), col("doc_id"))
    docs
      .withColumn("batch", ((row_number().over(w) - 1) / BatchSize).cast("long"))
      .groupBy(col("bucket"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        (max(col("n_tokens")) * count(lit(1)) - sum(col("n_tokens"))).cast("long").as("padding_waste"))
  }

  private val lengthBatchesSql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, n_tokens, n_tokens // $LenBucketWidth AS bucket FROM d),
       |r AS (
       |  SELECT bucket, n_tokens,
       |    (ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n_tokens, doc_id) - 1) // $BatchSize AS batch
       |  FROM b)
       |SELECT bucket, batch, COUNT(*) AS n_docs, MAX(n_tokens) AS max_tokens,
       |  CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT) AS padding_waste
       |FROM r GROUP BY 1, 2 ORDER BY bucket, batch""".stripMargin

  // ------------------------------------------------------- JSONL ingest

  /** JSONL round-trip through [[graft.sources.JsonlSource]]: documents
    * staged as one-JSON-object-per-line (the standard corpus interchange
    * format), read back with an EXPLICIT schema — no inference pass — and
    * landed typed. Stage-gated like the delimited round-trip; the oracle
    * reads the original parquet, so the JSONL transport must preserve
    * every row and every character of text (JSON escaping is lossless). */
  def jsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val stage = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_${Integer.toHexString(dir.hashCode)}"
    Stage.ensure(stage, s"$dir/documents.parquet") {
      Tables(dir).documents.write.mode("overwrite").json(stage)
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string").add("lang", "string")
      .add("source", "string").add("n_chars", "long")
    graft.sources.JsonlSource.read(spark, stage, schema)
  }

  private val jsonlIngestSql =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- token budget

  // sized to bind at every test SF (~1.3-1.7k tokens/source): roughly the
  // top half of each source survives, so the cutoff is actually exercised
  private val TokenBudget = 800L

  /** Token-BUDGET mixture selection: each source contributes documents in
    * md5-stable pseudo-random order until its running token total reaches
    * the budget — how a pre-training mixture is actually specified
    * ("20B tokens of source X"), complementing [[mixtureSample]]'s
    * rate-based thinning. The md5 order makes the selected prefix
    * deterministic AND unbiased by ingest order; the running sum is one
    * shuffle on source. With very few sources the per-source window
    * serializes at extreme scale — the two-phase per-shard quota walk
    * (`pipeline.Shards`) is the deployed form of the same semantics; this
    * query pins what both must produce. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val toks = Tables(dir).documents.select(
      col("doc_id"), col("source"),
      size(words(col("text"))).cast("long").as("n_tokens"),
      md5(col("doc_id").cast("string")).as("h"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    toks
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  private val tokenBudgetSql =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) AS BIGINT) AS n_tokens,
       |    md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM d)
       |SELECT doc_id, source, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= $TokenBudget ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- curriculum order

  /** Curriculum phase boundaries (token-count thresholds, config). Chosen
    * at the testdata quartiles (~32/56/76 of a 10..99 range) so all four
    * phases bind at every test SF; a deployment sets them from the corpus
    * length distribution. */
  private val CurriculumPhases = Seq(32L, 56L, 76L)

  /** Deterministic curriculum training order: documents are phased
    * easy→hard by token count, and WITHIN each phase the sources are
    * round-robin interleaved in md5-stable order, yielding a global
    * `step` every trainer replays identically (curriculum + mixture
    * interleaving in one schedule).
    *
    * The point of the design is computing the global step WITHOUT a
    * global window — `ROW_NUMBER() OVER (ORDER BY ...)` is a
    * single-reducer total sort, the classic curriculum-ordering
    * scale-killer. Instead: `rn`, the md5-order rank within
    * (phase, source), comes from a keyed window (one uniform shuffle);
    * the global rank of (phase, rn, source) is then CLOSED-FORM from the
    * tiny (phase × source) count table: rows before it in its phase are
    * Σ_{s'} min(cnt(s'), rn−1)  (completed earlier round-robin rounds)
    * + |{s' < s : cnt(s') ≥ rn}|  (same round, earlier sources),
    * and earlier phases contribute their totals. The count table is
    * |phases|·|sources| rows — broadcast — so step assignment is a
    * broadcast join fanning each doc out to its phase's ≤|sources| count
    * rows plus one re-aggregation keyed on doc_id. No stage ever sees
    * the corpus in fewer partitions than its uniform keys give. */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val phased = Tables(dir).documents.select(
      col("doc_id"), col("source"),
      size(words(col("text"))).cast("long").as("n_tokens"),
      md5(col("doc_id").cast("string")).as("h"))
      .withColumn("phase",
        when(col("n_tokens") <= CurriculumPhases(0), 1)
          .when(col("n_tokens") <= CurriculumPhases(1), 2)
          .when(col("n_tokens") <= CurriculumPhases(2), 3)
          .otherwise(4))
    val w = Window.partitionBy(col("phase"), col("source")).orderBy(col("h"), col("doc_id"))
    val ranked = phased.withColumn("rn", row_number().over(w).cast("long"))
    // the (phase x source) count table is BOUNDED (|phases|·|sources|
    // rows) — collect it once and re-enter it as literal frames, the IVF-
    // centroid driver-side discipline. Left as lazy subplans, Catalyst
    // re-derived the corpus scan (and its tokenize pass over `text`, the
    // expensive column at 100 TB) once for the counts and twice more for
    // the offsets' self-join: 4 corpus scans where 2 suffice.
    val countRows = phased.groupBy(col("phase"), col("source"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val counts = countRows.toSeq.toDF("c_phase", "c_source", "cnt")
    val totals = countRows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val offsets = totals.keys.toSeq.sorted
      .map(p => (p, totals.filter(_._1 < p).values.sum))
      .toDF("o_phase", "phase_offset")
    ranked
      .join(broadcast(counts), col("phase") === col("c_phase"))
      .withColumn("before",
        least(col("cnt"), col("rn") - 1) +
          when(col("c_source") < col("source") && col("cnt") >= col("rn"), lit(1L))
            .otherwise(lit(0L)))
      .groupBy(col("doc_id"), col("source"), col("n_tokens"), col("phase"))
      .agg(sum(col("before")).as("before_in_phase"))
      .join(broadcast(offsets), col("phase") === col("o_phase"))
      .withColumn("step", col("phase_offset") + col("before_in_phase") + 1)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("phase"), col("step"))
  }

  // the oracle states the SEMANTICS with the global window the Spark side
  // deliberately avoids — exact agreement proves the closed form
  private val curriculumSql =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(LEN(list_filter(string_split_regex(text, '\\s+'), x -> LEN(x) > 0)) AS BIGINT) AS n_tokens,
       |    md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, source, n_tokens, h,
       |    CASE WHEN n_tokens <= ${CurriculumPhases(0)} THEN 1
       |         WHEN n_tokens <= ${CurriculumPhases(1)} THEN 2
       |         WHEN n_tokens <= ${CurriculumPhases(2)} THEN 3 ELSE 4 END AS phase
       |  FROM d),
       |r AS (
       |  SELECT doc_id, source, n_tokens, phase,
       |    ROW_NUMBER() OVER (PARTITION BY phase, source ORDER BY h, doc_id) AS rn
       |  FROM p)
       |SELECT doc_id, source, n_tokens, phase,
       |  CAST(ROW_NUMBER() OVER (ORDER BY phase, rn, source, doc_id) AS BIGINT) AS step
       |FROM r ORDER BY doc_id""".stripMargin

  // --------------------------------------- weighted (PPS) sampling (§8k)

  private val PpsK = 100

  /** §8k — probability-proportional-to-size sampling, SYSTEMATIC form:
    * lay K evenly spaced grid points over the cumulative-weight axis
    * (weight = n_chars, the token-mass proxy) and keep the doc whose
    * cumulative interval each point lands in. The classic A-Res/A-ExpJ
    * reservoir needs log/pow per row; systematic PPS needs NO
    * transcendentals — membership is the integer predicate
    * 2K·lo ≤ (2i+1)·W < 2K·hi, so both engines select the identical docs
    * (and big docs can be drawn multiple times, which is exactly PPS
    * semantics — `n_draws` reports multiplicity).
    *
    * Scale shape: the cumulative sum is the running-revenue shape (at
    * cluster scale: per-partition subtotals + broadcast offsets; here the
    * single bounded window). The K-row grid is a broadcast literal; the
    * membership test is a map-side range join against it. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = Tables(dir).documents
    val w = Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = docs
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("hi", sum(col("n_chars")).over(w))
      .withColumn("lo", col("hi") - col("n_chars"))
    val tot = docs.agg(sum(col("n_chars")).cast("long").as("W"))
    val grid = spark.range(PpsK).select(col("id").as("i"))
    cum.crossJoin(broadcast(tot))
      .join(broadcast(grid),
        (col("i") * 2 + 1) * col("W") >= col("lo") * (2 * PpsK) &&
          (col("i") * 2 + 1) * col("W") < col("hi") * (2 * PpsK))
      .groupBy(col("doc_id"), col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("n_draws"), min(col("i")).as("first_rank"))
  }

  private val weightedSampleSql =
    s"""WITH cum AS (
       |  SELECT doc_id, lang, n_chars,
       |    SUM(n_chars) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
       |  FROM documents),
       |tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS W FROM documents),
       |grid AS (SELECT CAST(i AS BIGINT) AS i FROM UNNEST(generate_series(0, ${PpsK - 1})) AS g(i))
       |SELECT doc_id, lang, n_chars, COUNT(*) AS n_draws, MIN(i) AS first_rank
       |FROM cum, tot, grid
       |WHERE (i * 2 + 1) * W >= (hi - n_chars) * ${2 * PpsK}
       |  AND (i * 2 + 1) * W < hi * ${2 * PpsK}
       |GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin

  // ------------------------------------------ ICT span pairs (§8n(ce))

  private val SpanW = 32

  /** §8n(ce) — Inverse-Cloze-Task span pairs, the self-supervised
    * retrieval-training recipe (a span is the "query", the rest of its
    * document the "positive context"): for every document with at least
    * 2·[[SpanW]] words, ONE deterministically-drawn [[SpanW]]-word span
    * (salted-md5 of the doc id over the doc's span count — reproducible
    * anywhere, no RNG state) becomes the query, the document minus that
    * span the context, plus a salted negative-document draw from the
    * doc-id domain. Emits content HASHES, not text — the pair identity
    * is what the compare needs, and at 100 TB the training job reads
    * the spans by (doc_id, k) from the corpus store rather than
    * shipping duplicated text through the pipeline.
    *
    * Scale shape: entirely map-side (one projection chain per doc, no
    * join, no shuffle except the 1-row max-doc broadcast). */
  def spanPairs(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val docs = Tables(dir).documents
    val maxDoc = docs.agg(max(col("doc_id")).as("max_doc"))
    docs.select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      .where(col("n") >= 2 * SpanW)
      .withColumn("n_spans", expr(s"n div $SpanW"))
      .withColumn("k",
        VectorExpressions.hexPrefix(
          md5(concat(lit("q#"), col("doc_id").cast("string"))), 8) % col("n_spans"))
      .crossJoin(broadcast(maxDoc))
      .withColumn("neg_doc",
        VectorExpressions.hexPrefix(
          md5(concat(lit("n#"), col("doc_id").cast("string"))), 8) % (col("max_doc") + 1))
      .where(col("neg_doc") =!= col("doc_id"))
      .select(col("doc_id"), col("k"), col("n_spans").cast("long").as("n_spans"),
        md5(concat_ws(" ", expr(s"slice(w, k * $SpanW + 1, $SpanW)"))).as("q_hash"),
        md5(concat_ws(" ",
          concat(expr(s"slice(w, 1, k * $SpanW)"),
            expr(s"slice(w, k * $SpanW + $SpanW + 1, n)")))).as("ctx_hash"),
        col("neg_doc"))
  }

  private def spanPairsSql = {
    val w = DuckSql.wordsOf("text")
    val kExpr = graft.operators.DedupQueries.hexToLongDuck(
      "md5('q#' || CAST(doc_id AS VARCHAR))", 8)
    val negExpr = graft.operators.DedupQueries.hexToLongDuck(
      "md5('n#' || CAST(doc_id AS VARCHAR))", 8)
    s"""WITH ws AS (SELECT doc_id, $w AS w FROM documents),
       |el AS (SELECT doc_id, w, LEN(w) AS n FROM ws WHERE LEN(w) >= ${2 * SpanW}),
       |mx AS (SELECT MAX(doc_id) AS max_doc FROM documents),
       |sp AS (
       |  SELECT doc_id, w, n, n // $SpanW AS n_spans,
       |    ($kExpr) % (n // $SpanW) AS k,
       |    ($negExpr) % (max_doc + 1) AS neg_doc
       |  FROM el, mx)
       |SELECT doc_id, k, n_spans,
       |  md5(array_to_string(w[k * $SpanW + 1 : k * $SpanW + $SpanW], ' ')) AS q_hash,
       |  md5(array_to_string(list_concat(w[1 : k * $SpanW], w[k * $SpanW + ${SpanW + 1} : n]), ' ')) AS ctx_hash,
       |  neg_doc
       |FROM sp WHERE neg_doc <> doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------ temperature-scaled mixing (§8n(cf))

  /** §8n(cf) — temperature-scaled language mixing weights (τ = 2): the
    * multilingual-training recipe that up-samples low-resource languages
    * — sampling weight ∝ n_tokens^(1/τ). τ = 2 makes the re-weighting a
    * SINGLE sqrt per language (correctly rounded in every IEEE engine),
    * so alongside the exact proportional per-mille share the only float
    * arithmetic is sqrt → one sum → one divide, round-6. Reported per
    * language with both shares so the up-sampling factor is read
    * directly. Scale: one corpus aggregate into |langs| rows. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val perLang = Tables(dir).documents
      .select(col("lang"), size(words(col("text"))).cast("long").as("ws"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_tokens"))
    val tot = perLang.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      sum(sqrt(col("n_tokens").cast("double"))).as("tot_w"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000 div tot_tokens").as("share_prop_pm"),
        round(sqrt(col("n_tokens").cast("double")) / col("tot_w"), 6).as("share_temp"))
  }

  private val temperatureMixSql =
    """WITH t AS (
      |  SELECT lang,
      |    CAST(LEN(list_filter(string_split_regex(text, '\s+'), x -> LEN(x) > 0)) AS BIGINT) AS ws
      |  FROM documents),
      |pl AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(ws) AS BIGINT) AS n_tokens
      |       FROM t GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
      |               SUM(sqrt(CAST(n_tokens AS DOUBLE))) AS tot_w FROM pl)
      |SELECT lang, n_docs, n_tokens,
      |  n_tokens * 1000 // tot_tokens AS share_prop_pm,
      |  ROUND(sqrt(CAST(n_tokens AS DOUBLE)) / tot_w, 6) AS share_temp
      |FROM pl, tot ORDER BY lang""".stripMargin

  // ---------------------------------------------------- dataset card

  /** §8p(dg) — the dataset card, landed as a table: the per-source
    * summary a data consumer reads BEFORE training (Datasheets for
    * Datasets / Model Cards practice, reduced to the queryable facts):
    * volume (docs, whitespace tokens, chars), mean doc length per-mille,
    * exact duplicate pressure (docs minus distinct content hashes, ‰),
    * and the language-mix entropy in micro-nats — the one-number
    * mono-vs-multilingual diagnostic. Entropy rides the micro-nat
    * integer lane: each language's −p·ln(p) term is rounded to an
    * integer INDEPENDENTLY, so the per-source sum is order-free and
    * engine-exact (the [[graft.operators.TextQueries.nbLangId]]
    * admission). One doc-level pass (tokens + content hash), one
    * (source, lang) aggregate, one source aggregate with an exact
    * distinct over content hashes. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val d = Cached.track(Tables(dir).documents
      .select(col("source"), col("lang"), col("n_chars"),
        size(words(col("text"))).cast("long").as("toks"),
        md5(col("text")).as("h"))
      .persist())
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("toks")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      countDistinct(col("h")).as("n_distinct"))
    val ent = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .join(d.groupBy("source").agg(count(lit(1)).as("n")), Seq("source"))
      .withColumn("term_u", expr(
        "CAST(ROUND(-(CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / n) * 1000000) AS BIGINT)"))
      .groupBy("source").agg(sum(col("term_u")).as("lang_entropy_u"))
    base.join(ent, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("n_tokens * 1000 div n_docs").as("mean_tokens_pm"),
        expr("(n_docs - n_distinct) * 1000 div n_docs").as("dup_pm"),
        col("lang_entropy_u"))
  }

  private val datasetCardSql =
    s"""WITH d AS (
       |  SELECT source, lang, n_chars,
       |    CAST(LEN(${DuckSql.wordsOf("text")}) AS BIGINT) AS toks,
       |    md5(text) AS h
       |  FROM documents),
       |base AS (
       |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |    COUNT(DISTINCT h) AS n_distinct
       |  FROM d GROUP BY 1),
       |ent AS (
       |  SELECT source, CAST(SUM(term_u) AS BIGINT) AS lang_entropy_u FROM (
       |    SELECT c.source,
       |      CAST(ROUND(-(CAST(c.c AS DOUBLE) / n.n) * LN(CAST(c.c AS DOUBLE) / n.n) * 1000000) AS BIGINT) AS term_u
       |    FROM (SELECT source, lang, COUNT(*) AS c FROM d GROUP BY 1, 2) c
       |    JOIN (SELECT source, COUNT(*) AS n FROM d GROUP BY 1) n USING (source)) x
       |  GROUP BY 1)
       |SELECT source, n_docs, n_tokens, n_chars,
       |  n_tokens * 1000 // n_docs AS mean_tokens_pm,
       |  (n_docs - n_distinct) * 1000 // n_docs AS dup_pm,
       |  lang_entropy_u
       |FROM base JOIN ent USING (source)
       |ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "docs_dataset_card" -> Q(datasetCard _, datasetCardSql, Seq(col("source"))),
    "docs_span_pairs" -> Q(spanPairs _, spanPairsSql, Seq(col("doc_id"))),
    "docs_temperature_mix" -> Q(temperatureMix _, temperatureMixSql, Seq(col("lang"))),
    "docs_weighted_sample" -> Q(weightedSample _, weightedSampleSql, Seq(col("doc_id"))),
    "docs_curriculum" -> Q(curriculum _, curriculumSql, Seq(col("doc_id"))),
    "docs_token_budget" -> Q(tokenBudget _, tokenBudgetSql, Seq(col("doc_id"))),
    "docs_jsonl_ingest" -> Q(jsonlIngest _, jsonlIngestSql, Seq(col("doc_id"))),
    "docs_chunk_sliding" -> Q(chunkSliding _, chunkSlidingSql, Seq(col("doc_id"), col("chunk_idx"))),
    "docs_chunk_cdc" -> Q(chunkCdc _, chunkCdcSql, Seq(col("doc_id"), col("chunk_id"))),
    "dedup_repeated_spans" -> Q(repeatedSpans _, repeatedSpansSql, Seq(col("span_hash"))),
    "dedup_scrub_spans" -> Q(scrubSpans _, scrubSpansSql, Seq(col("doc_id"))),
    "docs_tokenize_ids" -> Q(tokenizeIds _, tokenizeIdsSql, Seq(col("doc_id"))),
    "docs_length_batches" -> Q(lengthBatches _, lengthBatchesSql, Seq(col("bucket"), col("batch"))),
    "docs_mixture_sample" -> Q(mixtureSample _, mixtureSampleSql, Seq(col("doc_id"))),
    "docs_importance_sample" -> Q(importanceSample _, importanceSampleSql, Seq(col("doc_id"))),
    "docs_epoch_plan" -> Q(epochPlan _, epochPlanSql, Seq(col("doc_id"))),
    // r10: full oracles — the fixed-round recurrence unrolled into
    // chained MATERIALIZED CTEs (see bpeBaseCtes); the reference-BPE
    // spec still pins the merge sequence independently
    "docs_bpe_merges" -> Q(bpeMerges _, bpeMergesSql, Seq(col("rank"))),
    "docs_bpe_segment" -> Q(bpeSegment _, bpeSegmentSql, Seq(col("doc_id"))),
    "docs_bpe_ids" -> Q(bpeIds _, bpeIdsSql, Seq(col("doc_id"))),
    "docs_schedule_audit" -> Q(scheduleAudit _, scheduleAuditSql, Seq(col("doc_id"))),
    "docs_pack_sequences" -> Q(packSequences _, packSequencesSql, Seq(col("doc_id"))),
    "docs_shard_skew" -> Q(shardSkew _, shardSkewSql, Seq(col("shard"))),
    "text_boilerplate" -> Q(boilerplate _, boilerplateSql, Seq(col("doc_id"))),
    "text_contamination" -> Q(contamination _, contaminationSql, Seq(col("doc_id"))),
    "docs_decontaminate" -> Q(decontaminate _, decontaminateSql, Seq(col("doc_id"))),
    "dedup_chunks" -> Q(chunkDedup _, chunkDedupSql, Seq(col("first_doc"), col("chunk_hash"))),
    "text_repetition" -> Q(repetition _, repetitionSql, Seq(col("doc_id"))),
    "docs_mixture_report" -> Q(mixtureReport _, mixtureReportSql, Seq(col("source"), col("lang"))),
  )
}
