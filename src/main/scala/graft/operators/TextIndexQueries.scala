package graft.operators

import graft.Q
import graft.functions.DuckSql
import graft.functions.TextFunctions.words
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level term statistics and index structures: Zipf frequency
  * profile, inverted-index postings, and collocation (merge-candidate)
  * scoring — the term-level views a tokenizer-training / retrieval
  * pipeline builds once per corpus snapshot.
  *
  * Scale shape shared by all three: one map-side explode of the token
  * stream, one shuffle keyed on the term (uniform by construction —
  * hashing a vocabulary), and top-k via TakeOrdered (per-partition heaps
  * merged on the driver, never a global sort). Scalar corpus totals ride
  * a 1-row broadcast cross join. Reference anchor: the codebook/top-term
  * profiling the reference runs per source file
  * (sources2csr column profiling), lifted to corpus scale.
  */
object TextIndexQueries {

  private val TopK = 50

  /** Zipf profile: the corpus's top-50 terms with rank, count, and exact
    * cumulative coverage share. The vocabulary aggregate is distributed;
    * only the 50 survivors enter the cumulative window (single tiny
    * partition by construction, not by luck). Shares are computed
    * bigint→double with one rounding at the end so DuckDB and Spark agree
    * bit-for-bit. */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[TextQueries.stagedDocTokens]])
    val counts = TextQueries.stagedDocTokens(spark, dir)
      .select(explode(col("w")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("tot"))
    val topk = counts.orderBy(col("n").desc, col("term")).limit(TopK)
    val w = Window.orderBy(col("n").desc, col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    topk
      .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("term"))).cast("long"))
      .withColumn("cum_n", sum(col("n")).over(w).cast("long"))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("term"), col("n"), col("cum_n"),
        round(col("n") * lit(100.0) / col("tot"), 4).as("pct"),
        round(col("cum_n") * lit(100.0) / col("tot"), 4).as("cum_pct"))
  }

  private val zipfSql = {
    val w = DuckSql.wordsOf("text")
    s"""WITH terms AS (
       |  SELECT t.term FROM documents, UNNEST($w) AS t(term)),
       |counts AS (SELECT term, COUNT(*) AS n FROM terms GROUP BY term),
       |total AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM counts),
       |topk AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT $TopK),
       |r AS (
       |  SELECT term, n,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank,
       |    CAST(SUM(n) OVER (ORDER BY n DESC, term
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
       |  FROM topk)
       |SELECT rank, term, n, cum_n,
       |  ROUND(n * 100.0 / tot, 4) AS pct,
       |  ROUND(cum_n * 100.0 / tot, 4) AS cum_pct
       |FROM r, total ORDER BY rank""".stripMargin
  }

  /** Inverted-index postings: per term, the document frequency, total
    * occurrence count, and the head of the (sorted) posting list — the
    * structure a retrieval layer serves. One shuffle on term; the posting
    * head is capped at 10 doc ids so no term's output row is unbounded
    * (the full posting list at 100 TB is a partitioned table keyed on
    * term, not a row — this query is the index's catalog view). */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[TextQueries.stagedDocTokens]])
    TextQueries.stagedDocTokens(spark, dir)
      .select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("term"))
      .agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("n_occurrences"),
        expr("array_join(transform(slice(sort_array(collect_set(doc_id)), 1, 10), x -> CAST(x AS STRING)), ',')")
          .as("postings_head"))
  }

  private val invertedIndexSql = {
    val w = DuckSql.wordsOf("text")
    s"""WITH terms AS (
       |  SELECT doc_id, t.term FROM documents, UNNEST($w) AS t(term))
       |SELECT term,
       |  COUNT(DISTINCT doc_id) AS df,
       |  COUNT(*) AS n_occurrences,
       |  array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',') AS postings_head
       |FROM terms GROUP BY term ORDER BY term""".stripMargin
  }

  /** Positional phrase search — the retrieval layer's exact-phrase query
    * served the inverted-index way: per-(doc, term) SORTED position lists
    * for just the phrase's terms, then the phrase-match count is a pure
    * set computation, |P₀ ∩ (P₁−1) ∩ (P₂−2)| (shift each term's
    * positions back by its offset; what survives the intersection is a
    * phrase start). No text re-scan per query, no regex: the postings
    * build shuffles ONLY the phrase terms' occurrences (the term filter
    * sits below the exchange), and at serving scale the position lists
    * come from a staged postings table bucketed by term — this query is
    * the plan-shape anchor for that layer. Phrase fixed to
    * "join part filter", a trigram present at every testdata scale. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val phrase = PhraseTerms
    // r15 (opt): tokens come staged ([[TextQueries.stagedDocTokens]])
    val pos = TextQueries.stagedDocTokens(spark, dir)
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "term")))
      .where(col("term").isin(phrase.distinct: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    def side(i: Int) = pos.where(col("term") === phrase(i))
      .select(col("doc_id"), col("ps").as(s"ps$i"))
    side(0).join(side(1), Seq("doc_id")).join(side(2), Seq("doc_id"))
      .select(col("doc_id"),
        size(array_intersect(
          array_intersect(col("ps0"), transform(col("ps1"), p => p - 1)),
          transform(col("ps2"), p => p - 2))).as("n_matches"))
      .where(col("n_matches") > 0)
  }

  private val PhraseTerms = Seq("join", "part", "filter")

  private val phraseSearchSql = {
    val w = DuckSql.wordsOf("text")
    def side(i: Int, name: String) =
      s"$name AS (SELECT doc_id, list_sort(list(pos)) AS ps FROM pos WHERE term = '${PhraseTerms(i)}' GROUP BY 1)"
    s"""WITH ws AS (SELECT doc_id, $w AS w FROM documents),
       |pos AS (SELECT doc_id, w[i] AS term, i AS pos
       |        FROM ws, UNNEST(generate_series(1, LEN(w))) AS g(i)),
       |${side(0, "p0")},
       |${side(1, "p1")},
       |${side(2, "p2")}
       |SELECT doc_id,
       |  LEN(list_intersect(list_intersect(p0.ps, list_transform(p1.ps, p -> p - 1)),
       |                     list_transform(p2.ps, p -> p - 2))) AS n_matches
       |FROM p0 JOIN p1 USING (doc_id) JOIN p2 USING (doc_id)
       |WHERE LEN(list_intersect(list_intersect(p0.ps, list_transform(p1.ps, p -> p - 1)),
       |                         list_transform(p2.ps, p -> p - 2))) > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** Collocation scoring — the BPE/WordPiece merge-candidate view: every
    * adjacent token pair with its count and lift (observed pair rate over
    * the independence expectation), top-25 by pair count. Lift replaces
    * PMI's log with the raw ratio: rank-equivalent for fixed pair count
    * and transcendental-free, so both engines produce identical doubles.
    * Unigram counts join back as a broadcast (vocabulary-sized). */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[TextQueries.stagedDocTokens]])
    val toks = TextQueries.stagedDocTokens(spark, dir)
      .select(col("doc_id"), col("w"))
      .where(size(col("w")) >= 2)
    // adjacent pairs via index zip — map-side, no self-join
    val pairs = toks
      .select(explode(expr("transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS a, w[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pairCounts = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_pair"))
    val uni = TextQueries.stagedDocTokens(spark, dir)
      .select(explode(col("w")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_term"))
    val totPairs = pairCounts.agg(sum(col("n_pair")).cast("long").as("tot_pairs"))
    val totUni = uni.agg(sum(col("n_term")).cast("long").as("tot_uni"))
    pairCounts
      .join(broadcast(uni.select(col("term").as("a"), col("n_term").as("na"))), "a")
      .join(broadcast(uni.select(col("term").as("b"), col("n_term").as("nb"))), "b")
      .crossJoin(broadcast(totPairs)).crossJoin(broadcast(totUni))
      .select(col("a"), col("b"), col("n_pair"), col("na"), col("nb"),
        round(col("n_pair").cast("double") * col("tot_uni").cast("double") * col("tot_uni").cast("double")
          / (col("tot_pairs").cast("double") * col("na").cast("double") * col("nb").cast("double")), 4)
          .as("lift"))
      .orderBy(col("n_pair").desc, col("a"), col("b"))
      .limit(25)
  }

  private val collocationsSql = {
    val w = DuckSql.wordsOf("text")
    s"""WITH toks AS (
       |  SELECT doc_id, $w AS w FROM documents WHERE LEN($w) >= 2),
       |pairs AS (
       |  SELECT w[i] AS a, w[i+1] AS b
       |  FROM toks, UNNEST(generate_series(1, LEN(w) - 1)) AS g(i)),
       |pc AS (SELECT a, b, COUNT(*) AS n_pair FROM pairs GROUP BY a, b),
       |uni AS (
       |  SELECT t.term, COUNT(*) AS n_term FROM documents, UNNEST($w) AS t(term) GROUP BY t.term),
       |tp AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS tot_pairs FROM pc),
       |tu AS (SELECT CAST(SUM(n_term) AS BIGINT) AS tot_uni FROM uni)
       |SELECT a, b, n_pair, ua.n_term AS na, ub.n_term AS nb,
       |  ROUND(CAST(n_pair AS DOUBLE) * CAST(tot_uni AS DOUBLE) * CAST(tot_uni AS DOUBLE)
       |    / (CAST(tot_pairs AS DOUBLE) * CAST(ua.n_term AS DOUBLE) * CAST(ub.n_term AS DOUBLE)), 4) AS lift
       |FROM pc JOIN uni ua ON pc.a = ua.term JOIN uni ub ON pc.b = ub.term, tp, tu
       |ORDER BY n_pair DESC, a, b LIMIT 25""".stripMargin
  }

  // ---------------------------------------------- bigram LM scoring (§8k)

  /** In-engine bigram language-model quality signal — the KenLM-shaped
    * filter of LLM data pipelines, made engine-exact: train bigram/context
    * counts over the corpus, score every document by its mean conditional
    * predictability floor(c(w1,w2)·10⁶ / c(w1·)), report per (lang,
    * source). All arithmetic is integer (scaled ratios, truncating div) —
    * no logs, no floats — so a 1000-executor run and the single-node
    * oracle agree to the bit; ranking behavior matches a unigram-backoff
    * LM's for filtering purposes (machine-translationese and boilerplate
    * score HIGH, incoherent token soup scores LOW).
    *
    * Scale shape: bigrams explode map-side; the count tables aggregate on
    * (w1,w2)/(w1) — vocabulary-keyed, uniform; the score join hits the
    * per-doc COLLAPSED bigram table (doc_id,w1,w2,k), co-keyed with c2 on
    * (w1,w2), so the corpus token stream is never joined row-per-token.
    * Docs with <2 tokens carry no signal and are excluded (both engines,
    * by construction). */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = Tables(dir).documents
    stagedDocPred(spark, dir).join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(doc_pred) div count(1)").as("mean_pred"),
        min(col("doc_pred")).as("min_pred"),
        max(col("doc_pred")).as("max_pred"))
  }

  /** The per-document bigram-LM predictability score (doc_id, doc_pred)
    * — the chain [[bigramLm]] aggregates and the CCNet-style bucketing
    * ([[pplBuckets]]) ranks. All-integer (see [[bigramLm]]'s doc). */
  /** r14 (opt) — the per-document LM score as a STAGED artifact
    * (doc_id, doc_pred), content-gated on the documents table (the
    * [[graft.operators.DedupQueries]] stagedTermWeights precedent): the
    * bigram explode + three count groupBys are corpus-linear and depend
    * only on corpus state, and BOTH consumers (`text_bigram_lm`,
    * `docs_ppl_buckets`) re-ran them per query. The oracles keep
    * recomputing the identical chain from the base table; staged≡inline
    * pinned in StagedFramesSpec. */
  private[operators] def stagedDocPred(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Stage.cached(spark, "dpred", dir, "documents") {
      docPred(Tables(dir).documents)
    }
  }

  private[operators] def docPred(docs: DataFrame)(implicit s: SparkSession): DataFrame = {
    val toks = docs.select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) >= 2)
    val bg = toks.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // persisted: c2, c1 and the score join all consume docBg — without
    // materialization the plan re-derives it per consumer, i.e. THREE
    // corpus explodes instead of one (caught in the plan audit)
    val docBg = graft.operators.Cached.track(
      bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("k"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val c2 = docBg.groupBy("w1", "w2").agg(sum(col("k")).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    docBg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("pred", expr("(c2 * 1000000) div c1"))
      .groupBy("doc_id")
      .agg(expr("sum(k * pred) div sum(k)").as("doc_pred"))
  }

  /** Oracle CTE chain ending in `perdoc(doc_id, doc_pred)` — shared by
    * the bigram-LM report and the perplexity-bucket oracles. */
  private def docPredCtes: String = {
    val w = DuckSql.wordsOf("text")
    s"""toks AS (
       |  SELECT doc_id, $w AS w FROM documents WHERE LEN($w) >= 2),
       |bg AS (
       |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
       |  FROM toks, UNNEST(generate_series(1, LEN(w) - 1)) AS g(i)),
       |docbg AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM bg GROUP BY 1, 2, 3),
       |c2 AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c2 FROM docbg GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |perdoc AS (
       |  SELECT d.doc_id,
       |    CAST(SUM(d.k * ((c2.c2 * 1000000) // c1.c1)) AS BIGINT)
       |      // CAST(SUM(d.k) AS BIGINT) AS doc_pred
       |  FROM docbg d
       |  JOIN c2 ON d.w1 = c2.w1 AND d.w2 = c2.w2
       |  JOIN c1 ON d.w1 = c1.w1
       |  GROUP BY d.doc_id)""".stripMargin
  }

  /** §8n(cd) — CCNet-style perplexity bucketing: every scored document
    * assigned to its language's head / middle / tail bucket by LM
    * predictability (head = most predictable ≈ lowest perplexity — the
    * bucket CCNet keeps; tail = incoherent token soup; middle = the
    * judgement zone). Buckets are VALUE thresholds — t_head = the
    * largest score whose at-or-above population reaches ⌈n/3⌉, t_mid
    * likewise at ⌈2n/3⌉ — computed from the per-language (score, count)
    * HISTOGRAM, so the only window runs over the bounded distinct-score
    * table and the per-doc assignment is a broadcast-join comparison.
    * (An NTILE over (lang) would funnel each language's WHOLE corpus
    * through one task at scale — NTILE can't push partial limits the
    * way top-k windows do; value thresholds are also what CCNet itself
    * publishes. Ties at a threshold all land on the higher bucket —
    * deterministic in both engines, exact integers throughout.) */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = Tables(dir).documents
    val scored = stagedDocPred(spark, dir)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.operators.Cached.track)
    val hist = scored.groupBy("lang", "doc_pred").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_pred").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cumn", sum(col("n")).over(w))
      .join(hist.groupBy("lang").agg(sum(col("n")).as("tot")), Seq("lang"))
    val thr = cum.groupBy("lang").agg(
      max(when(col("cumn") >= expr("(tot + 2) div 3"), col("doc_pred"))).as("t_head"),
      max(when(col("cumn") >= expr("(2 * tot + 2) div 3"), col("doc_pred"))).as("t_mid"))
    scored.join(broadcast(thr), Seq("lang"))
      .withColumn("ppl_bucket", expr(
        "CASE WHEN doc_pred >= t_head THEN 'head' WHEN doc_pred >= t_mid THEN 'middle' ELSE 'tail' END"))
      .select(col("doc_id"), col("lang"), col("doc_pred"), col("ppl_bucket"))
  }

  private def pplBucketsSql =
    s"""WITH $docPredCtes,
       |scored AS (SELECT p.doc_id, d.lang, p.doc_pred
       |           FROM perdoc p JOIN documents d USING (doc_id)),
       |hist AS (SELECT lang, doc_pred, COUNT(*) AS n FROM scored GROUP BY 1, 2),
       |cum AS (
       |  SELECT h.lang, h.doc_pred, t.tot,
       |    SUM(h.n) OVER (PARTITION BY h.lang ORDER BY h.doc_pred DESC
       |                   ROWS UNBOUNDED PRECEDING) AS cumn
       |  FROM hist h JOIN (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot
       |                    FROM hist GROUP BY 1) t USING (lang)),
       |thr AS (
       |  SELECT lang,
       |    MAX(CASE WHEN cumn >= (tot + 2) // 3 THEN doc_pred END) AS t_head,
       |    MAX(CASE WHEN cumn >= (2 * tot + 2) // 3 THEN doc_pred END) AS t_mid
       |  FROM cum GROUP BY 1)
       |SELECT s.doc_id, s.lang, s.doc_pred,
       |  CASE WHEN s.doc_pred >= t.t_head THEN 'head'
       |       WHEN s.doc_pred >= t.t_mid THEN 'middle' ELSE 'tail' END AS ppl_bucket
       |FROM scored s JOIN thr t USING (lang)
       |ORDER BY doc_id""".stripMargin

  private val bigramLmSql = {
    s"""WITH $docPredCtes
       |SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_pred) AS BIGINT) // COUNT(*) AS mean_pred,
       |  MIN(doc_pred) AS min_pred, MAX(doc_pred) AS max_pred
       |FROM perdoc JOIN documents USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------- BM25 retrieval (§8k)

  val Bm25Terms = Seq("window", "merge", "stream")

  /** Full-text BM25 retrieval, engine-exact: top-20 documents for a fixed
    * conjunctive term set, scored with Robertson k1=6/5, b=3/4 — every
    * factor carried as INTEGERS. The idf is the classic
    * (N−df+0.5)/(df+0.5) as the rational (2N−2df+1)/(2df+1) (the
    * log-free surrogate, rank-equivalent per term — the collocation
    * query's lift-over-PMI trade); the length normalization runs on
    * dlr = ⌊10⁴·dl·N/L⌋, so magnitudes stay corpus-size-independent and
    * the arithmetic never leaves int64 at any scale. No transcendentals,
    * no floats ⇒ identical ranking on any executor count and in DuckDB.
    *
    * Scale shape: the tf table explodes map-side and FILTERS to the query
    * terms at the scan (pushed predicate); df is a |terms|-row broadcast;
    * doc lengths join keyed on doc_id; top-20 via TakeOrdered. */
  /** Unlimited per-doc BM25 scores (docs matching ≥1 query term) — the
    * registered top-k query and the streaming serving twin's spec both
    * read this. */
  def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = Tables(dir).documents
    val dls = docs.select(col("doc_id"), size(words(col("text"))).cast("long").as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("l_tot"))
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .where(col("term").isin(Bm25Terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfx), "term")
      .join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("dlr", expr("(10000 * dl * n_docs) div l_tot"))
      .withColumn("idf_s", expr("(10000 * (2 * n_docs - 2 * df + 1)) div (2 * df + 1)"))
      .withColumn("bm_s", expr("(tf * 4400000000) div (200000 * tf + 60000 + 18 * dlr)"))
      .withColumn("s_term", expr("(idf_s * bm_s) div 10000"))
      .groupBy("doc_id")
      .agg(sum(col("s_term")).as("score"), count(lit(1)).as("n_terms"))
  }

  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir).orderBy(col("score").desc, col("doc_id")).limit(20)

  /** Oracle-shared CTE chain ending in `lexall(doc_id, score, n_terms)` —
    * the unlimited BM25 score table ([[bm25Scores]] mirror). Shared by the
    * top-k oracle and the hybrid-RRF oracle so both rank the IDENTICAL
    * lexical list. */
  private def bm25Ctes: String = {
    val w = DuckSql.wordsOf("text")
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""dls AS (SELECT doc_id, CAST(LEN($w) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS l_tot FROM dls),
       |toks AS (
       |  SELECT doc_id, t.term FROM documents, UNNEST($w) AS t(term)
       |  WHERE t.term IN ($terms)),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.tf, dfx.df, dls.dl, stats.n_docs, stats.l_tot,
       |    (10000 * dls.dl * stats.n_docs) // stats.l_tot AS dlr
       |  FROM tf JOIN dfx USING (term) JOIN dls ON tf.doc_id = dls.doc_id, stats),
       |terms_scored AS (
       |  SELECT doc_id,
       |    (((10000 * (2 * n_docs - 2 * df + 1)) // (2 * df + 1))
       |      * ((tf * 4400000000) // (200000 * tf + 60000 + 18 * dlr))) // 10000 AS s_term
       |  FROM scored),
       |lexall AS (
       |  SELECT doc_id, CAST(SUM(s_term) AS BIGINT) AS score, COUNT(*) AS n_terms
       |  FROM terms_scored GROUP BY doc_id)""".stripMargin
  }

  private val bm25Sql =
    s"""WITH $bm25Ctes
       |SELECT doc_id, score, n_terms FROM lexall
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------ staged postings index

  /** §8l(bq) — the staged POSTINGS index: one (term, doc) row with tf,
    * the doc's word length, and the sorted 0-based position list, plus a
    * 1-row corpus stats table (n_docs, Σdl) — everything BM25 and phrase
    * queries need, with the corpus tokenized ONCE per content state
    * ([[graft.operators.Stage]] signature gating, the ANN-index
    * discipline applied to the lexical tower). Rows are clustered and
    * sorted by term at write time, so a serving query's `term IN (…)`
    * predicate prunes row groups at the scan — the local stand-in for a
    * term-bucketed index table; the serving plans never read `text`. */
  private[graft] def stagedPostings(spark: SparkSession, dir: String): String = {
    implicit val s: SparkSession = spark
    Stage.path("postings", dir, "documents") { path =>
      val ws = Tables(dir).documents.select(col("doc_id"), words(col("text")).as("w"))
      ws.select(col("doc_id"), size(col("w")).cast("long").as("dl"),
          posexplode(col("w")).as(Seq("pos", "term")))
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))
        .repartition(col("term")).sortWithinPartitions("term")
        .write.parquet(s"$path/postings")
      ws.select(size(col("w")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("l_tot"))
        .write.parquet(s"$path/stats")
    }
  }

  /** BM25 top-k SERVED from the staged postings — identical scores to
    * [[bm25TopK]] (the shared oracle proves it) with the corpus-touching
    * work (tokenize, dl, Σdl) paid once at index build: the serving plan
    * reads only the query terms' postings rows (term-pruned scan) and
    * the 1-row stats table. The per-query economics of a search engine:
    * cost follows the query's df, not the corpus. */
  private def bm25ServedScores(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val path = stagedPostings(spark, dir)
    val tf = spark.read.parquet(s"$path/postings")
      .where(col("term").isin(Bm25Terms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val stats = spark.read.parquet(s"$path/stats")
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfx), "term")
      .crossJoin(broadcast(stats))
      .withColumn("dlr", expr("(10000 * dl * n_docs) div l_tot"))
      .withColumn("idf_s", expr("(10000 * (2 * n_docs - 2 * df + 1)) div (2 * df + 1)"))
      .withColumn("bm_s", expr("(tf * 4400000000) div (200000 * tf + 60000 + 18 * dlr)"))
      .withColumn("s_term", expr("(idf_s * bm_s) div 10000"))
      .groupBy("doc_id")
      .agg(sum(col("s_term")).as("score"), count(lit(1)).as("n_terms"))
  }

  def bm25Served(spark: SparkSession, dir: String): DataFrame =
    bm25ServedScores(spark, dir).orderBy(col("score").desc, col("doc_id")).limit(20)

  // -------------------------------------------- incremental postings

  /** The ALREADY-INGESTED postings slice: the dedup_incremental corpus
    * split (salted doc_id hash, bucket < 80 = archive) applied to the
    * postings layer — base postings + base stats staged once per content
    * state. */
  private def stagedBasePostings(spark: SparkSession, dir: String): String = {
    implicit val s: SparkSession = spark
    Stage.path("postings_base", dir, "documents") { path =>
      val bucket = graft.plans.VectorExpressions.hexPrefix(md5(col("doc_id").cast("string")), 8) % 100
      val ws = Tables(dir).documents.where(bucket < 80)
        .select(col("doc_id"), words(col("text")).as("w"))
      ws.select(col("doc_id"), size(col("w")).cast("long").as("dl"),
          posexplode(col("w")).as(Seq("pos", "term")))
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .repartition(col("term")).sortWithinPartitions("term")
        .write.parquet(s"$path/postings")
      ws.select(size(col("w")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("l_tot"))
        .write.parquet(s"$path/stats")
    }
  }

  /** §8l(bs) — INCREMENTAL index maintenance for the lexical tower: a
    * fresh document batch (bucket ≥ 80 — the dedup_incremental split)
    * joins the staged base postings WITHOUT re-tokenizing the archive.
    * Everything BM25 needs is mergeable: postings rows UNION (a doc
    * lives on exactly one side), df = per-term row count of the merged
    * postings, and the corpus stats are ADDITIVE integers
    * (n = n_base + n_delta, Σdl likewise) — so scores over base+delta
    * are BIT-IDENTICAL to a full rebuild, which is exactly what the
    * shared full-corpus oracle proves. Per-cycle cost is the delta's
    * tokenization plus the query terms' postings rows; the archive text
    * is never touched again (the `dedup_allpairs_incremental` economics
    * on the retrieval side). */
  def bm25Incremental(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val path = stagedBasePostings(spark, dir)
    val basePost = spark.read.parquet(s"$path/postings")
      .where(col("term").isin(Bm25Terms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val baseStats = spark.read.parquet(s"$path/stats")
      .select(col("n_docs").as("nb"), col("l_tot").as("lb"))
    val bucket = graft.plans.VectorExpressions.hexPrefix(md5(col("doc_id").cast("string")), 8) % 100
    val deltaWs = Tables(dir).documents.where(bucket >= 80)
      .select(col("doc_id"), words(col("text")).as("w"))
    val deltaPost = deltaWs
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        posexplode(col("w")).as(Seq("pos", "term")))
      .where(col("term").isin(Bm25Terms: _*))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val deltaStats = deltaWs.select(size(col("w")).cast("long").as("dl"))
      .agg(count(lit(1)).as("nd"), sum(col("dl")).as("ld"))
    val stats = baseStats.crossJoin(deltaStats)
      .select((col("nb") + col("nd")).as("n_docs"), (col("lb") + col("ld")).as("l_tot"))
    val tf = basePost.unionByName(deltaPost)
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfx), "term")
      .crossJoin(broadcast(stats))
      .withColumn("dlr", expr("(10000 * dl * n_docs) div l_tot"))
      .withColumn("idf_s", expr("(10000 * (2 * n_docs - 2 * df + 1)) div (2 * df + 1)"))
      .withColumn("bm_s", expr("(tf * 4400000000) div (200000 * tf + 60000 + 18 * dlr)"))
      .withColumn("s_term", expr("(idf_s * bm_s) div 10000"))
      .groupBy("doc_id")
      .agg(sum(col("s_term")).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }

  /** §8l(br) — the FULLY index-served hybrid: [[hybridRrf]]'s fusion with
    * BOTH towers answering from their indexes — the lexical list from the
    * staged postings ([[bm25ServedScores]]) and the dense list from the
    * IVF index ([[AnnQueries.ivfRankedForProbe]]: nprobe bucket pruning,
    * exact cosine only inside the probed buckets). This is what actually
    * runs in a deployment; `text_hybrid_rrf` (exact dense scan) is its
    * recall baseline, and the two diff exactly where IVF pruning dropped
    * a dense candidate. Oracled end-to-end — the oracle recomputes the
    * postings-equivalent scores from raw text and the IVF ranking from
    * the same centroid rule, proving the SERVED path loses nothing to
    * staging. */
  def hybridServed(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val wLex = Window.orderBy(col("score").desc, col("doc_id"))
    val lex = bm25ServedScores(spark, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(RrfDepth)
      .select(col("doc_id"), row_number().over(wLex).as("rank_lex"))
    val vec = AnnQueries.ivfRankedForProbe(spark, dir, RrfProbeId, RrfDepth)
    lex.join(vec, Seq("doc_id"), "full_outer")
      .na.fill(0, Seq("rank_lex", "rank_vec"))
      .withColumn("rrf", expr(
        s"CASE WHEN rank_lex > 0 THEN 1000000000 div ($RrfK + rank_lex) ELSE 0 END" +
          s" + CASE WHEN rank_vec > 0 THEN 1000000000 div ($RrfK + rank_vec) ELSE 0 END"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
  }

  // def, not val: this SQL interpolates RrfDepth/RrfK, which are declared
  // LATER in the object — a val here would capture their pre-init 0s
  private def hybridServedSql =
    s"""WITH $bm25Ctes,
       |lexr AS (
       |  SELECT doc_id, r AS rank_lex FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
       |    FROM lexall) x WHERE r <= $RrfDepth),
       |${AnnQueries.ivfRankedCtes(RrfProbeId, RrfDepth)},
       |fused AS (
       |  SELECT doc_id, COALESCE(rank_lex, 0) AS rank_lex, COALESCE(rank_vec, 0) AS rank_vec
       |  FROM lexr FULL JOIN vecr USING (doc_id))
       |SELECT doc_id, rank_lex, rank_vec,
       |  (CASE WHEN rank_lex > 0 THEN 1000000000 // ($RrfK + rank_lex) ELSE 0 END
       |   + CASE WHEN rank_vec > 0 THEN 1000000000 // ($RrfK + rank_vec) ELSE 0 END) AS rrf
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  /** Phrase search SERVED from the staged position lists — the layer
    * [[phraseSearch]]'s docstring promises: the query joins only the
    * phrase terms' postings rows; no tokenization, no text scan. Same
    * offset-intersection kernel, same oracle. */
  def phraseServed(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val path = stagedPostings(spark, dir)
    val post = spark.read.parquet(s"$path/postings")
      .where(col("term").isin(PhraseTerms.distinct: _*))
      .select(col("doc_id"), col("term"), col("positions"))
    def side(i: Int) = post.where(col("term") === PhraseTerms(i))
      .select(col("doc_id"), col("positions").as(s"ps$i"))
    side(0).join(side(1), Seq("doc_id")).join(side(2), Seq("doc_id"))
      .select(col("doc_id"),
        size(array_intersect(
          array_intersect(col("ps0"), transform(col("ps1"), p => p - 1)),
          transform(col("ps2"), p => p - 2))).as("n_matches"))
      .where(col("n_matches") > 0)
  }

  // ------------------------------------------------- hybrid RRF retrieval

  private[graft] val RrfDepth = 100
  private[graft] val RrfK = 60
  private[graft] val RrfProbeId = 0L

  /** The lexical serving list: BM25 top-`depth` as (doc_id, rank_lex) —
    * the list [[hybridRrf]] fuses with the vector ranking, kept as its
    * own def so a server holding it static fuses the IDENTICAL list. */
  def bm25Ranked(spark: SparkSession, dir: String, depth: Int = RrfDepth): DataFrame = {
    val wLex = Window.orderBy(col("score").desc, col("doc_id"))
    bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(depth)
      .select(col("doc_id"), row_number().over(wLex).as("rank_lex"))
  }

  /** §8k(ba) — HYBRID retrieval: the BM25 lexical ranking and an
    * embedding-cosine ranking (probe = document [[RrfProbeId]]'s vector)
    * fused by Reciprocal Rank Fusion (Cormack et al., SIGIR'09) — the
    * standard two-tower serving shape (sparse + dense retriever, one
    * fused list). Each list contributes 10⁹ div (k + rank) with k = 60
    * to every doc in its top-[[RrfDepth]]; the integer surrogate of
    * 1/(k+rank) keeps the fused score engine-exact (ranks are exact —
    * BM25 scores are integers, cosines are round-6 — so the whole fusion
    * is integer arithmetic over deterministic ranks).
    *
    * Scale shape: both lists are top-N under TakeOrdered (bounded heaps,
    * no global sort of the corpus); the fusion is a full-outer join of
    * two ≤[[RrfDepth]]-row frames. At deployment the lexical list serves
    * from term-bucketed postings ([[invertedIndex]]) and the dense list
    * from the IVF index (`ann_ivf_topk`) — this query pins the fusion
    * semantics those serving paths must reproduce. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    import graft.plans.VectorExpressions
    val lex = bm25Ranked(spark, dir)
    val emb = Tables(dir).embeddings
    val probe = emb.where(col("vec_id") === RrfProbeId).select(col("embedding").as("p"))
    val wVec = Window.orderBy(col("cos").desc, col("doc_id"))
    val vec = emb.crossJoin(broadcast(probe))
      .where(col("vec_id") =!= RrfProbeId)
      .select(col("vec_id").as("doc_id"),
        round(VectorExpressions.dot(col("embedding"), col("p"))
          / (sqrt(VectorExpressions.dot(col("embedding"), col("embedding")))
            * sqrt(VectorExpressions.dot(col("p"), col("p")))), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(RrfDepth)
      .select(col("doc_id"), row_number().over(wVec).as("rank_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .na.fill(0, Seq("rank_lex", "rank_vec"))
      .withColumn("rrf", expr(
        s"CASE WHEN rank_lex > 0 THEN 1000000000 div ($RrfK + rank_lex) ELSE 0 END" +
          s" + CASE WHEN rank_vec > 0 THEN 1000000000 div ($RrfK + rank_vec) ELSE 0 END"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
  }

  private val hybridRrfSql =
    s"""WITH $bm25Ctes,
       |lexr AS (
       |  SELECT doc_id, r AS rank_lex FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
       |    FROM lexall) x WHERE r <= $RrfDepth),
       |probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = $RrfProbeId),
       |vecall AS (
       |  SELECT vec_id AS doc_id, ROUND(${AnnQueries.cosChainDuck("e.embedding", "p")}, 6) AS cos
       |  FROM embeddings e, probe WHERE vec_id <> $RrfProbeId),
       |vecr AS (
       |  SELECT doc_id, r AS rank_vec FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
       |    FROM vecall) x WHERE r <= $RrfDepth),
       |fused AS (
       |  SELECT doc_id, COALESCE(rank_lex, 0) AS rank_lex, COALESCE(rank_vec, 0) AS rank_vec
       |  FROM lexr FULL JOIN vecr USING (doc_id))
       |SELECT doc_id, rank_lex, rank_vec,
       |  (CASE WHEN rank_lex > 0 THEN 1000000000 // ($RrfK + rank_lex) ELSE 0 END
       |   + CASE WHEN rank_vec > 0 THEN 1000000000 // ($RrfK + rank_vec) ELSE 0 END) AS rrf
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  val queries: Map[String, Q] = Map(
    "text_bm25_topk" -> Q(bm25TopK _, bm25Sql, Seq(col("score").desc, col("doc_id"))),
    "text_hybrid_rrf" -> Q(hybridRrf _, hybridRrfSql, Seq(col("rrf").desc, col("doc_id"))),
    "text_bm25_served" -> Q(bm25Served _, bm25Sql, Seq(col("score").desc, col("doc_id"))),
    "text_hybrid_served" -> Q(hybridServed _, hybridServedSql,
      Seq(col("rrf").desc, col("doc_id"))),
    "text_phrase_served" -> Q(phraseServed _, phraseSearchSql, Seq(col("doc_id"))),
    "text_bm25_incremental" -> Q(bm25Incremental _, bm25Sql,
      Seq(col("score").desc, col("doc_id"))),
    "text_bigram_lm" -> Q(bigramLm _, bigramLmSql, Seq(col("lang"), col("source"))),
    "docs_ppl_buckets" -> Q(pplBuckets _, pplBucketsSql, Seq(col("doc_id"))),
    "text_zipf_profile" -> Q(zipfProfile _, zipfSql, Seq(col("rank"))),
    "text_inverted_index" -> Q(invertedIndex _, invertedIndexSql, Seq(col("term"))),
    "text_phrase_search" -> Q(phraseSearch _, phraseSearchSql, Seq(col("doc_id"))),
    "text_collocations" -> Q(collocations _, collocationsSql,
      Seq(col("n_pair").desc, col("a"), col("b"))),
  )
}
