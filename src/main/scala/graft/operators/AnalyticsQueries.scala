package graft.operators

import graft.Q
import graft.functions.Num.{dsum, fin}
import graft.functions.TextFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second-ring analytics operators: as-of join, corpus term statistics,
  * quality filtering, sketched distincts, NGS-style matrix transpose.
  *
  * Per the brief's preference order these are COMPOSED from built-ins —
  * each semantics here is expressible with windows/aggregations, so no
  * custom plan nodes are justified (the operators that did need native
  * code — cosine, hex-prefix parsing — live in graft.plans).
  */
object AnalyticsQueries {

  // ------------------------------------------------------------ as-of join

  /** As-of join composed from a window (no custom operator needed): each
    * purchase event picks up the value of the user's most recent prior (or
    * simultaneous) view event. One shuffle, keyed by user — the same
    * partitioning every per-user operator shares. */
  def asofView(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(dir).events
      .withColumn("view_val", when(col("event_type") === "view", col("value")))
      .withColumn("last_view_value", last(col("view_val"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value"), 6).as("purchase_value"),
        round(col("last_view_value"), 6).as("last_view_value"))
  }

  private val asofViewSql =
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |  ROUND(value, 6) AS purchase_value,
      |  ROUND(last_view_value, 6) AS last_view_value
      |FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_value
      |  FROM events) x
      |WHERE event_type = 'purchase'
      |ORDER BY user_id, event_id""".stripMargin

  // ------------------------------------------------------- term statistics

  /** Top-5 terms per language (ascii lowercase terms only — keeps the
    * ranking collation-independent across engines). Explode is map-side;
    * the (lang, term) agg collapses the corpus before the tiny per-lang
    * top-k window. */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[TextQueries.stagedDocTokens]])
    val counts = TextQueries.stagedDocTokens(spark, dir)
      .select(col("lang"), explode(col("w")).as("term"))
      .where(col("term").rlike("^[a-z]+$") && length(col("term")) > 2)
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("term"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select("lang", "rank", "term", "n")
  }

  private val topTermsSql =
    """WITH terms AS (
      |  SELECT lang, t.term FROM documents,
      |    UNNEST(list_filter(string_split_regex(text, '\s+'), x -> LEN(x) > 0)) AS t(term)
      |  WHERE regexp_full_match(t.term, '[a-z]+') AND LEN(t.term) > 2),
      |counts AS (SELECT lang, term, COUNT(*) AS n FROM terms GROUP BY lang, term),
      |ranked AS (
      |  SELECT lang, term, n,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rank
      |  FROM counts)
      |SELECT lang, rank, term, n FROM ranked WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  // ------------------------------------------------------- quality filter

  /** The LLM-ingest keep/drop decision composed from the text signals —
    * what a training-data pipeline actually runs after scoring. Pure
    * map-side: scores and verdicts are per-row expressions. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // single scoring definition shared with CorpusPipeline's quality
    // gate (CorpusPolicy.scoredWith) so the query and the pipeline cannot drift
    graft.pipeline.CorpusPolicy.scored(Tables(dir).documents)
  }

  private val qualityFilterSql =
    """WITH x AS (
      |  SELECT doc_id, lang,
      |    CAST(LENGTH(text) AS DOUBLE) AS n,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) AS punct,
      |    list_filter(string_split_regex(text, '\s+'), w -> LEN(w) > 0) AS w
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, lang,
      |    ROUND(LEAST(n / 500.0, 1.0) * 0.3 + (1.0 - punct / n) * 0.4
      |      + (CAST(LEN(list_filter(w, t -> t IN ('the','a','of','to','and','in','is','for'))) AS DOUBLE)
      |         / CAST(LEN(w) AS DOUBLE)) * 0.3, 6) AS quality,
      |    CAST(LEN(w) AS BIGINT) AS n_tokens
      |  FROM x)
      |SELECT doc_id, lang, quality, n_tokens,
      |  (quality >= 0.5 AND n_tokens >= 10 AND lang <> 'zh') AS keep
      |FROM scored ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ semi-structured props

  /** Semi-structured payload extraction: the events table carries a JSON
    * `props` column; pull the typed field out and aggregate. Path
    * extraction is a per-row codegen'd expression — the JSON never leaves
    * the scan stage, only the extracted integer shuffles. */
  def propsJson(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
  }

  private val propsJsonSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events) x
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------ sketched distincts

  /** Exact count-distinct is a full shuffle of the key set; at 100 TB the
    * scale path is the HLL sketch (map-side mergeable, constant memory) —
    * [[approxDistinctEstimate]] is that production query. */
  def approxDistinctEstimate(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).orders.agg(
      approx_count_distinct(col("o_custkey"), 0.02).as("approx_customers"),
      count(lit(1)).as("n_orders"))
  }

  /** The REGISTERED readout gates the sketch at its documented error
    * instead of exposing the raw estimate: HLL++ register contents are
    * engine-specific, so the estimate itself can never hash-match a
    * DuckDB oracle, but `|approx − exact| ≤ 3σ` (rsd 0.02 → 6%) is an
    * engine-independent boolean — the exact count appears ONLY to
    * adjudicate the sketch (this is the verification harness; the 100 TB
    * query is [[approxDistinctEstimate]], sketch-only). Integer-exact
    * gate arithmetic (×100 vs ×6), no float surface. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).orders.agg(
      approx_count_distinct(col("o_custkey"), 0.02).as("approx"),
      countDistinct(col("o_custkey")).as("n_customers_exact"),
      count(lit(1)).as("n_orders"))
      .select(col("n_orders"), col("n_customers_exact"),
        (abs(col("approx") - col("n_customers_exact")) * 100
          <= col("n_customers_exact") * 6).as("approx_within_bound"))
  }

  private val approxDistinctSql =
    """SELECT COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers_exact,
      |  TRUE AS approx_within_bound
      |FROM orders""".stripMargin

  /** Mergeable approximate percentiles (KLL-style sketch via the built-in
    * `percentile_approx`): per-priority p50/p90/p99 of order totals. The
    * sketch aggregates map-side and merges associatively — ONE exchange of
    * |groups| sketches instead of [[orderPercentiles]]'s per-group sorts —
    * which is the 100 TB shape for "give me quantiles over everything".
    * Not oracle-gated (sketch internals differ engine to engine by
    * design); the spec bounds the RANK error against the exact quantiles
    * at 1/accuracy, which is the guarantee the sketch actually makes. */
  def approxOrderPercentiles(spark: SparkSession, dir: String,
                             accuracy: Int = 10000): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(percentile_approx(col("o_totalprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(accuracy)).as("pcts"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"), col("n_orders"),
        col("pcts")(0).as("p50"), col("pcts")(1).as("p90"), col("pcts")(2).as("p99"))
  }

  /** Month-over-month revenue growth: the reporting shape every warehouse
    * runs nightly. The fact scan collapses to |months| rows map-side
    * (decimal partial sums); lag/pct-change ride a single-partition
    * window over that bounded frame — same discipline as the backlog's
    * running sum: global windows only ever see aggregates. */
  def monthlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("month"))
    Tables(dir).orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(fin(dsum(col("o_totalprice"))).as("revenue"), count(lit(1)).as("n_orders"))
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("mom_pct",
        round((col("revenue") - col("prev_revenue")) * lit(100.0) / col("prev_revenue"), 4))
  }

  private val monthlyGrowthSql =
    """WITH m AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT month, revenue, n_orders,
      |  lag(revenue) OVER (ORDER BY month) AS prev_revenue,
      |  ROUND((revenue - lag(revenue) OVER (ORDER BY month)) * 100.0
      |        / lag(revenue) OVER (ORDER BY month), 4) AS mom_pct
      |FROM m ORDER BY month""".stripMargin

  /** Customer lifetime-value distribution: per-segment percent_rank and
    * cume_dist over decimal LTV sums — the "where does this account sit"
    * percentile view. Rank windows partition by segment (bounded groups)
    * over the |customers|-sized aggregate, never the order facts; ties in
    * LTV get identical ranks in both engines by definition, so the
    * tie-break needs no extra key. */
  def customerLtv(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("ltv"))
    t.orders
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(fin(dsum(col("o_totalprice"))).as("ltv"), count(lit(1)).as("n_orders"))
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")), Seq("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("ltv"), col("n_orders"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
  }

  private val customerLtvSql =
    """WITH ltv AS (
      |  SELECT o_custkey AS c_custkey,
      |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS ltv,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT l.c_custkey AS c_custkey, c.c_mktsegment, l.ltv, l.n_orders,
      |  ROUND(percent_rank() OVER (PARTITION BY c.c_mktsegment ORDER BY l.ltv), 6) AS pct_rank,
      |  ROUND(cume_dist() OVER (PARTITION BY c.c_mktsegment ORDER BY l.ltv), 6) AS cume
      |FROM ltv l JOIN customer c ON c.c_custkey = l.c_custkey
      |ORDER BY l.c_custkey""".stripMargin

  // ------------------------------------------------ NGS matrix transpose

  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val nations = (0 until 25).map(i => s"NATION_$i")

  /** NGS gene×sample matrix transpose (reference: archived NGS pipeline
    * transposes gene matrices to cBioPortal staging). A wide nation×priority
    * count matrix is melted (narrow stack) and re-pivoted on the other
    * axis — both column sets are bounded dims, so the pivot column lists
    * are deterministic config, not data-dependent collects. */
  def matrixTranspose(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val long = t.orders
      .join(t.customer.select("c_custkey", "c_nationkey"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    // wide: nation rows × priority columns (the "gene matrix" as it arrives)
    val wide = long.groupBy(col("n_name")).pivot("o_orderpriority", priorities).sum("cnt")
    // transpose: melt the wide matrix back to long, re-pivot on nation
    val stackArgs = priorities.map(p => s"'$p', `$p`").mkString(", ")
    val melted = wide.select(col("n_name"),
      expr(s"stack(${priorities.size}, $stackArgs) AS (priority, cnt)"))
    val out = melted.groupBy(col("priority")).pivot("n_name", nations).sum("cnt")
    nations.foldLeft(out)((df, nc) => df.withColumn(nc, coalesce(col(s"`$nc`"), lit(0L))))
  }

  private val matrixTransposeSql = {
    val cols = nations
      .map(nc => s"CAST(COALESCE(SUM(CASE WHEN n_name = '$nc' THEN cnt END), 0) AS BIGINT) AS $nc")
      .mkString(",\n  ")
    s"""WITH long AS (
       |  SELECT n_name, o_orderpriority AS priority, COUNT(*) AS cnt
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2)
       |SELECT priority,
       |  $cols
       |FROM long GROUP BY priority ORDER BY priority""".stripMargin
  }

  // ------------------------------------------------------------ quantiles

  /** Exact interpolated quantiles of the quality score per language — the
    * distribution a pipeline reads before picking filter thresholds. Both
    * engines define the continuous quantile as linear interpolation at
    * rank (n-1)·q over the sorted values, so the doubles agree exactly. */
  def qualityQuantiles(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val n = length(col("text")).cast("double")
    val punct = (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?()]", ""))).cast("double")
    val wcol = words(col("text"))
    val quality = round(least(n / lit(500.0), lit(1.0)) * 0.3
      + (lit(1.0) - punct / n) * 0.4
      + (size(filter(wcol, w => w.isin("the", "a", "of", "to", "and", "in", "is", "for")))
        / size(wcol).cast("double")) * 0.3, 6)
    Tables(dir).documents
      .select(col("lang"), quality.as("q"))
      .groupBy(col("lang"))
      .agg(
        round(expr("percentile(q, 0.25)"), 6).as("p25"),
        round(expr("percentile(q, 0.5)"), 6).as("p50"),
        round(expr("percentile(q, 0.9)"), 6).as("p90"),
        count(lit(1)).as("n_docs"))
  }

  private val qualityQuantilesSql =
    """WITH x AS (
      |  SELECT lang,
      |    ROUND(LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.3
      |      + (1.0 - CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE)
      |          / CAST(LENGTH(text) AS DOUBLE)) * 0.4
      |      + (CAST(LEN(list_filter(list_filter(string_split_regex(text, '\s+'), w -> LEN(w) > 0),
      |            t -> t IN ('the','a','of','to','and','in','is','for'))) AS DOUBLE)
      |         / CAST(LEN(list_filter(string_split_regex(text, '\s+'), w -> LEN(w) > 0)) AS DOUBLE)) * 0.3,
      |      6) AS q
      |  FROM documents)
      |SELECT lang,
      |  ROUND(quantile_cont(q, 0.25), 6) AS p25,
      |  ROUND(quantile_cont(q, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(q, 0.9), 6) AS p90,
      |  COUNT(*) AS n_docs
      |FROM x GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------------- moving window

  /** Rolling 4-event value sum per user (decimal accumulation for oracle
    * stability) — the sliding-window shape of rate/With-trend features. */
  def movingSum(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    Tables(dir).events
      .withColumn("moving_sum",
        round(sum(col("value").cast("decimal(28,6)")).over(w), 2).cast("double"))
      .select("user_id", "event_id", "ts", "moving_sum")
  }

  private val movingSumSql =
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS moving_sum
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------- deterministic split

  /** Deterministic hash-based train/val/test split — reproducible on any
    * engine and any run, unlike `rand()`: bucket = md5(doc_id) mod 100.
    * Pure map-side; at 100 TB the split costs one hash per row. */
  def splitSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val bucket = expr(s"${hexBucketSpark("md5(cast(doc_id as string))")} % 100")
    Tables(dir).documents
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
  }

  /** 32-bit value of the md5 prefix (same chain the dedup family uses). */
  private def hexBucketSpark(h: String): String =
    (0 until 8).map { p =>
      s"(instr('0123456789abcdef', substring($h, ${p + 1}, 1)) - 1) * ${1L << (4 * (7 - p))}L"
    }.mkString("(", " + ", ")")

  private def hexBucketDuck(h: String): String =
    (0 until 8).map { p =>
      s"(strpos('0123456789abcdef', substring($h, ${p + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - p))} AS BIGINT)"
    }.mkString("(", " + ", ")")

  private val splitSampleSql =
    s"""WITH b AS (
       |  SELECT doc_id, ${hexBucketDuck("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket < 80 THEN 'train'
       |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------- cube rollup

  /** Full CUBE over (returnflag, linestatus): every subtotal combination
    * in one pass (Spark expands grouping sets inside a single hash
    * aggregate with partial map-side combine — not one job per cell).
    * Rolled-up dimensions are surfaced as 'ALL' + grouping flags so the
    * output carries no NULL group keys (NULL sort order differs between
    * engines; 'ALL' keeps the canonical ordering portable). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // Pre-aggregate to the base (flag, status) cells BEFORE the CUBE:
    // Spark's CUBE expands every input row 2^dims times, so cubing the raw
    // fact table quadruples the scan. Decimal sums are associative, so
    // rolling the handful of cells up is exact — at 100 TB the expand runs
    // over |cells| rows instead of the corpus.
    val cells = Tables(dir).lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("c_qty"),
        dsum(col("l_extendedprice")).as("c_price"),
        count(lit(1)).as("c_n"))
    cells
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"),
        fin(sum(col("c_qty"))).as("sum_qty"),
        fin(sum(col("c_price"))).as("sum_price"),
        sum(col("c_n")).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("g_flag"), col("g_status"), col("sum_qty"), col("sum_price"), col("n_rows"))
  }

  private val cubeAggSql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ------------------------------------------------- order-value spread

  /** Exact interpolated percentiles of order value per priority class
    * (same percentile/quantile_cont parity as text_quality_quantiles). */
  def orderPercentiles(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.95)"), 6).as("p95"),
        fin(dsum(col("o_totalprice"))).as("total_value"),
        count(lit(1)).as("n_orders"))
  }

  private val orderPercentilesSql =
    """SELECT o_orderpriority,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(o_totalprice, 0.95), 6) AS p95,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS total_value,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------ moments from exact sums

  /** Sample stddev and correlation built from EXACT decimal power sums
    * (n, Σx, Σy, Σx², Σy², Σxy) instead of the engines' native streaming
    * moment aggregates: decimal sums are order-independent, so the final
    * double formula evaluates on identical inputs in any engine and at any
    * parallelism — the only way stddev/corr hash-verify cross-engine. One
    * aggregation pass, map-side partials, same scale shape as any sum. */
  def statsMoments(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.types.DecimalType
    def dsq(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(28, 6)))
    val x = col("l_quantity"); val y = col("l_extendedprice")
    // r14 (opt): gated spread — six decimal power sums serialized behind
    // the one-task scan (1.83 → 0.77 s at sf0.1; Tables.spread doc)
    Tables(dir).spread("lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        dsq(x).cast("double").as("sx"), dsq(y).cast("double").as("sy"),
        dsq(x * x).cast("double").as("sxx"), dsq(y * y).cast("double").as("syy"),
        dsq(x * y).cast("double").as("sxy"))
      .select(
        col("l_returnflag"),
        col("n").cast("long").as("n_rows"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          / (col("n") * (col("n") - 1))), 6).as("stddev_qty"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_qty_price"))
  }

  private val statsMomentsSql =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  CAST(n AS BIGINT) AS n_rows,
      |  ROUND(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6) AS stddev_qty,
      |  ROUND((n * sxy - sx * sy)
      |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
      |FROM s ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- tf-idf

  /** Per-document top-3 terms by tf-idf. The score is the idf RATIO
    * variant tf·(N/df) — deliberately no logarithm: ln() is a libm call
    * whose last ulp differs across engines, while the ratio ranks
    * identically per document (N fixed, df monotone) and stays exact. The
    * ranking key is the integer `floor(tf·N·10⁴/df)` (fits a long at any
    * plausible corpus scale within the 10⁴ grid), so rank order and the
    * reported 4-decimal score are engine-exact. Shuffle shape: one
    * exchange per aggregation level (doc-term, term, doc), with the df
    * join co-partitioned on term against the df aggregate. */
  def tfidfTopK(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r15 (opt): tokens come staged ([[TextQueries.stagedDocTokens]])
    val docs = TextQueries.stagedDocTokens(spark, dir)
    val terms = docs
      .select(col("doc_id"), explode(col("w")).as("term"))
      .where(col("term").rlike("^[a-z]+$") && length(col("term")) > 2)
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfx, "term").crossJoin(broadcast(n))
      .withColumn("ss", expr("(tf * n_docs * 10000) div df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ss").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        (col("ss") / 10000.0).as("tfidf"))
  }

  private val tfidfTopKSql =
    """WITH terms AS (
      |  SELECT doc_id, t.term FROM documents,
      |    UNNEST(list_filter(string_split_regex(text, '\s+'), x -> LEN(x) > 0)) AS t(term)
      |  WHERE regexp_full_match(t.term, '[a-z]+') AND LEN(t.term) > 2),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
      |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, tf.term, tf, df, (tf * n_docs * 10000) // df AS ss
      |  FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, tf, df, ss,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ss DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, tf, df, ss / 10000.0 AS tfidf
      |FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------------------------ histogram

  /** Equi-width histogram of l_extendedprice: global [min, max] from one
    * single-row aggregate broadcast back over the scan, then a pure
    * map-side bucket assignment + count. Two passes over the fact table,
    * zero wide shuffles — the classic profile-then-bucket shape. The
    * bucket expression keeps the exact same IEEE operation order in both
    * engines (`((x - lo) * 10) / (hi - lo)`), so boundary assignment is
    * bit-identical. */
  def priceHistogram(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val stats = t.lineitem.agg(
      min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
    t.lineitem
      .crossJoin(broadcast(stats))
      .withColumn("bucket",
        least(floor(((col("l_extendedprice") - col("lo")) * 10) / (col("hi") - col("lo"))), lit(9L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_items"),
        fin(dsum(col("l_extendedprice"))).as("sum_price"))
  }

  private val priceHistogramSql =
    """WITH s AS (
      |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem)
      |SELECT CAST(LEAST(FLOOR(((l_extendedprice - lo) * 10) / (hi - lo)), 9) AS BIGINT) AS bucket,
      |  COUNT(*) AS n_items,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_price
      |FROM lineitem CROSS JOIN s
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------------------------------- stratified sample

  /** Deterministic stratified sample: within every language stratum, keep
    * the docs whose md5-derived bucket lands in the 10% slot — same
    * fraction per stratum in expectation, reproducible across engines and
    * runs (no RNG), and embarrassingly map-side at any scale. The hash
    * chain is the same md5-prefix integer the dedup family uses. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val bucket = expr(s"${hexBucketSpark("md5(cast(doc_id as string))")} % 10")
    Tables(dir).documents
      .where(bucket === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  private val stratifiedSampleSql =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${hexBucketDuck("md5(CAST(doc_id AS VARCHAR))")} % 10 = 0
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- RFM segments

  /** RFM customer segmentation — the classic recency/frequency/monetary
    * quintile grid: each customer's three metrics are scored 1..5 by
    * NTILE(5) with a fully deterministic order (metric, then custkey —
    * both engines give earlier tiles the extra rows, so the cut points
    * are bit-identical), and the output is the per-cell census a CRM
    * campaign plans against. Plan: one orders aggregate (customer-keyed
    * shuffle), three rank windows over the RESULTING customer table —
    * never the fact table — then one cell aggregate. The unpartitioned
    * NTILE is exact-but-single-partition (the q_order_deciles trade);
    * at open-ended customer counts the documented twin is quantile cut
    * points from the rank-error-bounded sketch
    * (approxOrderPercentiles), scored map-side. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val per = Tables(dir).orders
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("monetary"))
    def score(c: String) = ntile(5).over(
      org.apache.spark.sql.expressions.Window.orderBy(col(c).asc, col("o_custkey").asc))
    per
      .withColumn("r_score", score("last_order"))
      .withColumn("f_score", score("n_orders"))
      .withColumn("m_score", score("monetary"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"), fin(dsum(col("monetary"))).as("monetary"))
  }

  private val rfmSegmentsSql =
    """WITH per AS (
      |  SELECT o_custkey, MAX(o_orderdate) AS last_order, COUNT(*) AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS monetary
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT o_custkey, monetary,
      |    NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
      |    NTILE(5) OVER (ORDER BY n_orders, o_custkey) AS f_score,
      |    NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      |  FROM per)
      |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
      |  CAST(ROUND(SUM(monetary), 2) AS DOUBLE) AS monetary
      |FROM scored GROUP BY 1, 2, 3
      |ORDER BY r_score, f_score, m_score""".stripMargin

  // ------------------------------------------------- GROUPING SETS (§8k)

  /** Explicit GROUPING SETS — the general form CUBE/ROLLUP specialize:
    * nation×year revenue with per-nation, per-year and grand totals, but
    * NOT the (year-within-nation) rollup level a full cube would add.
    * Same cells-first discipline as [[cubeAgg]]: the Expand runs over the
    * pre-aggregated (nation, year) cells, not the fact table, so the 4×
    * row expansion touches a few hundred rows at any corpus size. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val base = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).as("yr"), col("o_totalprice"))
    val cells = base.groupBy("n_name", "yr")
      .agg(dsum(col("o_totalprice")).as("c_rev"), count(lit(1)).as("c_n"))
    cells
      .groupingSets(
        Seq(Seq(col("n_name"), col("yr")), Seq(col("n_name")), Seq(col("yr")), Seq.empty),
        col("n_name"), col("yr"))
      .agg(
        grouping(col("n_name")).cast("long").as("g_nation"),
        grouping(col("yr")).cast("long").as("g_year"),
        fin(sum(col("c_rev"))).as("sum_rev"),
        sum(col("c_n")).as("n_orders"))
      .select(
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("yr").cast("string"), lit("ALL")).as("yr"),
        col("g_nation"), col("g_year"), col("sum_rev"), col("n_orders"))
  }

  private val groupingSetsSql =
    """WITH base AS (
      |  SELECT n_name, YEAR(o_orderdate) AS yr, o_totalprice
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |SELECT COALESCE(n_name, 'ALL') AS nation,
      |  COALESCE(CAST(yr AS VARCHAR), 'ALL') AS yr,
      |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
      |  CAST(GROUPING(yr) AS BIGINT) AS g_year,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_rev,
      |  COUNT(*) AS n_orders
      |FROM base
      |GROUP BY GROUPING SETS ((n_name, yr), (n_name), (yr), ())
      |ORDER BY g_nation, g_year, nation, yr""".stripMargin

  // ---------------------------------------------------- mode per group

  /** Most frequent order priority per nation, deterministic ties (lowest
    * priority string wins). Counting first collapses the fact table to
    * |nations|×|priorities| cells; the argmax window runs over that tiny
    * cell table — mode never needs a sort of the raw data. */
  def modePerGroup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val counts = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("n_orders").desc, col("o_orderpriority"))
    counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("n_name"), col("o_orderpriority").as("mode_priority"), col("n_orders"))
  }

  private val modePerGroupSql =
    """WITH counts AS (
      |  SELECT n_name, o_orderpriority, COUNT(*) AS n_orders
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT n_name, o_orderpriority AS mode_priority, n_orders
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name
      |        ORDER BY n_orders DESC, o_orderpriority) AS rn FROM counts) x
      |WHERE rn = 1 ORDER BY n_name""".stripMargin

  // -------------------------------------------------- Pareto frontier

  /** 2-D Pareto frontier: orders not dominated on (earlier orderdate,
    * higher totalprice) — dominance strict in at least one coordinate.
    * Cells-first makes the classic O(n log n) sweep distributed-cheap:
    * collapse to per-date max price (one keyed shuffle of bounded
    * |dates| output), run the running-max sweep over that bounded cell
    * table (single-partition window over ~2.4k rows, not the corpus),
    * then join the surviving (date, max) cells back — broadcast — to
    * recover the frontier orders. Equal-price-later-date is dominated
    * (strict date); equal everything is kept (no strict coordinate). */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val orders = Tables(dir).orders
    val cells = orders.groupBy(col("o_orderdate")).agg(max(col("o_totalprice")).as("mx"))
    val w = Window.orderBy(col("o_orderdate")).rowsBetween(Window.unboundedPreceding, -1)
    val frontier = cells.withColumn("rm", max(col("mx")).over(w))
      .where(col("rm").isNull || col("mx") > col("rm"))
      .select(col("o_orderdate").as("fd"), col("mx"))
    orders.join(broadcast(frontier),
        col("o_orderdate") === col("fd") && col("o_totalprice") === col("mx"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
  }

  private val paretoFrontierSql =
    """WITH cells AS (
      |  SELECT o_orderdate AS fd, MAX(o_totalprice) AS mx FROM orders GROUP BY 1),
      |swept AS (
      |  SELECT fd, mx, MAX(mx) OVER (ORDER BY fd
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm FROM cells),
      |frontier AS (SELECT fd, mx FROM swept WHERE rm IS NULL OR mx > rm)
      |SELECT o_orderkey, o_orderdate, o_totalprice
      |FROM orders JOIN frontier ON o_orderdate = fd AND o_totalprice = mx
      |ORDER BY o_orderkey""".stripMargin

  // ----------------------------------------------------- OLS trend (§8k)

  /** Per-nation revenue TREND: ordinary-least-squares slope/intercept of
    * monthly revenue against the month index, from the closed form
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²). Every sum is exact (decimal
    * for revenue products, integer for the index moments), aggregated
    * distributed with map-side partials; the ONLY floating-point steps
    * are the two final divisions of identical exact operands — IEEE-
    * deterministic, so both engines emit the same rounded digits. The
    * monthly cells (|nations|×|months|) are the regression input — the
    * fact table is touched once by the cell aggregation. */
  def revenueTrend(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val monthly = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1).as("x"))
      .agg(dsum(col("o_totalprice")).as("y"))
    monthly.groupBy("n_name")
      .agg(count(lit(1)).as("n_months"),
        sum(col("x")).as("sx"),
        sum(expr("CAST(x AS BIGINT) * x")).as("sxx"),
        sum(col("y")).as("sy"),
        sum(expr("x * y")).as("sxy"))
      .withColumn("slope", round(
        (col("n_months") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_months") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
      .withColumn("intercept", round(
        (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n_months").cast("double"), 4))
      .select(col("n_name"), col("n_months"), col("slope"), col("intercept"))
  }

  private val revenueTrendSql =
    """WITH monthly AS (
      |  SELECT n_name,
      |    (YEAR(o_orderdate) - 1992) * 12 + MONTH(o_orderdate) - 1 AS x,
      |    SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS y
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT n_name, COUNT(*) AS n_months,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    SUM(y) AS sy, SUM(x * y) AS sxy
      |  FROM monthly GROUP BY 1),
      |sloped AS (
      |  SELECT n_name, n_months, sx, sy,
      |    ROUND(CAST(n_months * sxy - sx * sy AS DOUBLE)
      |      / CAST(n_months * sxx - sx * sx AS DOUBLE), 6) AS slope
      |  FROM agg)
      |SELECT n_name, n_months, slope,
      |  ROUND((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
      |    / CAST(n_months AS DOUBLE), 4) AS intercept
      |FROM sloped ORDER BY n_name""".stripMargin

  // ------------------------------------------------ weighted median (§8k)

  /** Quantity-weighted median price per return flag: the smallest price
    * whose cumulative weight reaches half the group total. Weights
    * accumulate as exact decimals and the boundary test is multiplied
    * through (2·cumw ≥ W) — no division, no float compare. Same
    * per-group-sort caveat and sketch-path note as the IQR fences. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.types.DecimalType
    val li = Tables(dir).lineitem
    val ord = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val grp = Window.partitionBy(col("l_returnflag"))
    li.withColumn("qd", col("l_quantity").cast(DecimalType(28, 6)))
      .withColumn("cumw", sum(col("qd")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("qd")).over(grp))
      .groupBy(col("l_returnflag"))
      .agg(
        min(when(col("cumw") * 2 >= col("tot"), col("l_extendedprice"))).as("w_median"),
        fin(max(col("tot"))).as("total_qty"))
  }

  private val weightedMedianSql =
    """WITH c AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    SUM(CAST(l_quantity AS DECIMAL(28,6))) OVER (
      |      PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    SUM(CAST(l_quantity AS DECIMAL(28,6))) OVER (
      |      PARTITION BY l_returnflag) AS tot
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  MIN(CASE WHEN cumw * 2 >= tot THEN l_extendedprice END) AS w_median,
      |  CAST(ROUND(MAX(tot), 2) AS DOUBLE) AS total_qty
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ IQR outliers

  /** Per-priority Tukey-fence outlier census from EXACT discrete
    * quartiles (value at rank ⌈n/4⌉ / ⌈3n/4⌉). Fences are compared
    * multiplied-through (2·price vs 5·q1−3·q3) so no division enters —
    * the boundary is decided by exact IEEE products identical on both
    * engines. The per-group rank is a real per-group sort; that is the
    * price of EXACT discrete quantiles, and the documented scale path is
    * the rank-error-bounded sketch ([[approxOrderPercentiles]]) — this
    * query is its exact small-group twin (5 priority groups). */
  def iqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val orders = Tables(dir).orders
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val ranked = orders
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
    val quart = ranked.groupBy(col("o_orderpriority"))
      .agg(
        max(when(col("rn") === expr("(n + 3) div 4"), col("o_totalprice"))).as("q1"),
        max(when(col("rn") === expr("(3 * n + 3) div 4"), col("o_totalprice"))).as("q3"))
    orders.join(broadcast(quart), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(
        max(col("q1")).as("q1"), max(col("q3")).as("q3"),
        sum(when(col("o_totalprice") * 2 < col("q1") * 5 - col("q3") * 3, 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("o_totalprice") * 2 > col("q3") * 5 - col("q1") * 3, 1L)
          .otherwise(0L)).as("n_high"))
  }

  private val iqrOutliersSql =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders),
      |quart AS (
      |  SELECT o_orderpriority,
      |    MAX(CASE WHEN rn = (n + 3) // 4 THEN o_totalprice END) AS q1,
      |    MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN o_totalprice END) AS q3
      |  FROM ranked GROUP BY 1)
      |SELECT o.o_orderpriority, MAX(q.q1) AS q1, MAX(q.q3) AS q3,
      |  CAST(SUM(CASE WHEN o.o_totalprice * 2 < q.q1 * 5 - q.q3 * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(SUM(CASE WHEN o.o_totalprice * 2 > q.q3 * 5 - q.q1 * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM orders o JOIN quart q ON o.o_orderpriority = q.o_orderpriority
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_revenue_trend" -> Q(revenueTrend _, revenueTrendSql, Seq(col("n_name"))),
    "q_weighted_median" -> Q(weightedMedian _, weightedMedianSql, Seq(col("l_returnflag"))),
    "q_grouping_sets" -> Q(groupingSetsAgg _, groupingSetsSql,
      Seq(col("g_nation"), col("g_year"), col("nation"), col("yr"))),
    "q_mode_per_group" -> Q(modePerGroup _, modePerGroupSql, Seq(col("n_name"))),
    "q_pareto_frontier" -> Q(paretoFrontier _, paretoFrontierSql, Seq(col("o_orderkey"))),
    "q_iqr_outliers" -> Q(iqrOutliers _, iqrOutliersSql, Seq(col("o_orderpriority"))),
    "q_cube_agg" -> Q(cubeAgg _, cubeAggSql, Seq(col("returnflag"), col("linestatus"))),
    "q_monthly_growth" -> Q(monthlyGrowth _, monthlyGrowthSql, Seq(col("month"))),
    "q_customer_ltv" -> Q(customerLtv _, customerLtvSql, Seq(col("c_custkey"))),
    "q_price_histogram" -> Q(priceHistogram _, priceHistogramSql, Seq(col("bucket"))),
    "text_tfidf_topk" -> Q(tfidfTopK _, tfidfTopKSql, Seq(col("doc_id"), col("rank"))),
    "docs_stratified_sample" -> Q(stratifiedSample _, stratifiedSampleSql, Seq(col("doc_id"))),
    "q_rfm_segments" -> Q(rfmSegments _, rfmSegmentsSql,
      Seq(col("r_score"), col("f_score"), col("m_score"))),
    "q_order_percentiles" -> Q(orderPercentiles _, orderPercentilesSql, Seq(col("o_orderpriority"))),
    "q_stats_moments" -> Q(statsMoments _, statsMomentsSql, Seq(col("l_returnflag"))),
    "text_quality_quantiles" -> Q(qualityQuantiles _, qualityQuantilesSql, Seq(col("lang"))),
    "events_moving_sum" -> Q(movingSum _, movingSumSql, Seq(col("user_id"), col("event_id"))),
    "docs_split_sample" -> Q(splitSample _, splitSampleSql, Seq(col("split"))),
    "events_asof_view" -> Q(asofView _, asofViewSql, Seq(col("user_id"), col("event_id"))),
    "text_top_terms" -> Q(topTerms _, topTermsSql, Seq(col("lang"), col("rank"))),
    "docs_quality_filter" -> Q(qualityFilter _, qualityFilterSql, Seq(col("doc_id"))),
    "events_props_json" -> Q(propsJson _, propsJsonSql, Seq(col("event_type"))),
    // r10: oracled — the 3σ gate is engine-independent even though the
    // raw HLL estimate isn't (see approxDistinct's Scaladoc)
    "q_approx_distinct" -> Q(approxDistinct _, approxDistinctSql),
    "ngs_matrix_transpose" -> Q(matrixTranspose _, matrixTransposeSql, Seq(col("priority"))),
  )
}
