package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral event analytics: retention cohorts, conversion funnels, and
  * per-hour leaderboards (reusing the custom [[graft.plans.TopKPerKey]]
  * operator outside its original ANN context).
  *
  * Mirrors the reference's event-derived views (sessionize / hourly agg,
  * `luigi-pipeline` event staging) extended to the cohort/funnel shapes a
  * product-analytics user of the engine expects.
  */
object EventAnalytics {

  // ------------------------------------------------------------ retention

  /** Weekly retention matrix: users grouped by first-seen week (cohort),
    * counted in every week they return. Shape for scale: events collapse
    * to distinct (user, week) FIRST (the only pass over the full corpus —
    * map-side partial distinct), so the cohort window and final rollup run
    * on ≤ |users| × |weeks| rows. The per-user window needs no ORDER BY
    * sort — whole-partition MIN. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id"))
    Tables(dir).events
      .select(col("user_id"), date_trunc("week", col("ts")).as("active_week"))
      .distinct()
      .withColumn("cohort_week", min(col("active_week")).over(w))
      .groupBy(col("cohort_week"),
        (datediff(col("active_week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  private val retentionSql =
    """WITH uw AS (
      |  -- DuckDB's date_trunc('week') yields DATE; Spark's yields TIMESTAMP
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS active_week
      |  FROM events),
      |c AS (
      |  SELECT user_id, active_week,
      |    MIN(active_week) OVER (PARTITION BY user_id) AS cohort_week
      |  FROM uw)
      |SELECT cohort_week,
      |  CAST(datediff('day', cohort_week, active_week) / 7 AS BIGINT) AS week_offset,
      |  COUNT(*) AS n_users
      |FROM c
      |GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** §8m(bx) — cohort LTV matrix: [[retention]]'s cohort × week-offset
    * grid carrying MONEY — each cell is the purchase revenue that
    * cohort generated in that week of its life, plus payer counts. The
    * canonical lifetime-value readout (sum a row = cumulative LTV by
    * age; compare rows = cohort quality drift). Cohort assignment
    * reuses retention's first-seen week over ALL events (a user's
    * cohort is when they arrived, not when they first paid); revenue
    * sums are exact DECIMAL cast to double once. One distinct-collapse
    * for cohorts + one purchase-row aggregate — the fact stream is
    * touched once per side. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val cohorts = Tables(dir).events
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    Tables(dir).events
      .where(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("week", col("ts")).as("purchase_week"),
        col("value"))
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("purchase_week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_payers"),
        count(lit(1)).as("n_purchases"),
        sum(col("value").cast(dec)).cast("double").as("revenue"))
  }

  private val cohortLtvSql =
    """WITH c AS (
      |  SELECT user_id,
      |    CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS cohort_week
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS purchase_week,
      |    value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.cohort_week,
      |  CAST(datediff('day', c.cohort_week, p.purchase_week) / 7 AS BIGINT) AS week_offset,
      |  COUNT(DISTINCT p.user_id) AS n_payers,
      |  COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      |FROM p JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  // --------------------------------------------------------------- funnel

  /** Strict-order conversion funnel view → click → purchase: a user counts
    * at stage N only with an event AFTER their stage-N-1 time. Each stage
    * is a filtered per-user MIN; stages join on user_id, so all three
    * aggregates and both joins share one hash-partitioning on user_id
    * (exchange reuse), and the final counts are single-row rollups. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ev = Tables(dir).events.select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = ev.where(col("event_type") === "click")
      .join(v, "user_id").where(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased")))
  }

  private val funnelSql =
    """WITH v AS (
      |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
      |  GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
      |       (SELECT COUNT(*) FROM c) AS n_clicked,
      |       (SELECT COUNT(*) FROM p) AS n_purchased""".stripMargin

  // --------------------------------------------------- hourly leaderboard

  /** Top-3 most active users per hour through [[TopK.perKeyExec]] — the
    * bounded-heap SparkPlan filters each partition to ≤k candidates per
    * hour map-side, so the exchange carries k × partitions rows per hour
    * rather than every (hour, user) pair. Tie-break (count DESC, user ASC)
    * is the operator's contract, mirrored in the oracle's ROW_NUMBER. */
  def topUsersHourly(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val perHourUser = Tables(dir).events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
      .agg(count(lit(1)).cast("double").as("score"))
    TopK.perKeyExec(perHourUser, "hour", "score", "user_id", k = 3)
      .select(col("hour"), col("rank"), col("user_id"),
        col("score").cast("long").as("n_events"))
  }

  private val topUsersHourlySql =
    """WITH hu AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, user_id,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT hour, user_id, n,
      |    ROW_NUMBER() OVER (PARTITION BY hour ORDER BY n DESC, user_id ASC) AS rank
      |  FROM hu)
      |SELECT hour, rank, user_id, n AS n_events
      |FROM r WHERE rank <= 3
      |ORDER BY hour, rank""".stripMargin

  // -------------------------------------------------------- session stats

  /** Per-user session profile composed ON TOP of the sessionizer (operator
    * composition is the point: the session table is a first-class
    * intermediate, not a query-private CTE). Durations are exact integer
    * microsecond sums; the only division is the final per-user average,
    * rounded once. Grouping on user_id reuses the sessionizer's own
    * partitioning — no extra exchange. */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    val sessions = CsrQueries.eventsSessionize(spark, dir)
    sessions
      .withColumn("dur_us", unix_micros(col("session_end")) - unix_micros(col("session_start")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"),
        round(sum(col("dur_us")).cast("double") / (count(lit(1)) * lit(1e6)), 3).as("avg_session_sec"))
  }

  private val sessionStatsSql =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_seq, COUNT(*) AS n_events,
      |    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
      |  FROM numbered GROUP BY user_id, session_seq)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  CAST(MAX(n_events) AS BIGINT) AS max_session_events,
      |  ROUND(CAST(SUM(dur_us) AS DOUBLE) / (COUNT(*) * 1000000.0), 3) AS avg_session_sec
      |FROM sessions GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ DAU/WAU

  /** Daily and trailing-7-day active users. A naive WAU joins every day
    * against a week of events; the scale shape here inverts it: collapse
    * to distinct (day, user) once, then each such row CONTRIBUTES to the
    * seven wau-days it covers (a map-side explode ×7 of an already
    * user-deduped frame), and the per-day distinct count runs over that.
    * No range join, no re-scan per day; the 7× inflation applies to
    * |users × days|, not to raw events. Days with zero activity are
    * omitted (inner join of the two series — mirrored in the oracle). */
  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = Tables(dir).events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = daily.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = daily
      .select(explode(sequence(lit(0), lit(6))).as("i"), col("day"), col("user_id"))
      .select(date_add(col("day"), col("i")).as("day"), col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day").select(col("day"), col("dau"), col("wau"))
  }

  private val dauWauSql =
    """WITH daily AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM daily GROUP BY day),
      |contrib AS (
      |  SELECT DISTINCT day + CAST(i AS INTEGER) AS day, user_id
      |  FROM daily, UNNEST(range(0, 7)) AS t(i)),
      |wau AS (SELECT day, COUNT(*) AS wau FROM contrib GROUP BY day)
      |SELECT dau.day, dau, wau
      |FROM dau JOIN wau ON dau.day = wau.day
      |ORDER BY dau.day""".stripMargin

  // -------------------------------------------------------- time rollup

  /** Day→hour activity ROLLUP, cells-first (the q_cube_agg lesson): the
    * corpus collapses to (day, hour) cells in one aggregate, then ROLLUP's
    * Expand runs over the bounded cell table. Rolled-up levels surface as
    * 'ALL'/-1 sentinels plus explicit grouping flags so the output schema
    * stays flat and null-free. */
  def timeRollup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cells = Tables(dir).events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("c_n"))
    cells
      .rollup(col("day"), col("hr"))
      .agg(grouping(col("day")).cast("long").as("g_day"),
        grouping(col("hr")).cast("long").as("g_hr"),
        sum(col("c_n")).as("n_events"))
      .select(coalesce(col("day"), lit("ALL")).as("day"),
        coalesce(col("hr"), lit(-1L)).as("hr"),
        col("g_day"), col("g_hr"), col("n_events"))
  }

  private val timeRollupSql =
    """WITH cells AS (
      |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
      |    COUNT(*) AS c_n
      |  FROM events GROUP BY 1, 2)
      |SELECT COALESCE(day, 'ALL') AS day,
      |  COALESCE(hr, -1) AS hr,
      |  CAST(CASE WHEN GROUPING(day) THEN 1 ELSE 0 END AS BIGINT) AS g_day,
      |  CAST(CASE WHEN GROUPING(hr) THEN 1 ELSE 0 END AS BIGINT) AS g_hr,
      |  CAST(SUM(c_n) AS BIGINT) AS n_events
      |FROM cells
      |GROUP BY ROLLUP(day, hr)
      |ORDER BY day, hr""".stripMargin

  // ------------------------------------------------------ outlier monitor

  /** Per-user trailing z-score outliers: an event whose value sits more
    * than 3σ from the user's own trailing-window statistics (20 prior
    * events, current row excluded so it cannot mask itself). Mean/variance
    * come from exact decimal window sums — the engine-portable moments
    * pattern q_stats_moments established — with the double arithmetic in
    * one fixed expression order. One shuffle: the same per-user window
    * partitioning every behavioral operator here shares. */
  /** Per-type HLL register table ([[graft.pipeline.HllTable]]): the
    * distinct-user sketch as a landed, mergeable, AUDITABLE dataset —
    * and unlike any RNG-seeded sketch, fully DuckDB-oracled (md5-keyed
    * register/rho assignment is deterministic hex arithmetic). */
  def distinctSketch(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    graft.pipeline.HllTable.build(Tables(dir).events, col("user_id"), col("event_type"))
      .withColumnRenamed("grain", "event_type")
  }

  private val distinctSketchSql = {
    import graft.pipeline.HllTable.{regSql, rhoSql}
    s"""WITH h AS (SELECT event_type, ${regSql("user_id")} AS reg,
       |                  ${rhoSql("user_id")} AS rho FROM events)
       |SELECT event_type, reg, MAX(rho) AS max_rho
       |FROM h GROUP BY 1, 2 ORDER BY event_type, reg""".stripMargin
  }

  /** The raw HLL estimate per type read off the register table, with the
    * exact COUNT(DISTINCT) riding along — the in-data accuracy audit
    * (standard error 6.5% at 256 registers). The harmonic sum is the
    * exact integer Σ2^(53−ρ), so the estimate is bit-deterministic. */
  def distinctEstimate(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val est = graft.pipeline.HllTable.estimate(
      graft.pipeline.HllTable.build(Tables(dir).events, col("user_id"), col("event_type")))
      .withColumnRenamed("grain", "event_type")
    val exact = Tables(dir).events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_regs_hit"), col("zero_regs"),
        col("harmonic_num"), col("est"), col("exact_distinct"))
  }

  private val distinctEstimateSql = {
    import graft.pipeline.HllTable.{regSql, rhoSql}
    val m = graft.pipeline.HllTable.M
    s"""WITH h AS (SELECT event_type, ${regSql("user_id")} AS reg,
       |                  ${rhoSql("user_id")} AS rho FROM events),
       |regs AS (SELECT event_type, reg, MAX(rho) AS max_rho FROM h GROUP BY 1, 2),
       |agg AS (SELECT event_type, COUNT(*) AS n_regs_hit,
       |          CAST(SUM(CAST(1 AS BIGINT) << (53 - max_rho)) AS BIGINT) AS hit_num
       |        FROM regs GROUP BY 1),
       |est AS (SELECT event_type, n_regs_hit,
       |          CAST($m - n_regs_hit AS BIGINT) AS zero_regs,
       |          hit_num + ($m - n_regs_hit) * (CAST(1 AS BIGINT) << 53) AS harmonic_num
       |        FROM agg),
       |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
       |       FROM events GROUP BY 1)
       |SELECT est.event_type, n_regs_hit, zero_regs, harmonic_num,
       |  ROUND(CASE WHEN zero_regs > 0
       |          AND ${graft.pipeline.HllTable.EstNumerator} / CAST(harmonic_num AS DOUBLE) <= ${2.5 * m}
       |        THEN $m * ln($m / CAST(zero_regs AS DOUBLE))
       |        ELSE ${graft.pipeline.HllTable.EstNumerator} / CAST(harmonic_num AS DOUBLE) END, 4) AS est,
       |  exact_distinct
       |FROM est JOIN ex USING (event_type) ORDER BY event_type""".stripMargin
  }

  /** Hash-split A/B experiment readout: users deal into two arms by the
    * same salted-md5 machinery as the dataset split (deterministic,
    * engine-portable, no RNG), conversion = the user produced a purchase
    * event, and the two-proportion pooled z-statistic decides
    * significance. The float chain (two divisions, one correctly-rounded
    * sqrt) is written with IDENTICAL association in the Spark plan and
    * the oracle, so even z matches bit-for-bit after round-4. Plan: one
    * per-user aggregate (the only fact-table shuffle), a 2-row arm
    * aggregate, one closed-form row out. Because the deal is a pure
    * function of user_id, the same readout runs on any event table
    * WITHOUT a pre-registered assignment log — the null experiment: on
    * un-treated data z must hover near 0, which doubles as the
    * assignment-balance audit. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val arm = when(pmod(graft.plans.VectorExpressions.hexPrefix(
      md5(concat(lit("graft-ab-v1"), col("user_id").cast("string"))), 8), lit(2L)) === 0, "A")
      .otherwise("B")
    // conversion = a high-value purchase (value > 300): selective enough
    // that neither arm saturates (pooled p = 0 or 1 makes z undefined;
    // the CASE guard below still covers the degenerate corpus)
    val perUser = Tables(dir).events
      .select(col("user_id"), arm.as("arm"),
        (col("event_type") === "purchase" && col("value") > 300).cast("int").as("pur"))
      .groupBy("user_id", "arm")
      .agg(max(col("pur")).as("converted"))
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).cast("long").as("n_conv"))
    val a = arms.where(col("arm") === "A")
      .select(col("n_users").as("na"), col("n_conv").as("ca"))
    val b = arms.where(col("arm") === "B")
      .select(col("n_users").as("nb"), col("n_conv").as("cb"))
    a.crossJoin(b)
      .select(col("na"), col("ca"), col("nb"), col("cb"),
        expr("round(case when ca + cb = 0 or ca + cb = na + nb then 0.0 else " +
          "(cast(ca as double) / na - cast(cb as double) / nb) / " +
          "sqrt((cast(ca + cb as double) / (na + nb)) * (1.0 - cast(ca + cb as double) / (na + nb)) " +
          "* (1.0 / na + 1.0 / nb)) end, 4)").as("z"))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  private val abTestSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH pu AS (
       |  SELECT user_id,
       |    CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    MAX(CASE WHEN event_type = 'purchase' AND value > 300 THEN 1 ELSE 0 END) AS converted
       |  FROM events GROUP BY 1, 2),
       |arms AS (SELECT arm, COUNT(*) AS n_users,
       |           CAST(SUM(converted) AS BIGINT) AS n_conv
       |         FROM pu GROUP BY 1),
       |ab AS (SELECT
       |    (SELECT n_users FROM arms WHERE arm = 'A') AS na,
       |    (SELECT n_conv FROM arms WHERE arm = 'A') AS ca,
       |    (SELECT n_users FROM arms WHERE arm = 'B') AS nb,
       |    (SELECT n_conv FROM arms WHERE arm = 'B') AS cb)
       |SELECT na, ca, nb, cb,
       |  ROUND(CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN 0.0 ELSE
       |    (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) /
       |    sqrt((CAST(ca + cb AS DOUBLE) / (na + nb)) * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
       |      * (1.0 / na + 1.0 / nb)) END, 4) AS z,
       |  ABS(ROUND(CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN 0.0 ELSE
       |    (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) /
       |    sqrt((CAST(ca + cb AS DOUBLE) / (na + nb)) * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
       |      * (1.0 / na + 1.0 / nb)) END, 4)) > 1.96 AS significant
       |FROM ab""".stripMargin
  }

  /** §8p(df) — CUPED experiment readout (Deng et al., WSDM 2013 —
    * variance reduction with pre-experiment covariates, the industry
    * default for A/B sensitivity): per arm (the [[abTest]] hash deal),
    * the post-period activity mean raw AND adjusted by the pre-period
    * covariate — Y_adj = Ȳ_arm − θ·(X̄_arm − X̄_all), with
    * θ = cov(X,Y)/var(X) pooled over ALL users so the adjustment is
    * unbiased under the null. Pre/post = event counts either side of
    * the time-range midpoint (integer micros), so every sufficient sum
    * (n, Σx, Σy, Σxy, Σx²) is an exact integer on the DECIMAL lane;
    * θ and the adjusted means are ONE fixed-order float chain over
    * those exact sums, round-6 — the q_stats_moments portability
    * pattern applied to experimentation.
    *
    * Scale: one user-keyed aggregate, one arm aggregate (plus the
    * 1-row global sums broadcast) — nothing grows with the event
    * count except the first map-side pass. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val ev = Tables(dir).events
    val mid = ev.agg(expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("mid_us"))
    val arm = when(pmod(graft.plans.VectorExpressions.hexPrefix(
      md5(concat(lit("graft-ab-v1"), col("user_id").cast("string"))), 8), lit(2L)) === 0, "A")
      .otherwise("B")
    val perUser = ev.crossJoin(broadcast(mid))
      .select(col("user_id"), arm.as("arm"),
        (unix_micros(col("ts")) < col("mid_us")).cast("long").as("pre"),
        (unix_micros(col("ts")) >= col("mid_us")).cast("long").as("post"))
      .groupBy("user_id", "arm")
      .agg(sum(col("pre")).as("x"), sum(col("post")).as("y"))
    val gl = perUser.agg(
      count(lit(1)).as("n_all"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx_all"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy_all"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy_all"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2_all"))
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"))
      .crossJoin(broadcast(gl))
      .select(col("arm"), col("n_users"),
        expr("CAST(sy AS BIGINT)").as("sum_post"),
        expr("round(CAST(sy AS DOUBLE) / n_users, 6)").as("mean_post"),
        expr("""round(CAST(sy AS DOUBLE) / n_users
               | - (CAST(n_all * sxy_all - sx_all * sy_all AS DOUBLE)
               |    / CAST(n_all * sx2_all - sx_all * sx_all AS DOUBLE))
               |   * (CAST(sx AS DOUBLE) / n_users - CAST(sx_all AS DOUBLE) / n_all), 6)"""
          .stripMargin.replace("\n", " ")).as("mean_adj"))
  }

  private val cupedSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH mid AS (
       |  SELECT (MIN(epoch_us(CAST(ts AS TIMESTAMP))) + MAX(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid_us
       |  FROM events),
       |pu AS (
       |  SELECT user_id,
       |    CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < mid_us THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= mid_us THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM events, mid GROUP BY 1, 2),
       |gl AS (
       |  SELECT COUNT(*) AS n_all,
       |    SUM(CAST(x AS HUGEINT)) AS sx_all, SUM(CAST(y AS HUGEINT)) AS sy_all,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy_all, SUM(CAST(x AS HUGEINT) * x) AS sx2_all
       |  FROM pu),
       |arms AS (
       |  SELECT arm, COUNT(*) AS n_users,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy
       |  FROM pu GROUP BY 1)
       |SELECT arm, n_users, CAST(sy AS BIGINT) AS sum_post,
       |  ROUND(CAST(sy AS DOUBLE) / n_users, 6) AS mean_post,
       |  ROUND(CAST(sy AS DOUBLE) / n_users
       |    - (CAST(n_all * sxy_all - sx_all * sy_all AS DOUBLE)
       |       / CAST(n_all * sx2_all - sx_all * sx_all AS DOUBLE))
       |      * (CAST(sx AS DOUBLE) / n_users - CAST(sx_all AS DOUBLE) / n_all), 6) AS mean_adj
       |FROM arms, gl
       |ORDER BY arm""".stripMargin
  }

  /** The experiment's deterministic arm deal (shared definition with
    * [[abTest]]/[[cuped]] — content-keyed md5, so executor count,
    * engine, AND arrival order cannot move a user between arms). */
  private[graft] def abArm: org.apache.spark.sql.Column =
    when(pmod(graft.plans.VectorExpressions.hexPrefix(
      md5(concat(lit("graft-ab-v1"), col("user_id").cast("string"))), 8), lit(2L)) === 0, "A")
      .otherwise("B")

  /** χ²(1) critical value at α = 0.001 — the standard SRM alarm level
    * (Fabijan et al., KDD 2019: sample-ratio mismatch is the first
    * validity check any experiment readout must pass). */
  private val SrmChi2Crit = 10.83

  /** §8q(di) — sample-ratio-mismatch check, per day: the arm deal is a
    * 50/50 split, so daily assignment counts follow Binomial(n, ½) under
    * correct instrumentation and χ² = (n_a − n_b)²/(n_a + n_b) flags a
    * broken logger / bot day. Exact integer counts; ONE float division,
    * round-6 — the flag compares the rounded statistic on both engines.
    *
    * Scale: one map-side conditional aggregate into |days| cells. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    Tables(dir).events
      .select(to_date(col("ts")).as("day"), abArm.as("arm"))
      .groupBy("day")
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
      .select(col("day").cast("string").as("day"), col("n_a"), col("n_b"),
        expr("round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6)").as("chi2"))
      .withColumn("srm", col("chi2") > SrmChi2Crit)
  }

  private val srmCheckSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH pu AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
       |  FROM events),
       |d AS (
       |  SELECT day,
       |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM pu GROUP BY 1)
       |SELECT CAST(day AS VARCHAR) AS day, n_a, n_b,
       |  ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6) AS chi2,
       |  ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6) > $SrmChi2Crit AS srm
       |FROM d ORDER BY day""".stripMargin
  }

  private val AcfMaxLag = 24

  /** §8q(dj) — autocorrelation function of the hourly event-count series
    * at lags 1..[[AcfMaxLag]] (Box–Jenkins sample ACF — the seasonality
    * detector behind every traffic forecast): the corpus collapses ONCE
    * into gap-filled hourly cells, and r_k runs entirely on that bounded
    * series table. Exactness: with x̄ = S/N rational, the standard
    * estimator multiplies through by N² so numerator and denominator are
    * exact integers on the DECIMAL lane —
    * r_k = (N²·Σx_t·x_{t+k} − N·S·(Σ_a + Σ_b) + (N−k)·S²) / (N²·Σx² − N·S²)
    * — and ONE float division closes it (round-6).
    *
    * Scale: hours are bounded by the clock (≈10⁵ cells a decade), so the
    * ×24-lag self-join is a broadcast join on a cell table regardless of
    * corpus size; only the first groupBy touches the events. */
  def acf(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val hc = Tables(dir).events
      .groupBy(expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val spine = hc.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
    // consumed by 3 branches (global stats, pair lhs, pair rhs) — persist
    val series = Cached.track(
      spine.join(hc, Seq("h"), "left").na.fill(0L, Seq("x")).persist(MEMORY_AND_DISK))
    val gl = series.agg(count(lit(1)).as("n"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).as("s"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"))
    val lags = spark.range(1, AcfMaxLag + 1).select(col("id").as("k"))
    series.crossJoin(broadcast(lags))
      .select(col("k"), (col("h") + col("k")).as("h2"), col("x").as("xa"))
      .join(broadcast(series.select(col("h").as("h2"), col("x").as("xb"))), Seq("h2"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("CAST(xa AS DECIMAL(38,0)) * xb")).as("sxy"),
        sum(expr("CAST(xa AS DECIMAL(38,0))")).as("sa"),
        sum(expr("CAST(xb AS DECIMAL(38,0))")).as("sb"))
      .crossJoin(broadcast(gl))
      .select(col("k"), col("n_pairs"),
        expr("""round(CAST(n * n * sxy - n * s * (sa + sb) + n_pairs * s * s AS DOUBLE)
               | / CAST(n * n * s2 - n * s * s AS DOUBLE), 6)""".stripMargin.replace("\n", " "))
          .as("acf"))
  }

  private val acfSql =
    s"""WITH hc AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h, COUNT(*) AS x
       |  FROM events GROUP BY 1),
       |spine AS (
       |  SELECT UNNEST(range((SELECT MIN(h) FROM hc), (SELECT MAX(h) FROM hc) + 1)) AS h),
       |series AS (SELECT s.h, COALESCE(hc.x, 0) AS x FROM spine s LEFT JOIN hc ON hc.h = s.h),
       |gl AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s,
       |       SUM(CAST(x AS HUGEINT) * x) AS s2 FROM series),
       |lags AS (SELECT UNNEST(range(1, ${AcfMaxLag + 1})) AS k),
       |pl AS (
       |  SELECT l.k, COUNT(*) AS n_pairs, SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy,
       |    SUM(CAST(a.x AS HUGEINT)) AS sa, SUM(CAST(b.x AS HUGEINT)) AS sb
       |  FROM series a CROSS JOIN lags l JOIN series b ON b.h = a.h + l.k
       |  GROUP BY 1)
       |SELECT k, n_pairs,
       |  ROUND(CAST(n * n * sxy - n * s * (sa + sb) + n_pairs * s * s AS DOUBLE)
       |    / CAST(n * n * s2 - n * s * s AS DOUBLE), 6) AS acf
       |FROM pl, gl ORDER BY k""".stripMargin

  /** Mixture variance τ² for the always-valid monitor (the sensitivity
    * knob — larger τ² favors detecting big effects early). */
  private val MsprtTau2 = 100.0
  /** ln(1/α) at α = 0.05: Λ crossing 1/α rejects with always-valid
    * type-I control (Ville's inequality). */
  private val MsprtCrit = 2.995732

  /** §8q(dk) — mixture-SPRT always-valid experiment monitor (Johari et
    * al., KDD 2017 "Peeking at A/B tests"): at every hour, the cumulative
    * arm-count difference S = c_a − c_b has variance V = c_a + c_b under
    * the null (binomial split of the arrival stream), and the normal
    * mixture over effect sizes gives the closed-form log likelihood
    * ratio ln Λ = ½·ln(V/(V+τ²)) + S²·τ²/(2·V·(V+τ²)). Unlike the
    * fixed-horizon [[abTest]] z, Λ may be monitored continuously —
    * the first hour ln Λ exceeds ln(1/α) is a valid stopping time.
    * S and V are exact integer prefix sums; ONE float chain (round-6).
    *
    * Scale: the events collapse once into hourly cells; the cumulative
    * window runs on the bounded cell table (single-partition by
    * construction — hours are clock-bounded, as in the survival curve). */
  def msprt(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val hourly = Tables(dir).events
      .select(expr("unix_micros(ts) div 3600000000").as("h"), abArm.as("arm"))
      .groupBy("h")
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      .withColumn("ca", sum(col("na")).over(w))
      .withColumn("cb", sum(col("nb")).over(w))
      .select(col("h"), col("ca"), col("cb"),
        expr(s"""round(0.5 * ln(CAST(ca + cb AS DOUBLE) / (ca + cb + $MsprtTau2))
                | + CAST(ca - cb AS DOUBLE) * (ca - cb) * $MsprtTau2
                |   / (2.0 * (ca + cb) * (ca + cb + $MsprtTau2)), 6)"""
          .stripMargin.replace("\n", " ")).as("log_lr"))
      .withColumn("significant", col("log_lr") > MsprtCrit)
  }

  private val msprtSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH hourly AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
       |    CAST(SUM(CASE WHEN ($armExpr) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    CAST(SUM(CASE WHEN ($armExpr) % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS nb
       |  FROM events GROUP BY 1),
       |cum AS (
       |  SELECT h,
       |    SUM(na) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS ca,
       |    SUM(nb) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cb
       |  FROM hourly)
       |SELECT h, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
       |  ROUND(0.5 * ln(CAST(ca + cb AS DOUBLE) / (ca + cb + $MsprtTau2))
       |    + CAST(ca - cb AS DOUBLE) * (ca - cb) * $MsprtTau2
       |      / (2.0 * (ca + cb) * (ca + cb + $MsprtTau2)), 6) AS log_lr,
       |  ROUND(0.5 * ln(CAST(ca + cb AS DOUBLE) / (ca + cb + $MsprtTau2))
       |    + CAST(ca - cb AS DOUBLE) * (ca - cb) * $MsprtTau2
       |      / (2.0 * (ca + cb) * (ca + cb + $MsprtTau2)), 6) > $MsprtCrit AS significant
       |FROM cum ORDER BY h""".stripMargin
  }

  private val BootB = 64
  /** Poisson(1) CDF × 2¹⁶, floored — the inverse-CDF ladder mapping a
    * 16-bit hash-uniform to a deterministic bootstrap weight (truncated
    * at 6; P(w > 6) < 10⁻³). 16-bit resolution lets ONE md5 seed eight
    * replicates, cutting the dominant per-row hash cost 8×. */
  private val BootLadder = Seq(24109L, 48218L, 60273L, 64291L, 65296L, 65497L)

  /** §8q(dl) — deterministic USER-LEVEL Poisson bootstrap CI on the
    * per-arm mean event value (the clustered/unit bootstrap every
    * experiment platform runs: the randomization unit is the user, so
    * resampling must draw whole users — resampling raw events understates
    * the variance of a ratio metric by ignoring within-user correlation;
    * Poisson(1) weights approximate multinomial resampling without
    * coordinating a global N). Replicate b weights user u by the
    * inverse-CDF ladder on a 16-bit slice of md5(u, b div 8) — eight
    * replicates share one digest, sliced at 4-hex-char offsets — so the
    * "randomness" is a pure function of the data and both engines draw
    * identical samples. Values ride µ-unit integers (one correctly-
    * rounded quantization per event), per-user sufficient stats
    * (Σvalue, n) and replicate sums are exact, each replicate ratio
    * Σw·s / Σw·n is ONE float chain, and the CI is the exact discrete
    * 5th/95th percentile (ranks ⌈0.05·B⌉ / ⌈0.95·B⌉) of the B rounded
    * replicate means.
    *
    * Scale: the corpus is touched ONCE — a user-keyed groupBy into the
    * per-user register table — and the ×B fan-out runs on |users| rows,
    * as a generator chain, not an array build: explode the B/8 digest
    * seeds (digest computed once per seed), then explode the 8 slices of
    * each digest, so every stage is plain scalar expressions inside
    * whole-stage codegen (a transform()-built weight VECTOR ran 7.6×
    * slower on interpreted lambdas, and the event-level form paid the
    * hash bill |events|/|users| ≈ 20× over). The ×B rows collapse
    * map-side into 2·B cells; the rank window runs on a 2·B-row table. */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val wCase = BootLadder.zipWithIndex
      .map { case (thr, i) => s"WHEN u < ${thr}L THEN ${i}L" }
      .mkString("CASE ", " ", s" ELSE ${BootLadder.size}L END")
    // persisted: the replicate fan-out AND the full-mean branch both read
    // the |users|-row register table — one corpus scan, not two
    val pu = Cached.track(Tables(dir).events
      .select(abArm.as("arm"), col("user_id"),
        expr("CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT)").as("v_u"))
      .groupBy("arm", "user_id")
      .agg(sum(expr("CAST(v_u AS DECIMAL(38,0))")).as("s_u"),
        count(lit(1)).as("n_u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // staged selects (not withColumn chains) so the generator's pushdown
    // cannot re-derive the digest at the scan; the digest projection sits
    // BETWEEN the two Generates, so CollapseProject cannot merge it past
    // the slice explode and recompute md5 per slice [pitfall: explode]
    val reps = pu
      .select(col("arm"), col("s_u"), col("n_u"), col("user_id"),
        explode(sequence(lit(0), lit(7))).as("g"))
      .select(col("arm"), col("s_u"), col("n_u"), col("g"),
        md5(concat(lit("graft-boot-v1:"), col("user_id").cast("string"),
          lit(":"), col("g").cast("string"))).as("m"))
      .select(col("arm"), col("s_u"), col("n_u"), col("g"), col("m"),
        explode(sequence(lit(0), lit(7))).as("j"))
      .select(col("arm"), col("s_u"), col("n_u"), (col("g") * 8 + col("j")).as("b"),
        expr("CAST(conv(substring(m, j * 4 + 1, 4), 16, 10) AS BIGINT)").as("u"))
      .select(col("arm"), col("s_u"), col("n_u"), col("b"), expr(wCase).as("w"))
      .groupBy("arm", "b")
      .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * s_u")).as("sws"),
        sum(expr("CAST(w AS DECIMAL(38,0)) * n_u")).as("swn"))
      .select(col("arm"), col("b"),
        expr("round(CASE WHEN swn = 0 THEN 0.0 ELSE CAST(sws AS DOUBLE) / CAST(swn AS DOUBLE) / 1000000.0 END, 6)")
          .as("m"))
    val loRank = math.ceil(0.05 * BootB).toInt
    val hiRank = math.ceil(0.95 * BootB).toInt
    val wr = Window.partitionBy(col("arm")).orderBy(col("m"), col("b"))
    val ci = reps.withColumn("rn", row_number().over(wr))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_replicates"),
        max(when(col("rn") === loRank, col("m"))).as("ci_lo"),
        max(when(col("rn") === hiRank, col("m"))).as("ci_hi"))
    val full = pu.groupBy("arm")
      .agg(expr("round(CAST(SUM(s_u) AS DOUBLE) / CAST(SUM(n_u) AS DOUBLE) / 1000000.0, 6)")
        .as("mean_value"))
    full.join(ci, "arm")
      .select(col("arm"), col("mean_value"), col("n_replicates"), col("ci_lo"), col("ci_hi"))
  }

  private val bootstrapCiSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    val u16 = DedupQueries.hexToLongDuck(
      "substring(msl[CAST(b // 8 AS BIGINT) + 1], CAST((b % 8) * 4 + 1 AS BIGINT), 4)", 4)
    val ladder = BootLadder.zipWithIndex
      .map { case (thr, i) => s"WHEN u < $thr THEN $i" }.mkString(" ")
    val loRank = math.ceil(0.05 * BootB).toInt
    val hiRank = math.ceil(0.95 * BootB).toInt
    s"""WITH pu AS (
       |  SELECT CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm, user_id,
       |    SUM(CAST(CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS HUGEINT)) AS s_u,
       |    COUNT(*) AS n_u
       |  FROM events GROUP BY 1, 2),
       |md AS (
       |  SELECT arm, s_u, n_u,
       |    list_transform(range(0, 8), g ->
       |      md5('graft-boot-v1:' || CAST(user_id AS VARCHAR) || ':' || CAST(g AS VARCHAR))) AS msl
       |  FROM pu),
       |uu AS (
       |  SELECT arm, s_u, n_u, list_transform(range(0, $BootB), b -> $u16) AS usl FROM md),
       |ww AS (
       |  SELECT arm, s_u, n_u,
       |    list_transform(usl, u -> CASE $ladder ELSE ${BootLadder.size} END) AS wsl FROM uu),
       |reps AS (
       |  SELECT arm, s_u, n_u, b, wsl[CAST(b AS BIGINT) + 1] AS w
       |  FROM ww CROSS JOIN (SELECT UNNEST(range(0, $BootB)) AS b)),
       |rm AS (
       |  SELECT arm, b,
       |    ROUND(CASE WHEN SUM(CAST(w AS HUGEINT) * n_u) = 0 THEN 0.0
       |      ELSE CAST(SUM(CAST(w AS HUGEINT) * s_u) AS DOUBLE)
       |        / CAST(SUM(CAST(w AS HUGEINT) * n_u) AS DOUBLE) / 1000000.0 END, 6) AS m
       |  FROM reps GROUP BY 1, 2),
       |rk AS (
       |  SELECT arm, m, ROW_NUMBER() OVER (PARTITION BY arm ORDER BY m, b) AS rn FROM rm),
       |ci AS (
       |  SELECT arm, COUNT(*) AS n_replicates,
       |    MAX(CASE WHEN rn = $loRank THEN m END) AS ci_lo,
       |    MAX(CASE WHEN rn = $hiRank THEN m END) AS ci_hi
       |  FROM rk GROUP BY 1),
       |full_m AS (
       |  SELECT arm,
       |    ROUND(CAST(SUM(s_u) AS DOUBLE) / CAST(SUM(n_u) AS DOUBLE) / 1000000.0, 6) AS mean_value
       |  FROM pu GROUP BY 1)
       |SELECT f.arm, f.mean_value, c.n_replicates, c.ci_lo, c.ci_hi
       |FROM full_m f JOIN ci c ON c.arm = f.arm
       |ORDER BY f.arm""".stripMargin
  }

  /** §8r(dm) — trimmed + winsorized mean readout (the robust-metric pair
    * every experiment platform reports next to the raw mean — one whale
    * user can move a raw mean; trimming drops the tail, winsorizing
    * clamps it). Exact, not sketched: per arm the µ-unit values collapse
    * into a (value, count) table, a cumulative window over the DISTINCT
    * values assigns each value its contiguous rank block [cum−c, cum],
    * and the 1%-trimmed interval (k, n−k] intersects each block in pure
    * integer arithmetic — the [[graft.operators.JoinQueries]] Gini trick,
    * so NO per-row rank window ever touches the corpus. The winsorized
    * sum is the trimmed sum plus k copies of each cut value (the rank-
    * (k+1) and rank-(n−k) values, read from the same blocks). Integer
    * sums on the DECIMAL lane; ONE float division per output mean,
    * round-6.
    *
    * Scale: one corpus groupBy into (arm, value) cells; the window runs
    * per arm over the distinct-value table, whose size the µ-unit
    * quantization bounds (re-quantize to milli-units to shrink it 1000×
    * — the resolution knob; the corpus itself is never rank-sorted). */
  def trimmedMean(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    // persisted: arm totals and the rank-block window both read the
    // bounded (arm, value) cell table — one corpus scan, not two
    val cells = Cached.track(Tables(dir).events
      .select(abArm.as("arm"),
        expr("CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT)").as("v"))
      .groupBy("arm", "v").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val arms = cells.groupBy("arm").agg(
      sum(col("c")).as("n"),
      sum(expr("CAST(v AS DECIMAL(38,0)) * c")).as("sv"))
      .withColumn("k", expr("n div 100"))
    val w = Window.partitionBy(col("arm")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(arms), Seq("arm"))
      .groupBy(col("arm"))
      .agg(max(col("n")).as("n_events"), max(col("sv")).as("sv"),
        max(col("k")).as("k"),
        sum(expr("CAST(GREATEST(LEAST(cum, n - k) - GREATEST(cum - c, k), 0L) AS DECIMAL(38,0)) * v"))
          .as("trim_sum"),
        max(expr("CASE WHEN cum - c < k + 1 AND cum >= k + 1 THEN v END")).as("lo_val"),
        max(expr("CASE WHEN cum - c < n - k AND cum >= n - k THEN v END")).as("hi_val"))
      .select(col("arm"), col("n_events"),
        expr("round(CAST(sv AS DOUBLE) / n_events / 1000000.0, 6)").as("mean_value"),
        expr("round(CAST(trim_sum AS DOUBLE) / (n_events - 2 * k) / 1000000.0, 6)")
          .as("trimmed_mean"),
        expr("""round(CAST(trim_sum + CAST(k AS DECIMAL(38,0)) * lo_val
               | + CAST(k AS DECIMAL(38,0)) * hi_val AS DOUBLE) / n_events / 1000000.0, 6)"""
          .stripMargin.replace("\n", " ")).as("winsor_mean"))
  }

  private val trimmedMeanSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH cells AS (
       |  SELECT CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |arms AS (
       |  SELECT arm, CAST(SUM(c) AS BIGINT) AS n,
       |    SUM(CAST(v AS HUGEINT) * c) AS sv, CAST(SUM(c) AS BIGINT) // 100 AS k
       |  FROM cells GROUP BY 1),
       |blocks AS (
       |  SELECT arm, v, c,
       |    SUM(c) OVER (PARTITION BY arm ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM cells),
       |agg AS (
       |  SELECT b.arm, MAX(a.n) AS n_events, MAX(a.sv) AS sv, MAX(a.k) AS k,
       |    SUM(CAST(GREATEST(LEAST(b.cum, a.n - a.k) - GREATEST(b.cum - b.c, a.k), 0) AS HUGEINT) * b.v)
       |      AS trim_sum,
       |    MAX(CASE WHEN b.cum - b.c < a.k + 1 AND b.cum >= a.k + 1 THEN b.v END) AS lo_val,
       |    MAX(CASE WHEN b.cum - b.c < a.n - a.k AND b.cum >= a.n - a.k THEN b.v END) AS hi_val
       |  FROM blocks b JOIN arms a USING (arm) GROUP BY 1)
       |SELECT arm, n_events,
       |  ROUND(CAST(sv AS DOUBLE) / n_events / 1000000.0, 6) AS mean_value,
       |  ROUND(CAST(trim_sum AS DOUBLE) / (n_events - 2 * k) / 1000000.0, 6) AS trimmed_mean,
       |  ROUND(CAST(trim_sum + CAST(k AS HUGEINT) * lo_val + CAST(k AS HUGEINT) * hi_val AS DOUBLE)
       |    / n_events / 1000000.0, 6) AS winsor_mean
       |FROM agg ORDER BY arm""".stripMargin
  }

  /** §8r(dn) — post-stratified experiment readout (the free variance
    * reduction when a categorical covariate is known for every unit:
    * reweight per-stratum arm means by the POOLED stratum shares, so a
    * random imbalance of heavy strata between arms stops moving the
    * readout — CUPED's categorical sibling). Strata = event_type. Each
    * stratum term (N_g·S_g,arm)/(N·n_g,arm) is one fixed-association
    * float chain rounded to integer µ-units INDEPENDENTLY, so the
    * per-arm sum is order-free and engine-exact (the dataset-card
    * entropy admission); the raw mean rides the same µ lane.
    *
    * Scale: one corpus groupBy into (arm × type) cells; everything after
    * runs on the bounded cell table with the stratum totals broadcast. */
  def postStrat(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    // persisted: strata totals, grand total, and the arm fold all read
    // the bounded (arm × type) cell table — one corpus scan, not three
    val cells = Cached.track(Tables(dir).events
      .select(abArm.as("arm"), col("event_type"),
        expr("CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT)").as("v"))
      .groupBy("arm", "event_type")
      .agg(count(lit(1)).as("n_ag"), sum(expr("CAST(v AS DECIMAL(38,0))")).as("s_ag"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val strata = cells.groupBy("event_type").agg(sum(col("n_ag")).as("n_g"))
    val total = strata.agg(sum(col("n_g")).as("n_all"))
    cells
      .join(broadcast(strata), Seq("event_type"))
      .crossJoin(broadcast(total))
      .groupBy("arm")
      .agg(sum(col("n_ag")).as("n_events"),
        sum(col("s_ag")).as("s_a"),
        sum(expr("""CAST(ROUND((CAST(n_g AS DOUBLE) * CAST(s_ag AS DOUBLE))
                   | / (CAST(n_all AS DOUBLE) * n_ag)) AS BIGINT)"""
          .stripMargin.replace("\n", " "))).as("mean_ps_u"))
      .select(col("arm"), col("n_events"),
        expr("CAST(ROUND(CAST(s_a AS DOUBLE) / n_events) AS BIGINT)").as("mean_raw_u"),
        col("mean_ps_u"))
  }

  private val postStratSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH cells AS (
       |  SELECT CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm, event_type,
       |    COUNT(*) AS n_ag,
       |    SUM(CAST(CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS HUGEINT)) AS s_ag
       |  FROM events GROUP BY 1, 2),
       |strata AS (SELECT event_type, CAST(SUM(n_ag) AS BIGINT) AS n_g FROM cells GROUP BY 1),
       |total AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n_all FROM strata)
       |SELECT arm, CAST(SUM(n_ag) AS BIGINT) AS n_events,
       |  CAST(ROUND(CAST(SUM(s_ag) AS DOUBLE) / SUM(n_ag)) AS BIGINT) AS mean_raw_u,
       |  CAST(SUM(CAST(ROUND((CAST(n_g AS DOUBLE) * CAST(s_ag AS DOUBLE))
       |    / (CAST(n_all AS DOUBLE) * n_ag)) AS BIGINT)) AS BIGINT) AS mean_ps_u
       |FROM cells JOIN strata USING (event_type) CROSS JOIN total
       |GROUP BY 1 ORDER BY arm""".stripMargin
  }

  /** z_{0.975} + z_{0.80} — the 5%-two-sided / 80%-power constant in the
    * canonical two-sample MDE formula. */
  private val MdeZ = 2.801585

  /** §8r(do) — minimum-detectable-effect readout (the power calculation
    * run BEFORE peeking at any lift: with the experiment's own arm sizes
    * and the pooled per-user variance, the smallest true effect a 5%
    * two-sided test would catch with 80% power is
    * MDE = (z_{.975}+z_{.80})·σ_p·√(1/n_a+1/n_b) — a readout below it is
    * noise by construction). Per-user metric = event count; n, Σy, Σy²
    * are exact integers per arm, the pooled variance, MDE, and the
    * relative MDE vs the control mean are ONE fixed-order float chain,
    * round-6.
    *
    * Scale: one user-keyed aggregate, one arm aggregate, a 2-row
    * reshape. */
  def mde(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    // persisted: the A/B reshape reads the 2-row arm table twice
    val arms = Cached.track(Tables(dir).events
      .select(abArm.as("arm"), col("user_id"))
      .groupBy("arm", "user_id").agg(count(lit(1)).as("y"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("sy2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = arms.where(col("arm") === "A")
      .select(col("n").as("na"), col("sy").as("sya"), col("sy2").as("sy2a"))
    val b = arms.where(col("arm") === "B")
      .select(col("n").as("nb"), col("sy").as("syb"), col("sy2").as("sy2b"))
    a.crossJoin(b)
      .select(col("na"), col("nb"),
        expr("round(CAST(sya AS DOUBLE) / na, 6)").as("mean_a"),
        expr("round(CAST(syb AS DOUBLE) / nb, 6)").as("mean_b"),
        expr("""round((CAST(na * sy2a - sya * sya AS DOUBLE) / na
               | + CAST(nb * sy2b - syb * syb AS DOUBLE) / nb) / (na + nb - 2), 6)"""
          .stripMargin.replace("\n", " ")).as("var_pooled"),
        expr("""round($MDEZ * sqrt(((CAST(na * sy2a - sya * sya AS DOUBLE) / na
               | + CAST(nb * sy2b - syb * syb AS DOUBLE) / nb) / (na + nb - 2))
               | * (1.0 / na + 1.0 / nb)), 6)"""
          .stripMargin.replace("\n", " ").replace("$MDEZ", MdeZ.toString)).as("mde_abs"))
      .withColumn("mde_rel", expr("round(mde_abs / mean_a, 6)"))
  }

  private val mdeSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH pu AS (
       |  SELECT CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    user_id, COUNT(*) AS y
       |  FROM events GROUP BY 1, 2),
       |arms AS (
       |  SELECT arm, COUNT(*) AS n, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(y AS HUGEINT) * y) AS sy2
       |  FROM pu GROUP BY 1),
       |ab AS (SELECT
       |    (SELECT n FROM arms WHERE arm = 'A') AS na,
       |    (SELECT sy FROM arms WHERE arm = 'A') AS sya,
       |    (SELECT sy2 FROM arms WHERE arm = 'A') AS sy2a,
       |    (SELECT n FROM arms WHERE arm = 'B') AS nb,
       |    (SELECT sy FROM arms WHERE arm = 'B') AS syb,
       |    (SELECT sy2 FROM arms WHERE arm = 'B') AS sy2b),
       |m AS (
       |  SELECT na, nb,
       |    ROUND(CAST(sya AS DOUBLE) / na, 6) AS mean_a,
       |    ROUND(CAST(syb AS DOUBLE) / nb, 6) AS mean_b,
       |    ROUND((CAST(na * sy2a - sya * sya AS DOUBLE) / na
       |      + CAST(nb * sy2b - syb * syb AS DOUBLE) / nb) / (na + nb - 2), 6) AS var_pooled,
       |    ROUND($MdeZ * sqrt(((CAST(na * sy2a - sya * sya AS DOUBLE) / na
       |      + CAST(nb * sy2b - syb * syb AS DOUBLE) / nb) / (na + nb - 2))
       |      * (1.0 / na + 1.0 / nb)), 6) AS mde_abs
       |  FROM ab)
       |SELECT na, nb, mean_a, mean_b, var_pooled, mde_abs,
       |  ROUND(mde_abs / mean_a, 6) AS mde_rel
       |FROM m ORDER BY na""".stripMargin
  }

  /** §8r(dp) — difference-in-differences readout over the experiment's
    * own pre/post split (the quasi-experimental workhorse, and for a
    * randomized test the PAIRED estimator: each user is their own
    * control, did = Δ̄_B − Δ̄_A over per-user deltas Δ = post − pre, with
    * the SE from the exact per-arm variance of Δ — arrival-rate drift
    * common to both arms cancels instead of inflating the variance).
    * Pre/post = event counts either side of the integer-micros midpoint
    * (the [[cuped]] machinery); n, ΣΔ, ΣΔ² are exact integers per arm;
    * did, SE, z are ONE fixed-order float chain, round-6.
    *
    * Scale: one user-keyed aggregate, one arm aggregate, a 2-row
    * reshape. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val ev = Tables(dir).events
    val mid = ev.agg(expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("mid_us"))
    // persisted: the A/B reshape reads the 2-row arm table twice
    val arms = Cached.track(ev.crossJoin(broadcast(mid))
      .select(col("user_id"), abArm.as("arm"),
        (unix_micros(col("ts")) < col("mid_us")).cast("long").as("pre"),
        (unix_micros(col("ts")) >= col("mid_us")).cast("long").as("post"))
      .groupBy("user_id", "arm")
      .agg(sum(col("pre")).as("x"), sum(col("post")).as("y"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(y - x AS DECIMAL(38,0))")).as("sd"),
        sum(expr("CAST(y - x AS DECIMAL(38,0)) * (y - x)")).as("sd2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = arms.where(col("arm") === "A").select(col("n").as("na"),
      col("sx").as("sxa"), col("sy").as("sya"), col("sd").as("sda"), col("sd2").as("sd2a"))
    val b = arms.where(col("arm") === "B").select(col("n").as("nb"),
      col("sx").as("sxb"), col("sy").as("syb"), col("sd").as("sdb"), col("sd2").as("sd2b"))
    a.crossJoin(b)
      .select(col("na"), col("nb"),
        expr("round(CAST(sxa AS DOUBLE) / na, 6)").as("pre_a"),
        expr("round(CAST(sya AS DOUBLE) / na, 6)").as("post_a"),
        expr("round(CAST(sxb AS DOUBLE) / nb, 6)").as("pre_b"),
        expr("round(CAST(syb AS DOUBLE) / nb, 6)").as("post_b"),
        expr("round(CAST(sdb AS DOUBLE) / nb - CAST(sda AS DOUBLE) / na, 6)").as("did"),
        expr("""round((CAST(sdb AS DOUBLE) / nb - CAST(sda AS DOUBLE) / na)
               | / sqrt(CAST(na * sd2a - sda * sda AS DOUBLE) / na / (na - 1) / na
               |   + CAST(nb * sd2b - sdb * sdb AS DOUBLE) / nb / (nb - 1) / nb), 6)"""
          .stripMargin.replace("\n", " ")).as("z"))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  private val diffInDiffSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH mid AS (
       |  SELECT (MIN(epoch_us(CAST(ts AS TIMESTAMP))) + MAX(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid_us
       |  FROM events),
       |pu AS (
       |  SELECT user_id,
       |    CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < mid_us THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= mid_us THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM events, mid GROUP BY 1, 2),
       |arms AS (
       |  SELECT arm, COUNT(*) AS n,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(y - x AS HUGEINT)) AS sd, SUM(CAST(y - x AS HUGEINT) * (y - x)) AS sd2
       |  FROM pu GROUP BY 1),
       |ab AS (SELECT
       |    (SELECT n FROM arms WHERE arm = 'A') AS na,
       |    (SELECT sx FROM arms WHERE arm = 'A') AS sxa,
       |    (SELECT sy FROM arms WHERE arm = 'A') AS sya,
       |    (SELECT sd FROM arms WHERE arm = 'A') AS sda,
       |    (SELECT sd2 FROM arms WHERE arm = 'A') AS sd2a,
       |    (SELECT n FROM arms WHERE arm = 'B') AS nb,
       |    (SELECT sx FROM arms WHERE arm = 'B') AS sxb,
       |    (SELECT sy FROM arms WHERE arm = 'B') AS syb,
       |    (SELECT sd FROM arms WHERE arm = 'B') AS sdb,
       |    (SELECT sd2 FROM arms WHERE arm = 'B') AS sd2b),
       |m AS (
       |  SELECT na, nb,
       |    ROUND(CAST(sxa AS DOUBLE) / na, 6) AS pre_a,
       |    ROUND(CAST(sya AS DOUBLE) / na, 6) AS post_a,
       |    ROUND(CAST(sxb AS DOUBLE) / nb, 6) AS pre_b,
       |    ROUND(CAST(syb AS DOUBLE) / nb, 6) AS post_b,
       |    ROUND(CAST(sdb AS DOUBLE) / nb - CAST(sda AS DOUBLE) / na, 6) AS did,
       |    ROUND((CAST(sdb AS DOUBLE) / nb - CAST(sda AS DOUBLE) / na)
       |      / sqrt(CAST(na * sd2a - sda * sda AS DOUBLE) / na / (na - 1) / na
       |        + CAST(nb * sd2b - sdb * sdb AS DOUBLE) / nb / (nb - 1) / nb), 6) AS z
       |  FROM ab)
       |SELECT na, nb, pre_a, post_a, pre_b, post_b, did, z,
       |  ABS(z) > 1.96 AS significant
       |FROM m ORDER BY na""".stripMargin
  }

  /** §8u(dw) — quantile treatment effects (the heterogeneous-effect
    * readout: a mean lift can hide "the median user lost, three whales
    * won" — the per-decile arm difference shows WHERE in the
    * distribution the effect lives). ENTIRELY integer-exact: per arm the
    * µ-unit values collapse into the [[trimmedMean]] (arm, value, count)
    * cell table, a cumulative window assigns contiguous rank blocks, and
    * decile d's value is the block containing rank ⌈d·n/10⌉ — no float
    * touches the output, the decile values and their differences are
    * µ-unit BIGINTs.
    *
    * Scale: one corpus groupBy into cells; the rank window runs on the
    * distinct-value table (quantization-bounded), the decile fan-out is
    * a 9-row broadcast. */
  def quantileEffects(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cells = Cached.track(Tables(dir).events
      .select(abArm.as("arm"),
        expr("CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT)").as("v"))
      .groupBy("arm", "v").agg(count(lit(1)).as("c"))
      .persist(MEMORY_AND_DISK))
    val arms = cells.groupBy("arm").agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("arm")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deciles = spark.range(1, 10).select(col("id").as("decile"))
    val q = cells
      .withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(arms), Seq("arm"))
      .crossJoin(broadcast(deciles))
      .groupBy("arm", "decile")
      .agg(max(expr(
        "CASE WHEN cum - c < (decile * n + 9) div 10 AND cum >= (decile * n + 9) div 10 THEN v END"))
        .as("q_u"))
    val a = q.where(col("arm") === "A").select(col("decile"), col("q_u").as("v_a_u"))
    val b = q.where(col("arm") === "B").select(col("decile"), col("q_u").as("v_b_u"))
    a.join(b, Seq("decile"))
      .select(col("decile"), col("v_a_u"), col("v_b_u"),
        (col("v_b_u") - col("v_a_u")).as("diff_u"))
  }

  private val quantileEffectsSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH cells AS (
       |  SELECT CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |arms AS (SELECT arm, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
       |blocks AS (
       |  SELECT arm, v, c,
       |    SUM(c) OVER (PARTITION BY arm ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM cells),
       |q AS (
       |  SELECT b.arm, d.decile,
       |    MAX(CASE WHEN b.cum - b.c < (d.decile * a.n + 9) // 10
       |              AND b.cum >= (d.decile * a.n + 9) // 10 THEN b.v END) AS q_u
       |  FROM blocks b JOIN arms a USING (arm)
       |  CROSS JOIN (SELECT UNNEST(range(1, 10)) AS decile) d
       |  GROUP BY 1, 2)
       |SELECT qa.decile, qa.q_u AS v_a_u, qb.q_u AS v_b_u, qb.q_u - qa.q_u AS diff_u
       |FROM q qa JOIN q qb ON qb.decile = qa.decile AND qb.arm = 'B'
       |WHERE qa.arm = 'A'
       |ORDER BY qa.decile""".stripMargin
  }

  /** §8u(dx) — A/A calibration (the experiment platform's own null test:
    * split arm A again by an INDEPENDENT hash and run the readout — a
    * "significant" A1-vs-A2 difference means the pipeline manufactures
    * false positives: broken deal, dependent metrics, bad variance
    * formula. The second deal uses a different salt, so it is
    * independent of the arm deal by construction). Per-user event
    * count; exact sufficient sums, Welch z with multiplied-through
    * integer variance numerators, ONE fixed-order float chain,
    * round-6. */
  def aaCalibration(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val sub = when(pmod(graft.plans.VectorExpressions.hexPrefix(
      md5(concat(lit("graft-aa-v1"), col("user_id").cast("string"))), 8), lit(2L)) === 0, "A1")
      .otherwise("A2")
    val arms = Cached.track(Tables(dir).events
      .select(abArm.as("arm"), sub.as("subarm"), col("user_id"))
      .where(col("arm") === "A")
      .groupBy("subarm", "user_id").agg(count(lit(1)).as("y"))
      .groupBy("subarm")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("sy2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = arms.where(col("subarm") === "A1")
      .select(col("n").as("n1"), col("sy").as("sy1"), col("sy2").as("sy21"))
    val b = arms.where(col("subarm") === "A2")
      .select(col("n").as("n2"), col("sy").as("sy2b"), col("sy2").as("sy22"))
    a.crossJoin(b)
      .select(col("n1"), col("n2"),
        expr("round(CAST(sy1 AS DOUBLE) / n1, 6)").as("mean_1"),
        expr("round(CAST(sy2b AS DOUBLE) / n2, 6)").as("mean_2"),
        expr("""round((CAST(sy1 AS DOUBLE) / n1 - CAST(sy2b AS DOUBLE) / n2)
               | / sqrt(CAST(n1 * sy21 - sy1 * sy1 AS DOUBLE) / n1 / (n1 - 1) / n1
               |   + CAST(n2 * sy22 - sy2b * sy2b AS DOUBLE) / n2 / (n2 - 1) / n2), 6)"""
          .stripMargin.replace("\n", " ")).as("z"))
      .withColumn("false_positive", abs(col("z")) > 1.96)
  }

  private val aaCalibrationSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    val subExpr = DedupQueries.hexToLongDuck("md5('graft-aa-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH pu AS (
       |  SELECT CASE WHEN ($subExpr) % 2 = 0 THEN 'A1' ELSE 'A2' END AS subarm,
       |    user_id, COUNT(*) AS y
       |  FROM events
       |  WHERE ($armExpr) % 2 = 0
       |  GROUP BY 1, 2),
       |arms AS (
       |  SELECT subarm, COUNT(*) AS n, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(y AS HUGEINT) * y) AS sy2
       |  FROM pu GROUP BY 1),
       |ab AS (SELECT
       |    (SELECT n FROM arms WHERE subarm = 'A1') AS n1,
       |    (SELECT sy FROM arms WHERE subarm = 'A1') AS sy1,
       |    (SELECT sy2 FROM arms WHERE subarm = 'A1') AS sy21,
       |    (SELECT n FROM arms WHERE subarm = 'A2') AS n2,
       |    (SELECT sy FROM arms WHERE subarm = 'A2') AS sy2b,
       |    (SELECT sy2 FROM arms WHERE subarm = 'A2') AS sy22),
       |m AS (
       |  SELECT n1, n2,
       |    ROUND(CAST(sy1 AS DOUBLE) / n1, 6) AS mean_1,
       |    ROUND(CAST(sy2b AS DOUBLE) / n2, 6) AS mean_2,
       |    ROUND((CAST(sy1 AS DOUBLE) / n1 - CAST(sy2b AS DOUBLE) / n2)
       |      / sqrt(CAST(n1 * sy21 - sy1 * sy1 AS DOUBLE) / n1 / (n1 - 1) / n1
       |        + CAST(n2 * sy22 - sy2b * sy2b AS DOUBLE) / n2 / (n2 - 1) / n2), 6) AS z
       |  FROM ab)
       |SELECT n1, n2, mean_1, mean_2, z, ABS(z) > 1.96 AS false_positive
       |FROM m ORDER BY n1""".stripMargin
  }

  /** §8u(dy) — delta-method SE for a ratio metric (Deng et al., the
    * correction every platform applies to CTR-style metrics: the ratio
    * of per-user sums Σclicks/Σviews is NOT a mean of i.i.d. values, so
    * the naive SE is wrong — the delta method expands var(X̄/Ȳ) from the
    * per-user (co)variances: (σ²_x/ȳ² + x̄²σ²_y/ȳ⁴ − 2x̄σ_xy/ȳ³)/n).
    * Per arm; n, Σx, Σy, Σx², Σy², Σxy are exact integers, the ratio
    * and SE are ONE fixed-order float chain over multiplied-through
    * integer (co)variance numerators, round-6. One user-keyed
    * aggregate + one arm aggregate. */
  def ratioDelta(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    Tables(dir).events
      .select(abArm.as("arm"), col("user_id"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is_x"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("is_y"))
      .groupBy("arm", "user_id")
      .agg(sum(col("is_x")).as("x"), sum(col("is_y")).as("y"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("sy2"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .select(col("arm"), col("n_users"),
        expr("CAST(sx AS BIGINT)").as("sum_x"), expr("CAST(sy AS BIGINT)").as("sum_y"),
        expr("round(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE), 6)").as("ratio"),
        expr("""round(sqrt((CAST(n_users * sx2 - sx * sx AS DOUBLE) / n_users / (n_users - 1)
               |   / (CAST(sy AS DOUBLE) / n_users) / (CAST(sy AS DOUBLE) / n_users)
               | + CAST(sx AS DOUBLE) / n_users * (CAST(sx AS DOUBLE) / n_users)
               |   * (CAST(n_users * sy2 - sy * sy AS DOUBLE) / n_users / (n_users - 1))
               |   / (CAST(sy AS DOUBLE) / n_users) / (CAST(sy AS DOUBLE) / n_users)
               |   / (CAST(sy AS DOUBLE) / n_users) / (CAST(sy AS DOUBLE) / n_users)
               | - 2.0 * (CAST(sx AS DOUBLE) / n_users)
               |   * (CAST(n_users * sxy - sx * sy AS DOUBLE) / n_users / (n_users - 1))
               |   / (CAST(sy AS DOUBLE) / n_users) / (CAST(sy AS DOUBLE) / n_users)
               |   / (CAST(sy AS DOUBLE) / n_users)) / n_users), 6)"""
          .stripMargin.replace("\n", " ")).as("se_delta"))
  }

  private val ratioDeltaSql = {
    val armExpr = DedupQueries.hexToLongDuck("md5('graft-ab-v1' || CAST(user_id AS VARCHAR))", 8)
    s"""WITH pu AS (
       |  SELECT CASE WHEN ($armExpr) % 2 = 0 THEN 'A' ELSE 'B' END AS arm, user_id,
       |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |arms AS (
       |  SELECT arm, COUNT(*) AS n_users,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sx2, SUM(CAST(y AS HUGEINT) * y) AS sy2,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM pu GROUP BY 1)
       |SELECT arm, n_users, CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
       |  ROUND(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE), 6) AS ratio,
       |  ROUND(sqrt((CAST(n_users * sx2 - sx * sx AS DOUBLE) / n_users / (n_users - 1)
       |      / (CAST(sy AS DOUBLE) / n_users) / (CAST(sy AS DOUBLE) / n_users)
       |    + CAST(sx AS DOUBLE) / n_users * (CAST(sx AS DOUBLE) / n_users)
       |      * (CAST(n_users * sy2 - sy * sy AS DOUBLE) / n_users / (n_users - 1))
       |      / (CAST(sy AS DOUBLE) / n_users) / (CAST(sy AS DOUBLE) / n_users)
       |      / (CAST(sy AS DOUBLE) / n_users) / (CAST(sy AS DOUBLE) / n_users)
       |    - 2.0 * (CAST(sx AS DOUBLE) / n_users)
       |      * (CAST(n_users * sxy - sx * sy AS DOUBLE) / n_users / (n_users - 1))
       |      / (CAST(sy AS DOUBLE) / n_users) / (CAST(sy AS DOUBLE) / n_users)
       |      / (CAST(sy AS DOUBLE) / n_users)) / n_users), 6) AS se_delta
       |FROM arms ORDER BY arm""".stripMargin
  }

  /** Distinct-user rollup FROM REGISTERS — the mergeable-summaries
    * property doing a cube's work: the raw events are scanned ONCE into a
    * (type, day) register table, and the per-type, per-day, and grand
    * totals are all register MERGES of that one build (exact algebra, so
    * every level is still DuckDB-oracled). At 100 TB this is the only
    * viable shape for distinct-count rollups: COUNT(DISTINCT) per cell
    * re-shuffles the fact table once per grouping level, while registers
    * re-aggregate ≤256 rows per cell. */
  def uniquesRollup(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val grain = concat(col("event_type"), lit("|"), to_date(col("ts")).cast("string"))
    // persisted: three rollup levels re-aggregate the one register build
    // r14 (opt): Tables.spread on the register-build hash front
    // A/B-measured a wash (1.90 -> 1.92 s) — the per-row md5 collapses
    // map-side into the (grain, reg) partial agg, so the extra exchange
    // buys nothing; REJECTED
    val regs = Cached.track(
      graft.pipeline.HllTable.build(Tables(dir).events, col("user_id"), grain)
        .withColumn("event_type", split(col("grain"), "\\|").getItem(0))
        .withColumn("day", split(col("grain"), "\\|").getItem(1))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    def level(name: String, key: org.apache.spark.sql.Column) =
      graft.pipeline.HllTable.estimate(
        regs.groupBy(key.as("grain"), col("reg"))
          .agg(max(col("max_rho")).as("max_rho")))
        .select(lit(name).as("level"), col("grain").as("key"), col("est"))
    level("type", col("event_type"))
      .unionByName(level("day", col("day")))
      .unionByName(level("total", lit("all")))
  }

  private val uniquesRollupSql = {
    import graft.pipeline.HllTable.{regSql, rhoSql}
    val m = graft.pipeline.HllTable.M
    val est =
      s"""ROUND(CASE WHEN ($m - n_hit) > 0
         |        AND ${graft.pipeline.HllTable.EstNumerator} / CAST(hit_num + ($m - n_hit) * (CAST(1 AS BIGINT) << 53) AS DOUBLE) <= ${2.5 * m}
         |      THEN $m * ln($m / CAST($m - n_hit AS DOUBLE))
         |      ELSE ${graft.pipeline.HllTable.EstNumerator} / CAST(hit_num + ($m - n_hit) * (CAST(1 AS BIGINT) << 53) AS DOUBLE) END, 4)""".stripMargin
    def level(name: String, key: String) =
      s"""SELECT '$name' AS level, key, $est AS est FROM (
         |  SELECT key, COUNT(*) AS n_hit,
         |    CAST(SUM(CAST(1 AS BIGINT) << (53 - max_rho)) AS BIGINT) AS hit_num
         |  FROM (SELECT $key AS key, reg, MAX(rho) AS max_rho
         |        FROM h GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    s"""WITH h AS (SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       |                  ${regSql("user_id")} AS reg, ${rhoSql("user_id")} AS rho
       |           FROM events)
       |${level("type", "event_type")}
       |UNION ALL ${level("day", "day")}
       |UNION ALL ${level("total", "'all'")}
       |ORDER BY level, key""".stripMargin
  }

  /** Per-type Spearman rank correlation between event VALUE and time of
    * day (seconds since midnight) — the rank-based dependence measure, the
    * correlation-side sibling of the MAD gate (both survive wild values
    * that wreck their moment-based twins; `q_revenue_trend`'s OLS slope
    * is the moment-based counterpart). Ranks use row_number with a
    * deterministic event_id tie-break, making ρ a pure permutation
    * statistic: Σd² is an exact integer, and
    * ρ = 1 − 6Σd²/(n(n²−1)) divides two exact integers once at the end.
    * Plan: two per-type rank windows over the same shuffle, one
    * aggregate. */
  def rankCorrelation(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val byType = Window.partitionBy(col("event_type"))
    val sod = (hour(col("ts")) * 3600 + minute(col("ts")) * 60 + second(col("ts"))).cast("long")
    val e = Tables(dir).events
      .select(col("event_id"), col("event_type"), col("value"), sod.as("sod"))
      .withColumn("rv", row_number().over(byType.orderBy(col("value").asc, col("event_id").asc)))
      .withColumn("rt", row_number().over(byType.orderBy(col("sod").asc, col("event_id").asc)))
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("rv") - col("rt")).cast("long") * (col("rv") - col("rt")).cast("long"))
          .as("sum_d2"))
      .where(col("n") > 1)
      // denominator in double: n³ would overflow BIGINT around n ≈ 2×10⁶
      // and the quotient is float anyway (IEEE-identical across engines)
      .select(col("event_type"), col("n"), col("sum_d2"),
        round(lit(1.0) - (lit(6.0) * col("sum_d2"))
          / (col("n").cast("double") * (col("n").cast("double") * col("n").cast("double") - 1)), 6)
          .as("rho"))
  }

  private val rankCorrelationSql =
    """WITH e AS (
      |  SELECT event_id, event_type, value,
      |    CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) * 3600
      |       + EXTRACT(minute FROM CAST(ts AS TIMESTAMP)) * 60
      |       + EXTRACT(second FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS sod
      |  FROM events),
      |r AS (
      |  SELECT event_type,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rv,
      |    row_number() OVER (PARTITION BY event_type ORDER BY sod, event_id) AS rt
      |  FROM e),
      |agg AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM((rv - rt) * (rv - rt)) AS BIGINT) AS sum_d2
      |  FROM r GROUP BY 1)
      |SELECT event_type, n, sum_d2,
      |  ROUND(1.0 - (6.0 * sum_d2)
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1)), 6) AS rho
      |FROM agg WHERE n > 1 ORDER BY event_type""".stripMargin

  /** Per-type mergeable quantile histogram ([[graft.pipeline.QuantHist]]):
    * values scaled to integer cents, HDR-layout bins, one keyed shuffle
    * with map-side partial collapse. The landed table answers any later
    * quantile without re-touching events — and because the binning is
    * pure integer arithmetic, the WHOLE sketch is DuckDB-oracled, bin ids
    * and all. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cents = floor(col("value") * 100).cast("long")
    graft.pipeline.QuantHist.build(Tables(dir).events, cents, col("event_type"))
      .select(col("grain").as("event_type"), col("bin"),
        graft.pipeline.QuantHist.loOf("bin").as("lo"),
        graft.pipeline.QuantHist.hiOf("bin").as("hi"), col("cnt"))
  }

  private val quantileSketchSql = {
    import graft.pipeline.QuantHist.{binSql, hiSql, loSql}
    s"""WITH c AS (SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events),
       |b AS (SELECT event_type, ${binSql("v")} AS bin FROM c)
       |SELECT event_type, bin, ${loSql("bin")} AS lo, ${hiSql("bin")} AS hi,
       |       COUNT(*) AS cnt
       |FROM b GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin
  }

  /** p50/p90/p99 per type READ FROM THE SKETCH: the covering bin of the
    * ⌈q·n⌉-th smallest cents value — guaranteed to contain the true
    * quantile, width ≤ lo/16. The read touches only the bounded bin
    * table (cum-sum window over ≤ ~1000 bins per type). */
  def quantilesFromSketch(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cents = floor(col("value") * 100).cast("long")
    val summary = graft.pipeline.QuantHist.build(Tables(dir).events, cents, col("event_type"))
    graft.pipeline.QuantHist.quantiles(summary, Seq(500, 900, 990))
      .withColumnRenamed("grain", "event_type")
  }

  private val quantilesFromSketchSql = {
    import graft.pipeline.QuantHist.{binSql, hiSql, loSql}
    s"""WITH c AS (SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events),
       |h AS (SELECT event_type, ${binSql("v")} AS bin, COUNT(*) AS cnt
       |      FROM c GROUP BY 1, 2),
       |cum AS (SELECT event_type, bin, cnt,
       |          SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
       |          SUM(cnt) OVER (PARTITION BY event_type) AS n
       |        FROM h),
       |q AS (SELECT * FROM cum CROSS JOIN (VALUES (500), (900), (990)) AS t(q_pm)),
       |hit AS (SELECT *, (n * q_pm + 999) // 1000 AS r FROM q
       |        WHERE cum >= (n * q_pm + 999) // 1000
       |          AND cum - cnt < (n * q_pm + 999) // 1000)
       |SELECT event_type, q_pm, bin, ${loSql("bin")} AS lo, ${hiSql("bin")} AS hi,
       |       CAST(n AS BIGINT) AS n
       |FROM hit ORDER BY event_type, q_pm""".stripMargin
  }

  /** Robust per-type outliers via Median Absolute Deviation — the
    * breakdown-resistant twin of [[valueOutliers]]'s rolling z-score (one
    * wild value corrupts a mean/stddev gate; the median tolerates up to
    * half the data being garbage). Everything is EXACT: values go through
    * DECIMAL(28,6), the median is the LOWER median (the ⌈n/2⌉-th smallest
    * element — an actual data value, no interpolation, no float), and the
    * gate |v − med| > 5·mad multiplies through in decimals. Plan shape:
    * two per-type sort windows over the events table (rank → pick the
    * median element) with the per-type medians re-entering as ≤|types|-row
    * broadcasts; at 100 TB the windows are per-type range partitions, and
    * the sketch alternative (approx quantiles) is the documented
    * approximate twin (`q_approx_quantiles` family). */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val e = Tables(dir).events
      .select(col("event_id"), col("event_type"), col("value").cast(dec).as("v"))
    def lowerMedian(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val byType = Window.partitionBy(col("event_type"))
      val w = byType.orderBy(col(valueCol).asc)
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(byType))
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(outCol))
    }
    val med = lowerMedian(e, "v", "med")
    // r15 (opt): persisting dev (consumed by the MAD window AND the final
    // filter) was built and A/B-REJECTED twice (1.13->1.27, 1.25->1.33 s):
    // the duplicate subtrees run concurrently on spare cores while the
    // persist barrier serializes fill->window (the dedup_simhash pattern)
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = lowerMedian(dev.select(col("event_type"), col("dev").as("v")), "v", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .where(col("dev") > col("mad") * 5)
      .select(col("event_id"), col("event_type"),
        col("v").cast("double").as("value"),
        col("med").cast("double").as("med"),
        col("mad").cast("double").as("mad"))
  }

  private val madOutliersSql =
    """WITH e AS (
      |  SELECT event_id, event_type, CAST(value AS DECIMAL(28,6)) AS v FROM events),
      |r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
      |              COUNT(*) OVER (PARTITION BY event_type) AS n FROM e),
      |med AS (SELECT event_type, v AS med FROM r1 WHERE rn = (n + 1) // 2),
      |d AS (SELECT e.event_id, e.event_type, e.v, m.med, ABS(e.v - m.med) AS dev
      |      FROM e JOIN med m USING (event_type)),
      |r2 AS (SELECT event_type, dev,
      |              row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
      |              COUNT(*) OVER (PARTITION BY event_type) AS n FROM d),
      |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
      |SELECT d.event_id, d.event_type,
      |  CAST(d.v AS DOUBLE) AS value, CAST(d.med AS DOUBLE) AS med,
      |  CAST(mad.mad AS DOUBLE) AS mad
      |FROM d JOIN mad USING (event_type)
      |WHERE d.dev > mad.mad * 5
      |ORDER BY event_id""".stripMargin

  def valueOutliers(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    Tables(dir).events
      .withColumn("n", count(col("value")).over(w).cast("double"))
      .withColumn("sx", sum(col("value").cast(dec)).over(w).cast("double"))
      .withColumn("sxx", sum((col("value") * col("value")).cast(dec)).over(w).cast("double"))
      .withColumn("sd", sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
        / (col("n") * (col("n") - 1))))
      .where(col("n") >= 10 && col("sd") > 0)
      .withColumn("z", (col("value") - col("sx") / col("n")) / col("sd"))
      .where(abs(col("z")) > 3)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        round(col("z"), 4).as("z"))
  }

  private val valueOutliersSql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |stats AS (
      |  SELECT user_id, event_id, ts, value,
      |    CAST(COUNT(value) OVER w AS DOUBLE) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(value * value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sxx
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      |scored AS (
      |  SELECT user_id, event_id, ts, value,
      |    (value - sx / n) / sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS z
      |  FROM stats
      |  WHERE n >= 10 AND sqrt((n * sxx - sx * sx) / (n * (n - 1))) > 0)
      |SELECT user_id, event_id, ts, value, ROUND(z, 4) AS z
      |FROM scored WHERE abs(z) > 3
      |ORDER BY user_id, event_id""".stripMargin

  // ----------------------------------------------------- transition matrix

  /** Event-transition (Markov) matrix: for every ordered per-user event
    * pair, count (from_type → to_type) with each row's share of its
    * from_type's outgoing edges; a user's last event transitions to the
    * sentinel '(end)' so every event has exactly one outgoing edge (the
    * accounting identity the spec pins). Shape at scale: ONE exchange on
    * user_id for the lead() window — the same partitioning the
    * sessionizer uses, so a pipeline computing both reuses the exchange —
    * then the transition aggregate collapses map-side to ≤ |types|²+|types|
    * rows and the percentage window runs on that bounded frame. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", coalesce(lead(col("event_type"), 1).over(w), lit("(end)")))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("pct", round(col("n_transitions") * lit(100.0) /
        sum(col("n_transitions")).over(Window.partitionBy(col("from_type"))), 4))
  }

  /** Last-touch attribution: every purchase credits its revenue to the
    * user's most recent PRIOR non-purchase event type (the touchpoint);
    * purchases with no prior touch credit "(none)". One pass: the
    * carry-forward is last(ignoreNulls) over a rows-frame ending 1 row
    * before current — the same single (user_id, ts, event_id) sort the
    * sessionizer uses — then the rollup collapses map-side to |types|
    * rows. Revenue sums in decimal (order-independent) like every money
    * aggregate in the library. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .where(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("(none)")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        graft.functions.Num.fin(graft.functions.Num.dsum(col("value"))).as("revenue"))
  }

  private val attributionSql =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value FROM events),
      |t AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM e)
      |SELECT COALESCE(touch, '(none)') AS touch_type, COUNT(*) AS n_purchases,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
      |FROM t WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Time-to-convert histogram: minutes from each purchase back to the
    * user's most recent prior touch (full history — the attribution
    * carry-forward window reused with the touch TIMESTAMP), bucketed to
    * 10-minute bins. Integer microsecond arithmetic end to end — the
    * division is an exact integer div, so bins are engine-exact. */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("touch_ts",
        last(when(col("event_type") =!= "purchase", col("ts")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase" && col("touch_ts").isNotNull)
      .withColumn("mins",
        floor((unix_micros(col("ts")) - unix_micros(col("touch_ts"))) / lit(60000000L)))
      .groupBy((floor(col("mins") / 10) * 10).as("bucket_min"))
      .agg(count(lit(1)).as("n_conversions"))
  }

  private val timeToConvertSql =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
      |t AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
      |  FROM e),
      |c AS (
      |  SELECT CAST(FLOOR((epoch_us(ts) - epoch_us(touch_ts)) / 60000000) AS BIGINT) AS mins
      |  FROM t WHERE event_type = 'purchase' AND touch_ts IS NOT NULL)
      |SELECT CAST(FLOOR(mins / 10) * 10 AS BIGINT) AS bucket_min,
      |  COUNT(*) AS n_conversions
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Interval join: every purchase pairs with the SAME user's touch
    * events in the hour strictly before it. One shuffle on user_id both
    * sides; the range predicate rides the join. */
  def precedingTouches(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val events = Tables(dir).events
    val touches = events
      .where(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_id").as("touch_id"), col("event_type").as("touch_type"))
    val purchases = events
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    purchases.join(touches,
      expr("user_id = t_user AND t_ts >= p_ts - INTERVAL 1 HOUR AND t_ts < p_ts"))
      .select(col("user_id"), col("purchase_id"), col("p_ts"),
        col("touch_id"), col("touch_type"), col("t_ts"))
  }

  private val precedingTouchesSql =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
      |p AS (SELECT user_id, ts AS p_ts, event_id AS purchase_id FROM e WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, ts AS t_ts, event_id AS touch_id, event_type AS touch_type
      |      FROM e WHERE event_type <> 'purchase')
      |SELECT p.user_id AS user_id, p.purchase_id, p.p_ts, t.touch_id, t.touch_type, t.t_ts
      |FROM p JOIN t ON p.user_id = t.user_id
      |  AND t.t_ts >= p.p_ts - INTERVAL 1 HOUR AND t.t_ts < p.p_ts
      |ORDER BY p.user_id, p.purchase_id, t.touch_id""".stripMargin

  /** §8f(x) — the drift alarm: hourly transition shares vs the
    * corpus-wide baseline matrix, alarm rows where |drift| ≥ 20 points.
    * The pair log has no `(end)` sentinel; the baseline is
    * [[transitions]] minus its sentinel rows. */
  def driftAlarms(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r14 (opt, §2.4): the baseline matrix re-ran the identical per-user
    // lead() window a second time ([[transitions]] — two full events
    // sorts per run). [[driftAlarm]] drops the '(end)' sentinel rows and
    // recomputes baseline_pct internally from n_transitions, so the
    // non-sentinel pair aggregate IS the baseline it sees: one window
    // pass, persisted for both consumers (vocab/base and the windowed
    // counts). Row-for-row identical input to driftAlarm by construction;
    // oracle unchanged.
    val pairs = Cached.track(transitionPairs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val baseline = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    driftAlarm(pairs, baseline)
  }

  /** Alarm rows of a (from_type, to_type, ts) pair log against a
    * (from_type, to_type, n_transitions) baseline, whose `(end)` sentinel
    * rows are excluded. Everything folds into ONE aggregation keyed by
    * (hour window, from_type): the baseline's to_type vocabulary
    * (bounded — |event types| rows, collected once at plan build) becomes
    * |vocab| conditional counters inside the group, so per-group state is
    * O(|vocab|) longs — no collect_list multiset, no whale-group risk
    * when one from_type dominates an hour. The counters then melt into
    * per-transition rows, shares are a projection (n·100/total), the
    * baseline share arrives by broadcast join, and rows with |drift|
    * below 20 points are dropped. Transitions into a to_type the baseline
    * has never seen surface as one `(novel)` row per group (count =
    * total − Σ vocab counters, baseline share 0) — a brand-new event
    * type IS drift and must not vanish from the monitor. */
  private[operators] def driftAlarm(transitions: DataFrame, baseline: DataFrame): DataFrame = {
    val baseRows = baseline.where(col("to_type") =!= "(end)")
    val vocab: Seq[String] = baseRows.select(col("to_type")).distinct()
      .orderBy(col("to_type"))
      .collect().map(_.getString(0)).toSeq
    val base = baseRows
      .withColumn("baseline_pct",
        round(col("n_transitions") * lit(100.0) /
          sum(col("n_transitions")).over(Window.partitionBy(col("from_type"))), 4))
      .select(col("from_type"), col("to_type"), col("baseline_pct"))

    val counters = vocab.zipWithIndex.map { case (v, i) =>
      sum(when(col("to_type") === v, 1L).otherwise(0L)).as(s"n_$i")
    } :+ count(lit(1)).as("total")
    val counts = transitions
      .groupBy(window(col("ts"), "1 hour").as("w"), col("from_type"))
      .agg(counters.head, counters.tail: _*)

    val knownN = vocab.indices.map(i => col(s"n_$i")).reduceOption(_ + _).getOrElse(lit(0L))
    val melted = counts
      .select(col("w.start").as("bucket"), col("from_type"), col("total"),
        explode(array(
          vocab.zipWithIndex.map { case (v, i) =>
            struct(lit(v).as("to_type"), col(s"n_$i").as("n"))
          } :+ struct(lit("(novel)").as("to_type"), (col("total") - knownN).as("n")): _*
        )).as("e"))
      .select(col("bucket"), col("from_type"), col("e.to_type").as("to_type"),
        col("e.n").as("n"), col("total"))
      .where(col("n") > 0)
      .withColumn("window_pct", round(col("n") * lit(100.0) / col("total"), 4))

    melted.join(broadcast(base), Seq("from_type", "to_type"), "left")
      .withColumn("drift_pct",
        round(col("window_pct") - coalesce(col("baseline_pct"), lit(0.0)), 4))
      .where(abs(col("drift_pct")) >= 20.0)
      .select(col("bucket"), col("from_type"), col("to_type"),
        col("n"), col("window_pct"), col("baseline_pct"), col("drift_pct"))
  }

  /** The landed pair log the drift monitor consumes: one row per
    * consecutive-event transition, stamped with the SOURCE event's time. */
  private[graft] def transitionPairs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"), col("ts"))
  }

  private val driftAlarmsSql =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
      |p AS (
      |  SELECT event_type AS from_type, ts,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM e),
      |pairs AS (SELECT from_type, to_type, ts FROM p WHERE to_type IS NOT NULL),
      |base AS (
      |  SELECT from_type, to_type,
      |    ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (PARTITION BY from_type), 4) AS baseline_pct
      |  FROM pairs GROUP BY 1, 2),
      |win AS (
      |  SELECT date_trunc('hour', ts) AS bucket, from_type, to_type, COUNT(*) AS n
      |  FROM pairs GROUP BY 1, 2, 3),
      |tot AS (SELECT bucket, from_type, SUM(n) AS total FROM win GROUP BY 1, 2),
      |shares AS (
      |  SELECT w.bucket, w.from_type, w.to_type, w.n,
      |    ROUND(w.n * 100.0 / t.total, 4) AS window_pct
      |  FROM win w JOIN tot t USING (bucket, from_type)),
      |d AS (
      |  SELECT s.bucket, s.from_type, s.to_type, s.n, s.window_pct, b.baseline_pct,
      |    ROUND(s.window_pct - COALESCE(b.baseline_pct, 0.0), 4) AS drift_pct
      |  FROM shares s LEFT JOIN base b USING (from_type, to_type))
      |SELECT * FROM d WHERE ABS(drift_pct) >= 20.0
      |ORDER BY bucket, from_type, to_type""".stripMargin

  private val transitionsSql =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
      |nxt AS (
      |  SELECT event_type AS from_type,
      |    COALESCE(lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |             '(end)') AS to_type
      |  FROM e),
      |agg AS (SELECT from_type, to_type, COUNT(*) AS n_transitions FROM nxt GROUP BY 1, 2)
      |SELECT from_type, to_type, n_transitions,
      |  ROUND(n_transitions * 100.0 / SUM(n_transitions) OVER (PARTITION BY from_type), 4) AS pct
      |FROM agg
      |ORDER BY from_type, to_type""".stripMargin

  // ------------------------------------------------ linear attribution

  /** Linear multi-touch attribution — every preceding touch of a
    * purchase shares its value equally, in integer cents: each touch
    * gets `cents div n`, the division remainder rides with the MOST
    * RECENT touch (deterministic, sums exactly to the purchase — no
    * lost pennies, no float splits). The touch history is a per-row
    * collect_list window (nulls skipped ⇒ touches only), so the explode
    * is map-side off one user-keyed window pass; purchases with no
    * history attribute whole to '(none)'. Complements the last-touch
    * view (`events_attribution`) the way finance teams actually ask for
    * both. */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val purchases = Tables(dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("touches",
        collect_list(when(col("event_type") =!= "purchase", col("event_type"))).over(w))
      .where(col("event_type") === "purchase")
      .select(col("touches"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"),
        size(col("touches")).cast("long").as("n"))
    val split = purchases
      .where(col("n") > 0)
      .select(col("cents"), col("n"), posexplode(col("touches")).as(Seq("pos", "touch_type")))
      .select(col("touch_type"),
        (expr("cents div n") +
          when(col("pos") === (col("n") - 1).cast("int"), col("cents") - expr("cents div n") * col("n"))
            .otherwise(0L)).as("attributed"))
    val none = purchases.where(col("n") === 0)
      .select(lit("(none)").as("touch_type"), col("cents").as("attributed"))
    split.unionByName(none)
      .groupBy(col("touch_type"))
      .agg(sum(col("attributed")).as("attributed_cents"))
  }

  private val attributionLinearSql =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value FROM events),
      |p AS (
      |  SELECT *,
      |    COALESCE(list_filter(list(CASE WHEN event_type <> 'purchase' THEN event_type END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      x -> x IS NOT NULL), []) AS touches,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      |  FROM e),
      |pp AS (
      |  SELECT touches, cents, CAST(LEN(touches) AS BIGINT) AS n
      |  FROM p WHERE event_type = 'purchase'),
      |split AS (
      |  SELECT touches[g.i] AS touch_type,
      |    cents // n + CASE WHEN g.i = n THEN cents - (cents // n) * n ELSE 0 END AS attributed
      |  FROM pp, UNNEST(generate_series(1, n)) AS g(i)
      |  WHERE n > 0
      |  UNION ALL
      |  SELECT '(none)', cents FROM pp WHERE n = 0)
      |SELECT touch_type, CAST(SUM(attributed) AS BIGINT) AS attributed_cents
      |FROM split GROUP BY touch_type ORDER BY touch_type""".stripMargin

  // --------------------------------------------------- windowed funnel

  /** Time-bounded strict-order funnel (§8i(am)): view → click within 24h
    * of the first view → purchase within 24h of that click. The deadline
    * is what the unbounded funnel can't express: a user who converts a
    * week later is NOT a funnel conversion. Same per-step min-join shape
    * as [[funnel]] — each step joins the previous step's per-user
    * timestamp (user-keyed shuffle, dims never explode) with the window
    * riding the join condition — plus step-over-step conversion rates. */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val DayUs = 86400000000L
    val ev = Tables(dir).events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val v = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t_view"))
    val c = ev.where(col("event_type") === "click")
      .join(v, "user_id")
      .where(col("us") > col("t_view") && col("us") <= col("t_view") + DayUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("t_click"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, "user_id")
      .where(col("us") > col("t_click") && col("us") <= col("t_click") + DayUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked_24h")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased_24h")))
      .select(col("n_viewed"), col("n_clicked_24h"), col("n_purchased_24h"),
        round(col("n_clicked_24h") * lit(100.0) / col("n_viewed"), 4).as("click_pct"),
        round(col("n_purchased_24h") * lit(100.0) / col("n_clicked_24h"), 4).as("purchase_pct"))
  }

  private val funnelWindowedSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |v AS (
      |  SELECT user_id, MIN(us) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(us) AS t_click
      |  FROM e JOIN v ON e.user_id = v.user_id
      |  WHERE event_type = 'click' AND us > t_view AND us <= t_view + 86400000000
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(us) AS t_purchase
      |  FROM e JOIN c ON e.user_id = c.user_id
      |  WHERE event_type = 'purchase' AND us > t_click AND us <= t_click + 86400000000
      |  GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
      |  (SELECT COUNT(*) FROM c) AS n_clicked_24h,
      |  (SELECT COUNT(*) FROM p) AS n_purchased_24h,
      |  ROUND((SELECT COUNT(*) FROM c) * 100.0 / (SELECT COUNT(*) FROM v), 4) AS click_pct,
      |  ROUND((SELECT COUNT(*) FROM p) * 100.0 / (SELECT COUNT(*) FROM c), 4) AS purchase_pct""".stripMargin

  // ------------------------------------------------ heavy hitters (§8k)

  /** Exact φ-heavy hitters (φ = 1/128) per event type: users holding more
    * than 1/128 of the type's events. Two keyed aggregations and a
    * broadcast of the |types|-row total table; the threshold compares
    * MULTIPLIED THROUGH (n·128 > total) so no division or float enters.
    * Output is bounded by construction: at most 128 qualifying users per
    * type, at any corpus size — this is the exact anchor the mergeable
    * [[graft.pipeline.TopFreq]] Misra-Gries summary is spec-tied to (a
    * key with true count above the summary's error ledger is guaranteed
    * present in the sketch). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // persisted: the totals re-aggregate the count table; without
    // materialization both consumers re-scan the raw event stream
    val counts = Cached.track(Tables(dir).events
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tot = counts.groupBy(col("event_type")).agg(sum(col("n_events")).as("tot"))
    counts.join(broadcast(tot), "event_type")
      .where(col("n_events") * 128 > col("tot"))
      .select(col("event_type"), col("user_id"), col("n_events"))
  }

  private val heavyHittersSql =
    """WITH counts AS (
      |  SELECT event_type, user_id, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS tot
      |        FROM counts GROUP BY 1)
      |SELECT c.event_type, c.user_id, c.n_events
      |FROM counts c JOIN tot t ON c.event_type = t.event_type
      |WHERE c.n_events * 128 > t.tot
      |ORDER BY c.event_type, c.user_id""".stripMargin

  // ---------------------------------------------- path trigrams (§8k)

  private val TrigramGapUs = 30L * 60 * 1000 * 1000

  /** Top-20 in-session event-type TRIGRAMS — the sequential-pattern view
    * one step past the Markov pair matrix (`events_transitions`): three
    * consecutive events of one user with both gaps inside the session
    * threshold. Two LEADs over the one per-user shuffle every session
    * operator shares; trigram formation is map-side after that sort, and
    * the count table is |types|³-bounded. */
  def pathTrigrams(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("ts2", lead(col("ts"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .withColumn("ts3", lead(col("ts"), 2).over(w))
      .where(col("t3").isNotNull
        && unix_micros(col("ts2")) - unix_micros(col("ts")) <= TrigramGapUs
        && unix_micros(col("ts3")) - unix_micros(col("ts2")) <= TrigramGapUs)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  private val pathTrigramsSql =
    s"""WITH seq AS (
       |  SELECT event_type AS t1,
       |    LEAD(event_type, 1) OVER w AS t2,
       |    LEAD(ts, 1) OVER w AS ts2,
       |    LEAD(event_type, 2) OVER w AS t3,
       |    LEAD(ts, 2) OVER w AS ts3,
       |    ts
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT t1, t2, t3, COUNT(*) AS n
       |FROM seq
       |WHERE t3 IS NOT NULL
       |  AND epoch_us(ts2) - epoch_us(ts) <= $TrigramGapUs
       |  AND epoch_us(ts3) - epoch_us(ts2) <= $TrigramGapUs
       |GROUP BY 1, 2, 3
       |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin

  // ------------------------------------------------- seasonality (§8k)

  /** Day-of-week × hour-of-day activity matrix (ISO weekday 1–7) with
    * exact decimal value totals — one hash aggregate into a 7×24-bounded
    * cell table, the calendar profile behind load forecasting. */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).events
      .groupBy((weekday(col("ts")) + 1).as("dow"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Num.fin(graft.functions.Num.dsum(col("value"))).as("total_value"))
  }

  private val seasonalitySql =
    """SELECT CAST(isodow(ts) AS INT) AS dow, CAST(hour(ts) AS INT) AS hod,
      |  COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** §8k(bp) — SEASONALLY-ADJUSTED outliers: each event's value scored
    * against its own (iso-dow × hour) cell's distribution instead of a
    * global or per-user baseline — Friday-evening spikes are normal on
    * Friday evenings; the same value on Tuesday 4am is the anomaly. The
    * [[valueOutliers]] z-gate re-based on the [[seasonality]] cells:
    * per-cell n/Σv/Σv² as EXACT DECIMAL sums (order-free), one
    * correctly-rounded float chain for mean/sd/z, cells with n < 30 or
    * zero variance never flag. Two corpus passes, but the second joins a
    * BROADCAST of ≤168 cell rows — nothing wide moves. */
  def seasonalOutliers(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val e = Tables(dir).events
      .withColumn("dow", (weekday(col("ts")) + 1).cast("int"))
      .withColumn("hod", hour(col("ts")).cast("int"))
    val cells = e.groupBy("dow", "hod")
      .agg(count(col("value")).cast("double").as("n"),
        sum(col("value").cast(dec)).cast("double").as("sx"),
        sum((col("value") * col("value")).cast(dec)).cast("double").as("sxx"))
    e.join(broadcast(cells), Seq("dow", "hod"))
      .withColumn("sd", sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
        / (col("n") * (col("n") - 1))))
      .where(col("n") >= 30 && col("sd") > 0)
      .withColumn("z", (col("value") - col("sx") / col("n")) / col("sd"))
      .where(abs(col("z")) > 3)
      .select(col("event_id"), col("ts"), col("dow"), col("hod"), col("value"),
        round(col("z"), 4).as("z"))
  }

  private val seasonalOutliersSql =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(isodow(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
      |    CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod, value
      |  FROM events),
      |cells AS (
      |  SELECT dow, hod,
      |    CAST(COUNT(value) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sxx
      |  FROM e GROUP BY 1, 2),
      |scored AS (
      |  SELECT e.event_id, e.ts, e.dow, e.hod, e.value,
      |    (e.value - sx / n) / sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS z
      |  FROM e JOIN cells USING (dow, hod)
      |  WHERE n >= 30 AND sqrt((n * sxx - sx * sx) / (n * (n - 1))) > 0)
      |SELECT event_id, ts, dow, hod, value, ROUND(z, 4) AS z
      |FROM scored WHERE abs(z) > 3
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------- segment algebra (§8k)

  /** Audience segment algebra — how many users fall in every
    * did-view × did-purchase × did-error combination. One per-user flag
    * aggregation (map-side partials collapse the stream to |users| rows)
    * and an 8-cell rollup: the set-algebra answer ("X AND Y BUT NOT Z")
    * for every segment at once, no per-segment passes. */
  def segmentAlgebra(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val flags = Tables(dir).events.groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("has_view"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("has_purchase"),
        max(when(col("event_type") === "error", 1).otherwise(0)).as("has_error"))
    flags.groupBy(col("has_view"), col("has_purchase"), col("has_error"))
      .agg(count(lit(1)).as("n_users"))
  }

  private val segmentAlgebraSql =
    """WITH flags AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase,
      |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_error
      |  FROM events GROUP BY 1)
      |SELECT has_view, has_purchase, has_error, COUNT(*) AS n_users
      |FROM flags GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------------- dyadic EWMA smoothing

  /** §8k(be) — per-user exponential smoothing of `value`, ENGINE-EXACT:
    * the classic α=1/2 EWMA truncated to the trailing 8 events, so every
    * weight is a power of two — 1/2, 1/4, …, 1/128, with the tail weight
    * doubled to 1/128 so the weights sum to exactly 1. Dividing a double
    * by a power of two only decrements its exponent (no rounding), and
    * the 8-term sum is written as the same left-associated chain in both
    * engines, so the smoothed value is BIT-IDENTICAL everywhere — no
    * round() hedge needed. Rows without 7 predecessors are skipped (the
    * full-window semantics; a renormalized warm-up would divide by a
    * non-power-of-two).
    *
    * Scale shape: ONE per-user shuffle + sort, 7 lags over the same
    * window frame (single Window operator), no joins. The window state is
    * 8 rows regardless of history length — the streaming-friendly twin of
    * the unbounded EWMA recursion, which cannot be windowed at all. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    var df = Tables(dir).events.select(col("user_id"), col("event_id"), col("ts"), col("value"))
    for (k <- 1 to 7) df = df.withColumn(s"v$k", lag(col("value"), k).over(w))
    df.where(col("v7").isNotNull)
      .withColumn("ewma",
        col("value") / 2 + col("v1") / 4 + col("v2") / 8 + col("v3") / 16 +
          col("v4") / 32 + col("v5") / 64 + col("v6") / 128 + col("v7") / 128)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"), col("ewma"))
  }

  private val ewmaSql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |l AS (
      |  SELECT user_id, event_id, ts, value,
      |    LAG(value, 1) OVER w AS v1, LAG(value, 2) OVER w AS v2,
      |    LAG(value, 3) OVER w AS v3, LAG(value, 4) OVER w AS v4,
      |    LAG(value, 5) OVER w AS v5, LAG(value, 6) OVER w AS v6,
      |    LAG(value, 7) OVER w AS v7
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id, ts, value,
      |  value / 2 + v1 / 4 + v2 / 8 + v3 / 16 + v4 / 32 + v5 / 64 + v6 / 128 + v7 / 128 AS ewma
      |FROM l WHERE v7 IS NOT NULL
      |ORDER BY user_id, event_id""".stripMargin

  // ------------------------------------------------ Kaplan-Meier survival

  /** §8k(bf) — Kaplan-Meier time-to-churn curve over user lifetimes.
    * A user's lifetime is whole days between their first and last event
    * (integer µs arithmetic); they CHURNED if their last event precedes
    * the corpus horizon (global max ts) by more than 1 day (the corpus spans ~30 days, so a day of silence is the churn signal), otherwise
    * they are right-censored (still active when observation ended) — the
    * standard KM setup where censored users leave the risk set without
    * registering a death. Output: one row per death-step t with the risk
    * set n_risk = |{lifetime ≥ t}|, the deaths at t, and the survival
    * estimate S(t) = Π_{s≤t} (1 − d_s/n_s).
    *
    * Exactness: t / n_risk / deaths are pure integers. S(t) is the one
    * float chain — Π as exp(Σ ln((n−d)/n)) with the running Σ evaluated
    * in ascending t order by BOTH engines (incremental window sum), ln
    * over ≤|steps| distinct small rationals, round-6 output (the
    * events_drift_alarm ln discipline).
    *
    * Scale shape: events collapse ONCE per user (map-side partial
    * min/max); everything after runs on the ≤|days-span| step table —
    * the single-partition windows are over dozens of rows, the
    * q_rfm_segments exact-but-tiny trade. */
  def survival(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val e = Tables(dir).events.select(col("user_id"), unix_micros(col("ts")).as("us"))
    val spans = e.groupBy("user_id")
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val horizon = e.agg(max(col("us")).as("h_us"))
    val users = spans.crossJoin(broadcast(horizon))
      .withColumn("d", expr("(last_us - first_us) div 86400000000"))
      .withColumn("churned", (col("last_us") < col("h_us") - lit(86400000000L)).cast("int"))
    val byD = users.groupBy(col("d"))
      .agg(count(lit(1)).as("n_at"), sum(col("churned")).as("deaths"))
    val wRisk = Window.orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSurv = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byD.withColumn("n_risk", sum(col("n_at")).over(wRisk))
      .where(col("deaths") > 0)
      .withColumn("lnterm",
        log((col("n_risk") - col("deaths")).cast("double") / col("n_risk").cast("double")))
      .withColumn("surv", round(exp(sum(col("lnterm")).over(wSurv)), 6))
      .select(col("d").as("t_days"), col("n_risk"), col("deaths"), col("surv"))
  }

  private val survivalSql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |spans AS (SELECT user_id, MIN(us) AS first_us, MAX(us) AS last_us FROM e GROUP BY 1),
      |h AS (SELECT MAX(us) AS h_us FROM e),
      |users AS (
      |  SELECT (last_us - first_us) // 86400000000 AS d,
      |    CASE WHEN last_us < h_us - 86400000000 THEN 1 ELSE 0 END AS churned
      |  FROM spans, h),
      |byd AS (SELECT d, COUNT(*) AS n_at, CAST(SUM(churned) AS BIGINT) AS deaths
      |        FROM users GROUP BY 1),
      |risk AS (
      |  SELECT d, n_at, deaths,
      |    CAST(SUM(n_at) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
      |  FROM byd),
      |km AS (
      |  SELECT d, n_risk, deaths,
      |    ln(CAST(n_risk - deaths AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS lnterm
      |  FROM risk WHERE deaths > 0)
      |SELECT d AS t_days, n_risk, deaths,
      |  ROUND(exp(SUM(lnterm) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS surv
      |FROM km ORDER BY t_days""".stripMargin

  // ---------------------------------------------------- user feature matrix

  /** §8k(bm) — the per-user FEATURE MATRIX: every behavioral feature a
    * churn/LTV/segmentation model trains on, assembled in ONE corpus
    * pass — counts, per-type counts, activity span (tenure/recency in
    * whole days vs the corpus horizon), distinct active days, and exact
    * monetary aggregates (DECIMAL sums; the one avg division and the
    * decimal→double casts are single correctly-rounded float steps).
    * The feature-store assembly shape: one groupBy over the fact
    * stream, horizon as a 1-row broadcast, no joins between feature
    * families — adding a feature adds a column, not a pass. Temporal
    * correctness for training joins (features as-of a label's time)
    * lives with `etl_pit_enrich`/`events_asof_view`; this is the
    * current-snapshot matrix. */
  def userFeatures(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val e = Tables(dir).events
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
    val horizon = e.agg(max(col("us")).as("h_us"))
    e.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        min(col("us")).as("first_us"), max(col("us")).as("last_us"),
        countDistinct(expr("us div 86400000000")).as("n_active_days"),
        sum(col("value").cast(dec)).as("sum_value"),
        max(col("value")).as("max_value"))
      .crossJoin(broadcast(horizon))
      .select(col("user_id"), col("n_events"), col("n_purchase"), col("n_view"),
        col("n_click"),
        expr("(last_us - first_us) div 86400000000").as("tenure_days"),
        expr("(h_us - last_us) div 86400000000").as("recency_days"),
        col("n_active_days"),
        col("sum_value").cast("double").as("monetary"),
        round(col("sum_value").cast("double") / col("n_events"), 6).as("avg_value"),
        col("max_value"))
  }

  private val userFeaturesSql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
      |  FROM events),
      |h AS (SELECT MAX(us) AS h_us FROM e),
      |f AS (
      |  SELECT user_id,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |    MIN(us) AS first_us, MAX(us) AS last_us,
      |    COUNT(DISTINCT us // 86400000000) AS n_active_days,
      |    SUM(CAST(value AS DECIMAL(28,6))) AS sum_value,
      |    MAX(value) AS max_value
      |  FROM e GROUP BY 1)
      |SELECT user_id, n_events, n_purchase, n_view, n_click,
      |  (last_us - first_us) // 86400000000 AS tenure_days,
      |  (h_us - last_us) // 86400000000 AS recency_days,
      |  n_active_days,
      |  CAST(sum_value AS DOUBLE) AS monetary,
      |  ROUND(CAST(sum_value AS DOUBLE) / n_events, 6) AS avg_value,
      |  max_value
      |FROM f, h ORDER BY user_id""".stripMargin

  // --------------------------------------- CUSUM change-point (§8n(ck))

  private val CusumSlackMilli = 500L
  private val CusumThresholdMilli = 5000L

  /** §8n(ck) — CUSUM change-point alarm over the per-type daily count
    * series (Page's cumulative-sum chart — the sequential detector that
    * catches a sustained level SHIFT long before any single day trips a
    * z-gate). The recursion S_d = max(0, S_{d-1} + y_d) is rewritten in
    * its prefix closed form S_d = P_d − least(0, min_{j≤d} P_j), so the
    * "sequential" statistic becomes two ordinary cumulative windows —
    * no recursion, no fold, and every quantity is an exact milli-unit
    * integer (y_d = 1000·x_d − mean_milli − slack, mean per type by
    * truncating div). Alarm when the statistic clears
    * [[CusumThresholdMilli]].
    *
    * Scale shape: one corpus groupBy into the (type, day) table, 1-row
    * per-type stats broadcast, two windows over day-ordered series whose
    * length is the calendar, not the corpus. */
  def cusumAlarm(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = Tables(dir).events
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
    val stats = daily.groupBy("event_type")
      .agg(sum(col("n_events")).as("tot"), count(lit(1)).as("nd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("mean_milli", expr("(1000 * tot) div nd"))
      .withColumn("y", expr(s"1000 * n_events - mean_milli - $CusumSlackMilli"))
      .withColumn("p", sum(col("y")).over(w))
      .withColumn("pmin", min(col("p")).over(w))
      .withColumn("cusum_milli", expr("p - least(0L, pmin)"))
      .withColumn("alarm", col("cusum_milli") > CusumThresholdMilli)
      .select("event_type", "day", "n_events", "cusum_milli", "alarm")
  }

  private val cusumAlarmSql =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n_events
       |  FROM events GROUP BY 1, 2),
       |st AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS tot, COUNT(*) AS nd
       |       FROM daily GROUP BY 1),
       |y AS (
       |  SELECT d.event_type, d.day, d.n_events,
       |    1000 * d.n_events - ((1000 * st.tot) // st.nd) - $CusumSlackMilli AS y
       |  FROM daily d JOIN st USING (event_type)),
       |pp AS (
       |  SELECT event_type, day, n_events,
       |    SUM(y) OVER (PARTITION BY event_type ORDER BY day
       |                 ROWS UNBOUNDED PRECEDING) AS p
       |  FROM y),
       |pw AS (
       |  SELECT event_type, day, n_events, p,
       |    MIN(p) OVER (PARTITION BY event_type ORDER BY day
       |                 ROWS UNBOUNDED PRECEDING) AS pmin
       |  FROM pp)
       |SELECT event_type, day, n_events,
       |  CAST(p - LEAST(0, pmin) AS BIGINT) AS cusum_milli,
       |  p - LEAST(0, pmin) > $CusumThresholdMilli AS alarm
       |FROM pw ORDER BY event_type, day""".stripMargin

  // ------------------------------- offline changepoint (§8v(ds), r09)

  /** §8v(ds) — offline single-changepoint detection over the daily count
    * series (the first step of binary segmentation, CUSUM's offline
    * sibling: CUSUM alarms ONLINE as data arrives; this locates WHERE the
    * level shifted once the window is closed — the incident-review
    * question). For every candidate split after day t, the
    * variance-reduction gain S_L²/n_L + S_R²/n_R − S²/n (the constant
    * Σx² cancels from the SSE difference, so no second moment is
    * needed); the argmax day is the changepoint. All sufficient sums are
    * exact integers off ONE cumulative window; the gain is one
    * fixed-order float chain round-6, so the argmax and its tie-break
    * (earliest day) are identical in both engines.
    *
    * Scale shape: one corpus groupBy into daily cells, a 1-row total
    * broadcast, two windows over the day-ordered series whose length is
    * the calendar, not the corpus — the cusumAlarm ledger exactly. */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = Tables(dir).events
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
    val tot = daily.agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    val scans = daily
      .withColumn("sl", sum(col("x")).over(w))
      .withColumn("nl", count(lit(1)).over(w))
      .crossJoin(broadcast(tot))
      .where(col("nl") < col("n"))
      .withColumn("gain", expr(
        """round(CAST(sl AS DOUBLE) * sl / nl
          | + CAST(s - sl AS DOUBLE) * (s - sl) / (n - nl)
          | - CAST(s AS DOUBLE) * s / n, 6)""".stripMargin.replace("\n", " ")))
    val rk = Window.orderBy(col("gain").desc, col("day"))
    scans.withColumn("is_changepoint", row_number().over(rk) === 1)
      .select(col("day"), col("x").as("n_events"), col("nl").as("n_left"),
        col("sl").as("sum_left"), col("gain"), col("is_changepoint"))
  }

  /** Seasonal-naive period: forecast today's count with last week's —
    * the standard monitoring baseline every fancier forecaster must
    * beat before it earns a pager. */
  private val SeasonalPeriodDays = 7

  /** §8x(eg) — FORECAST BACKTEST: how well does the seasonal-naive
    * baseline (count(t) ≈ count(t − 7d)) predict each event type's daily
    * volume on its own calendar-complete history? Per type: days scored,
    * total actual volume, total absolute error and the per-mille WAPE
    * (Σ|err|·1000 div Σactual — the scale-free accuracy number, exact
    * integers end-to-end, no MAPE divide-by-zero trap on quiet days).
    * The monitoring read BEFORE wiring an alarm to a forecast: a type
    * whose own last week explains it at 50‰ WAPE can alarm on small
    * deviations; one at 500‰ can't.
    *
    * Scale shape: one keyed count into (type, day) cells; the calendar
    * grid (sequence over the type's [min, max] day span) and the lag-7
    * window run per type over day-count-bounded partitions; zero-filled
    * missing days make the lag calendar-true, not row-offset-true. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cnt = Tables(dir).events
      .select(col("event_type").as("type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("type", "day").agg(count(lit(1)).as("x"))
    val grid = cnt.groupBy("type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("type"), explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy(col("type")).orderBy(col("day"))
    grid.join(cnt, Seq("type", "day"), "left")
      .na.fill(0L, Seq("x"))
      .withColumn("fc", lag(col("x"), SeasonalPeriodDays).over(w))
      .where(col("fc").isNotNull)
      .groupBy("type")
      .agg(count(lit(1)).as("n_days_scored"),
        sum(col("x")).as("sum_actual"),
        sum(abs(col("x") - col("fc"))).as("sum_abs_err"))
      .withColumn("wape_pm",
        expr("sum_abs_err * 1000 div greatest(sum_actual, 1)"))
  }

  /** §8y(en) r12 — GROWTH ACCOUNTING: the new / retained / resurrected /
    * churned daily user ledger (the canonical DAU decomposition — every
    * growth dashboard's first table). Per active (user, day): NEW if it
    * is the user's first-ever day, RETAINED if the user was also active
    * the previous calendar day, RESURRECTED otherwise (a gap > 1 day);
    * CHURNED(d) counts users active at d−1 with no activity at d
    * (attributed from each active day's lead — a user churning and
    * resurrecting later counts in both ledgers, as growth accounting
    * defines it). The boundary day past the corpus emits no churn row.
    *
    * Scale shape: one distinct over (user, day) — map-side partial —
    * then ONE per-user window (lag + lead + running first) over
    * day-count-bounded partitions and a ≤|days| aggregate; no joins,
    * no grid explosion. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val active = Tables(dir).events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val lab = active
      .withColumn("first_day", min(col("day")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
    val states = lab.groupBy("day").agg(
      sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev_day") === col("day") - 1, 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("day") =!= col("first_day")
        && (col("prev_day").isNull || col("prev_day") < col("day") - 1), 1L)
        .otherwise(0L)).as("n_resurrected"))
    val maxDay = active.agg(max(col("day")).as("max_day"))
    val churn = lab
      .where(col("next_day").isNull || col("next_day") > col("day") + 1)
      .crossJoin(broadcast(maxDay))
      .where(col("day") + 1 <= col("max_day"))
      .select((col("day") + 1).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_churned"))
    states.join(churn, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  private val growthAccountingSql =
    """WITH active AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |lab AS (
      |  SELECT user_id, day,
      |    MIN(day) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS first_day,
      |    LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
      |    LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      |  FROM active),
      |states AS (
      |  SELECT day,
      |    CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |    CAST(SUM(CASE WHEN day <> first_day
      |      AND (prev_day IS NULL OR prev_day < day - 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM lab GROUP BY day),
      |churn AS (
      |  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
      |  FROM lab
      |  WHERE (next_day IS NULL OR next_day > day + 1)
      |    AND day + 1 <= (SELECT MAX(day) FROM active)
      |  GROUP BY day + 1)
      |SELECT COALESCE(s.day, c.day) AS day,
      |  COALESCE(n_new, 0) AS n_new,
      |  COALESCE(n_retained, 0) AS n_retained,
      |  COALESCE(n_resurrected, 0) AS n_resurrected,
      |  COALESCE(n_churned, 0) AS n_churned
      |FROM states s FULL OUTER JOIN churn c ON s.day = c.day
      |ORDER BY day""".stripMargin

  /** A day whose volume strays more than this many per-mille from its
    * seasonal-naive forecast is anomalous. */
  private val AnomalyThresholdPm = 500L

  /** §8y(ek) r12 — VOLUME-ANOMALY DAYS: the alarm the backtest gates.
    * Per (type, day) on the calendar-complete zero-filled grid: actual
    * vs the seasonal-naive forecast (count(t−7d)), the absolute
    * deviation in per-mille of the forecast, and the flag at
    * [[AnomalyThresholdPm]] — only flagged days are emitted, newest
    * first within a type. Read TOGETHER with `events_forecast_backtest`:
    * a type whose WAPE is ~500‰ will fire here every other day (alarm is
    * noise); one at 50‰ fires only on real shifts. Same grid, same lag
    * arithmetic, same integer lane as the backtest — shared calendar
    * conventions mean the two tables never disagree about what "a day"
    * or "the forecast" is.
    *
    * Scale shape: identical to [[forecastBacktest]] minus its final
    * rollup — one keyed count, per-type bounded-partition window, then a
    * flag filter that shrinks output to the anomalous days only. */
  def volumeAnomaly(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cnt = Tables(dir).events
      .select(col("event_type").as("type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("type", "day").agg(count(lit(1)).as("x"))
    val grid = cnt.groupBy("type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("type"), explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy(col("type")).orderBy(col("day"))
    grid.join(cnt, Seq("type", "day"), "left")
      .na.fill(0L, Seq("x"))
      .withColumn("fc", lag(col("x"), SeasonalPeriodDays).over(w))
      .where(col("fc").isNotNull)
      .withColumn("dev_pm", expr("abs(x - fc) * 1000 div greatest(fc, 1)"))
      .where(col("dev_pm") > AnomalyThresholdPm)
      .select(col("type"), col("day"), col("x").as("n_events"),
        col("fc").as("forecast"), col("dev_pm"))
  }

  private val volumeAnomalySql =
    s"""WITH cnt AS (
       |  SELECT event_type AS type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT type, UNNEST(generate_series(MIN(day), MAX(day))) AS day
       |  FROM cnt GROUP BY type),
       |filled AS (
       |  SELECT g.type, g.day, COALESCE(c.x, 0) AS x
       |  FROM grid g LEFT JOIN cnt c ON c.type = g.type AND c.day = g.day),
       |sc AS (
       |  SELECT type, day, x,
       |    LAG(x, $SeasonalPeriodDays) OVER (PARTITION BY type ORDER BY day) AS fc
       |  FROM filled)
       |SELECT type, day, CAST(x AS BIGINT) AS n_events,
       |  CAST(fc AS BIGINT) AS forecast,
       |  CAST(ABS(x - fc) AS BIGINT) * 1000 // GREATEST(CAST(fc AS BIGINT), 1) AS dev_pm
       |FROM sc WHERE fc IS NOT NULL
       |  AND CAST(ABS(x - fc) AS BIGINT) * 1000 // GREATEST(CAST(fc AS BIGINT), 1) > $AnomalyThresholdPm
       |ORDER BY type, day""".stripMargin

  private val forecastBacktestSql =
    s"""WITH cnt AS (
       |  SELECT event_type AS type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT type, UNNEST(generate_series(MIN(day), MAX(day))) AS day
       |  FROM cnt GROUP BY type),
       |filled AS (
       |  SELECT g.type, g.day, COALESCE(c.x, 0) AS x
       |  FROM grid g LEFT JOIN cnt c ON c.type = g.type AND c.day = g.day),
       |sc AS (
       |  SELECT type, day, x,
       |    LAG(x, $SeasonalPeriodDays) OVER (PARTITION BY type ORDER BY day) AS fc
       |  FROM filled)
       |SELECT type, COUNT(*) AS n_days_scored,
       |  CAST(SUM(x) AS BIGINT) AS sum_actual,
       |  CAST(SUM(ABS(x - fc)) AS BIGINT) AS sum_abs_err,
       |  CAST(SUM(ABS(x - fc)) AS BIGINT) * 1000
       |    // GREATEST(CAST(SUM(x) AS BIGINT), 1) AS wape_pm
       |FROM sc WHERE fc IS NOT NULL
       |GROUP BY type ORDER BY type""".stripMargin

  private val changepointSql =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS n FROM daily),
      |cum AS (
      |  SELECT day, x,
      |    CAST(SUM(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
      |    ROW_NUMBER() OVER (ORDER BY day) AS nl
      |  FROM daily),
      |g AS (
      |  SELECT day, x, nl, sl,
      |    ROUND(CAST(sl AS DOUBLE) * sl / nl
      |      + CAST(s - sl AS DOUBLE) * (s - sl) / (n - nl)
      |      - CAST(s AS DOUBLE) * s / n, 6) AS gain
      |  FROM cum, tot WHERE nl < n)
      |SELECT day, x AS n_events, nl AS n_left, sl AS sum_left, gain,
      |  ROW_NUMBER() OVER (ORDER BY gain DESC, day) = 1 AS is_changepoint
      |FROM g ORDER BY day""".stripMargin

  /** Binary-segmentation depth for [[changepointTree]] — bounded by
    * design (standard practice runs segmentation to a small fixed depth
    * or a gain floor; the tree has ≤ 2^depth − 1 splits). */
  private val SegDepth = 3

  /** §8v(dt) — FULL binary segmentation to depth [[SegDepth]] (r10 — the
    * multi-split extension of [[changepoint]], pairing with it the way
    * `dedup_substring_runs` pairs with `_coverage`): round d splits
    * every current segment at its own max-gain day, then children are
    * re-segmented — the offline answer to "where did the level shift,
    * and then where inside each regime". Segment ids refine as
    * parent·2 + side, so the id IS the root-to-segment path. Same exact
    * integer sufficient sums (now per-segment via partitioned windows)
    * and the same fixed-order float gain chain round-6 as the single
    * split, so every per-segment argmax and its earliest-day tie-break
    * is engine-identical; depth-1's split day equals `events_changepoint`'s
    * by construction (spec-pinned).
    *
    * Scale shape: the series is CALENDAR-length (daily cells off one
    * corpus groupBy), so each round is two windows + a ≤2^d-row
    * broadcast join over a bounded frame — depth rounds cost depth ×
    * the single-split ledger, independent of corpus size. */
  def changepointTree(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = Tables(dir).events
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
    var cur = daily.withColumn("seg", lit(0L))
    val rounds = Seq.newBuilder[DataFrame]
    for (d <- 1 to SegDepth) {
      val w = Window.partitionBy(col("seg")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val tw = Window.partitionBy(col("seg"))
      val cps = cur
        .withColumn("sl", sum(col("x")).over(w))
        .withColumn("nl", count(lit(1)).over(w))
        .withColumn("s", sum(col("x")).over(tw))
        .withColumn("n", count(lit(1)).over(tw))
        .where(col("nl") < col("n"))
        .withColumn("gain", expr(
          """round(CAST(sl AS DOUBLE) * sl / nl
            | + CAST(s - sl AS DOUBLE) * (s - sl) / (n - nl)
            | - CAST(s AS DOUBLE) * s / n, 6)""".stripMargin.replace("\n", " ")))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("seg")).orderBy(col("gain").desc, col("day"))))
        .where(col("r") === 1)
        .select(col("seg"), col("day").as("cp_day"), col("nl").as("n_left"),
          (col("n") - col("nl")).as("n_right"), col("gain"))
      rounds += cps.withColumn("depth", lit(d))
      cur = cur
        .join(broadcast(cps.select(col("seg"), col("cp_day"))), Seq("seg"), "left")
        .withColumn("seg", when(col("cp_day").isNull, col("seg") * 2)
          .otherwise(col("seg") * 2 + when(col("day") <= col("cp_day"), 0L).otherwise(1L)))
        .drop("cp_day")
    }
    rounds.result().reduce(_ unionByName _)
      .select(col("depth"), col("seg"), col("cp_day").as("day"),
        col("n_left"), col("n_right"), col("gain"))
  }

  private def changepointTreeSql = {
    val gain =
      """ROUND(CAST(sl AS DOUBLE) * sl / nl
        |      + CAST(s - sl AS DOUBLE) * (s - sl) / (n - nl)
        |      - CAST(s AS DOUBLE) * s / n, 6)""".stripMargin
    val ctes = Seq(
      """daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1)""".stripMargin,
      "seg0 AS (SELECT day, x, CAST(0 AS BIGINT) AS seg FROM daily)") ++
      (1 to SegDepth).flatMap { d =>
        val p = d - 1
        Seq(
          s"""sc$d AS (
             |  SELECT seg, day, x,
             |    CAST(SUM(x) OVER (PARTITION BY seg ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
             |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY day) AS nl,
             |    CAST(SUM(x) OVER (PARTITION BY seg) AS BIGINT) AS s,
             |    COUNT(*) OVER (PARTITION BY seg) AS n
             |  FROM seg$p)""".stripMargin,
          s"""cp$d AS (
             |  SELECT seg, day AS cp_day, nl AS n_left, n - nl AS n_right, gain FROM (
             |    SELECT seg, day, nl, n, gain,
             |      ROW_NUMBER() OVER (PARTITION BY seg ORDER BY gain DESC, day) AS r
             |    FROM (SELECT seg, day, nl, n, $gain AS gain
             |          FROM sc$d WHERE nl < n) g) x WHERE r = 1)""".stripMargin,
          s"""seg$d AS (
             |  SELECT t.day, t.x,
             |    CASE WHEN c.cp_day IS NULL THEN t.seg * 2
             |         WHEN t.day <= c.cp_day THEN t.seg * 2
             |         ELSE t.seg * 2 + 1 END AS seg
             |  FROM seg$p t LEFT JOIN cp$d c USING (seg))""".stripMargin)
      }
    val union = (1 to SegDepth).map(d =>
      s"SELECT $d AS depth, seg, cp_day AS day, n_left, n_right, gain FROM cp$d")
      .mkString("\nUNION ALL\n")
    "WITH " + ctes.mkString(",\n") + "\n" + union + "\nORDER BY depth, day"
  }

  // ----------------------------------------- OLS trend (§8o)

  /** §8o — per-type OLS trend over the hourly count series: slope and
    * intercept of the least-squares line through (hour-index, count),
    * x measured from each type's FIRST active hour so the intercept
    * reads as "level at window start" and the sufficient statistics
    * stay small. The five sufficient sums (n, Σx, Σy, Σx², Σxy) ride
    * the wide-integer lane (decimal(38,0) here, HUGEINT in the
    * oracle — DuckDB decimal math past precision 38 silently degrades
    * to DOUBLE); the ONLY float step is the final correctly-rounded
    * cast-and-divide of two exact integers, then round-6 — the
    * engine-exact float discipline.
    *
    * Scale shape: one corpus groupBy into the (type, hour) table —
    * everything after is per-type arithmetic on calendar-sized rows;
    * the per-type min-hour table is 1-row-per-type and broadcasts.
    * The sums are classic MERGEABLE registers: a streaming or
    * partitioned deployment lands (n, Σx, Σy, Σx², Σxy) per shard and
    * adds them — the spec pins split-merge == whole-corpus. */
  def trendOls(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    trendOlsFrom(Tables(dir).events)
  }

  /** The trend chain on any (event_type, ts) frame — factored out so the
    * mergeability spec can drive corpus splits through it. */
  private[operators] def trendOlsFrom(events: DataFrame): DataFrame = {
    val hourly = events
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("y"))
    val mins = hourly.groupBy("event_type").agg(min(col("h")).as("h0"))
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    hourly.join(broadcast(mins), Seq("event_type"))
      .select(col("event_type"), (col("h") - col("h0")).as("x"), col("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_buckets"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
        sum(d38(col("x") * col("x"))).as("sxx"),
        sum(d38(col("x") * col("y"))).as("sxy"))
      .where(col("n_buckets") >= 2)
      .select(col("event_type"), col("n_buckets"),
        round(expr("CAST(CAST(n_buckets AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)")
          / expr("CAST(CAST(n_buckets AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)"), 6).as("slope"),
        round(expr("CAST(sy * sxx - sx * sxy AS DOUBLE)")
          / expr("CAST(CAST(n_buckets AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)"), 6).as("intercept"))
  }

  private val trendOlsSql =
    """WITH hourly AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |mn AS (SELECT event_type, MIN(h) AS h0 FROM hourly GROUP BY 1),
      |xy AS (SELECT h.event_type, h.h - m.h0 AS x, h.y
      |       FROM hourly h JOIN mn m USING (event_type)),
      |s AS (SELECT event_type, COUNT(*) AS n_buckets,
      |        SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy
      |      FROM xy GROUP BY 1)
      |SELECT event_type, n_buckets,
      |  ROUND(CAST(n_buckets * sxy - sx * sy AS DOUBLE)
      |      / CAST(n_buckets * sxx - sx * sx AS DOUBLE), 6) AS slope,
      |  ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
      |      / CAST(n_buckets * sxx - sx * sx AS DOUBLE), 6) AS intercept
      |FROM s WHERE n_buckets >= 2 ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_trend_ols" -> Q(trendOls _, trendOlsSql, Seq(col("event_type"))),
    "events_cusum_alarm" -> Q(cusumAlarm _, cusumAlarmSql,
      Seq(col("event_type"), col("day"))),
    "events_changepoint" -> Q(changepoint _, changepointSql, Seq(col("day"))),
    "events_forecast_backtest" -> Q(forecastBacktest _, forecastBacktestSql, Seq(col("type"))),
    "events_volume_anomaly" -> Q(volumeAnomaly _, volumeAnomalySql,
      Seq(col("type"), col("day"))),
    "events_growth_accounting" -> Q(growthAccounting _, growthAccountingSql,
      Seq(col("day"))),
    "events_changepoint_tree" -> Q(changepointTree _, changepointTreeSql,
      Seq(col("depth"), col("day"))),
    "events_user_features" -> Q(userFeatures _, userFeaturesSql, Seq(col("user_id"))),
    "events_seasonal_outliers" -> Q(seasonalOutliers _, seasonalOutliersSql,
      Seq(col("event_id"))),
    "events_ewma" -> Q(ewma _, ewmaSql, Seq(col("user_id"), col("event_id"))),
    "events_survival" -> Q(survival _, survivalSql, Seq(col("t_days"))),
    "events_segment_algebra" -> Q(segmentAlgebra _, segmentAlgebraSql,
      Seq(col("has_view"), col("has_purchase"), col("has_error"))),
    "events_path_trigrams" -> Q(pathTrigrams _, pathTrigramsSql,
      Seq(col("n").desc, col("t1"), col("t2"), col("t3"))),
    "events_seasonality" -> Q(seasonality _, seasonalitySql, Seq(col("dow"), col("hod"))),
    "events_heavy_hitters" -> Q(heavyHitters _, heavyHittersSql,
      Seq(col("event_type"), col("user_id"))),
    "events_funnel_windowed" -> Q(funnelWindowed _, funnelWindowedSql),
    "events_attribution_linear" -> Q(attributionLinear _, attributionLinearSql,
      Seq(col("touch_type"))),
    "events_transitions" -> Q(transitions _, transitionsSql, Seq(col("from_type"), col("to_type"))),
    "events_drift_alarm" -> Q(driftAlarms _, driftAlarmsSql, Seq(col("bucket"), col("from_type"), col("to_type"))),
    "events_attribution" -> Q(attribution _, attributionSql, Seq(col("touch_type"))),
    "events_preceding_touches" -> Q(precedingTouches _, precedingTouchesSql,
      Seq(col("user_id"), col("purchase_id"), col("touch_id"))),
    "events_time_to_convert" -> Q(timeToConvert _, timeToConvertSql, Seq(col("bucket_min"))),
    "events_retention" -> Q(retention _, retentionSql, Seq(col("cohort_week"), col("week_offset"))),
    "events_cohort_ltv" -> Q(cohortLtv _, cohortLtvSql, Seq(col("cohort_week"), col("week_offset"))),
    "events_value_outliers" -> Q(valueOutliers _, valueOutliersSql, Seq(col("user_id"), col("event_id"))),
    "events_mad_outliers" -> Q(madOutliers _, madOutliersSql, Seq(col("event_id"))),
    "events_quantile_sketch" -> Q(quantileSketch _, quantileSketchSql,
      Seq(col("event_type"), col("bin"))),
    "events_quantiles_sketch" -> Q(quantilesFromSketch _, quantilesFromSketchSql,
      Seq(col("event_type"), col("q_pm"))),
    "events_rank_corr" -> Q(rankCorrelation _, rankCorrelationSql, Seq(col("event_type"))),
    "events_distinct_sketch" -> Q(distinctSketch _, distinctSketchSql,
      Seq(col("event_type"), col("reg"))),
    "events_distinct_estimate" -> Q(distinctEstimate _, distinctEstimateSql,
      Seq(col("event_type"))),
    "events_uniques_rollup" -> Q(uniquesRollup _, uniquesRollupSql,
      Seq(col("level"), col("key"))),
    "events_ab_test" -> Q(abTest _, abTestSql),
    "events_cuped" -> Q(cuped _, cupedSql, Seq(col("arm"))),
    "events_srm_check" -> Q(srmCheck _, srmCheckSql, Seq(col("day"))),
    "events_trimmed_mean" -> Q(trimmedMean _, trimmedMeanSql, Seq(col("arm"))),
    "events_post_strat" -> Q(postStrat _, postStratSql, Seq(col("arm"))),
    "events_mde" -> Q(mde _, mdeSql, Seq(col("na"))),
    "events_diff_in_diff" -> Q(diffInDiff _, diffInDiffSql, Seq(col("na"))),
    "events_quantile_effects" -> Q(quantileEffects _, quantileEffectsSql, Seq(col("decile"))),
    "events_aa_calibration" -> Q(aaCalibration _, aaCalibrationSql, Seq(col("n1"))),
    "events_ratio_delta" -> Q(ratioDelta _, ratioDeltaSql, Seq(col("arm"))),
    "events_acf" -> Q(acf _, acfSql, Seq(col("k"))),
    "events_msprt" -> Q(msprt _, msprtSql, Seq(col("h"))),
    "events_bootstrap_ci" -> Q(bootstrapCi _, bootstrapCiSql, Seq(col("arm"))),
    "events_time_rollup" -> Q(timeRollup _, timeRollupSql, Seq(col("day"), col("hr"))),
    "events_dau_wau" -> Q(dauWau _, dauWauSql, Seq(col("day"))),
    "events_session_stats" -> Q(sessionStats _, sessionStatsSql, Seq(col("user_id"))),
    "events_funnel" -> Q(funnel _, funnelSql),
    "events_top_users_hourly" -> Q(topUsersHourly _, topUsersHourlySql, Seq(col("hour"), col("rank"))),
  )
}
