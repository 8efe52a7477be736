package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-interval range join (SURVEY §8i(ar)): rows carry interval SETS —
  * a user's session list, an entity's validity windows — and two tables
  * join on "ANY interval of mine overlaps ANY interval of yours", without
  * first exploding every row into one-row-per-interval.
  *
  * Why not pre-explode: an explode-then-[[RangeJoin.overlapPairs]] plan
  * replicates the row PAYLOAD once per interval before the join even
  * starts — a 100-session user carries its columns 100× through the
  * shuffle — and the pair (A,B) then surfaces once per OVERLAPPING
  * interval pair, forcing a distinct over the blown-up join output. Here
  * each row is replicated only once per DISTINCT bin its interval set
  * touches (a slim bin key next to the intact payload, never a payload
  * copy per interval), the per-bin join is an ordinary hash shuffle, and
  * the set-vs-set overlap test runs as ONE codegen higher-order
  * expression per candidate pair. Exactly-once emission uses the same
  * attribution trick as the single-interval join, lifted to sets: a pair
  * is kept only in the bin of the MINIMUM `greatest(a.s, b.s) div width`
  * over its overlapping interval pairs — a bin both rows provably touch —
  * so no downstream dedup of a blown-up intermediate ever runs.
  */
object MultiIntervalJoin {

  /** Overlap pairs of `left` × `right`, one output row per (left-row,
    * right-row) pair whose interval sets intersect. `lIvs` / `rIvs` name
    * columns of type `array<struct<s: long, e: long>>` — inclusive
    * `[s, e]` NON-NEGATIVE long intervals (`div`-binning is floor only
    * for non-negatives), arrays non-empty. All other columns pass
    * through unchanged; working names are derived collision-free, so
    * un-renamed self-joins are safe.
    *
    * COST NOTE: the exactly-once attribution needs the full set-vs-set
    * aggregate at every (pair, shared bin) candidate — O(n·m) per
    * occurrence. Fine for small interval sets; rows carrying dozens of
    * intervals across many shared bins should use
    * [[overlapPairsMultiKeyed]], which detects on bin-local subsets and
    * dedups slim id pairs instead (benched 66× faster at sf0.1). */
  def overlapPairsMulti(left: DataFrame, lIvs: String,
                        right: DataFrame, rIvs: String,
                        binWidth: Long): DataFrame = {
    val n = RangeJoin.fresh((left.columns ++ right.columns).toSet,
      Seq("_bin", "_rbin", "_livs", "_rivs"))
    // per-side temp copies of the interval arrays: the residual must bind
    // through projected columns, never a bare post-join name (self-joins
    // share `lIvs`/`rIvs` spellings)
    def prepped(df: DataFrame, ivs: String, tIvs: String, bin: String) = df
      .withColumn(tIvs, col(ivs))
      .withColumn(bin, explode(array_distinct(flatten(expr(
        s"transform(`$tIvs`, iv -> sequence(iv.s div $binWidth, iv.e div $binWidth))")))))
    val l = prepped(left, lIvs, n("_livs"), n("_bin"))
    val r = prepped(right, rIvs, n("_rivs"), n("_rbin"))
    // min attribution bin over the OVERLAPPING interval pairs (null when
    // the sets don't intersect — which also serves as the overlap test)
    val attr = expr(
      s"""aggregate(
         |  flatten(transform(`${n("_livs")}`, a -> transform(`${n("_rivs")}`, b ->
         |    IF(a.s <= b.e AND b.s <= a.e,
         |       greatest(a.s, b.s) div $binWidth, CAST(NULL AS BIGINT))))),
         |  CAST(NULL AS BIGINT),
         |  (acc, x) -> CASE WHEN x IS NULL THEN acc
         |                   WHEN acc IS NULL THEN x
         |                   WHEN x < acc THEN x ELSE acc END)""".stripMargin)
    l.join(r, l(n("_bin")) === r(n("_rbin")) && attr === l(n("_bin")))
      .drop(n("_bin"), n("_rbin"), n("_livs"), n("_rivs"))
  }

  /** Two-phase keyed variant — the 100 TB form of [[overlapPairsMulti]].
    *
    * The one-phase join evaluates the FULL set-vs-set overlap aggregate
    * once per (pair, shared bin) candidate occurrence: with n intervals
    * per row that is O(n²) work repeated per shared bin, and the r07
    * bench caught it going quadratic-squared at sf0.1 (12.8M occurrences
    * × 64×64 interval pairs ≈ 52G lambda evals, 325 s). This variant
    * splits detection from payload:
    *
    *  1. DETECTION on slim (id, bin, bin-LOCAL interval subset) rows:
    *     each row precomputes, map-side, the subset of its intervals
    *     touching each bin it explodes to. Any truly overlapping interval
    *     pair (a,b) shares the bin of `greatest(a.s, b.s)`, where BOTH
    *     intervals are in the local subsets — so testing only the tiny
    *     local arrays (typically 1×1) at each occurrence finds every
    *     overlapping pair, at O(local²) not O(n²) per occurrence.
    *  2. DISTINCT over the emitted (lId, rId) — exactly-once by
    *     construction, two-long rows, map-side partial dedup; no
    *     attribution arithmetic at all.
    *  3. PAYLOAD re-join of the distinct pairs to both inputs by id.
    */

  /** Slim detection-side index of an interval-set table: one row per
    * (id, touched bin) carrying the bin-LOCAL interval subset —
    * `<prefix>id`, `<prefix>bin`, `<prefix>loc`. Built map-side (no
    * shuffle). */
  private def binIndex(df: DataFrame, ivs: String, id: String,
               binWidth: Long, prefix: String): DataFrame = {
    val x = RangeJoin.fresh(df.columns.toSet, Seq("_x"))("_x")
    df.select(col(id).as(s"${prefix}id"),
        explode(expr(
          s"""transform(
             |  array_distinct(flatten(transform(`$ivs`, iv ->
             |    sequence(iv.s div $binWidth, iv.e div $binWidth)))),
             |  b -> struct(b AS bin,
             |    filter(`$ivs`, iv ->
             |      iv.s div $binWidth <= b AND b <= iv.e div $binWidth) AS loc))""".stripMargin))
          .as(x))
      .select(col(s"${prefix}id"), col(s"$x.bin").as(s"${prefix}bin"), col(s"$x.loc").as(s"${prefix}loc"))
  }

  /** `lId`/`rId` must uniquely key their frames. Callers needing the
    * overlap-pair COUNT compute it post-join — once per TRUE pair, not
    * per candidate. (Full design rationale in the section comment
    * above [[binIndex]].) */
  def overlapPairsMultiKeyed(left: DataFrame, lIvs: String, lId: String,
                             right: DataFrame, rIvs: String, rId: String,
                             binWidth: Long): DataFrame = {
    val n = RangeJoin.fresh((left.columns ++ right.columns).toSet,
      Seq("_l", "_r"))
    val l = binIndex(left, lIvs, lId, binWidth, n("_l"))
    val r = binIndex(right, rIvs, rId, binWidth, n("_r"))
    val (lid, rid) = (s"${n("_l")}id", s"${n("_r")}id")
    val localOverlap = expr(
      s"exists(`${n("_l")}loc`, a -> exists(`${n("_r")}loc`, b -> a.s <= b.e AND b.s <= a.e))")
    val pairs = l.join(r, l(s"${n("_l")}bin") === r(s"${n("_r")}bin") && localOverlap)
      .select(col(lid), col(rid)).distinct()
    val withLeft = pairs.join(left, pairs(lid) === left(lId))
    withLeft.join(right, withLeft(rid) === right(rId))
      .drop(lid, rid)
  }

  /** Whale-bin guard for [[overlapPairsMultiKeyed]] (§8j(at)): the
    * two-phase detection join is quadratic in per-bin occupancy, and one
    * hot wall-clock bin (everyone active during the launch hour) owns
    * the stage at 100 TB. Each bin's PER-SIDE membership is capped to
    * the `cap` rows whose bin-LOCAL intervals start earliest (ties by
    * id) — the same deterministic-undercount contract as every other
    * whale cap in the repo: output is a SUBSET of the uncapped pairs,
    * monotone in `cap`, exact once `cap` covers the max occupancy (all
    * spec-proven). Costs one rank window per side on the bin key the
    * join shuffles on anyway; the payload rejoin is unchanged. */
  def overlapPairsMultiKeyedCapped(left: DataFrame, lIvs: String, lId: String,
                                   right: DataFrame, rIvs: String, rId: String,
                                   binWidth: Long, cap: Int): DataFrame = {
    val n = RangeJoin.fresh((left.columns ++ right.columns).toSet,
      Seq("_lid", "_rid", "_bin", "_rbin", "_loc", "_rloc", "_x", "_rk"))
    def slim(df: DataFrame, ivs: String, id: String, oid: String, bin: String, loc: String) = df
      .select(col(id).as(oid),
        explode(expr(
          s"""transform(
             |  array_distinct(flatten(transform(`$ivs`, iv ->
             |    sequence(iv.s div $binWidth, iv.e div $binWidth)))),
             |  b -> struct(b AS bin,
             |    filter(`$ivs`, iv ->
             |      iv.s div $binWidth <= b AND b <= iv.e div $binWidth) AS loc))""".stripMargin))
          .as(n("_x")))
      .select(col(oid), col(s"${n("_x")}.bin").as(bin), col(s"${n("_x")}.loc").as(loc))
      .withColumn(n("_rk"), org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(bin))
          .orderBy(expr(s"aggregate(`$loc`, CAST(NULL AS BIGINT), (acc, x) -> " +
            "CASE WHEN acc IS NULL OR x.s < acc THEN x.s ELSE acc END)"), col(oid))))
      .where(col(n("_rk")) <= cap).drop(n("_rk"))
    val l = slim(left, lIvs, lId, n("_lid"), n("_bin"), n("_loc"))
    val r = slim(right, rIvs, rId, n("_rid"), n("_rbin"), n("_rloc"))
    val localOverlap = expr(
      s"exists(`${n("_loc")}`, a -> exists(`${n("_rloc")}`, b -> a.s <= b.e AND b.s <= a.e))")
    val pairs = l.join(r, l(n("_bin")) === r(n("_rbin")) && localOverlap)
      .select(col(n("_lid")), col(n("_rid"))).distinct()
    val withLeft = pairs.join(left, pairs(n("_lid")) === left(lId))
    withLeft.join(right, withLeft(n("_rid")) === right(rId))
      .drop(n("_lid"), n("_rid"))
  }

  /** Whale-bin guard for [[overlapPairsMulti]]: each bin's PER-SIDE
    * membership is capped to the `cap` rows with the earliest minimum
    * interval start (ties by the caller's `lId`/`rId`) — the same
    * deterministic-undercount contract as [[RangeJoin.overlapPairsCapped]]
    * and the LSH whale-bucket cap. The per-bin join is quadratic in bin
    * occupancy, and at 100 TB one hot wall-clock hour (everyone's session
    * list touches the product-launch bin) otherwise owns the stage.
    * Output is a deterministic SUBSET of the uncapped pairs — never an
    * invention — and cap ≥ max occupancy recovers exactness (both
    * spec-proven). Costs one rank window per side, keyed on the bin the
    * join shuffles on anyway. */
  def overlapPairsMultiCapped(left: DataFrame, lIvs: String, lId: String,
                              right: DataFrame, rIvs: String, rId: String,
                              binWidth: Long, cap: Int): DataFrame = {
    val n = RangeJoin.fresh((left.columns ++ right.columns).toSet,
      Seq("_bin", "_rbin", "_livs", "_rivs", "_rk", "_minS"))
    def prepped(df: DataFrame, ivs: String, id: String, tIvs: String, bin: String) = df
      .withColumn(tIvs, col(ivs))
      .withColumn(bin, explode(array_distinct(flatten(expr(
        s"transform(`$tIvs`, iv -> sequence(iv.s div $binWidth, iv.e div $binWidth))")))))
      .withColumn(n("_minS"), expr(
        s"aggregate(`$tIvs`, CAST(NULL AS BIGINT), (acc, x) -> " +
          "CASE WHEN acc IS NULL OR x.s < acc THEN x.s ELSE acc END)"))
      .withColumn(n("_rk"), org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(bin))
          .orderBy(col(n("_minS")), col(id))))
      .where(col(n("_rk")) <= cap).drop(n("_rk"), n("_minS"))
    val l = prepped(left, lIvs, lId, n("_livs"), n("_bin"))
    val r = prepped(right, rIvs, rId, n("_rivs"), n("_rbin"))
    val attr = expr(
      s"""aggregate(
         |  flatten(transform(`${n("_livs")}`, a -> transform(`${n("_rivs")}`, b ->
         |    IF(a.s <= b.e AND b.s <= a.e,
         |       greatest(a.s, b.s) div $binWidth, CAST(NULL AS BIGINT))))),
         |  CAST(NULL AS BIGINT),
         |  (acc, x) -> CASE WHEN x IS NULL THEN acc
         |                   WHEN acc IS NULL THEN x
         |                   WHEN x < acc THEN x ELSE acc END)""".stripMargin)
    l.join(r, l(n("_bin")) === r(n("_rbin")) && attr === l(n("_bin")))
      .drop(n("_bin"), n("_rbin"), n("_livs"), n("_rivs"))
  }

  /** Overlapping stays: user pairs whose gap-based sessions ("stays")
    * overlap in wall-clock time — the concurrent-sessions question asked
    * at USER grain, where each user's whole session LIST is one row's
    * interval set. Counts the overlapping session pairs per user pair.
    * The session build is persisted once and read by both self-join
    * sides (the [[RangeJoin.concurrentSessions]] discipline); the join
    * is the two-phase keyed form, so the quadratic count expression
    * runs once per TRUE pair (141k at sf0.1), not per candidate
    * occurrence (12.8M). */
  def overlappingStays(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.plans.VectorExpressions.register(spark)
    val sess = CsrQueries.eventsSessionize(spark, dir)
      .select(col("user_id"),
        struct(unix_micros(col("session_start")).as("s"),
          unix_micros(col("session_end")).as("e")).as("iv"))
      .groupBy(col("user_id")).agg(sort_array(collect_list(col("iv"))).as("ivs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(Cached.track)
    val a = sess.toDF("a_user", "a_ivs")
    val b = sess.toDF("b_user", "b_ivs")
    // r12 measured REJECTION: a count-at-detection form (exactly-once bin
    // attribution summed inside the detection join, payload re-join
    // deleted) was built and benched at 34.6 s fresh-JVM sf1 vs 23.8 s
    // for this form — the attribution arithmetic runs on EVERY candidate
    // occurrence (Σ occupancy², no short-circuit) while exists() exits on
    // the first overlapping local pair, and that dominates the payload
    // shuffle it saved. Detection stays exists(); the count runs once per
    // TRUE pair below.
    overlapPairsMultiKeyed(a, "a_ivs", "a_user", b, "b_ivs", "b_user", HourUs)
      .where(col("a_user") < col("b_user"))
      // per-pair overlap count via the codegen two-pointer kernel
      // (b_ivs is sort_array-built, satisfying the sorted-right contract);
      // the lambda formulation pays ~200 ns per of the n·m pair evals
      .select(col("a_user"), col("b_user"),
        graft.plans.VectorExpressions.intervalOverlapCount(col("a_ivs"), col("b_ivs"))
          .as("n_overlap_pairs"))
  }

  /** §8j(au) — as-of over interval SETS: for each probe instant, the
    * latest interval of the probed key starting at-or-before it — the
    * point-in-time-enrich shape lifted to session lists. One equi-join
    * on the key (no range explode at all: the per-row set is bounded, so
    * the as-of resolution is a single-pass fold over the sorted array,
    * inside codegen), then `in_stay` says whether the instant falls
    * INSIDE that stay or in the gap after it. Probes = every 20th event
    * (deterministic sample, the events_asof_view convention); inner
    * semantics — probes before their user's first stay drop. */
  def asofStay(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    val stays = CsrQueries.eventsSessionize(spark, dir)
      .select(col("user_id"),
        struct(unix_micros(col("session_start")).as("s"),
          unix_micros(col("session_end")).as("e")).as("iv"))
      .groupBy(col("user_id")).agg(sort_array(collect_list(col("iv"))).as("ivs"))
    val probes = t.events
      .where(col("event_id") % 20 === 0)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
    probes.join(stays, Seq("user_id"))
      .withColumn("stay", expr(
        """aggregate(ivs, CAST(NULL AS STRUCT<s: BIGINT, e: BIGINT>),
          |  (acc, iv) -> IF(iv.s <= t AND (acc IS NULL OR iv.s > acc.s), iv, acc))""".stripMargin))
      .where(col("stay").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("stay.s").as("stay_s"), col("stay.e").as("stay_e"),
        (col("t") <= col("stay.e")).as("in_stay"))
  }

  private val asofStaySql =
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
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, session_seq,
      |    epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
      |  FROM numbered GROUP BY 1, 2),
      |probes AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
      |  FROM events WHERE event_id % 20 = 0)
      |SELECT p.event_id, p.user_id, s.s_us AS stay_s, s.e_us AS stay_e,
      |  p.t <= s.e_us AS in_stay
      |FROM probes p JOIN sess s
      |  ON s.user_id = p.user_id AND s.s_us <= p.t
      |QUALIFY row_number() OVER (PARTITION BY p.event_id ORDER BY s.s_us DESC) = 1
      |ORDER BY event_id""".stripMargin

  private val HourUs = 3600000000L

  private val overlappingStaysSql =
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
      |sess AS (
      |  SELECT user_id, session_seq,
      |    epoch_us(MIN(ts)) AS s, epoch_us(MAX(ts)) AS e
      |  FROM numbered GROUP BY user_id, session_seq)
      |SELECT a.user_id AS a_user, b.user_id AS b_user,
      |  COUNT(*) AS n_overlap_pairs
      |FROM sess a JOIN sess b
      |  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Partners surfaced per user in the co-presence serving view. */
  private val CopresenceK = 5

  /** r13 (verdict #1) — the overlapping-stays PAIR TABLE as a staged
    * artifact, content-signature gated on the events table (the
    * `stagedAdj` / `stagedSigs` discipline): the ~quadratic
    * session-pair aggregate is paid once per corpus state, and every
    * serving read over the pair table ([[copresenceTopK]], any future
    * co-presence view) is a parquet scan of a frame that is bounded by
    * the TRUE pair count — never a rebuild of the detection join. The
    * audit query `events_overlapping_stays` stays an inline
    * computation by design (it IS the definition the stage persists,
    * and its fresh-JVM sf1 cost was adjudicated output-bound in r12);
    * a new drop invalidates the signature and the next serving read
    * rebuilds. */
  private[operators] def stagedStayPairs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val path = Stage.path("staypairs", dir, "events")(overlappingStays(spark, dir).write.parquet(_))
    Cached.track(Stage.read(spark, path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** §8y(ei) r12 — CO-PRESENCE TOP-K: for each user, the
    * [[CopresenceK]] partners whose stays overlap theirs the most
    * (ties by partner id) — the SERVING shape of
    * [[overlappingStays]]. The full pair table is the audit artifact
    * (42M rows at sf1 — nobody pages through it); the deployment
    * question is "who shares sessions with THIS user", and its answer
    * is |users|·K rows however dense the corpus gets. r13: reads the
    * pair table from [[stagedStayPairs]] — the serving view no longer
    * re-materializes the quadratic overlapping-stays intermediate per
    * run (46.5 s at sf1 in r12; staged, the read + directed union +
    * bounded-heap top-k is seconds). Output stays linear in |users|
    * while the pair table it summarizes grows ~quadratically with
    * co-presence density — the same output-taming move as
    * `graph_resource_allocation`'s RaTopK. */
  def copresenceTopK(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // stagedStayPairs reads the stage via Stage.read: the table is
    // BYTE-slim (~28 MB for 14M pairs at sf1 — three longs a row), so the
    // default 128 MB split packed the scan into 1–2 tasks and EVERYTHING
    // downstream (the union's exchange map side, the top-k partial heaps,
    // even the CACHED partitioning) ran near-serial however the later
    // plan was partitioned — measured 15.5 s persisted, 14.8 unpersisted,
    // 16.7 with a post-scan repartition, all scan-bound; artifact-sized
    // splits read 8.6 s fresh-JVM min-of-3 at sf1 (the residual is the
    // heap pass over the 2|pairs| directed rows, now fully parallel).
    val pairs = stagedStayPairs(spark, dir)
    val directed = pairs
      .select(col("a_user").as("user_id"), col("b_user").as("partner"), col("n_overlap_pairs"))
      .unionByName(pairs.select(col("b_user").as("user_id"), col("a_user").as("partner"),
        col("n_overlap_pairs")))
    // the heap ranks on double (exact for counts ≪ 2^53); output keeps long.
    // Explicit hash-repartition on the key: the staged pair table is SLIM
    // (~28 MB for 14M pairs at sf1), so the scan packs into 1–2 input
    // tasks and the whole 2|pairs|-row heap pass would run near-serial;
    // the repartition spreads the partial heaps evenly whatever the
    // stage's file layout AND satisfies the final exec's
    // ClusteredDistribution, so it is the plan's only exchange.
    TopK.perKeyExec(directed.select(col("user_id"), col("partner"),
        col("n_overlap_pairs").cast("double").as("score"))
        .repartition(col("user_id")),
        "user_id", "score", "partner", CopresenceK)
      .select(col("user_id"), col("rank"), col("partner"),
        col("score").cast("long").as("n_overlap_pairs"))
  }

  private val copresenceTopKSql =
    s"""WITH e AS (
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
       |sess AS (
       |  SELECT user_id, session_seq,
       |    epoch_us(MIN(ts)) AS s, epoch_us(MAX(ts)) AS e
       |  FROM numbered GROUP BY user_id, session_seq),
       |pairs AS (
       |  SELECT a.user_id AS a_user, b.user_id AS b_user,
       |    COUNT(*) AS n_overlap_pairs
       |  FROM sess a JOIN sess b
       |    ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
       |  GROUP BY 1, 2),
       |directed AS (
       |  SELECT a_user AS user_id, b_user AS partner, n_overlap_pairs FROM pairs
       |  UNION ALL
       |  SELECT b_user, a_user, n_overlap_pairs FROM pairs)
       |SELECT user_id, rank, partner, n_overlap_pairs FROM (
       |  SELECT user_id, partner, n_overlap_pairs,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY n_overlap_pairs DESC, partner) AS rank
       |  FROM directed) x
       |WHERE rank <= $CopresenceK
       |ORDER BY user_id, rank""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_overlapping_stays" -> Q(overlappingStays _, overlappingStaysSql,
      Seq(col("a_user"), col("b_user"))),
    "events_copresence_topk" -> Q(copresenceTopK _, copresenceTopKSql,
      Seq(col("user_id"), col("rank"))),
    "events_asof_stay" -> Q(asofStay _, asofStaySql, Seq(col("event_id"))),
  )
}
