package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the co-purchase graph (parts linked when the same
  * order contains both). The interesting operator is triangle counting —
  * the classic "your first shuffle explodes" problem: a naive wedge join
  * generates Σ deg(v)² candidates, which a few whale SKUs turn into
  * billions. The fix is the standard degree-ordered orientation
  * (Suri & Vassilvitskii, WWW'11): orient every edge from its
  * lower-(degree, id) endpoint to the higher one — every triangle then
  * has exactly ONE source generating it, and per-source out-degree is
  * O(√|E|), so the wedge set stays near-linear. Both engines run the
  * identical orientation, so counts match row-for-row. */
object GraphQueries {

  /** Distinct co-purchase edges (a < b). Lineitem is shuffled ONCE — a
    * per-order `collect_set` (with map-side partial aggregation) builds the
    * sorted part array, and the a<b pairs explode MAP-SIDE from that array
    * before the final pair-distinct. The earlier self-join formulation
    * shuffled lineitem through both join sides; at 100 TB that is the
    * difference between one pass over the fact table and two. The per-order
    * pair explosion is bounded by order size (≤ 7 lines in this schema; a
    * real catalog would cap or sample whale orders the same way the LSH
    * family caps whale buckets).
    *
    * The edge table is PERSISTED (memory, disk spill): the triangle plan
    * consumes it from three branches (degree count, orientation, closing-
    * edge probe), and without materialization each branch re-derives it
    * from the fact table — seven lineitem scans in the executed plan. At
    * 100 TB the edge list is the graph's first-class dataset; you build it
    * once and every downstream pass reads the materialization. */
  private def edges(t: Tables): DataFrame = {
    val parts = t.lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    // sorted + deduped array → (x, y) with x earlier than y IS pa < pb
    parts
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps) - i - 1), y -> struct(x AS pa, y AS pb))))"))
        .as("e"))
      .select(col("e.pa").as("pa"), col("e.pb").as("pb")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(Cached.track)
  }

  /** Ordered pairs (x earlier than y) exploded map-side from a sorted,
    * deduped array column — the shared shuffle-free pair generator behind
    * both the co-purchase edge build and the wedge build. */
  private def sortedPairs(arr: String, a: String, b: String) =
    explode(expr(
      s"flatten(transform($arr, (x, i) -> " +
        s"transform(slice($arr, i + 2, size($arr) - i - 1), y -> struct(x AS $a, y AS $b))))"))

  /** Oriented adjacency: per-source SORTED neighbor array (one shuffle of
    * the oriented edge set). Wedges then explode map-side — the same
    * array-pair trick as [[edges]], replacing a self-join that shuffled
    * the oriented edges twice. `cap` keeps only the cap lowest-id
    * neighbors (a slice of the sorted array — the whale-degree guard,
    * previously a window rank costing its own shuffle+sort). */
  private def wedges(oriented: DataFrame, cap: Int): DataFrame = {
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_set(col("dst"))).as("ns"))
    val capped = if (cap == Int.MaxValue) adj else adj.withColumn("ns", slice(col("ns"), 1, cap))
    capped
      .select(col("src"), sortedPairs("ns", "d1", "d2").as("w"))
      .select(col("src"), col("w.d1").as("d1"), col("w.d2").as("d2"))
  }

  /** Per-part triangle participation, top 100 by count — the EDGE-ITERATOR
    * form over the degree-ordered orientation: the acyclic orientation
    * gives every triangle a unique apex edge (a→b with a→c, b→c), so
    * triangles per edge (a,b) are exactly |N⁺(a) ∩ N⁺(b)|, computed
    * MAP-SIDE by intersecting the two endpoints' sorted adjacency arrays.
    * The Σdeg² wedge set — 41M rows at sf0.1, the dominant shuffle of the
    * earlier wedge-join form — is never materialized.
    *
    * Shuffle ledger: edge build (1 on orderkey), degree count (1 on node),
    * degree + adjacency joins (broadcast — both are |parts|-row tables;
    * the orientation bounds each adjacency array near √|E|, so the
    * adjacency table is |V|·O(√|E|) and broadcastable far beyond this
    * schema; if |V| outgrows the ceiling, the same joins run shuffled on
    * the |E|-row edge table — still never on wedges), corner rollup (1). */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r14: the whole orientation + adjacency + intersect front comes from
    // the shared staged apex-edge frame ([[stagedTriEdges]]); per-part
    // participation is one explode over it — a row (src, dst, tris)
    // contributes |tris| to src and dst and 1 to each closing node.
    val perPart = stagedTriEdges(spark, dir)
      .select(explode(concat(col("tris"),
        array_repeat(col("src"), size(col("tris"))),
        array_repeat(col("dst"), size(col("tris"))))).as("p_partkey"))
      .groupBy("p_partkey").agg(count(lit(1)).as("n_triangles"))
    perPart.orderBy(col("n_triangles").desc, col("p_partkey")).limit(100)
  }

  /** §8g(af) — whale-degree guard: cap each source's oriented adjacency
    * to its `cap` lowest-id neighbors before the wedge join. The
    * orientation already bounds out-degree near √|E|, but a pathological
    * hub (every order contains SKU X) can still blow the wedge set; the
    * cap makes the worst case cap²·|V| with a DOCUMENTED undercount —
    * the same honest trade as the LSH family's whale-bucket cap. Counts
    * are a lower bound; cap = Int.MaxValue recovers exact (spec-pinned
    * both ways). */
  def trianglesCapped(spark: SparkSession, dir: String, cap: Int): DataFrame = {
    implicit val s: SparkSession = spark
    // r14: edges + degrees come from the staged family frames (the last
    // deployment-tier query still paying the inline fact-table self-join
    // per run — 18.3 s of its r13 sf1 reading was that rebuild). The
    // staged edge list is distinct pairs and degFromAdj counts distinct
    // neighbors, so both equal the inline builds they replace.
    val nodeDomain = Tables(dir).part.count()
    val e = stagedEdges(spark, dir)
    val deg = degFromAdj(stagedAdj(spark, dir))
    val withDeg = e
      .join(gatedBroadcast(deg.toDF("pa", "deg_a"), nodeDomain), Seq("pa"))
      .join(gatedBroadcast(deg.toDF("pb", "deg_b"), nodeDomain), Seq("pb"))
    val oriented = withDeg.select(
      when(col("deg_a") < col("deg_b")
        || (col("deg_a") === col("deg_b") && col("pa") < col("pb")), col("pa"))
        .otherwise(col("pb")).as("src"),
      when(col("deg_a") < col("deg_b")
        || (col("deg_a") === col("deg_b") && col("pa") < col("pb")), col("pb"))
        .otherwise(col("pa")).as("dst"))
    val w = wedges(oriented, cap)
    val tri = w.join(e, w("d1") === e("pa") && w("d2") === e("pb"))
      .select(col("src"), col("d1"), col("d2"))
    tri.select(explode(array(col("src"), col("d1"), col("d2"))).as("p_partkey"))
      .groupBy("p_partkey").agg(count(lit(1)).as("n_triangles"))
  }

  private val trianglesSql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) n GROUP BY 1),
      |oriented AS (
      |  SELECT
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb) THEN pa ELSE pb END AS src,
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb) THEN pb ELSE pa END AS dst
      |  FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb),
      |wedges AS (
      |  SELECT w1.src, w1.dst AS d1, w2.dst AS d2
      |  FROM oriented w1 JOIN oriented w2 ON w1.src = w2.src AND w1.dst < w2.dst),
      |tri AS (
      |  SELECT w.src, w.d1, w.d2
      |  FROM wedges w JOIN e ON e.pa = w.d1 AND e.pb = w.d2),
      |corners AS (
      |  SELECT p_partkey, COUNT(*) AS n_triangles FROM (
      |    SELECT src AS p_partkey FROM tri
      |    UNION ALL SELECT d1 FROM tri
      |    UNION ALL SELECT d2 FROM tri) c GROUP BY 1)
      |SELECT p_partkey, n_triangles FROM corners
      |ORDER BY n_triangles DESC, p_partkey LIMIT 100""".stripMargin

  /** Registered capped variant (cap = 8): the whale-guard semantics are
    * fully deterministic (lowest-id neighbors survive), so the oracle
    * mirrors the cap with the same ROW_NUMBER and the undercount is
    * itself verified row-for-row. */
  private val CapK = 8

  private def trianglesCappedSql(cap: Int) =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) n GROUP BY 1),
       |oriented0 AS (
       |  SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb) THEN pa ELSE pb END AS src,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb) THEN pb ELSE pa END AS dst
       |  FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb),
       |oriented AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
       |    FROM oriented0) x WHERE rn <= $cap),
       |wedges AS (
       |  SELECT w1.src, w1.dst AS d1, w2.dst AS d2
       |  FROM oriented w1 JOIN oriented w2 ON w1.src = w2.src AND w1.dst < w2.dst),
       |tri AS (
       |  SELECT w.src, w.d1, w.d2
       |  FROM wedges w JOIN e ON e.pa = w.d1 AND e.pb = w.d2),
       |corners AS (
       |  SELECT p_partkey, COUNT(*) AS n_triangles FROM (
       |    SELECT src AS p_partkey FROM tri
       |    UNION ALL SELECT d1 FROM tri
       |    UNION ALL SELECT d2 FROM tri) c GROUP BY 1)
       |SELECT p_partkey, n_triangles FROM corners
       |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------ PageRank

  private val PrScale = 1000000000000L // ranks carried as r × 10^12
  private val PrIters = 4

  /** Integer-exact PageRank over the (symmetrized) co-purchase graph —
    * Pregel-by-join: each iteration is ONE message shuffle (ranks join
    * the degree-annotated edge list, contributions aggregate on the
    * destination). Ranks are scaled bigints and every operation is
    * integer (`div` truncation, damping multiplied through as 85/100),
    * so a 1000-executor run, this run, and the oracle produce identical
    * bits — no floating-point summation-order drift, the same discipline
    * as the decimal money sums.
    *
    * Per-iteration cost at 100 TB: the edge list is the big side and is
    * hash-partitioned once on src (persisted); ranks are |V|-row and
    * re-shuffle per iteration (AQE broadcasts them while they fit — at
    * this scale they always do; beyond, the join runs co-partitioned on
    * the persisted edge hash). Messages aggregate with map-side partial
    * sums. Unnormalized start (PrScale per node) keeps the fixpoint
    * ranking identical to 1/N initialization at iteration ∞ and avoids
    * an integer division by |V| up front. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    pagerankFrom(edges(Tables(dir)))
  }

  /** The co-purchase edge list as a staged dataset (§8i(an)) — the
    * graphs' encode-once discipline, same content-signature gate as the
    * ANN indices: triangles, PageRank, BFS and any future graph pass read
    * the materialization instead of re-deriving it from the fact table
    * per run. An unchanged lineitem is a no-op; a new drop rebuilds. */
  private def edgesStage(spark: SparkSession, dir: String): String =
    Stage.path("edges", dir, "lineitem")(edges(Tables(dir)(spark)).write.parquet(_))

  private[operators] def stagedEdges(spark: SparkSession, dir: String): DataFrame =
    Cached.track(graft.sources.Tables.relationAt(spark, edgesStage(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** r12 (verdict #4) — the graph family's SHARED derived frame: the
    * symmetric ADJACENCY (node, sorted-distinct neighbor array), staged
    * once per corpus state behind the same content-signature gate as
    * [[stagedEdges]]. Six of r11's ten slowest sf0.1 deployment rows were
    * graph fixed-point queries each rebuilding symmetrized/degree-
    * annotated adjacency from the edge list per query; every one of
    * those derivatives is a NARROW map over this one frame:
    *   sym     = explode(ns)            — no union-of-two-scans, no shuffle
    *   degrees = size(ns)               — no |E| groupBy per query
    *   symDeg  = explode(ns) + size(ns) — no sym⋈deg join per query
    *   nodes   = node                   — no distinct per query
    * Whale note: one row per node, array length = degree — the same
    * bound the per-query collect_set builds already carried; consumers
    * with whale caps ([[jaccardNeighborsCapped]], [[resourceAllocation]])
    * slice AFTER the read, so one staged artifact serves every cap. */
  private[operators] def stagedAdj(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Stage.cached(spark, "gadj", dir, "lineitem") {
      val e = stagedEdges(spark, dir)
      e.select(col("pa").as("node"), col("pb").as("dst"))
        .unionByName(e.select(col("pb").as("node"), col("pa").as("dst")))
        .groupBy("node").agg(sort_array(collect_set(col("dst"))).as("ns"))
    }
  }

  /** Symmetric edge list derived narrowly from [[stagedAdj]]. */
  private[operators] def symFromAdj(adj: DataFrame): DataFrame =
    adj.select(col("node").as("src"), explode(col("ns")).as("dst"))

  /** Per-node degree derived narrowly from [[stagedAdj]] (degree =
    * #distinct neighbors = array length; the edge list is distinct pairs
    * so this equals the per-query explode-groupBy builds it replaces). */
  private[operators] def degFromAdj(adj: DataFrame): DataFrame =
    adj.select(col("node"), size(col("ns")).cast("long").as("deg"))

  /** r14 (verdict #3) — the shared per-APEX-EDGE triangle frame: for each
    * degree-ordered oriented edge (src, dst), the closing nodes
    * N⁺(src) ∩ N⁺(dst) as an array (edges with no closing node are
    * dropped — neither consumer reads them). The acyclic orientation
    * gives every triangle exactly ONE apex edge, so each triangle appears
    * in exactly one row; `graph_triangles`' per-part rollup is an
    * explode over these rows and `graph_transitivity`'s global count is
    * Σ size — both previously re-ran the orientation + oriented-adjacency
    * build + map-side intersect per query (the two heaviest rows of the
    * sf1 graph family, 23.7 + 11.6 s). Content-gated on the fact table
    * like [[stagedEdges]]/[[stagedAdj]]; the frame is |apex edges with
    * triangles| rows with arrays bounded by the orientation's ~√|E|
    * out-degree, so it stays a small fraction of the edge list. */
  private[operators] def stagedTriEdges(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Stage.cached(spark, "gtri", dir, "lineitem") {
      val nodeDomain = Tables(dir).part.count()
      val e = stagedEdges(spark, dir)
      val deg = degFromAdj(stagedAdj(spark, dir))
      val withDeg = e
        .join(gatedBroadcast(deg.toDF("pa", "deg_a"), nodeDomain), Seq("pa"))
        .join(gatedBroadcast(deg.toDF("pb", "deg_b"), nodeDomain), Seq("pb"))
      val oriented = withDeg.select(
        when(col("deg_a") < col("deg_b")
          || (col("deg_a") === col("deg_b") && col("pa") < col("pb")), col("pa"))
          .otherwise(col("pb")).as("src"),
        when(col("deg_a") < col("deg_b")
          || (col("deg_a") === col("deg_b") && col("pa") < col("pb")), col("pb"))
          .otherwise(col("pa")).as("dst"))
      val adj = oriented.groupBy(col("src"))
        .agg(sort_array(collect_set(col("dst"))).as("ns"))
      oriented
        .join(gatedBroadcast(adj.toDF("src", "ns_a"), nodeDomain), Seq("src"))
        .join(gatedBroadcast(adj.select(col("src").as("dst"), col("ns").as("ns_b")),
          nodeDomain), Seq("dst"))
        .select(col("src"), col("dst"),
          array_intersect(col("ns_a"), col("ns_b")).as("tris"))
        .where(size(col("tris")) > 0)
    }
  }

  /** PageRank served from the staged adjacency (edge build AND the
    * symmetrize/degree-annotate pass paid once per corpus state, not per
    * query — the ann_*_served precedent). */
  def pagerankServed(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val adj = stagedAdj(spark, dir)
    pagerankCore(
      adj.select(col("node").as("src"), size(col("ns")).cast("long").as("outdeg"),
        explode(col("ns")).as("dst")),
      degFromAdj(adj).select(col("node").as("src")))
  }

  private def pagerankFrom(e: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("outdeg"))
    pagerankCore(sym.join(deg, "src"), deg.select("src"))
  }

  /** The PageRank fixpoint over a degree-annotated symmetric edge frame
    * (src, outdeg, dst) and the node domain — shared by the full-build
    * demonstration ([[pagerank]]) and the staged-adjacency serving path
    * ([[pagerankServed]]); only the PREAMBLE differs. */
  private def pagerankCore(symDegIn: DataFrame, nodes: DataFrame)
      (implicit spark: SparkSession): DataFrame = {
    // Deliberately NOT pre-partitioned on dst: the per-iteration Exchange
    // is cheap because it carries map-side PARTIAL sums (≤ partitions·|V|
    // rows, not |E| messages), while a dst repartition of the full edge
    // list at cache build is a real |E| shuffle — and under AQE a cached
    // relation does not expose its partitioning at planning time, so the
    // iteration aggs re-add their ENSURE_REQUIREMENTS exchange anyway
    // (measured: the repartition made the query ~15% slower, r05d).
    val symDeg = Cached.track(symDegIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val teleport = PrScale * 15L / 100L
    var ranks = nodes.select(col("src").as("node"), lit(PrScale).as("r"))
    for (_ <- 1 to PrIters) {
      ranks = symDeg
        .join(ranks, symDeg("src") === ranks("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("insum"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr("(85 * insum) div 100")).as("r"))
    }
    ranks
      .select(col("node").as("p_partkey"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("p_partkey"))
      .limit(50)
  }

  /** §8n(cj) — PERSONALIZED PageRank (PPR): the same integer-exact power
    * iteration as [[pagerank]], but probability teleports back to a SEED
    * SET (parts with p_partkey % 100 == 0 — the deterministic-sample
    * convention) instead of everywhere. The result ranks the graph BY
    * RELEVANCE TO THE SEEDS — the "customers who bought these also
    * bought" engine behind item-to-item recommendation, where global
    * PageRank just re-finds the bestsellers. Identical arithmetic lane:
    * scaled-integer ranks, truncating div, zero floats — bit-equal on
    * any executor count. Non-seeds start at 0 and receive no teleport;
    * mass drains through dangling truncation exactly as the global
    * variant's, so ranks are comparable across runs.
    *
    * Scale shape: the [[pagerank]] iteration economics unchanged — one
    * partial-agg exchange per round over the persisted degree-annotated
    * edge list. */
  def pagerankPersonalized(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r12: preamble served from the staged adjacency — symDeg and the
    // node domain are narrow maps over one shared frame, not a per-query
    // union + |E| groupBy + join (verdict #4)
    val adj = stagedAdj(spark, dir)
    val symDeg = Cached.track(
      adj.select(col("node").as("src"), size(col("ns")).cast("long").as("outdeg"),
        explode(col("ns")).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val teleport = PrScale * 15L / 100L
    var ranks = adj.select(col("node"),
      when(col("node") % 100 === 0, lit(PrScale)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to PrIters) {
      ranks = symDeg
        .join(ranks, symDeg("src") === ranks("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("insum"))
        .select(col("dst").as("node"),
          (when(col("dst") % 100 === 0, lit(teleport)).otherwise(lit(0L))
            + expr("(85 * insum) div 100")).as("r"))
    }
    ranks
      .select(col("node").as("p_partkey"), col("r").as("ppr_scaled"))
      .orderBy(col("ppr_scaled").desc, col("p_partkey"))
      .limit(50)
  }

  private val pagerankPersonalizedSql = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT sd.dst AS node,
         |    CAST(CASE WHEN sd.dst % 100 = 0 THEN ${PrScale * 15L / 100L} ELSE 0 END
         |      + (85 * SUM(r // outdeg)) // 100 AS BIGINT) AS r
         |  FROM sd JOIN $prev p ON sd.src = p.node GROUP BY sd.dst)"""
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src),
       |sd AS (SELECT s.src, s.dst, d.outdeg FROM sym s JOIN deg d ON s.src = d.src),
       |r0 AS (SELECT src AS node,
       |       CAST(CASE WHEN src % 100 = 0 THEN $PrScale ELSE 0 END AS BIGINT) AS r FROM deg),
       |${(1 to PrIters).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")}
       |SELECT node AS p_partkey, r AS ppr_scaled
       |FROM r$PrIters
       |ORDER BY ppr_scaled DESC, p_partkey LIMIT 50""".stripMargin
  }

  // ------------------------------------------- Connected components (§8k)

  /** Support threshold for the co-purchase BACKBONE: keep a pair only when
    * it co-occurs in ≥ MinSupport orders. The full co-purchase graph is one
    * giant component at every scale (every part links to something), which
    * makes component analysis vacuous; the backbone is the graph analysts
    * actually cluster on, and it fragments into real components. */
  private val MinSupport = 2

  /** Backbone edges (pa < pb, co-occurrence count ≥ MinSupport). Same
    * single-shuffle array-pair build as [[edges]], then a pair-keyed count —
    * per-order pair explosion stays map-side; the only shuffles are the
    * per-order set build and the pair count. */
  private def backbone(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(sortedPairs("ps", "pa", "pb").as("e"))
      .select(col("e.pa").as("pa"), col("e.pb").as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n"))
      .filter(col("n") >= MinSupport)
      .select(col("pa").as("u"), col("pb").as("v"), col("n"))

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): every node connects its LARGER
    * neighbors to the minimum of its closed neighborhood. The min table is
    * |V| rows (broadcastable); the only |E|-sized shuffle is the
    * neighborhood groupBy. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(m, "u").filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")).distinct()
  }

  /** One small-star round: input edges are oriented high→low (largeStar
    * only emits (v, m) with v > m), so each node's neighbors are all
    * smaller; connect them (and itself) to the minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("u").agg(min(col("v")).as("m"))
    e.join(m, "u").filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(m.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** §8k(ay) — connected components of the support-[[MinSupport]] backbone
    * by alternating large-star/small-star contraction. Converges in
    * O(log²) rounds INDEPENDENT of graph diameter — the property that
    * matters at 100 TB, where min-label flooding pays one round per
    * diameter hop but star contraction squares the stars each round.
    * Convergence is checked semantically (a star forest has no node that
    * is both a parent and a child), one bounded semi-join per round; every
    * label move is monotone decreasing, so the check is also a fixpoint
    * proof. Output: one row per component (id = min member, size).
    *
    * Reference anchor: the CSR entity-graph integrity checks
    * (`csr2transmart` relation validation) stop at direct references;
    * components are the transitive closure of the same relation graph. */
  /** The staged support-thresholded backbone (same content-signature
    * discipline as [[stagedEdges]] — the pair-count build is paid once
    * per corpus state). */
  private def stagedBackbone(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // "w" suffix: the artifact gained the support column (n) — a new stage
    // name, because Stage signatures track the SOURCE, not the builder,
    // and a schema change must not serve a stale artifact
    Stage.parquet(spark, "backbonew", dir, "lineitem") {
      backbone(Tables(dir))
    }
  }

  /** The contraction loop on any (u, v) edge frame → the converged star
    * mapping (child, root). Factored out so INCREMENTAL maintenance can
    * re-enter it: a star forest plus a few new edges is already near the
    * fixpoint, so [[absorbComponents]] converges in O(1) rounds.
    *
    * Each round's plan references the previous round's frame several
    * times (sym union + min-table joins), so carrying lineage across
    * rounds grows the LOGICAL PLAN ~9× per round — an exponential
    * driver-side explosion long before any executor works hard. The
    * iterative-algorithm discipline is lineage TRUNCATION per round:
    * localCheckpoint materializes the round and replans from a leaf.
    * (On a real cluster a reliable checkpoint dir gives the same cut
    * with fault tolerance; the algorithm is unchanged.) */
  private def contract(edges: DataFrame): DataFrame = {
    var cur = edges.select("u", "v").localCheckpoint(true)
    var rounds = 0
    var done = false
    while (!done && rounds < 30) {
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      // star forest ⇔ no parent also appears as a child
      done = next.alias("a")
        .join(next.alias("b"), col("a.v") === col("b.u"), "left_semi")
        .isEmpty
      cur = next
      rounds += 1
    }
    require(done, s"star contraction did not converge in $rounds rounds")
    cur
  }

  private def componentSizes(mapping: DataFrame): DataFrame = {
    val centers = mapping.select(col("v").as("node"), col("v").as("comp_id"))
    mapping.select(col("u").as("node"), col("v").as("comp_id"))
      .unionByName(centers).distinct()
      .groupBy("comp_id").agg(count(lit(1)).as("n_parts"))
  }

  def components(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    componentSizes(contract(stagedBackbone(spark, dir)))
  }

  /** §8k — INCREMENTAL component maintenance: fold a batch of new edges
    * into an existing star mapping without recontracting the full graph.
    * The mapping is itself a valid edge set (u—root ⇔ connectivity
    * preserved), so contraction over mapping ∪ new edges computes the
    * merged components — but starts from a near-fixpoint, converging in
    * a round or two instead of O(log²|V|). The 100 TB shape: the
    * mapping artifact is |V| rows; a day's new edges touch it, not the
    * full history of pair counts. Returns the new mapping (child, root);
    * spec pins absorb == full recompute. */
  def absorbComponents(mapping: DataFrame, newEdges: DataFrame): DataFrame =
    contract(mapping.select("u", "v").unionByName(newEdges.select("u", "v")))

  /** Oracle: min-label flooding as a recursive CTE — labels only travel
    * "upward" (lbl < next node), so the walk is finite and MIN(lbl) per
    * node is the component minimum. Deliberately a DIFFERENT algorithm
    * from the engine's star contraction: agreement is evidence about the
    * result, not the formulation. */
  private val componentsSql =
    s"""WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
       |nodes AS (SELECT DISTINCT pa AS node FROM e UNION SELECT DISTINCT pb FROM e),
       |walk(node, lbl) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.node WHERE w.lbl < s.dst),
       |comp AS (SELECT node, MIN(lbl) AS comp_id FROM walk GROUP BY node)
       |SELECT comp_id, COUNT(*) AS n_parts FROM comp GROUP BY comp_id
       |ORDER BY n_parts DESC, comp_id""".stripMargin

  // -------------------------------------------------- weighted PageRank

  /** §8k — SUPPORT-WEIGHTED PageRank over the backbone: contributions
    * split proportionally to co-purchase support instead of equally —
    * the rank flows where the relationship is strong. Same integer
    * discipline as [[pagerank]] (scaled bigints, truncating div,
    * damping multiplied through): per-edge contribution is
    * (r div wsum) · w against the node's total incident support —
    * divide-then-scale keeps every product far from int64's edge even
    * under rank concentration (the truncation error is ≤ w per edge,
    * identical in both engines) — so
    * every executor count and the oracle's CTE chain agree to the bit.
    * Shuffle ledger identical to the unweighted form — the weight rides
    * the persisted edge list, costing nothing extra per iteration. */
  def pagerankWeighted(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val bb = stagedBackbone(spark, dir)
    val sym = bb.select(col("u").as("src"), col("v").as("dst"), col("n").as("w"))
      .unionByName(bb.select(col("v").as("src"), col("u").as("dst"), col("n").as("w")))
    val wsum = sym.groupBy("src").agg(sum(col("w")).as("wsum"))
    val symW = Cached.track(sym.join(wsum, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val teleport = PrScale * 15L / 100L
    var ranks = wsum.select(col("src").as("node"), lit(PrScale).as("r"))
    for (_ <- 1 to PrIters) {
      ranks = symW
        .join(ranks, symW("src") === ranks("node"))
        .select(col("dst"), expr("(r div wsum) * w").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("insum"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr("(85 * insum) div 100")).as("r"))
    }
    ranks
      .select(col("node").as("p_partkey"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("p_partkey"))
      .limit(50)
  }

  private val pagerankWeightedSql = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT sd.dst AS node,
         |    CAST(${PrScale * 15L / 100L} + (85 * SUM((r // wsum) * w)) // 100 AS BIGINT) AS r
         |  FROM sd JOIN $prev p ON sd.src = p.node GROUP BY sd.dst)"""
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |sym AS (SELECT pa AS src, pb AS dst, n AS w FROM e
       |        UNION ALL SELECT pb, pa, n FROM e),
       |ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM sym GROUP BY src),
       |sd AS (SELECT s.src, s.dst, s.w, d.wsum FROM sym s JOIN ws d ON s.src = d.src),
       |r0 AS (SELECT src AS node, CAST($PrScale AS BIGINT) AS r FROM ws),
       |${(1 to PrIters).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")}
       |SELECT node AS p_partkey, r AS rank_scaled
       |FROM r$PrIters
       |ORDER BY rank_scaled DESC, p_partkey LIMIT 50""".stripMargin
  }

  // ------------------------------------------- bounded weighted SSSP

  private val SsspRounds = 4

  /** §8k — hop-bounded single-source CHEAPEST paths (Bellman-Ford by
    * join): edge cost = 10⁶ div support (frequent co-purchases are
    * cheap), source = the backbone's minimum part id, exactly
    * [[SsspRounds]] relaxation rounds. Each round is one join of the
    * |V|-bounded distance frame against the persisted symmetric edge
    * list plus a min-aggregate — the weighted twin of [[bfsHops]]'
    * frontier expansion, and the shape that scales: distances re-shuffle
    * per round, edges are scanned in place, costs are integers so every
    * engine and executor count agrees on ties. Unrolled to the same
    * fixed round count as the oracle CTE chain (a convergence check
    * would make oracle parity depend on the graph's diameter). */
  def ssspBounded(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val bb = stagedBackbone(spark, dir)
    val sym = bb.select(col("u").as("src"), col("v").as("dst"), expr("1000000 div n").as("w"))
      .unionByName(bb.select(col("v").as("src"), col("u").as("dst"), expr("1000000 div n").as("w")))
      .localCheckpoint(true)
    var dist = bb.agg(min(col("u")).as("node")).select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to SsspRounds) {
      dist = dist
        .unionByName(sym.join(dist, col("src") === col("node"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist")))
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
    }
    dist
  }

  private val ssspSql = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM $prev
         |    UNION ALL
         |    SELECT s.dst, d.dist + s.w FROM $prev d JOIN sym s ON s.src = d.node) x
         |  GROUP BY node)"""
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |sym AS (
       |  SELECT pa AS src, pb AS dst, 1000000 // n AS w FROM e
       |  UNION ALL SELECT pb, pa, 1000000 // n FROM e),
       |d0 AS (SELECT MIN(pa) AS node, CAST(0 AS BIGINT) AS dist FROM e),
       |${(1 to SsspRounds).map(i => iter(s"d${i - 1}", s"d$i")).mkString(",\n")}
       |SELECT node, dist FROM d$SsspRounds ORDER BY node""".stripMargin
  }

  // --------------------------------------------------- BFS hop profile

  private val BfsBrand = "Brand#11"
  private val BfsMaxHop = 3

  /** §8k(az) — BFS hop profile: how many parts are first reached at hop
    * 1, 2, 3 from the seed set (one brand's parts) over the FULL
    * co-purchase graph. Frontier expansion is the scale shape: each hop
    * joins the persisted symmetric edge list against the current frontier
    * (AQE broadcasts it while it fits — frontiers are ≤|V| rows; beyond
    * that the join runs shuffled on the co-partitioned edge list), then
    * anti-joins the visited set. K joins for K hops; the edge list is
    * scanned, never re-derived, per hop. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val t = Tables(dir)
    // r12: sym + node domain off the staged adjacency (verdict #4)
    val adj = stagedAdj(spark, dir)
    val sym = symFromAdj(adj)
    val nodes = adj.select(col("node"))
    val seeds = t.part.filter(col("p_brand") === BfsBrand)
      .select(col("p_partkey").as("node"))
      .join(nodes, Seq("node"), "left_semi")
    // Frontier gets the per-round lineage truncation of [[components]];
    // visited only accumulates a LINEAR union chain over already-truncated
    // frontiers (K unions deep for K hops), so checkpointing it would add
    // an eager materialization per round for no asymptotic gain.
    var visited = seeds.select(col("node"), lit(0).as("hop")).localCheckpoint(true)
    var frontier = visited.select("node")
    for (k <- 1 to BfsMaxHop) {
      val next = sym.join(frontier.select(col("node").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint(true)
      visited = visited.unionByName(next.select(col("node"), lit(k).as("hop")))
      frontier = next
    }
    visited.groupBy("hop").agg(count(lit(1)).as("n_parts"))
  }

  private val bfsHopsSql = {
    def level(k: Int) =
      s"""n$k AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN f${k - 1} f ON s.src = f.node),
         |f$k AS (SELECT node FROM n$k EXCEPT SELECT node FROM v${k - 1}),
         |v$k AS (SELECT node FROM v${k - 1} UNION SELECT node FROM f$k)"""
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
       |nodes AS (SELECT DISTINCT pa AS node FROM e UNION SELECT DISTINCT pb FROM e),
       |f0 AS (SELECT DISTINCT p.p_partkey AS node FROM part p
       |       JOIN nodes n ON n.node = p.p_partkey WHERE p.p_brand = '$BfsBrand'),
       |v0 AS (SELECT node FROM f0),
       |${(1 to BfsMaxHop).map(level).mkString(",\n")},
       |hops AS (${(0 to BfsMaxHop).map(k => s"SELECT $k AS hop, node FROM f$k").mkString(" UNION ALL ")})
       |SELECT hop, COUNT(*) AS n_parts FROM hops GROUP BY hop ORDER BY hop""".stripMargin
  }

  // ------------------------------------------------ degree distribution

  /** §8k(bi) — degree histogram of the full co-purchase graph: how many
    * nodes have each degree. THE first diagnostic before any graph
    * algorithm runs at scale — the histogram's tail is what decides
    * whether the wedge/pair stages need whale caps ([[trianglesCapped]]'s
    * cap, the LSH band cap) and what the Σdeg² shuffle will cost. Two
    * keyed aggregates over the persisted edge list: degrees (|E|-shuffle),
    * then histogram cells (≤max-degree rows). */
  def degreeHist(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r12: degrees are size(ns) over the staged adjacency — the |E|
    // groupBy this query used to pay per run is in the staged build
    degFromAdj(stagedAdj(spark, dir))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
  }

  private val degreeHistSql =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sym AS (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e),
       |deg AS (SELECT node, COUNT(*) AS deg FROM sym GROUP BY 1)
       |SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY 1 ORDER BY deg""".stripMargin

  // ------------------------------------------------ k-core decomposition

  private val KcoreK = 3
  private val KcoreRounds = 4

  /** §8k(bd) — bounded-round k-core peeling over the support-backbone:
    * [[KcoreRounds]] rounds of "drop every node with degree < [[KcoreK]],
    * restrict the edge set to survivors", then report each survivor with
    * its degree INSIDE the peeled subgraph. The k-core is the standard
    * cohesion filter before community detection / influence work; bounded
    * rounds keep oracle parity independent of how fast the peel converges
    * (the [[ssspBounded]] trade — at sf0.001 four rounds reach the
    * fixpoint, and `GraphSpec` pins a driver peel at the same rounds).
    *
    * Scale shape: each round is one degree aggregate over the surviving
    * |E| plus two semi-joins of edges against the ≤|V|-row survivor set
    * (AQE broadcasts survivors while they fit). The edge set SHRINKS
    * monotonically, so round cost is non-increasing; per-round
    * `localCheckpoint` truncates the lineage exactly as [[components]]
    * does, keeping the driver plan linear in rounds. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val bb = stagedBackbone(spark, dir)
    var sym = bb.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(bb.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true)
    for (_ <- 1 to KcoreRounds) {
      val keep = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KcoreK).select(col("src").as("node"))
      sym = sym
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint(true)
    }
    sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  private val kcoreSql = {
    def round(prev: String, cur: String) =
      s"""k$cur AS (SELECT src AS node FROM $prev GROUP BY 1 HAVING COUNT(*) >= $KcoreK),
         |$cur AS (SELECT s.src, s.dst FROM $prev s
         |  JOIN k$cur a ON s.src = a.node JOIN k$cur b ON s.dst = b.node)"""
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |s0 AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
       |${(1 to KcoreRounds).map(i => round(s"s${i - 1}", s"s$i")).mkString(",\n")}
       |SELECT src AS node, COUNT(*) AS deg FROM s$KcoreRounds GROUP BY 1 ORDER BY node""".stripMargin
  }

  // ------------------------------------------- neighbor-set similarity

  private val JaccTopK = 5
  private val JaccCenterCap = 24

  /** Broadcast budget for |V|-row lookup tables (degree maps, node
    * sets): ~8M rows of (long, long) ≈ 128 MB serialized — inside the
    * session's adaptive broadcast ceiling with headroom. A node domain
    * beyond it (a 100× parts catalog) falls back to a keyed join
    * instead of OOMing the driver; both regimes are plan-shape
    * spec-pinned. */
  private[operators] val NodeBroadcastMaxRows: Long = 8L << 20

  /** Broadcast `df` only while the estimated row count fits the budget;
    * beyond it the planner keeps the keyed (shuffle) join. */
  private[operators] def gatedBroadcast(df: DataFrame, rows: Long,
                                        maxRows: Long = NodeBroadcastMaxRows): DataFrame =
    if (rows <= maxRows) broadcast(df) else df

  /** §8m(by) — neighbor-set Jaccard, served as each node's TOP-[[JaccTopK]]
    * link-prediction candidates: shared-neighbor counts (a wedge count)
    * and the Jaccard per-mille (inclusion-exclusion over the FULL
    * degrees) — pure integers — ranked per node. The supervised partner
    * of [[negativeSamples]] (score positives and sampled negatives,
    * threshold between them), in the per-node shape a recommender
    * serves. Top-k per node, NOT a global threshold: on this dense
    * synthetic graph every pair is weakly similar (max ≈ 0.12), so no
    * cut separates — and at any scale the per-node list bounds the
    * output at k·|V| where a threshold's volume is data-dependent.
    *
    * Exact all-pairs common-neighbor counting is inherently Σdeg² (every
    * shared neighbor must contribute its pair — no orientation trick
    * applies to the CENTER the way it does for triangles), so the
    * registered form carries the family's whale cap: each center
    * contributes pairs from its [[JaccCenterCap]] lowest-id neighbors
    * ([[trianglesCapped]]'s slice — 44 s → ~1 s at sf0.1 on this dense
    * graph), a DOCUMENTED deterministic undercount of `common`, exact
    * when every degree ≤ cap, mirrored verbatim in the oracle and pinned
    * against the uncapped form at sf0.001 by the spec. Wedge pairs
    * explode MAP-SIDE from the capped sorted arrays; one pair-keyed
    * shuffle counts them; the per-node rank is a WindowGroupLimit
    * window (map-side partial top-k). */
  /** r14 (opt) — the shared capped WEDGE-PAIR aggregate: per packed pair
    * key ab = a·2³² + b, the capped common-neighbor count AND the
    * RA-weighted vote sum. [[resourceAllocation]] and [[jaccardNeighbors]]
    * ran the IDENTICAL wedge explode + pair-keyed shuffle per query off
    * the same capped ([[JaccCenterCap]] = [[RaCenterCap]] = 24) sorted
    * adjacency slices, differing only in which aggregate columns they
    * read — the family's hottest shuffle paid twice per sweep (guide
    * §2.4: two operations keyed the same way share one exchange; here
    * they share the whole materialized aggregate). Content-gated on the
    * fact table like [[stagedAdj]]; the in-plan raise_error domain guards
    * fire at build time — every serving read carries only guarded keys.
    * Consumers slice columns; staged≡inline pinned in StagedFramesSpec. */
  private[operators] def stagedWedgePairs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val path = Stage.path("gwedge", dir, "lineitem") { p =>
      val adj = stagedAdj(spark, dir)
      val capped = adj.select(
        expr("1000000000 div size(ns)").cast("long").as("w"),
        slice(col("ns"), 1, RaCenterCap).as("ns"))
      capped
        .select(col("w"), explode(expr(
          "flatten(transform(ns, (x, i) -> " +
            "transform(slice(ns, i + 2, size(ns) - i - 1), y -> " +
            "CASE WHEN y < 4294967296L THEN x * 4294967296L + y " +
            "ELSE CAST(raise_error('graph wedge pairs: partkey exceeds the 32-bit packed-pair domain') AS BIGINT) END)))")).as("ab"))
        .groupBy("ab")
        .agg(count(lit(1)).as("common"), sum(col("w")).as("ra_nano"))
        .write.parquet(p)
    }
    // Stage.read (artifact-sized splits): the frame is byte-slim (35 MB
    // for ~4M pairs at sf0.1) so the default 128 MB split packs it into
    // ONE task and both consumers' pre-exchange work (union, the jaccard
    // degree joins) runs serial — the copresence small-split lesson; both
    // consumers are single-pass, the boundary Stage.read's doc demands
    Cached.track(Stage.read(spark, path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  def jaccardNeighbors(spark: SparkSession, dir: String): DataFrame =
    // r14 (opt): the registered cap equals the staged frame's — serve the
    // shared wedge-pair aggregate instead of re-running the explode+shuffle
    jaccardTail(spark, dir, stagedWedgePairs(spark, dir).select(col("ab"), col("common")),
      NodeBroadcastMaxRows)

  private[operators] def jaccardNeighborsCapped(spark: SparkSession, dir: String,
                                                cap: Int,
                                                broadcastMax: Long = NodeBroadcastMaxRows): DataFrame = {
    implicit val s: SparkSession = spark
    // r12: the sorted symmetric adjacency IS the staged frame — this
    // query used to rebuild it (|E| collect_set shuffle) per run
    val adj = stagedAdj(spark, dir).select(col("node").as("src"), col("ns"))
    val capped = if (cap == Int.MaxValue) adj
      else adj.select(col("src"), slice(col("ns"), 1, cap).as("ns"))
    // r12: the wedge pairs travel as PACKED single longs through the
    // Σdeg² aggregate (the graph_resource_allocation rework, same
    // loud 2³²-domain guard + unsigned unpack — one long hashes and
    // shuffles cheaper than a two-field struct on the family's hottest
    // shuffle; sf1 18.8 → 15.2 s, flat at sf0.1 where the pair volume
    // is small enough that the struct never dominated)
    val pairs = capped.select(explode(expr(
        "flatten(transform(ns, (x, i) -> " +
          "transform(slice(ns, i + 2, size(ns) - i - 1), y -> " +
          "CASE WHEN y < 4294967296L THEN x * 4294967296L + y " +
          "ELSE CAST(raise_error('graph_jaccard_neighbors: partkey exceeds the 32-bit packed-pair domain') AS BIGINT) END)))")).as("ab"))
      .groupBy("ab").agg(count(lit(1)).as("common"))
    jaccardTail(spark, dir, pairs, broadcastMax)
  }

  private def jaccardTail(spark: SparkSession, dir: String, pairs: DataFrame,
                          broadcastMax: Long): DataFrame = {
    implicit val s: SparkSession = spark
    // node-domain estimate from parquet metadata (a row-count-only scan):
    // the gate's input, never the data path
    val nodeDomain = Tables(dir).part.count()
    val deg = degFromAdj(stagedAdj(spark, dir))
    // deg is a |V|-row table — broadcast both lookups while the node
    // domain fits the budget (the alternative is two sort-merge joins of
    // the 2·Σpairs directed stream); past the budget the keyed join is
    // the correct shape, not a bigger driver
    val directed = pairs
      .select(shiftrightunsigned(col("ab"), 32).as("node"),
        col("ab").bitwiseAND(lit(4294967295L)).as("cand"), col("common"))
      .unionByName(pairs.select(col("ab").bitwiseAND(lit(4294967295L)).as("node"),
        shiftrightunsigned(col("ab"), 32).as("cand"), col("common")))
      .join(gatedBroadcast(deg, nodeDomain, broadcastMax), Seq("node"))
      .join(gatedBroadcast(deg.select(col("node").as("cand"), col("deg").as("dc")),
        nodeDomain, broadcastMax), Seq("cand"))
      .withColumn("jaccard_pm", expr("common * 1000 div (deg + dc - common)"))
    // per-node top-k via row_number: Spark's WindowGroupLimit pushes the
    // rank≤k filter below the final sort (partial per-partition limits),
    // and on this many-small-groups shape it measured 5× FASTER than the
    // bounded-heap TopKPerKey exec (whose per-partition key→heap map pays
    // per-row overhead that the codegen'd sort+limit doesn't)
    val w = Window.partitionBy(col("node"))
      .orderBy(col("jaccard_pm").desc, col("common").desc, col("cand"))
    directed.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= JaccTopK)
      .select(col("node"), col("rank"), col("cand"), col("common"), col("jaccard_pm"))
  }

  private val jaccardNeighborsSql =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
       |adj AS (SELECT src, list_sort(list(dst))[1:$JaccCenterCap] AS ns FROM sym GROUP BY 1),
       |wedges AS (
       |  SELECT ns[i.i] AS a, ns[j.j] AS b
       |  FROM adj,
       |    UNNEST(generate_series(1, LEN(ns))) AS i(i),
       |    UNNEST(generate_series(1, LEN(ns))) AS j(j)
       |  WHERE i.i < j.j),
       |pairs AS (SELECT a, b, COUNT(*) AS common FROM wedges GROUP BY 1, 2),
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
       |directed AS (
       |  SELECT a AS node, b AS cand, common FROM pairs
       |  UNION ALL SELECT b, a, common FROM pairs),
       |scored AS (
       |  SELECT d.node, d.cand, d.common,
       |    d.common * 1000 // (dn.deg + dc.deg - d.common) AS jaccard_pm
       |  FROM directed d JOIN deg dn ON dn.node = d.node JOIN deg dc ON dc.node = d.cand),
       |ranked AS (
       |  SELECT node, cand, common, jaccard_pm,
       |    ROW_NUMBER() OVER (PARTITION BY node
       |      ORDER BY jaccard_pm DESC, common DESC, cand) AS rank
       |  FROM scored)
       |SELECT node, rank, cand, common, jaccard_pm FROM ranked WHERE rank <= $JaccTopK
       |ORDER BY node, rank""".stripMargin

  // ------------------------------------------------- negative sampling

  private val NegDraws = 4

  /** §8k(bn) — deterministic NEGATIVE sampling over the backbone graph:
    * for every node, [[NegDraws]] hash-derived candidate part keys that
    * are graph nodes but NOT neighbors — the (node, negative) pairs a
    * link-prediction / co-purchase-embedding trainer consumes alongside
    * the positive edges. Draws are salted-md5 of (node, draw-index), so
    * the sample is a pure function of the graph (reproducible across
    * runs, engines, and executor counts — the `docs_split_assign`
    * philosophy applied to training-pair generation). Candidates that
    * hash onto the node itself, onto a non-node part key, or onto a real
    * neighbor are dropped, so output multiplicity varies per node —
    * that's the documented semantics (fixed draw budget, not fixed
    * output count; a trainer re-draws with a different salt for more).
    *
    * Scale shape: draws explode map-side from the |V|-row node set; the
    * node-membership check is a semi-join and the not-an-edge check an
    * anti-join against the symmetric edge list — both co-partitioned
    * keyed joins, nothing quadratic. */
  def negativeSamples(spark: SparkSession, dir: String): DataFrame =
    negativeSamplesGated(spark, dir, NodeBroadcastMaxRows)

  private[operators] def negativeSamplesGated(spark: SparkSession, dir: String,
                                              broadcastMax: Long): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val bb = stagedBackbone(spark, dir)
    val sym = bb.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(bb.select(col("v").as("src"), col("u").as("dst")))
    val nodes = sym.select(col("src").as("node")).distinct()
    val nodeDomain = Tables(dir).part.count()
    val maxPart = Tables(dir).part.agg(max(col("p_partkey")).as("max_pk"))
    val draws = nodes.crossJoin(broadcast(maxPart))
      .select(col("node"), explode(expr(s"sequence(0, ${NegDraws - 1})")).as("draw"), col("max_pk"))
      .withColumn("cand",
        graft.plans.VectorExpressions.hexPrefix(
          md5(concat(col("node").cast("string"), lit("#"), col("draw").cast("string"))), 8)
          % (col("max_pk") + 1))
    draws
      // membership check against the |V|-row node set: broadcast inside
      // the budget, keyed semi-join beyond it
      .join(gatedBroadcast(nodes.select(col("node").as("cand")), nodeDomain, broadcastMax),
        Seq("cand"), "left_semi")
      .where(col("cand") =!= col("node"))
      .join(sym.select(col("src").as("node"), col("dst").as("cand")),
        Seq("node", "cand"), "left_anti")
      .select(col("node"), col("draw"), col("cand").as("neg"))
  }

  private val negativeSamplesSql = {
    val h = DedupQueries.hexToLongDuck("md5(CAST(node AS VARCHAR) || '#' || CAST(d.draw AS VARCHAR))", 8)
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
       |nodes AS (SELECT DISTINCT src AS node FROM sym),
       |mx AS (SELECT MAX(p_partkey) AS max_pk FROM part),
       |draws AS (
       |  SELECT node, d.draw, ($h) % (max_pk + 1) AS cand
       |  FROM nodes, mx, (SELECT UNNEST(generate_series(0, ${NegDraws - 1})) AS draw) d)
       |SELECT dr.node, dr.draw, dr.cand AS neg
       |FROM draws dr JOIN nodes n2 ON n2.node = dr.cand
       |WHERE dr.cand <> dr.node
       |  AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.src = dr.node AND s.dst = dr.cand)
       |ORDER BY dr.node, dr.draw""".stripMargin
  }

  private val pagerankSql = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT sd.dst AS node,
         |    CAST(${PrScale * 15L / 100L} + (85 * SUM(r // outdeg)) // 100 AS BIGINT) AS r
         |  FROM sd JOIN $prev p ON sd.src = p.node GROUP BY sd.dst)"""
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src),
       |sd AS (SELECT s.src, s.dst, d.outdeg FROM sym s JOIN deg d ON s.src = d.src),
       |r0 AS (SELECT src AS node, CAST($PrScale AS BIGINT) AS r FROM deg),
       |${(1 to PrIters).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")}
       |SELECT node AS p_partkey, r AS rank_scaled
       |FROM r$PrIters
       |ORDER BY rank_scaled DESC, p_partkey LIMIT 50""".stripMargin
  }

  // ------------------------------------- Label propagation & HITS

  private val LpaIters = 5
  private val HitsIters = 4
  private val HitsScale = 1000000000000L // scores carried as s × 10^12

  /** Decimal(38,0) lane for the HITS message sums: |V|·10¹² already
    * brushes the int64 range at large node domains. The oracle rides
    * HUGEINT instead of DECIMAL for the same sums — DuckDB decimal
    * arithmetic whose result precision would exceed 38 silently falls
    * back to DOUBLE (measured: 1-ulp drift vs Spark's exact decimal
    * div), while HUGEINT×BIGINT stays exact 128-bit integer math. */
  private def cast38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")

  /** Community detection by synchronous WEIGHTED label propagation
    * (Raghavan et al. 2007, deterministic variant) over the support-
    * thresholded backbone: every node starts as its own label; each
    * round it adopts the label with the largest support-weighted
    * neighbor vote, ties broken toward the SMALLER label. All-integer,
    * so the fixpoint is bit-identical across engines and cluster sizes.
    * On the UNthresholded co-purchase graph LPA degenerates (one dense
    * component swallows every label in two rounds — measured); the
    * backbone is where community structure lives, and unlike
    * [[components]] the vote dynamics can SPLIT a connected component
    * along weak ties.
    *
    * Scale shape: per round = one message shuffle (labels join the
    * staged backbone) + two hash aggregations, both with map-side
    * partials. The per-(dst,label) vote table is bounded by the edge
    * count, never deg² — the argmax folds it to |V| rows via a
    * min(struct(-votes, lbl)) two-phase agg (no per-node sort, unlike
    * the window formulation). Labels are |V|-row per round; at 100 TB
    * AQE broadcasts them while they fit, else the join runs keyed. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val bb = stagedBackbone(spark, dir)
    val sym = Cached.track(
      bb.select(col("u").as("src"), col("v").as("dst"), col("n").as("w"))
        .unionByName(bb.select(col("v").as("src"), col("u").as("dst"), col("n").as("w")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to LpaIters) {
      labels = sym
        .join(labels, sym("src") === labels("node"))
        .groupBy(col("dst"), col("lbl"))
        .agg(sum(col("w")).as("votes"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("votes")).as("nv"), col("lbl").as("l"))).as("best"))
        .select(col("dst").as("node"), col("best.l").as("lbl"))
    }
    labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("community"), col("n_members"))
  }

  private val labelPropSql = {
    def iter(prev: String, i: Int) =
      s"""c$i AS MATERIALIZED (
         |  SELECT s.dst, p.lbl, SUM(s.w) AS votes
         |  FROM sym s JOIN $prev p ON s.src = p.node GROUP BY s.dst, p.lbl),
         |l$i AS MATERIALIZED (
         |  SELECT dst AS node, lbl FROM (
         |    SELECT dst, lbl, ROW_NUMBER() OVER (PARTITION BY dst ORDER BY votes DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1)"""
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ew AS MATERIALIZED (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |sym AS (SELECT pa AS src, pb AS dst, w FROM ew UNION ALL SELECT pb, pa, w FROM ew),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
       |${(1 to LpaIters).map(i => iter(s"l${i - 1}", i)).mkString(",\n")}
       |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
       |FROM l$LpaIters GROUP BY lbl
       |ORDER BY n_members DESC, community""".stripMargin
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over the ORIENTED edge
    * list (pa→pb, the deterministic a<b orientation), integer
    * fixed-point: raw scores are exact decimal sums of the opposite
    * side, re-normalized each half-step by the L∞ norm via scaled
    * integer division — `a·10¹² div max(a)` — so every engine and every
    * summation order produces the same bits (the float power-iteration
    * would drift by ulps per round). The 1-row max joins broadcast.
    *
    * Per round = two message shuffles (h→authorities, a→hubs), each a
    * keyed join against the persisted edge list with map-side partial
    * sums — the same Pregel-by-join economics as PageRank. */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r12: the oriented edge list comes from the staged materialization
    // (build paid once per corpus state), not a per-query fact-table
    // self-join — the same serving economics as the rest of the family.
    // r13 measured REJECTION (verdict #7): pre-partitioning two persisted
    // edge copies on the half-steps' aggregation keys (so the broadcast
    // join's output feeds each message groupBy exchange-free) read
    // 5.01 s vs 5.15 s baseline at sf0.1 min-of-3 — margin-level, because
    // the cost is the 8 sequential renorm persists + 1-row max collects
    // (fixed job latency), not the exchanges — while doubling the cached
    // edge footprint. Keeping the single unpartitioned persist.
    val e = stagedEdges(spark, dir)
    // r14 (opt): TWO persisted edge copies, hash-partitioned on each
    // half-step's aggregation key, so the groupBy after the broadcast
    // score join reuses the cached partitioning — one stage per
    // half-step instead of two. r13 measured this as a wash UNDER AQE
    // (5.01 vs 5.15 s — the adaptive re-planning latency swamped the
    // saved exchange); under the size-gated AQE-off scope below it
    // measured 6.59 → 3.45 s (probe, min after warm, rows identical),
    // so the rejection inverts. Cache cost: 2× a 1.2M-row long-pair
    // frame — the rank-vector budget.
    val dirE0 = e.select(col("pa").as("src"), col("pb").as("dst"))
    val eDst = Cached.track(dirE0.repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val eSrc = Cached.track(dirE0.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Each half-step PERSISTS its |V|-row raw-score frame and reads the
    // L∞ norm back as a 1-row driver literal. Without this the lazy plan
    // embeds the full upstream lineage twice per renorm (raw + max(raw)),
    // doubling plan size every half-step — 2⁸ growth that stalls codegen
    // before any data moves. The collect is 1 row by construction; the
    // persisted frames are |V|-row, the same budget as the rank vectors.
    def renorm(rawIn: DataFrame): DataFrame = {
      val raw = Cached.track(
        rawIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val mx = raw.agg(max(col("raw")).as("mx")).head().getDecimal(0)
      raw.select(col("node"),
        expr(s"CAST((CAST(raw AS DECIMAL(38,0)) * $HitsScale) div CAST('$mx' AS DECIMAL(38,0)) AS BIGINT)").as("s"))
    }
    // r14 (opt): the eight half-step jobs fire INSIDE this block, so the
    // size-gated AQE-off scope covers them (measured 6.3 → 4.8 s at
    // sf0.1 min-of-2, rows identical; see LoopConf for why this loop
    // benefits while components/label-prop/pagerank measurably do not).
    // A fully lazy renorm (max via broadcast cross-join, one action) was
    // built and REJECTED: 170 s AQE-on / 8.9 s AQE-off vs this
    // structure's 4.8 s.
    val (a, h) = LoopConf.noAqeBelow(spark, Stage.bytes(edgesStage(spark, dir))) {
      var h0 = eSrc.select(col("src").as("node")).distinct()
        .select(col("node"), lit(HitsScale).as("s"))
      var a0: DataFrame = null
      for (_ <- 1 to HitsIters) {
        a0 = renorm(eDst.join(h0, eDst("src") === h0("node"))
          .groupBy(col("dst")).agg(sum(cast38(col("s"))).as("raw"))
          .select(col("dst").as("node"), col("raw")))
        h0 = renorm(eSrc.join(a0, eSrc("dst") === a0("node"))
          .groupBy(col("src")).agg(sum(cast38(col("s"))).as("raw"))
          .select(col("src").as("node"), col("raw")))
      }
      (a0, h0)
    }
    a.select(col("node"), col("s").as("auth_scaled"))
      .join(h.select(col("node"), col("s").as("hub_scaled")), Seq("node"), "full_outer")
      .select(col("node").as("p_partkey"),
        coalesce(col("auth_scaled"), lit(0L)).as("auth_scaled"),
        coalesce(col("hub_scaled"), lit(0L)).as("hub_scaled"))
      .orderBy(col("auth_scaled").desc, col("hub_scaled").desc, col("p_partkey"))
      .limit(50)
  }

  /** Every iteration CTE is MATERIALIZED: a_i references ar_i twice
    * (once for the scores, once inside the scalar MAX) — inlined, the
    * oracle's tree would DOUBLE per half-step, 2⁸ copies of the base
    * self-join, the SQL mirror of the lazy-plan explosion the Spark
    * side solves by persisting each raw-score frame. */
  private val hitsSql = {
    def iter(i: Int) = {
      val prevH = if (i == 1) "h0" else s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (
         |  SELECT de.dst AS node, SUM(CAST(p.s AS HUGEINT)) AS raw
         |  FROM de JOIN $prevH p ON de.src = p.node GROUP BY de.dst),
         |a$i AS MATERIALIZED (
         |  SELECT node, CAST((raw * $HitsScale)
         |    // (SELECT MAX(raw) FROM ar$i) AS BIGINT) AS s FROM ar$i),
         |hr$i AS MATERIALIZED (
         |  SELECT de.src AS node, SUM(CAST(p.s AS HUGEINT)) AS raw
         |  FROM de JOIN a$i p ON de.dst = p.node GROUP BY de.src),
         |h$i AS MATERIALIZED (
         |  SELECT node, CAST((raw * $HitsScale)
         |    // (SELECT MAX(raw) FROM hr$i) AS BIGINT) AS s FROM hr$i)"""
    }
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |de AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |h0 AS (SELECT DISTINCT src AS node, CAST($HitsScale AS BIGINT) AS s FROM de),
       |${(1 to HitsIters).map(iter).mkString(",\n")}
       |SELECT COALESCE(a.node, h.node) AS p_partkey,
       |  CAST(COALESCE(a.s, 0) AS BIGINT) AS auth_scaled,
       |  CAST(COALESCE(h.s, 0) AS BIGINT) AS hub_scaled
       |FROM a$HitsIters a FULL OUTER JOIN h$HitsIters h ON a.node = h.node
       |ORDER BY auth_scaled DESC, hub_scaled DESC, p_partkey LIMIT 50""".stripMargin
  }

  // --------------------------------------------- structural summaries

  /** §8p(co) — degree assortativity of the co-purchase graph: the Pearson
    * correlation of endpoint degrees across edges (Newman 2002), the
    * one-number answer to "do hubs link to hubs?" that decides whether the
    * wedge stages face a few whales (disassortative: negative r) or dense
    * hub cliques. Sufficient statistics ride the wide-integer lane — each
    * edge contributes both directions, so the symmetric sums Σx, Σx², Σxy
    * (x = source degree, y = destination degree) are DECIMAL(38,0)-exact
    * (deg² per edge can pass 1e12 on a real catalog and Σ over 1e12 edges
    * passes int64); the only float step is one cast-cast-divide-round
    * chain over the exact numerator and denominator, bit-identical in both
    * engines. One |E|-shuffle for degrees, two gated broadcast joins to
    * attach them, one global fold. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val nodeDomain = Tables(dir).part.count()
    val e = stagedEdges(spark, dir)
    // r12: shared staged degree table (same equality note as transitivity)
    val deg = degFromAdj(stagedAdj(spark, dir))
    val j = e
      .join(gatedBroadcast(deg.toDF("pa", "deg_a"), nodeDomain), Seq("pa"))
      .join(gatedBroadcast(deg.toDF("pb", "deg_b"), nodeDomain), Seq("pb"))
    // undirected edge counted in both directions → symmetric sums (Σy=Σx)
    val sym = j.select(col("deg_a").as("x"), col("deg_b").as("y"))
      .unionByName(j.select(col("deg_b").as("x"), col("deg_a").as("y")))
    sym
      .agg(
        count(lit(1)).as("n_directed"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2"))
      .withColumn("num", expr("CAST(n_directed AS DECIMAL(38,0)) * sxy - sx * sx"))
      .withColumn("den", expr("CAST(n_directed AS DECIMAL(38,0)) * sx2 - sx * sx"))
      .select(
        expr("n_directed div 2").as("n_edges"),
        round(col("num").cast("double") / col("den").cast("double"), 6).as("assortativity"))
  }

  private val assortativitySql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT node, COUNT(*) AS deg FROM (
      |          SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) n GROUP BY 1),
      |j AS (SELECT da.deg AS deg_a, db.deg AS deg_b
      |      FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb),
      |sym AS (SELECT deg_a AS x, deg_b AS y FROM j UNION ALL SELECT deg_b, deg_a FROM j),
      |sums AS (SELECT COUNT(*) AS n_directed,
      |           SUM(CAST(x AS HUGEINT)) AS sx,
      |           SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |           SUM(CAST(x AS HUGEINT) * x) AS sx2
      |         FROM sym)
      |SELECT CAST(n_directed // 2 AS BIGINT) AS n_edges,
      |  ROUND(CAST(CAST(n_directed AS HUGEINT) * sxy - sx * sx AS DOUBLE)
      |    / CAST(CAST(n_directed AS HUGEINT) * sx2 - sx * sx AS DOUBLE), 6) AS assortativity
      |FROM sums
      |ORDER BY n_edges""".stripMargin

  /** §8p(cn) — global transitivity (the graph clustering coefficient):
    * 3·triangles / wedges in exact ppm integers, plus the raw structural
    * counts. Triangle total comes from the degree-ordered orientation
    * ([[triangles]]'s apex-edge trick) — per oriented edge the closing
    * count is |N⁺(a) ∩ N⁺(b)| via the map-side sorted-array intersect, so
    * every triangle is counted exactly once and the Σdeg² wedge set is
    * never materialized; the wedge DENOMINATOR needs only Σ deg(deg−1)/2,
    * a fold over the |V|-row degree table (deg·(deg−1) is even, so the
    * halving is exact integer division). DECIMAL(38,0)/HUGEINT on the
    * fold lanes: Σdeg² at a 100 TB catalog passes int64. */
  def transitivity(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val e = stagedEdges(spark, dir)
    // r12: degree table off the staged adjacency (degree = #distinct
    // neighbors = size(ns); the edge list is distinct pairs, so this
    // equals the explode-groupBy it replaces)
    val deg = degFromAdj(stagedAdj(spark, dir))
    // r14: the triangle NUMERATOR is Σ size over the shared staged
    // apex-edge frame ([[stagedTriEdges]] — every triangle appears in
    // exactly one row), replacing this query's own orientation +
    // adjacency + intersect re-run
    val triTotal = stagedTriEdges(spark, dir)
      .agg(coalesce(sum(expr("CAST(size(tris) AS DECIMAL(38,0))")), lit(0))
        .as("n_triangles"))
    val degSums = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("CAST(CAST(deg AS DECIMAL(38,0)) * (deg - 1) div 2 AS DECIMAL(38,0))"))
        .as("n_wedges"))
    val edgeCount = e.agg(count(lit(1)).as("n_edges"))
    degSums.crossJoin(edgeCount).crossJoin(triTotal)
      .select(
        col("n_nodes"), col("n_edges"),
        col("n_wedges").cast("bigint").as("n_wedges"),
        col("n_triangles").cast("bigint").as("n_triangles"),
        expr("CAST(3 * n_triangles * 1000000 div n_wedges AS BIGINT)")
          .as("transitivity_ppm"))
  }

  private val transitivitySql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT node, COUNT(*) AS deg FROM (
      |          SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) n GROUP BY 1),
      |oriented AS (
      |  SELECT
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb) THEN pa ELSE pb END AS src,
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb) THEN pb ELSE pa END AS dst
      |  FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb),
      |wedges AS (
      |  SELECT w1.src, w1.dst AS d1, w2.dst AS d2
      |  FROM oriented w1 JOIN oriented w2 ON w1.src = w2.src AND w1.dst < w2.dst),
      |tri AS (SELECT COUNT(*) AS n_triangles
      |        FROM wedges w JOIN e ON e.pa = w.d1 AND e.pb = w.d2),
      |ds AS (SELECT COUNT(*) AS n_nodes,
      |         SUM(CAST(deg AS HUGEINT) * (deg - 1) // 2) AS n_wedges
      |       FROM deg),
      |ec AS (SELECT COUNT(*) AS n_edges FROM e)
      |SELECT ds.n_nodes, ec.n_edges,
      |  CAST(ds.n_wedges AS BIGINT) AS n_wedges,
      |  CAST(tri.n_triangles AS BIGINT) AS n_triangles,
      |  CAST(3 * CAST(tri.n_triangles AS HUGEINT) * 1000000 // ds.n_wedges AS BIGINT)
      |    AS transitivity_ppm
      |FROM ds, ec, tri
      |ORDER BY n_nodes""".stripMargin

  // ------------------------------------------ resource-allocation index

  private val RaTopK = 5
  private val RaCenterCap = 24

  /** §8p(cp) — resource-allocation link prediction (Zhou/Lü/Zhang 2009):
    * RA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/deg(w), served as each node's top-5
    * candidates. The high-degree twin of [[jaccardNeighbors]]: where
    * Jaccard treats every common neighbor equally, RA discounts hub
    * centers by their degree — a shared whale SKU says almost nothing, a
    * shared niche part says a lot. The weight is the NANO-scaled integer
    * `10⁹ div deg(center)` (integer division is deterministic in both
    * engines — no float enters the pipeline), summed per candidate pair,
    * so scores are exact integers end-to-end. Same scale shape as the
    * Jaccard family: wedge pairs explode map-side from each center's
    * capped sorted adjacency (the [[JaccCenterCap]]-style whale guard,
    * deterministic lowest-id undercount mirrored in the oracle — centers
    * with deg ≤ cap are exact), one pair-keyed shuffle, WindowGroupLimit
    * top-k per node. The center's FULL degree sets the weight; the cap
    * bounds only which pairs it votes on. */
  /** r11 perf form (same results, hash-verified): the wedge votes carry a
    * PACKED single-long pair key (a·2³² + b — one long hashes/shuffles
    * cheaper than a two-long struct through the 55M-row-at-sf1
    * aggregate), and the per-node ranking triple (ra_nano DESC,
    * common DESC, cand ASC) packs exactly into one long score
    * ra_nano·1024 + common — the WindowGroupLimit's partial map-side
    * sort compares 3 longs instead of 4 columns. Both packings carry
    * in-plan raise_error GUARDS on their domain bounds (partkey < 2³²;
    * common < 1024): a corpus that outgrows either domain — ids past
    * 4.3 B, or a pair co-listed by 1024+ capped centers — fails LOUDLY
    * instead of silently aliasing keys or inverting ranks, since the
    * small-SF oracle gate can't witness those regimes. The bounded-heap
    * exec was measured here and REJECTED (sf1 19.2 → 37.8 s: per-row
    * interpreted key projection loses to the codegen'd sort on the
    * many-small-groups shape — pitfall re-confirmed; the heap stays for
    * few-keys × huge candidate sets like the ANN probes). */
  def resourceAllocation(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // r14 (opt): the capped wedge explode + pair-keyed aggregate is the
    // shared staged frame ([[stagedWedgePairs]] — the same build this
    // query ran inline per run, now paid once per corpus state and
    // shared with graph_jaccard_neighbors)
    val pairs = stagedWedgePairs(spark, dir)
    // UNSIGNED unpack: for x in [2^31, 2^32) the pack x·2^32 + y wraps
    // the long negative; bits are still exactly (x | y), but an
    // arithmetic shiftright would smear the sign into the high word and
    // alias node = x − 2^32. shiftrightunsigned recovers x over the
    // guard's FULL [0, 2^32) domain (and y > x in the sorted wedge, so
    // the y-guard alone bounds both halves).
    val directed = pairs
      .select(shiftrightunsigned(col("ab"), 32).as("node"),
        col("ab").bitwiseAND(lit(4294967295L)).as("cand"),
        col("common"), col("ra_nano"))
      .unionByName(pairs.select(col("ab").bitwiseAND(lit(4294967295L)).as("node"),
        shiftrightunsigned(col("ab"), 32).as("cand"), col("common"), col("ra_nano")))
      .withColumn("score", expr(
        "CASE WHEN common < 1024 THEN ra_nano * 1024 + common " +
        "ELSE CAST(raise_error('graph_resource_allocation: common exceeds the 10-bit packed-score domain') AS BIGINT) END"))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("score").desc, col("cand"))
    directed.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= RaTopK)
      .select(col("node"), col("rank"), col("cand"), col("common"), col("ra_nano"))
  }

  private val resourceAllocationSql =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
       |adj AS (SELECT src, list_sort(list(dst)) AS full_ns FROM sym GROUP BY 1),
       |capped AS (SELECT 1000000000 // LEN(full_ns) AS w, full_ns[1:$RaCenterCap] AS ns
       |           FROM adj),
       |wedges AS (
       |  SELECT ns[i.i] AS a, ns[j.j] AS b, w
       |  FROM capped,
       |    UNNEST(generate_series(1, LEN(ns))) AS i(i),
       |    UNNEST(generate_series(1, LEN(ns))) AS j(j)
       |  WHERE i.i < j.j),
       |pairs AS (SELECT a, b, COUNT(*) AS common, CAST(SUM(w) AS BIGINT) AS ra_nano
       |          FROM wedges GROUP BY 1, 2),
       |directed AS (
       |  SELECT a AS node, b AS cand, common, ra_nano FROM pairs
       |  UNION ALL SELECT b, a, common, ra_nano FROM pairs),
       |ranked AS (
       |  SELECT node, cand, common, ra_nano,
       |    ROW_NUMBER() OVER (PARTITION BY node
       |      ORDER BY ra_nano DESC, common DESC, cand) AS rank
       |  FROM directed)
       |SELECT node, rank, cand, common, ra_nano FROM ranked WHERE rank <= $RaTopK
       |ORDER BY node, rank""".stripMargin

  // ------------------------------------------------ sampled closeness

  private val ClosenessHop = 3
  private val ClosenessSeeds = 32 // fixed seed budget (error ~ 1/√k)

  /** §8p(cx) — sampled bounded-hop closeness centrality: for a
    * deterministic FIXED-BUDGET source sample (the [[ClosenessSeeds]]
    * nodes ranking first by md5 hash — a uniform draw any engine
    * reproduces), the reach, total distance, and harmonic centrality
    * within [[ClosenessHop]] hops of the co-purchase graph. Exact
    * closeness is an all-sources BFS (|V|² state — never at scale); the
    * standard estimator samples the sources and bounds the radius, and a
    * FIXED seed count — not a fixed fraction — is what keeps the
    * multi-source state k·|V| instead of |V|²/mod as the graph grows
    * (the first cut of this operator sampled 5% and melted down 30× at
    * sf0.1: fraction sampling scales the seed set WITH the graph, which
    * re-creates the all-sources blowup it was supposed to avoid).
    * Harmonic sums ride exact integers (10⁶ div hop is exact); no float
    * anywhere.
    *
    * Scale shape: seed pick = one hash-rank top-k (TakeOrdered, no
    * global sort); then a MULTI-source frontier — state (seed, node),
    * ≤ k·|V| — expanded by K joins against the staged, persisted edge
    * list (frontier lineage truncated per round like [[bfsHops]]); one
    * final (seed) aggregate. */
  /** r14 (opt) — BITMASK multi-source BFS (guide §2.3, the extreme form
    * of "narrower types"): the (seed, node) pair state was up to
    * k·|V| rows and the hop-k expansion joined the frontier's pairs
    * against sym — Σ_frontier deg(node) intermediate rows (tens of
    * millions at sf0.1 by hop 3) followed by a wide DISTINCT. With a
    * fixed [[ClosenessSeeds]] = 32 budget the whole per-node state packs
    * into ONE long bitmask: per hop the join output is exactly |sym|
    * rows whatever the frontier, the aggregate is a bit_or, and "newly
    * reached at hop k" is `inmask & ~old` — each seed's exact BFS
    * distance because bits propagate one hop per round. Per-hop per-seed
    * counts come off a 32-column popcount aggregate (one 1-row collect
    * per hop — bounded like the HITS renorm); the final frame is exact
    * integer arithmetic over those counts, bit-identical to the pair
    * form (spec-pinned in StagedFramesSpec, oracle unchanged). Measured
    * sf0.1 min-of-3: 3.56 → 1.0 s. */
  def closeness(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    import spark.implicits._
    val adj = stagedAdj(spark, dir)
    val sym = Cached.track(symFromAdj(adj)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the deterministic fixed-budget seed draw (hash-rank top-k), landed
    // to the driver: 32 rows by construction — the centroid discipline
    val seedRows: Array[Long] = adj.select(col("node"))
      .withColumn("hx", graft.plans.VectorExpressions.hexPrefix(
        md5(col("node").cast("string")), 8))
      .orderBy(col("hx"), col("node")).limit(ClosenessSeeds)
      .select(col("node").cast("long")).collect().map(_.getLong(0))
    var state = Cached.track(seedRows.zipWithIndex.toSeq
      .map { case (n, j) => (n, 1L << j) }.toDF("node", "mask")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bits = seedRows.indices
    // per hop: (hop, per-seed newly-reached counts)
    val hopCounts = (1 to ClosenessHop).map { k =>
      val msg = sym.join(state.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(expr("bit_or(mask)").as("inmask"))
      val next = Cached.track(state.withColumnRenamed("mask", "old")
        .join(msg, Seq("node"), "full_outer")
        .select(col("node"),
          expr("coalesce(old, 0L) | coalesce(inmask, 0L)").as("mask"),
          expr("coalesce(inmask, 0L) & ~coalesce(old, 0L)").as("nb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val aggCols = bits.map(j => sum(expr(s"(nb >> $j) & 1L")).as(s"c$j"))
      val row = next.agg(aggCols.head, aggCols.tail: _*).head()
      state = Cached.track(next.select(col("node"), col("mask"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      k -> bits.map(j => row.getLong(j)).toArray
    }
    val out = seedRows.zipWithIndex.map { case (seed, j) =>
      val reached = 1L + hopCounts.map(_._2(j)).sum
      val sumDist = hopCounts.map { case (k, c) => k.toLong * c(j) }.sum
      val harmonic = hopCounts.map { case (k, c) => (1000000L / k) * c(j) }.sum
      (seed, reached, sumDist, harmonic)
    }.toSeq
    out.toDF("seed", "n_reached", "sum_dist", "harmonic_ppm")
  }

  private val closenessSql = {
    def level(k: Int) =
      s"""n$k AS (SELECT DISTINCT f.seed, s.dst AS node FROM sym s JOIN f${k - 1} f ON s.src = f.node),
         |f$k AS (SELECT seed, node FROM n$k EXCEPT SELECT seed, node FROM v${k - 1}),
         |v$k AS (SELECT seed, node, hop FROM v${k - 1} UNION ALL SELECT seed, node, $k FROM f$k)"""
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
       |seeds AS (SELECT node FROM (SELECT DISTINCT src AS node FROM sym)
       |          ORDER BY ${graft.functions.DuckSql.hexToLong("md5(CAST(node AS VARCHAR))")}, node
       |          LIMIT $ClosenessSeeds),
       |f0 AS (SELECT node AS seed, node FROM seeds),
       |v0 AS (SELECT seed, node, 0 AS hop FROM f0),
       |${(1 to ClosenessHop).map(level).mkString(",\n")}
       |SELECT seed, COUNT(*) AS n_reached, CAST(SUM(hop) AS BIGINT) AS sum_dist,
       |  CAST(SUM(CASE WHEN hop > 0 THEN 1000000 // hop ELSE 0 END) AS BIGINT) AS harmonic_ppm
       |FROM v$ClosenessHop GROUP BY 1 ORDER BY seed""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "graph_closeness" -> Q(closeness _, closenessSql, Seq(col("seed"))),
    "graph_assortativity" -> Q(assortativity _, assortativitySql, Seq(col("n_edges"))),
    "graph_transitivity" -> Q(transitivity _, transitivitySql, Seq(col("n_nodes"))),
    "graph_resource_allocation" -> Q(resourceAllocation _, resourceAllocationSql,
      Seq(col("node"), col("rank"))),
    "graph_label_prop" -> Q(labelProp _, labelPropSql,
      Seq(col("n_members").desc, col("community"))),
    "graph_hits" -> Q(hits _, hitsSql,
      Seq(col("auth_scaled").desc, col("hub_scaled").desc, col("p_partkey"))),
    "graph_triangles" -> Q(triangles _, trianglesSql,
      Seq(col("n_triangles").desc, col("p_partkey"))),
    "graph_triangles_capped" -> Q((s, d) => trianglesCapped(s, d, CapK),
      trianglesCappedSql(CapK), Seq(col("p_partkey"))),
    "graph_ppr" -> Q(pagerankPersonalized _, pagerankPersonalizedSql,
      Seq(col("ppr_scaled").desc, col("p_partkey"))),
    "graph_pagerank" -> Q(pagerank _, pagerankSql,
      Seq(col("rank_scaled").desc, col("p_partkey"))),
    "graph_pagerank_served" -> Q(pagerankServed _, pagerankSql,
      Seq(col("rank_scaled").desc, col("p_partkey"))),
    "graph_components" -> Q(components _, componentsSql,
      Seq(col("n_parts").desc, col("comp_id"))),
    "graph_bfs_hops" -> Q(bfsHops _, bfsHopsSql, Seq(col("hop"))),
    "graph_sssp_bounded" -> Q(ssspBounded _, ssspSql, Seq(col("node"))),
    "graph_pagerank_weighted" -> Q(pagerankWeighted _, pagerankWeightedSql,
      Seq(col("rank_scaled").desc, col("p_partkey"))),
    "graph_kcore" -> Q(kcore _, kcoreSql, Seq(col("node"))),
    "graph_degree_hist" -> Q(degreeHist _, degreeHistSql, Seq(col("deg"))),
    "graph_negative_samples" -> Q(negativeSamples _, negativeSamplesSql,
      Seq(col("node"), col("draw"))),
    "graph_jaccard_neighbors" -> Q(jaccardNeighbors _, jaccardNeighborsSql,
      Seq(col("node"), col("rank"))),
  )
}
