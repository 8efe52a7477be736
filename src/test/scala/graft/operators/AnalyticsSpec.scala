package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("transitions: every event has exactly one outgoing edge; shares sum to 100 per source") {
    import org.apache.spark.sql.functions._
    val rows = EventAnalytics.queries("events_transitions").fn(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.exists(_._2 == "(end)"))
    // outgoing-edge accounting: per from_type, transition counts sum to the
    // raw event count of that type
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val typeCounts = graft.sources.Tables(TestSpark.Sf0001).events
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (from, edges) =>
      assert(edges.map(_._3).sum == typeCounts(from), s"edge count mismatch for $from")
      val pctSum = edges.map(_._4).sum
      assert(math.abs(pctSum - 100.0) < 0.01, s"$from pct sums to $pctSum")
    }
  }

  test("drift alarm surfaces transitions into types the baseline never saw as (novel)") {
    val spark2 = spark
    import spark2.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-03-01 10:00:00")
    val pairs = Seq(
      ("a", "b", t0), ("a", "b", new java.sql.Timestamp(t0.getTime + 1000)),
      ("a", "zz_new", new java.sql.Timestamp(t0.getTime + 2000))) // type unseen in baseline
      .toDF("from_type", "to_type", "ts")
    val baseline = Seq(("a", "b", 10L), ("a", "(end)", 5L))
      .toDF("from_type", "to_type", "n_transitions")
    val got = EventAnalytics.driftAlarm(pairs, baseline)
      .collect().map(r => (r.getString(2), r.getLong(3), r.getDouble(4), r.getDouble(6))).toList
      .sortBy(_._1)
    // (end) is excluded from the baseline → vocab is {b}: b at 66.67% vs
    // baseline 100% drifts -33.33; the novel type surfaces with share
    // 33.33 and NO baseline (drift = its full share)
    assert(got == List(("(novel)", 1L, 33.3333, 33.3333), ("b", 2L, 66.6667, -33.3333)))
  }

  test("batch driftAlarms baseline: the non-sentinel pair aggregate equals " +
    "the transitions matrix (r14 one-window restructure pin)") {
    // r14 opt: EventAnalytics.driftAlarms derives the baseline from the
    // SAME persisted transitionPairs frame the windowed counts consume
    // (one user-window pass instead of two). driftAlarm filters '(end)'
    // rows and recomputes baseline_pct from n_transitions internally, so
    // the two constructions must be row-identical on (from, to, n).
    import org.apache.spark.sql.functions._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val fromTransitions = EventAnalytics
      .queries("events_transitions").fn(spark, TestSpark.Sf0001)
      .where(col("to_type") =!= "(end)")
      .select(col("from_type"), col("to_type"), col("n_transitions"))
    val fromPairs = EventAnalytics
      .transitionPairs(spark, TestSpark.Sf0001)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    assert(fromTransitions.exceptAll(fromPairs).isEmpty,
      "transitions-derived baseline has rows the pair aggregate lacks")
    assert(fromPairs.exceptAll(fromTransitions).isEmpty,
      "pair aggregate has rows the transitions-derived baseline lacks")
  }

  test("approx_count_distinct estimate lands within the configured rsd") {
    val row = AnalyticsQueries.approxDistinctEstimate(spark, TestSpark.Sf0001).head()
    val approx = row.getLong(0).toDouble
    val exact = Relational.distinctCustomers(spark, TestSpark.Sf0001)
      .head().getLong(0).toDouble
    // rsd 0.02 → allow 5 sigma
    assert(math.abs(approx - exact) / exact < 0.1, s"approx=$approx exact=$exact")
  }

  test("registered approx-distinct readout reports the 3-sigma gate as held") {
    val row = AnalyticsQueries.approxDistinct(spark, TestSpark.Sf0001).head()
    assert(row.getAs[Boolean]("approx_within_bound"),
      s"sketch out of its documented 6% bound: $row")
    assert(row.getAs[Long]("n_customers_exact") > 0)
  }

  test("IVF recall against brute force is within the expected band") {
    import spark.implicits._
    val bf = AnnQueries.bruteForceTopK(spark, TestSpark.Sf0001)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = AnnQueries.ivfTopK(spark, TestSpark.Sf0001)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    // 8 coarse centroids / nprobe=2 over near-random 64-d vectors: recall
    // is structurally limited (~0.5 measured); the spec pins the floor so
    // a broken bucket assignment (recall ≈ nprobe/ncentroids = 0.25 by
    // chance) fails loudly
    assert(recall >= 0.35, s"recall@5 = $recall")
    assert(bf.size == ivf.size)
  }

  test("refined IVF recall is at least as good as the seed-centroid IVF") {
    import spark.implicits._
    val bf = AnnQueries.bruteForceTopK(spark, TestSpark.Sf0001)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame) =
      (bf & df.select("probe_id", "vec_id").as[(Long, Long)].collect().toSet).size.toDouble / bf.size
    val seed = recall(AnnQueries.ivfTopK(spark, TestSpark.Sf0001))
    val refined = recall(AnnQueries.ivfRefinedTopK(spark, TestSpark.Sf0001))
    // one Lloyd step tightens the partition; allow a small tolerance since
    // recall@5 on a tiny corpus is a coarse metric
    assert(refined >= seed - 0.05, s"refined=$refined seed=$seed")
    assert(refined >= 0.35, s"recall@5 = $refined")
  }

  test("as-of join: purchases carry the latest prior view value") {
    import spark.implicits._
    val out = AnalyticsQueries.asofView(spark, TestSpark.Sf0001)
    // every purchase row's last_view_value equals the max-ts view <= purchase ts
    val events = graft.sources.Tables(TestSpark.Sf0001)(spark).events
      .select("user_id", "event_id", "ts", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3), r.getDouble(4)))
    val byUser = events.groupBy(_._1)
    val sample = out.limit(50).collect()
    sample.foreach { r =>
      val (u, eid, ts) = (r.getLong(0), r.getLong(1), r.getTimestamp(2))
      val views = byUser(u).filter(e => e._4 == "view" &&
        (e._3.before(ts) || (e._3 == ts && e._2 <= eid)))
      val expect =
        if (views.isEmpty) null
        else {
          val best = views.maxBy(e => (e._3.getTime, e._3.getNanos, e._2))
          java.lang.Double.valueOf(math.rint(best._5 * 1e6) / 1e6)
        }
      val got = if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4))
      assert(got == expect, s"user=$u event=$eid")
    }
  }
  test("second Lloyd step does not degrade the mean assignment cosine") {
    import org.apache.spark.sql.functions._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    graft.plans.VectorExpressions.register(spark)
    val c1 = AnnQueries.trainRefinedSteps(spark, TestSpark.Sf0001, 1)
    val c2 = AnnQueries.trainRefinedSteps(spark, TestSpark.Sf0001, 2)
    def objective(cents: Seq[Array[Float]]): Double = {
      val arr = array(cents.map(v =>
        graft.plans.VectorExpressions.cosine(col("embedding"), typedlit(v))): _*)
      graft.sources.Tables(TestSpark.Sf0001).embeddings
        .select(avg(array_max(arr))).head.getDouble(0)
    }
    val (o1, o2) = (objective(c1), objective(c2))
    // Lloyd is monotone in exact arithmetic; the integer grid rounds each
    // recenter, so gate on non-degradation within grid tolerance
    assert(o2 >= o1 - 1e-4, s"objective degraded: $o1 -> $o2")
  }

  test("persisted IVF centroids reproduce the refined search exactly") {
    val path = TestSpark.tempDir("graft-ivf-cent").toString + "/centroids"
    AnnQueries.trainIvf(spark, TestSpark.Sf0001, path)
    val fromDisk = AnnQueries.ivfTopKFrom(spark, TestSpark.Sf0001, path)
      .collect().map(_.toSeq).toSet
    val inline = AnnQueries.ivfRefinedTopK(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSet
    assert(fromDisk.nonEmpty && fromDisk == inline)
  }
}
