package graft.plans

import graft.TestSpark
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SubqueryExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BloomPruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mightContain: no false negatives, thresholded false positives") {
    val build = (1L to 1000L).filter(_ % 3 == 0).toDF("k")
    val sketch = BloomPrune.sketch(build, col("k"), expectedItems = 1000, fpp = 0.01)
    val probed = (1L to 1000L).toDF("k")
      .withColumn("hit", BloomPrune.mightContain(spark, sketch, col("k")))
      .as[(Long, Boolean)].collect()
    // every build key must hit (bloom has no false negatives)
    assert(probed.filter(_._1 % 3 == 0).forall(_._2))
    // false-positive rate on the complement stays near the configured 1%
    val others = probed.filter(_._1 % 3 != 0)
    assert(others.count(_._2) <= others.length / 20, s"${others.count(_._2)} fps")
  }

  test("prunedSemiJoin is exact: identical to the plain semi-join") {
    val probe = (1L to 5000L).map(i => (i, i % 7)).toDF("k", "v")
    val build = (1L to 5000L).filter(i => i % 11 == 0).toDF("bk")
    val got = BloomPrune.prunedSemiJoin(spark, probe, col("k"), build, col("bk"), 1000)
      .orderBy("k").as[(Long, Long)].collect().toSeq
    val want = probe.join(build, col("k") === col("bk"), "left_semi")
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("the might_contain predicate prunes at the probe scan, before the join") {
    // a LocalRelation probe would let ConvertToLocalRelation fold the
    // filter away at plan time — use the real parquet scan
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val t = graft.sources.Tables(TestSpark.Sf0001)
    val build = t.orders.where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val plan = BloomPrune.prunedSemiJoin(spark, t.lineitem, col("l_orderkey"),
        build, col("o_orderkey"), expectedItems = 10000)
      .queryExecution.executedPlan.toString
    val filterAt = plan.indexOf("might_contain")
    val joinAt = plan.indexOf("Join")
    assert(filterAt >= 0, plan)
    // physical plans print top-down: the Filter must sit BELOW the join
    // (deeper = later index) on the probe branch
    assert(joinAt >= 0 && filterAt > joinAt, plan)
  }

  test("one sketch aggregation per call: the inferred build-side filter reuses the subquery") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val t = graft.sources.Tables(TestSpark.Sf0001)
    val build = t.orders.where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val df = BloomPrune.prunedSemiJoin(spark, t.lineitem, col("l_orderkey"),
        build, col("o_orderkey"), expectedItems = 10000)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val subqueries = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
      case _: SubqueryExec => "run"
      case _: ReusedSubqueryExec => "reused"
    }
    // the probe-side filter and the one Spark infers onto the broadcast
    // side through the join key: one sketch subquery run, one reuse
    assert(subqueries.sorted == Seq("reused", "run"), plan.toString)
  }
}
