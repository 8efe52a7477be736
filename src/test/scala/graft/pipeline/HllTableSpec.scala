package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HLL register table: exact mergeability, bounded size, insertion-order
  * invariance, and the accuracy of the raw estimate on real data. */
class HllTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(xs: Seq[Long], g: String = "g") =
    xs.map(v => (g, v)).toDF("grain", "k")

  test("register table is bounded, duplicate-insensitive, order-insensitive") {
    graft.plans.VectorExpressions.register(spark)
    val xs = (1L to 2000L)
    val one = HllTable.build(df(xs), $"k", $"grain")
    assert(one.count() <= HllTable.M)
    // duplicates and order change nothing (a distinct sketch must not care)
    val noisy = HllTable.build(df(scala.util.Random.shuffle((xs ++ xs ++ xs).toList)),
      $"k", $"grain")
    assert(one.orderBy("reg").collect().toSeq == noisy.orderBy("reg").collect().toSeq)
  }

  test("raw estimate lands within 3 standard errors on real per-type cardinalities") {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val events = graft.sources.Tables(TestSpark.Sf0001).events
    val est = HllTable.estimate(
        HllTable.build(events, col("user_id"), col("event_type")))
      .collect().map(r => r.getAs[String]("grain") -> r.getAs[Double]("est")).toMap
    val exact = events.groupBy("event_type").agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val se = 1.04 / math.sqrt(HllTable.M) // ≈ 6.5%
    exact.foreach { case (tpe, d) =>
      val e = est(tpe)
      assert(math.abs(e - d) <= 3 * se * d + 3,
        s"$tpe: est $e vs exact $d outside 3se")
    }
  }

}
