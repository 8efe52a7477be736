package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mergeable distinct-count sketches (Apache DataSketches HLL via the
  * built-in hll_sketch_agg/hll_union_agg): the 100 TB pattern is
  * "sketch per partition-grain, persist, union on demand" — per-day
  * sketches here, any date-range distinct later, without re-touching the
  * facts. The spec pins the two properties that make that sound:
  * mergeability (union of daily sketches == sketch of the union, within
  * HLL error) and the advertised error bound vs the exact count. */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("per-day HLL sketches union to the global distinct within error") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val ev = graft.sources.Tables(TestSpark.Sf0001).events
    val daily = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    // persistable: the sketch column is bytes — write/read round-trip
    val path = TestSpark.tempDir("graft-hll").toString
    daily.write.mode("overwrite").parquet(path)
    val merged = spark.read.parquet(path)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as("est"))
      .collect()(0).getLong(0)
    val exact = ev.select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(exact > 0)
    val err = math.abs(merged.toDouble - exact) / exact
    assert(err <= 0.05, s"HLL estimate $merged vs exact $exact (err $err)")
    // range query from sketches only: first 10 days
    val firstDays = spark.read.parquet(path).orderBy("day").limit(10)
    val rangeEst = firstDays
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))))
      .collect()(0).getLong(0)
    assert(rangeEst > 0 && rangeEst <= merged + math.max(2L, (merged * 0.05).toLong))
  }
}
