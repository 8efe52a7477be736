package graft.sources

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins SURVEY §5's pushdown/pruning claims against actual physical plans. */
class PartitionPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("hive-partitioned layout prunes partitions at the scan") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dir = TestSpark.tempDir("graft-part").toString
    Tables(TestSpark.Sf0001).events
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val q = spark.read.parquet(dir).where(col("event_type") === "view")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    // only the 'view' partition is read
    val files = q.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("event_type=view")))
  }

  test("predicate + projection reach the parquet scan") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val q = Tables(TestSpark.Sf0001).lineitem
      .where(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"), scan)
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), scan)
  }
}
