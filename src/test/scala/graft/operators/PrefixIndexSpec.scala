package graft.operators

import graft.TestSpark
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

/** The exact incremental join and its staged bucketed index: catalog
  * serving must equal the in-memory operator bit-for-bit, the archive
  * must never shuffle, and the pair set must equal the naive
  * batch×archive answer (exactness across the membership split). */
class PrefixIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("incremental equals naive batch×archive; catalog serving identical; archive never shuffles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    graft.plans.VectorExpressions.register(spark)

    // naive truth: hashed shingle sets, batch×archive, tau = 1/2
    val docs = graft.sources.Tables(TestSpark.Sf0001).documents
    val bucket = graft.plans.VectorExpressions.hexPrefix(md5($"doc_id".cast("string")), 8) % 100
    val hsd = docs
      .withColumn("ww", graft.functions.TextFunctions.words($"text"))
      .withColumn("w", array_distinct(graft.functions.TextFunctions.shingles("ww")))
      .select($"doc_id", (bucket < 80).as("in_index"), explode(array_distinct(
        transform($"w", x => graft.plans.VectorExpressions.hexPrefix(md5(x), 15)))).as("hv"))
    val sz = hsd.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val naive = hsd.where($"in_index").as("a")
      .join(hsd.where(!$"in_index").as("b"), $"a.hv" === $"b.hv")
      .groupBy($"b.doc_id".as("batch_doc"), $"a.doc_id".as("index_doc"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sz.select($"doc_id".as("batch_doc"), $"n".as("n_a")), Seq("batch_doc"))
      .join(sz.select($"doc_id".as("index_doc"), $"n".as("n_b")), Seq("index_doc"))
      .where($"n_inter" * 3 >= ($"n_a" + $"n_b"))
      .select($"batch_doc", $"index_doc", $"n_inter",
        ($"n_a" + $"n_b" - $"n_inter").as("n_union"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(naive.nonEmpty, "membership split should straddle some near-dup pairs")

    val inMem = PrefixJoin.allPairsIncremental(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(inMem == naive)

    // staged catalog index
    val path = TestSpark.tempDir("graft-apidx").toString
    PrefixJoin.persistPrefixIndexBucketed(spark, TestSpark.Sf0001, path, buckets = 4)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val served = PrefixJoin.allPairsIncrementalFromCatalog(spark, TestSpark.Sf0001)
      val plan = served.queryExecution.executedPlan
      val offending = plan.collect { case e: Exchange => e }.filter(e =>
        e.exists { case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("graft-apidx"))
        case _ => false })
      assert(offending.isEmpty, s"index side shuffles:\n$plan")
      assert(served.as[(Long, Long, Long, Long)].collect().toSet == naive)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }
}
