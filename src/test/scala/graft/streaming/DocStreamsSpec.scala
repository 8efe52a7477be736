package graft.streaming

import graft.TestSpark
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental dedup/containment scorers, streamed in micro-batches,
  * pinned to their registered batch queries on sf0.001 docs. */
class DocStreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private case class Doc(doc_id: Long, text: String, lang: String)

  private def runStream(name: String, chunks: Seq[Seq[Doc]])
      (transform: DataFrame => DataFrame): DataFrame = {
    val mem = MemoryStream[Doc](spark)
    val q = transform(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("streaming incremental dedup against the persisted index matches the batch twin") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    graft.plans.VectorExpressions.register(spark)
    val idxPath = java.nio.file.Files.createTempDirectory("graft-dedup-idx").toString + "/index"
    graft.operators.DedupQueries.persistDedupIndex(spark, TestSpark.Sf0001, idxPath)
    val sigs = spark.read.parquet(s"$idxPath/signatures")
    val sets = spark.read.parquet(s"$idxPath/shingles")

    // the batch side of the split (md5-bucket >= 80), streamed in chunks
    val bucket = graft.plans.VectorExpressions
      .hexPrefix(md5(col("doc_id").cast("string")), 8) % 100
    val batchDocs = Tables(TestSpark.Sf0001).documents.where(bucket >= 80)
      .select(col("doc_id"), col("text"), col("lang"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(batchDocs.nonEmpty)

    val got = runStream("s_incdedup", batchDocs.grouped(40).toSeq)(
      df => DocStreams.incrementalDedup(df, sigs, sets))
      .select("batch_doc", "index_doc", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val want = graft.operators.DedupQueries.queries("dedup_incremental")
      .fn(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming incremental containment against the persisted rare-shingle catalog matches the batch twin") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    graft.plans.VectorExpressions.register(spark)
    val path = java.nio.file.Files.createTempDirectory("graft-cont-stream").toString
    graft.operators.DedupQueries.persistContainmentIndexBucketed(
      spark, TestSpark.Sf0001, path, buckets = 4, prefix = "cont_stream_idx")
    val rare = spark.table("cont_stream_idx_rare")
    val sets = spark.table("cont_stream_idx_sets")

    val bucket = graft.plans.VectorExpressions
      .hexPrefix(md5(col("doc_id").cast("string")), 8) % 100
    val batchDocs = Tables(TestSpark.Sf0001).documents.where(bucket >= 80)
      .select(col("doc_id"), col("text"), col("lang"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(batchDocs.nonEmpty)

    // replay in micro-batches: per-pair verdicts depend only on the
    // pair's two docs, so the union must be bit-equal to the batch query
    val got = runStream("s_inccont", batchDocs.grouped(35).toSeq)(
      df => DocStreams.incrementalContainment(df, rare, sets))
      .collect().map(_.toSeq).toSet
    val want = graft.operators.DedupQueries.queries("dedup_containment_incremental")
      .fn(spark, TestSpark.Sf0001).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

}
