package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Flat-PQ ADC quality gates. Geometry sweep (measured at sf0.01 against
  * the exact brute-force top-5, recall@5):
  *   (M=4,  K=8,  R=20)  → 0.20
  *   (M=4,  K=16, R=50)  → 0.46
  *   (M=8,  K=16, R=100) → 0.88
  *   (M=8,  K=32, R=100) → 0.96  ← shipped
  * The spec pins a recall floor below the measured value so codebook or
  * shortlist regressions fail loudly. */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  private def topkSet(name: String): Set[(Long, Long)] =
    AnnQueries.queries(name).fn(spark, dir)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("recall@5 vs exact brute force stays above the floor") {
    val exact = topkSet("ann_bruteforce_topk")
    val pq = topkSet("ann_pq_adc")
    assert(exact.nonEmpty && pq.size == exact.size)
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall >= 0.8, f"PQ recall@5 collapsed to $recall%.2f")
  }

  test("reported scores are true cosines (agree with brute force on shared pairs)") {
    val exact = AnnQueries.queries("ann_bruteforce_topk").fn(spark, dir)
      .select("probe_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = AnnQueries.queries("ann_pq_adc").fn(spark, dir)
      .select("probe_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = pq.keySet & exact.keySet
    assert(shared.nonEmpty)
    shared.foreach(k => assert(pq(k) == exact(k),
      s"pair $k: pq score ${pq(k)} != exact ${exact(k)}"))
  }

  test("ivfpq: recall bounded by the bucket stage, not the codes") {
    val exact = topkSet("ann_bruteforce_topk")
    val ivf = topkSet("ann_ivf_topk")
    val ivfpq = topkSet("ann_ivfpq")
    // composition cannot beat its bucket stage...
    val ivfRecall = (ivf & exact).size.toDouble / exact.size
    val ivfpqRecall = (ivfpq & exact).size.toDouble / exact.size
    assert(ivfpqRecall <= ivfRecall + 1e-9)
    // ...and the wide shortlist means the ADC stage loses almost nothing
    // of it (measured 0.52 vs 0.52 at sf0.01)
    assert(ivfpqRecall >= ivfRecall - 0.2,
      f"ADC stage lost too much: ivf $ivfRecall%.2f vs ivfpq $ivfpqRecall%.2f")
  }

  test("exactly k results per probe, ranked descending") {
    val rows = AnnQueries.queries("ann_pq_adc").fn(spark, dir)
      .select("probe_id", "rank", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.length == 5)
      val byRank = g.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val scores = byRank.map(_._3)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("trained-codebook PQ holds the recall floor (measured 0.96 sf0.001 / 0.92 sf0.01)") {
    // one Lloyd step on the codebook is not monotone when the seed
    // baseline is already high (0.90→0.96 at sf0.001, 0.96→0.92 at
    // sf0.01) — the spec pins the floor, not dominance
    val exact = topkSet("ann_bruteforce_topk")
    val trained = topkSet("ann_pq_trained")
    assert(trained.size == exact.size)
    val recall = (trained & exact).size.toDouble / exact.size
    assert(recall >= 0.85, f"trained-PQ recall@5 collapsed to $recall%.2f")
  }

  test("persisted IVF-PQ index reproduces the trained inline search exactly") {
    val path = TestSpark.tempDir("graft-ivfpq").toString + "/index"
    AnnQueries.trainIvfPq(spark, dir, path)
    val fromDisk = AnnQueries.ivfPqTopKFrom(spark, dir, path)
      .collect().map(_.toSeq).toSet
    val inline = AnnQueries.ivfPqTrainedTopK(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(fromDisk.nonEmpty && fromDisk == inline)
  }

  test("persisted PQ code corpus serves ADC search identical to inline encoding") {
    val path = TestSpark.tempDir("graft-pqcodes").toString + "/index"
    AnnQueries.persistPqCorpus(spark, dir, path)
    val served = AnnQueries.pqAdcTopKFrom(spark, dir, path)
      .collect().map(_.toSeq).toSet
    val inline = AnnQueries.queries("ann_pq_adc").fn(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(served.nonEmpty && served == inline)
    // the persisted code table is itself a queryable dataset: one row per
    // corpus vector, M byte-small code columns
    val codes = spark.read.parquet(s"$path/codes")
    val emb = graft.sources.Tables(dir)(spark).embeddings
    assert(codes.count() == emb.count())
    assert(codes.columns.count(_.startsWith("code_")) == 8)
  }

  test("index append: batch-encoded arrivals equal a full re-encode, codes written once each") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions._
    val path = TestSpark.tempDir("graft-ivfpq-app").toString + "/index"
    AnnQueries.trainIvfPq(spark, dir, path)
    val emb = graft.sources.Tables(dir)(spark).embeddings
    // archive first, then two later arrival batches, through the append path
    AnnQueries.encodeWithIndex(spark, emb.where(col("vec_id") % 3 === 0), path)
      .write.mode("overwrite").parquet(s"$path/codes")
    AnnQueries.appendToIvfPqIndex(spark, emb.where(col("vec_id") % 3 === 1), path)
    AnnQueries.appendToIvfPqIndex(spark, emb.where(col("vec_id") % 3 === 2), path)
    val appended = spark.read.parquet(s"$path/codes").collect().map(_.toSeq).toSet
    val full = AnnQueries.encodeWithIndex(spark, emb, path).collect().map(_.toSeq).toSet
    assert(appended == full && appended.size == emb.count())
  }

  test("cluster-partitioned code corpus: a bucket filter prunes files at the scan") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val path = TestSpark.tempDir("graft-ivfpq-part").toString + "/idx"
    AnnQueries.persistIvfPqCorpusPartitioned(spark, dir, path)
    // a two-bucket probe must read exactly two partition directories
    val pruned = spark.read.parquet(s"$path/codes")
      .where(org.apache.spark.sql.functions.col("cluster").isin(2, 5))
    val scan = pruned.queryExecution.executedPlan
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    assert(scan.partitionFilters.nonEmpty, s"no partition filters:\n$scan")
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 pruned partitions, read ${scan.selectedPartitions.partitionCount}")
    // and the full pruned query returns exactly the served rows (layout
    // is invisible to results)
    val prunedRows = AnnQueries.queries("ann_ivfpq_pruned").fn(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val servedRows = AnnQueries.queries("ann_ivfpq_served").fn(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(prunedRows.nonEmpty && prunedRows == servedRows)
  }

  test("trained coarse quantizer keeps ADC-stage recall within the bucket bound") {
    val exact = topkSet("ann_bruteforce_topk")
    val ivfRef = topkSet("ann_ivf_refined")
    val trained = topkSet("ann_ivfpq_trained")
    val refRecall = (ivfRef & exact).size.toDouble / exact.size
    val trainedRecall = (trained & exact).size.toDouble / exact.size
    assert(trainedRecall <= refRecall + 1e-9)
    assert(trainedRecall >= refRecall - 0.2,
      f"trained ADC stage lost too much: ivf_refined $refRecall%.2f vs ivfpq_trained $trainedRecall%.2f")
  }
}
