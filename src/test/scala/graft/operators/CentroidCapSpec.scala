package graft.operators

import graft.TestSpark
import graft.plans.VectorExpressions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r10 cap on the seed-centroid family's k ∝ corpus rule:
  * `scaledK(n) = min(CentroidCap, max(NCentroids, n / CentroidOccupancy))`.
  * Proves (a) cap-binding equivalence — below the cap boundary the capped
  * rule is BIT-IDENTICAL to the r09 uncapped rule, so every committed
  * oracle hash and anchor is untouched at verification scales; (b) the
  * cap binds exactly at `CentroidCap × CentroidOccupancy` vectors and
  * holds to Long.MaxValue; (c) the SQL twin carries the same three-way
  * expression; (d) the per-dir centroid memo returns the identical
  * collected structure without re-running the sizing scan; (e) the coarse
  * quantizer is flat — corpus assignment is the kernel argmax and probe
  * ranking the kernel's (cos desc, id asc) sort. */
class CentroidCapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def uncapped(n: Long): Long =
    math.max(AnnQueries.NCentroids.toLong, n / AnnQueries.CentroidOccupancy)

  test("floor region: tiny corpora keep the 8-centroid harness") {
    for (n <- Seq(0L, 1L, 500L, 2000L, 2249L))
      assert(AnnQueries.scaledK(n) === AnnQueries.NCentroids.toLong, s"n=$n")
  }

  test("linear region: k tracks occupancy exactly") {
    assert(AnnQueries.scaledK(2500L) === 10L)
    assert(AnnQueries.scaledK(250L * 1000) === 1000L)
    assert(AnnQueries.scaledK(250L * 65536 - 1) === 65535L)
  }

  test("cap-binding equivalence: identical to the r09 uncapped rule below the boundary") {
    val boundary = AnnQueries.CentroidCap.toLong * AnnQueries.CentroidOccupancy
    val probes = Seq(0L, 8L, 2000L, 20000L, 200000L, boundary / 2, boundary - 1, boundary)
    for (n <- probes)
      assert(AnnQueries.scaledK(n) === uncapped(n), s"n=$n diverges below/at the boundary")
  }

  test("cap region: k pinned at CentroidCap from the boundary up") {
    val boundary = AnnQueries.CentroidCap.toLong * AnnQueries.CentroidOccupancy
    for (n <- Seq(boundary, boundary + 1, boundary * 100, Long.MaxValue))
      assert(AnnQueries.scaledK(n) === AnnQueries.CentroidCap.toLong, s"n=$n")
  }

  test("SQL twin carries the same capped three-way expression") {
    assert(AnnQueries.scaledKSql ===
      s"LEAST(${AnnQueries.CentroidCap}, GREATEST(${AnnQueries.NCentroids}, " +
        s"COUNT(*) // ${AnnQueries.CentroidOccupancy}))")
  }

  test("centroid memo: second call returns the cached structure for the same dir") {
    val t = graft.sources.Tables(dir)(spark)
    val first = AnnQueries.centroids(spark, t)
    val second = AnnQueries.centroids(spark, t)
    assert(first eq second, "per-dir memo must return the identical collected array")
    assert(first.length === AnnQueries.scaledK(
      spark.read.parquet(s"$dir/embeddings.parquet").count()).toInt)
  }

  test("centroid memo: a rewritten embeddings table invalidates the cached vintage") {
    val tmp = TestSpark.tempDir("graft_memo").toString
    val src = spark.read.parquet(s"$dir/embeddings.parquet")
    src.write.parquet(s"$tmp/embeddings.parquet")
    val t = graft.sources.Tables(tmp)(spark)
    val first = AnnQueries.centroids(spark, t)
    // rewrite the table with shifted ids: same row count, different
    // content and mtime — the stale-memo scenario ADVICE flagged (a
    // streaming archive growing/rewriting within one JVM)
    val shifted = src.withColumn("vec_id", col("vec_id") + 1)
    shifted.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val second = AnnQueries.centroids(spark, t)
    assert(!(first eq second), "memo must drop the stale vintage")
    assert(second.map(_._1).min === 1L, "refreshed centroids read the new content")
    val third = AnnQueries.centroids(spark, t)
    assert(second eq third, "unchanged table memoizes again")
  }

  private def emb = {
    VectorExpressions.register(spark)
    spark.read.parquet(s"$dir/embeddings.parquet")
  }

  private def vectors: Array[(Long, Array[Float])] = {
    import spark.implicits._
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
  }

  /** Cell ids by (cos desc, id asc), cosines in the kernel's arithmetic. */
  private def ranked(v: Array[Float], cs: Seq[Array[Float]]): Seq[Int] = {
    def cos(c: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < math.min(v.length, c.length)) {
        val x = v(i).toDouble; val y = c(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    cs.indices.sortBy(j => (-cos(cs(j)), j))
  }

  test("flat assignment: assignNearest is the kernel argmax") {
    val vs = vectors
    val cs = vs.sortBy(_._1).take(8).map(_._2).toSeq
    val got = AnnQueries.assignNearest(emb, cs)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === vs.map { case (id, v) => id -> ranked(v, cs).head }.toMap && got.nonEmpty)
  }

  test("flat probe ranking: probeTopC ranks cells by cosine") {
    import spark.implicits._
    val vs = vectors
    val cs = vs.sortBy(_._1).take(16).map(_._2).toSeq
    val got = emb.withColumn("top_c", AnnQueries.probeTopC(cs))
      .select(col("vec_id"), expr("transform(top_c, x -> x.idx)").as("cells"))
      .as[(Long, Seq[Int])].collect().toMap
    val nprobe = 2 // NProbeBuckets
    assert(got === vs.map { case (id, v) => id -> ranked(v, cs).take(nprobe) }.toMap && got.nonEmpty)
  }
}
