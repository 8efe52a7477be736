package graft.pipeline

import java.nio.file.Files

import graft.TestSpark
import graft.operators.ObservationQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Aggregate-cache rebuild: summaries agree with direct recomputation,
  * rebuilds swap atomically, and a crash-leftover backup restores. */
class AggCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val obs =
    ObservationQueries.observations(spark, TestSpark.Sf0001).localCheckpoint()

  test("summaries match direct recomputation") {
    val dir = TestSpark.tempDir("graft-cache").toString + "/cache"
    AggCache.rebuild(obs, dir)
    val cc = AggCache.read(spark, dir, "concept_counts")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = obs.groupBy("concept_path")
      .agg(count(lit(1)), countDistinct(col("patient_num")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cc == direct && cc.nonEmpty)
    val pc = AggCache.read(spark, dir, "patient_counts")
    assert(pc.agg(sum("n_obs")).collect().head.getLong(0) == obs.count())
    val ns = AggCache.read(spark, dir, "numeric_stats").collect()
    assert(ns.nonEmpty)
  }

  test("second rebuild replaces the cache in place") {
    val dir = TestSpark.tempDir("graft-cache2").toString + "/cache"
    AggCache.rebuild(obs, dir)
    val half = obs.where(col("patient_num") % 2 === 0).localCheckpoint()
    AggCache.rebuild(half, dir)
    val pc = AggCache.read(spark, dir, "patient_counts")
    assert(pc.agg(sum("n_obs")).collect().head.getLong(0) == half.count())
    // no stray tmp/old directories survive a clean rebuild
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles().map(_.getName).toSet == Set("cache"))
  }

  test("a crash between the two swap renames is recoverable on read") {
    val base = TestSpark.tempDir("graft-cache3").toString
    val dir = s"$base/cache"
    AggCache.rebuild(obs, dir)
    // simulate the crash window: target renamed away, tmp never arrived
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir.old")))
    val pc = AggCache.read(spark, dir, "patient_counts")
    assert(pc.count() > 0)
    assert(new java.io.File(dir).exists()) // restored in place
  }

  test("a failing summary leaves the live cache intact") {
    val base = TestSpark.tempDir("graft-cache4").toString
    val dir = s"$base/cache"
    AggCache.rebuild(obs, dir)
    def snapshot() = AggCache.Tables.map(t => t -> AggCache.read(spark, dir, t).collect().toSet).toMap
    val before = snapshot()
    // a non-numeric num_value: the counts still build, but numeric_stats'
    // decimal cast fails under ANSI
    import spark.implicits._
    val bad = Seq((1L, "c", "not-a-number")).toDF("patient_num", "concept_path", "num_value")
    intercept[Exception](AggCache.rebuild(bad, dir))
    assert(snapshot() == before)
    AggCache.rebuild(obs, dir)
    assert(new java.io.File(base).listFiles().map(_.getName).toSet == Set("cache"))
  }
}
