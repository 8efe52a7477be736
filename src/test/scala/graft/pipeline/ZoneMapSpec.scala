package graft.pipeline

import java.sql.Date

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class ZoneMapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Two parquet files with disjoint key ranges: k 1–10 and k 101–110. */
  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft-zm").toString
    val rows = ((1L to 10L) ++ (101L to 110L)).map { k =>
      (k, Date.valueOf(if (k <= 10) "2024-01-15" else "2024-06-15"),
        if (k % 5 == 0) null else s"v$k")
    }
    rows.toDF("k", "d", "s")
      .repartitionByRange(2, col("k"))
      .write.mode("overwrite").parquet(d)
    d
  }

  private lazy val zm = ZoneMap.build(spark.read.parquet(dir), Seq("k", "d", "s")).cache()

  test("per-file stats fold back to exact table-wide stats") {
    assert(zm.select("file").distinct().count() == 2)
    val k = zm.where($"column" === "k")
      .agg(min($"min_value".cast("bigint")), max($"max_value".cast("bigint")),
        sum($"n_rows"), sum($"n_nulls"))
      .as[(Long, Long, Long, Long)].head()
    assert(k == ((1L, 110L, 20L, 0L)))
    val s = zm.where($"column" === "s").agg(sum($"n_nulls")).as[Long].head()
    assert(s == 4L) // k = 5, 10, 105, 110
  }

  test("candidateFiles prunes files whose range cannot match") {
    val lowOnly = ZoneMap.candidateFiles(zm, "k", lit(3L), lit(7L))
    assert(lowOnly.size == 1)
    val highOnly = ZoneMap.candidateFiles(zm, "k", lit(105L), lit(200L))
    assert(highOnly.size == 1 && highOnly != lowOnly)
    val spanning = ZoneMap.candidateFiles(zm, "k", lit(5L), lit(105L))
    assert(spanning.size == 2)
    // gap between the two files: no false positives needed, both pruned
    assert(ZoneMap.candidateFiles(zm, "k", lit(50L), lit(60L)).isEmpty)
  }

  test("candidateFiles works on date columns through the dtype tag") {
    val jan = ZoneMap.candidateFiles(zm, "d",
      lit(Date.valueOf("2024-01-01")), lit(Date.valueOf("2024-01-31")))
    assert(jan.size == 1)
    assert(ZoneMap.candidateFiles(zm, "d",
      lit(Date.valueOf("2023-01-01")), lit(Date.valueOf("2023-12-31"))).isEmpty)
  }

  test("all-null column in a file drops that file; unknown column → empty") {
    val d2 = TestSpark.tempDir("graft-zm-null").toString
    Seq((1L, Option.empty[String]), (2L, None)).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").parquet(d2)
    val zm2 = ZoneMap.build(spark.read.parquet(d2), Seq("s"))
    assert(ZoneMap.candidateFiles(zm2, "s", lit("a"), lit("z")).isEmpty)
    assert(ZoneMap.candidateFiles(zm2, "missing", lit("a"), lit("z")).isEmpty)
  }

  test("prunedParquet reads only candidate files, same rows as a full scan") {
    val pruned = ZoneMap.prunedParquet(spark, dir, zm, "k", lit(101L), lit(200L))
    assert(pruned.inputFiles.length == 1) // low-range file never listed
    val full = spark.read.parquet(dir).where($"k" >= 101L && $"k" <= 200L)
    assert(pruned.select("k").orderBy("k").collect().toSeq ==
      full.select("k").orderBy("k").collect().toSeq)
    assert(ZoneMap.prunedParquet(spark, dir, zm, "k", lit(50L), lit(60L)).count() == 0)
  }

  test("conflicting dtypes for one column are rejected") {
    val bad = Seq(
      ("f1", "k", "BIGINT", "1", "5", 2L, 0L),
      ("f2", "k", "STRING", "a", "b", 2L, 0L))
      .toDF("file", "column", "dtype", "min_value", "max_value", "n_rows", "n_nulls")
    assertThrows[IllegalArgumentException] {
      ZoneMap.candidateFiles(bad, "k", lit(1L), lit(2L))
    }
  }
}
