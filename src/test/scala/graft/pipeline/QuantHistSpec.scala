package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** QuantHist contracts: exact mergeability, covering-bin quantiles with
  * the ≤1/16 relative width bound, unit-exact small values, bounded bins. */
class QuantHistSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic pseudo-random values spanning several octaves
  private def vals(seed: Int, n: Int): Seq[Long] =
    (1 to n).map(i => math.abs((i * 2654435761L + seed * 40503L) % 100000L))

  private def df(xs: Seq[Long], g: String = "g") =
    xs.map(v => (g, v)).toDF("grain", "v")

  test("quantile read returns the covering bin with width <= lo/16") {
    val xs = vals(7, 1000)
    val sorted = xs.sorted
    val summary = QuantHist.build(df(xs), $"v", $"grain")
    val out = QuantHist.quantiles(summary, Seq(500, 900, 990)).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val (q, lo, hi, n) = (r.getAs[Int]("q_pm"), r.getAs[Long]("lo"),
        r.getAs[Long]("hi"), r.getAs[Long]("n"))
      assert(n == xs.size)
      val rank = (n * q + 999) / 1000 // ceil
      val truth = sorted((rank - 1).toInt)
      assert(lo <= truth && truth <= hi, s"q=$q truth=$truth not in [$lo,$hi]")
      if (lo >= 16) assert((hi - lo) * 16 <= lo, s"bin too wide: [$lo,$hi]")
    }
  }

  test("values below 16 bin exactly; per-grain bin count is bounded") {
    val xs = (0L until 16L) ++ Seq(15L, 3L)
    val s = QuantHist.build(df(xs), $"v", $"grain")
      .select($"bin", QuantHist.loOf("bin").as("lo"), QuantHist.hiOf("bin").as("hi"))
      .collect()
    s.foreach { r =>
      assert(r.getAs[Long]("lo") == r.getAs[Long]("bin"))
      assert(r.getAs[Long]("hi") == r.getAs[Long]("bin"))
    }
    // 1M distinct values still land in a bounded bin table
    val many = QuantHist.build((1L to 200000L).map(("g", _)).toSeq.toDF("grain", "v"),
      $"v", $"grain")
    assert(many.count() <= 16 + 16 * 59)
  }

}
