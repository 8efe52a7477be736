package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Misra-Gries summary contract: never-overcount, bounded undercount, and
  * φ-heavy-hitter completeness — all against exact counts on the sf0.001
  * events table (key = user_id, one grain over the whole table). */
class TopFreqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  private def events = graft.sources.Tables(dir)(spark).events

  private lazy val exact: Map[Long, Long] = events
    .groupBy("user_id").agg(count(lit(1)).as("n"))
    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def summary(k: Int): (Map[Long, Long], Long) = {
    val m = TopFreq.build(events, col("user_id"), lit("all"), k).collect()
    val err = if (m.isEmpty) 0L else m.head.getLong(3)
    (m.map(r => r.getLong(1) -> r.getLong(2)).toMap, err)
  }

  test("estimates never exceed the true count and undershoot by at most err") {
    val (est, err) = summary(8)
    assert(est.nonEmpty && err > 0)
    est.foreach { case (u, e) =>
      assert(e <= exact(u), s"user $u overcounted")
      assert(e >= exact(u) - err, s"user $u below the error bound")
    }
    // absent keys implicitly estimate 0, which must also satisfy the bound
    (exact.keySet -- est.keySet).foreach { u =>
      assert(exact(u) <= err, s"missing user $u with count above err")
    }
  }

  test("keys with true count above the error ledger are guaranteed present") {
    val (est, err) = summary(8)
    exact.filter(_._2 > err).keys.foreach(u => assert(est.contains(u)))
  }

  test("capacity covering every key makes the summary exact") {
    val (est, err) = summary(exact.size + 1)
    assert(err == 0L)
    assert(est == exact)
  }
}
