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

  test("per-day grains: a day whose counters all decrement to 0 keeps a row carrying its err") {
    val day = date_format(col("ts"), "yyyy-MM-dd")
    val summary = TopFreq.build(events, col("user_id"), day, 8).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val err = summary.map { case ((d, _), (_, e)) => d -> e }
    val perDay = events.groupBy(day.as("day"), col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(err.keySet == perDay.keySet.map(_._1), "a day lost its summary")
    perDay.foreach { case ((d, u), n) =>
      val est = summary.get((d, u)).fold(0L)(_._1)
      assert(est <= n && est >= n - err(d), s"$d user $u: estimate $est, true count $n, err ${err(d)}")
    }
    // the day seen to vanish: every counter ties with the 9th count there
    assert(perDay(("2024-01-14", 13L)) == 2L)
    assert(err("2024-01-14") >= 2L)
  }

  test("capacity covering every key makes the summary exact") {
    val (est, err) = summary(exact.size + 1)
    assert(err == 0L)
    assert(est == exact)
  }
}
