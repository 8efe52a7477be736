package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r12 streaming twins pinned to their batch queries on sf0.001:
  * daily-volume state → shared forecast tail ≡ `events_forecast_backtest`,
  * and active-day state → shared ledger tail ≡ `events_growth_accounting`. */
class ServingTwinsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------------------------------------- forecast backtest twin

  private lazy val batchEvents: Seq[Event] = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Tables(TestSpark.Sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
  }

  test("streaming dailyVolume + shared tail equals the batch events_forecast_backtest") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // Watermark sized to the replay's disorder (swapped ~5-day chunks →
    // ≤ ~5 days of lateness; 10d tolerates it), sentinel far enough past
    // the last event (wm + 2d) that every real epoch-day window closes
    // and emits in append mode.
    val maxTs = batchEvents.map(_.ts.getTime).max
    val sentinel = Event(-1L, new Timestamp(maxTs + 12L * 86400 * 1000), -1L, "zz_sentinel", 0.0)
    val mem = MemoryStream[Event](spark)
    val q = EventStreams.dailyVolume(mem.toDF(), watermark = "10 days")
      .writeStream.format("memory").queryName("s_dailyvol").outputMode("append").start()
    try {
      // Chunked replay with BOUNDED disorder: adjacent ~3-day chunks swap
      // places (pairwise), so rows arrive out of order but never later
      // than the 10-day watermark tolerates — a full reversal (or
      // half-corpus chunks) would (correctly) drop the early days as
      // late data, which is the watermark doing its job, not the twin.
      val chunks = batchEvents.sortBy(_.ts.getTime).grouped(100).toSeq
      val swapped = chunks.grouped(2).flatMap(_.reverse).toSeq
      swapped.foreach { c => mem.addData(c); q.processAllAvailable() }
      mem.addData(sentinel)
      q.processAllAvailable()
    } finally q.stop()
    // materialize the landed cells into a fresh frame: the memory-sink
    // table feeds both sides of the tail's grid self-join, and Spark's
    // streaming-relation attributes don't dedup across that join
    val landed = spark.table("s_dailyvol").where(col("type") =!= "zz_sentinel")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      .toDF("type", "day", "x")

    // landed cells ≡ the batch daily-count stage (exact integer counts)
    val batchCnt = Tables(TestSpark.Sf0001).events
      .select(col("event_type").as("type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("type", "day").agg(count(lit(1)).as("x"))
    val gotCells = landed.orderBy("type", "day").collect().map(_.toSeq).toSeq
    val wantCells = batchCnt.orderBy("type", "day").collect().map(_.toSeq).toSeq
    assert(gotCells == wantCells && gotCells.nonEmpty)

    // shared tail over the landed cells ≡ the registered batch query
    val got = graft.operators.EventAnalytics.forecastFromDaily(landed)
      .orderBy("type").collect().map(_.toSeq).toSeq
    val want = graft.operators.EventAnalytics.forecastBacktest(spark, TestSpark.Sf0001)
      .orderBy("type").collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("streaming activeDays + shared tail equals the batch events_growth_accounting") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val maxTs = batchEvents.map(_.ts.getTime).max
    val sentinel = Event(-1L, new Timestamp(maxTs + 12L * 86400 * 1000), -1L, "zz_sentinel", 0.0)
    val mem = MemoryStream[Event](spark)
    val q = EventStreams.activeDays(mem.toDF(), watermark = "10 days")
      .writeStream.format("memory").queryName("s_activedays").outputMode("append").start()
    try {
      val chunks = batchEvents.sortBy(_.ts.getTime).grouped(100).toSeq
      val swapped = chunks.grouped(2).flatMap(_.reverse).toSeq
      swapped.foreach { c => mem.addData(c); q.processAllAvailable() }
      mem.addData(sentinel)
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.table("s_activedays").where(col("user_id") =!= -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("user_id", "day")

    // landed cells ≡ the batch distinct (user, day) stage
    val batchCells = Tables(TestSpark.Sf0001).events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val gotCells = landed.orderBy("user_id", "day").collect().map(_.toSeq).toSeq
    val wantCells = batchCells.orderBy("user_id", "day").collect().map(_.toSeq).toSeq
    assert(gotCells == wantCells && gotCells.nonEmpty)

    // shared tail over the landed cells ≡ the registered batch query
    val got = graft.operators.EventAnalytics.growthFromActive(landed)
      .orderBy("day").collect().map(_.toSeq).toSeq
    val want = graft.operators.EventAnalytics.growthAccounting(spark, TestSpark.Sf0001)
      .orderBy("day").collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
  }
}
