package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver recomputes / consistency pins for the r12 queries (each is also
  * DuckDB-oracled at both gate SFs; these catch same-engine regressions
  * without the oracle in the loop). */
class R12QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("events_copresence_topk equals a window-rank recompute over the pair table") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val pairs = MultiIntervalJoin.queries("events_overlapping_stays").fn(spark, sf)
    val directed = pairs.select(col("a_user").as("user_id"), col("b_user").as("partner"),
        col("n_overlap_pairs"))
      .unionByName(pairs.select(col("b_user").as("user_id"), col("a_user").as("partner"),
        col("n_overlap_pairs")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("n_overlap_pairs").desc, col("partner"))
    val want = directed.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select("user_id", "rank", "partner", "n_overlap_pairs")
      .orderBy("user_id", "rank").collect().map(_.toSeq).toSeq
    val got = MultiIntervalJoin.queries("events_copresence_topk").fn(spark, sf)
      .orderBy("user_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("dedup_estimate_calibration equals a driver rollup of dedup_minhash_estimate") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val est = DedupQueries.queries("dedup_minhash_estimate").fn(spark, sf)
      .select("est_pm", "exact_pm", "err_pm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = est.groupBy(_._1 / 100).map { case (dec, rows) =>
      (dec, rows.length.toLong,
        rows.map(_._2).sum / rows.length,
        rows.map(x => math.abs(x._3)).sum / rows.length)
    }.toSeq.sortBy(_._1)
    val got = DedupQueries.queries("dedup_estimate_calibration").fn(spark, sf)
      .orderBy("est_decile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("events_volume_anomaly agrees with a driver lag-7 recompute") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val cnt = graft.sources.Tables(sf).events
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val types = cnt.keys.map(_._1).toSeq.distinct
    val want = (for {
      t <- types
      days = cnt.keys.filter(_._1 == t).map(_._2)
      d <- days.min to days.max
      fcDay = d - 7 if fcDay >= days.min
      x = cnt.getOrElse((t, d), 0L)
      fc = cnt.getOrElse((t, fcDay), 0L)
      dev = math.abs(x - fc) * 1000 / math.max(fc, 1L)
      if dev > 500
    } yield (t, d, x, fc, dev)).sortBy(r => (r._1, r._2))
    val got = EventAnalytics.queries("events_volume_anomaly").fn(spark, sf)
      .orderBy("type", "day").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("mm_scene_segments tile the cut table exactly") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val cuts = MultimodalQueries.queries("mm_scene_cuts").fn(spark, sf)
      .orderBy("doc_id", "frame_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    val want = cuts.groupBy(_._1).toSeq.flatMap { case (doc, fs) =>
      val sorted = fs.sortBy(_._2)
      val withScene = sorted.scanLeft((0L, 0L, 0L, false, 0L)) { case ((_, _, _, _, sc), f) =>
        (f._1, f._2, f._3, f._4, if (f._4) sc + 1 else sc)
      }.tail
      withScene.groupBy(_._5).map { case (scene, rows) =>
        (doc, scene, rows.map(_._2).min, rows.map(_._2).max,
          rows.length.toLong, rows.map(_._3).sum)
      }
    }.sortBy(r => (r._1, r._2))
    // scanLeft starts scenes at 0 for the first frame only if frame 0 is
    // not a cut (delta 0 at frame 0 by construction) — matches the query
    val got = MultimodalQueries.queries("mm_scene_segments").fn(spark, sf)
      .orderBy("doc_id", "scene_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("events_growth_accounting: ledger identities hold and match a driver recompute") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val active = graft.sources.Tables(sf).events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = active.groupBy(_._1).map { case (u, ds) => u -> ds.map(_._2).sorted }
    val maxDay = active.map(_._2).max
    val rows = scala.collection.mutable.Map[Long, Array[Long]]() // day -> new,ret,res,chu
    def cell(d: Long) = rows.getOrElseUpdate(d, Array(0L, 0L, 0L, 0L))
    byUser.foreach { case (_, days) =>
      days.zipWithIndex.foreach { case (d, i) =>
        if (i == 0) cell(d)(0) += 1
        else if (days(i - 1) == d - 1) cell(d)(1) += 1
        else cell(d)(2) += 1
        val nxt = if (i + 1 < days.length) days(i + 1) else Long.MaxValue
        if (nxt > d + 1 && d + 1 <= maxDay) cell(d + 1)(3) += 1
      }
    }
    val want = rows.toSeq.sortBy(_._1)
      .map { case (d, a) => (d, a(0), a(1), a(2), a(3)) }
    val got = EventAnalytics.queries("events_growth_accounting").fn(spark, sf)
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want && got.nonEmpty)
    // ledger identity: Σnew = distinct users (every user is new exactly once)
    assert(got.map(_._2).sum == byUser.size)
  }

  test("text_readability: LIX arithmetic recomputed from raw text") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = graft.sources.Tables(sf).documents
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val want = docs.flatMap { case (id, t) =>
      val sent = t.split("[.!?]+").count(_.trim.nonEmpty).toLong
      val w = t.split("\\s+").filter(_.nonEmpty)
      val long = w.count(_.length >= 7).toLong
      if (sent > 0 && w.nonEmpty)
        Some((id, sent, w.length.toLong, long,
          w.length.toLong * 1000 / sent + long * 100000 / w.length))
      else None
    }.sortBy(_._1).toSeq
    val got = TextQueries.queries("text_readability").fn(spark, sf)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("dedup_source_overlap equals a driver shingle-set recompute") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = graft.sources.Tables(sf).documents
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // same 60-bit md5-prefix hashing as the query (and its oracle)
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    def shingles(t: String): Set[Long] = {
      val w = t.split("\\s+").filter(_.nonEmpty)
      if (w.length >= 3) w.sliding(3).map(g => h60(g.mkString(" "))).toSet
      else Set(h60(w.mkString(" ")))
    }
    val bySource = docs.groupBy(_._1).map { case (src, ds) =>
      src -> ds.flatMap(d => shingles(d._2)).toSet
    }
    val srcs = bySource.keys.toSeq.sorted
    val want = (for {
      a <- srcs; b <- srcs if a < b
      inter = bySource(a).intersect(bySource(b)).size.toLong if inter > 0
      na = bySource(a).size.toLong; nb = bySource(b).size.toLong
    } yield (a, b, inter, na, nb, inter * 1000 / (na + nb - inter)))
      .sortBy(r => (r._1, r._2))
    val got = DedupQueries.queries("dedup_source_overlap").fn(spark, sf)
      .orderBy("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want && got.nonEmpty)
  }
}
