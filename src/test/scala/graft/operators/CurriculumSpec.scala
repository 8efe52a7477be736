package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-recompute pins for the r08 curriculum/data-quality leg:
  * CCNet perplexity buckets, ICT span pairs, temperature mixing, and
  * cluster medoids. */
class CurriculumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  private def md5hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("ppl buckets: value thresholds recomputed from the per-lang score histogram") {
    val rows = TextIndexQueries.queries("docs_ppl_buckets").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, rs) =>
      val n = rs.length
      // t_head / t_mid from the descending cumulative counts, driver-side
      val byScore = rs.groupBy(_._3).view.mapValues(_.length).toSeq.sortBy(-_._1)
      val cum = byScore.scanLeft((Long.MaxValue, 0)) { case ((_, acc), (v, c)) => (v, acc + c) }.tail
      def thr(target: Int): Long = cum.filter(_._2 >= target).map(_._1).max
      val tHead = thr((n + 2) / 3)
      val tMid = thr((2 * n + 2) / 3)
      rs.foreach { case (id, _, pred, bucket) =>
        val want = if (pred >= tHead) "head" else if (pred >= tMid) "middle" else "tail"
        assert(bucket == want, s"doc $id: pred $pred, thresholds ($tHead, $tMid)")
      }
      // the head bucket covers at least a third of the language
      assert(rs.count(_._4 == "head") * 3 >= n)
      // head never scores below tail
      val headMin = rs.filter(_._4 == "head").map(_._3).min
      val tailMax = rs.filter(_._4 == "tail").map(_._3).maxOption.getOrElse(Long.MinValue)
      assert(headMin >= tailMax)
    }
  }

  test("span pairs: exact recompute of deterministic span choice and hashes") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = graft.sources.Tables(dir).documents
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val maxDoc = docs.map(_._1).max
    val W = 32
    val want = docs.flatMap { case (id, text) =>
      val w = text.split("\\s+").filter(_.nonEmpty)
      if (w.length < 2 * W) None
      else {
        val nSpans = w.length / W
        val k = java.lang.Long.parseLong(md5hex(s"q#$id").take(8), 16) % nSpans
        val neg = java.lang.Long.parseLong(md5hex(s"n#$id").take(8), 16) % (maxDoc + 1)
        if (neg == id) None
        else {
          val q = w.slice((k * W).toInt, (k * W).toInt + W)
          val ctx = w.take((k * W).toInt) ++ w.drop((k * W).toInt + W)
          Some((id, k, nSpans.toLong,
            md5hex(q.mkString(" ")), md5hex(ctx.mkString(" ")), neg))
        }
      }
    }.toSet
    val got = CorpusQueries.queries("docs_span_pairs").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getLong(5))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("temperature mix: sqrt re-weighting recomputed; up-samples low-resource langs") {
    val rows = CorpusQueries.queries("docs_temperature_mix").fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val totTokens = rows.map(_._3).sum
    val totW = rows.map(t => math.sqrt(t._3.toDouble)).sum
    rows.foreach { case (_, _, nTok, propPm, temp) =>
      assert(propPm == nTok * 1000 / totTokens)
      assert(math.abs(temp - math.sqrt(nTok.toDouble) / totW) < 1e-5)
    }
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4)
    // the re-weighting flattens: smaller languages gain relative share
    val bySize = rows.sortBy(_._3)
    val gain = bySize.map { case (_, _, nTok, _, temp) =>
      temp / (nTok.toDouble / totTokens) }
    assert(gain.zip(gain.tail).forall { case (a, b) => a >= b - 1e-9 },
      "up-sampling factor must be monotone non-increasing in language size")
  }

  test("rank overlap: RBO recomputed from the two registered top-k rankings") {
    val k = 5
    val coeff = (1 to k).map(m => (m to k).map(d => math.pow(0.5, d) / d).sum)
    val exact = AnnQueries.queries("ann_bruteforce_topk").fn(spark, dir)
      .select("probe_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ivf = AnnQueries.queries("ann_ivf_topk").fn(spark, dir)
      .select("probe_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val probes = exact.keys.map(_._1).toSeq.distinct
    val want = probes.map { p =>
      val matched = exact.keys.filter(_._1 == p).filter(ivf.contains)
      val rbo = matched.toSeq.map { key =>
        coeff((math.max(exact(key), ivf(key)) - 1).toInt) }.sum
      p -> ((matched.size.toLong,
        BigDecimal(rbo).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    val got = AnnQueries.queries("ann_rank_overlap").fn(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    got.foreach { case (p, (n, rbo)) =>
      assert(n == want(p)._1, s"probe $p n_common")
      assert(math.abs(rbo - want(p)._2) < 2e-6, s"probe $p rbo $rbo vs ${want(p)._2}")
      // identical top-k lists cap at 1 - 2^-k
      assert(rbo <= 0.968751)
    }
  }

  test("l-diversity audit matches a driver recompute") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = graft.sources.Tables(dir).documents
      .select("lang", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val want = docs.groupBy { case (lang, _, n) => (lang, n / 100) }
      .map { case ((lang, bucket), rows) =>
        (lang, bucket) -> ((rows.length.toLong, rows.map(_._2).distinct.length.toLong))
      }
    val got = TextQueries.queries("docs_ldiversity_audit").fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    got.foreach { case (key, (n, ns, risk)) =>
      assert((n, ns) == want(key))
      assert(risk == (ns < 3))
    }
  }

  test("cluster medoids: one row per occupied cluster, counts partition the corpus, stable") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val got = AnnQueries.queries("ann_cluster_medoids").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty && got.map(_._1).distinct.length == got.length)
    val corpus = graft.sources.Tables(dir).embeddings.count()
    assert(got.map(_._4).sum == corpus)
    got.foreach { case (_, _, cos, n) => assert(cos <= 1.000001 && n >= 1) }
    // a seed centroid's own vector (vec_id < 8) scores cos 1.0 with its
    // centroid, so every seed's cluster must report cos = 1.0
    got.filter(_._1 < 8).foreach { case (c, _, cos, _) =>
      assert(cos == 1.0, s"cluster $c medoid should be at the centroid")
    }
    val again = AnnQueries.queries("ann_cluster_medoids").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(again.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
  }
}
