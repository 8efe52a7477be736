package graft.operators

import graft.TestSpark
import graft.functions.TextFunctions.words
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the round-4 training-corpus ring: split-consistency of
  * contamination and incremental dedup, accounting identities of the
  * mixture report and chunk dedup, and bounds on the repetition score. */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  /** The shared md5-bucket split, recomputed independently. */
  private def buckets = {
    graft.plans.VectorExpressions.register(spark)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        (graft.plans.VectorExpressions.hexPrefix(md5(col("doc_id").cast("string")), 8) % 100)
          .as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("contamination: exactly the test-split docs, pct within [0,100] and consistent") {
    val bk = buckets
    val rows = CorpusQueries.queries("text_contamination").fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val expectedTest = bk.filter(_._2 >= 90).keySet
    assert(rows.map(_.getLong(0)).toSet == expectedTest)
    rows.foreach { r =>
      val (n, hit, pct) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(hit <= n && n > 0)
      assert(math.abs(pct - hit * 100.0 / n) < 1e-3)
    }
  }

  test("repetition: bounded, distinct<=total, covers every non-empty doc") {
    val rows = CorpusQueries.queries("text_repetition").fn(spark, dir).collect()
    val nonEmpty = spark.read.parquet(s"$dir/documents.parquet")
      .where(size(words(col("text"))) > 0).count()
    assert(rows.length == nonEmpty)
    rows.foreach { r =>
      val (n, d, pct) = (r.getInt(1), r.getInt(2), r.getDouble(3))
      assert(d <= n && d >= 1)
      assert(pct >= 0.0 && pct <= 100.0)
    }
  }

  test("curriculum: step is the dense global round-robin rank, no global window") {
    val rows = CorpusQueries.queries("docs_curriculum").fn(spark, dir).collect()
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == n)
    // dense permutation 1..N
    val steps = rows.map(_.getLong(4)).sorted
    assert(steps.head == 1L && steps.last == n && steps.distinct.length == n)
    // easy→hard: phase is non-decreasing along the schedule
    val byStep = rows.sortBy(_.getLong(4))
    assert(byStep.map(_.getInt(3)).sliding(2).forall(p => p(0) <= p(1)))
    // the closed form equals the naive global-window rank it replaces:
    // sort by (phase, rn, source) recomputed independently driver-side
    val perKey = scala.collection.mutable.Map.empty[(Int, String), Long]
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md5.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val naive = rows.map { r => (r.getLong(0), r.getInt(3), r.getString(1)) }
      .sortBy { case (id, ph, src) => (ph, src, h(id), id) }
      .map { case (id, ph, src) =>
        val rn = perKey.getOrElse((ph, src), 0L) + 1
        perKey((ph, src)) = rn
        (id, (ph, rn, src))
      }
      .sortBy(_._2).zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    rows.foreach(r => assert(r.getLong(4) == naive(r.getLong(0)),
      s"doc ${r.getLong(0)}: closed-form ${r.getLong(4)} != naive ${naive(r.getLong(0))}"))
  }

  test("importance sample: exactly the docs whose bucket clears their quality") {
    val bk = buckets
    val q = TextQueries.queries("text_quality_score").fn(spark, dir)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = CorpusQueries.queries("docs_importance_sample").fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val expected = q.filter { case (id, qual) =>
      bk(id) < math.floor(qual * 100).toInt }.keySet
    assert(rows.map(_.getLong(0)).toSet == expected)
    rows.foreach(r => assert(r.getInt(3) == math.floor(r.getDouble(2) * 100).toInt))
  }

  test("bpe merges: the distributed trainer reproduces reference BPE exactly") {
    val rows = CorpusQueries.queries("docs_bpe_merges").fn(spark, dir).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    // independent driver-side reference BPE over the same word-freq table
    val wf = scala.collection.mutable.Map.empty[List[String], Long]
    spark.read.parquet(s"$dir/documents.parquet").select(col("text")).collect()
      .flatMap(_.getString(0).split("\\s+")).filter(_.nonEmpty)
      .foreach { w =>
        val k = w.split("").filter(_.nonEmpty).toList
        wf(k) = wf.getOrElse(k, 0L) + 1
      }
    val expected = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to CorpusQueries.BpeMergeRounds) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      wf.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => pc(p) = pc.getOrElse(p, 0L) + f)
      }
      if (pc.nonEmpty) {
        val ((a, b), w) = pc.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
        expected += ((a, b, w))
        val next = scala.collection.mutable.Map.empty[List[String], Long]
        wf.foreach { case (syms, f) =>
          val m = scala.collection.mutable.ListBuffer.empty[String]
          syms.foreach { s =>
            if (m.nonEmpty && m.last == a && s == b) m(m.length - 1) = a + b
            else m += s
          }
          val k = m.toList
          next(k) = next.getOrElse(k, 0L) + f
        }
        wf.clear(); wf ++= next
      }
    }
    assert(rows == expected.result(), s"merge sequences diverge:\n$rows")
    assert(rows.size == CorpusQueries.BpeMergeRounds)
  }

  test("bpe segment: subwords reconstruct every word; stats match the reference segmenter") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import graft.functions.TextFunctions.words
    val merges = CorpusQueries.trainedBpeMerges(spark, dir)
    assert(merges.size == CorpusQueries.BpeMergeRounds)
    // reference segmentation of every distinct word, driver-side
    def refSeg(w: String): List[String] =
      merges.foldLeft(w.split("").filter(_.nonEmpty).toList) { case (syms, (a, b)) =>
        val m = scala.collection.mutable.ListBuffer.empty[String]
        syms.foreach { sym =>
          if (m.nonEmpty && m.last == a && sym == b) m(m.length - 1) = a + b
          else m += sym
        }
        m.toList
      }
    val perDoc = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val ws = r.getString(1).split("\\s+").filter(_.nonEmpty)
        val segs = ws.map(refSeg)
        (r.getLong(0), (ws.length.toLong, segs.map(_.size.toLong).sum, ws.map(_.length.toLong).sum))
      }.toMap
    val rows = CorpusQueries.queries("docs_bpe_segment").fn(spark, dir).collect()
    assert(rows.length == perDoc.count(_._2._1 > 0))
    rows.foreach { r =>
      val (id, got) = (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got == perDoc(id), s"doc $id: engine $got vs reference ${perDoc(id)}")
      // reconstruction holds implicitly: n_chars equals the sum of word
      // lengths AND the reference subwords concat back by construction —
      // assert the engine ratio agrees with the identity
      assert(math.abs(r.getDouble(4) - got._3.toDouble / got._2) < 1e-3)
    }
  }

  test("bpe ids: encoding matches the reference end-to-end, OOV is real") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val merges = CorpusQueries.trainedBpeMerges(spark, dir)
    def refSeg(w: String): List[String] =
      merges.foldLeft(w.split("").filter(_.nonEmpty).toList) { case (syms, (a, b)) =>
        val m = scala.collection.mutable.ListBuffer.empty[String]
        syms.foreach { sym =>
          if (m.nonEmpty && m.last == a && sym == b) m(m.length - 1) = a + b
          else m += sym
        }
        m.toList
      }
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq)
    // reference subword vocab: corpus-frequency ranked, same ties, top-K
    val subFreq = scala.collection.mutable.Map.empty[String, Long]
    texts.flatMap(_._2).foreach(w => refSeg(w).foreach(sb => subFreq(sb) = subFreq.getOrElse(sb, 0L) + 1))
    val vocab = subFreq.toSeq.sortBy { case (sb, n) => (-n, sb) }
      .take(CorpusQueries.SubwordVocabSize).zipWithIndex
      .map { case ((sb, _), i) => sb -> (i + 1L) }.toMap
    val want = texts.filter(_._2.nonEmpty).map { case (id, ws) =>
      val ids = ws.flatMap(w => refSeg(w).map(sb => vocab.getOrElse(sb, 0L)))
      (id, (ws.size.toLong, ids.size.toLong, ids.count(_ == 0L).toLong,
        ids.take(20).mkString(",")))
    }.toMap
    val rows = CorpusQueries.queries("docs_bpe_ids").fn(spark, dir).collect()
    assert(rows.length == want.size)
    rows.foreach { r =>
      val got = (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(got == want(r.getLong(0)), s"doc ${r.getLong(0)}: $got vs ${want(r.getLong(0))}")
    }
    // the truncated vocab must actually produce OOV somewhere
    assert(rows.map(_.getLong(3)).sum > 0)
  }

  test("schedule audit: manifest agrees with its three component mechanisms") {
    val rows = CorpusQueries.queries("docs_schedule_audit").fn(spark, dir).collect()
    val kept = CorpusQueries.queries("docs_importance_sample").fn(spark, dir)
      .collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      assert(r.getBoolean(3) == kept(r.getLong(0)))
      val expect = if (r.getBoolean(3)) r.getLong(5) * r.getInt(4) else 0L
      assert(r.getLong(6) == expect)
    }
    val n = rows.length.toLong
    assert(rows.map(_.getLong(2)).toSet == (1L to n).toSet) // steps stay dense
    assert(rows.exists(!_.getBoolean(3)) && rows.exists(_.getBoolean(3)))
  }

  test("epoch plan: repeats monotone in quality, every tier realized, accounting exact") {
    val rows = CorpusQueries.queries("docs_epoch_plan").fn(spark, dir).collect()
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == n)
    rows.foreach { r =>
      assert(r.getLong(4) == r.getLong(1) * r.getInt(3)) // contribution identity
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 4)
    }
    // monotone: a higher-quality doc never repeats fewer times
    val byQ = rows.sortBy(_.getDouble(2))
    assert(byQ.map(_.getInt(3)).sliding(2).forall(p => p(0) <= p(1)))
    assert(rows.map(_.getInt(3)).distinct.sorted.toSeq == Seq(1, 2, 3, 4))
  }

  test("decontaminate: keeps exactly the train docs sharing no 8-gram with test") {
    val bk = buckets
    import graft.functions.TextFunctions.{shingles, words}
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("w", words(col("text"))).where(size(col("w")) > 0)
      .select(col("doc_id"), shingles("w", 8).as("s")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val testSh = sh.collect { case (id, s) if bk(id) >= 90 => s }
      .foldLeft(Set.empty[String])(_ ++ _)
    val expected = bk.collect { case (id, b)
      if b < 80 && sh.get(id).forall(_.intersect(testSh).isEmpty) => id }.toSet
    val kept = CorpusQueries.queries("docs_decontaminate").fn(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept == expected && kept.nonEmpty)
    // the action must be strictly smaller than the train split (the
    // testdata corpus does contain contaminated twins)
    assert(kept.size < bk.count(_._2 < 80))
  }

  test("chunk dedup: only repeated chunks, doc counts bounded by occurrences") {
    val rows = CorpusQueries.queries("dedup_chunks").fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nOcc) = (r.getLong(1), r.getLong(2))
      assert(nOcc > 1 && nDocs >= 1 && nDocs <= nOcc)
    }
  }

  test("mixture report: doc counts and token shares form a complete partition") {
    val rows = CorpusQueries.queries("docs_mixture_report").fn(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getLong(2)).sum == total)
    val shareSum = rows.map(_.getDouble(5)).sum
    assert(math.abs(shareSum - 100.0) < 0.1)
  }

  test("pack sequences: per-shard offsets are contiguous and account for every token") {
    val rows = CorpusQueries.queries("docs_pack_sequences").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // every doc present exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.groupBy(_._2).foreach { case (shard, docs) =>
      val inOrder = docs.sortBy(_._1)
      // reconstruct each doc's global start offset within the shard from
      // (seq_id, seq_offset) and check strict contiguity in doc_id order
      var expectStart = 0L
      inOrder.foreach { case (docId, _, nTok, seqId, seqOff) =>
        val start = (seqId - shard * 1000000L) * 2048L + seqOff
        assert(start == expectStart, s"shard $shard doc $docId: start $start != $expectStart")
        assert(seqOff >= 0 && seqOff < 2048)
        expectStart += nTok
      }
    }
  }

  test("boilerplate: hits bounded by totals, pct consistent, covers every doc") {
    val rows = CorpusQueries.queries("text_boilerplate").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == nDocs)
    rows.foreach { case (id, n, hits, pct) =>
      assert(n >= 1, s"doc $id has no bigrams")
      assert(hits >= 0 && hits <= n)
      assert(math.abs(pct - math.rint(hits * 100.0 / n * 1e4) / 1e4) < 1e-9)
    }
    // the corpus-wide top-100 table must explain at least SOME occurrences
    assert(rows.map(_._3).sum > 0, "no common-bigram hits anywhere — top table is broken")
  }

  test("incremental packing continues each shard's stream; monotonic ingest equals full repack") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 4 / 5)
    val oldDocs = docs.where(col("doc_id") < cut)
    val newDocs = docs.where(col("doc_id") >= cut)

    val full = CorpusQueries.queries("docs_pack_sequences").fn(spark, dir)
    // the old docs' full-pack rows ARE the pack of the old docs alone
    // (prefix property of id-ordered packing), so they serve as the archive
    val archive = full.where(col("doc_id") < cut)
    val inc = CorpusQueries.packIncrement(archive, newDocs)

    val got = inc.collect().map(_.toSeq).toSet
    val want = full.where(col("doc_id") >= cut).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)

    // and with an arbitrary (non-monotonic) split the union still packs
    // contiguously per shard: every offset accounted, no overlaps
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    val archive2 = CorpusQueries.packIncrement(
      spark.emptyDataFrame.select(lit(0L).as("shard"), lit(0L).as("n_tokens")).limit(0), evens)
    val inc2 = CorpusQueries.packIncrement(archive2, odds)
    val union = archive2.unionByName(inc2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    union.groupBy(_._2).foreach { case (shard, rows) =>
      // old docs (by arrival) first in id order, then new docs in id order
      val evenPart = rows.filter(r => r._1 % 2 == 0).sortBy(_._1)
      val oddPart = rows.filter(r => r._1 % 2 == 1).sortBy(_._1)
      var expect = 0L
      (evenPart ++ oddPart).foreach { case (docId, _, nTok, seqId, seqOff) =>
        val start = (seqId - shard * 1000000L) * 2048L + seqOff
        assert(start == expect, s"shard $shard doc $docId: start $start != $expect")
        expect += nTok
      }
    }
  }

  test("shard skew: totals account for the packed corpus, deviations consistent") {
    val skew = CorpusQueries.queries("docs_shard_skew").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val packed = CorpusQueries.queries("docs_pack_sequences").fn(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))) // (shard, n_tokens)
    assert(skew.map(_._2).sum == packed.length)
    assert(skew.map(_._3).sum == packed.map(_._2).sum)
    val avg = skew.map(_._3).sum.toDouble / skew.length
    skew.foreach { case (shard, _, tot, pct) =>
      assert(math.abs(pct - math.rint((tot - avg) * 100.0 / avg * 1e4) / 1e4) < 1e-6,
        s"shard $shard skew mismatch")
    }
  }

  test("sliding chunks: contiguous indices, full interior windows, exact token coverage") {
    val ntok = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = CorpusQueries.queries("docs_chunk_sliding").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    // every non-empty doc chunked, empty docs absent
    assert(chunks.keySet == ntok.filter(_._2 > 0).keySet)
    chunks.foreach { case (doc, rows) =>
      val byIdx = rows.sortBy(_._2)
      assert(byIdx.map(_._2).toSeq == (0L until byIdx.length.toLong), s"doc $doc gap in chunk_idx")
      // interior windows are always the full 80 tokens; the stride-60
      // placement means the tail window alone may be short
      byIdx.init.foreach { case (_, idx, n) => assert(n == 80L, s"doc $doc chunk $idx short interior") }
      val lastLen = byIdx.last._3
      assert(lastLen >= 1 && lastLen <= 80)
      // stride arithmetic reconstructs the doc's token count exactly:
      // last window starts at (nChunks-1)*60 and runs to the final token
      assert((byIdx.length - 1) * 60L + lastLen == ntok(doc), s"doc $doc coverage broken")
    }
  }

  test("length batches: complete partition, bucket bounds, last-batch-only ragged, waste identity") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val rows = CorpusQueries.queries("docs_length_batches").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._3).sum == total, "batches must partition the corpus")
    rows.foreach { case (bucket, batch, nDocs, maxTok, waste) =>
      assert(nDocs >= 1 && nDocs <= 8)
      assert(maxTok >= bucket * 32 && maxTok < (bucket + 1) * 32, s"bucket $bucket max $maxTok out of band")
      // padding is bounded by the bucket width: every member is within 31
      // tokens of the batch max, so waste < nDocs * 32
      assert(waste >= 0 && waste < nDocs * 32, s"bucket $bucket batch $batch waste $waste")
    }
    rows.groupBy(_._1).foreach { case (bucket, bs) =>
      val byBatch = bs.sortBy(_._2)
      assert(byBatch.map(_._2).toSeq == (0L until byBatch.length.toLong), s"bucket $bucket gap in batch ids")
      // only the final batch of a bucket may be under-full
      byBatch.init.foreach { case (_, b, n, _, _) => assert(n == 8L, s"bucket $bucket batch $b ragged") }
    }
  }

  test("cdc chunks: shift-invariant under a prepend edit; sliding chunks are not") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val edited = docs.withColumn("text", concat(lit("zzz "), col("text")))

    def tailHashes(chunks: org.apache.spark.sql.DataFrame, idCol: String) = chunks
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(r.fieldIndex("chunk_hash"))))
      .groupBy(_._1)
      .map { case (d, rs) => d -> rs.sortBy(_._2).drop(1).map(_._3).toSeq }

    val cdcOrig = tailHashes(CorpusQueries.cdcChunksOf(docs), "chunk_id")
    val cdcEdit = tailHashes(CorpusQueries.cdcChunksOf(edited), "chunk_id")
    // the prepended token can only be absorbed into chunk 0 (cut points are
    // per-token content hashes) — every later chunk's hash must survive.
    // Exception: if "zzz" itself were a cut token it would add one chunk;
    // it is not (verified by the equality below holding for every doc).
    cdcOrig.foreach { case (d, tail) =>
      assert(cdcEdit(d) == tail, s"doc $d: cdc chunks shifted after prepend")
    }
    assert(cdcOrig.exists(_._2.nonEmpty), "no doc has >1 cdc chunk — modulus too big for corpus")

    // the fixed-stride chunker, by contrast, misaligns: the same edit must
    // change (nearly) every window hash of any doc long enough to re-window
    val slideOrig = tailHashes(CorpusQueries.chunksOf(docs), "chunk_idx")
    val slideEdit = tailHashes(CorpusQueries.chunksOf(edited), "chunk_idx")
    val multiWindow = slideOrig.filter(_._2.nonEmpty)
    val disturbed = multiWindow.count { case (d, tail) => slideEdit(d) != tail }
    assert(multiWindow.nonEmpty && disturbed > multiWindow.size / 2,
      s"sliding chunks unexpectedly shift-stable ($disturbed of ${multiWindow.size})")
  }

  test("vocab fit reads only the text column") {
    import spark.implicits._
    val tiny = Seq("beta alpha beta", "gamma beta alpha").toDF("text")
    assert(CorpusQueries.vocabOf(tiny, 2).orderBy("id").as[(String, Long)].collect().toSeq ==
      Seq("beta" -> 1L, "alpha" -> 2L))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val full = CorpusQueries.vocabOf(docs, 30).orderBy("id").collect().toSeq
    assert(full.size == 30 && CorpusQueries.vocabOf(docs.select("text"), 30).orderBy("id").collect().toSeq == full)
  }

  test("tokenize ids: oov + in-vocab accounting, bounded head length") {
    val rows = CorpusQueries.queries("docs_tokenize_ids").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, n, oov, head) =>
      assert(oov >= 0 && oov <= n)
      val ids = head.split(",").filter(_.nonEmpty)
      assert(ids.length == math.min(20, n), s"doc $d head length")
      assert(ids.forall(i => i.toLong >= 0 && i.toLong <= 30))
    }
  }

  test("incremental dedup: pairs straddle the split and match the symmetric jaccard near-dups") {
    val bk = buckets
    val inc = DedupQueries.queries("dedup_incremental").fn(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (index, batch)
    inc.foreach { case (idx, bat) =>
      assert(bk(idx) < 80, s"index doc $idx not in index split")
      assert(bk(bat) >= 80, s"batch doc $bat not in batch split")
    }
    // the same near-dup pairs, restricted to split-straddling ones, come
    // out of the symmetric ngram-jaccard operator (doc_a < doc_b there)
    val jac = DedupQueries.queries("dedup_ngram_jaccard").fn(spark, dir)
      .where(col("is_near_dup"))
      .collect().map(r => (r.getLong(1), r.getLong(0))) // (doc_b, doc_a)
      .flatMap { case (b, a) => Seq((a, b), (b, a)) }
      .filter { case (i, bt) => bk(i) < 80 && bk(bt) >= 80 }
      .toSet
    assert(inc == jac)
  }
}
