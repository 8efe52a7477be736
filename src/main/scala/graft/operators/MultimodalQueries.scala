package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY §2.3 row 35).
  *
  * Media payloads are opaque `binary` columns with a typed metadata struct
  * riding alongside — the schema/partitioning pattern a 100 TB image/audio
  * corpus uses (payload stays columnar and prunable; metadata is queryable
  * without touching the bytes). The container has no codec libraries, so
  * "decode" is a clearly-marked deterministic stub over the bytes
  * (see [[Multimodal]] for the typed batch-iterator plumbing); everything
  * Spark-side — binary construction, struct metadata, pruning, batch
  * shape — is real.
  */
object MultimodalQueries {

  /** Binary payload + metadata struct + stubbed decode features, flattened
    * to scalars for the oracle. */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      // payload: the doc text bytes stand in for an undecodable media blob
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("meta", struct(
        when(col("doc_id") % 3 === 0, "png")
          .when(col("doc_id") % 3 === 1, "jpeg")
          .otherwise("webp").as("fmt"),
        (lit(64) + (col("doc_id") % 8) * 32).cast("int").as("width"),
        (lit(64) + (col("doc_id") % 5) * 48).cast("int").as("height"),
        ((col("n_chars") % 30) + 1).cast("int").as("n_frames")))
      .select(
        col("doc_id"),
        col("meta.fmt").as("fmt"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("meta.n_frames").as("n_frames"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        // stubbed "thumbnail": first 16 payload bytes, hex
        substring(hex(col("payload")), 1, 32).as("thumb_hex"))
  }

  private val binaryMetaSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS fmt,
      |  CAST(64 + (doc_id % 8) * 32 AS INT) AS width,
      |  CAST(64 + (doc_id % 5) * 48 AS INT) AS height,
      |  CAST((n_chars % 30) + 1 AS INT) AS n_frames,
      |  octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS content_md5,
      |  substring(hex(encode(text)), 1, 32) AS thumb_hex
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Frame sampling over the opaque payload: every "video" (doc_id % 3 = 2
    * → webp stand-in) is cut into fixed-size chunks and every chunk gets a
    * stable content hash — the Spark-side shape of a frame-sampling stage
    * (per-row sequence + transform, map-side; the decode itself stays
    * stubbed since no codecs ship in this container). Chunking happens on
    * the hex rendering so the same bytes hash identically on any engine. */
  private val FrameHexChars = 64 // 32 payload bytes per sampled frame

  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .where(col("doc_id") % 3 === 2)
      .withColumn("hx", hex(encode(col("text"), "UTF-8")))
      .withColumn("n_frames",
        least(expr(s"(length(hx) + ${FrameHexChars - 1}) div $FrameHexChars").cast("int"), lit(8)))
      .select(col("doc_id"), col("n_frames"),
        posexplode(expr(
          s"transform(sequence(0, n_frames - 1), i -> md5(substring(hx, i * $FrameHexChars + 1, $FrameHexChars)))"))
          .as(Seq("frame_idx", "frame_hash")))
      .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
        col("frame_idx").cast("long").as("frame_idx"), col("frame_hash"))
  }

  private val frameSampleSql =
    s"""WITH v AS (
       |  SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       |  SELECT doc_id,
       |    LEAST(CAST(((LENGTH(hx) + ${FrameHexChars - 1}) // $FrameHexChars) AS INT), 8) AS n_frames, hx
       |  FROM v)
       |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
       |  CAST(i AS BIGINT) AS frame_idx,
       |  md5(substring(hx, CAST(i * $FrameHexChars + 1 AS INT), $FrameHexChars)) AS frame_hash
       |FROM f, UNNEST(generate_series(0, n_frames - 1)) AS t(i)
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** Audio-side plumbing: overlapping PCM analysis windows. The "audio"
    * payloads (doc_id % 3 = 1 stand-ins) are cut into 64-byte frames with
    * a 32-byte hop (50% overlap — the standard STFT layout) and each
    * frame reports exact integer energy (sum of sample bytes) and peak.
    * Per-row expressions only — the frame explosion is bounded (≤12
    * frames/doc) and everything up to the final ordering is map-side.
    * The decode stays a byte-level stub (no codecs in this container);
    * the window geometry, overlap arithmetic and batch shape are the
    * real thing. */
  private val FrameBytes = 64
  private val HopBytes = 32
  private val MaxFrames = 12

  def audioWindows(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    // r10: energy/peak read straight off the RAW binary with the
    // ByteSliceSum/ByteSliceMax codegen kernels (the mm_phash_buckets
    // treatment). The previous hex+per-byte-conv() decode array was a
    // non-codegen lambda that projection collapse re-derived PER FRAME
    // ROW through the explode — 90 ns/byte × 12 frames × the whole
    // payload (sf1 10.6 s → 0.34 s and corpus-FLAT, output byte-identical: the kernels
    // sum/max the same unsigned bytes the decoded array held).
    Tables(dir).documents
      .where(col("doc_id") % 3 === 1)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .where(col("n_bytes") >= FrameBytes) // full frames only
      .withColumn("n_frames",
        least(expr(s"(n_bytes - $FrameBytes) div $HopBytes + 1").cast("int"), lit(MaxFrames)))
      .select(col("doc_id"), col("n_bytes"), col("n_frames"), col("payload"),
        posexplode(expr(s"sequence(0, n_frames - 1)")).as(Seq("frame_idx", "i")))
      .withColumn("energy", graft.plans.VectorExpressions.byteSliceSum(
        col("payload"), (col("i") * HopBytes).cast("long"), lit(FrameBytes.toLong)))
      .withColumn("peak", graft.plans.VectorExpressions.byteSliceMax(
        col("payload"), (col("i") * HopBytes).cast("long"), lit(FrameBytes.toLong)))
      .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
        col("frame_idx").cast("long").as("frame_idx"), col("energy"), col("peak"))
  }

  private def duckByte(hxCol: String, pos: String): String =
    s"((strpos('0123456789ABCDEF', substring($hxCol, $pos, 1)) - 1) * 16 + " +
      s"(strpos('0123456789ABCDEF', substring($hxCol, $pos + 1, 1)) - 1))"

  private val audioWindowsSql = {
    val bytesOfFrame =
      s"list_transform(generate_series(0, ${FrameBytes - 1}), j -> ${duckByte("hx", s"(i * $HopBytes + j) * 2 + 1")})"
    s"""WITH a AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    CAST(LENGTH(hex(encode(text))) / 2 AS BIGINT) AS n_bytes
       |  FROM documents WHERE doc_id % 3 = 1),
       |f AS (
       |  SELECT doc_id, n_bytes,
       |    LEAST(CAST((n_bytes - $FrameBytes) // $HopBytes + 1 AS INT), $MaxFrames) AS n_frames, hx
       |  FROM a WHERE n_bytes >= $FrameBytes)
       |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
       |  CAST(i AS BIGINT) AS frame_idx,
       |  CAST(list_aggregate($bytesOfFrame, 'sum') AS BIGINT) AS energy,
       |  CAST(list_aggregate($bytesOfFrame, 'max') AS BIGINT) AS peak
       |FROM f, UNNEST(generate_series(0, n_frames - 1)) AS t(i)
       |ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** Scene-cut threshold: a frame whose energy moved more than this many
    * per-mille from its predecessor starts a new "scene". */
  private val CutThresholdPm = 40L
  private val SceneFrameBytes = 64L

  /** §8x(ef) — scene-cut detection over the "video" payloads: each video
    * is cut into fixed non-overlapping frames, per-frame energy reads
    * straight off the raw binary via the [[graft.plans.VectorExpressions.ByteSliceSum]]
    * codegen kernel (the `mm_audio_windows` treatment — the decode stays
    * a byte-level stub, the frame geometry and signal arithmetic are
    * real), and a cut fires where the energy moves more than
    * [[CutThresholdPm]]‰ from the previous frame — the
    * luminance-histogram-delta shape every keyframe/thumbnail/sampling
    * stage runs before choosing which frames to decode expensively.
    * All-integer deltas; the lag window is per-video over ≤12 frames, so
    * partitions stay bounded at any corpus size and nothing but
    * (doc_id, frame) scalars ever shuffles. */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    sceneCutFrames(spark,
      Tables(dir).documents.where(col("doc_id") % 3 === 2))
  }

  /** The scene-cut transform as a STATELESS per-row map (r12): every frame
    * of a video lives in ITS OWN row's payload, so the energy series, the
    * lag, and the cut test all compute IN-ROW over a ≤[[MaxFrames]]-element
    * array — `prev` is `element_at(es, i)` (1-based = the 0-based i−1),
    * not a `lag` window. This replaces the r11 form's
    * Window.partitionBy(doc_id): same rows out (spec-pinned), but ZERO
    * shuffle — at 100 TB the (doc, frame) rows never leave their input
    * partition. */
  private[graft] def sceneCutFrames(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    docs
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .where(col("n_bytes") >= SceneFrameBytes)
      .withColumn("n_frames",
        least(expr(s"n_bytes div $SceneFrameBytes").cast("int"), lit(MaxFrames)))
      .withColumn("es", expr(
        s"""transform(sequence(0, n_frames - 1), i ->
           |  graft_byte_slice_sum(payload, CAST(i * $SceneFrameBytes AS BIGINT),
           |                       CAST($SceneFrameBytes AS BIGINT)))"""
          .stripMargin.replace("\n", " ")))
      .select(col("doc_id"), col("es"),
        posexplode(col("es")).as(Seq("frame_idx", "energy")))
      .withColumn("prev",
        when(col("frame_idx") === 0, lit(null).cast("long"))
          .otherwise(element_at(col("es"), col("frame_idx"))))
      .withColumn("delta_pm",
        coalesce(expr("abs(energy - prev) * 1000 div greatest(prev, 1)"), lit(0L)))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("energy"), col("delta_pm"),
        (col("delta_pm") > CutThresholdPm).as("is_cut"))
  }

  private val sceneCutsSql = {
    val bytesOfFrame =
      s"list_transform(generate_series(0, ${SceneFrameBytes - 1}), j -> ${duckByte("hx", s"(i * $SceneFrameBytes + j) * 2 + 1")})"
    s"""WITH a AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    CAST(LENGTH(hex(encode(text))) / 2 AS BIGINT) AS n_bytes
       |  FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       |  SELECT doc_id,
       |    LEAST(CAST(n_bytes // $SceneFrameBytes AS INT), $MaxFrames) AS n_frames, hx
       |  FROM a WHERE n_bytes >= $SceneFrameBytes),
       |e AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
       |    CAST(list_aggregate($bytesOfFrame, 'sum') AS BIGINT) AS energy
       |  FROM f, UNNEST(generate_series(0, n_frames - 1)) AS t(i)),
       |d AS (
       |  SELECT doc_id, frame_idx, energy,
       |    COALESCE(ABS(energy - LAG(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)) * 1000
       |      // GREATEST(LAG(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx), 1), 0) AS delta_pm
       |  FROM e)
       |SELECT doc_id, frame_idx, energy, delta_pm, delta_pm > $CutThresholdPm AS is_cut
       |FROM d ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** §8y(el) r12 — SCENE SEGMENTATION: the cut table rolled into per-scene
    * rows — (video, scene) with frame bounds, length, and total energy —
    * the table a keyframe/thumbnail/sampling stage actually consumes
    * ("decode one frame per scene", "skip scenes shorter than N"). A
    * scene id is the running count of cuts at-or-before the frame
    * ([[sceneCutFrames]]' is_cut, shared verbatim), so segment bounds are
    * exactly the cut positions the oracle sees.
    *
    * Scale shape: the stateless per-row cut table plus ONE window over
    * ≤[[MaxFrames]]-row per-video partitions and ONE (video, scene)
    * aggregate — both bounded per video, nothing but scalar frame rows
    * shuffle. */
  def sceneSegments(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    sceneCuts(spark, dir)
      .withColumn("scene_id", sum(col("is_cut").cast("long")).over(w))
      .groupBy("doc_id", "scene_id")
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("sum_energy"))
  }

  private val sceneSegmentsSql = {
    val bytesOfFrame =
      s"list_transform(generate_series(0, ${SceneFrameBytes - 1}), j -> ${duckByte("hx", s"(i * $SceneFrameBytes + j) * 2 + 1")})"
    s"""WITH a AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    CAST(LENGTH(hex(encode(text))) / 2 AS BIGINT) AS n_bytes
       |  FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       |  SELECT doc_id,
       |    LEAST(CAST(n_bytes // $SceneFrameBytes AS INT), $MaxFrames) AS n_frames, hx
       |  FROM a WHERE n_bytes >= $SceneFrameBytes),
       |e AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
       |    CAST(list_aggregate($bytesOfFrame, 'sum') AS BIGINT) AS energy
       |  FROM f, UNNEST(generate_series(0, n_frames - 1)) AS t(i)),
       |d AS (
       |  SELECT doc_id, frame_idx, energy,
       |    COALESCE(ABS(energy - LAG(energy) OVER w) * 1000
       |      // GREATEST(LAG(energy) OVER w, 1), 0) AS delta_pm
       |  FROM e WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
       |sc AS (
       |  SELECT doc_id, frame_idx, energy,
       |    CAST(SUM(CASE WHEN delta_pm > $CutThresholdPm THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY frame_idx
       |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_id
       |  FROM d)
       |SELECT doc_id, scene_id, MIN(frame_idx) AS start_frame,
       |  MAX(frame_idx) AS end_frame, COUNT(*) AS n_frames,
       |  CAST(SUM(energy) AS BIGINT) AS sum_energy
       |FROM sc GROUP BY doc_id, scene_id
       |ORDER BY doc_id, scene_id""".stripMargin
  }

  /** §8s(dq) — content-addressed media dedup (the first stage of every
    * blob store: identical payloads stored once, references counted).
    * Exact: group by (fmt, md5, n_bytes) — the byte-length alongside the
    * digest is the standard collision belt — then per-format storage
    * economics: files vs distinct payloads, duplicate pressure ‰, and
    * bytes saved by content addressing. One payload-hash groupBy
    * (map-side partial) + a \|formats\|-row rollup; the payload bytes
    * never shuffle, only their 16-byte digests do — THE property that
    * makes this viable at 100 TB of media. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "png")
          .when(col("doc_id") % 3 === 1, "jpeg")
          .otherwise("webp").as("fmt"),
        md5(encode(col("text"), "UTF-8")).as("h"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .groupBy("fmt", "h", "n_bytes")
      .agg(count(lit(1)).as("n_copies"))
      .groupBy("fmt")
      .agg(sum(col("n_copies")).as("n_files"),
        count(lit(1)).as("n_distinct"),
        sum(expr("CAST(n_bytes AS DECIMAL(38,0)) * n_copies")).as("bt"),
        sum(expr("CAST(n_bytes AS DECIMAL(38,0))")).as("bs"))
      .select(col("fmt"), col("n_files"), col("n_distinct"),
        expr("(n_files - n_distinct) * 1000 div n_files").as("dup_pm"),
        expr("CAST(bt AS BIGINT)").as("bytes_total"),
        expr("CAST(bt - bs AS BIGINT)").as("bytes_saved"))
  }

  private val exactDedupSql =
    """WITH f AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'png'
      |         WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS fmt,
      |    md5(text) AS h, octet_length(encode(text)) AS n_bytes
      |  FROM documents),
      |g AS (
      |  SELECT fmt, h, n_bytes, COUNT(*) AS n_copies FROM f GROUP BY 1, 2, 3)
      |SELECT fmt, CAST(SUM(n_copies) AS BIGINT) AS n_files, COUNT(*) AS n_distinct,
      |  (CAST(SUM(n_copies) AS BIGINT) - COUNT(*)) * 1000 // CAST(SUM(n_copies) AS BIGINT) AS dup_pm,
      |  CAST(SUM(CAST(n_bytes AS HUGEINT) * n_copies) AS BIGINT) AS bytes_total,
      |  CAST(SUM(CAST(n_bytes AS HUGEINT) * n_copies) - SUM(CAST(n_bytes AS HUGEINT)) AS BIGINT) AS bytes_saved
      |FROM g GROUP BY 1 ORDER BY fmt""".stripMargin

  /** §8s(dr) — media integrity scan (the ingest gate before any decode
    * fleet runs: a payload too small for its declared resolution is a
    * truncated upload, a declared frame count the byte budget cannot
    * hold is a corrupt container — catching both from METADATA + SIZE
    * alone avoids paying decode cost on broken files). The checks are
    * exact integer predicates over the [[binaryMeta]] metadata contract;
    * decode itself stays stubbed (no codecs in this container), the
    * audit shape — per-format file counts, truncation ‰, flag rollup —
    * is the real thing. Map-side scan + \|formats\|-row rollup. */
  def corruptScan(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables(dir).documents
      .select(col("doc_id"), col("n_chars"),
        when(col("doc_id") % 3 === 0, "png")
          .when(col("doc_id") % 3 === 1, "jpeg")
          .otherwise("webp").as("fmt"),
        (lit(64) + (col("doc_id") % 8) * 32).cast("long").as("width"),
        (lit(64) + (col("doc_id") % 5) * 48).cast("long").as("height"),
        ((col("n_chars") % 30) + 1).cast("long").as("n_frames"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .select(col("fmt"),
        (col("n_bytes") === 0).cast("long").as("empty"),
        expr("CAST(n_bytes < (width * height) div 512 AS LONG)").as("truncated"),
        expr("CAST(n_frames > n_bytes div 64 + 1 AS LONG)").as("frame_mismatch"))
      .groupBy("fmt")
      .agg(count(lit(1)).as("n_files"),
        sum(col("empty")).as("n_empty"),
        sum(col("truncated")).as("n_truncated"),
        sum(col("frame_mismatch")).as("n_frame_mismatch"),
        sum(expr("CAST(empty = 1 OR truncated = 1 OR frame_mismatch = 1 AS LONG)"))
          .as("n_flagged"))
      .withColumn("flagged_pm", expr("n_flagged * 1000 div n_files"))
  }

  private val corruptScanSql =
    """WITH m AS (
      |  SELECT
      |    CASE WHEN doc_id % 3 = 0 THEN 'png'
      |         WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS fmt,
      |    CAST(64 + (doc_id % 8) * 32 AS BIGINT) AS width,
      |    CAST(64 + (doc_id % 5) * 48 AS BIGINT) AS height,
      |    CAST((n_chars % 30) + 1 AS BIGINT) AS n_frames,
      |    octet_length(encode(text)) AS n_bytes
      |  FROM documents),
      |chk AS (
      |  SELECT fmt,
      |    CAST(n_bytes = 0 AS BIGINT) AS empty,
      |    CAST(n_bytes < (width * height) // 512 AS BIGINT) AS truncated,
      |    CAST(n_frames > n_bytes // 64 + 1 AS BIGINT) AS frame_mismatch
      |  FROM m)
      |SELECT fmt, COUNT(*) AS n_files,
      |  CAST(SUM(empty) AS BIGINT) AS n_empty,
      |  CAST(SUM(truncated) AS BIGINT) AS n_truncated,
      |  CAST(SUM(frame_mismatch) AS BIGINT) AS n_frame_mismatch,
      |  CAST(SUM(CAST(empty = 1 OR truncated = 1 OR frame_mismatch = 1 AS BIGINT)) AS BIGINT) AS n_flagged,
      |  CAST(SUM(CAST(empty = 1 OR truncated = 1 OR frame_mismatch = 1 AS BIGINT)) AS BIGINT) * 1000
      |    // COUNT(*) AS flagged_pm
      |FROM chk GROUP BY 1 ORDER BY fmt""".stripMargin

  /** §8s(ds) — cross-video duplicate-frame detection (repeated intros,
    * shared stock footage, re-uploads with edits: the frame-hash table
    * the [[frameSample]] stage lands is grouped by hash, and any hash in
    * more than one video is a content-reuse edge — the dedup that works
    * WITHOUT decoding, because sampled-frame digests collide exactly
    * when the underlying bytes do). Runs on the bounded frame table
    * (≤8 frames/video), one hash groupBy; at 100 TB the frame digests
    * are the only thing shuffled, never the frames. */
  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    frameSample(spark, dir)
      .groupBy("frame_hash")
      .agg(countDistinct(col("doc_id")).as("n_videos"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .where(col("n_videos") > 1)
  }

  private val frameDedupSql =
    s"""WITH v AS (
       |  SELECT doc_id, hex(encode(text)) AS hx FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       |  SELECT doc_id,
       |    LEAST(CAST(((LENGTH(hx) + ${FrameHexChars - 1}) // $FrameHexChars) AS INT), 8) AS n_frames, hx
       |  FROM v),
       |fr AS (
       |  SELECT doc_id,
       |    md5(substring(hx, CAST(i * $FrameHexChars + 1 AS INT), $FrameHexChars)) AS frame_hash
       |  FROM f, UNNEST(generate_series(0, n_frames - 1)) AS t(i))
       |SELECT frame_hash, COUNT(DISTINCT doc_id) AS n_videos,
       |  COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc
       |FROM fr GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
       |ORDER BY frame_hash""".stripMargin

  /** §8s(dt) — perceptual-signature bucketing, the CANDIDATE stage of a
    * near-dup media pipeline (a real pHash needs a decoder; what ships
    * here is the bucketing economics with a deterministic stand-in: the
    * payload's four byte-energy quartiles, each quantized to a 3-bit
    * level of its share of the total — a coarse, content-correlated,
    * byte-exact signature — plus the size-class, packed into one integer
    * bucket key). Docs sharing a bucket are near-dup CANDIDATES; the
    * quadratic verify is bounded per bucket exactly like the LSH bands.
    * Per-payload energy is four [[graft.plans.VectorExpressions.ByteSliceSum]]
    * codegen folds over the RAW binary (the lambda-per-byte hex
    * formulation ran interpreted at ~90 ns/byte — 28 s at sf1; the
    * kernel never renders hex at all); buckets groupBy the packed key —
    * digests and integers shuffle, bytes never do. */
  private val SigLevels = 8

  def phashBuckets(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    implicit val s: SparkSession = spark
    val q = (k: Int) => s"graft_byte_slice_sum(payload, ${k}L * nb4, nb4)"
    Tables(dir).documents
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .where(col("n_bytes") >= 4)
      .withColumn("nb4", expr("n_bytes div 4"))
      .select(col("doc_id"), col("n_bytes"),
        expr(s"array(${q(0)}, ${q(1)}, ${q(2)}, ${q(3)})").as("qs"))
      .withColumn("total", expr("qs[0] + qs[1] + qs[2] + qs[3]"))
      .select(col("doc_id"),
        expr(s"""(n_bytes div 64) * ${SigLevels * SigLevels * SigLevels * SigLevels}
                | + least(${SigLevels - 1}L, (qs[0] * 16) div (total + 1)) * ${SigLevels * SigLevels * SigLevels}
                | + least(${SigLevels - 1}L, (qs[1] * 16) div (total + 1)) * ${SigLevels * SigLevels}
                | + least(${SigLevels - 1}L, (qs[2] * 16) div (total + 1)) * $SigLevels
                | + least(${SigLevels - 1}L, (qs[3] * 16) div (total + 1))"""
          .stripMargin.replace("\n", " ")).as("sig"))
      .groupBy("sig")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") > 1)
      .withColumn("candidate_pairs", expr("n_docs * (n_docs - 1) div 2"))
  }

  private val phashBucketsSql = {
    val qDuck = (k: Int) =>
      s"CAST(list_aggregate(list_transform(generate_series(0, nb4 - 1), " +
        s"j -> ${duckByte("hx", s"($k * nb4 + j) * 2 + 1")}), 'sum') AS BIGINT)"
    s"""WITH p AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    CAST(LENGTH(hex(encode(text))) / 2 AS BIGINT) AS n_bytes
       |  FROM documents),
       |q4 AS (
       |  SELECT doc_id, n_bytes, CAST(n_bytes // 4 AS INT) AS nb4, hx
       |  FROM p WHERE n_bytes >= 4),
       |en AS (
       |  SELECT doc_id, n_bytes,
       |    ${qDuck(0)} AS q0, ${qDuck(1)} AS q1, ${qDuck(2)} AS q2, ${qDuck(3)} AS q3
       |  FROM q4),
       |sg AS (
       |  SELECT doc_id,
       |    (n_bytes // 64) * ${SigLevels * SigLevels * SigLevels * SigLevels}
       |      + LEAST(${SigLevels - 1}, (q0 * 16) // (q0 + q1 + q2 + q3 + 1)) * ${SigLevels * SigLevels * SigLevels}
       |      + LEAST(${SigLevels - 1}, (q1 * 16) // (q0 + q1 + q2 + q3 + 1)) * ${SigLevels * SigLevels}
       |      + LEAST(${SigLevels - 1}, (q2 * 16) // (q0 + q1 + q2 + q3 + 1)) * $SigLevels
       |      + LEAST(${SigLevels - 1}, (q3 * 16) // (q0 + q1 + q2 + q3 + 1)) AS sig
       |  FROM en)
       |SELECT sig, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
       |  COUNT(*) * (COUNT(*) - 1) // 2 AS candidate_pairs
       |FROM sg GROUP BY 1 HAVING COUNT(*) > 1
       |ORDER BY sig""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "mm_audio_windows" -> Q(audioWindows _, audioWindowsSql,
      Seq(col("doc_id"), col("frame_idx"))),
    "mm_binary_meta" -> Q(binaryMeta _, binaryMetaSql, Seq(col("doc_id"))),
    "mm_frame_sample" -> Q(frameSample _, frameSampleSql, Seq(col("doc_id"), col("frame_idx"))),
    "mm_exact_dedup" -> Q(exactDedup _, exactDedupSql, Seq(col("fmt"))),
    "mm_corrupt_scan" -> Q(corruptScan _, corruptScanSql, Seq(col("fmt"))),
    "mm_frame_dedup" -> Q(frameDedup _, frameDedupSql, Seq(col("frame_hash"))),
    "mm_phash_buckets" -> Q(phashBuckets _, phashBucketsSql, Seq(col("sig"))),
    "mm_scene_cuts" -> Q(sceneCuts _, sceneCutsSql, Seq(col("doc_id"), col("frame_idx"))),
    "mm_scene_segments" -> Q(sceneSegments _, sceneSegmentsSql,
      Seq(col("doc_id"), col("scene_id"))),
  )
}
