package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.functions.TextFunctions.words
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, JArray, JObject, JValue}
import org.json4s.jackson.JsonMethods

/** Per-source overrides of the corpus gate/dedup policy; `None` = inherit
  * the default. Mirrors the reference's per-file sections of
  * sources_config.json (sources2csr reads per-file delimiter/date formats
  * the same way: one defaults block, per-source overrides). */
final case class SourcePolicy(
    minQuality: Option[Double] = None,
    minTokens: Option[Long] = None,
    dropLangs: Option[Seq[String]] = None,
    shingleSize: Option[Int] = None)

/** §8f(v) — config-driven corpus policy: the gate thresholds and near-dup
  * shingle sizes the training pipeline applies, with per-source overrides.
  *
  * The defaults reproduce the fixed gate of `docs_quality_filter`
  * ([[CorpusPolicy.scored]]), so a pipeline with no config file behaves
  * exactly as before.
  *
  * Scale shape: the policy is bounded config (one row per *source*, not
  * per document) — it reaches the data plane as a broadcast join, never a
  * shuffle. Shingle sizes partition sources into size groups; the near-dup
  * stage runs one banding pass per distinct size, so cost scales with the
  * number of distinct sizes (typically 1–2), not the number of sources. */
final case class CorpusPolicy(
    minQuality: Double = 0.5,
    minTokens: Long = 10L,
    dropLangs: Seq[String] = Seq("zh"),
    shingleSize: Int = 3,
    perSource: Map[String, SourcePolicy] = Map.empty) {

  /** Effective thresholds for one source. */
  def resolve(source: String): (Double, Long, Seq[String], Int) = {
    val o = perSource.getOrElse(source, SourcePolicy())
    (o.minQuality.getOrElse(minQuality), o.minTokens.getOrElse(minTokens),
      o.dropLangs.getOrElse(dropLangs), o.shingleSize.getOrElse(shingleSize))
  }

  /** Distinct effective shingle sizes → the explicitly-configured sources
    * using each. Sources not listed (and listed sources without a
    * shingle_size override) fall in the default-size group, represented by
    * the ABSENCE of their name: the caller matches "source not in any
    * other group" for the default size. */
  def shingleSizeGroups: Map[Int, Seq[String]] =
    perSource.toSeq
      .map { case (src, o) => (o.shingleSize.getOrElse(shingleSize), src) }
      .filter(_._1 != shingleSize)
      .groupBy(_._1).map { case (sz, xs) => sz -> xs.map(_._2).sorted }

  /** Canonical signature of the policy — part of the pipeline's task input
    * signal, so editing the config re-runs the affected cone exactly like
    * a data change (the reference treats sources_config.json the same
    * way: config is an input). */
  def signature: String = {
    val per = perSource.toSeq.sortBy(_._1).map { case (s, o) =>
      s"$s:${o.minQuality.getOrElse("")}:${o.minTokens.getOrElse("")}:" +
        s"${o.dropLangs.map(_.mkString("+")).getOrElse("")}:${o.shingleSize.getOrElse("")}"
    }
    (s"$minQuality:$minTokens:${dropLangs.mkString("+")}:$shingleSize" +: per).mkString("|")
  }
}

object CorpusPolicy {
  private implicit val formats: DefaultFormats.type = DefaultFormats

  /** The fixed-threshold quality columns (doc_id, lang, quality, n_tokens,
    * keep) that `docs_quality_filter` and the pipeline report share. */
  def scored(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("lang"), qualityCol.as("quality"),
        nTokensCol.as("n_tokens"))
      .withColumn("keep",
        col("quality") >= 0.5 && col("n_tokens") >= 10 && col("lang") =!= "zh")
  }

  /** The shared row-local scoring expressions (no thresholds). */
  private def qualityCol: Column = {
    val n = length(col("text")).cast("double")
    val punct = (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?()]", ""))).cast("double")
    val wcol = words(col("text"))
    val nTok = size(wcol).cast("double")
    round(least(n / lit(500.0), lit(1.0)) * 0.3
      + (lit(1.0) - punct / n) * 0.4
      + (size(filter(wcol, w => w.isin("the", "a", "of", "to", "and", "in", "is", "for"))) / nTok) * 0.3, 6)
  }

  private def nTokensCol: Column = size(words(col("text"))).cast("long")

  /** §8f(v) — the config-driven gate: SAME scoring expressions as
    * [[scored]], thresholds resolved per source from `policy`.
    * The policy reaches the plan as a broadcast left join on `source`
    * (bounded: one row per *configured* source) with the defaults as
    * coalesce fallbacks — unlisted sources gate exactly like the
    * fixed-threshold [[scored]] when the policy is all defaults
    * (spec-pinned). Row-local + broadcast ⇒ shuffle-free at any corpus
    * size. */
  def scoredWith(docs: DataFrame, policy: CorpusPolicy): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("lang"),
      qualityCol.as("quality"), nTokensCol.as("n_tokens"))
    def keepCond(mq: Column, mt: Column, dl: Column): Column =
      col("quality") >= mq && col("n_tokens") >= mt && !array_contains(dl, col("lang"))
    if (policy.perSource.isEmpty)
      base.withColumn("keep", keepCond(lit(policy.minQuality),
        lit(policy.minTokens), typedlit(policy.dropLangs)))
    else {
      val spark = docs.sparkSession
      import spark.implicits._
      val ov = policy.perSource.keys.toSeq.sorted.map { src =>
        val (mq, mt, dl, _) = policy.resolve(src)
        (src, mq, mt, dl)
      }.toDF("source", "p_mq", "p_mt", "p_dl")
      base.join(broadcast(ov), Seq("source"), "left")
        .withColumn("keep", keepCond(
          coalesce(col("p_mq"), lit(policy.minQuality)),
          coalesce(col("p_mt"), lit(policy.minTokens)),
          coalesce(col("p_dl"), typedlit(policy.dropLangs))))
        .drop("p_mq", "p_mt", "p_dl")
    }
  }

  /** Parse the JSON config:
    * {{{
    * { "default": {"min_quality": 0.5, "min_tokens": 10,
    *               "drop_langs": ["zh"], "shingle_size": 3},
    *   "sources": {"web":   {"min_quality": 0.6},
    *               "books": {"min_tokens": 50, "shingle_size": 4}} }
    * }}}
    * Both sections are optional; omitted keys inherit the defaults above.
    * Config is driver-side bounded metadata — parsed once, no Spark job. */
  def parse(json: String): CorpusPolicy = {
    val root = JsonMethods.parse(json)
    val base = CorpusPolicy()
    val d = root \ "default"
    val withDefaults = base.copy(
      minQuality = dbl(d \ "min_quality").getOrElse(base.minQuality),
      minTokens = lng(d \ "min_tokens").getOrElse(base.minTokens),
      dropLangs = strs(d \ "drop_langs").getOrElse(base.dropLangs),
      shingleSize = int(d \ "shingle_size").getOrElse(base.shingleSize))
    val sources = root \ "sources" match {
      case JObject(fields) => fields.map { case (name, v) =>
        name -> SourcePolicy(dbl(v \ "min_quality"), lng(v \ "min_tokens"),
          strs(v \ "drop_langs"), int(v \ "shingle_size"))
      }.toMap
      case _ => Map.empty[String, SourcePolicy]
    }
    withDefaults.copy(perSource = sources)
  }

  def load(path: String): CorpusPolicy =
    parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))

  private def dbl(v: JValue): Option[Double] = v.toOption.map(_.extract[Double])
  private def lng(v: JValue): Option[Long] = v.toOption.map(_.extract[Long])
  private def int(v: JValue): Option[Int] = v.toOption.map(_.extract[Int])
  private def strs(v: JValue): Option[Seq[String]] = v match {
    case JArray(xs) => Some(xs.map(_.extract[String]))
    case _ => None
  }
}
