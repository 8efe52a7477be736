package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §8f(v) — the JSON corpus policy: parse/resolve semantics, and the
  * config-driven gate pinned to the fixed-threshold batch gate. */
class CorpusPolicySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val json =
    """{ "default": {"min_quality": 0.45, "min_tokens": 12,
      |              "drop_langs": ["zh", "xx"], "shingle_size": 3},
      |  "sources": {"web":   {"min_quality": 0.6},
      |              "books": {"min_tokens": 50, "shingle_size": 4},
      |              "wiki":  {"drop_langs": []}} }""".stripMargin

  test("parse: defaults, per-source overrides, inheritance") {
    val p = CorpusPolicy.parse(json)
    assert(p.minQuality == 0.45 && p.minTokens == 12L)
    assert(p.dropLangs == Seq("zh", "xx") && p.shingleSize == 3)
    assert(p.resolve("web") == (0.6, 12L, Seq("zh", "xx"), 3))
    assert(p.resolve("books") == (0.45, 50L, Seq("zh", "xx"), 4))
    assert(p.resolve("wiki") == (0.45, 12L, Nil, 3))
    assert(p.resolve("unlisted") == (0.45, 12L, Seq("zh", "xx"), 3))
  }

  test("parse: empty config is the fixed default policy") {
    assert(CorpusPolicy.parse("{}") == CorpusPolicy())
    assert(CorpusPolicy.parse("""{"sources": {}}""") == CorpusPolicy())
  }

  test("shingleSizeGroups: only non-default sizes form groups") {
    val p = CorpusPolicy.parse(json)
    assert(p.shingleSizeGroups == Map(4 -> Seq("books")))
    assert(CorpusPolicy().shingleSizeGroups.isEmpty)
  }

  test("signature changes with any threshold edit") {
    val p = CorpusPolicy.parse(json)
    val sigs = Seq(p, p.copy(minQuality = 0.5),
      p.copy(perSource = p.perSource + ("web" -> SourcePolicy(minQuality = Some(0.7)))),
      CorpusPolicy()).map(_.signature)
    assert(sigs.distinct.size == sigs.size)
  }

  test("scoredWith(default policy) admits exactly the fixed-gate keep set") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    def keeps(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.where(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val fixed = keeps(CorpusPolicy.scored(docs))
    assert(keeps(CorpusPolicy.scoredWith(docs, CorpusPolicy())) == fixed && fixed.nonEmpty)
    // a populated perSource map that resolves to the same thresholds is
    // also identical (exercises the broadcast-join path, not just literals)
    val same = CorpusPolicy(perSource = Map("no_such_source" -> SourcePolicy()))
    assert(keeps(CorpusPolicy.scoredWith(docs, same)) == fixed)
  }

  test("scoredWith: per-source override gates only that source") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val src = docs.select("source").where(col("source").isNotNull)
      .groupBy("source").count().orderBy(desc("count"))
      .head.getString(0)
    val strict = CorpusPolicy(perSource = Map(src -> SourcePolicy(minQuality = Some(2.0))))
    val got = CorpusPolicy.scoredWith(docs, strict).where(col("keep"))
    assert(got.where(col("source") === src).count() == 0)
    val baseline = CorpusPolicy.scoredWith(docs, CorpusPolicy()).where(col("keep"))
    assert(got.where(col("source") =!= src).count() ==
      baseline.where(col("source") =!= src).count())
  }
}
