package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class DelimitedSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("per-file delimiter + per-column date formats + nulls") {
    val dir = TestSpark.tempDir("graft-delim")
    Files.write(dir.resolve("data.csv"),
      """id;born;score;label
        |1;03.02.2020;1.5;alpha
        |2;;2.25;beta
        |3;31.12.1999;;
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val cfg = DelimitedConfig(
      delimiter = ";", header = true,
      columns = Seq(
        ColSpec("id", "long"),
        ColSpec("born", "date", Some("dd.MM.yyyy")),
        ColSpec("score", "double"),
        ColSpec("label", "string")))
    val out = DelimitedSource.read(spark, dir.toString, cfg)
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("id" -> "bigint", "born" -> "date", "score" -> "double", "label" -> "string"))
    val rows = out.orderBy("id").collect()
    assert(rows(0).getDate(1).toString == "2020-02-03") // dd.MM.yyyy honored
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == 2.25)
    assert(rows(2).isNullAt(2) && rows(2).isNullAt(3))
  }

  test("quarantine routes malformed cells with reasons; good rows type cleanly") {
    val dir = TestSpark.tempDir("graft-quar")
    Files.write(dir.resolve("data.csv"),
      """id;born;score;label
        |1;03.02.2020;1.5;alpha
        |x7;04.02.2020;2.0;badid
        |3;99.99.2020;3.0;baddate
        |4;05.02.2020;oops;badscore
        |5;;4.5;nullsok
        |z9;06.06.2020;not_a_number;double_trouble_x
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val cfg = DelimitedConfig(
      delimiter = ";", header = true,
      columns = Seq(
        ColSpec("id", "long"),
        ColSpec("born", "date", Some("dd.MM.yyyy")),
        ColSpec("score", "double"),
        ColSpec("label", "string")))
    val tagged = DelimitedSource.readTagged(spark, Seq(dir.toString), cfg)
    val good = DelimitedSource.good(tagged)
    assert(good.columns.toSeq == Seq("id", "born", "score", "label"))
    assert(good.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 5L))
    // a null raw cell is a legitimate null, never quarantine
    assert(good.where(col("id") === 5L).collect()(0).isNullAt(1))
    val bad = DelimitedSource.quarantined(tagged)
      .select("label", "bad_cols").as[(String, Seq[String])]
      .collect().map { case (l, b) => l -> b.toSet }.toMap
    assert(bad == Map(
      "badid" -> Set("id"),
      "baddate" -> Set("born"),
      "badscore" -> Set("score"),
      "double_trouble_x" -> Set("id", "score")))
    // quarantined rows keep their ORIGINAL raw strings for replay
    val rawId = DelimitedSource.quarantined(tagged)
      .where(col("label") === "badid").select("id").as[String].collect()
    assert(rawId.toSeq == Seq("x7"))
  }

  test("date column without a format is rejected up front") {
    val cfg = DelimitedConfig(";", header = true, columns = Seq(ColSpec("d", "date")))
    assertThrows[IllegalArgumentException] {
      DelimitedSource.read(spark, "/nonexistent", cfg).schema
    }
  }
}
