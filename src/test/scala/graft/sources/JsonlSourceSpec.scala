package graft.sources

import graft.TestSpark
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

class JsonlSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = new StructType()
    .add("id", "long").add("text", "string")

  private def stage(lines: String*): String = {
    val dir = TestSpark.tempDir("graft_jsonl_spec")
    java.nio.file.Files.write(dir.resolve("part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("explicit schema: extra fields ignored, missing fields NULL, no inference") {
    val path = stage(
      """{"id": 1, "text": "hello", "extra": "ignored"}""",
      """{"id": 2}""")
    val out = JsonlSource.read(spark, path, schema)
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, Some("hello")), (2L, None)))
  }

  test("quarantine: malformed lines preserved raw, good rows unaffected") {
    val path = stage(
      """{"id": 1, "text": "ok"}""",
      """{"id": broken""",
      """{"id": 3, "text": "also ok"}""")
    val tagged = JsonlSource.readTagged(spark, Seq(path), schema)
    assert(JsonlSource.good(tagged).count() == 2)
    val bad = JsonlSource.quarantined(tagged).as[String].collect().toSeq
    assert(bad == Seq("""{"id": broken"""))
  }

  test("streaming tag == batch tag: good set and quarantine agree chunk-by-chunk") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val lines = Seq(
      """{"id": 1, "text": "a"}""", """{"id": 2, "text": "b"}""",
      """not json at all""", """{"id": 4}""", """{"id": 5, "text": "e"}""", """{broken""")
    val mem = MemoryStream[String](spark)
    val q = JsonlSource.tag(mem.toDF(), schema)
      .writeStream.format("memory").queryName("s_jsonl").outputMode("append").start()
    try {
      lines.grouped(2).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("s_jsonl")
    val dir = stage(lines: _*)
    val batch = JsonlSource.readTagged(spark, Seq(dir), schema)
    assert(JsonlSource.good(streamed).as[(Long, Option[String])].collect().toSet
      == JsonlSource.good(batch).as[(Long, Option[String])].collect().toSet)
    assert(JsonlSource.quarantined(streamed).as[String].collect().toSet
      == Set("""not json at all""", """{broken"""))
  }

  test("JSON escaping round-trips exotic text exactly") {
    val exotic = "line1\nline2\ttab \"quoted\" \\backslash\\ ué中"
    val dir = TestSpark.tempDir("graft_jsonl_rt").toString
    Seq((1L, exotic)).toDF("id", "text").write.mode("overwrite").json(dir)
    val back = JsonlSource.read(spark, dir, schema)
      .as[(Long, String)].collect().head
    assert(back == ((1L, exotic)))
  }
}
