package graft.sources

import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The data-vintage guard: one clear session-start error when the driver's
  * testdata changes shape, instead of a hundred per-query analysis errors
  * (the r06 failure mode: events.ts TIMESTAMP(NANOS) → timestamp[us]
  * silently broke 24 queries). */
class TablesVintageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("assertVintage passes on the current driver testdata") {
    Tables(TestSpark.Sf0001)(spark).assertVintage()
  }

  test("events reader adapts to the loaded ts dtype") {
    import org.apache.spark.sql.types.TimestampType
    val ev = Tables(TestSpark.Sf0001)(spark).events
    assert(ev.schema("ts").dataType == TimestampType ||
      ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    assert(ev.limit(5).count() == 5)
  }

  test("assertVintage names every mismatched column in one error") {
    val dir = TestSpark.tempDir("graft-vintage").toString
    // region: r_name missing; events: ts mistyped (string); others absent
    spark.range(3).selectExpr("CAST(id AS INT) AS r_regionkey")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    spark.range(3).selectExpr(
      "id AS event_id", "CAST(id AS STRING) AS ts", "id AS user_id",
      "'x' AS event_type", "CAST(id AS DOUBLE) AS value", "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      Tables(dir)(spark).assertVintage()
    }
    assert(e.getMessage.contains("data-vintage mismatch"))
    assert(e.getMessage.contains("region.r_name: missing"))
    assert(e.getMessage.contains("events.ts: unexpected type"))
    assert(e.getMessage.contains("lineitem: unreadable"))
  }
}
