package graft.pipeline

import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class TransmartLoadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("writeStaging emits headered TSV that round-trips") {
    val dir = TestSpark.tempDir("graft-load").toString
    val df = Seq((1L, "aé", 1.5), (2L, "b", 2.0)).toDF("patient_num", "name", "v")
    TransmartLoad.writeStaging(df, dir, "patients", sortedBy = Seq("patient_num"))
    assert(new java.io.File(s"$dir/patients").listFiles().count(_.getName.endsWith(".csv")) == 1)
    val back = spark.read
      .option("delimiter", "\t").option("header", "true")
      .csv(s"$dir/patients")
      .selectExpr("CAST(patient_num AS BIGINT) patient_num", "name", "CAST(v AS DOUBLE) v")
    assert(back.orderBy("patient_num").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "aé", 1.5), (2L, "b", 2.0)))
  }

  test("manifest + doneSignal: stable content signature, changes with data") {
    val dir = TestSpark.tempDir("graft-load2").toString
    val df = Seq((1L, "x")).toDF("k", "v")
    TransmartLoad.writeStaging(df, dir, "t", sortedBy = Seq("k"))
    val m1 = TransmartLoad.manifest(spark, s"$dir/t").collect()
    assert(m1.nonEmpty && m1.forall(_.getString(1).matches("[0-9a-f]{40}")))
    val sig1 = TransmartLoad.doneSignal(spark, s"$dir/t")
    assert(sig1 == TransmartLoad.doneSignal(spark, s"$dir/t")) // deterministic
    TransmartLoad.writeStaging(Seq((2L, "y")).toDF("k", "v"), dir, "t", sortedBy = Seq("k"))
    assert(sig1 != TransmartLoad.doneSignal(spark, s"$dir/t")) // content-sensitive
  }

  test("doneSignal drives Dag skip/invalidate end-to-end") {
    val dir = TestSpark.tempDir("graft-load3").toString
    val store = new InMemorySignalStore
    var loads = 0
    def dag() = new Dag(Seq(
      Task("stage", Nil,
        run = () => TransmartLoad.doneSignal(spark, s"$dir/t"),
        externalInput = () => TransmartLoad.doneSignal(spark, s"$dir/t")),
      Task("load", Seq("stage"), () => { loads += 1; "loaded" })))
    TransmartLoad.writeStaging(Seq((1L, "x")).toDF("k", "v"), dir, "t", sortedBy = Seq("k"))
    dag().execute(store)
    dag().execute(store)
    assert(loads == 1) // unchanged staging → load skipped on rerun
    TransmartLoad.writeStaging(Seq((9L, "z")).toDF("k", "v"), dir, "t", sortedBy = Seq("k"))
    dag().execute(store)
    assert(loads == 2) // restaged content → load re-ran
  }
}
