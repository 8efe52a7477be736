package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.regex.Pattern

import graft.TestSpark
import graft.operators.FileSync
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Done-signals and version ids rendered from the collected manifest are
  * byte-identical to the earlier per-caller Spark renderings (a
  * `binaryFile` scan sorted by `orderBy("rel_path")`), so `.done-*` files
  * and lineage ledgers written before still match the same content. */
class SignalCompatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sha1hex(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def put(root: Path, rel: String, content: String): Unit = {
    val f = root.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, content.getBytes(StandardCharsets.UTF_8))
  }

  // The earlier renderings, verbatim: a distributed scan, sorted by Spark
  private def sparkRendering(dir: String, keep: org.apache.spark.sql.Column): String =
    spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(dir)
      .where(keep)
      .select(
        regexp_replace(col("path"), s"^.*?${Pattern.quote(dir.stripSuffix("/"))}/", "").as("rel_path"),
        sha1(col("content")).as("sha1"))
      .orderBy("rel_path").collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)}").mkString("\n")
  private def graftSignalBefore(dir: String) = sparkRendering(dir,
    !col("path").endsWith(".sha1") && !element_at(split(col("path"), "/"), -1).startsWith("."))
  private def stagedSignalBefore(dir: String) = sparkRendering(dir, !col("path").endsWith("_SUCCESS"))

  // U+FF21 sorts before U+1F600 in UTF-8 bytes (EF.. < F0..) but after it
  // in UTF-16 code units (FF21 > D83D): the two orders disagree here
  private val Names = Seq("b.csv", "a/z.csv", "a/b/deep.csv", "A.csv", "é.csv",
    "Ａ.csv", "😀.csv", "sub dir/x y.csv", "x_SUCCESS")

  test("doneSignals and versionId are byte-identical to the Spark-sorted renderings") {
    val root = Files.createTempDirectory("graft-signal")
    Names.zipWithIndex.foreach { case (n, i) => put(root, n, s"payload $i\n") }
    put(root, "é.csv.sha1", s"${sha1hex("payload 4\n")}  é.csv\n")
    val dir = root.toString

    val graft = GraftPipeline.doneSignal(spark, dir)
    val staged = TransmartLoad.doneSignal(spark, dir)
    assert(graft == graftSignalBefore(dir))
    assert(staged == stagedSignalBefore(dir))
    assert(Lineage.versionId(spark, dir) == sha1hex(stagedSignalBefore(dir)))

    // every name made it through the file system, companions stay out of
    // the data signal and in the staged one
    val graftPaths = graft.split("\n").map(_.split(" ").dropRight(1).mkString(" ")).toSeq
    assert(graftPaths.toSet == Names.toSet)
    assert(staged.split("\n").length == Names.size) // + companion, − x_SUCCESS
    // UTF-8 byte order, which String.compareTo would not give
    assert(graftPaths.indexOf("Ａ.csv") < graftPaths.indexOf("😀.csv"))
    assert(graftPaths != graftPaths.sorted)
  }

  test("verify and diff over the manifest agree with the frame API") {
    val src = Files.createTempDirectory("graft-signal-src")
    Names.foreach(n => put(src, n, n))
    put(src, "é.csv.sha1", "0" * 40)
    val m = FileSync.manifest(spark, src.toString)
    assert(FileSync.verify(m).map(v => v._1 -> v._2).toMap ==
      (Names.filterNot(_ == "é.csv").map(_ -> "missing_companion") :+ ("é.csv" -> "checksum_mismatch")).toMap)
    val dst = Files.createTempDirectory("graft-signal-dst")
    assert(FileSync.syncDirs(spark, src.toString, dst.toString).map(_._2).toSet == Set("added"))
    assert(FileSync.diff(m, FileSync.manifest(spark, dst.toString)).isEmpty)
    assert(GraftPipeline.doneSignal(spark, dst.toString) == m.signal)
  }
}
