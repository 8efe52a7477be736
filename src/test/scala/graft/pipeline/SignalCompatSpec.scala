package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.regex.Pattern

import graft.TestSpark
import graft.operators.{FileSync, ManifestEntry}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Done-signals and version ids rendered from the collected manifest are
  * byte-identical to the earlier per-caller Spark renderings (a
  * `binaryFile` scan sorted by `orderBy("rel_path")`), so `.done-*` files
  * and version ids written before still match the same content — whichever
  * side of the scan-split gate the hashing ran on. */
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
    val root = TestSpark.tempDir("graft-signal")
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
    val src = TestSpark.tempDir("graft-signal-src")
    Names.foreach(n => put(src, n, n))
    put(src, "é.csv.sha1", "0" * 40)
    val m = FileSync.manifest(spark, src.toString)
    assert(FileSync.verify(m).map(v => v._1 -> v._2).toMap ==
      (Names.filterNot(_ == "é.csv").map(_ -> "missing_companion") :+ ("é.csv" -> "checksum_mismatch")).toMap)
    val dst = TestSpark.tempDir("graft-signal-dst")
    assert(FileSync.syncDirs(spark, src.toString, dst.toString).map(_._2).toSet == Set("added"))
    assert(FileSync.diff(m, FileSync.manifest(spark, dst.toString)).isEmpty)
    assert(GraftPipeline.doneSignal(spark, dst.toString) == m.signal)
  }

  test("a session whose scan split is 1 byte hashes through an RDD to the same manifest") {
    val root = TestSpark.tempDir("graft-signal-rdd")
    Names.zipWithIndex.foreach { case (n, i) => put(root, n, s"payload $i\n") }
    put(root, "é.csv.sha1", s"${sha1hex("payload 4\n")}  é.csv\n")
    put(root, "empty.csv", "")
    val child = spark.newSession()
    child.conf.set("spark.sql.files.maxPartitionBytes", "1")
    val sc = spark.sparkContext
    val group = s"graft-signal-rdd-${System.nanoTime()}"
    sc.setJobGroup(group, "manifest over a 1-byte split")
    val split = try FileSync.manifest(child, root.toString) finally sc.clearJobGroup()
    ListenerBridge.flush(sc)
    assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty, "the 1-byte split did not hash through Spark")
    assert(split == FileSync.manifest(spark, root.toString))
  }

  test("companion values parse as the binaryFile expression does; empty files are listed and hashed") {
    val root = TestSpark.tempDir("graft-signal-companion")
    val hex = sha1hex("payload\n")
    val companions = Seq(
      s"\n$hex  a.csv\n", s"$hex\ta.csv\n", s"\t$hex\n", s"$hex  a.csv\r\n", s"$hex\r\n",
      s"$hex trailing text here\n", s"   $hex   \n", hex, "", " ", s"$hex\u00a0a.csv\n")
    put(root, "a.csv", "payload\n")
    put(root, "empty.csv", "")
    companions.zipWithIndex.foreach { case (c, i) => put(root, s"c$i.sha1", c) }
    val expected = spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(root.toString)
      .select(
        regexp_replace(col("path"), s"^.*?${Pattern.quote(root.toString)}/", ""),
        sha1(col("content")), col("length"),
        when(col("path").endsWith(".sha1"), split(trim(col("content").cast("string")), "\\s+").getItem(0)))
      .collect().map(r => ManifestEntry(r.getString(0), r.getString(1), r.getString(3), r.getLong(2))).toSet
    val m = FileSync.manifest(spark, root.toString)
    // the scan yields no row for a zero-length file; the manifest lists it
    // with the sha1 of no bytes, and an empty companion declares ""
    val emptySha = sha1hex("")
    val empties = Set(ManifestEntry("empty.csv", emptySha, null, 0L),
      ManifestEntry(s"c${companions.indexOf("")}.sha1", emptySha, "", 0L))
    assert(m.files.toSet == expected ++ empties)
    assert(m.files.size == companions.size + 2) // a.csv, every companion, empty.csv
    assert(m.files.find(_.relPath == "c0.sha1").get.declared == "") // a leading newline is not trimmed
  }
}
