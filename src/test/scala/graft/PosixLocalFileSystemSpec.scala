package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.operators.{DirManifest, FileSync}
import graft.pipeline.Lineage
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file:` FileSystem sets permissions without forking
  * `chmod`, and every file and directory it creates gets the mode Hadoop's
  * own local file system gives it. */
class PosixLocalFileSystemSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration
  private def localFs = FileSystem.get(new URI("file:///"), conf)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Hadoop's default file and directory modes under the configured umask. */
  private def stock: (Int, Int) = {
    val umask = FsPermission.getUMask(conf)
    (FsPermission.getFileDefault.applyUMask(umask).toShort.toInt,
      FsPermission.getDirDefault.applyUMask(umask).toShort.toInt)
  }

  /** Every path under `root` (itself excluded) whose mode is not the stock one. */
  private def offModes(root: JPath): Seq[String] = {
    val (file, dir) = stock
    Files.walk(root).iterator().asScala.filter(_ != root).collect {
      case p if mode(p) != (if (Files.isDirectory(p)) dir else file) => f"${root.relativize(p)} ${mode(p)}%o"
    }.toSeq
  }

  test("the session's file: FileSystem is the fork-free local file system") {
    assert(localFs.getClass == classOf[PosixLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[PosixLocalFileSystem])
    assert(spark.sessionState.newHadoopConf().get("fs.file.impl") == classOf[PosixLocalFileSystem].getName)
  }

  test("a Spark write, FileSync.sync and Lineage.commit get the stock modes") {
    val root = TestSpark.tempDir("graft-fs")
    val out = root.resolve("written")
    spark.range(20).selectExpr("id", "cast(id AS string) AS s").repartition(2)
      .write.partitionBy("s").parquet(out.toString)
    assert(Files.exists(out.resolve("_SUCCESS")))
    assert(Files.list(out).iterator().asScala.exists(_.getFileName.toString.startsWith(".")), "no .crc files")
    val synced = root.resolve("synced")
    FileSync.sync(spark, FileSync.manifest(spark, out.toString), DirManifest(s"file://$synced", Nil))
    val ledger = root.resolve("ledger")
    assert(Lineage.commit(spark, ledger.toString, synced.toString, "modes")._2)
    Seq(out, synced, ledger).foreach(d => assert(offModes(d).isEmpty, s"$d: ${offModes(d)}"))
  }

  test("a sticky bit still applies, and chmod keeps a directory's setgid bit") {
    val dir = TestSpark.tempDir("graft-fs-bits")
    val sticky = dir.resolve("sticky")
    assert(localFs.mkdirs(new Path(sticky.toUri)))
    localFs.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(sticky) == Integer.parseInt("1777", 8))
    val setgid = dir.resolve("setgid")
    Files.createDirectory(setgid)
    assert(new ProcessBuilder("chmod", "2750", setgid.toString).start().waitFor() == 0)
    assume(mode(setgid) == Integer.parseInt("2750", 8), "this file system drops the setgid bit")
    localFs.setPermission(new Path(setgid.toUri), new FsPermission(Integer.parseInt("755", 8).toShort))
    assert(mode(setgid) == Integer.parseInt("2755", 8))
    val plain = dir.resolve("plain")
    Files.write(plain, Array[Byte](1))
    localFs.setPermission(new Path(plain.toUri), new FsPermission(Integer.parseInt("600", 8).toShort))
    assert(mode(plain) == Integer.parseInt("600", 8))
    intercept[java.io.FileNotFoundException](
      localFs.setPermission(new Path(dir.resolve("missing").toUri), FsPermission.getFileDefault))
  }
}
