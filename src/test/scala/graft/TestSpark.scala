package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", tempDir("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[PosixLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"

  private val tempRoots = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(tempRoots.forEach(deleteTree(_)))

  /** A fresh directory under java.io.tmpdir, deleted with everything
    * under it when the test JVM exits. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempRoots.add(d)
    d
  }

  /** Best-effort recursive delete: children before parents, symlinks
    * removed without being followed. */
  private def deleteTree(root: Path): Unit = Try {
    val paths = Files.walk(root)
    try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Try(Files.deleteIfExists(p)))
    finally paths.close()
  }
}
