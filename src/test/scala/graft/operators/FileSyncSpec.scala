package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import graft.TestSpark
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.scalatest.funsuite.AnyFunSuite

class FileSyncSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sha1hex(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Write `name` with `content` and (optionally) its .sha1 companion. */
  private def put(dir: Path, name: String, content: String,
                  companion: Option[String] = null): Unit = {
    val f = dir.resolve(name)
    Files.createDirectories(f.getParent match { case null => dir; case p => p })
    Files.write(f, content.getBytes(StandardCharsets.UTF_8))
    val comp = if (companion == null) Some(sha1hex(content)) else companion
    comp.foreach(c => Files.write(dir.resolve(s"$name.sha1"),
      s"$c  $name\n".getBytes(StandardCharsets.UTF_8)))
  }

  test("verifyChecksums: ok files silent; mismatch/missing/orphan flagged") {
    val dir = TestSpark.tempDir("graft-sync")
    put(dir, "good.csv", "a,b\n1,2\n")
    put(dir, "bad.csv", "x,y\n", companion = Some("deadbeef" * 5))
    put(dir, "lonely.csv", "no companion", companion = None)
    Files.write(dir.resolve("ghost.csv.sha1"),
      s"${sha1hex("gone")}  ghost.csv\n".getBytes(StandardCharsets.UTF_8))

    val out = FileSync.verifyChecksums(spark, dir.toString)
      .select("rel_path", "status").as[(String, String)].collect().toMap
    assert(out == Map(
      "bad.csv" -> "checksum_mismatch",
      "lonely.csv" -> "missing_companion",
      "ghost.csv" -> "companion_without_file"))
  }

  test("diffDirs: added / removed / changed between drop zone and staging") {
    val src = TestSpark.tempDir("graft-src") // drop zone (new)
    val dst = TestSpark.tempDir("graft-dst") // staged (old)
    put(src, "keep.csv", "same", companion = None)
    put(dst, "keep.csv", "same", companion = None)
    put(src, "new.csv", "fresh", companion = None)
    put(dst, "gone.csv", "old", companion = None)
    put(src, "edit.csv", "v2", companion = None)
    put(dst, "edit.csv", "v1", companion = None)
    put(src, "sub/nested.csv", "deep", companion = None)

    val out = FileSync.diffDirs(spark, src.toString, dst.toString)
      .select("rel_path", "status").as[(String, String)].collect().toMap
    assert(out == Map(
      "new.csv" -> "added",
      "gone.csv" -> "removed",
      "edit.csv" -> "changed",
      "sub/nested.csv" -> "added"))
  }

  test("hidden dotfiles are skipped like the reference's sync") {
    val dir = TestSpark.tempDir("graft-hidden")
    put(dir, "visible.csv", "data", companion = None)
    put(dir, ".hidden", "secret", companion = None)
    val got = FileSync.actualChecksums(spark, dir.toString)
      .select("rel_path").as[String].collect().toSet
    assert(got == Set("visible.csv"))
  }

  test("syncDirs applies the delta: dst converges to src") {
    val src = TestSpark.tempDir("graft-sync-src")
    val dst = TestSpark.tempDir("graft-sync-dst")
    put(src, "a.csv", "v2", companion = None)
    put(dst, "a.csv", "v1", companion = None)
    put(src, "b.csv", "new", companion = None)
    put(dst, "c.csv", "stale", companion = None)
    val applied = FileSync.syncDirs(spark, src.toString, dst.toString).toMap
    assert(applied == Map("a.csv" -> "changed", "b.csv" -> "added", "c.csv" -> "removed"))
    // after the sync the diff is empty
    assert(FileSync.diffDirs(spark, src.toString, dst.toString).count() == 0)
    assert(new String(Files.readAllBytes(dst.resolve("a.csv"))) == "v2")
    assert(!Files.exists(dst.resolve("c.csv")))
  }

  test("rel_path strips the FIRST root occurrence when the root string repeats in the path") {
    // root .../data/x containing data/x/y.csv: a greedy prefix strip would
    // match up to the SECOND "data/x/" and mis-key the file as "y.csv"
    val base = TestSpark.tempDir("graft-rep")
    val root = base.resolve("data/x")
    put(root, "data/x/y.csv", "payload", companion = None)
    val got = FileSync.actualChecksums(spark, root.toString)
      .select("rel_path").as[String].collect().toSet
    assert(got == Set("data/x/y.csv"))
  }

  test("actualChecksums computes real sha1 over content") {
    val dir = TestSpark.tempDir("graft-sha")
    put(dir, "f.txt", "hello world", companion = None)
    val got = FileSync.actualChecksums(spark, dir.toString)
      .as[(String, String)].collect().toMap
    assert(got == Map("f.txt" -> sha1hex("hello world")))
  }

  test("the manifest lists what Spark's file index lists, plus zero-length files") {
    val root = TestSpark.tempDir("graft-walk")
    val named = Seq("plain.csv", "_metadata", "_common_metadata", "a=b/part.csv", "_p=1/q.csv",
      "é/Ａ.csv", "😀.csv", "sub dir/x y.csv", "deep/er/est.csv",
      // skipped by name, at any depth
      ".dot", ".hidden/x.csv", "_tmp/y.csv", "x._COPYING_", "deep/_tmp/z.csv", "deep/.crcish")
    named.foreach(n => put(root, n, s"payload $n", companion = None))
    val empty = Seq("empty.csv", "a=b/empty.csv", "_SUCCESS", "deep/_SUCCESS", ".hidden/empty")
    empty.foreach(n => put(root, n, "", companion = None))

    val indexed = new InMemoryFileIndex(spark, Seq(new HPath(root.toUri)), Map("recursiveFileLookup" -> "true"), None)
      .allFiles().map(_.getPath.toUri.getPath.stripPrefix(s"$root/")).toSet
    val m = FileSync.manifest(spark, root.toString)
    val listed = m.files.map(_.relPath)
    assert(listed.toSet == indexed ++ Set("empty.csv", "a=b/empty.csv"))
    assert(listed.toSet == Set("plain.csv", "_metadata", "_common_metadata", "a=b/part.csv", "_p=1/q.csv",
      "é/Ａ.csv", "😀.csv", "sub dir/x y.csv", "deep/er/est.csv", "empty.csv", "a=b/empty.csv"))
    assert(listed.size == listed.toSet.size)
    assert(m.files.filter(_.nBytes == 0).map(_.sha1).toSet == Set(sha1hex("")))
    assert(FileSync.manifest(spark, s"file://$root").files == m.files)
  }

  test("manifestIfDir: a directory's manifest, None for a file or a missing path") {
    val root = TestSpark.tempDir("graft-ifdir")
    put(root, "only.csv", "one file", companion = None)
    val file = root.resolve("only.csv").toString
    val missing = root.resolve("missing").toString
    Seq("", "file://").foreach { scheme =>
      assert(FileSync.manifestIfDir(spark, s"$scheme$root") == Some(FileSync.manifest(spark, s"$scheme$root")))
      assert(FileSync.manifestIfDir(spark, s"$scheme$file").isEmpty)
      assert(FileSync.manifestIfDir(spark, s"$scheme$missing").isEmpty)
      val ex = intercept[AnalysisException](FileSync.manifest(spark, s"$scheme$missing"))
      assert(ex.getCondition == "PATH_NOT_FOUND", ex.getMessage)
    }
    val emptyDir = Files.createDirectory(root.resolve("sub")).toString
    assert(FileSync.manifestIfDir(spark, emptyDir).map(_.files) == Some(Nil))
  }
}
