package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val run = "spec" + java.util.UUID.randomUUID.toString.replace("-", "")
  private val datasets = TestSpark.tempDir("graft_stage_spec")
  private val names = new AtomicInteger

  /** A stage name no other test or run shares, so its siblings can be listed. */
  private def freshName(): String = s"$run${names.incrementAndGet()}"

  private def newDir(): Path = Files.createTempDirectory(datasets, "ds")

  override def afterAll(): Unit = {
    val stages = children(tmp).filter(_.getFileName.toString.startsWith(s"graft_$run"))
    (datasets :: stages).foreach { p =>
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally walk.close()
    }
  }

  /** A dataset dir `<parent>/data` whose table `t` is a file of `rows`. */
  private def dataset(rows: String*): String = datasetUnder(newDir(), rows: _*)

  private def datasetUnder(parent: Path, rows: String*): String = {
    val dir = Files.createDirectories(parent.resolve("data"))
    Files.write(dir.resolve("t.parquet"), rows.asJava)
    dir.toString
  }

  private def children(p: Path): List[Path] = {
    val listing = Files.list(p)
    try listing.iterator.asScala.toList.sortBy(_.toString) finally listing.close()
  }

  private def files(p: Path): Seq[Path] = if (Files.isDirectory(p)) children(p) else Seq(p)

  private def lines(p: Path): Seq[String] =
    files(p).flatMap(f => Files.readAllLines(f).asScala)

  /** A writer that copies the source rows into a two-part stage dir. */
  private def copyRows(dir: String, builds: AtomicInteger, pause: Long = 0)(out: String): Unit = {
    builds.incrementAndGet()
    val rows = lines(Paths.get(dir, "t.parquet"))
    val o = Files.createDirectories(Paths.get(out))
    Files.write(o.resolve("part-0"), rows.take(1).asJava)
    Thread.sleep(pause)
    Files.write(o.resolve("part-1"), rows.drop(1).asJava)
  }

  private def rows(stage: String): Seq[String] = lines(Paths.get(stage))

  /** Every entry of the staging root that belongs to stage `name`. */
  private def entries(name: String): Set[String] =
    children(tmp).map(_.getFileName.toString).filter(_.startsWith(s"graft_${name}_")).toSet

  private def published(stage: String): Set[String] = {
    val n = Paths.get(stage).getFileName.toString
    Set(n, s"$n.sig")
  }

  test("a stage rebuilds once its source changes, and only then") {
    val name = freshName()
    val dir = dataset("v1")
    val builds = new AtomicInteger
    def stage() = Stage.path(name, dir, "t")(copyRows(dir, builds))
    val p = stage()
    assert(builds.get == 1 && rows(p) == Seq("v1"))
    assert(stage() == p && builds.get == 1)
    // change the source (content + mtime): the stage must invalidate
    Thread.sleep(5)
    Files.write(Paths.get(dir, "t.parquet"), Seq("v2-longer").asJava)
    assert(stage() == p && builds.get == 2 && rows(p) == Seq("v2-longer"))
    assert(stage() == p && builds.get == 2)
    assert(entries(name) == published(p))
  }

  test("a deleted stage dir is rebuilt even though its sig survives") {
    val name = freshName()
    val dir = dataset("v1", "v2")
    val builds = new AtomicInteger
    def stage() = Stage.path(name, dir, "t")(copyRows(dir, builds))
    val p = stage()
    files(Paths.get(p)).foreach(Files.delete)
    Files.delete(Paths.get(p))
    assert(Files.exists(Paths.get(s"$p.sig")))
    assert(stage() == p && builds.get == 2 && rows(p) == Seq("v1", "v2"))
  }

  test("directory sources fold every part file into the signature") {
    val name = freshName()
    val dir = newDir()
    val table = Files.createDirectories(dir.resolve("t.parquet"))
    Files.write(table.resolve("part-0"), "a".getBytes)
    Files.write(table.resolve("part-1"), "b".getBytes)
    val builds = new AtomicInteger
    def stage() = Stage.path(name, dir.toString, "t")(copyRows(dir.toString, builds))
    val p = stage()
    assert(stage() == p && builds.get == 1 && rows(p) == Seq("a", "b"))
    Thread.sleep(5)
    Files.write(table.resolve("part-1"), "bb".getBytes)
    assert(stage() == p && builds.get == 2 && rows(p) == Seq("a", "bb"))
  }

  test("datasets that share a basename get a stage each") {
    val name = freshName()
    val a = datasetUnder(newDir(), "a1", "a2")
    val b = datasetUnder(newDir(), "b1")
    assert(Paths.get(a).getFileName == Paths.get(b).getFileName)
    val builds = new AtomicInteger
    def stage(dir: String) = Stage.path(name, dir, "t")(copyRows(dir, builds))
    val (pa, pb, pa2) = (stage(a), stage(b), stage(a))
    assert(builds.get == 2)
    assert(pa != pb && pa2 == pa)
    assert(rows(pa) == Seq("a1", "a2") && rows(pb) == Seq("b1"))
    assert(entries(name) == published(pa) ++ published(pb))
  }

  test("a build that fails after writing parts publishes nothing, and the next call rebuilds") {
    val name = freshName()
    val dir = dataset("r1", "r2")
    val builds = new AtomicInteger
    val err = intercept[IllegalStateException] {
      Stage.path(name, dir, "t") { out =>
        copyRows(dir, builds)(out)
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage == "build failed" && builds.get == 1)
    assert(entries(name).isEmpty, "no stage, no .sig and no temp sibling")
    val p = Stage.path(name, dir, "t")(copyRows(dir, builds))
    assert(builds.get == 2 && rows(p) == Seq("r1", "r2"))
    assert(entries(name) == published(p))
  }

  test("two threads staging one name at once both read the complete stage") {
    val name = freshName()
    val dir = dataset("x1", "x2", "x3")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val call: Callable[(String, Seq[String])] = () => {
        start.await()
        val p = Stage.path(name, dir, "t")(copyRows(dir, builds, pause = 200))
        (p, rows(p))
      }
      val results = Seq(pool.submit(call), pool.submit(call))
      start.countDown()
      val got = results.map(_.get())
      assert(got.map(_._2) == Seq.fill(2)(Seq("x1", "x2", "x3")))
      assert(got.map(_._1).distinct.size == 1 && builds.get == 1)
      assert(entries(name) == published(got.head._1))
    } finally pool.shutdown()
  }
}
