package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class LineageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def write(dir: String, name: String, content: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))
  }

  test("commit-if-changed, parent chain, checkout restores exactly") {
    val root = TestSpark.tempDir("graft-lineage").toString
    val data = s"$root/data"; val store = s"$root/store"

    write(data, "a.csv", "k,v\n1,x\n")
    write(data, ".done-stage", "signal") // hidden: ignored like the reference's .gitignore
    val (v1, did1) = Lineage.commit(spark, store, data, "initial load")
    assert(did1)

    // unchanged content → skip commit (reference main.py:82)
    val (v1again, did2) = Lineage.commit(spark, store, data, "rerun")
    assert(v1again == v1 && !did2)
    assert(Lineage.history(spark, store).count() == 1)

    // change + add → new version, parented on v1
    write(data, "a.csv", "k,v\n1,y\n")
    write(data, "b.csv", "k\n2\n")
    val (v2, did3) = Lineage.commit(spark, store, data, "update")
    assert(did3 && v2 != v1)
    val h = Lineage.history(spark, store).select("seq", "version_id", "parent_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(h == Seq((0L, v1, null), (1L, v2, v1)))

    // checkout v1: b.csv removed, a.csv content restored
    Lineage.checkout(spark, store, v1, data)
    assert(Lineage.versionId(spark, data) == v1)
    assert(!Files.exists(Paths.get(data, "b.csv")))
    // and forward again to v2
    Lineage.checkout(spark, store, v2, data)
    assert(Lineage.versionId(spark, data) == v2)

    assertThrows[IllegalArgumentException] {
      Lineage.checkout(spark, store, "deadbeef", data)
    }
  }

  test("a leftover hidden temp entry is ignored by head, history and checkout") {
    val root = TestSpark.tempDir("graft-lineage-tmp").toString
    val data = s"$root/data"; val store = s"$root/store"
    write(data, "a.csv", "k,v\n1,x\n")
    val (v1, _) = Lineage.commit(spark, store, data, "initial load")
    // a crash between writing an entry and renaming it into place
    val ghost = "f" * 40
    write(s"$store/ledger", s".${"%019d".format(1)}-$ghost.json.tmp",
      s"""{"seq":1,"version_id":"$ghost","parent_id":"$v1","data_dir":"$data","message":"crashed","n_changed":1,"committed_at":0}\n""")
    Files.createDirectories(Paths.get(store, "objects", ghost))
    // head is still v1: unchanged content skips
    assert(Lineage.commit(spark, store, data, "rerun") == (v1, false))
    assert(Lineage.history(spark, store).select("version_id").collect().map(_.getString(0)).toSeq == Seq(v1))
    assertThrows[IllegalArgumentException](Lineage.checkout(spark, store, ghost, data))
    // the next real commit takes seq 1 and is parented on v1
    write(data, "a.csv", "k,v\n1,y\n")
    val (v2, did) = Lineage.commit(spark, store, data, "update")
    assert(did)
    val h = Lineage.history(spark, store).select("seq", "version_id", "parent_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(h == Seq((0L, v1, null), (1L, v2, v1)))
  }
}
