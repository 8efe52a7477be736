package graft.pipeline

import java.nio.file.Files
import scala.collection.mutable
import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class DagSpec extends AnyFunSuite {

  /** sync → transform → load diamond with an audit log of actual runs.
    * `outA` plays the drop-zone content: it is both sync's external input
    * signature and its output signal, like the reference's checksum list. */
  private def pipeline(log: mutable.Buffer[String], outA: () => String) = new Dag(Seq(
    Task("sync", Nil, () => { log += "sync"; outA() }, externalInput = outA),
    Task("sources2csr", Seq("sync"), () => { log += "sources2csr"; "csr-v1" }),
    Task("csr2transmart", Seq("sources2csr"), () => { log += "csr2transmart"; "tm-v1" }),
    Task("load", Seq("csr2transmart", "sync"), () => { log += "load"; "loaded" }),
  ))

  test("topological order is deterministic and dependency-correct") {
    val d = pipeline(mutable.Buffer(), () => "s1")
    val pos = d.order.zipWithIndex.toMap
    assert(pos("sync") < pos("sources2csr"))
    assert(pos("sources2csr") < pos("csr2transmart"))
    assert(pos("csr2transmart") < pos("load"))
  }

  test("first run executes everything; unchanged rerun executes nothing") {
    val log = mutable.Buffer[String]()
    val store = new InMemorySignalStore
    val r1 = pipeline(log, () => "drop-zone-v1").execute(store)
    assert(r1.ran.toSet == Set("sync", "sources2csr", "csr2transmart", "load"))
    log.clear()
    val r2 = pipeline(log, () => "drop-zone-v1").execute(store)
    assert(r2.ran.isEmpty && r2.skipped.size == 4)
    assert(log.isEmpty) // nothing actually executed
  }

  test("upstream output change re-runs the downstream cone") {
    val store = new InMemorySignalStore
    pipeline(mutable.Buffer(), () => "drop-zone-v1").execute(store)
    val log = mutable.Buffer[String]()
    // the drop zone changed: sync re-runs (external input differs) and its
    // changed output invalidates its direct consumers. sources2csr re-runs
    // but emits the SAME output signal, so the invalidation cuts off there
    // — csr2transmart skips (content-signature cut-off, like the
    // reference's done-signal compare). load depends on sync directly, so
    // it re-runs.
    val r = pipeline(log, () => "drop-zone-v2").execute(store)
    assert(r.ran.toSet == Set("sync", "sources2csr", "load"))
    assert(r.skipped == Seq("csr2transmart"))
  }

  test("upstream runs but emits the same output → downstream still skips") {
    val store = new InMemorySignalStore
    val d1 = new Dag(Seq(
      Task("a", Nil, () => "same-signal"),
      Task("b", Seq("a"), () => "b-out")))
    d1.execute(store)
    val log = mutable.Buffer[String]()
    val d2 = new Dag(Seq(
      Task("a", Nil, () => { log += "a"; "same-signal" }),
      Task("b", Seq("a"), () => { log += "b"; "b-out" })))
    // a's stored input signal matches (no deps) → skipped; so does b
    val r = d2.execute(store)
    assert(r.ran.isEmpty)
    assert(log.isEmpty)
  }

  test("cycle detection") {
    assertThrows[IllegalArgumentException] {
      new Dag(Seq(Task("a", Seq("b"), () => ""), Task("b", Seq("a"), () => "")))
    }
  }

  test("unknown dependency rejected") {
    assertThrows[IllegalArgumentException] {
      new Dag(Seq(Task("a", Seq("ghost"), () => "")))
    }
  }

  test("FileSignalStore persists .done-<task> files across Dag instances") {
    val dir = TestSpark.tempDir("graft-dag")
    val store1 = new FileSignalStore(dir)
    pipeline(mutable.Buffer(), () => "v1").execute(store1)
    assert(Files.exists(dir.resolve(".done-sources2csr")))
    // a brand-new store over the same dir sees the signals → full skip
    val log = mutable.Buffer[String]()
    val r = pipeline(log, () => "v1").execute(new FileSignalStore(dir))
    assert(r.ran.isEmpty && log.isEmpty)
  }
}
