package graft.pipeline

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class RunReportSpec extends AnyFunSuite {

  private def task(id: String, deps: Seq[String], out: String = "sig",
                   fail: Boolean = false): Task =
    Task(id, deps, () => if (fail) throw new RuntimeException(s"boom-$id") else out)

  test("success body lists every outcome with durations plus signal-skipped tasks") {
    val (tasks, log) = RunReport.instrument(Seq(
      task("sync", Nil), task("sources2csr", Seq("sync")), task("load", Seq("sources2csr"))))
    val dag = new Dag(tasks)
    val store = new InMemorySignalStore
    val r1 = dag.execute(store)
    assert(r1.ran == Seq("sync", "sources2csr", "load"))
    val body1 = RunReport.body("[graft]", Some(r1), log.values.toSeq, tasks.map(_.id))
    assert(body1.startsWith("[graft] pipeline run: SUCCESS"))
    assert(Seq("sync", "sources2csr", "load").forall(id => body1.contains(id)))
    assert(!body1.contains("errors"))
    // second run: everything signal-skips; the report says so
    log.clear()
    val r2 = dag.execute(store)
    assert(r2.ran.isEmpty && r2.skipped.size == 3)
    val body2 = RunReport.body("[graft]", Some(r2), log.values.toSeq, tasks.map(_.id))
    assert(body2.contains("up-to-date (signal match)"))
  }

  test("landed run history is a queryable dataset across runs") {
    val spark = graft.TestSpark.spark
    val dir = TestSpark.tempDir("graft-runhist").toString
    val (tasks, log) = RunReport.instrument(Seq(
      task("sync", Nil), task("load", Seq("sync"))))
    val dag = new Dag(tasks)
    val store = new InMemorySignalStore
    val r1 = dag.execute(store)
    RunReport.land(spark, dir, 1L, Some(r1), log.values.toSeq)
    log.clear()
    val r2 = dag.execute(store) // all skip on signals
    RunReport.land(spark, dir, 2L, Some(r2), log.values.toSeq)
    val hist = RunReport.history(spark, dir)
      .select("run_id", "task", "status", "skipped").collect()
      .map(r => (r.get(0).toString.toLong, r.getString(1), r.getString(2), r.getBoolean(3)))
    assert(hist.count(_._1 == 1L) == 2 && hist.filter(_._1 == 1L).forall(!_._4))
    assert(hist.count(_._1 == 2L) == 2 && hist.filter(_._1 == 2L).forall(_._4))
    assert(hist.forall(_._3 == "ok"))
  }

  test("notifier receives the template-shaped notification; transport stays pluggable") {
    val (tasks, log) = RunReport.instrument(Seq(
      task("sync", Nil),
      task("load", Seq("sync"), fail = true)))
    intercept[RuntimeException](new Dag(tasks).execute(new InMemorySignalStore))
    val rec = new RunReport.RecordingNotifier
    val n = RunReport.notify(rec, "[graft]", None, log.values.toSeq, tasks.map(_.id),
      logFile = Some("/var/log/graft.log"))
    assert(rec.sent == Seq(n), "send goes through the injected transport")
    assert(n.subject == "[graft] FAILED")
    assert(n.body.startsWith("Pipeline status: Errors found!"))
    assert(n.body.contains("Execution Summary"))
    assert(n.body.contains("== errors ==") && n.body.contains("load: boom-load"))
    assert(n.body.contains("logfile: /var/log/graft.log"))
    // success shape
    val (ok, okLog) = RunReport.instrument(Seq(task("sync", Nil)))
    val r = new Dag(ok).execute(new InMemorySignalStore)
    val n2 = RunReport.notify(new RunReport.RecordingNotifier, "[graft]",
      Some(r), okLog.values.toSeq, ok.map(_.id))
    assert(n2.subject == "[graft] SUCCESS")
    assert(n2.body.startsWith("Pipeline status: Completed successfully"))
  }

  test("failure body names the dead task and the downstream it blocked") {
    val (tasks, log) = RunReport.instrument(Seq(
      task("sync", Nil),
      task("sources2csr", Seq("sync"), fail = true),
      task("load", Seq("sources2csr"))))
    val dag = new Dag(tasks)
    val thrown = intercept[RuntimeException](dag.execute(new InMemorySignalStore))
    assert(thrown.getMessage == "boom-sources2csr")
    val body = RunReport.body("[graft]", None, log.values.toSeq, tasks.map(_.id))
    assert(body.startsWith("[graft] pipeline run: FAILED"))
    assert(body.contains("== errors =="))
    assert(body.contains("sources2csr: boom-sources2csr"))
    assert(body.contains("blocked downstream: load"))
    assert(body.contains("sync") && log("sync").status == "ok")
  }
}
