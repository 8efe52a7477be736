package graft.pipeline

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** ExternalTask retry/poll semantics against flaky fakes: bounded submit
  * retries, poll-until-complete with backoff, fail-fast on FAILED,
  * timeout on budget exhaustion, done-signal flow through the Dag, and
  * retry accounting landed via RunReport. */
class ExternalTaskSpec extends AnyFunSuite {
  import ExternalTask._

  /** Virtual clock: records requested sleeps, never blocks. */
  private def clock(): (mutable.ArrayBuffer[Long], Long => Unit) = {
    val slept = mutable.ArrayBuffer.empty[Long]
    (slept, ms => slept += ms)
  }

  private def policy(submits: Int = 3, polls: Int = 5, delay: Long = 100L,
                     backoff: Double = 1.0, sleep: Long => Unit) =
    RetryPolicy(submits, polls, delay, backoff, sleep)

  test("flaky trigger: fails twice, succeeds third; polls to completion with fixed cadence") {
    val (slept, sleep) = clock()
    var submitCalls = 0
    var pollCalls = 0
    val log = new TrieMap[String, Attempts]
    val t = ExternalTask.task("load", Nil,
      submit = () => { submitCalls += 1; if (submitCalls < 3) sys.error("connection reset") },
      poll = () => { pollCalls += 1; if (pollCalls < 4) PollStatus.Pending else PollStatus.Completed("sig-v1") },
      policy = policy(sleep = sleep), attemptLog = log)
    assert(t.run() == "sig-v1")
    assert(log("load") == Attempts(submits = 3, polls = 4))
    assert(slept.toSeq == Seq(100L, 100L, 100L), "one sleep between polls, none after the last")
  }

  test("backoff multiplies the poll delay") {
    val (slept, sleep) = clock()
    var polls = 0
    val t = ExternalTask.task("slow", Nil,
      submit = () => (),
      poll = () => { polls += 1; if (polls < 4) PollStatus.Pending else PollStatus.Completed("s") },
      policy = policy(delay = 100L, backoff = 2.0, sleep = sleep))
    t.run()
    assert(slept.toSeq == Seq(100L, 200L, 400L))
  }

  test("trigger exhaustion raises with the last cause; attempts recorded") {
    val (_, sleep) = clock()
    val log = new TrieMap[String, Attempts]
    val t = ExternalTask.task("dead", Nil,
      submit = () => sys.error("503"),
      poll = () => PollStatus.Completed("never"),
      policy = policy(submits = 2, sleep = sleep), attemptLog = log)
    val e = intercept[ExternalTaskException](t.run())
    assert(e.getMessage.contains("trigger failed after 2 attempts"))
    assert(e.getCause.getMessage == "503")
    assert(log("dead") == Attempts(2, 0))
  }

  test("FAILED status raises immediately, no further polls") {
    val (slept, sleep) = clock()
    var polls = 0
    val log = new TrieMap[String, Attempts]
    val t = ExternalTask.task("bad", Nil,
      submit = () => (),
      poll = () => { polls += 1; PollStatus.Failed("constraint violation") },
      policy = policy(sleep = sleep), attemptLog = log)
    val e = intercept[ExternalTaskException](t.run())
    assert(e.getMessage.contains("constraint violation"))
    assert(polls == 1 && slept.isEmpty)
    assert(log("bad") == Attempts(1, 1))
  }

  test("poll budget exhaustion times out (the reference's sleep*n timeout)") {
    val (slept, sleep) = clock()
    val log = new TrieMap[String, Attempts]
    val t = ExternalTask.task("hung", Nil,
      submit = () => (),
      poll = () => PollStatus.Pending,
      policy = policy(polls = 4, sleep = sleep), attemptLog = log)
    val e = intercept[ExternalTaskException](t.run())
    assert(e.getMessage.contains("not complete after 4 polls"))
    assert(log("hung") == Attempts(1, 4))
    assert(slept.length == 3, "no sleep after the final poll")
  }

  test("done-signal flows through the Dag: unchanged external output skips downstream") {
    val (_, sleep) = clock()
    var signal = "ext-v1"
    var downstreamRuns = 0
    val ext = ExternalTask.task("ext", Nil,
      submit = () => (),
      poll = () => PollStatus.Completed(signal),
      policy = policy(sleep = sleep))
    // external task re-polls every run (its input signal is the probe),
    // so give it an external input keyed to the current signal: unchanged
    // service output => stored signal matches => downstream skips
    val extProbed = ext.copy(externalInput = () => signal)
    val down = Task("consume", Seq("ext"), () => { downstreamRuns += 1; "c1" })
    val store = new InMemorySignalStore
    val r1 = new Dag(Seq(extProbed, down)).execute(store)
    assert(r1.ran == Seq("ext", "consume"))
    val r2 = new Dag(Seq(extProbed, down)).execute(store)
    assert(r2.skipped == Seq("ext", "consume"), "unchanged external output is a no-op run")
    signal = "ext-v2" // the service rebuilt something
    val r3 = new Dag(Seq(extProbed, down)).execute(store)
    assert(r3.ran == Seq("ext", "consume") && downstreamRuns == 2)
  }

  test("RunReport lands retry accounting next to outcomes") {
    val spark = TestSpark.spark
    val dir = TestSpark.tempDir("graft-extreport").toString
    val outcomes = Seq(
      RunReport.Outcome("ext", "ok", 12L),
      RunReport.Outcome("consume", "ok", 3L))
    RunReport.land(spark, dir, runId = 1L, report = None, outcomes,
      attempts = Map("ext" -> Attempts(3, 4)))
    val rows = RunReport.history(spark, dir)
      .select("task", "n_submits", "n_polls")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(rows == Set(("ext", 3, 4), ("consume", 0, 0)))
  }
}
