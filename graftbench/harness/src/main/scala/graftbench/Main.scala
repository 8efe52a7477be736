package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** The fixed op sequence of one run: untimed warm-up phases, then timed
  * ones, each a phase name (`cold`, `noop`, `delta`). run.py derives both
  * lists from counts, never from time budgets, so every run of a workload
  * executes the same ops in the same order. */
final case class Schedule(warmup: Seq[String], timed: Seq[String]) {

  /** Runs `op(label, phase, timed)` for every op in order. A traced run
    * traces the warm-up, then alternates each phase's timed ops between
    * traced and untraced, for `trace.overhead_s`. */
  def foreach(trace: Trace)(op: (String, String, Boolean) => Unit): Unit = {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (warmup.map(_ -> false) ++ timed.map(_ -> true)).zipWithIndex.foreach {
      case ((phase, isTimed), i) =>
        trace.activate(!isTimed || seen(phase) % 2 == 0)
        if (isTimed) seen(phase) += 1
        op(s"${if (isTimed) "timed" else "warmup"}$i/$phase", phase, isTimed)
    }
    trace.activate(true)
  }
}

/** One benchmark run in one fresh JVM: `local[nproc]`, the engine's own
  * session factory, one workload, then `result.json` (and `spans.json` when
  * traced) in the run directory. run.py generates the inputs before this
  * JVM starts and turns the result into the summary line.
  *
  * Arguments: `<workload> <run dir> <warm-up phases> <timed phases>
  * <trace 0|1> <launch epoch ns>`, the phase lists comma separated. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, warmup, timed, traced, launchNs) = args
    val root = Path.of(runDir)
    val sched = Schedule(warmup.split(",").toSeq.filter(_.nonEmpty), timed.split(",").toSeq)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession(master = s"local[$cores]", shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    val report = new Report
    val trace = new Trace(spark, traced == "1")
    workload match {
      case "csr_etl" => CsrEtl.run(spark, root, sched, trace, report)
      case "query_mix" => QueryMix.run(spark, root, sched, trace, report)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    report.metrics("setup_s") = (report.firstTimedNs - launchNs.toLong) / 1e9
    report.metrics("jvm.peak_rss_mb") = Trace.peakRssMb()
    if (trace.enabled) {
      val spans = trace.allSpans()
      Files.writeString(root.resolve("spans.json"), Report.json(spans.map { case (s, self) =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
          "start_us" -> s.startUs, "end_us" -> s.endUs, "self_s" -> self)
      }))
    }
    trace.close()
    report.write(root.resolve("result.json"), Map("cores" -> cores))
    spark.stop()
  }

  /** Between ops and outside the timed region, drop every cached frame,
    * the way graft.Bench does after each query. */
  def releaseCaches(spark: SparkSession): Unit = {
    graft.operators.Cached.releaseAll()
    spark.catalog.clearCache()
  }

  def props(p: Path): Map[String, String] = {
    val pr = new java.util.Properties()
    val in = Files.newInputStream(p)
    try pr.load(in) finally in.close()
    pr.asScala.toMap
  }

  /** The entries of a directory (the listing stream closed). */
  def children(dir: Path): List[Path] = {
    val all = Files.list(dir)
    try all.iterator().asScala.toList finally all.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally all.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val all = Files.walk(p)
      try all.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally all.close()
    }
}
