package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** `query_mix`: a seeded list of registered read queries over the
  * generated tables, run in one long-lived session. Each op is one
  * registry call plus a `noop` write; a pass runs the whole list.
  *
  *  - cold: this run's staged artifacts are deleted first (build + read);
  *  - noop: every stage is current;
  *  - delta: `orders.parquet` is re-delivered (a new file with the same
  *    rows), so exactly the stages derived from it rebuild;
  *  - results (warm-up only): a noop pass that writes each result as
  *    parquet instead, with the oracle SQL beside them, for the DuckDB
  *    check run.py makes.
  *
  * Staged artifacts land under `java.io.tmpdir`, which run.py points into
  * the run's own directory. */
object QueryMix {
  /** Stage directory prefixes derived from the re-delivered table. */
  val DeltaTable = "orders"
  val DeltaStages: Set[String] = Set("graft_delim", "graft_seg")

  def run(spark: SparkSession, root: Path, sched: Schedule, trace: Trace, report: Report): Unit = {
    val dir = root.resolve("data/gbsf").toString
    val mix = Files.readAllLines(root.resolve("queries.txt")).asScala.toSeq
      .filter(_.nonEmpty).map { l => val Array(q, m) = l.split(" "); (q, m) }
    val tmp = Path.of(System.getProperty("java.io.tmpdir"))
    val out = root.resolve("out")
    val registry = SparkEntry.registry

    def pass(label: String, phase: String, timed: Boolean, expectRebuilt: Set[String] => Set[String]): Unit = {
      val before = stageSigs(tmp)
      var total, planS, execS = 0.0
      val byModule = scala.collection.mutable.Map.empty[String, Double]
      var runS, driverS, gcS = 0.0
      var jobs, tasks, nodes = 0
      var inputB, shReadB, shWriteB, spillB = 0L
      val passStart = trace.nowUs()
      mix.foreach { case (q, module) =>
        Main.releaseCaches(spark)
        report.attempt(s"$label/$q") {
          if (timed) report.timedStart()
          var p, e = 0.0
          val (df, fig) = trace.op(q, "query") {
            val t0 = System.nanoTime()
            val df = registry(q).fn(spark, dir)
            val t1 = System.nanoTime()
            if (phase == "results") df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
            else df.write.mode("overwrite").format("noop").save()
            p = (t1 - t0) / 1e9
            e = (System.nanoTime() - t1) / 1e9
            df
          }
          total += fig.wallS; planS += p; execS += e
          byModule(module) = byModule.getOrElse(module, 0.0) + e
          jobs += fig.jobs; tasks += fig.tasks; runS += fig.runS
          driverS += fig.driverS; gcS += fig.gcS
          inputB += fig.inputBytes; shReadB += fig.shuffleReadBytes
          shWriteB += fig.shuffleWriteBytes; spillB += fig.spillBytes
          if (trace.active && phase == "noop") nodes += graftNodes(df.queryExecution.executedPlan).size
        }
      }
      trace.group(label, "pass", passStart, trace.nowUs())
      val after = stageSigs(tmp)
      val rebuilt = after.keySet.filter(k => !before.get(k).contains(after(k))).map(prefix)
      val want = expectRebuilt(after.keySet.map(prefix))
      report.attempt(s"$label/stages") {
        report.check(rebuilt == want, s"$label rebuilt stages $rebuilt, expected $want")
      }
      if (timed) {
        report.sample(s"${phase}_s", total)
        if (trace.enabled)
          report.sample(s"${phase}_s." + (if (trace.active) "traced" else "untraced"), total)
        report.sample(s"operators.plan_s.$phase", planS)
        report.sample(s"operators.exec_s.$phase", execS)
        if (trace.active) {
          report.sample(s"spark.jobs.$phase", jobs)
          report.sample(s"spark.tasks.$phase", tasks)
          phase match {
            case "cold" =>
              report.sample("spark.input_bytes.cold", inputB)
              report.sample("spark.shuffle_read_bytes.cold", shReadB)
              report.sample("spark.shuffle_write_bytes.cold", shWriteB)
              report.sample("spark.spill_bytes.cold", spillB)
              report.sample("spark.driver_s.cold", driverS)
              report.sample("jvm.gc_s", gcS)
              report.sample("stage.bytes", Main.treeBytes(tmp))
            case "noop" =>
              byModule.foreach { case (m, s) => report.sample(s"operators.$m.exec_s", s) }
              report.sample("spark.core_busy_share.noop", runS / (total * Runtime.getRuntime.availableProcessors))
              report.sample("plans.custom_nodes", nodes)
            case _ =>
          }
        }
      }
    }

    sched.foreach(trace) { (label, phase, timed) =>
      phase match {
        case "cold" =>
          clearStages(tmp)
          pass(label, phase, timed, all => all)
        case "noop" | "results" => pass(label, phase, timed, _ => Set.empty)
        case "delta" =>
          redeliver(Path.of(dir, s"$DeltaTable.parquet"))
          pass(label, phase, timed, all => all.intersect(DeltaStages))
      }
    }
    report.samples.get("operators.plan_s.cold").foreach { cold =>
      val noop = report.median("operators.plan_s.noop")
      report.metrics("stage.build_s") = Report.median(cold.toSeq) - noop
    }
    val oracle = mix.flatMap { case (q, _) => registry(q).oracle.map(q -> _) }.toMap
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"), Report.json(oracle))
  }

  /** Class names of the graft `plans` nodes and expressions in a physical
    * plan, one entry per occurrence. */
  def graftNodes(plan: SparkPlan): Seq[String] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(plan).flatMap(n => n.getClass.getName +: n.expressions.flatMap(_.collect {
      case e => e.getClass.getName
    })).filter(_.startsWith("graft.plans."))
  }

  private def stageSigs(tmp: Path): Map[String, String] =
    if (!Files.isDirectory(tmp)) Map.empty
    else Main.children(tmp)
      .filter(p => p.getFileName.toString.startsWith("graft_") && p.getFileName.toString.endsWith(".sig"))
      .map(p => p.getFileName.toString -> s"${Files.getLastModifiedTime(p).toMillis}:${Files.readString(p)}")
      .toMap

  private def prefix(sig: String): String = sig.split("_").take(2).mkString("_")

  private def clearStages(tmp: Path): Unit =
    if (Files.isDirectory(tmp))
      Main.children(tmp).filter(_.getFileName.toString.startsWith("graft_")).foreach(Main.deleteTree)

  /** A new file with the same bytes replaces the table (new mtime). */
  private def redeliver(table: Path): Unit = {
    val next = table.resolveSibling(table.getFileName.toString + ".next")
    Files.copy(table, next, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(next, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(table).toMillis + 1000))
    Files.move(next, table, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}
