package graftbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import graft.operators.{CodebookDecode, EavMelt, EntityMerge, FileSync}
import graft.pipeline.{FileSignalStore, GraftPipeline, PipelineConfig, SignalStore, SourceSpec}
import graft.sources.{ColSpec, DelimitedConfig, DelimitedSource}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `csr_etl`: the CSR pipeline (sync → sources2csr → csr2transmart → load →
  * cache_rebuild, lineage and cache on) over the generated drop zone.
  *
  *  - cold: a run from empty (every pipeline directory deleted first);
  *  - noop: a re-run with nothing changed;
  *  - delta: `registry.csv` is re-delivered in the other of its two
  *    generated states, so the whole cone re-runs.
  *
  * A cold run rebuilds exactly the inputs the last delta left, so its
  * output must equal that delta's output byte for byte. */
object CsrEtl {
  val Tasks: Seq[String] = Seq("sync", "sources2csr", "csr2transmart", "load", "cache_rebuild")

  private val sources = Seq(
    SourceSpec("individuals.csv", DelimitedConfig(";", header = true, columns = Seq(
      ColSpec("individual_id", "long"), ColSpec("name", "string"),
      ColSpec("sex", "string"), ColSpec("birth_date", "date", Some("dd-MM-yyyy"))))),
    SourceSpec("registry.csv", DelimitedConfig(",", header = true, columns = Seq(
      ColSpec("individual_id", "long"), ColSpec("name", "string"), ColSpec("segment", "string")))),
    SourceSpec("measurements.tsv", DelimitedConfig("\t", header = true, columns = Seq(
      ColSpec("individual_id", "long"), ColSpec("bmi", "double"),
      ColSpec("diagnosis", "string"), ColSpec("visit_date", "date", Some("yyyy-MM-dd"))))))

  private val codebook: Seq[(String, String, String)] =
    Seq(("sex", "1", "male"), ("sex", "2", "female")) ++
      (0 until 20).map(i => ("diagnosis", f"D$i%02d", s"diagnosis $i"))

  def config(root: Path): PipelineConfig = {
    val pipe = root.resolve("pipe")
    PipelineConfig(
      dropDir = root.resolve("drop").toString,
      inputDataDir = pipe.resolve("input_data").toString,
      workingDir = pipe.resolve("working").toString,
      stagingDir = pipe.resolve("staging").toString,
      signalsDir = pipe.resolve("signals"),
      sources = sources,
      entityKey = "individual_id",
      attrs = Seq("name", "sex", "birth_date", "segment", "bmi", "diagnosis", "visit_date"),
      codebook = codebook,
      concepts = Seq(
        ("name", "Individual.name", EavMelt.TextValue),
        ("sex", "Individual.sex", EavMelt.TextValue),
        ("birth_date", "Individual.birth_date", EavMelt.DateValue),
        ("segment", "Individual.segment", EavMelt.TextValue),
        ("bmi", "Measurement.bmi", EavMelt.NumValue),
        ("diagnosis", "Measurement.diagnosis", EavMelt.TextValue),
        ("visit_date", "Measurement.visit_date", EavMelt.DateValue)),
      lineageDir = Some(pipe.resolve("lineage").toString),
      cacheDir = Some(pipe.resolve("cache").toString))
  }

  /** Times each task body: the Dag calls `get` right before it decides to
    * run a task and `put` right after the body returns. */
  private final class TimingStore(inner: SignalStore, trace: Trace) extends SignalStore {
    val taskS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    private var lastGet = 0L
    def get(taskId: String): Option[String] = {
      val out = inner.get(taskId)
      lastGet = trace.nowUs()
      out
    }
    def put(taskId: String, signal: String): Unit = {
      val end = trace.nowUs()
      taskS(taskId) = (end - lastGet) / 1e6
      trace.child(taskId, "task", lastGet, end)
      inner.put(taskId, signal)
    }
  }

  def run(spark: SparkSession, root: Path, sched: Schedule, trace: Trace, report: Report): Unit = {
    val cfg = config(root)
    val expected = Main.props(root.resolve("expected.properties"))
    val pipe = root.resolve("pipe")
    val obsDir = Path.of(cfg.stagingDir, "observations")
    var lastDeltaSha: Option[String] = None

    def deliver(state: String): Unit =
      Seq("", ".sha1").foreach(ext => Files.copy(
        root.resolve(s"deliveries/registry.$state.csv$ext"),
        root.resolve(s"drop/registry.csv$ext"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))

    /** One pipeline execution as a timed op, with its output checks. */
    def execute(label: String, phase: String, timed: Boolean,
                state: String, expectRan: Seq[String]): Unit = {
      Main.releaseCaches(spark)
      report.attempt(label) {
        val store = if (trace.active) new TimingStore(new FileSignalStore(cfg.signalsDir), trace)
          else new FileSignalStore(cfg.signalsDir)
        if (timed) report.timedStart()
        val (rep, fig) = trace.op(label, phase) { GraftPipeline.build(spark, cfg).execute(store) }
        report.check(rep.ran == expectRan, s"$label ran ${rep.ran}, expected $expectRan")
        report.check(rep.skipped == Tasks.filterNot(expectRan.contains),
          s"$label skipped ${rep.skipped}")
        val obs = observationFile(obsDir)
        val lines = Files.lines(obs)
        val rows = try lines.count() - 1 finally lines.close()
        report.check(rows == expected(s"obs.$state").toLong,
          s"$label: $rows observation rows, generator says ${expected(s"obs.$state")}")
        val sha = sha1(obs)
        if (phase == "cold") lastDeltaSha.foreach(d =>
          report.check(d == sha, s"$label: cold rebuild differs from the previous delta output"))
        if (phase == "delta") lastDeltaSha = Some(sha)
        if (timed) {
          report.sample(s"${phase}_s", fig.wallS)
          if (trace.enabled)
            report.sample(s"${phase}_s." + (if (trace.active) "traced" else "untraced"), fig.wallS)
          if (trace.active) layerSamples(report, phase, fig, store)
        }
      }
    }

    var state = "A"
    var ampPending = trace.enabled
    sched.foreach(trace) { (label, phase, timed) =>
      phase match {
        case "cold" =>
          Main.deleteTree(pipe)
          deliver(state)
          execute(label, phase, timed, state, Tasks)
          if (timed && ampPending) {
            report.metrics("pipeline.write_amplification") =
              Main.treeBytes(pipe).toDouble / Main.treeBytes(root.resolve("drop"))
            ampPending = false
          }
        case "noop" => execute(label, phase, timed, state, Nil)
        case "delta" =>
          state = if (state == "A") "B" else "A"
          deliver(state)
          execute(label, phase, timed, state, Tasks)
      }
    }
    if (trace.enabled) directCalls(spark, cfg, report)
  }

  private def layerSamples(report: Report, phase: String, fig: OpFigures, store: SignalStore): Unit = {
    val taskS = store.asInstanceOf[TimingStore].taskS
    report.sample(s"spark.jobs.$phase", fig.jobs)
    report.sample(s"spark.tasks.$phase", fig.tasks)
    phase match {
      case "cold" =>
        Tasks.foreach(t => report.sample(s"pipeline.task.${t}_s", taskS.getOrElse(t, 0.0)))
        report.sample("spark.driver_s.cold", fig.driverS)
        report.sample("spark.input_bytes.cold", fig.inputBytes)
        report.sample("spark.shuffle_read_bytes.cold", fig.shuffleReadBytes)
        report.sample("spark.shuffle_write_bytes.cold", fig.shuffleWriteBytes)
        report.sample("spark.spill_bytes.cold", fig.spillBytes)
        report.sample("jvm.gc_s", fig.gcS)
      case "noop" =>
        report.sample("pipeline.probe_s", fig.wallS - taskS.values.sum)
        report.sample("pipeline.hash_bytes.noop", fig.inputBytes)
      case _ =>
        report.sample("pipeline.tasks_ran.delta", taskS.size)
    }
  }

  /** The ETL operators called directly on the run's inputs, each
    * materialized with a `noop` write over cached upstream frames. */
  private def directCalls(spark: SparkSession, cfg: PipelineConfig, report: Report): Unit = {
    import spark.implicits._
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def timeS(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    report.attempt("layers/direct") {
      for (_ <- 0 until 3) {
        Main.releaseCaches(spark)
        val frames = sources.map(s => DelimitedSource.read(spark, s"${cfg.dropDir}/${s.fileName}", s.cfg))
        report.sample("sources.read_s", timeS(frames.foreach(noop)))
        report.sample("operators.filesync_s", timeS(FileSync.verifyChecksums(spark, cfg.dropDir).collect()))
        frames.foreach(f => noop(f.cache()))
        val merged = EntityMerge.merge(frames, cfg.entityKey, cfg.attrs)
        report.sample("operators.merge_s", timeS(noop(merged)))
        noop(merged.cache())
        val decoded = CodebookDecode.decodeAll(merged, Seq("sex", "diagnosis"),
          cfg.codebook.toDF("column_name", "code", "label"))
        report.sample("operators.decode_s", timeS(noop(decoded)))
        noop(decoded.cache())
        report.sample("operators.melt_s", timeS(noop(EavMelt.melt(decoded, cfg.entityKey, cfg.concepts))))
      }
      Main.releaseCaches(spark)
    }
  }

  private def observationFile(dir: Path): Path = {
    val parts = Main.children(dir).filter(_.getFileName.toString.startsWith("part-"))
    require(parts.size == 1, s"expected one staged observation file under $dir, found ${parts.size}")
    parts.head
  }

  def sha1(p: Path): String =
    MessageDigest.getInstance("SHA-1").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
}
