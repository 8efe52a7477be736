package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import graft.TestSpark
import graft.operators.EavMelt
import graft.sources.{ColSpec, DelimitedConfig}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: the reference's sync → sources2csr → csr2transmart → load
  * flow over real directories, incremental re-runs included. */
class GraftPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sha1hex(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def drop(dir: Path, name: String, content: String): Unit = {
    Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve(s"$name.sha1"),
      s"${sha1hex(content)}  $name\n".getBytes(StandardCharsets.UTF_8))
  }

  private def mkCfg(): (Path, PipelineConfig) = {
    val root = Files.createTempDirectory("graft-pipe")
    val dropDir = Files.createDirectory(root.resolve("drop"))
    val cfg = PipelineConfig(
      dropDir = dropDir.toString,
      inputDataDir = root.resolve("input_data").toString,
      workingDir = root.resolve("working").toString,
      stagingDir = root.resolve("staging").toString,
      signalsDir = root.resolve("signals"),
      sources = Seq(
        SourceSpec("individuals.csv", DelimitedConfig(";", header = true, columns = Seq(
          ColSpec("individual_id", "long"),
          ColSpec("name", "string"),
          ColSpec("sex", "string"),
          ColSpec("birth_date", "date", Some("dd-MM-yyyy"))))),
        SourceSpec("registry.csv", DelimitedConfig(",", header = true, columns = Seq(
          ColSpec("individual_id", "long"),
          ColSpec("name", "string"),
          ColSpec("segment", "string"))))),
      entityKey = "individual_id",
      attrs = Seq("name", "sex", "birth_date", "segment"),
      codebook = Seq(("sex", "1", "male"), ("sex", "2", "female")),
      concepts = Seq(
        ("name", "Individual.name", EavMelt.TextValue),
        ("sex", "Individual.sex", EavMelt.TextValue),
        ("birth_date", "Individual.birth_date", EavMelt.DateValue),
        ("segment", "Individual.segment", EavMelt.TextValue)),
      lineageDir = Some(root.resolve("lineage").toString),
      cacheDir = Some(root.resolve("cache").toString))
    (root, cfg)
  }

  private def seedDropZone(root: Path): Unit = {
    val d = root.resolve("drop")
    drop(d, "individuals.csv",
      """individual_id;name;sex;birth_date
        |1;Alice;2;03-02-1980
        |2;Bob;1;31-12-1999
        |3;;9;
        |""".stripMargin)
    drop(d, "registry.csv",
      """individual_id,name,segment
        |2,Robert,BUILDING
        |3,Carol,MACHINERY
        |4,Dan,FURNITURE
        |""".stripMargin)
  }

  test("full pipeline run, incremental skip, and delta-driven re-run") {
    val (root, cfg) = mkCfg()
    seedDropZone(root)

    // run 1: everything executes
    val r1 = GraftPipeline.run(spark, cfg)
    assert(r1.ran == Seq("sync", "sources2csr", "csr2transmart", "load", "cache_rebuild"))

    // staged observations: codebook decoded, priority merge resolved
    val obs = spark.read.option("delimiter", "\t").option("header", "true")
      .csv(s"${cfg.stagingDir}/observations")
    val bySubjectConcept = obs.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // Alice: sex code 2 → female (codebook)
    assert(bySubjectConcept(("1", "Individual.sex")).getString(3) == "female")
    // individual 2: name from higher-priority individuals.csv, not registry
    assert(bySubjectConcept(("2", "Individual.name")).getString(3) == "Bob")
    // individual 3: name only in registry → merged in; unknown sex code 9 passes through
    assert(bySubjectConcept(("3", "Individual.name")).getString(3) == "Carol")
    assert(bySubjectConcept(("3", "Individual.sex")).getString(3) == "9")
    // individual 4 exists only in registry → present via full-outer merge
    assert(bySubjectConcept(("4", "Individual.segment")).getString(3) == "FURNITURE")
    // date typed + normalized from dd-MM-yyyy
    assert(bySubjectConcept(("1", "Individual.birth_date")).getString(4) == "1980-02-03")

    // lineage: input + staging committed (reference GitCommit tasks)
    def lineageMsgs() = Lineage.history(spark, cfg.lineageDir.get)
      .select("message").collect().map(_.getString(0)).toSeq
    assert(lineageMsgs() == Seq("Add new input data.", "Add transmart data."))

    // run 2: nothing changed → full skip
    val r2 = GraftPipeline.run(spark, cfg)
    assert(r2.ran.isEmpty && r2.skipped.size == 5)
    assert(lineageMsgs().size == 2) // no new commits on a skipped run

    // drop-zone delta: a new individual arrives → whole cone re-runs
    drop(root.resolve("drop"), "registry.csv",
      """individual_id,name,segment
        |2,Robert,BUILDING
        |3,Carol,MACHINERY
        |4,Dan,FURNITURE
        |5,Eve,HOUSEHOLD
        |""".stripMargin)
    val r3 = GraftPipeline.run(spark, cfg)
    assert(r3.ran == Seq("sync", "sources2csr", "csr2transmart", "load", "cache_rebuild"))
    val obs2 = spark.read.option("delimiter", "\t").option("header", "true")
      .csv(s"${cfg.stagingDir}/observations")
    assert(obs2.where($"entity_id" === "5" && $"concept_cd" === "Individual.name").count() == 1)

    // the delta run appended one input commit + one staging commit
    assert(lineageMsgs() == Seq("Add new input data.", "Add transmart data.",
      "Add new input data.", "Add transmart data."))

    // after_data_loading cache: per-concept counts cover the staged obs
    val cc = AggCache.read(spark, cfg.cacheDir.get, "concept_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cc.keySet == obs2.select("concept_cd").distinct()
      .collect().map(_.getString(0)).toSet)
    assert(cc.values.sum == obs2.count())
  }

  /** Spark jobs launched by `body` — tagged through a local property,
    * which Spark copies onto every job the thread starts (broadcast and
    * subquery threads included). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (key, tag) = ("graft.test.jobCount", System.nanoTime().toString)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      ListenerBridge.flush(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  // Spark jobs of a cold run of this spec's pipeline (lineage and cache
  // on) with each directory hashed once per state; the per-caller rescans
  // in sync, lineage and done-signals, with a sort per signal, took 55
  private val ColdJobs = 28

  test("job-count guard: a no-op run is the one probe job; a cold run stays at its count") {
    val (root, cfg) = mkCfg()
    seedDropZone(root)
    val cold = jobsOf(GraftPipeline.run(spark, cfg))
    assert(cold <= ColdJobs, s"cold run launched $cold Spark jobs, recorded $ColdJobs")
    var report: DagReport = null
    val noop = jobsOf { report = GraftPipeline.run(spark, cfg) }
    assert(report.ran.isEmpty)
    assert(noop == 1, s"no-op run launched $noop Spark jobs, expected the drop-zone probe only")
  }

  test("corrupted drop-zone checksum aborts the sync (reference semantics)") {
    val (root, cfg) = mkCfg()
    seedDropZone(root)
    Files.write(root.resolve("drop/individuals.csv.sha1"),
      s"${"0" * 40}  individuals.csv\n".getBytes(StandardCharsets.UTF_8))
    val ex = intercept[IllegalArgumentException] {
      GraftPipeline.run(spark, cfg)
    }
    assert(ex.getMessage.contains("checksum"))
  }
}
