package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import graft.TestSpark
import graft.operators.EavMelt
import graft.sources.{ColSpec, DelimitedConfig}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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

  /** A pipeline under a fresh temp root; with `uris`, every directory but
    * the signals' is given as a `file://` URI. */
  private def mkCfg(uris: Boolean = false): (Path, PipelineConfig) = {
    val root = TestSpark.tempDir("graft-pipe")
    Files.createDirectory(root.resolve("drop"))
    def dir(name: String) = if (uris) s"file://${root.resolve(name)}" else root.resolve(name).toString
    val cfg = PipelineConfig(
      dropDir = dir("drop"),
      inputDataDir = dir("input_data"),
      workingDir = dir("working"),
      stagingDir = dir("staging"),
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
      lineageDir = Some(dir("lineage")),
      cacheDir = Some(dir("cache")))
    (root, cfg)
  }

  private val Delivery2 =
    """individual_id,name,segment
      |2,Robert,BUILDING
      |3,Carol,MACHINERY
      |4,Dan,FURNITURE
      |5,Eve,HOUSEHOLD
      |""".stripMargin

  /** The bytes of the one staged observations file. */
  private def stagedObservations(root: Path): Array[Byte] =
    Files.readAllBytes(Files.list(root.resolve("staging/observations"))
      .filter(_.getFileName.toString.endsWith(".csv")).findFirst().get)

  /** Every file under `dir` as rel_path → bytes. */
  private def tree(dir: Path): Map[String, Seq[Byte]] = {
    val files = Files.walk(dir)
    try files.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally files.close()
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
    drop(root.resolve("drop"), "registry.csv", Delivery2)
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

  /** Spark jobs launched by `body`: those tagged through a local
    * property, which Spark copies onto every job the thread starts
    * (broadcast and subquery threads included, and the cache writes that
    * carry the caller's properties), and every job started meanwhile; and
    * the SQL executions started meanwhile. */
  private def jobsOf(body: => Unit): (Int, Int, Int) = {
    val sc = spark.sparkContext
    val (key, tag) = ("graft.test.jobCount", System.nanoTime().toString)
    val Seq(tagged, all, sql) = Seq.fill(3)(new java.util.concurrent.atomic.AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (Option(e.properties).exists(_.getProperty(key) == tag)) tagged.incrementAndGet()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sql.incrementAndGet()
        case _ =>
      }
    }
    ListenerBridge.flush(sc) // earlier jobs' events are not this body's
    sc.addSparkListener(l)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      ListenerBridge.flush(sc)
      sc.removeSparkListener(l)
    }
    (tagged.get, all.get, sql.get)
  }

  // Spark jobs of a cold run of this spec's pipeline (lineage and cache
  // on): a task that starts re-deriving what the pipeline already holds
  // (a header, a sort's range bounds) or hashes a small directory through
  // Spark exceeds it
  private val ColdJobs = 12

  test("job-count guard: a no-op run starts no SQL execution and no job; a cold run stays at its count") {
    val (root, cfg) = mkCfg()
    seedDropZone(root)
    val (cold, coldAll, _) = jobsOf(GraftPipeline.run(spark, cfg))
    assert(cold <= ColdJobs, s"cold run launched $cold Spark jobs, recorded $ColdJobs")
    assert(cold == coldAll, s"${coldAll - cold} of the cold run's $coldAll jobs lost the caller's local properties")
    var report: DagReport = null
    val (noop, _, noopSql) = jobsOf { report = GraftPipeline.run(spark, cfg) }
    assert(report.ran.isEmpty)
    assert(noop == 0, s"no-op run launched $noop Spark jobs, expected none: the probe hashes on the driver")
    assert(noopSql == 0, s"no-op run started $noopSql SQL executions, expected none")
  }

  test("an empty data file with its correct companion is synced into input_data") {
    val (root, cfg) = mkCfg()
    seedDropZone(root)
    drop(root.resolve("drop"), "notes.txt", "")
    assert(GraftPipeline.run(spark, cfg).ran.head == "sync")
    val synced = root.resolve("input_data/notes.txt")
    assert(Files.isRegularFile(synced) && Files.size(synced) == 0)
    assert(GraftPipeline.doneSignal(spark, cfg.inputDataDir).split("\n").contains(s"notes.txt ${sha1hex("")}"))
  }

  test("load signs csr2transmart's manifest; with csr2transmart skipped it rescans to the same signal") {
    val (root, cfg) = mkCfg()
    seedDropZone(root)
    GraftPipeline.run(spark, cfg)
    val store = new FileSignalStore(cfg.signalsDir)
    val stored = store.get("load").get
    assert(stored.dropWhile(_ != '\n').drop(1) == TransmartLoad.doneSignal(spark, s"${cfg.stagingDir}/observations"))
    Files.delete(cfg.signalsDir.resolve(".done-load"))
    val r = GraftPipeline.run(spark, cfg)
    assert(r.ran == Seq("load"))
    assert(store.get("load").contains(stored))
  }

  test("a staged CSR whose header disagrees with the config fails csr2transmart's read") {
    val (root, cfg) = mkCfg()
    seedDropZone(root)
    GraftPipeline.run(spark, cfg)
    val staged = Files.readAllBytes(Files.list(root.resolve("staging/observations"))
      .filter(_.getFileName.toString.endsWith(".csv")).findFirst().get)
    // swap two attribute names in the CSR header, data rows untouched
    val csr = Files.list(root.resolve("working/csr"))
      .filter(_.getFileName.toString.endsWith(".csv")).findFirst().get
    val lines = new String(Files.readAllBytes(csr), StandardCharsets.UTF_8).split("\n", -1)
    assert(lines.head == (cfg.entityKey +: cfg.attrs).mkString("\t"))
    lines(0) = Seq("individual_id", "sex", "name", "birth_date", "segment").mkString("\t")
    Files.write(csr, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.delete(csr.resolveSibling(s".${csr.getFileName}.crc")) // the local FS's stale checksum
    Files.delete(cfg.signalsDir.resolve(".done-csr2transmart"))
    val ex = intercept[Exception](GraftPipeline.run(spark, cfg))
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains("does not conform to the schema"), chain)
    // nothing shifted was staged
    val after = Files.list(root.resolve("staging/observations"))
      .filter(_.getFileName.toString.endsWith(".csv")).findFirst().get
    assert(java.util.Arrays.equals(Files.readAllBytes(after), staged))
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

  test("a missing drop zone aborts the run and leaves input_data byte-identical") {
    val (root, cfg) = mkCfg()
    seedDropZone(root)
    GraftPipeline.run(spark, cfg)
    val input = tree(root.resolve("input_data"))
    Files.walk(root.resolve("drop")).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    val ex = intercept[org.apache.spark.sql.AnalysisException](GraftPipeline.run(spark, cfg))
    assert(ex.getCondition == "PATH_NOT_FOUND", ex.getMessage)
    assert(tree(root.resolve("input_data")) == input)
  }

  test("file:// pipeline dirs: a delta run re-runs the cone and stages what plain paths stage") {
    val runs = Seq(false, true).map { uris =>
      val (root, cfg) = mkCfg(uris)
      seedDropZone(root)
      val cold = GraftPipeline.run(spark, cfg)
      drop(root.resolve("drop"), "registry.csv", Delivery2)
      val delta = GraftPipeline.run(spark, cfg)
      (cold.ran, delta.ran, stagedObservations(root), tree(root.resolve("input_data")))
    }
    val all = Seq("sync", "sources2csr", "csr2transmart", "load", "cache_rebuild")
    runs.foreach { case (cold, delta, _, _) => assert(cold == all && delta == all) }
    assert(java.util.Arrays.equals(runs(0)._3, runs(1)._3))
    assert(runs(0)._4 == runs(1)._4)
  }
}
