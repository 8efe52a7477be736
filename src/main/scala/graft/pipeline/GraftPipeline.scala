package graft.pipeline

import java.nio.file.Path

import graft.operators.{CodebookDecode, DirManifest, EavMelt, EntityMerge, FileSync}
import graft.sources.{DelimitedConfig, DelimitedSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One delimited source file in the drop zone (priority = list order). */
final case class SourceSpec(fileName: String, cfg: DelimitedConfig)

/** End-to-end pipeline configuration — the graft analogue of the
  * reference's GlobalConfig + sources_config.json
  * (luigi-pipeline/main.py:19-57). */
final case class PipelineConfig(
    dropDir: String,
    inputDataDir: String,
    workingDir: String,
    stagingDir: String,
    signalsDir: Path,
    sources: Seq[SourceSpec],
    entityKey: String,
    attrs: Seq[String],
    codebook: Seq[(String, String, String)], // (column, code, label)
    concepts: Seq[(String, String, EavMelt.ValueKind)],
    // content-addressed lineage store (the reference's data git repo,
    // main.py:206/219 GitCommit tasks); None = lineage off
    lineageDir: Option[String] = None,
    // post-load aggregate-cache dir (the reference's after-load cache
    // rebuild, scripts/transmart_api_calls.py); None = cache off
    cacheDir: Option[String] = None)

/** The reference's whole pipeline, composed from graft operators under the
  * [[Dag]] (luigi-pipeline/main.py:195 builds the same graph with Luigi):
  *
  *  1. `sync` — verify `.sha1` companions, copy the drop-zone delta into
  *     the input dir (`UpdateDataFiles` ← scripts/sync.sync_dirs); its
  *     done-signal is the checksum list (main.py:66).
  *  2. `sources2csr` — config-driven delimited reads → priority entity
  *     merge → codebook decode → CSR staging TSV.
  *  3. `csr2transmart` — EAV melt of the CSR entity into typed
  *     observations → transmart staging TSV.
  *  4. `load` — staging manifest/done-signal (transmart-copy itself needs
  *     a database; the load surface here is the checksummed staging
  *     hand-off the jar consumes).
  *
  * Each task's done-signal is the content signature of its output dir, so
  * an unchanged pipeline is a no-op and a drop-zone delta re-runs exactly
  * the affected cone — Luigi's `BaseTask.complete` semantics.
  *
  * Hashing: each directory state is scanned once ([[FileSync.manifest]],
  * collected to the driver). The drop zone is hashed by the Dag's probe,
  * and sync verifies and diffs that same manifest; a task's output dir is
  * hashed once after its write, and that manifest serves its lineage
  * commit and its done-signal. A no-op run is the one probe scan.
  */
object GraftPipeline {

  /** The reference's `calc_done_signal_content`: sorted `file checksum`
    * lines — hashed distributively, rendered driver-side (bounded). */
  def doneSignal(spark: SparkSession, dir: String): String =
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir))) ""
    else FileSync.manifest(spark, dir).signal

  def build(spark: SparkSession, cfg: PipelineConfig): Dag = {
    import spark.implicits._

    // the Dag probes `externalInput` right before it decides to run sync:
    // that drop-zone manifest is the one sync verifies and copies from
    var dropZone: Option[DirManifest] = None
    def probe(): String = { dropZone = Some(FileSync.manifest(spark, cfg.dropDir)); dropZone.get.signal }

    /** Hash a task's output dir once, after its write: the one manifest
      * gives the lineage commit and the task's done-signal. */
    def published(dir: String, message: String): String = {
      val m = FileSync.manifest(spark, dir)
      cfg.lineageDir.foreach(Lineage.commit(spark, _, m, message))
      m.signal
    }

    def sync(): String = {
      // the reference os.makedirs's its work dirs up front (main.py:61-63)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cfg.inputDataDir))
      val drop = dropZone.getOrElse(FileSync.manifest(spark, cfg.dropDir))
      val bad = FileSync.verify(drop)
      require(bad.isEmpty, s"drop-zone checksum failures: ${bad.mkString(", ")}")
      FileSync.sync(spark, drop, FileSync.manifest(spark, cfg.inputDataDir))
      // the reference's commit_input_data GitCommit (main.py:206-207);
      // Lineage skips the commit when content is unchanged, like the
      // reference's "no changes" branch
      published(cfg.inputDataDir, "Add new input data.")
    }

    def sources2csr(): String = {
      val frames = cfg.sources.map(s =>
        DelimitedSource.read(spark, s"${cfg.inputDataDir}/${s.fileName}", s.cfg))
      val merged = EntityMerge.merge(frames, cfg.entityKey, cfg.attrs)
      val decoded =
        if (cfg.codebook.isEmpty) merged
        else CodebookDecode.decodeAll(merged,
          cfg.codebook.map(_._1).distinct.filter(cfg.attrs.contains),
          cfg.codebook.toDF("column_name", "code", "label"))
      TransmartLoad.writeStaging(decoded.orderBy(cfg.entityKey), cfg.workingDir, "csr", singleFile = true)
      doneSignal(spark, cfg.workingDir)
    }

    def csr2transmart(): String = {
      val csr = spark.read
        .option("delimiter", "\t").option("header", "true")
        .csv(s"${cfg.workingDir}/csr")
      val obs = EavMelt.melt(csr, cfg.entityKey, cfg.concepts)
      TransmartLoad.writeStaging(obs.orderBy("entity_id", "concept_cd"),
        cfg.stagingDir, "observations", singleFile = true)
      // commit_transmart_staging (main.py:219-220)
      published(cfg.stagingDir, "Add transmart data.")
    }

    def load(): String =
      TransmartLoad.doneSignal(spark, s"${cfg.stagingDir}/observations")

    // after_data_loading: rebuild the aggregate caches over the loaded
    // observations (scripts/transmart_api_calls.py cache cycle)
    def cacheRebuild(dir: String): String = {
      val staged = spark.read
        .option("delimiter", "\t").option("header", "true")
        .csv(s"${cfg.stagingDir}/observations")
        .select(col("entity_id").as("patient_num"),
          col("concept_cd").as("concept_path"),
          col("num_value").cast("double").as("num_value"))
      AggCache.rebuild(staged, dir)
      doneSignal(spark, dir)
    }

    new Dag(Seq(
      Task("sync", Nil, run = sync _, externalInput = probe _),
      Task("sources2csr", Seq("sync"), sources2csr _),
      Task("csr2transmart", Seq("sources2csr"), csr2transmart _),
      Task("load", Seq("csr2transmart"), load _)) ++
      cfg.cacheDir.map(d => Task("cache_rebuild", Seq("load"), () => cacheRebuild(d))).toSeq)
  }

  /** Run with persistent `.done-<task>` signals under cfg.signalsDir. */
  def run(spark: SparkSession, cfg: PipelineConfig): DagReport =
    build(spark, cfg).execute(new FileSignalStore(cfg.signalsDir))
}
