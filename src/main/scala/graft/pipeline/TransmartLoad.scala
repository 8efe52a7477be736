package graft.pipeline

import graft.operators.{DirManifest, FileSync}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Load-stage surface: staged TSV export + checksum manifest.
  *
  * The reference's final stage hands csr2transmart's tables to
  * transmart-copy as TSV staging files and keeps every intermediate
  * checksummed/versioned (luigi-pipeline/main.py:120-147 load step;
  * scripts/checksum.py sha1 companions; git_commons.py lineage commits).
  * The Spark-native equivalent: each table is written as delimited text by
  * the cluster (splittable, parallel), and the lineage record is the
  * directory's [[FileSync.scan]] — hashed distributively, collected once —
  * the same signature content a [[Dag]] task publishes as its done-signal.
  */
object TransmartLoad {

  /** Write `df` as headered TSV under `dir/name/` (parallel part files —
    * a 100 TB table writes from every executor; transmart-copy-style
    * single-file staging is a `coalesce(1)` the caller opts into). */
  def writeStaging(df: DataFrame, dir: String, name: String,
                   singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite")
      .option("delimiter", "\t").option("header", "true")
      .option("emptyValue", "")
      .csv(s"$dir/$name")
  }

  /** Distributed manifest of a staged directory: (rel_path, sha1, n_bytes)
    * — [[FileSync.scan]] without `_SUCCESS` markers. Sorted rendering of
    * this frame == the Dag done-signal content (main.py:66
    * calc_done_signal_content is the same `file checksum` list, computed
    * single-node). */
  def manifest(spark: SparkSession, dir: String): DataFrame =
    FileSync.scan(spark, dir).where(!col("rel_path").endsWith("_SUCCESS"))
      .select("rel_path", "sha1", "n_bytes")

  /** Done-signal content for a staged dir: one hashing pass, rendered on
    * the driver (bounded: one line per file). */
  def doneSignal(spark: SparkSession, dir: String): String =
    signalOf(FileSync.manifest(spark, dir))

  /** [[doneSignal]] of a manifest already taken: every file but
    * `_SUCCESS` markers, companions included. */
  def signalOf(m: DirManifest): String = m.render(!_.relPath.endsWith("_SUCCESS"))
}
