package graft.pipeline

import graft.operators.{DirManifest, FileSync, ManifestEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Load-stage surface: staged TSV export + checksum manifest.
  *
  * The reference's final stage hands csr2transmart's tables to
  * transmart-copy as TSV staging files and keeps every intermediate
  * checksummed/versioned (luigi-pipeline/main.py:120-147 load step;
  * scripts/checksum.py sha1 companions; git_commons.py lineage commits).
  * The Spark-native equivalent: each table is written as delimited text by
  * the cluster (splittable, parallel), and the lineage record is the
  * directory's [[FileSync.manifest]] — one hashing pass, on the driver or
  * across the cluster by size — the same signature content a [[Dag]] task
  * publishes as its done-signal.
  */
object TransmartLoad {

  /** Write `df` as headered TSV under `dir/name/` (parallel part files —
    * a 100 TB table writes from every executor). A non-empty `sortedBy`
    * opts into transmart-copy-style single-file staging: one file sorted
    * by those keys, which must be unique per row so the bytes are fixed.
    * It is one exchange into a single partition and a sort inside it; a
    * global `orderBy` would add a range-sampling job that re-runs the
    * whole upstream plan to pick bounds a single partition does not use. */
  def writeStaging(df: DataFrame, dir: String, name: String,
                   sortedBy: Seq[String] = Nil): Unit = {
    val out = if (sortedBy.isEmpty) df else df.repartition(1).sortWithinPartitions(sortedBy.map(col): _*)
    out.write.mode("overwrite")
      .option("delimiter", "\t").option("header", "true")
      .option("emptyValue", "")
      .csv(s"$dir/$name")
  }

  /** Manifest of a staged directory as a frame: (rel_path, sha1, n_bytes)
    * of [[FileSync.manifest]]'s files but `_SUCCESS` markers, in rel_path
    * order, with n_bytes from the listing. Its rendering is the Dag
    * done-signal content (main.py:66 calc_done_signal_content is the same
    * `file checksum` list, computed single-node). */
  def manifest(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(FileSync.manifest(spark, dir).files.filter(keep)
      .map(e => (e.relPath, e.sha1, e.nBytes))).toDF("rel_path", "sha1", "n_bytes")

  /** Done-signal content for a staged dir: one hashing pass, rendered on
    * the driver (bounded: one line per file). */
  def doneSignal(spark: SparkSession, dir: String): String =
    signalOf(FileSync.manifest(spark, dir))

  /** [[doneSignal]] of a manifest already taken: every file but
    * `_SUCCESS` markers, companions included. */
  def signalOf(m: DirManifest): String = m.render(keep)

  private def keep(e: ManifestEntry): Boolean = !e.relPath.endsWith("_SUCCESS")
}
