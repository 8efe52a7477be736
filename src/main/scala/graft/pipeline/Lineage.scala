package graft.pipeline

import graft.operators.{DirManifest, FileSync}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data-directory version control — the reference keeps its staged data
  * under a dedicated git repo and commits after each pipeline stage
  * (`scripts/git_commons.py:40` init, `luigi-pipeline/main.py:72-82`
  * GitCommit: stage a directory, SKIP the commit when nothing changed;
  * `main.py:178-191` GitCheckout: restore the tree to a past commit).
  *
  * graft re-expresses that as a content-addressed ledger + snapshot store
  * driven by the engine's own distributed hashing:
  *  - version id  = sha1 of the directory's (rel_path, sha1) manifest
  *    ([[TransmartLoad.signalOf]] over a [[FileSync.manifest]] — hashed
  *    distributed, collected bounded; a caller that holds the manifest of
  *    the directory it just wrote passes it in and nothing is rehashed);
  *  - commit      = skip when the head version matches (the reference's
  *    "no changes" branch), else copy the delta into
  *    `objects/<version>` via [[FileSync.sync]] (only changed files
  *    move — the object dirs are full trees, the copies are incremental)
  *    and append one ledger row;
  *  - checkout    = syncDirs from the snapshot back over the data dir
  *    (removes files that did not exist in that version).
  *
  * Hidden files (`.done-*` signals etc.) are excluded by FileSync's
  * manifest — exactly the reference's `.gitignore` of `.done-*`
  * (`git_commons.py:31`). The ledger is an append-only parquet table, so
  * lineage itself is queryable like any other dataset.
  */
object Lineage {

  private def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Content signature of a data directory (hash of its file manifest). */
  def versionId(spark: SparkSession, dataDir: String): String =
    sha1Hex(TransmartLoad.doneSignal(spark, dataDir))

  private def ledgerPath(root: String) = s"$root/ledger"
  private def objectPath(root: String, vid: String) = s"$root/objects/$vid"

  // the ledger is read with its schema declared: no footer-inference job
  private val LedgerSchema = StructType.fromDDL("seq BIGINT, version_id STRING, parent_id STRING, " +
    "data_dir STRING, message STRING, n_changed BIGINT, committed_at BIGINT")

  private def ledger(spark: SparkSession, ledgerRoot: String): Option[DataFrame] = {
    val path = new Path(ledgerPath(ledgerRoot))
    Option.when(path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))(
      spark.read.schema(LedgerSchema).parquet(path.toString))
  }

  /** Ledger rows for this store, oldest first (empty frame if none). */
  def history(spark: SparkSession, ledgerRoot: String): DataFrame =
    ledger(spark, ledgerRoot).map(_.orderBy("seq")).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), LedgerSchema))

  /** Commit the directory's current content. Returns (version_id, true)
    * when a new version was recorded, (head version_id, false) when the
    * content already matches the head — the reference's skip branch. */
  def commit(spark: SparkSession, ledgerRoot: String, dataDir: String, message: String): (String, Boolean) =
    commit(spark, ledgerRoot, FileSync.manifest(spark, dataDir), message)

  /** [[commit]] of the directory `data` is a manifest of. */
  def commit(spark: SparkSession, ledgerRoot: String, data: DirManifest, message: String): (String, Boolean) = {
    val vid = sha1Hex(TransmartLoad.signalOf(data))
    val head = ledger(spark, ledgerRoot).flatMap(_.orderBy(col("seq").desc).limit(1)
      .select("seq", "version_id").collect().headOption)
    if (head.exists(_.getString(1) == vid)) (vid, false)
    else {
      val obj = new Path(objectPath(ledgerRoot, vid))
      val fs = obj.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a fresh object dir is known empty; one left by an earlier commit
      // of the same content is diffed like any other target
      val stored = if (fs.exists(obj)) FileSync.manifest(spark, obj.toString) else DirManifest(obj.toString, Nil)
      fs.mkdirs(obj)
      val delta = FileSync.sync(spark, data, stored)
      val row = Seq((
        head.map(_.getLong(0) + 1).getOrElse(0L), vid,
        head.map(_.getString(1)).orNull, data.root, message,
        delta.size.toLong, System.currentTimeMillis()))
      import spark.implicits._
      row.toDF(LedgerSchema.fieldNames.toSeq: _*)
        .coalesce(1).write.mode("append").parquet(ledgerPath(ledgerRoot))
      (vid, true)
    }
  }

  /** Restore `dataDir` to a recorded version (adds, overwrites AND removes
    * files so the tree matches the snapshot exactly). */
  def checkout(spark: SparkSession, ledgerRoot: String, vid: String,
               dataDir: String): Seq[(String, String)] = {
    val known = history(spark, ledgerRoot)
      .where(col("version_id") === vid).limit(1).count() > 0
    require(known, s"unknown version $vid in $ledgerRoot")
    FileSync.syncDirs(spark, objectPath(ledgerRoot, vid), dataDir)
  }
}
