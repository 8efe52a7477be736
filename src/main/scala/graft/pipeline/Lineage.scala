package graft.pipeline

import java.nio.charset.StandardCharsets

import graft.operators.{DirManifest, FileSync}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType

/** Data-directory version control — the reference keeps its staged data
  * under a dedicated git repo and commits after each pipeline stage
  * (`scripts/git_commons.py:40` init, `luigi-pipeline/main.py:72-82`
  * GitCommit: stage a directory, SKIP the commit when nothing changed;
  * `main.py:178-191` GitCheckout: restore the tree to a past commit).
  *
  * graft re-expresses that as a content-addressed ledger + snapshot store:
  *  - version id  = sha1 of the directory's (rel_path, sha1) manifest
  *    ([[TransmartLoad.signalOf]] over a [[FileSync.manifest]]; a caller
  *    that holds the manifest of the directory it just wrote passes it in
  *    and nothing is rehashed);
  *  - commit      = skip when the head version matches (the reference's
  *    "no changes" branch), else copy the delta into
  *    `objects/<version>` via [[FileSync.sync]] (only changed files
  *    move — the object dirs are full trees, the copies are incremental)
  *    and add one ledger entry;
  *  - checkout    = syncDirs from the snapshot back over the data dir
  *    (removes files that did not exist in that version).
  *
  * The ledger is a directory with one JSON line per commit, named
  * `<seq zero-padded>-<version_id>.json`: written on the driver under a
  * hidden temp name, then renamed into place, so a listing only ever shows
  * whole entries. The names alone give the head version and every known
  * one, so commit and checkout launch no Spark job; [[history]] reads the
  * entries as a frame, so lineage stays queryable like any other dataset.
  *
  * Hidden files (`.done-*` signals etc.) are excluded by FileSync's
  * manifest — exactly the reference's `.gitignore` of `.done-*`
  * (`git_commons.py:31`).
  */
object Lineage {

  private def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Content signature of a data directory (hash of its file manifest). */
  def versionId(spark: SparkSession, dataDir: String): String =
    sha1Hex(TransmartLoad.doneSignal(spark, dataDir))

  private def ledgerPath(root: String) = new Path(s"$root/ledger")
  private def objectPath(root: String, vid: String) = s"$root/objects/$vid"

  private val LedgerSchema = StructType.fromDDL("seq BIGINT, version_id STRING, parent_id STRING, " +
    "data_dir STRING, message STRING, n_changed BIGINT, committed_at BIGINT")

  /** A ledger entry's name; hidden temp names never match it. */
  private val Entry = """(\d+)-([0-9a-f]{40})\.json""".r
  private val SeqDigits = Long.MaxValue.toString.length

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The ledger's entries as (seq, version_id, path), oldest first. */
  private def entries(spark: SparkSession, ledgerRoot: String): Seq[(Long, String, Path)] = {
    val dir = ledgerPath(ledgerRoot)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath).flatMap(p => p.getName match {
      case Entry(seq, vid) => Some((seq.toLong, vid, p))
      case _ => None
    }).sortBy(_._1)
  }

  /** Ledger rows for this store, oldest first (empty frame if none). */
  def history(spark: SparkSession, ledgerRoot: String): DataFrame = {
    val dir = ledgerPath(ledgerRoot)
    val fs = fsOf(spark, dir)
    val lines = entries(spark, ledgerRoot).map { case (_, _, p) =>
      val in = fs.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim finally in.close()
    }
    spark.read.schema(LedgerSchema).json(spark.createDataset(lines)(Encoders.STRING)).orderBy("seq")
  }

  /** Commit the directory's current content. Returns (version_id, true)
    * when a new version was recorded, (head version_id, false) when the
    * content already matches the head — the reference's skip branch. */
  def commit(spark: SparkSession, ledgerRoot: String, dataDir: String, message: String): (String, Boolean) =
    commit(spark, ledgerRoot, FileSync.manifest(spark, dataDir), message)

  /** [[commit]] of the directory `data` is a manifest of. */
  def commit(spark: SparkSession, ledgerRoot: String, data: DirManifest, message: String): (String, Boolean) = {
    val vid = sha1Hex(TransmartLoad.signalOf(data))
    val head = entries(spark, ledgerRoot).lastOption
    if (head.exists(_._2 == vid)) (vid, false)
    else {
      val obj = new Path(objectPath(ledgerRoot, vid))
      val fs = fsOf(spark, obj)
      // a fresh object dir is known empty; one left by an earlier commit
      // of the same content is diffed like any other target
      val stored = FileSync.manifestIfDir(spark, obj.toString).getOrElse(DirManifest(obj.toString, Nil))
      fs.mkdirs(obj)
      val delta = FileSync.sync(spark, data, stored)
      val seq = head.fold(0L)(_._1 + 1)
      val row = new GenericRowWithSchema(Array(seq, vid, head.map(_._2).orNull, data.root, message,
        delta.size.toLong, System.currentTimeMillis()), LedgerSchema)
      val dir = ledgerPath(ledgerRoot)
      val name = s"%0${SeqDigits}d-%s.json".format(seq, vid)
      val tmp = new Path(dir, s".$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"${row.json}\n".getBytes(StandardCharsets.UTF_8)) finally out.close()
      require(fs.rename(tmp, new Path(dir, name)), s"could not publish ledger entry $name in $dir")
      (vid, true)
    }
  }

  /** Restore `dataDir` to a recorded version (adds, overwrites AND removes
    * files so the tree matches the snapshot exactly). */
  def checkout(spark: SparkSession, ledgerRoot: String, vid: String,
               dataDir: String): Seq[(String, String)] = {
    require(entries(spark, ledgerRoot).exists(_._2 == vid), s"unknown version $vid in $ledgerRoot")
    FileSync.syncDirs(spark, objectPath(ledgerRoot, vid), dataDir)
  }
}
