package graft.operators

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.commons.codec.digest.DigestUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.graftbridge.FileListingBridge
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

/** One listed file: its content sha1, its length from the listing and, for
  * a `.sha1` companion, the checksum it declares (first
  * whitespace-separated token, like `sha1sum` output; null for every other
  * file). */
final case class ManifestEntry(relPath: String, sha1: String, declared: String, nBytes: Long)

/** A directory's manifest, collected to the driver (one entry per file —
  * the same bound as the done-signal it renders) and sorted by rel_path in
  * Spark's string order (UTF-8 bytes, not `String.compareTo`), so every
  * rendering equals what an `orderBy("rel_path")` over a scan gives. */
final case class DirManifest(root: String, files: Seq[ManifestEntry]) {
  /** (rel_path → sha1) of the data files: no `.sha1` companions, no hidden
    * dotfiles (the reference's `sync.is_hidden_file` skip). */
  lazy val checksums: Map[String, String] = files.filter(isData).map(e => e.relPath -> e.sha1).toMap
  private def isData(e: ManifestEntry) = e.declared == null && !e.relPath.split('/').last.startsWith(".")
  /** Sorted `file checksum` lines of the entries `keep` accepts. */
  def render(keep: ManifestEntry => Boolean): String =
    files.filter(keep).map(e => s"${e.relPath} ${e.sha1}").mkString("\n")
  /** The reference's `calc_done_signal_content` (main.py:66) over the data files. */
  def signal: String = render(isData)
  /** The manifest of subdirectory `rel`: its entries with the `rel/`
    * prefix stripped. Stripping a common prefix keeps the UTF-8 order. */
  def subdir(rel: String): DirManifest = {
    val prefix = s"$rel/"
    DirManifest(s"${root.stripSuffix("/")}/$rel",
      files.collect { case e if e.relPath.startsWith(prefix) => e.copy(relPath = e.relPath.stripPrefix(prefix)) })
  }
}

/** Drop-zone sync (SURVEY §2.2 rows 17+22, file level).
  *
  * The reference's scripts/sync.py pairs every data file with a `.sha1`
  * companion, verifies the declared checksum against the recomputed one
  * (scripts/checksum.py:13 `compute_sha1`), and diffs two directory trees
  * into added/removed/changed sets (`sync.py:142 sync_dirs`,
  * `:113 get_checksum_pairs_set`).
  *
  * [[manifest]] is the one hashing pass over a directory: one recursive
  * `FileSystem.listStatus` walk that skips the names Spark's file index
  * skips, then one streaming sha1 per file that also reads a companion's
  * declared value. A directory whose bytes fit one scan split
  * (`spark.sql.files.maxPartitionBytes`) is hashed on the driver, the way
  * the reference hashes on one node — a Spark job would cost more to
  * schedule than the read. A bigger one is hashed by a plain RDD map across
  * the cluster, so a drop zone with millions of files still hashes in
  * parallel. Verification, diffing and every done-signal are comparisons
  * of the collected maps, so a caller that already holds a directory's
  * [[DirManifest]] (a pipeline task after its write) reuses it instead of
  * hashing the directory again.
  */
object FileSync {

  /** Every listed file under `root`, hashed and sorted: the directory's
    * one hashing pass. It lists what Spark's file index lists with
    * `recursiveFileLookup`: `_`/`.`-prefixed names such as `_SUCCESS` and
    * `.crc` are skipped, recursively ([[walk]]). Zero-length files are
    * listed and hashed like any other. A missing root throws PATH_NOT_FOUND
    * like a `binaryFile` read: an empty manifest would tell [[sync]] to
    * delete every file of the target. */
  def manifest(spark: SparkSession, root: String): DirManifest = {
    val (fs, qualified, top) = listRoot(spark, root)
    hashed(spark, root, fs, qualified,
      top.getOrElse(throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> qualified.toString))))
  }

  /** [[manifest]] of `root` while it is a directory, else None (a missing
    * root or a file), from the same one listing: no separate existence or
    * status call. */
  def manifestIfDir(spark: SparkSession, root: String): Option[DirManifest] = {
    val (fs, qualified, top) = listRoot(spark, root)
    // the listing of a file is that file; a directory's entries are its children
    top.filterNot(_.exists(_.getPath == qualified)).map(hashed(spark, root, fs, qualified, _))
  }

  /** `root`'s file system, its qualified path and its `listStatus` (None
    * when it does not exist). */
  private def listRoot(spark: SparkSession, root: String): (FileSystem, Path, Option[Array[FileStatus]]) = {
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(path)
    (fs, qualified, try Some(fs.listStatus(qualified)) catch { case _: FileNotFoundException => None })
  }

  /** The files among `statuses`, and under each directory among them,
    * recursively: one `listStatus` per directory. A name Spark's file index
    * skips (`HadoopFSUtils.shouldFilterOutPathName`) is skipped at every
    * depth, file or directory. `listStatus` statuses, not `listFiles`'
    * `LocatedFileStatus`, which loads owner and permission per file (a
    * forked process on the local file system without libhadoop); only the
    * path, kind and length are read. */
  private def walk(fs: FileSystem, statuses: Array[FileStatus]): Seq[FileStatus] =
    statuses.toSeq.filterNot(s => FileListingBridge.shouldFilterOutPathName(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) walk(fs, fs.listStatus(s.getPath)) else Seq(s))

  /** The manifest of the files [[walk]] finds from `top`, `root`'s listing. */
  private def hashed(spark: SparkSession, root: String, fs: FileSystem, qualified: Path,
                     top: Array[FileStatus]): DirManifest = {
    val listed = walk(fs, top)
    val split = JavaUtils.byteStringAsBytes(spark.conf.get(SQLConf.FILES_MAX_PARTITION_BYTES.key))
    val total = listed.map(_.getLen).sum
    val hashes =
      if (total <= split) listed.map(f => hash(fs, f.getPath))
      else {
        val entries = spark.sparkContext.hadoopConfiguration.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
        val slices = math.min(listed.size.toLong, total / split + 1).toInt
        spark.sparkContext.parallelize(listed.map(_.getPath.toString), slices)
          .mapPartitions { paths =>
            val c = new Configuration(false)
            entries.foreach { case (k, v) => c.set(k, v) }
            paths.map { p => val path = new Path(p); hash(path.getFileSystem(c), path) }
          }.collect().toSeq
      }
    val base = s"${qualified.toUri.getPath.stripSuffix("/")}/"
    DirManifest(root, listed.zip(hashes).map { case (f, (sha, declared)) =>
      ManifestEntry(f.getPath.toUri.getPath.stripPrefix(base), sha, declared, f.getLen)
    }.sortBy(e => UTF8String.fromString(e.relPath)))
  }

  /** A file's sha1 hex, streamed, and for a `.sha1` companion its declared
    * value, parsed exactly as `split(trim(cast(content as string)),
    * '\\s+')[0]`: only spaces are trimmed, so a leading newline or tab
    * declares "". */
  private def hash(fs: FileSystem, path: Path): (String, String) = {
    val in = fs.open(path)
    try {
      if (!path.getName.endsWith(".sha1")) (DigestUtils.sha1Hex(in), null)
      else {
        val bytes = in.readAllBytes()
        (DigestUtils.sha1Hex(bytes),
          UTF8String.fromBytes(bytes).trim().split(UTF8String.fromString("\\s+"), -1)(0).toString)
      }
    } finally in.close()
  }

  /** (rel_path, sha1) of the data files, recomputed from their contents. */
  def actualChecksums(spark: SparkSession, root: String): DataFrame =
    spark.createDataFrame(manifest(spark, root).checksums.toSeq).toDF("rel_path", "sha1")

  /** Keys whose values differ between two maps as (key, label, a's
    * value, b's value), in key order; the label is `labels._1` for a key
    * only in `a`, `._2` for one only in `b`, `._3` for one in both. */
  private def mismatches(a: Map[String, String], b: Map[String, String],
                         labels: (String, String, String)): Seq[(String, String, String, String)] =
    (a.keySet ++ b.keySet).toSeq.sorted.map(p => (p, a.get(p), b.get(p))).collect {
      case (p, x, y) if x != y =>
        (p, if (y.isEmpty) labels._1 else if (x.isEmpty) labels._2 else labels._3, x.orNull, y.orNull)
    }

  /** (rel_path, status, declared_sha1, actual_sha1) for every file whose
    * recomputed checksum disagrees with the declared one, or with a
    * missing/orphaned companion (the reference aborts the sync on any of
    * these). Empty when the directory verifies. */
  def verify(m: DirManifest): Seq[(String, String, String, String)] =
    mismatches(m.files.filter(_.declared != null).map(e => e.relPath.stripSuffix(".sha1") -> e.declared).toMap,
      m.checksums, ("companion_without_file", "missing_companion", "checksum_mismatch"))

  /** [[verify]] over a fresh manifest of `root`, as a frame. */
  def verifyChecksums(spark: SparkSession, root: String): DataFrame =
    spark.createDataFrame(verify(manifest(spark, root))).toDF("rel_path", "status", "declared_sha1", "actual_sha1")

  /** Content-hash diff taking `dst` to `src` (what a sync would copy):
    * (rel_path, added | removed | changed, dst sha1, src sha1). */
  def diff(src: DirManifest, dst: DirManifest): Seq[(String, String, String, String)] =
    mismatches(dst.checksums, src.checksums, ("removed", "added", "changed"))

  /** Directory diff on recomputed content hashes: added / removed /
    * changed relative to `srcRoot` → `dstRoot`, with [[SnapshotDiff]]'s
    * (rel_path, status, old_sig, new_sig) columns. */
  def diffDirs(spark: SparkSession, srcRoot: String, dstRoot: String): DataFrame =
    spark.createDataFrame(diff(manifest(spark, srcRoot), manifest(spark, dstRoot))).toDF("rel_path", "status", "old", "new")
      .select(col("rel_path"), col("status"), md5(col("old")).as("old_sig"), md5(col("new")).as("new_sig"))

  /** Apply the diff (reference: `sync.sync_dirs` copies added/changed and
    * removes deleted files). The apply loop is driver-side over the DELTA
    * only — bounded by what actually changed, exactly like the reference's
    * copy loop — and goes through the Hadoop FileSystem API so any cluster
    * store works.
    * @return the applied delta (rel_path, status). */
  def syncDirs(spark: SparkSession, srcRoot: String, dstRoot: String): Seq[(String, String)] =
    sync(spark, manifest(spark, srcRoot), manifest(spark, dstRoot))

  /** [[syncDirs]] over manifests the caller already holds. */
  def sync(spark: SparkSession, src: DirManifest, dst: DirManifest): Seq[(String, String)] = {
    val delta = diff(src, dst).map(d => (d._1, d._2))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dst.root).getFileSystem(conf)
    delta.foreach {
      case (rel, "removed") => fs.delete(new Path(s"${dst.root}/$rel"), false)
      case (rel, _) => // added | changed
        val (from, to) = (new Path(s"${src.root}/$rel"), new Path(s"${dst.root}/$rel"))
        fs.mkdirs(to.getParent)
        FileUtil.copy(from.getFileSystem(conf), from, fs, to, false, true, conf)
    }
    delta
  }
}
