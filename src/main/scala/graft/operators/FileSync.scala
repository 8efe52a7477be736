package graft.operators

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** One listed file: its content sha1 and, for a `.sha1` companion, the
  * checksum it declares (first whitespace-separated token, like `sha1sum`
  * output; null for every other file). */
final case class ManifestEntry(relPath: String, sha1: String, declared: String)

/** A directory's manifest, collected to the driver (one entry per file —
  * the same bound as the done-signal it renders) and sorted by rel_path in
  * Spark's string order (UTF-8 bytes, not `String.compareTo`), so every
  * rendering equals what an `orderBy("rel_path")` over the scan gives. */
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

/** Distributed drop-zone sync (SURVEY §2.2 rows 17+22, file level).
  *
  * The reference's scripts/sync.py pairs every data file with a `.sha1`
  * companion, verifies the declared checksum against the recomputed one
  * (scripts/checksum.py:13 `compute_sha1`), and diffs two directory trees
  * into added/removed/changed sets (`sync.py:142 sync_dirs`,
  * `:113 get_checksum_pairs_set`).
  *
  * Spark-first shape: [[scan]] is the one `binaryFile` read of a
  * directory — distributed and splittable across files, so a drop zone
  * with millions of files hashes in parallel across the cluster — and it
  * yields data-file hashes and declared companion values together.
  * [[manifest]] collects it once to the driver; verification, diffing and
  * every done-signal are then comparisons of the collected maps, so a
  * caller that already holds a directory's [[DirManifest]] (a pipeline task
  * after its write) reuses it instead of hashing the directory again.
  */
object FileSync {

  /** Every listed file under `root` as (rel_path, sha1, n_bytes,
    * declared). Spark's file listing already skips `_`/`.`-prefixed names
    * (`_SUCCESS`, `.crc`), recursively. */
  def scan(spark: SparkSession, root: String): DataFrame =
    spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(root)
      .select(relPath(root), sha1(col("content")).as("sha1"), col("length").as("n_bytes"),
        when(col("path").endsWith(".sha1"),
          split(trim(col("content").cast("string")), "\\s+").getItem(0)).as("declared"))

  /** [[scan]] collected and sorted: the directory's one hashing pass. */
  def manifest(spark: SparkSession, root: String): DirManifest =
    DirManifest(root, scan(spark, root).collect()
      .map(r => ManifestEntry(r.getString(0), r.getString(1), r.getString(3)))
      .sortBy(e => UTF8String.fromString(e.relPath)).toSeq)

  /** (rel_path, sha1) of the data files, recomputed from their contents. */
  def actualChecksums(spark: SparkSession, root: String): DataFrame =
    spark.createDataFrame(manifest(spark, root).checksums.toSeq).toDF("rel_path", "sha1")

  /** Strips everything up to the FIRST occurrence of the root prefix
    * (reluctant `^.*?` — a greedy `.*` would match up to the LAST
    * occurrence and mis-key the diff if the root string repeats inside a
    * file's absolute path, e.g. root `/data/x`, file `/data/x/data/x/y`). */
  private def relPath(root: String) =
    regexp_replace(col("path"), s"^.*?${java.util.regex.Pattern.quote(root.stripSuffix("/"))}/", "")
      .as("rel_path")

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
    * removes deleted files). Hashing is distributed; the apply loop is
    * driver-side over the DELTA only — bounded by what actually changed,
    * exactly like the reference's copy loop — and goes through the Hadoop
    * FileSystem API so any cluster store works.
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
