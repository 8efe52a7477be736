package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-signature staging skip — the reference pipeline's incremental
  * discipline (scripts/sync.py: downstream work re-runs only when the
  * `file checksum` signal changes) applied to locally staged derived files.
  *
  * A stage is named by the query layer (`name`), keyed on the dataset dir
  * and derived from one of its tables. It lives at
  * `java.io.tmpdir/graft_<name>_<key>`, where `<key>` hashes the absolute,
  * normalized dataset dir, so two datasets that share a basename never
  * share a stage. The stage is CURRENT when `<stage>.sig` records the same
  * signature as the source table. The signature is the source's (size,
  * mtime) — cheap, no content read — which is exactly the granularity the
  * drop-zone sync uses to decide whether to rehash. The `.sig` file lives
  * NEXT to the stage, never inside it, so datasource readers that glob the
  * directory never see it as data.
  *
  * A stale stage is built into a private temp sibling, renamed into place,
  * and only then is its `.sig` written: a build that fails, or one racing
  * another, never leaves a partial artifact under the published name.
  */
object Stage {

  /** ADVICE r13 — code-version token folded into every signature: staged
    * artifacts were gated only on the SOURCE's (size, mtime), so a change
    * to a builder's formula kept serving the stale frame built by the
    * prior code version until /tmp was cleared or the oracle gate caught
    * it. Bump this constant whenever ANY staged builder's output formula
    * changes; every stage then reads as stale exactly once and rebuilds
    * under the new code. */
  private[operators] val StageVersion = "s14"

  private[operators] def signature(sourcePath: String): String = {
    val p = Paths.get(sourcePath)
    if (Files.isDirectory(p)) {
      // parquet "file" may be a directory of part files: fold their stats.
      // Files.list returns a Stream backed by an open DirectoryStream —
      // close it or every signature() on a directory leaks a descriptor.
      val listing = Files.list(p)
      val parts =
        try listing.toArray.map(_.asInstanceOf[Path])
          .filter(Files.isRegularFile(_)).sortBy(_.toString)
        finally listing.close()
      StageVersion + "|" + parts
        .map(f => s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}")
        .mkString("|")
    } else if (Files.exists(p))
      s"$StageVersion|${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    else s"$StageVersion|absent"
  }

  /** Read a staged artifact with file splits sized to the ARTIFACT, not
    * the global 128 MB default (r13): staged frames are byte-slim —
    * dictionary-coded longs land 14M rows in 28 MB — so the default
    * split packs the scan into 1–2 tasks and everything before the
    * plan's first exchange (explodes, join/aggregate map sides, persist
    * materializations, and the CACHED partitioning itself) runs
    * near-serial however the later plan is partitioned (measured: the
    * copresence serving read was 15.5 s scan-bound, 8.6 s after this).
    * Splits target `targetTasks` with a 1 MB floor; the read goes
    * through a child session (shared SparkContext, cache, and catalog —
    * only the SQLConf differs), so no other query's sizing is touched.
    *
    * WHEN TO USE (r13, measured): ONLY for reads whose downstream work
    * before the first exchange is heavy AND single-pass (the copresence
    * heap pass). Switching ALL staged readers to this was built and
    * REJECTED on measurement — the graph/verify families got SLOWER
    * (five-query sf1 subset 52.9 → 62.6 s: their staged frames persist
    * and feed iterative consumers, where 64 tiny cached partitions add
    * per-task overhead on every iteration and the first shuffle already
    * re-spreads the work). Default stays `spark.read.parquet`. */
  def read(spark: SparkSession, stage: String, targetTasks: Int = 64): DataFrame = {
    val split = math.max(1L << 20, bytes(stage) / math.max(targetTasks, 1))
    readSession(spark, split).read.parquet(stage)
  }

  /** Data bytes of a staged artifact. ADVICE r13: sum only the *.parquet
    * part files — _SUCCESS / .crc sidecars are not data and skewed the
    * computed split slightly low. Also the size signal for scale-gated
    * execution choices ([[LoopConf.noAqeBelow]]). */
  private[operators] def bytes(stage: String): Long = {
    val p = Paths.get(stage)
    if (Files.isDirectory(p)) {
      val listing = Files.list(p)
      try listing.toArray.map(_.asInstanceOf[Path])
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally listing.close()
    } else if (Files.exists(p)) Files.size(p) else 0L
  }

  /** ADVICE r13: one child session PER (context, split size), reused —
    * `newSession()` on every read accumulated SessionState objects for
    * the life of the JVM under repeated invocations. The cache key
    * includes the parent's SparkContext so a stopped context's sessions
    * are never served to a fresh one (each test JVM / restart gets its
    * own entries; stale ones are dropped on sight). */
  private val readSessions =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.SparkContext, Long),
      SparkSession]

  private def readSession(spark: SparkSession, split: Long): SparkSession = {
    readSessions.filterInPlace((k, _) => !k._1.isStopped)
    readSessions.getOrElseUpdate((spark.sparkContext, split), {
      val rs = spark.newSession()
      rs.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
      rs.conf.set("spark.sql.files.openCostInBytes", "0")
      rs
    })
  }

  /** Stage `name` for the dataset at `dir`, derived from its `table`, and
    * return the published path. When the stage is not current, `write`
    * builds it at the temp path it is given (a file or a directory); the
    * result is then published as above. One build per stage runs at a time
    * in a JVM, so a concurrent caller waits for it and reads its result. */
  def path(name: String, dir: String, table: String)(write: String => Unit): String = {
    val stage = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_${name}_${key(dir)}")
    val source = s"$dir/$table.parquet"
    locks.computeIfAbsent(stage.toString, _ => new AnyRef).synchronized {
      if (!current(stage, source)) {
        val sig = signature(source)
        val tmp = stage.resolveSibling(s"${stage.getFileName}.${java.util.UUID.randomUUID}.tmp")
        try {
          write(tmp.toString)
          // another process may have published this source state meanwhile
          if (!current(stage, source)) {
            replace(tmp, stage)
            Files.write(sigFile(stage), sig.getBytes("UTF-8"))
          }
        } finally deleteTree(tmp)
      }
    }
    stage.toString
  }

  /** [[path]] for a parquet frame, read back through the relation cache. */
  def parquet(spark: SparkSession, name: String, dir: String, table: String)(
      frame: => DataFrame): DataFrame =
    graft.sources.Tables.relationAt(spark, path(name, dir, table)(frame.write.parquet(_)))

  /** [[parquet]], persisted and registered with [[Cached]] for release. */
  def cached(spark: SparkSession, name: String, dir: String, table: String)(
      frame: => DataFrame): DataFrame =
    Cached.track(parquet(spark, name, dir, table)(frame)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def key(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(Paths.get(dir).toAbsolutePath.normalize.toString.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  private def sigFile(stage: Path) = stage.resolveSibling(s"${stage.getFileName}.sig")

  /** True iff `stage` exists and was last recorded against the current
    * state of `sourcePath`. */
  private def current(stage: Path, sourcePath: String): Boolean =
    Files.exists(stage) && Files.exists(sigFile(stage)) &&
      new String(Files.readAllBytes(sigFile(stage)), "UTF-8") == signature(sourcePath)

  /** Rename `tmp` onto `stage`. A directory cannot be renamed over a
    * non-empty one, so an old stage moves aside first and is deleted after. */
  private def replace(tmp: Path, stage: Path): Unit = {
    val old = stage.resolveSibling(s"${tmp.getFileName}.old")
    val hadOld = Files.exists(stage)
    if (hadOld) Files.move(stage, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, stage, StandardCopyOption.ATOMIC_MOVE)
    if (hadOld) deleteTree(old)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val listing = Files.list(p)
      try listing.toArray.foreach(c => deleteTree(c.asInstanceOf[Path]))
      finally listing.close()
      Files.delete(p)
    } else Files.deleteIfExists(p)
}
