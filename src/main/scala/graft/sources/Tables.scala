package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the driver-generated parquet tables of one scale factor.
  *
  * Plain `spark.read.parquet` so Catalyst keeps full pushdown/pruning; no
  * caching here — operators decide what to persist. At cluster scale these
  * would be partitioned table paths; the API shape is the same.
  */
final case class Tables(dir: String)(implicit spark: SparkSession) {
  /** r15 (opt): relation METADATA cache. A bare `spark.read.parquet(path)`
    * re-infers the schema (parquet footer read) and rebuilds the file index
    * (directory listing) on every call; a sweep of the full registry pays
    * that several hundred times for the same ten immutable files. Catalog
    * tables get exactly this cache from Spark itself
    * (spark.sql.filesourceTableRelationCacheSize); path-based reads don't,
    * so we memoize the resolved DataFrame per (session, dir, table,
    * mtime). The mtime key invalidates the entry if anything rewrites the
    * file (ScaleUp output dirs, test fixtures), and nothing about the DATA
    * is cached — every execution still scans parquet. Scale-independent:
    * fewer driver-side footer/listing round-trips helps any cluster. */
  private def t(name: String): DataFrame = Tables.relation(spark, dir, name)

  /** r14 (opt, guide §2.5 "input skew: one huge unsplittable file …
    * repartition immediately after the read"): the bench tables are
    * single-file, single-row-group parquet, so a scan is ONE task at any
    * core count and compute-heavy map-side work (decimal power sums,
    * tokenize/shingle explodes, per-row scoring) serializes behind it.
    * When the file cannot split (bytes ≤ the session's split size) and
    * the session has more than one core, redistribute right after the
    * read — column pruning pushes below the round-robin exchange, so only
    * consumed columns shuffle. At cluster scale the file splits natively
    * (bytes > split size) and this is IDENTITY, so deployment plans keep
    * their native scan parallelism and pay no extra exchange. Applied
    * per-operator where measured faster, never blanket: a full-sweep
    * experiment applying it to every fact-table accessor REGRESSED
    * 143 queries (+61.6 s) against 16 improvements (−13.7 s) — the
    * round-robin sort + exchange costs ~0.3–0.7 s per query here, a
    * clear loss for every scan whose downstream is not compute-heavy.
    * (Row-group note: maxPartitionBytes cannot help here — one row group
    * means byte-range splits beyond the first read nothing.) */
  def spread(name: String): DataFrame =
    spreadDf(if (name == "events") eventsRaw else t(name), name)

  private def spreadDf(df: DataFrame, name: String): DataFrame = {
    val p = java.nio.file.Paths.get(s"$dir/$name.parquet")
    val bytes = if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else Long.MaxValue
    val split = spark.conf.get("spark.sql.files.maxPartitionBytes", s"${128L << 20}")
      .stripSuffix("b").toLong
    val n = spark.sparkContext.defaultParallelism
    if (bytes <= split && n > 1) df.repartition(n) else df
  }
  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")

  /** The events table's `ts` column has shipped in two vintages: as
    * TIMESTAMP(NANOS) parquet (which Spark 4 rejects outright, so we read
    * the nanos as long and rebuild a microsecond timestamp with integer
    * division — epoch nanos exceed the double mantissa, so no
    * floating-point path is acceptable) and as plain timestamp[us] (which
    * Spark reads as TIMESTAMP_NTZ when the writer leaves
    * isAdjustedToUTC=false). Branch on the loaded dtype so both vintages
    * read identically: with a UTC session timezone the NTZ→TIMESTAMP cast
    * is value-identical, matching DuckDB's reading of the same file.
    *
    * The NANOS branch relies on `spark.sql.legacy.parquet.nanosAsLong`,
    * which [[graft.GraftSession]] sets when it builds the session; reading
    * the table never writes session conf. */
  def events: DataFrame = eventsRaw

  private def eventsRaw: DataFrame = {
    val raw = t("events")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Fail-fast data-vintage probe: check every table's schema (footer reads
    * only, no data scan) against the column/type contract the operators
    * assume, and raise ONE named error listing every mismatch. The driver
    * regenerates the testdata between rounds and has already changed a
    * column's physical type once (events.ts TIMESTAMP(NANOS) →
    * timestamp[us], r06 — which silently took out 24 queries and 25 specs
    * with per-query analysis errors); this turns the next vintage change
    * into a single clear message at session start. */
  def assertVintage(): Unit = {
    import org.apache.spark.sql.types._
    // name → required columns with acceptable type classes. Extra columns
    // are fine (schema evolution); missing/mistyped ones are not.
    def num(dt: DataType) = dt.isInstanceOf[NumericType]
    def str(dt: DataType) = dt == StringType
    def time(dt: DataType) = dt == TimestampType || dt == TimestampNTZType || dt == DateType
    // events.ts additionally admits LongType: the NANOS vintage loads as
    // raw nanos under the nanosAsLong conf and `events` rebuilds it
    def tsVintage(dt: DataType) = time(dt) || dt == LongType
    val contract: Seq[(String, Seq[(String, DataType => Boolean)])] = Seq(
      "region" -> Seq("r_regionkey" -> num _, "r_name" -> str _),
      "nation" -> Seq("n_nationkey" -> num _, "n_name" -> str _, "n_regionkey" -> num _),
      "customer" -> Seq("c_custkey" -> num _, "c_name" -> str _, "c_nationkey" -> num _,
        "c_acctbal" -> num _, "c_mktsegment" -> str _),
      "supplier" -> Seq("s_suppkey" -> num _, "s_name" -> str _, "s_nationkey" -> num _,
        "s_acctbal" -> num _),
      "part" -> Seq("p_partkey" -> num _, "p_name" -> str _, "p_brand" -> str _,
        "p_type" -> str _, "p_size" -> num _, "p_retailprice" -> num _),
      "orders" -> Seq("o_orderkey" -> num _, "o_custkey" -> num _, "o_orderstatus" -> str _,
        "o_totalprice" -> num _, "o_orderdate" -> time _, "o_orderpriority" -> str _),
      "lineitem" -> Seq("l_orderkey" -> num _, "l_partkey" -> num _, "l_suppkey" -> num _,
        "l_linenumber" -> num _, "l_quantity" -> num _, "l_extendedprice" -> num _,
        "l_discount" -> num _, "l_tax" -> num _, "l_returnflag" -> str _,
        "l_linestatus" -> str _, "l_shipdate" -> time _),
      "events" -> Seq("event_id" -> num _, "ts" -> tsVintage _, "user_id" -> num _,
        "event_type" -> str _, "value" -> num _, "props" -> str _),
      "documents" -> Seq("doc_id" -> num _, "text" -> str _, "lang" -> str _,
        "source" -> str _, "n_chars" -> num _),
      "embeddings" -> Seq("vec_id" -> num _,
        "embedding" -> ((dt: DataType) => dt match {
          case ArrayType(et, _) => et == FloatType || et == DoubleType
          case _ => false
        }),
        "label" -> num _))
    // a NANOS vintage reads only under the nanosAsLong conf GraftSession
    // sets at build; without it the events footer read fails with an
    // unrelated error, reported here as `events: unreadable`
    val problems = contract.flatMap { case (name, cols) =>
      scala.util.Try(t(name).schema) match {
        case scala.util.Failure(e) =>
          Seq(s"$name: unreadable ($e)")
        case scala.util.Success(schema) =>
          val byName = schema.fields.map(f => f.name -> f.dataType).toMap
          cols.flatMap { case (c, ok) =>
            byName.get(c) match {
              case None => Some(s"$name.$c: missing (have ${schema.fieldNames.mkString(",")})")
              case Some(dt) if !ok(dt) => Some(s"$name.$c: unexpected type $dt")
              case _ => None
            }
          }
      }
    }
    if (problems.nonEmpty)
      throw new IllegalStateException(
        s"graft data-vintage mismatch under $dir — the driver's testdata " +
          s"shape changed; fix graft.sources.Tables before anything else:\n  " +
          problems.mkString("\n  "))
  }
}

object Tables {
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, Long), DataFrame]()

  private def mtime(path: String): Long =
    try java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(path)).toMillis
    catch { case _: Throwable => -1L }

  private[sources] def relation(spark: SparkSession, dir: String, name: String): DataFrame =
    relationAt(spark, s"$dir/$name.parquet")

  /** Same memoization for any parquet path, keyed on its mtime. */
  private[graft] def relationAt(spark: SparkSession, path: String): DataFrame = {
    val m = mtime(path)
    // unreadable path: no caching, surface the reader's own error
    if (m < 0) return spark.read.parquet(path)
    val key = (String.valueOf(System.identityHashCode(spark)), path, "", m)
    // stale-session / rewritten-file entries accumulate only in test runs
    // with many temp dirs; a cheap size valve keeps that bounded
    if (relationCache.size > 256) relationCache.clear()
    relationCache.computeIfAbsent(key, _ => spark.read.parquet(path))
  }
}
