package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the driver's local[32] harness but with settings that hold on a
  * real cluster: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), small shuffle partition count locally (the driver overrides
  * via SPARK_GRAFT_CPUS on a cluster this would be ~2-3x total cores).
  */
object GraftSession {
  def apply(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
            shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt * 2): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new plans.GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Spark's 10 MB broadcast default is famously conservative for
      // multi-GB executors; 32 MB lets AQE runtime-broadcast bounded
      // derived frames (e.g. the triangle closing-edge list at bench
      // scale) while still shuffling anything genuinely large — the
      // decision stays ADAPTIVE, it is not a hint
      .config("spark.sql.autoBroadcastJoinThreshold", (32 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // older events.parquet vintages carry TIMESTAMP(NANOS): read nanos
      // as long once, at build time, instead of mutating session conf
      // mid-query (harmless for the current timestamp[us] vintage —
      // the conf only affects NANOS-typed columns)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // r15 (opt, guide §1.2 per-task work / codegen): the generated-class
      // cache defaults to 100 entries (StaticSQLConf CODEGEN_CACHE_MAX_ENTRIES).
      // An engine session serving the full 308-query registry generates a
      // few thousand distinct codegen units, so at 100 entries every repeat
      // execution of a query re-pays Janino compilation for every span —
      // the bench's interleaved passes thrash it by construction, and any
      // production session running a query mix does too. 10k entries keeps
      // every unit's compiled class resident (each is tens of KB — noise in
      // a multi-GB driver). Scale-independent: the cache is keyed on
      // generated source, never on data.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      // without libhadoop, the stock file: FileSystem forks a `chmod` for
      // every file and directory it creates
      .config("spark.hadoop.fs.file.impl", classOf[PosixLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
