package graft.pipeline

import java.util.concurrent.{CompletionException, Executors}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** Post-load aggregate-cache rebuild.
  *
  * The reference finishes a load by rebuilding the warehouse's aggregate
  * caches over the freshly loaded observations
  * (scripts/transmart_api_calls.py — the after-load cache clear/rebuild
  * cycle). Re-expressed Spark-first: the "cache" is a set of small
  * materialized summary tables derived from the observation fact in one
  * pass each, swapped into place atomically so readers never see a
  * half-rebuilt cache. At 100 TB the summaries are the only thing a
  * dashboard query touches — each is a bounded groupBy of the fact with
  * map-side partial aggregation.
  *
  * Cache tables:
  *  - `concept_counts`: per concept_path — observations, distinct patients
  *  - `patient_counts`: per patient_num — observation count
  *  - `numeric_stats`: per numeric concept — min/max/exact-decimal sum
  */
object AggCache {

  val Tables: Seq[String] = Seq("concept_counts", "patient_counts", "numeric_stats")

  /** One-pass summaries from an observation frame (the
    * [[graft.operators.ObservationQueries]] schema). */
  private def summaries(obs: DataFrame): Map[String, DataFrame] = Map(
    "concept_counts" -> obs.groupBy(col("concept_path"))
      .agg(count(lit(1)).as("n_obs"),
        countDistinct(col("patient_num")).as("n_patients")),
    "patient_counts" -> obs.groupBy(col("patient_num"))
      .agg(count(lit(1)).as("n_obs")),
    "numeric_stats" -> obs.where(col("num_value").isNotNull)
      .groupBy(col("concept_path"))
      .agg(min(col("num_value")).as("min_value"),
        max(col("num_value")).as("max_value"),
        sum(col("num_value").cast("decimal(28,6)")).as("sum_value"),
        count(lit(1)).as("n_values")))

  /** Rebuild every cache table under `cacheDir` and swap atomically
    * (write to `.tmp`, two renames; a crash mid-swap leaves the previous
    * cache recoverable under `.old`, never a half-written mix).
    *
    * The summaries are independent, so their writes run concurrently, one
    * thread each, carrying the caller's local properties: their jobs keep
    * the caller's job group and tags. The swap waits for every write; if
    * one fails, the others still finish, the failure is rethrown and the
    * live cache is left as it was. */
  def rebuild(obs: DataFrame, cacheDir: String): Unit = {
    val spark = obs.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(cacheDir)
    val fs = target.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(s"$cacheDir.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val pool = Executors.newFixedThreadPool(Tables.size)
    val failures = try summaries(obs).toSeq.map { case (name, df) =>
      GraftSqlBridge.withThreadLocalCaptured(spark, pool)(df.write.mode("overwrite").parquet(s"$tmp/$name"))
    }.flatMap(w => Try(w.join()).failed.toOption) finally pool.shutdown()
    failures.headOption.foreach {
      case e: CompletionException if e.getCause != null => throw e.getCause
      case e => throw e
    }
    val old = new org.apache.hadoop.fs.Path(s"$cacheDir.old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"cache swap failed: $target -> $old")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"cache swap failed: $tmp -> $target")
    fs.delete(old, true)
  }

  /** Read one cache table; restores from a crash-leftover `.old` backup
    * if the swap died between its two renames. */
  def read(spark: SparkSession, cacheDir: String, table: String): DataFrame = {
    require(Tables.contains(table), s"unknown cache table $table")
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(cacheDir)
    val fs = target.getFileSystem(conf)
    if (!fs.exists(target)) {
      val old = new org.apache.hadoop.fs.Path(s"$cacheDir.old")
      if (fs.exists(old) && !fs.rename(old, target))
        throw new java.io.IOException(s"cache restore failed: $old -> $target")
    }
    spark.read.parquet(s"$cacheDir/$table")
  }
}
