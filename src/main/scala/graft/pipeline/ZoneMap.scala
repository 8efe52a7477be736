package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file column statistics over a staged directory (SURVEY §8
  * candidate (e)): the file-level analogue of parquet row-group zone
  * maps, kept as a queryable manifest.
  *
  * A 100 TB staging area is re-read incrementally; before scheduling a
  * scan, the loader consults the zone map and drops every file whose
  * [min, max] interval cannot satisfy the predicate — the same pruning
  * parquet does per row group, lifted to whole files so the scheduler
  * never even lists them. Building the map is one distributed pass
  * (`input_file_name()` groupBy → min/max/count partial aggs); consulting
  * it is a driver-side filter over a bounded frame (one row per
  * file × column).
  *
  * Values are carried as strings with a type tag — min/max comparisons
  * for pruning happen after casting back to the tagged type, so one
  * manifest schema covers every column type.
  */
object ZoneMap {

  /** (file, column, dtype, min_value, max_value, n_rows, n_nulls) for the
    * given columns of every file backing `df`. */
  def build(df: DataFrame, cols: Seq[String]): DataFrame = {
    val perFile = df
      .withColumn("_file", input_file_name())
      .groupBy(col("_file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))): _*)
    val dtypes = df.select(cols.map(col): _*).schema.map(f => f.name -> f.dataType.sql).toMap
    val entries = cols.map { c =>
      struct(lit(c).as("column"), lit(dtypes(c)).as("dtype"),
        col(s"min_$c").as("min_value"), col(s"max_$c").as("max_value"),
        col(s"nulls_$c").as("n_nulls"))
    }
    perFile
      .select(col("_file").as("file"), col("n_rows"), explode(array(entries: _*)).as("e"))
      .select(col("file"), col("e.column").as("column"), col("e.dtype").as("dtype"),
        col("e.min_value").as("min_value"), col("e.max_value").as("max_value"),
        col("n_rows"), col("e.n_nulls").as("n_nulls"))
  }

  /** Zone-map-driven scan (SURVEY §8b candidate (i)): build the read over
    * ONLY the files whose [min, max] can satisfy `column ∈ [lo, hi]`, then
    * re-apply the predicate as the residual filter (pruning is
    * file-granular; rows inside a kept file still need the exact test —
    * which Spark pushes down to the parquet row groups, so the same
    * min/max idea prunes again one level down). A predicate matching
    * nothing reads nothing: the plan collapses to an empty relation. */
  def prunedParquet(spark: SparkSession, dir: String, zoneMap: DataFrame,
                    column: String, lo: Column, hi: Column): DataFrame = {
    val files = candidateFiles(zoneMap, column, lo, hi)
    val base =
      if (files.isEmpty) spark.read.parquet(dir).where(lit(false))
      else spark.read.parquet(files: _*)
    base.where(col(column) >= lo && col(column) <= hi)
  }

  /** Files that MIGHT contain rows with `column` in [lo, hi] — interval
    * overlap on the zone map, casting min/max back to the column's type.
    * No false negatives: a file is only dropped when its whole range lies
    * outside the predicate. Files where the column is entirely null are
    * dropped (no value can match a range predicate). */
  def candidateFiles(zoneMap: DataFrame, column: String, lo: Column, hi: Column): Seq[String] = {
    import zoneMap.sparkSession.implicits._
    val forCol = zoneMap.where(col("column") === column)
    // One dtype per column (all files share the table schema); the manifest
    // is bounded (files × columns), so a driver-side read is the point —
    // this runs in the scheduler before any scan is launched.
    forCol.select("dtype").distinct().as[String].collect().toSeq match {
      case Seq(dtype) =>
        forCol
          .where(col("min_value").isNotNull && col("max_value").isNotNull)
          .where(col("max_value").cast(dtype) >= lo && col("min_value").cast(dtype) <= hi)
          .select("file").orderBy("file").as[String].collect().toSeq
      case Seq() => Seq.empty
      case dts => throw new IllegalArgumentException(
        s"zone map has conflicting dtypes for column $column: ${dts.mkString(", ")}")
    }
  }
}
