package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One column of a delimited source: target name, type, and (for dates)
  * the explicit source format — mirroring the reference's per-column
  * `date_format` in sources_config.json. */
final case class ColSpec(
    name: String,
    dtype: String, // "string" | "long" | "double" | "date"
    dateFormat: Option[String] = None)

/** Config for one delimited file, mirroring the reference's per-file
  * `file_format`/`delimiter`/`date_format` sections of
  * sources_config.json (consumed there by sources2csr). */
final case class DelimitedConfig(
    delimiter: String,
    header: Boolean,
    columns: Seq[ColSpec],
    nullValue: String = "")

/** Config-driven delimited ingestion (SURVEY §4: DelimitedSource).
  *
  * Reads everything as string first (so a malformed cell can never poison
  * type inference), then applies the per-column spec: explicit casts and
  * explicit `to_date` formats — never inference, exactly like the
  * reference's config-driven reader. CSV is splittable, so the read
  * parallelizes across a 100 TB drop zone; casts are codegen'd column ops.
  */
object DelimitedSource {

  def read(spark: SparkSession, path: String, cfg: DelimitedConfig): DataFrame =
    read(spark, Seq(path), cfg)

  /** Multi-path variant — the zone-map-pruned scan hands in the surviving
    * file list instead of the directory. */
  def read(spark: SparkSession, paths: Seq[String], cfg: DelimitedConfig): DataFrame =
    rawStrings(spark, paths, cfg, "read").select(cfg.columns.map(typed): _*)

  /** The files as the config's columns, all strings: no inference. */
  private def rawStrings(spark: SparkSession, paths: Seq[String], cfg: DelimitedConfig,
                         caller: String): DataFrame = {
    require(paths.nonEmpty, s"DelimitedSource.$caller: empty path list")
    cfg.columns.foreach(c => require(c.dtype != "date" || c.dateFormat.isDefined,
      s"column ${c.name}: date requires dateFormat"))
    spark.read
      .option("delimiter", cfg.delimiter)
      .option("header", cfg.header.toString)
      .option("nullValue", cfg.nullValue)
      .schema(StructType(cfg.columns.map(c => StructField(c.name, StringType, nullable = true))))
      .csv(paths: _*)
  }

  private def typed(c: ColSpec): Column = c.dtype match {
    case "string" => col(c.name)
    case "date" =>
      val fmt = c.dateFormat.getOrElse(
        throw new IllegalArgumentException(s"column ${c.name}: date requires dateFormat"))
      to_date(col(c.name), fmt).as(c.name)
    case other => col(c.name).cast(other).as(c.name)
  }

  // ------------------------------------------------------------ quarantine

  /** Failure-tolerant typed read: every row lands in ONE output frame
    * carrying the typed columns, the original raw strings (`_raw`), and
    * `_bad_cols` — the names of columns whose non-null raw cell failed
    * its cast/parse (try-variants: a malformed cell yields NULL instead
    * of an ANSI runtime error, and the discrepancy raw≠null ∧ typed=null
    * IS the detection). [[good]] / [[quarantined]] split it; keeping one
    * frame means ONE scan feeds both sinks when the caller persists them
    * in the same job — a 100 TB drop zone is read once, not once per
    * verdict. Mirrors the reference pipeline's refusal to let one bad
    * registry row kill the load while never silently dropping it. */
  def readTagged(spark: SparkSession, paths: Seq[String], cfg: DelimitedConfig): DataFrame = {
    val raw = rawStrings(spark, paths, cfg, "readTagged")
    val badFlags = cfg.columns.map { c =>
      when(col(c.name).isNotNull && tryTyped(c).isNull, lit(c.name))
    }
    raw.select(
      cfg.columns.map(c => tryTyped(c).as(c.name)) ++ Seq(
        struct(cfg.columns.map(c => col(c.name)): _*).as("_raw"),
        filter(array(badFlags: _*), _.isNotNull).as("_bad_cols")): _*)
  }

  /** Rows where every cell typed cleanly, with the bookkeeping dropped. */
  def good(tagged: DataFrame): DataFrame =
    tagged.where(size(col("_bad_cols")) === 0).drop("_raw", "_bad_cols")

  /** Rejected rows, as their ORIGINAL raw strings plus the failing
    * column names — exactly what a repair/replay queue needs. */
  def quarantined(tagged: DataFrame): DataFrame =
    tagged.where(size(col("_bad_cols")) > 0)
      .select(col("_raw.*"), col("_bad_cols").as("bad_cols"))

  /** try-variant of [[typed]]: malformed → NULL, never an ANSI error. */
  private def tryTyped(c: ColSpec): Column = c.dtype match {
    case "string" => col(c.name)
    case "date" =>
      to_date(try_to_timestamp(col(c.name), lit(c.dateFormat.get))).as(c.name)
    case "long" => expr(s"try_cast(`${c.name}` AS BIGINT)").as(c.name)
    case "double" => expr(s"try_cast(`${c.name}` AS DOUBLE)").as(c.name)
    case other => throw new IllegalArgumentException(s"unsupported dtype $other")
  }
}
