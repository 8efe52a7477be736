package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Config-driven JSONL (one JSON object per line) ingestion — the lingua
  * franca of LLM training corpora, added alongside the reference's
  * delimited formats ([[DelimitedSource]]).
  *
  * Same discipline as the delimited reader: the schema is EXPLICIT, never
  * inferred — schema inference on a 100 TB drop zone is a full extra pass
  * and a schema drift hazard (one new field in one shard silently changes
  * every reader). The read is `text` + `from_json`, not the JSON
  * datasource: it keeps the raw line first-class for quarantine (the JSON
  * datasource forbids plans that touch only its corrupt-record column).
  * Lines are the split unit, so the scan parallelizes like CSV;
  * fields absent from a line are NULL, fields not in the schema are
  * ignored; a malformed line parses to a NULL struct — the detection —
  * with its raw text preserved for the repair/replay queue, mirroring
  * [[DelimitedSource.readTagged]].
  */
object JsonlSource {

  /** One row per non-blank input line: the parsed struct (`_p`, whose
    * `_corrupt` field carries the raw text iff the line is not valid
    * JSON — `from_json`'s expression-level corrupt-record column, which
    * distinguishes a malformed line from a legitimately all-NULL object)
    * plus the raw line (`_raw`). */
  def readTagged(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame = {
    require(paths.nonEmpty, "JsonlSource.readTagged: empty path list")
    tag(spark.read.text(paths: _*), schema)
  }

  /** The tagging projection over a `(value: string)` lines frame. Every
    * expression is row-local, so any split of the lines tags to the same
    * rows (spec-pinned chunk-by-chunk). */
  def tag(lines: DataFrame, schema: StructType): DataFrame = {
    val parseSchema = schema.add("_corrupt", "string")
    val opts = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")
    lines
      .where(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), parseSchema, opts).as("_p"), col("value").as("_raw"))
  }

  /** Rows that parsed cleanly, expanded to the schema's columns. */
  def good(tagged: DataFrame): DataFrame =
    tagged.where(col("_p._corrupt").isNull).select(col("_p.*")).drop("_corrupt")

  /** Malformed lines, as their original raw text. */
  def quarantined(tagged: DataFrame): DataFrame =
    tagged.where(col("_p._corrupt").isNotNull).select(col("_raw").as("raw_line"))

  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    good(readTagged(spark, Seq(path), schema))
}
