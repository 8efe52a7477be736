package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Codebook (code → label) decoding.
  *
  * The reference binds tab-separated codebook files to source columns
  * (sources_config.json `codebooks` section; e.g. SEX: 1→male, 2→female,
  * 9→unknown in studies/individual_codebook.txt) and rewrites coded values
  * to labels during sources2csr.
  *
  * Spark-first shape, by where the codebook lives:
  *  - rows on the driver (a pipeline config's codebook): every decoded
  *    column becomes `coalesce(element_at(<map literal>, col), col)` in one
  *    projection — no join, no shuffle, and a plan that does not grow with
  *    the number of decoded columns;
  *  - a DataFrame (column_name, code, label), e.g. [[fromFile]]'s
  *    distributed parse: broadcast-joined against the fact table — a
  *    map-side hash join with zero shuffle of the fact side, and the
  *    codebook never becomes a plan literal.
  * Unmatched and null codes keep their original value (the reference
  * passes unknown codes through).
  */
object CodebookDecode {

  /** Decode `column` of `df` using `codebook` rows where
    * codebook.column_name == column; codebook schema:
    * (column_name: String, code: String, label: String).
    */
  def decode(df: DataFrame, column: String, codebook: DataFrame): DataFrame = {
    val cb = codebook.filter(col("column_name") === column)
      .select(col("code").as(s"__cb_code_$column"), col("label").as(s"__cb_label_$column"))
    df.join(broadcast(cb), df(column) === col(s"__cb_code_$column"), "left")
      .withColumn(column, coalesce(col(s"__cb_label_$column"), df(column)))
      .drop(s"__cb_code_$column", s"__cb_label_$column")
  }

  def decodeAll(df: DataFrame, columns: Seq[String], codebook: DataFrame): DataFrame =
    columns.foldLeft(df)((acc, c) => decode(acc, c, codebook))

  /** [[decodeAll]] over driver-side codebook rows (column, code, label):
    * one map lookup per column. A (column, code) pair may appear once —
    * the join would multiply its fact rows — and is rejected otherwise. */
  def decodeAll(df: DataFrame, columns: Seq[String], codebook: Seq[(String, String, String)]): DataFrame = {
    val dup = codebook.groupBy(r => (r._1, r._2)).collect { case (k, rs) if rs.size > 1 => k }
    require(dup.isEmpty, s"codebook codes bound twice: ${dup.toSeq.sorted.mkString(", ")}")
    df.withColumns(columns.distinct.map { c =>
      val labels = codebook.collect { case (`c`, code, label) => code -> label }.toMap
      c -> coalesce(element_at(typedLit(labels), df(c)), df(c))
    }.toMap)
  }

  /** Load a codebook FILE in the reference's tab-separated format
    * (studies/individual_codebook.txt): each line is
    * `<group>\t<space-separated column names>\t…\t<code>\t<label>\t<code>\t<label>…`
    * where a single code/label list binds to a whole COLUMN SET and blank
    * fields are padding. Returns the (column_name, code, label) frame
    * [[decodeAll]] consumes — one row per (column, code) after expanding
    * the column set.
    *
    * The parse is fully distributed (spark.read.text + native array
    * functions — no UDF, no driver-side line loop): codebooks are small
    * today, but nothing in this path stops a million-line dictionary. */
  def fromFile(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path).where(length(trim(col("value"))) > 0)
    // keep only non-blank fields; order is preserved, so after the group id
    // and the column-set field the rest alternate code, label, code, label…
    val toks = lines.select(
      filter(split(col("value"), "\t"), f => trim(f) =!= lit("")).as("t"))
    toks
      .where(size(col("t")) >= 4)
      // `get` (0-based) over element_at: Catalyst's subexpression
      // elimination can evaluate the projection inside the size filter's
      // predicate, where element_at would throw on a short line
      .select(
        split(get(col("t"), lit(1)), " ").as("names"),
        slice(col("t"), lit(3), size(col("t")) - 2).as("kv"))
      .select(explode(col("names")).as("column_name"), col("kv"))
      .where(length(col("column_name")) > 0)
      .select(col("column_name"), explode(expr(
        "transform(sequence(0, int(size(kv) / 2) - 1)," +
          " i -> struct(kv[2*i] AS code, kv[2*i+1] AS label))")).as("p"))
      .select(col("column_name"), col("p.code").as("code"), col("p.label").as("label"))
  }
}
