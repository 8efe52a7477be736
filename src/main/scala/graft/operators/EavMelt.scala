package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EAV melt: wide entity rows → typed observation facts.
  *
  * csr2transmart turns each non-null cell of the wide CSR entity tables into
  * one observation row (patient/concept dims + numeric|text|date value
  * columns) — the tranSMART observation model the reference loads with
  * transmart-copy (luigi-pipeline/main.py:115-126 drives this step).
  *
  * Spark-first shape: a single `stack()` projection — narrow, no shuffle,
  * codegen'd; row count multiplies by #attributes map-side, which scales
  * linearly and partitions wherever the input was partitioned.
  */
object EavMelt {

  sealed trait ValueKind
  case object NumValue extends ValueKind
  case object TextValue extends ValueKind
  case object DateValue extends ValueKind

  /** The melted frame's columns, in order. */
  val Columns: Seq[String] = Seq("entity_id", "concept_cd", "num_value", "str_value", "date_value")

  /** @param entityCol entity key column (becomes entity_id)
    * @param attrs     (columnName, conceptCode, kind)
    */
  def melt(df: DataFrame, entityCol: String, attrs: Seq[(String, String, ValueKind)]): DataFrame = {
    val stackArgs = attrs.map { case (c, concept, kind) =>
      val numE = if (kind == NumValue) s"CAST(`$c` AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      val strE = if (kind == TextValue) s"CAST(`$c` AS STRING)" else "CAST(NULL AS STRING)"
      val datE = if (kind == DateValue) s"CAST(`$c` AS DATE)" else "CAST(NULL AS DATE)"
      // concept codes are config-provided free text ("Crohn's disease") —
      // escape them for the SQL literal
      val conceptLit = concept.replace("\\", "\\\\").replace("'", "\\'")
      s"'$conceptLit', $numE, $strE, $datE"
    }.mkString(", ")
    df.select(col(entityCol).as(Columns.head),
        expr(s"stack(${attrs.size}, $stackArgs) AS (${Columns.tail.mkString(", ")})"))
      .filter(col("num_value").isNotNull || col("str_value").isNotNull || col("date_value").isNotNull)
  }
}
