package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source priority entity merge.
  *
  * Re-expresses the reference's sources2csr attribute resolution
  * (test_data_e2e config `sources_config.json`: each entity attribute lists
  * its sources in priority order; the first source with a non-null value
  * wins — see /root/reference/test_data_e2e/xx_archive/test_data_NGS/config/
  * sources_config.json:5-102 for the Individual entity).
  *
  * Spark-first shape: one union of the sources, then one aggregate on the
  * entity key — a single shuffle however many sources there are, with
  * map-side partial aggregation. Source i carries its attributes as one
  * struct column `__s<i>` (null in the other sources' rows) and the
  * aggregate keeps `min(__s<i>)` per key: the reference dedups entity keys
  * in sources2csr before merging, and keep-first is the lexicographic min
  * over the attribute values. Each attribute is then
  * `coalesce(src0.attr, src1.attr, ...)` in priority order. Optionally
  * emits `<attr>_src` provenance columns ("src<i>" of the winning source).
  *
  * This is the result of deduping every source on the key and chaining
  * full-outer joins on it: null keys never match, so each source's
  * null-key rows stay one row of their own (the grouping key carries the
  * source index for them).
  */
object EntityMerge {

  /** @param sources  priority-ordered frames, each containing `key` and any
    *                 subset of `attrs` (missing attrs are treated as null)
    * @param key      entity key column name
    * @param attrs    attribute columns to resolve
    * @param provenance also emit `<attr>_src` winning-source columns
    */
  def merge(sources: Seq[DataFrame], key: String, attrs: Seq[String],
            provenance: Boolean = false): DataFrame = {
    require(sources.nonEmpty, "at least one source")
    val slots = sources.indices.map(i => s"__s$i")
    val own = sources.map(df => struct(attrs.map(a =>
      (if (df.columns.contains(a)) col(a) else lit(null)).as(a)): _*))
    val slotTypes = sources.zip(own).map { case (df, s) => df.select(s).schema.head.dataType }
    val unioned = sources.indices.map { i =>
      val structs = slots.indices.map(j =>
        (if (j == i) own(i) else lit(null).cast(slotTypes(j))).as(slots(j)))
      sources(i).select((col(key) +: lit(i).as("__src") +: structs): _*)
    }.reduce(_ union _)
    val merged = unioned.groupBy(col(key), when(col(key).isNull, col("__src")).as("__src"))
      .agg(min(col(slots.head)).as(slots.head), slots.tail.map(s => min(col(s)).as(s)): _*)
    def attr(i: Int, a: String) = col(s"${slots(i)}.$a")
    val resolved = attrs.map(a => coalesce(sources.indices.map(attr(_, a)): _*).as(a))
    val prov = if (!provenance) Nil else attrs.map { a =>
      val branches = sources.indices.map(i => (attr(i, a).isNotNull, lit(s"src$i")))
      branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }.as(s"${a}_src")
    }
    merged.select((col(key) +: (resolved ++ prov)): _*)
  }
}
