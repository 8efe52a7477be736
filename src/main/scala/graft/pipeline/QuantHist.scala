package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable quantile summary over non-negative integer values,
  * represented the Spark-first way (the [[TopFreq]] / [[HllTable]]
  * discipline): a TABLE of (grain, bin, cnt) under a FIXED deterministic
  * binning, not an opaque data-dependent blob.
  *
  * Binning is the HDR-histogram layout (public design — Gil Tene's
  * HdrHistogram; also the log-linear scheme of DDSketch, Masson et al.,
  * VLDB'19): values below 16 get exact unit bins; every power-of-two
  * octave above is split into 16 sub-buckets, so a bin's width is at most
  * 1/16 of its lower bound. Consequences, each pinned by spec/oracle:
  *
  *  - **Determinism**: bin(v) is pure integer arithmetic
  *    (e = len(bin₂(v))−1; idx = (e−4)·16 + (v >> (e−4)) for v ≥ 16,
  *    else v). The same arithmetic runs in Spark and DuckDB — the whole
  *    sketch is oracle-verifiable, unlike sampling sketches.
  *  - **Exact mergeability**: adding the counters of build(A) and
  *    build(B) per (grain, bin) gives build(A ∪ B) bit-for-bit — not
  *    "mergeable within error" but exactly.
  *  - **Bounded answers**: the q-quantile read returns the covering bin
  *    [lo, hi]; the true r-th smallest value (r = ⌈q·n⌉) provably lies
  *    inside, and hi − lo ≤ lo/16 (≤ 6.25% relative error), exact below
  *    16.
  *  - **Bounded size**: ≤ 16 + 16·59 bins per grain no matter how many
  *    rows stream through — the map-side partial aggregate collapses the
  *    raw data before the one keyed shuffle.
  *
  * At 100 TB this is the shuffle-pre-sizing / SLO-monitoring shape: the
  * per-grain histogram lands as a dataset, compacts like any dataset, and
  * answers any quantile later without re-touching the raw data.
  */
object QuantHist {

  /** Bin id of a non-negative integral column (see layout above). */
  def binOf(v: Column): Column = {
    val vl = v.cast("long")
    val e4 = (length(bin(vl)) - 5).cast("int") // e − 4, ≥ 0 for v ≥ 16
    when(vl < 16, vl)
      .otherwise(e4.cast("long") * 16L + call_function("shiftright", vl, e4))
  }

  /** The same arithmetic as DuckDB SQL text over a value expression. */
  def binSql(v: String): String =
    s"CASE WHEN $v < 16 THEN $v ELSE (LENGTH(bin($v)) - 5) * 16 + ($v >> (LENGTH(bin($v)) - 5)) END"

  /** Inclusive [lo, hi] bounds of a bin-id column named `bin`. */
  def loOf(bin: String): Column = expr(
    s"CASE WHEN $bin < 16 THEN $bin " +
      s"ELSE shiftleft(($bin - 16) % 16 + 16, cast(($bin - 16) div 16 as int)) END")
  def hiOf(bin: String): Column = expr(
    s"CASE WHEN $bin < 16 THEN $bin " +
      s"ELSE shiftleft(($bin - 16) % 16 + 16, cast(($bin - 16) div 16 as int)) " +
      s"   + shiftleft(1L, cast(($bin - 16) div 16 as int)) - 1 END")

  def loSql(bin: String): String =
    s"CASE WHEN $bin < 16 THEN $bin ELSE (($bin - 16) % 16 + 16) << (($bin - 16) // 16) END"
  def hiSql(bin: String): String =
    s"CASE WHEN $bin < 16 THEN $bin ELSE ((($bin - 16) % 16 + 16) << (($bin - 16) // 16)) + (CAST(1 AS BIGINT) << (($bin - 16) // 16)) - 1 END"

  /** Build the summary: (grain, bin, cnt). `value` must be a non-negative
    * integral column (scale decimals to cents/micros first — binning a
    * float directly would tie the sketch to float formatting). */
  def build(df: DataFrame, value: Column, grain: Column): DataFrame =
    df.select(grain.as("grain"), binOf(value).as("bin"))
      .groupBy("grain", "bin").agg(count(lit(1)).as("cnt"))

  /** Answer per-mille quantiles from a summary: for each grain and
    * q ∈ qPm, the covering bin of the r-th smallest value,
    * r = ⌈n·q/1000⌉. Returns (grain, q_pm, bin, lo, hi, n). The raw data
    * is never touched — this reads only the bounded bin table. */
  def quantiles(summary: DataFrame, qPm: Seq[Int]): DataFrame = {
    val byGrain = org.apache.spark.sql.expressions.Window.partitionBy(col("grain"))
    val cum = summary
      .withColumn("cum", sum(col("cnt")).over(byGrain.orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(byGrain))
    cum.withColumn("q_pm", explode(array(qPm.map(lit(_)): _*)))
      .withColumn("r", expr("(n * q_pm + 999) div 1000"))
      .where(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
      .select(col("grain"), col("q_pm"), col("bin"),
        loOf("bin").as("lo"), hiOf("bin").as("hi"), col("n"))
  }
}
