package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable Misra-Gries frequent-items summary, represented the Spark-first
  * way (the [[HllTable]] / [[QuantHist]] discipline): a TABLE of
  * (grain, key, cnt, err) rather than an opaque blob. Build is one keyed
  * count plus a per-grain top-k window; the summary persists like any
  * dataset.
  *
  * The MG construction from exact per-grain counts: keep each grain's top-k
  * counters, decremented by the (k+1)-th largest count c₍ₖ₊₁₎ (the valid
  * mergeable-summaries form, Agarwal et al., PODS'12). `err` records that
  * decrement. The trade is the MIRROR IMAGE of count-min's: estimates are
  * never ABOVE the true count, and undershoot by at most the summed `err`
  * (≤ N/(k+1) per grain) — so any key whose true count exceeds the error
  * ledger is GUARANTEED present, which is exactly the φ-heavy-hitter
  * contract. At 100 TB the summary is k rows per grain no matter how many
  * distinct keys stream through; only the per-(grain,key) count shuffle
  * sees the raw data, with map-side partials.
  */
object TopFreq {

  private def countsOf(df: DataFrame, key: Column, grain: Column): DataFrame =
    df.select(grain.as("grain"), key.as("key"))
      .groupBy("grain", "key").agg(count(lit(1)).as("cnt"))

  /** Per-grain capacity-k compression of a (grain, key, cnt) table:
    * keep top-k and decrement by the (k+1)-th count, which is also the
    * grain's error ledger. Counters that decrement to 0 leave, except the
    * grain's rank-1 row: when all k tie with the (k+1)-th, that row (at
    * cnt 0, a valid MG statement) is what carries the grain's `err`. The
    * top-k window sorts only the count table (distinct keys per grain),
    * not the raw stream, and Spark plans the rank filter with partial
    * WindowGroupLimit (map-side cap). */
  private def compress(counts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("grain")).orderBy(col("cnt").desc, col("key"))
    val ranked = counts.withColumn("rn", row_number().over(w))
    val dec = ranked.groupBy("grain")
      .agg(coalesce(max(when(col("rn") === k + 1, col("cnt"))), lit(0L)).as("dec"))
    ranked.where(col("rn") <= k).join(dec, "grain")
      .select(col("grain"), col("key"),
        greatest(col("cnt") - col("dec"), lit(0L)).as("cnt"), col("dec").as("err"), col("rn"))
      .where(col("cnt") > 0 || col("rn") === 1)
      .drop("rn")
  }

  /** Per-grain capacity-k summary: (grain, key, cnt, err) with `err`
    * constant within a grain and at least one row per grain. */
  def build(df: DataFrame, key: Column, grain: Column, k: Int): DataFrame =
    compress(countsOf(df, key, grain), k)
}
