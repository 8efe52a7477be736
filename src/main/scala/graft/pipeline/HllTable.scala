package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketch (HyperLogLog, Flajolet et al. 2007),
  * represented the Spark-first way like [[QuantHist]]/[[TopFreq]]: a
  * TABLE of (grain, reg, max_rho) — 256 registers per grain — rather than
  * an opaque binary blob. Spark's own `approx_count_distinct` carries its
  * sketch inside an aggregation buffer; this layer exists for what that
  * can't do: land the registers as a dataset, merge them across
  * partitions/days/engines with plain `groupBy.max`, audit them row by
  * row, and verify ALL of it against DuckDB — because every step is
  * deterministic hex/integer arithmetic (md5 → register = first 2
  * nibbles, rho = 53 − bitlength of the next 13 nibbles), the full
  * register table AND the estimate are oracle-checkable, which no
  * RNG-seeded sketch is.
  *
  * Estimate determinism: the harmonic term Σ 2^−Mⱼ is computed as the
  * INTEGER Σ 2^(53−Mⱼ) (each term exact, total < 2^62) — float
  * accumulation order never enters; the one double division happens once
  * at the end. Small cardinalities (raw estimate ≤ 2.5·m with zero
  * registers remaining) switch to linear counting, m·ln(m/V) — the one
  * transcendental in the engine, admitted deliberately: its argument
  * takes only 256 possible values (V ∈ 1..256), and after ROUND(·, 4)
  * any two faithful ln implementations agree, so the oracle still
  * verifies bit-equal. Standard error ≈ 1.04/√256 = 6.5% in the HLL
  * regime, tighter under linear counting.
  *
  * Registers combine by per-register MAX, so tables built over disjoint
  * inputs combine into exactly the table built over their union — the
  * same algebra as [[QuantHist]]'s counter addition.
  */
object HllTable {

  val M = 256 // registers per grain (2 hex nibbles)

  /** (register, rho) from any key column: md5-hex keyed, integer-exact. */
  private def regCol(key: Column): Column =
    graft.plans.VectorExpressions.hexPrefix(md5(key.cast("string")), 2)

  private def rhoCol(key: Column): Column = {
    val v = graft.plans.VectorExpressions.hexPrefix(
      substring(md5(key.cast("string")), 3, 13), 13)
    when(v === 0, lit(53)).otherwise(lit(53) - length(bin(v)))
  }

  /** The same arithmetic as DuckDB SQL over a key expression. */
  def regSql(key: String): String =
    hexVal(s"substring(md5(CAST($key AS VARCHAR)), 1, 2)", 2)
  def rhoSql(key: String): String = {
    val v = hexVal(s"substring(md5(CAST($key AS VARCHAR)), 3, 13)", 13)
    s"CASE WHEN $v = 0 THEN 53 ELSE 53 - LENGTH(bin($v)) END"
  }
  private def hexVal(h: String, n: Int): String =
    (0 until n).map { p =>
      s"(strpos('0123456789abcdef', substring($h, ${p + 1}, 1)) - 1) * CAST(${1L << (4 * (n - 1 - p))} AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Build: (grain, reg, max_rho), ≤ [[M]] rows per grain. One keyed
    * shuffle with map-side partial max. */
  def build(df: DataFrame, key: Column, grain: Column): DataFrame =
    df.select(grain.as("grain"), regCol(key).as("reg"), rhoCol(key).as("rho"))
      .groupBy("grain", "reg").agg(max(col("rho")).as("max_rho"))

  /** The estimate's numerator α·m²·2⁵³ as ONE driver-side double literal,
    * shared verbatim by the Spark plan and the oracle SQL — a single
    * constant has no runtime association order to disagree on. */
  val EstNumerator: Double =
    0.7213 / (1.0 + 1.079 / M) * M.toDouble * M.toDouble * (1L << 53).toDouble

  /** Raw HLL estimate per grain from the register table:
    * (grain, n_regs_hit, zero_regs, harmonic_num, est). `harmonic_num`
    * is the exact integer Σ 2^(53−Mⱼ) over HIT registers; missing
    * registers contribute 2^53 each, added as (M − hit)·2^53. */
  def estimate(summary: DataFrame): DataFrame =
    summary
      .groupBy("grain")
      .agg(count(lit(1)).as("n_regs_hit"),
        sum(expr("shiftleft(1L, cast(53 - max_rho as int))")).as("hit_num"))
      .select(col("grain"), col("n_regs_hit"),
        (lit(M) - col("n_regs_hit")).cast("long").as("zero_regs"),
        (col("hit_num") + (lit(M.toLong) - col("n_regs_hit")) * lit(1L << 53))
          .as("harmonic_num"))
      .withColumn("raw_est", lit(EstNumerator) / col("harmonic_num").cast("double"))
      .withColumn("est",
        round(when(col("zero_regs") > 0 && col("raw_est") <= lit(2.5 * M),
            lit(M.toDouble) * log(lit(M.toDouble) / col("zero_regs").cast("double")))
          .otherwise(col("raw_est")), 4))
      .drop("raw_est")
}
