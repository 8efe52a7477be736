package graft.operators

import org.apache.spark.sql.SparkSession

/** Per-loop adaptive-execution gate for iterative fixed-point operators.
  *
  * AQE's per-stage materialization + re-planning is the right trade for
  * one big shuffle, but a power-iteration loop launches a CHAIN of
  * micro-jobs (join → tiny aggregate → renorm, eight times for HITS) whose
  * stages finish in tens of milliseconds at bench scale — there the
  * re-planning latency is the dominant term, not a rounding error
  * (graph_hits measured 6.3 s AQE-on vs 4.8 s AQE-off at sf0.1, identical
  * rows). The gate is SIZE-based, not a blanket local tune: below 1 GiB
  * of loop working set the per-iteration stages are sub-second on any
  * deployment-shaped executor count and AQE is pure latency; above it the
  * loop's joins/aggregations are big enough that AQE's skew handling and
  * partition coalescing pay for themselves, so it stays ON (a 100 TB
  * edge frame never trips the gate).
  *
  * Measured counter-examples that keep this NARROW (probe, sf0.1 min-of-2):
  * graph_components 1.9 s on → 8.8 s off, graph_label_prop 1.0 → 5.6,
  * graph_pagerank_served 1.2 → 3.3 — their per-iteration frames NEED the
  * runtime coalescing. Apply only where measured faster.
  */
object LoopConf {

  private val GateBytes: Long = 1L << 30

  /** Run `body` (a loop whose actions all fire inside it) with AQE off
    * when `workingSetBytes` is below the gate; restore the previous value
    * whatever happens. Conf is session-scoped — callers run queries
    * sequentially (the bench/verify harness contract). */
  def noAqeBelow[T](spark: SparkSession, workingSetBytes: Long)(body: => T): T =
    if (workingSetBytes >= GateBytes) body
    else {
      val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
}
