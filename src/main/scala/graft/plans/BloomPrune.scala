package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, BloomFilterMightContain, Literal, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions.xxhash64
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter join pruning (SURVEY §8 candidate (d)).
  *
  * Spark's adaptive InjectRuntimeFilter does this automatically only for
  * shuffle-join patterns it recognizes; this makes the same trick an
  * explicit, composable operator: build a Bloom filter over the build
  * side's join keys, then prune the probe side map-side with a
  * `might_contain` predicate BEFORE its shuffle.
  *
  * The sketch is built inside the query, in the runtime-filter shape Spark
  * itself injects: a `BloomFilterAggregate` in a scalar subquery (executors
  * hash their partitions, one final task merges the sketches). The plan
  * carries the subquery, not the sketch: a ~1 MB literal would be rendered
  * into every explain string the query posts for its SQL and AQE events.
  * The predicate Spark infers onto the build side through the join key
  * reuses the same subquery, so a query aggregates its sketch once.
  *
  * At 100 TB the probe side is the fact table: a ~2 MB sketch removes
  * ~(1-selectivity) of the probe rows before the exchange, which is
  * usually the single biggest byte-saver in a selective fact⋈dim join.
  * Bloom filters have false positives but NO false negatives, so
  * `prunedSemiJoin` composes the sketch with an exact semi-join and stays
  * EXACT — the oracle is the plain EXISTS query.
  *
  * Hashing contract: the filter stores xxhash64(key) on both sides (build
  * via [[org.apache.spark.sql.functions.xxhash64]], probe via the same
  * [[XxHash64]] expression inside might_contain), mirroring what Spark's
  * own runtime filters key on.
  */
object BloomPrune {

  /** Bloom sketch of xxhash64(key) over `build`, sized like
    * `build.stat.bloomFilter(_, expectedItems, fpp)` (~1.2 bytes/item at
    * 1% fpp), as a scalar-subquery column. */
  def sketch(build: DataFrame, key: Column, expectedItems: Long, fpp: Double): Column = {
    val hashed = GraftSqlBridge.logicalPlan(build.select(xxhash64(key)))
    val agg = new BloomFilterAggregate(hashed.output.head,
      Literal(expectedItems), Literal(BloomFilter.optimalNumOfBits(expectedItems, fpp)))
    GraftSqlBridge.column(ScalarSubquery(
      Aggregate(Nil, Seq(Alias(agg.toAggregateExpression(), "bloom_sketch")()), hashed)))
  }

  /** `might_contain(sketch, xxhash64(key))` — a codegen'd map-side
    * predicate (Catalyst [[BloomFilterMightContain]], the same expression
    * Spark's runtime filters inject). */
  def mightContain(spark: SparkSession, sketch: Column, key: Column): Column =
    GraftSqlBridge.column(
      BloomFilterMightContain(
        GraftSqlBridge.expression(spark, sketch),
        new XxHash64(Seq(GraftSqlBridge.expression(spark, key))))) // seed 42 = functions.xxhash64's

  /** Exact semi-join with Bloom pre-pruning: probe rows are filtered by
    * the sketch map-side (no false negatives → no lost rows), then the
    * surviving ~selectivity+fpp fraction goes through the exact semi-join
    * that removes false positives. Result is identical to the plain
    * semi-join; only the exchanged bytes differ. */
  def prunedSemiJoin(spark: SparkSession, probe: DataFrame, probeKey: Column,
                     build: DataFrame, buildKey: Column,
                     expectedItems: Long, fpp: Double = 0.01): DataFrame =
    probe
      .where(mightContain(spark, sketch(build, buildKey, expectedItems, fpp), probeKey))
      .join(build, probeKey === buildKey, "left_semi")
}
