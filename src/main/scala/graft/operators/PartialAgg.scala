package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental aggregation via stored partial states — the pattern behind
  * every "daily rollup feeding monthly dashboards" pipeline at scale: keep
  * a small mergeable state per fine bucket (day, shard, ingest batch) and
  * answer coarse queries by RE-AGGREGATING STATES, never rescanning raw
  * data. A day's 100 TB is read once, forever after the month costs 31
  * rows. This is exactly the partial→final split Spark's own hash
  * aggregate performs inside one query, lifted to a persistable,
  * cross-run artifact (store the partials with
  * [[graft.operators.Upsert]] or any sink).
  *
  * The state is (n, sum, min, max, sum-of-squares) with sums routed
  * through DECIMAL — exact integer-like addition, so merging states in ANY
  * order or grouping produces bit-identical results and
  * merge(partials) ≡ recompute(raw) is an equality, not an approximation
  * (an IEEE-double state would drift by merge order). Mean and variance
  * are derived from the merged sums in the finalizer only.
  */
object PartialAgg {

  /** Per-bucket mergeable state of `value`. `buckets` should be the
    * FINEST grain later queries need (states merge upward, never split). */
  def partials(df: DataFrame, buckets: Seq[Column], value: Column): DataFrame = {
    require(buckets.nonEmpty, "partials: need at least one bucket column")
    df.where(value.isNotNull)
      .groupBy(buckets: _*)
      .agg(count(lit(1)).as("n"),
        sum(value.cast("decimal(28,10)")).as("v_sum"),
        min(value.cast("double")).as("v_min"),
        max(value.cast("double")).as("v_max"),
        sum((value.cast("decimal(28,10)") * value.cast("decimal(28,10)"))
          .cast("decimal(38,10)")).as("v_sumsq"))
  }

  /** Merge partial states up to the `coarse` grouping (a subset, or any
    * derivation, of the partials' bucket columns) and finalize mean.
    * Associative+commutative by construction: states from separate runs,
    * days, or engines union in and merge identically. */
  def merge(partials: DataFrame, coarse: Seq[Column]): DataFrame = {
    require(coarse.nonEmpty, "merge: need at least one grouping column")
    partials.groupBy(coarse: _*)
      .agg(sum(col("n")).as("n"),
        sum(col("v_sum")).as("v_sum"),
        min(col("v_min")).as("v_min"),
        max(col("v_max")).as("v_max"),
        sum(col("v_sumsq")).as("v_sumsq"))
      .withColumn("v_mean",
        // double ÷ double on the EXACT decimal sum: engines disagree on
        // decimal-division result scales, doubles they agree on
        col("v_sum").cast("double") / col("n").cast("double"))
  }
}
