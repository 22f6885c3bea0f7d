package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join-based ways around a hot key, for pipeline operators.
  *
  * `sum(x) OVER (PARTITION BY k)` plans as WindowExec: every row of a
  * partition lands in ONE task and gets sorted there. A hot key (think 40%
  * of 100 TB sharing one `k`) makes that task the job — and AQE cannot split
  * a window sort. For frame-less, order-free aggregates the same result is
  * a groupBy + join-back ([[partitionAgg]]):
  *
  *  - the groupBy side condenses map-side (partial aggregation), so the hot
  *    key arrives at its reducer as one row per upstream task, not raw rows;
  *  - the join back is a plain equi-join, which AQE's skew-join handling CAN
  *    split into multiple tasks;
  *  - no sort anywhere.
  *
  * Only valid for aggregates that ignore order and frame (the engine's
  * ACCUMULATE with no order clause, counts, min/max, avg). A running
  * ACCUMULATE over a hot key is [[SkewSafe.saltedAccumulate]].
  */
object SkewJoin {

  /** Attach whole-partition aggregate values to every row, window-free.
    * `aggs` are (alias, aggregate-expression) pairs evaluated per key group,
    * e.g. `Seq("total_qty" -> sum(col("l_quantity")))`.
    * Joins back with null-safe equality, so NULL-keyed rows form their own
    * group and survive — matching `agg OVER (PARTITION BY k)` semantics. */
  def partitionAgg(df: DataFrame, keys: Seq[String], aggs: Seq[(String, Column)]): DataFrame = {
    require(aggs.nonEmpty, "at least one aggregate required")
    val totals = df.groupBy(keys.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (n, c) => c.as(n) }: _*)
      // rename keys so the join condition can reference both sides
      .select(keys.map(k => col(k).as(s"__$k")) ++ aggs.map(a => col(a._1)): _*)
    val cond = keys.map(k => df(k) <=> col(s"__$k")).reduce(_ && _)
    df.join(totals, cond).drop(keys.map(k => s"__$k"): _*)
  }

  /** Salted equi-join for a skewed FACT key against a dim table too large
    * to broadcast: the fact side salts each row into one of `saltBuckets`
    * sub-keys (deterministic hash of `saltSource`, so reruns place rows
    * identically), the dim side replicates each row across ALL buckets,
    * and the join runs on (key, salt) — a hot fact key spreads over
    * `saltBuckets` reducers instead of serializing into one.
    *
    * Semantically identical to `fact.join(dim, key)` (inner); the salt
    * never survives into the output. Cost: dim shuffles ×`saltBuckets` —
    * worth it exactly when the hot key's single-task time exceeds the
    * replicated dim shuffle. AQE's skew-join split handles MODERATE skew
    * without any of this; explicit salting is for the pathological key
    * (think 40% of 100 TB on one key) where even a split task inherits the
    * whole build side, and for engines/joins AQE won't split (e.g. the
    * build side of a shuffled hash join, or pre-AQE checkpoints).
    *
    * `dim` must carry the join key under the SAME name as `fact`. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int = 8, saltSource: String = null): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val src = if (saltSource == null) key else saltSource
    val fs = fact.withColumn("__salt",
      pmod(xxhash64(col(src)), lit(saltBuckets)).cast("int"))
    val ds = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    fs.join(ds, Seq(key, "__salt")).drop("__salt")
  }
}
