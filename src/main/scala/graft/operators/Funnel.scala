package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Ordered event-funnel analysis — the product-analytics staple over an
  * events stream: per key (user), the earliest time each funnel stage is
  * reached, where stage i only counts once stage i-1 has already been
  * reached at an earlier (or equal, by the (time, id) order) event.
  *
  * Expressed without self-joins: one running-min window per stage, chained —
  * stage i's qualifying predicate references stage i-1's running reach time.
  * Catalyst extracts the chained expressions into consecutive Window nodes
  * over the SAME (key, order) spec, so the whole funnel costs ONE shuffle +
  * ONE sort regardless of stage count; the final per-key reduction is a
  * partial-aggregated groupBy that reuses the window's hash partitioning
  * (no second exchange).
  *
  * The naive formulation — one filtered self-join per stage transition —
  * shuffles the events table `stages` times and skews on hot users; this
  * shape is the reason funnels belong in the engine rather than user SQL.
  */
object Funnel {

  /** One row per `keyCol`: `t1..tN` reach times (null = stage never
    * reached; monotonically null-extending — stage i null forces i+1 null)
    * and `funnel_stage` = deepest stage reached (0..N).
    *
    * `stages` must be distinct event types: a row never self-qualifies
    * because its own type can't equal the previous stage's. Because rows
    * are processed in (timeCol, idCol) order, the running reach of stage
    * i-1 at any row is always <= that row's time — "at/after" ordering is
    * implied by prefix non-nullness. */
  def funnel(events: DataFrame, stages: Seq[String], keyCol: String = "user_id",
      typeCol: String = "event_type", timeCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    require(stages.distinct.size == stages.size, s"stages must be distinct: $stages")
    val w = Window.partitionBy(keyCol).orderBy(col(timeCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var df = events
    var prev: Column = null
    stages.zipWithIndex.foreach { case (st, i) =>
      val qualifies =
        if (prev == null) col(typeCol) === st
        else col(typeCol) === st && prev.isNotNull
      df = df.withColumn(s"__r$i", min(when(qualifies, col(timeCol))).over(w))
      prev = col(s"__r$i")
    }
    // the running min's value at a key's LAST row is the per-key answer;
    // min over all rows equals it (running mins only ever decrease)
    val reach = stages.indices.map(i => min(col(s"__r$i")).as(s"t${i + 1}"))
    // fold ascending so the LAST-wrapped (outermost) branch tests the
    // deepest stage first: when(tN,N).otherwise(when(tN-1,N-1)...)
    val stage = stages.indices
      .foldLeft(lit(0)) { (acc, i) => when(col(s"t${i + 1}").isNotNull, i + 1).otherwise(acc) }
    df.groupBy(col(keyCol))
      .agg(reach.head, reach.tail: _*)
      .withColumn("funnel_stage", stage)
  }

  /** Per-user activity-burst detection — the abuse/anomaly sibling of the
    * funnel: bucket events into `bucketNs` windows and flag a user's
    * bucket as a burst when it holds ≥ 2× the user's OWN average per
    * active bucket AND at least `minEvents` (the absolute floor keeps
    * one-event users from "bursting" on their second event). The 2×-avg
    * compare is the cross-multiplied integer form
    * n_bucket · n_active_buckets ≥ 2 · n_total — no division, bit-exact
    * in any engine.
    *
    * Scale: one (user, bucket) count aggregate, then the per-user totals
    * ride [[SkewJoin.partitionAgg]] (aggregate + broadcast-back join, no
    * window) — both partial-aggregated; a hot user collapses map-side. */
  def eventBursts(events: DataFrame, bucketNs: Long = 86400000000000L,
      minEvents: Long = 5L): DataFrame = {
    require(bucketNs > 0 && minEvents > 0,
      s"bucketNs and minEvents must be positive, got $bucketNs, $minEvents")
    val perBucket = events
      .select(col("user_id"), expr(s"ts div $bucketNs").as("bucket"))
      .groupBy("user_id", "bucket").agg(count(lit(1)).as("n_events"))
    SkewJoin.partitionAgg(perBucket, Seq("user_id"), Seq(
        "n_active_buckets" -> count(lit(1)),
        "n_total" -> sum(col("n_events"))))
      .withColumn("is_burst",
        col("n_events") * col("n_active_buckets") >= lit(2L) * col("n_total") &&
          col("n_events") >= minEvents)
      .select("user_id", "bucket", "n_events", "n_active_buckets", "n_total",
        "is_burst")
  }

  /** Retention cohort matrix — the product-analytics staple the events
    * table exists for: users cohort by their FIRST active `bucketNs`
    * window, and cell (cohort, offset) counts the cohort's users still
    * active `offset` windows later (offset 0 = the cohort's size by
    * construction). Output: (cohort_bucket, day_offset, n_users).
    *
    * Scale: distinct (user, bucket) activity reduces map-side; the
    * per-user first bucket is one more partial aggregate; the join back
    * is user-keyed; the final cell count partial-aggregates. No windows,
    * no driver state — each stage is a plain groupBy at any corpus size. */
  def retentionCohorts(events: DataFrame,
      bucketNs: Long = 86400000000000L): DataFrame = {
    require(bucketNs > 0, s"bucketNs must be positive, got $bucketNs")
    val active = events
      .select(col("user_id"), expr(s"ts div $bucketNs").as("bucket"))
      .distinct()
    val cohorts = active.groupBy("user_id")
      .agg(min(col("bucket")).as("cohort_bucket"))
    active.join(cohorts, "user_id")
      .groupBy(col("cohort_bucket"),
        (col("bucket") - col("cohort_bucket")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}
