package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{AggregateSpec, OrderSpec, Validator, WindowEngine, WindowFn, WindowQuerySpec}

/** Running ACCUMULATE over a hot key: the escape the engine scaladoc names
  * for ordered aggregates. A running aggregate is sequential per partition,
  * so a hot key serializes into one sorted task; splitting the partition into
  * order-aligned chunks restores parallelism, but costs two more shuffles and
  * a join, which pay only on a big input. [[saltedAccumulate]] picks between
  * the engine's one window and the two-phase plan by the input's size
  * estimate ([[SaltBytes]]). Rank-family functions need the whole partition
  * and cannot be salted.
  */
object SkewSafe {

  /** Catalyst's size estimate of the input ([[WindowEngine.sizeEstimate]],
    * the reading behind the engine's `OneTaskBytes`) at or below which
    * [[saltedAccumulate]] runs the engine's own running ACCUMULATE: one
    * window, one `Exchange hashpartitioning(keys)`. Above it, the two-phase
    * plan ([[twoPhaseAccumulate]]: three exchanges and a join).
    *
    * Measured, not an option: median of interleaved runs of each plan plus a
    * `collect` of winbench's fingerprint of the result, on winbench's
    * `hot_partitions` rows (4 `l_returnflag` keys, one with half the rows;
    * running ACCUMULATE of `l_quantity` ordered by ship date, chunked by ship
    * month) as one parquet file, local[4] on 4 vCPU with 4 shuffle
    * partitions; both plans gave the same fingerprint at every size:
    * {{{
    *   rows  estimate  two-phase  one window  runs one window won
    *   100k   1.38 MB    594 ms     441 ms      15 of 15
    *   150k   2.04 MB    614        510         11 of 11
    *   200k   2.69 MB    589        552          8 of 11
    *   250k   3.33 MB    658        655          8 of 11
    *   300k   3.99 MB    737        713          7 of 11
    *   325k   4.33 MB    870        934          5 of 11
    *   350k   4.66 MB    858        919          1 of 11
    *   400k   5.32 MB    811        975          4 of 11
    *   600k   7.86 MB   1299       1369          2 of 9
    *   800k   10.3 MB   1383       1675          1 of 9
    *   1M     12.8 MB   1620       2156          0 of 9
    *   4M     50.5 MB   4942       6048          0 of 7
    * }}}
    * Below about 4 MB the per-stage cost of the two extra shuffles and the
    * join outweighs the hot key's parallelism; above it the hot key's one
    * sorted task is the job. 4 MiB (4.19 MB) sits between the last size
    * where one window won (3.99 MB) and the first where salting did
    * (4.33 MB). winbench's `hot_partitions` (1.38 MB) and the corpus'
    * q48_salted_accumulate at sf0.01 (0.43 MB) fall below it, q48 at sf0.1
    * (4.48 MB) above; no winbench workload sits above it, so the two-phase
    * side's speed rests on this table.
    */
  private[graft] val SaltBytes = BigInt(4L * 1024 * 1024)

  /** Running sum (ACCUMULATE) of `valueCol` per `keys`, ordered ascending by
    * `orderCols`, appended as `alias` (or replacing the column of that name),
    * cast to the value column's type: the engine's ACCUMULATE. At or below
    * [[SaltBytes]] it is `WindowEngine.run` of that spec; above, the
    * two-phase plan over `chunkCol`, which only that side reads. Both sides
    * reject what `WindowEngine.run` rejects. */
  def saltedAccumulate(
      df: DataFrame, keys: Seq[String], orderCols: Seq[String],
      chunkCol: String, valueCol: String, alias: String): DataFrame = {
    val spec = WindowQuerySpec(keys, orderCols.map(OrderSpec(_)),
      aggregates = Seq(AggregateSpec(alias, WindowFn.Accumulate, valueCol)))
    if (WindowEngine.sizeEstimate(df) <= SaltBytes) WindowEngine.run(df, spec)
    else {
      Validator.requireValid(spec, df.schema)
      twoPhaseAccumulate(df, keys, orderCols, chunkCol, valueCol, alias)
    }
  }

  /** Two-phase running sum over order-aligned CHUNKS:
    *
    *  1. local running sum within (keys, chunk) — the shuffle+sort is keyed
    *     by (keys, chunk), so the hot key spreads over its chunks;
    *  2. per-chunk totals (map-side combined, tiny);
    *  3. per-chunk OFFSET = running total of strictly-prior chunks (a window
    *     over one row per chunk — negligible);
    *  4. equi-join the offset back on (keys, chunk) and add.
    *
    * Contract: `chunkCol` must be a NON-DECREASING function of the order
    * key(s) within each partition (e.g. a coarse time bucket when ordering
    * by time) — equal order keys must share a chunk, or cross-chunk peers
    * would break the default RANGE frame's tie semantics. Result is cast to
    * the value column's type, matching ACCUMULATE's declared output.
    * Tested equal to the unsalted engine ACCUMULATE. */
  private[graft] def twoPhaseAccumulate(
      df: DataFrame, keys: Seq[String], orderCols: Seq[String],
      chunkCol: String, valueCol: String, alias: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val valueType = df.schema(valueCol).dataType
    val localW = Window.partitionBy((keys :+ chunkCol).map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val withLocal = df.withColumn(alias, sum(col(valueCol)).over(localW))
    val totals = df.groupBy((keys :+ chunkCol).map(col): _*)
      .agg(sum(col(valueCol)).as("__chunk_total"))
    val chunkW = Window.partitionBy(keys.map(col): _*).orderBy(col(chunkCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__offset", sum(col("__chunk_total")).over(chunkW))
      .select((keys :+ chunkCol).map(k => col(k).as(s"__$k")) :+ col("__offset"): _*)
    val cond = (keys :+ chunkCol).map(k => withLocal(k) <=> col(s"__$k")).reduce(_ && _)
    // NULL semantics must match windowed SUM: the running value is NULL only
    // while the WHOLE prefix (local chunk AND all prior chunks) is null-free
    // of values — a null local sum with a non-null offset means the current
    // chunk's prefix is all-NULL but prior chunks contributed, so the total
    // is the offset, not NULL.
    withLocal.join(offsets, cond)
      .withColumn(alias,
        when(col(alias).isNull && col("__offset").isNull, lit(null))
          .otherwise(coalesce(col(alias), lit(0)) + coalesce(col("__offset"), lit(0)))
          .cast(valueType))
      .drop((keys :+ chunkCol).map(k => s"__$k") :+ "__offset": _*)
  }
}
