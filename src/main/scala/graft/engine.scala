package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The window-aggregation engine: WindowQuerySpec → DataFrame transform.
  *
  * Spark-first re-expression of the reference's execution path
  * (WindowsAggregationUtil.java:49-91). The engine runs the Spark dialect's
  * select items ([[SqlEmitter]]'s `items`, the one map from the 14 functions
  * to Spark) as one `selectExpr`, instead of one `withColumn` per aggregate:
  * every aggregate has the same OVER clause, Spark analyses the plan once,
  * and the aggregates share one Window node (one
  * `Exchange hashpartitioning(partitionFields)` + one sort), so N aggregates
  * over the same clause cost one shuffle, not N. The items call the
  * percentile kernel by its SQL names, which [[run]] installs on the input's
  * session ([[WindowExtensions.install]]), so `run` works on any session. An
  * input Catalyst estimates at or below [[OneTaskBytes]] is read as one
  * partition instead, and then there is no shuffle at all (see there).
  *
  * Scale notes (100 TB design):
  *  - One shuffle per window clause: the hash partition on `partitionFields`.
  *    AQE coalesces small shuffle partitions but does not split a skewed
  *    window sort (it splits skewed joins only): one key's rows are one task.
  *    For pathologically hot keys, running ACCUMULATE →
  *    [[graft.operators.SkewSafe.saltedAccumulate]]: this engine's one
  *    window up to an input estimate of 4 MiB (`SaltBytes`, measured; the
  *    table is there), a two-phase plan over order-aligned chunks above it.
  *    winbench's `hot_partitions` and the corpus' q48_salted_accumulate at
  *    sf0.01 both fall below it, and no winbench workload sits above it, so
  *    the two-phase side's speed rests on that table. Order-free
  *    whole-partition aggregates can skip the window sort as a groupBy and
  *    join-back (`graft.operators.SkewJoin.partitionAgg`, outside the core).
  *    Rank-family functions are salt-incompatible — they need the whole
  *    partition.
  *  - Spark's WindowExec sorts within partitions via UnsafeExternalSorter and
  *    spills. Running and whole-partition frames are evaluated incrementally,
  *    but a bounded ROW or RANGE frame re-aggregates its buffer every time it
  *    moves: O(width) per row (ACCUMULATE over 100k rows: 0.53 s at ±3 rows,
  *    4.1 s at ±1000).
  *  - MEDIAN, CONTINUOUS_PERCENTILE and DISCRETE_PERCENTILE are one
  *    TypedImperativeAggregate over the shared OVER clause
  *    ([[graft.functions.ExactPercentileAgg]]): Spark `percentile`'s exact
  *    interpolation (continuous) or the reference UDAF's semantics (discrete),
  *    null inputs skipped. Its buffer is a sorted value → count table held in
  *    memory at O(distinct values) per partition (none of it spills); rows
  *    are appended unsorted and sorted in with one primitive `Arrays.sort`
  *    plus an in-place merge before each eval, which then turns p into ranks
  *    and reads them in one walk of the counts (discrete mode: O(log n)
  *    divisions plus the walk). Unordered (whole-partition) use therefore
  *    costs O(n log n) per partition. Under a running frame each peer group
  *    costs O(distinct) to merge and read, so a high-cardinality value column
  *    over a huge ordered partition is quadratic in its distinct values.
  */
object WindowEngine {

  /** Validate then apply `spec` to `df`. Throws GraftValidationException with
    * ALL accumulated failures ([[Validator.requireValid]]). */
  def run(df: DataFrame, spec: WindowQuerySpec): DataFrame = {
    Validator.requireValid(spec, df.schema)
    WindowExtensions.install(df.sparkSession)
    val input = if (sizeEstimate(df) <= OneTaskBytes) df.coalesce(1) else df
    val out = input.selectExpr(SqlEmitter.items(spec, df.schema): _*)
    spec.numberOfPartitions match {
      case Some(n) => out.repartition(n) // reference knob: WindowsAggregationUtil.java:84-90
      case None    => out
    }
  }

  /** Field-level lineage for a spec: one record per aggregate describing the
    * generated output field, its source field, and the operation — the
    * engine-side equivalent of the reference's prepareRun lineage recording
    * (WindowAggregation.java:374-460). Pipeline frameworks consume this to
    * publish provenance; it is derived purely from the spec, no execution. */
  case class FieldLineage(outputField: String, inputField: String, description: String)

  def lineage(spec: WindowQuerySpec): Seq[FieldLineage] =
    spec.aggregates.map { agg =>
      val clause =
        s"partitioned by ${spec.partitionFields.mkString(", ")}" +
          (if (spec.order.nonEmpty)
            s", ordered by ${spec.order.map(o => s"${o.field} ${o.direction}").mkString(", ")}"
          else "")
      FieldLineage(agg.alias, agg.field,
        s"Generated field '${agg.alias}' from field '${agg.field}' via ${agg.fn.fnName}" +
          (if (agg.args.nonEmpty) s"(${agg.args.mkString(", ")})" else "") + s", $clause")
    }

  /** Output schema = input fields ++ one appended field per aggregate alias
    * (reference: WindowAggregation.java:361-371); an alias matching an input
    * field replaces it in place (the e2e pipeline relies on this,
    * WindowAggregation.feature:32-36). */
  def outputSchema(input: StructType, spec: WindowQuerySpec): StructType =
    StructType(layout(input, spec).map(_._1))

  /** The output fields, each with the aggregate that fills it (None: an input
    * column kept as it is) — the one walk both backends select from. */
  private[graft] def layout(input: StructType, spec: WindowQuerySpec): Seq[(StructField, Option[AggregateSpec])] = {
    def filled(agg: AggregateSpec) =
      StructField(agg.alias, aggregateOutputType(agg, input), nullable = true) -> Some(agg)
    val replaced = input.fields.toSeq.map { f =>
      spec.aggregates.find(_.alias == f.name).fold(f -> Option.empty[AggregateSpec])(filled)
    }
    replaced ++ spec.aggregates.filterNot(a => input.fieldNames.contains(a.alias)).map(filled)
  }

  /** The reference's declared output type (WindowFn.declaredOutput), else the
    * input field's — the one source of the engine's result types. */
  private def aggregateOutputType(agg: AggregateSpec, input: StructType): DataType =
    agg.fn.declaredOutput.getOrElse(
      input.fields.find(_.name == agg.field).map(_.dataType).getOrElse(NullType))

  /** Catalyst's size estimate of the input (`analyzed.stats.sizeInBytes`) at
    * or below which the engine applies `coalesce(1)` before its `selectExpr`.
    * `Coalesce 1` reports `SinglePartition`, which satisfies the Window's
    * clustered distribution, so Spark plans no Exchange: one stage and one
    * task instead of a map stage, a shuffle write and a shuffle read that AQE
    * folds back into one task anyway. Results do not change: the Window still
    * sorts its partition, and every row is in it. An input with no size
    * estimate (Spark's default is huge) keeps the shuffle. The analyzed
    * plan's estimate equals the optimized plan's for a scan or a projection
    * of one, and costs nothing: optimizing a fresh parquet read only to size
    * it took 2.7 ms, the analyzed estimate 0.3 ms. Like
    * `autoBroadcastJoinThreshold`, this trusts the estimate: without CBO an
    * operator that multiplies rows (`explode`) is estimated at its child's
    * size.
    *
    * Measured, not an option: median of 11 interleaved runs of [[run]] plus
    * `collect`, on winbench's lineitem rows as one parquet file, local[4] on
    * 4 vCPU with 4 shuffle partitions, shuffled → one task. "3 functions" is
    * RANK, ACCUMULATE and LAG by supplier (40 keys); "6 holistic" is MEDIAN
    * and five DISCRETE_PERCENTILEs of a 50-value column by flag (3 keys):
    * {{{
    *   rows  estimate  3 functions, 40 keys  6 holistic, 3 keys
    *   12k   0.16 MB   209 → 159 ms          189 → 156 ms
    *   25k   0.31 MB   206 → 187 ms          197 → 204 ms
    *   50k   0.61 MB   250 → 272 ms          252 → 336 ms
    *   100k  1.20 MB   383 → 483 ms          436 → 614 ms
    * }}}
    * One task wins clearly below about 0.3 MB and loses from about 0.6 MB,
    * where the sort and the holistic kernels want the cores. 256 KiB sits
    * below the crossover; AQE's 1 MB `coalescePartitions.minPartitionSize`
    * is past it. */
  private val OneTaskBytes = BigInt(256 * 1024)

  /** Catalyst's size estimate of `df`: the one reading behind [[OneTaskBytes]]
    * and SkewSafe's `SaltBytes` (see [[OneTaskBytes]] for why the analyzed
    * plan's). */
  private[graft] def sizeEstimate(df: DataFrame): BigInt = df.queryExecution.analyzed.stats.sizeInBytes
}
