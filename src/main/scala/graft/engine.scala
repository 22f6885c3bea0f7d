package graft

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ExactPercentileAgg

/** The window-aggregation engine: WindowQuerySpec → DataFrame transform.
  *
  * Spark-first re-expression of the reference's execution path
  * (WindowsAggregationUtil.java:49-91): one WindowSpec shared by every
  * aggregate, one `withColumn(alias, fn.over(spec))` per aggregate — Catalyst
  * collapses the chain into a single physical Window node (one
  * `Exchange hashpartitioning(partitionFields)` + one intra-partition sort),
  * so N aggregates over the same clause cost one shuffle, not N.
  *
  * Scale notes (100 TB design):
  *  - The only shuffle is the hash partition on `partitionFields`; AQE
  *    (`spark.sql.adaptive.enabled`, default on in Spark 4) re-splits skewed
  *    partitions at runtime. For pathologically hot keys: order-free
  *    whole-partition aggregates → [[graft.operators.SkewSafe.partitionAgg]]
  *    (groupBy + join-back, no window sort); running ACCUMULATE →
  *    [[graft.operators.SkewSafe.saltedAccumulate]] (two-phase over
  *    order-aligned chunks). Rank-family functions are salt-incompatible —
  *    they need the whole partition.
  *  - Spark's WindowExec sorts within partitions via UnsafeExternalSorter and
  *    spills; frames are evaluated incrementally (no per-row re-scan).
  *  - MEDIAN, CONTINUOUS_PERCENTILE and DISCRETE_PERCENTILE are one
  *    TypedImperativeAggregate over the shared spec
  *    ([[graft.functions.ExactPercentileAgg]]): Spark `percentile`'s exact
  *    interpolation (continuous) or the reference UDAF's semantics (discrete),
  *    null inputs skipped. Its buffer is a sorted value → count table held in
  *    memory at O(distinct values) per partition (none of it spills); rows
  *    are appended unsorted and sorted in with one primitive `Arrays.sort`
  *    plus a linear merge before each eval. Unordered (whole-partition) use
  *    therefore costs O(n log n) per partition. Under a running frame each
  *    peer group costs O(distinct) to merge and read, so a high-cardinality
  *    value column over a huge ordered partition is quadratic in its distinct
  *    values.
  */
object WindowEngine {

  /** Validate then apply `spec` to `df`. Throws GraftValidationException with
    * ALL accumulated failures (reference: WindowAggregation.java:130-131). */
  def run(df: DataFrame, spec: WindowQuerySpec): DataFrame = {
    val failures = Validator.validate(spec, df.schema)
    if (failures.nonEmpty) throw new GraftValidationException(failures)
    applyUnchecked(df, spec)
  }

  /** Parse config-style strings, validate, and run — the full reference
    * lifecycle (configure → validate → transform) in one call. */
  def runDsl(
      df: DataFrame,
      partitionFields: String,
      partitionOrder: String = "",
      aggregates: String = "",
      windowFrameType: String = "NONE",
      preceding: Option[Long] = None,
      following: Option[Long] = None,
      unboundedPreceding: Boolean = false,
      unboundedFollowing: Boolean = false,
      numberOfPartitions: Option[Int] = None): DataFrame =
    DslParser.parseSpec(partitionFields, partitionOrder, aggregates, windowFrameType,
        preceding, following, unboundedPreceding, unboundedFollowing, numberOfPartitions) match {
      case Left(failures) => throw new GraftValidationException(failures)
      case Right(spec)    => run(df, spec)
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
  def outputSchema(input: StructType, spec: WindowQuerySpec): StructType = {
    val inputNames = input.fieldNames.toSet
    val appended = spec.aggregates.filterNot(a => inputNames.contains(a.alias)).map { agg =>
      StructField(agg.alias, aggregateOutputType(agg, input), nullable = true)
    }
    val replaced = input.fields.map { f =>
      spec.aggregates.find(_.alias == f.name) match {
        case Some(agg) => StructField(f.name, aggregateOutputType(agg, input), nullable = true)
        case None      => f
      }
    }
    StructType(replaced ++ appended)
  }

  /** The reference's declared output type (WindowFn.declaredOutput), else the
    * input field's — the one source of the engine's result types. */
  private def aggregateOutputType(agg: AggregateSpec, input: StructType): DataType =
    agg.fn.declaredOutput.getOrElse(
      input.fields.find(_.name == agg.field).map(_.dataType).getOrElse(NullType))

  private def applyUnchecked(df: DataFrame, spec: WindowQuerySpec): DataFrame = {
    val shared = buildWindowSpec(spec)
    var out = df
    for (agg <- spec.aggregates) {
      // Only PERCENT_RANK (declared FLOAT, WindowAggregationConfig.java:333;
      // Spark computes DOUBLE) and ACCUMULATE (declared = input type, :398;
      // Spark's sum widens int→long) differ from aggregateOutputType; every
      // other function already returns it (EngineSpec checks all 14). A
      // no-op cast is not free: Catalyst drops it, but the renaming Project
      // it split off above the Window stays. Cast AFTER .over(): wrapping
      // the aggregate in a Cast before .over() would hide it from Spark's
      // window-expression extraction.
      val overCol = column(agg).over(shared)
      out = out.withColumn(agg.alias,
        if (agg.fn == WindowFn.PercentRank || agg.fn == WindowFn.Accumulate)
          overCol.cast(aggregateOutputType(agg, df.schema))
        else overCol)
    }
    spec.numberOfPartitions match {
      case Some(n) => out.repartition(n) // reference knob: WindowsAggregationUtil.java:84-90
      case None    => out
    }
  }

  /** partition + order + frame → WindowSpec. Unbounded sentinels
    * (Long.MinValue/MaxValue) pass through verbatim — they ARE Spark's
    * Window.unboundedPreceding/unboundedFollowing. */
  private[graft] def buildWindowSpec(spec: WindowQuerySpec): WindowSpec = {
    val partitioned = Window.partitionBy(spec.partitionFields.map(col): _*)
    val ordered =
      if (spec.order.isEmpty) partitioned
      else partitioned.orderBy(spec.order.map(orderColumn): _*)
    spec.frame.frameType match {
      case FrameType.NoFrame => ordered
      case FrameType.Row     => ordered.rowsBetween(spec.frame.startBound, spec.frame.endBound)
      case FrameType.Range   => ordered.rangeBetween(spec.frame.startBound, spec.frame.endBound)
    }
  }

  private def orderColumn(o: OrderSpec): Column = o.direction match {
    case SortDirection.Ascending  => col(o.field).asc
    case SortDirection.Descending => col(o.field).desc
  }

  /** Function → Column (reference dispatch: WindowsAggregationUtil.java:126-179). */
  private def column(agg: AggregateSpec): Column = agg.fn match {
    case WindowFn.Rank        => rank()
    case WindowFn.DenseRank   => dense_rank()
    case WindowFn.PercentRank => percent_rank()
    case WindowFn.NTile       => ntile(agg.args.head.toInt)
    case WindowFn.RowNumber   => row_number()
    // Exact percentile (Hive-style interpolation), NOT approx_percentile —
    // reference uses callUDF("percentile", ...) (WindowsAggregationUtil.java:140-147);
    // the kernel reproduces Spark's `percentile` arithmetic bit for bit.
    case WindowFn.Median                => exactPercentile(agg, 0.5, discrete = false)
    case WindowFn.ContinuousPercentile  => exactPercentile(agg, agg.args.head.toDouble, discrete = false)
    case WindowFn.Lead        => lead(agg.field, agg.args.head.toInt)
    case WindowFn.Lag         => lag(agg.field, agg.args.head.toInt)
    case WindowFn.First       => first(agg.field, firstLastIgnoreNulls(agg))
    case WindowFn.Last        => last(agg.field, firstLastIgnoreNulls(agg))
    case WindowFn.CumulativeDistribution => cume_dist()
    case WindowFn.Accumulate  => sum(agg.field)
    // The reference UDAF's semantics (DiscretePercentile.java) — over the
    // SAME shared spec, so with an order clause it evaluates per row on the
    // default running RANGE frame, exactly like the reference's .over(spec)
    // application (WindowsAggregationUtil.java:119-124).
    case WindowFn.DiscretePercentile    => exactPercentile(agg, agg.args.head.toDouble, discrete = true)
  }

  private def exactPercentile(agg: AggregateSpec, p: Double, discrete: Boolean): Column =
    GraftColumnBridge.column(
      ExactPercentileAgg(GraftColumnBridge.expression(col(agg.field)), p, discrete)
        .toAggregateExpression())

  /** FIRST/LAST ignoreNulls: config flag OR'd with an optional boolean arg
    * (reference: WindowsAggregationUtil.java:158-171, and the pushdown's
    * WindowAggregation.java:640-645). Parsed like Java's
    * Boolean.parseBoolean — true iff the literal "true", never throws (the
    * e2e fixture passes "1" here). Shared with [[SqlEmitter]]. */
  private[graft] def firstLastIgnoreNulls(agg: AggregateSpec): Boolean =
    agg.ignoreNulls || agg.args.headOption.exists(_.equalsIgnoreCase("true"))

}
