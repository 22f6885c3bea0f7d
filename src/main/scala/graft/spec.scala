package graft

import scala.util.Try

import org.apache.spark.sql.types._

/** Clause constraint for a window function clause (partition / order / frame).
  * Mirrors the reference rulebook's REQUIRED | OPTIONAL | NOT_SUPPORTED
  * (reference: WindowAggregationConfig.java:312-316).
  */
sealed trait Constraint
object Constraint {
  case object Required     extends Constraint
  case object Optional     extends Constraint
  case object NotSupported extends Constraint
}

/** Sort direction for an order clause entry
  * (reference: WindowAggregationConfig.java:53-56 — `field:Ascending|Descending`). */
sealed trait SortDirection
object SortDirection {
  case object Ascending  extends SortDirection
  case object Descending extends SortDirection

  def parse(s: String): Either[String, SortDirection] = s.trim.toLowerCase match {
    case "ascending" | "asc"   => Right(Ascending)
    case "descending" | "desc" => Right(Descending)
    case other                 => Left(s"Invalid sort direction '$other'. Must be Ascending or Descending.")
  }
}

/** Window frame type (reference: WindowAggregationConfig.java:142-147, default NONE). */
sealed trait FrameType
object FrameType {
  case object NoFrame extends FrameType
  case object Row     extends FrameType
  case object Range   extends FrameType

  def parse(s: String): Either[String, FrameType] = s.trim.toUpperCase match {
    case "" | "NONE" => Right(NoFrame)
    case "ROW"       => Right(Row)
    case "RANGE"     => Right(Range)
    case other       => Left(s"Invalid frame type '$other'. Must be NONE, ROW or RANGE.")
  }
}

/** Frame bounds. Bounds are *signed* pass-throughs exactly like the reference
  * (users supply -2 for "2 preceding"); unbounded flags override to
  * Long.MinValue / Long.MaxValue, which equal Spark's
  * Window.unboundedPreceding / unboundedFollowing sentinels
  * (reference: WindowAggregationConfig.java:157-175).
  */
case class FrameSpec(
    frameType: FrameType = FrameType.NoFrame,
    preceding: Option[Long] = None,
    following: Option[Long] = None,
    unboundedPreceding: Boolean = false,
    unboundedFollowing: Boolean = false) {
  /** Frame start: unbounded sentinel, else the signed bound, else current row (0). */
  def startBound: Long = if (unboundedPreceding) Long.MinValue else preceding.getOrElse(0L)
  /** Frame end: unbounded sentinel, else the signed bound, else current row (0). */
  def endBound: Long = if (unboundedFollowing) Long.MaxValue else following.getOrElse(0L)
}

/** The 14 window functions of the reference, with their clause-constraint and
  * type metadata (reference: WindowAggregationConfig.java:318-402 Function enum;
  * clause table docs/WindowAggregation-sparkcompute.md:59-72).
  *
  * `declaredOutput`: Some(t) when the reference declares a fixed output type;
  * None means "inherits the input field's type". `input`: the types the
  * function reads, the one rule the validator and the kernel check.
  */
sealed abstract class WindowFn(
    val fnName: String,
    val partition: Constraint,
    val order: Constraint,
    val frame: Constraint,
    val input: InputTypes,
    val declaredOutput: Option[DataType]) {

  /** The one parse of an aggregate's argument, read by the validator, the engine and every SQL
    * dialect (reference: WindowAggregation.java:295-358): exactly one argument, read by Java's
    * parseInt or parseDouble as the reference reads it. Right(None): the function takes none. */
  def parseArg(agg: AggregateSpec): Either[ValidationFailure, Option[FnArg]] = {
    def one(must: String)(read: String => Option[FnArg]) = agg.args match {
      case Seq(a) => read(a).map(Some(_)).toRight(
        ValidationFailure(s"$fnName argument '$a' (alias '${agg.alias}') must be $must."))
      case _ => Left(ValidationFailure(s"Function $fnName (alias '${agg.alias}') takes exactly 1 argument.",
        "Make sure there is only one argument specified."))
    }
    def count(min: Int)(a: String) = Try(Integer.parseInt(a)).toOption.filter(_ >= min).map(FnArg.Count)
    this match {
      case WindowFn.NTile               => one("a positive integer")(count(1))
      case WindowFn.Lead | WindowFn.Lag => one("a non-negative integer")(count(0))
      case WindowFn.ContinuousPercentile | WindowFn.DiscretePercentile => one("a double in range 0.0-1.0")(a =>
        Try(java.lang.Double.parseDouble(a)).toOption.filter(p => p >= 0.0 && p <= 1.0).map(FnArg.Fraction))
      case _ => Right(None)
    }
  }
}

object WindowFn {
  import Constraint._
  import InputTypes._

  case object Rank          extends WindowFn("RANK", Required, Required, NotSupported, AnyType, Some(IntegerType))
  case object DenseRank     extends WindowFn("DENSE_RANK", Required, Required, NotSupported, AnyType, Some(IntegerType))
  case object PercentRank   extends WindowFn("PERCENT_RANK", Required, Required, NotSupported, AnyType, Some(FloatType))
  case object NTile         extends WindowFn("N_TILE", Required, Required, NotSupported, Numeric, Some(IntegerType))
  case object RowNumber     extends WindowFn("ROW_NUMBER", Required, Required, NotSupported, AnyType, Some(IntegerType))
  case object Median        extends WindowFn("MEDIAN", Required, Required, NotSupported, AnyNumeric, Some(DoubleType))
  case object ContinuousPercentile
      extends WindowFn("CONTINUOUS_PERCENTILE", Required, NotSupported, NotSupported, Numeric, Some(DoubleType))
  case object DiscretePercentile
      extends WindowFn("DISCRETE_PERCENTILE", Required, Required, NotSupported, Numeric, None)
  case object Lead          extends WindowFn("LEAD", Required, Required, NotSupported, AnyType, None)
  case object Lag           extends WindowFn("LAG", Required, Required, NotSupported, AnyType, None)
  case object First         extends WindowFn("FIRST", Required, Required, Optional, AnyType, None)
  case object Last          extends WindowFn("LAST", Required, Required, Optional, AnyType, None)
  case object CumulativeDistribution
      extends WindowFn("CUMULATIVE_DISTRIBUTION", Required, Required, NotSupported, Numeric, Some(DoubleType))
  case object Accumulate    extends WindowFn("ACCUMULATE", Required, Optional, Optional, Numeric, None)

  // lazy: a case object's <clinit> can trigger this companion's init before
  // that object finishes constructing — eager evaluation here would capture
  // nulls in the list (JVM class-init re-entrancy).
  lazy val all: Seq[WindowFn] = Seq(
    Rank, DenseRank, PercentRank, NTile, RowNumber, Median, ContinuousPercentile,
    DiscretePercentile, Lead, Lag, First, Last, CumulativeDistribution, Accumulate)

  private lazy val byName: Map[String, WindowFn] = all.map(f => f.fnName -> f).toMap

  /** Case-insensitive lookup (reference parses with valueOf(upper),
    * WindowAggregationConfig.java:217-226). */
  def parse(s: String): Either[String, WindowFn] =
    byName.get(s.trim.toUpperCase)
      .toRight(s"Invalid function '$s'. Must be one of ${all.map(_.fnName).mkString(",")}.")
}

/** The input types a window function reads, with the corrective text that
  * names them (reference: the Function enum's per-function flag over the
  * numeric union, WindowAggregationConfig.java:111-114). */
sealed abstract class InputTypes(val names: String) {
  def accepts(dt: DataType): Boolean = this match {
    case InputTypes.Numeric    => Seq(IntegerType, LongType, FloatType, DoubleType).contains(dt)
    case InputTypes.AnyNumeric => dt.isInstanceOf[NumericType]
    case InputTypes.AnyType    => true
  }
  def correctiveAction: String = s"Supported types are: $names."
}
object InputTypes {
  /** The reference's numeric union: INT, LONG, FLOAT, DOUBLE. */
  case object Numeric    extends InputTypes("int, long, float, double")
  /** Any Spark NumericType (DECIMAL, SHORT and BYTE too), each value read as
    * a DOUBLE: MEDIAN, which the reference hands to Spark's `percentile`. */
  case object AnyNumeric extends InputTypes("numeric types")
  case object AnyType    extends InputTypes("any type")
}

/** One parsed aggregate: `alias:function(field,args,ignoreNulls)`.
  * ignoreNulls default-true quirk: parses as !"false".equals(s)
  * (reference: WindowAggregationConfig.java:472). */
case class AggregateSpec(
    alias: String,
    fn: WindowFn,
    field: String,
    args: Seq[String] = Seq.empty,
    ignoreNulls: Boolean = true) {
  /** The argument, parsed once by its function ([[WindowFn.parseArg]]). */
  lazy val arg: Either[ValidationFailure, Option[FnArg]] = fn.parseArg(this)
}

/** A parsed argument: N_TILE's bucket count or LEAD/LAG's offset, or a percentile. The engine
  * reads the value and every SQL dialect prints `sql`, never the user's spelling, which only
  * Java reads alike (`0x1p-1`, `0.5d` and Arabic-Indic digits are not SQL numbers). */
sealed abstract class FnArg(val sql: String)
object FnArg {
  case class Count(n: Int)       extends FnArg(n.toString)
  case class Fraction(p: Double) extends FnArg(p.toString)
}

/** One order clause entry. */
case class OrderSpec(field: String, direction: SortDirection = SortDirection.Ascending)

/** Full window-aggregation query spec — the engine's input IR.
  * Mirrors the reference config surface (WindowAggregationConfig.java:46-109).
  */
case class WindowQuerySpec(
    partitionFields: Seq[String],
    order: Seq[OrderSpec] = Seq.empty,
    frame: FrameSpec = FrameSpec(),
    aggregates: Seq[AggregateSpec] = Seq.empty,
    numberOfPartitions: Option[Int] = None)

/** A single accumulated validation failure (reference accumulates in a
  * FailureCollector then throws; WindowAggregation.java:130-131). */
case class ValidationFailure(message: String, correctiveAction: String = "") {
  override def toString: String =
    if (correctiveAction.isEmpty) message else s"$message $correctiveAction"
}

class GraftValidationException(val failures: Seq[ValidationFailure])
    extends IllegalArgumentException(
      s"Window aggregation spec failed validation with ${failures.size} error(s):\n" +
        failures.map(f => s"  - $f").mkString("\n"))
