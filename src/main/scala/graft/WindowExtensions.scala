package graft

import org.apache.spark.sql.{GraftFunctionBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, FloatType, IntegerType, LongType}

import graft.functions.ExactPercentileAgg

/** The SQL names of the engine's percentile kernel ([[ExactPercentileAgg]]),
  * which the Spark dialect's select items call ([[SqlEmitter]]):
  *  - `graft_percentile(x, p)`      → MEDIAN and CONTINUOUS_PERCENTILE, Spark
  *    `percentile`'s interpolation bit for bit;
  *  - `graft_percentile_disc(x, p)` → DISCRETE_PERCENTILE, the reference
  *    UDAF's semantics, usable with OVER like the reference's registered
  *    UDAF (WindowsAggregationUtil.java:114).
  *
  * [[WindowEngine.run]] installs them on its input's session ([[install]]);
  * [[GraftExtensions]] includes them for sessions built with it.
  */
object WindowExtensions {
  type Description = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** A function named `name` whose builder checks it got `arity` arguments;
    * `owner` names the class its SQL documentation belongs to. */
  private[graft] def describe(owner: Class[_], name: String, usage: String, arity: Int)(
      builder: Seq[Expression] => Expression): Description =
    (new FunctionIdentifier(name),
      new ExpressionInfo(owner.getName, null, name, usage, ""),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name expects $arity arguments, got ${args.length}")
        builder(args)
      })

  /** A static parameter: foldable numeric expression → Double (SQL `0.5`
    * parses as DECIMAL(1,1), so Decimal unwraps here too). */
  private def doubleArg(fn: String, what: String, e: Expression): Double = {
    require(e.foldable, s"$fn: $what must be a literal, got ${e.sql}")
    (e.eval(), e.dataType) match {
      case (d: java.lang.Double, DoubleType) => d.doubleValue()
      case (f: java.lang.Float, FloatType) => f.doubleValue()
      case (d: Decimal, _: DecimalType) => d.toDouble
      case (i: Integer, IntegerType) => i.doubleValue()
      case (l: java.lang.Long, LongType) => l.doubleValue()
      case (v, t) => throw new IllegalArgumentException(
        s"$fn: $what must be a non-null numeric literal, got $v: ${t.simpleString}")
    }
  }

  private def percentile(name: String, discrete: Boolean, usage: String): Description =
    describe(getClass, name, s"$name(x, p) - $usage", arity = 2) { args =>
      ExactPercentileAgg(args.head, doubleArg(name, "p", args(1)), discrete)
    }

  val descriptions: Seq[Description] = Seq(
    percentile("graft_percentile", discrete = false,
      "exact continuous percentile (Spark percentile's interpolation)"),
    percentile("graft_percentile_disc", discrete = true,
      "running discrete percentile (reference UDAF semantics)"))

  /** Registers each of `ds` on `spark` unless a function of its name is there
    * under its class already, as a planner rule is added once to a session
    * that already exists. Any other function of the same name is replaced.
    * [[GraftExtensions.register]] installs all of its functions this way. */
  def install(spark: SparkSession, ds: Seq[Description] = descriptions): Unit =
    for ((ident, info, builder) <- ds
         if !GraftFunctionBridge.lookup(spark, ident).exists(_.getClassName == info.getClassName))
      GraftFunctionBridge.register(spark, ident, info, builder)
}
