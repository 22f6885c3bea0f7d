package graft

import org.apache.spark.sql.types._

/** Pre-flight validation rulebook over the input StructType. Reproduces the
  * reference's analyzer (WindowAggregation.java:135-211 `validate`,
  * :213-270 `validateClauseConstraints`, :272-289 `validateSpecialCase`,
  * :295-358 argument checks) as an accumulate-all pass — every failure is
  * collected, not fail-fast.
  */
object Validator {

  def validate(spec: WindowQuerySpec, schema: StructType): Seq[ValidationFailure] = {
    val fs = Seq.newBuilder[ValidationFailure]
    val fieldTypes: Map[String, DataType] = schema.fields.map(f => f.name -> f.dataType).toMap

    // Partition fields must exist (WindowAggregation.java:141-148).
    if (spec.partitionFields.isEmpty)
      fs += ValidationFailure("At least one partition field must be specified.")
    for (p <- spec.partitionFields if !fieldTypes.contains(p))
      fs += ValidationFailure(
        s"Partition field '$p' must exist in input schema.",
        "Provide a field that exists in the input schema.")

    // Order fields must exist (WindowAggregation.java:196-210).
    for (o <- spec.order if !fieldTypes.contains(o.field))
      fs += ValidationFailure(
        s"Order field '${o.field}' must exist in input schema.",
        "Provide a field that exists in the input schema.")

    // Duplicate aliases (parser also rejects; re-checked for hand-built specs).
    val dups = spec.aggregates.groupBy(_.alias).collect { case (a, as) if as.size > 1 => a }
    for (a <- dups)
      fs += ValidationFailure(
        s"Cannot create multiple aggregate functions with the same alias '$a'.",
        "Provided aliases must be unique.")

    for (agg <- spec.aggregates) {
      // Aggregate input field must exist (WindowAggregation.java:161-171).
      fieldTypes.get(agg.field) match {
        case None =>
          fs += ValidationFailure(
            s"Aggregate field '${agg.field}' (alias '${agg.alias}') must exist in input schema.",
            "Provide a field that exists in the input schema.")
        case Some(dt) =>
          // Input type within the function's allowed union (WindowAggregation.java:173-189).
          if (agg.fn.numericOnly && !WindowFn.isNumeric(dt))
            fs += ValidationFailure(
              s"Field '${agg.field}' has type ${dt.simpleString} which is not supported by " +
                s"function ${agg.fn.fnName} (alias '${agg.alias}').",
              "Supported types are: int, long, float, double.")
      }
      fs ++= validateClauseConstraints(agg, spec)
      fs ++= validateArguments(agg)
    }

    fs ++= validateSpecialCase(spec, fieldTypes)
    fs.result()
  }

  /** Per-function clause constraints (WindowAggregation.java:213-270). */
  private def validateClauseConstraints(agg: AggregateSpec, spec: WindowQuerySpec): Seq[ValidationFailure] = {
    val fs = Seq.newBuilder[ValidationFailure]
    def check(constraint: Constraint, present: Boolean, clause: String): Unit = constraint match {
      case Constraint.Required if !present =>
        fs += ValidationFailure(
          s"Function ${agg.fn.fnName} (alias '${agg.alias}') requires a $clause clause.")
      case Constraint.NotSupported if present =>
        fs += ValidationFailure(
          s"Function ${agg.fn.fnName} (alias '${agg.alias}') does not support a $clause clause.")
      case _ =>
    }
    check(agg.fn.partition, spec.partitionFields.nonEmpty, "partition")
    check(agg.fn.order, spec.order.nonEmpty, "order")
    check(agg.fn.frame, spec.frame.frameType != FrameType.NoFrame, "frame")
    fs.result()
  }

  /** Argument validation: N_TILE integer > 0 (WindowAggregation.java:295-314);
    * percentile in [0,1] (:316-336); LEAD/LAG non-negative int (:338-358).
    * Every argument-taking function requires EXACTLY one argument — the
    * reference rejects surplus arguments too (`arguments.length != 1`). */
  private def validateArguments(agg: AggregateSpec): Seq[ValidationFailure] = {
    val fs = Seq.newBuilder[ValidationFailure]
    if (agg.fn.requiredArgs == 1 && agg.args.size != 1)
      fs += ValidationFailure(
        s"Function ${agg.fn.fnName} (alias '${agg.alias}') takes exactly 1 argument.",
        "Make sure there is only one argument specified.")
    else agg.fn match {
      case WindowFn.NTile =>
        agg.args.head.toIntOption match {
          case Some(n) if n > 0 =>
          case _ =>
            fs += ValidationFailure(
              s"N_TILE argument '${agg.args.head}' (alias '${agg.alias}') must be a positive integer.")
        }
      case WindowFn.ContinuousPercentile | WindowFn.DiscretePercentile =>
        agg.args.head.toDoubleOption match {
          case Some(p) if p >= 0.0 && p <= 1.0 =>
          case _ =>
            fs += ValidationFailure(
              s"${agg.fn.fnName} argument '${agg.args.head}' (alias '${agg.alias}') " +
                "must be a double in range 0.0-1.0.")
        }
      case WindowFn.Lead | WindowFn.Lag =>
        agg.args.head.toIntOption match {
          case Some(n) if n >= 0 =>
          case _ =>
            fs += ValidationFailure(
              s"${agg.fn.fnName} argument '${agg.args.head}' (alias '${agg.alias}') " +
                "must be a non-negative integer.")
        }
      case _ =>
    }
    fs.result()
  }

  /** ACCUMULATE + RANGE frame requires exactly one order clause regardless of
    * bounds — the reference rule verbatim (WindowAggregation.java:272-289).
    * Additional generalized guards beyond the reference: a ROW or RANGE
    * frame must not start after it ends (a positive "preceding" is the
    * usual cause — the convention is -2 for "2 preceding"; Spark rejects
    * such a frame at analysis), and ANY bounded RANGE frame (true value
    * offsets) needs a single NUMERIC order key — matches Spark's own
    * rangeBetween restriction (reference states it in prose,
    * WindowAggregationConfig.java:53-56).
    */
  private def validateSpecialCase(
      spec: WindowQuerySpec, fieldTypes: Map[String, DataType]): Seq[ValidationFailure] = {
    if (spec.frame.frameType == FrameType.NoFrame) return Seq.empty
    val fs = Seq.newBuilder[ValidationFailure]
    if (spec.frame.startBound > spec.frame.endBound)
      fs += ValidationFailure(
        s"Window frame start ${spec.frame.startBound} must not be after frame end ${spec.frame.endBound}.",
        "Use negative values for preceding bounds, e.g. -2 for 2 preceding.")
    val range = spec.frame.frameType == FrameType.Range
    // Reference rule: ACCUMULATE with a RANGE frame of ANY bounds (including
    // unbounded sentinels) demands exactly one ordering clause.
    if (range && spec.aggregates.exists(_.fn == WindowFn.Accumulate) && spec.order.size != 1)
      fs += ValidationFailure(
        "partitionOrder needs to have exactly one clause when using RANGE frametype " +
          "for function ACCUMULATE.",
        "Make sure there is only 1 ordering field.")
    // Generalized guard: only true VALUE offsets constrain all other
    // functions; unbounded sentinels and current-row (0) endpoints are legal
    // with any order keys (RANGE UNBOUNDED PRECEDING AND CURRENT ROW is
    // Spark's own default).
    def isValueOffset(b: Long) = b != Long.MinValue && b != Long.MaxValue && b != 0L
    val bounded = range &&
      (isValueOffset(spec.frame.startBound) || isValueOffset(spec.frame.endBound))
    if (bounded) {
      if (spec.order.size != 1)
        fs += ValidationFailure(
          "A bounded RANGE frame requires exactly one order clause.",
          "Provide a single numeric order field.")
      else if (!fieldTypes.get(spec.order.head.field).exists(WindowFn.isNumeric))
        fs += ValidationFailure(
          s"RANGE frame order field '${spec.order.head.field}' must be numeric (int, long, float, double).")
    }
    fs.result()
  }
}
