package graft

import org.apache.spark.sql.types._

/** Pre-flight validation rulebook over the input StructType. Reproduces the
  * reference's analyzer (WindowAggregation.java:135-211 `validate`,
  * :213-270 `validateClauseConstraints`, :272-289 `validateSpecialCase`,
  * :295-358 argument checks, through [[WindowFn.parseArg]]) as an
  * accumulate-all pass — every failure is collected, not fail-fast.
  */
object Validator {

  /** Throws GraftValidationException with ALL of [[validate]]'s failures
    * (reference: WindowAggregation.java:130-131); both backends call it. */
  def requireValid(spec: WindowQuerySpec, schema: StructType): Unit = {
    val failures = validate(spec, schema)
    if (failures.nonEmpty) throw new GraftValidationException(failures)
  }

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

    // Spark's repartition takes a positive count (WindowsAggregationUtil.java:84-90).
    for (n <- spec.numberOfPartitions if n < 1)
      fs += ValidationFailure(
        s"Number of partitions $n must be positive.",
        "Provide a number of partitions of at least 1, or leave it unset.")

    for (agg <- spec.aggregates) {
      // Aggregate input field must exist (WindowAggregation.java:161-171).
      fieldTypes.get(agg.field) match {
        case None =>
          fs += ValidationFailure(
            s"Aggregate field '${agg.field}' (alias '${agg.alias}') must exist in input schema.",
            "Provide a field that exists in the input schema.")
        // A type the function reads (WindowAggregation.java:173-189).
        case Some(dt) if !agg.fn.input.accepts(dt) =>
          fs += ValidationFailure(
            s"Field '${agg.field}' has type ${dt.simpleString} which is not supported by " +
              s"function ${agg.fn.fnName} (alias '${agg.alias}').",
            agg.fn.input.correctiveAction)
        case _ =>
      }
      fs ++= validateClauseConstraints(agg, spec)
      fs ++= agg.arg.left.toSeq
    }

    // Spark resolves names ignoring case, so an alias beside an input field or
    // an earlier alias that differs from it only in case leaves a later
    // reference to either ambiguous (the reference's withColumn replaces it).
    val inputNames = schema.fieldNames.toSeq.map("input field" -> _)
    for ((agg, i) <- spec.aggregates.zipWithIndex;
         (what, other) <- (inputNames ++ spec.aggregates.take(i).map("alias" -> _.alias))
           .find { case (_, n) => n != agg.alias && n.equalsIgnoreCase(agg.alias) })
      fs += ValidationFailure(
        s"Alias '${agg.alias}' differs only in case from $what '$other'.",
        "Spark resolves names ignoring case; use a name that differs in more than case.")

    // Both backends read fields and clauses from the input, but the
    // reference's Spark path adds one withColumn per aggregate, so there a
    // replaced input column is what every LATER aggregate reads, while its
    // pushdown reads the original: it answers such a spec two ways. Only the
    // last aggregate may replace a column the spec reads (its e2e fixture does).
    val clauseFields = spec.partitionFields ++ spec.order.map(_.field)
    for ((agg, i) <- spec.aggregates.zipWithIndex; later = spec.aggregates.drop(i + 1)
         if later.nonEmpty && fieldTypes.contains(agg.alias) &&
           (clauseFields.contains(agg.alias) || later.exists(_.field == agg.alias)))
      fs += ValidationFailure(
        s"Alias '${agg.alias}' replaces an input field that a later aggregate or the " +
          "partition or order clause reads.",
        "Use a new alias, or make this aggregate the last one.")

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

  /** ACCUMULATE + RANGE frame requires exactly one order clause regardless of
    * bounds — the reference rule verbatim (WindowAggregation.java:272-289).
    * Additional generalized guards beyond the reference: a ROW or RANGE
    * frame must not start after it ends (a positive "preceding" is the
    * usual cause — the convention is -2 for "2 preceding"; Spark rejects
    * such a frame at analysis), and ANY bounded RANGE frame (true value
    * offsets) needs a single NUMERIC order key — matches Spark's own
    * rangeBetween restriction (reference states it in prose,
    * WindowAggregationConfig.java:53-56). Bounds Spark would reject later
    * are rejected here: a ROW bound must lie within ±2147483647 (Spark's
    * INVALID_BOUNDARY; its SQL text fails analysis from 2147483648
    * PRECEDING), and a RANGE offset over an INT order key must fit in an INT
    * (Spark's CAST_OVERFLOW at run time).
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
    // Generalized guard: only true VALUE offsets constrain all other
    // functions; unbounded sentinels and current-row (0) endpoints are legal
    // with any order keys (RANGE UNBOUNDED PRECEDING AND CURRENT ROW is
    // Spark's own default).
    def isValueOffset(b: Long) = b != Long.MinValue && b != Long.MaxValue && b != 0L
    val offsets = Seq(spec.frame.startBound, spec.frame.endBound).filter(isValueOffset)
    if (!range)
      for (b <- offsets if b < -Int.MaxValue || b > Int.MaxValue)
        fs += ValidationFailure(
          s"ROW frame bound $b must lie within -2147483647 and 2147483647.",
          "Use an unbounded frame side for a larger bound.")
    // Reference rule: ACCUMULATE with a RANGE frame of ANY bounds (including
    // unbounded sentinels) demands exactly one ordering clause.
    if (range && spec.aggregates.exists(_.fn == WindowFn.Accumulate) && spec.order.size != 1)
      fs += ValidationFailure(
        "partitionOrder needs to have exactly one clause when using RANGE frametype " +
          "for function ACCUMULATE.",
        "Make sure there is only 1 ordering field.")
    if (range && offsets.nonEmpty) {
      if (spec.order.size != 1)
        fs += ValidationFailure(
          "A bounded RANGE frame requires exactly one order clause.",
          "Provide a single numeric order field.")
      else {
        val key = spec.order.head.field
        fieldTypes.get(key) match {
          case Some(IntegerType) =>
            for (b <- offsets if !b.isValidInt)
              fs += ValidationFailure(
                s"RANGE frame offset $b does not fit the int order field '$key'.",
                "Use an offset within -2147483648 and 2147483647, or a long order field.")
          case Some(t) if InputTypes.Numeric.accepts(t) =>
          case _ =>
            fs += ValidationFailure(s"RANGE frame order field '$key' must be numeric (int, long, float, double).")
        }
      }
    }
    fs.result()
  }
}
