package graft

/** Parser for the reference's aggregate-spec DSL — the engine's public query
  * front end.
  *
  * Grammar (reference: WindowAggregationConfig.java:183-276; docs
  * docs/WindowAggregation-sparkcompute.md:45-51):
  *
  * {{{
  *   spec        := line ('\n' line)*
  *   line        := alias ':' function '(' field ',' encodedArgs ',' ignoreNulls ')'
  *   encodedArgs := args with literal commas encoded as %2C (decoded, then comma-split)
  *   ignoreNulls := anything; false iff the literal string "false"
  * }}}
  *
  * Exactly three top-level comma-separated parameters, like the reference:
  * the field, ONE encoded-args slot, and the ignoreNulls slot (which runs to
  * the closing paren). Errors accumulate (reference uses a FailureCollector).
  */
object DslParser {

  private val usage =
    "Functions must be specified as alias:function(field, argumentsEncoded, ignoreNulls)."

  /** Parse the newline-separated aggregates property. Returns either ALL
    * accumulated failures or the parsed specs (order preserved). */
  def parseAggregates(aggregates: String): Either[Seq[ValidationFailure], Seq[AggregateSpec]] = {
    val failures = Seq.newBuilder[ValidationFailure]
    val specs = Seq.newBuilder[AggregateSpec]
    val seenAliases = scala.collection.mutable.Set.empty[String]

    // Every line participates — a blank line has no ':' and is reported as a
    // parse failure, exactly like the reference's Splitter.trimResults pass
    // (WindowAggregationConfig.java:191-198 has no empty-line skip). The -1
    // limit keeps TRAILING empty segments too: Guava's Splitter yields one
    // for input ending in '\n' (so the reference rejects "x:rank(v,,)\n"),
    // while Scala's default split drops it and would silently accept.
    for (rawLine <- aggregates.split("\n", -1).map(_.trim)) {
      parseLine(rawLine, seenAliases) match {
        case Left(f)     => failures += f
        case Right(spec) => specs += spec
      }
    }

    val result = specs.result()
    if (result.isEmpty)
      failures += ValidationFailure("Missing 'aggregates' property.", "The 'aggregates' property must be set.")

    val fs = failures.result()
    if (fs.nonEmpty) Left(fs) else Right(result)
  }

  private def parseLine(
      line: String,
      seenAliases: scala.collection.mutable.Set[String]): Either[ValidationFailure, AggregateSpec] = {
    val colonIdx = line.indexOf(':')
    if (colonIdx < 0)
      return Left(ValidationFailure(
        s"Could not find ':' separating aggregate alias from its function in '$line'.", usage))

    val alias = line.substring(0, colonIdx).trim
    if (!seenAliases.add(alias))
      return Left(ValidationFailure(
        s"Cannot create multiple aggregate functions with the same alias '$alias'.",
        "Provided aliases must be unique."))

    val functionAndParameters = line.substring(colonIdx + 1).trim
    val parenIdx = functionAndParameters.indexOf('(')
    if (parenIdx < 0)
      return Left(ValidationFailure(s"Could not find '(' in function '$functionAndParameters'.", usage))

    val functionStr = functionAndParameters.substring(0, parenIdx).trim
    val fn = WindowFn.parse(functionStr) match {
      case Left(err) => return Left(ValidationFailure(err))
      case Right(f)  => f
    }

    val parameters = functionAndParameters.substring(parenIdx + 1).trim
    if (!parameters.endsWith(")"))
      return Left(ValidationFailure(
        s"Could not find closing ')' in function '$functionAndParameters'.", usage))

    // Exactly three top-level parameters: field, encodedArgs, ignoreNulls.
    val firstComma = parameters.indexOf(',')
    if (firstComma < 0)
      return Left(ValidationFailure(
        s"Expected three parameters (field, argumentsEncoded, ignoreNulls) in '$functionAndParameters'.", usage))
    val secondComma = parameters.indexOf(',', firstComma + 1)
    if (secondComma < 0)
      return Left(ValidationFailure(
        s"Expected three parameters (field, argumentsEncoded, ignoreNulls) in '$functionAndParameters'.", usage))

    val field = parameters.substring(0, firstComma).trim
    val decodedArgs = parameters.substring(firstComma + 1, secondComma).trim.replace("%2C", ",")
    val args = decodedArgs.split(',').map(_.trim).toSeq match {
      case Seq("") => Seq.empty[String]
      case other   => other
    }
    // ignoreNulls: default true unless the literal string "false". The slot is
    // deliberately NOT trimmed — the reference compares the raw substring
    // (WindowAggregationConfig.java:466-473), so ' false' enables ignoreNulls.
    val ignoreNullsStr = parameters.substring(secondComma + 1, parameters.length - 1)
    val ignoreNulls = ignoreNullsStr != "false"

    Right(AggregateSpec(alias, fn, field, args, ignoreNulls))
  }

  /** Parse the `partitionOrder` property: `field:Ascending,other:Descending`
    * (reference: WindowAggregation.java:196-210). */
  def parseOrder(partitionOrder: String): Either[Seq[ValidationFailure], Seq[OrderSpec]] = {
    if (partitionOrder.trim.isEmpty) return Right(Seq.empty)
    val failures = Seq.newBuilder[ValidationFailure]
    val specs = Seq.newBuilder[OrderSpec]
    for (pair <- partitionOrder.split(',').map(_.trim) if pair.nonEmpty) {
      pair.split(':') match {
        case Array(f, d) =>
          SortDirection.parse(d) match {
            case Right(dir) => specs += OrderSpec(f.trim, dir)
            case Left(err)  => failures += ValidationFailure(err)
          }
        case _ =>
          failures += ValidationFailure(
            s"Order '$pair' is invalid.", "Order must be specified as 'name:order' pairs.")
      }
    }
    val fs = failures.result()
    if (fs.nonEmpty) Left(fs) else Right(specs.result())
  }

  /** Parse a complete spec from config-style strings — the closest analogue of
    * the reference's full config surface, and the one reader of its five frame
    * settings (WindowAggregationConfig.java:142-175). They make one frame:
    *  - `windowFrameType` NONE (or empty) is no frame, whatever bounds are set;
    *  - an unbounded flag overrides its bound's value;
    *  - a missing bound is the current row. */
  def parseSpec(
      partitionFields: String,
      partitionOrder: String = "",
      aggregates: String = "",
      windowFrameType: String = "NONE",
      preceding: Option[Long] = None,
      following: Option[Long] = None,
      unboundedPreceding: Boolean = false,
      unboundedFollowing: Boolean = false,
      numberOfPartitions: Option[Int] = None): Either[Seq[ValidationFailure], WindowQuerySpec] = {

    val parts = partitionFields.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val orderE = parseOrder(partitionOrder)
    val aggsE = parseAggregates(aggregates)
    def frame(ft: FrameType) = Some(FrameSpec(ft,
      if (unboundedPreceding) FrameSpec.UnboundedPreceding else preceding.getOrElse(0L),
      if (unboundedFollowing) FrameSpec.UnboundedFollowing else following.getOrElse(0L)))
    val frameE = windowFrameType.trim.toUpperCase match {
      case "" | "NONE" => Right(None)
      case "ROW"       => Right(frame(FrameType.Row))
      case "RANGE"     => Right(frame(FrameType.Range))
      case other       => Left(Seq(ValidationFailure(s"Invalid frame type '$other'. Must be NONE, ROW or RANGE.")))
    }

    val failures = orderE.left.toSeq.flatten ++ aggsE.left.toSeq.flatten ++ frameE.left.toSeq.flatten
    if (failures.nonEmpty) Left(failures)
    else Right(WindowQuerySpec(
      partitionFields = parts,
      order = orderE.toOption.get,
      frame = frameE.toOption.get,
      aggregates = aggsE.toOption.get,
      numberOfPartitions = numberOfPartitions))
  }
}
