package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ValidatorSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("v", DoubleType),
    StructField("i", IntegerType),
    StructField("s", StringType),
    StructField("ts", TimestampType)))

  private def spec(
      parts: Seq[String] = Seq("k"),
      order: Seq[OrderSpec] = Seq(OrderSpec("v")),
      frame: FrameSpec = FrameSpec(),
      aggs: Seq[AggregateSpec]) =
    WindowQuerySpec(parts, order, frame, aggs)

  test("valid spec has no failures") {
    assert(Validator.validate(
      spec(aggs = Seq(AggregateSpec("r", WindowFn.Rank, "v"))), schema).isEmpty)
  }

  test("missing partition / order / aggregate fields accumulate") {
    val fs = Validator.validate(
      spec(parts = Seq("nope"), order = Seq(OrderSpec("missing")),
        aggs = Seq(AggregateSpec("r", WindowFn.Rank, "gone"))), schema)
    assert(fs.size == 3)
  }

  test("numeric-only functions reject string input") {
    val fs = Validator.validate(
      spec(aggs = Seq(AggregateSpec("t", WindowFn.NTile, "s", Seq("4")))), schema)
    assert(fs.exists(_.message.contains("not supported by function N_TILE")))
    // any-type functions accept string
    assert(Validator.validate(
      spec(aggs = Seq(AggregateSpec("r", WindowFn.Rank, "s"))), schema).isEmpty)
  }

  test("timestamp is not numeric for numeric-only functions") {
    val fs = Validator.validate(
      spec(aggs = Seq(AggregateSpec("a", WindowFn.Accumulate, "ts"))), schema)
    assert(fs.nonEmpty)
  }

  test("order clause: required for RANK, not supported for CONTINUOUS_PERCENTILE") {
    assert(Validator.validate(
      spec(order = Seq.empty, aggs = Seq(AggregateSpec("r", WindowFn.Rank, "v"))),
      schema).exists(_.message.contains("requires a order")))
    assert(Validator.validate(
      spec(aggs = Seq(AggregateSpec("p", WindowFn.ContinuousPercentile, "v", Seq("0.5")))),
      schema).exists(_.message.contains("does not support a order")))
    // ACCUMULATE: order optional — both fine
    assert(Validator.validate(
      spec(order = Seq.empty, aggs = Seq(AggregateSpec("a", WindowFn.Accumulate, "v"))), schema).isEmpty)
  }

  test("frame clause not supported for rank family") {
    val fs = Validator.validate(
      spec(frame = FrameSpec(FrameType.Row, Some(-2L), Some(0L)),
        aggs = Seq(AggregateSpec("r", WindowFn.Rank, "v"))), schema)
    assert(fs.exists(_.message.contains("does not support a frame")))
  }

  test("argument checks: ntile positive int, percentile in [0,1], lead non-negative") {
    def one(agg: AggregateSpec) = Validator.validate(spec(aggs = Seq(agg)), schema)
    assert(one(AggregateSpec("t", WindowFn.NTile, "i", Seq("0"))).nonEmpty)
    assert(one(AggregateSpec("t", WindowFn.NTile, "i", Seq("x"))).nonEmpty)
    assert(one(AggregateSpec("t", WindowFn.NTile, "i")).nonEmpty) // missing arg
    // the reference demands EXACTLY one argument — surplus args fail too
    assert(one(AggregateSpec("t", WindowFn.NTile, "i", Seq("4", "5")))
      .exists(_.message.contains("exactly 1 argument")))
    assert(one(AggregateSpec("l", WindowFn.Lead, "i", Seq("1", "2"))).nonEmpty)
    assert(one(AggregateSpec("p", WindowFn.DiscretePercentile, "i", Seq("1.5"))).nonEmpty)
    assert(one(AggregateSpec("p", WindowFn.DiscretePercentile, "i", Seq("0.5"))).isEmpty)
    assert(one(AggregateSpec("l", WindowFn.Lead, "i", Seq("-1"))).nonEmpty)
    assert(one(AggregateSpec("l", WindowFn.Lag, "i", Seq("2"))).isEmpty)
    // the failure messages, word for word
    assert(one(AggregateSpec("t", WindowFn.NTile, "i", Seq("0"))).map(_.toString) ==
      Seq("N_TILE argument '0' (alias 't') must be a positive integer."))
    assert(one(AggregateSpec("t", WindowFn.NTile, "i")).map(_.toString) ==
      Seq("Function N_TILE (alias 't') takes exactly 1 argument. Make sure there is only one argument specified."))
    assert(one(AggregateSpec("p", WindowFn.DiscretePercentile, "i", Seq("NaN"))).map(_.toString) ==
      Seq("DISCRETE_PERCENTILE argument 'NaN' (alias 'p') must be a double in range 0.0-1.0."))
    assert(one(AggregateSpec("l", WindowFn.Lag, "i", Seq("1.0"))).map(_.toString) ==
      Seq("LAG argument '1.0' (alias 'l') must be a non-negative integer."))
  }

  test("arguments are read by Java's parseInt / parseDouble into the one value every backend reads") {
    def parsed(fn: WindowFn, a: String) = AggregateSpec("a", fn, "i", Seq(a)).arg
    assert(parsed(WindowFn.NTile, "04") == Right(Some(FnArg.Count(4))))
    assert(parsed(WindowFn.NTile, "\u0664") == Right(Some(FnArg.Count(4)))) // Arabic-Indic four
    assert(parsed(WindowFn.Lead, "+1") == Right(Some(FnArg.Count(1))))
    for (p <- Seq("0x1p-1", "0.5d", "5e-1", ".5"))
      assert(parsed(WindowFn.ContinuousPercentile, p) == Right(Some(FnArg.Fraction(0.5))), p)
    assert(parsed(WindowFn.DiscretePercentile, "+0.25").map(_.map(_.sql)) == Right(Some("0.25")))
    assert(parsed(WindowFn.Rank, "anything") == Right(None))
    assert(parsed(WindowFn.NTile, " 4").isLeft) // parseInt does not trim
  }

  test("an alias that differs only in case from an input field or an earlier alias is rejected") {
    def check(aggs: AggregateSpec*) = Validator.validate(spec(aggs = aggs), schema).map(_.message)
    assert(check(AggregateSpec("V", WindowFn.Rank, "i")) ==
      Seq("Alias 'V' differs only in case from input field 'v'."))
    assert(check(AggregateSpec("a", WindowFn.Rank, "i"), AggregateSpec("A", WindowFn.DenseRank, "i")) ==
      Seq("Alias 'A' differs only in case from alias 'a'."))
    // one failure per alias, naming the first clash
    assert(check(AggregateSpec("k2", WindowFn.Rank, "i"), AggregateSpec("K", WindowFn.Rank, "i"),
      AggregateSpec("k", WindowFn.First, "s"), AggregateSpec("S", WindowFn.Rank, "i")) ==
      Seq("Alias 'K' differs only in case from input field 'k'.",
        "Alias 'k' differs only in case from alias 'K'.",
        "Alias 'S' differs only in case from input field 's'.",
        "Alias 'k' replaces an input field that a later aggregate or the partition or order clause reads."))
    // an exact name still replaces the column
    assert(check(AggregateSpec("v", WindowFn.Rank, "i")).isEmpty)
  }

  test("bounded RANGE frame needs exactly one numeric order key") {
    val f = FrameSpec(FrameType.Range, Some(-5L), Some(0L))
    def acc = Seq(AggregateSpec("a", WindowFn.Accumulate, "v"))
    assert(Validator.validate(
      spec(order = Seq(OrderSpec("v"), OrderSpec("i")), frame = f, aggs = acc),
      schema).exists(_.message.contains("exactly one order clause")))
    assert(Validator.validate(
      spec(order = Seq(OrderSpec("s")), frame = f, aggs = acc),
      schema).exists(_.message.contains("must be numeric")))
    assert(Validator.validate(
      spec(order = Seq(OrderSpec("v")), frame = f, aggs = acc), schema).isEmpty)
    // fully unbounded RANGE frame is exempt from the VALUE-offset rule —
    // probe with LAST (ACCUMULATE has its own stricter rule, below)
    def lst = Seq(AggregateSpec("a", WindowFn.Last, "v"))
    val unb = FrameSpec(FrameType.Range, unboundedPreceding = true, unboundedFollowing = true)
    assert(Validator.validate(
      spec(order = Seq(OrderSpec("v"), OrderSpec("i")), frame = unb, aggs = lst), schema).isEmpty)
    // unbounded-preceding-to-current-row (Spark's default frame) is exempt too:
    // only true value offsets need a single numeric order key
    val runToCur = FrameSpec(FrameType.Range, unboundedPreceding = true)
    assert(Validator.validate(
      spec(order = Seq(OrderSpec("s"), OrderSpec("i")), frame = runToCur, aggs = lst), schema).isEmpty)
  }

  test("ACCUMULATE with RANGE frame needs exactly one order clause even when unbounded") {
    // the reference rule (WindowAggregation.java:272-289) keys on the frame
    // TYPE alone, not its bounds — 0 or 2 order fields must fail
    def acc = Seq(AggregateSpec("a", WindowFn.Accumulate, "v"))
    val unb = FrameSpec(FrameType.Range, unboundedPreceding = true, unboundedFollowing = true)
    assert(Validator.validate(
      spec(order = Seq(OrderSpec("v"), OrderSpec("i")), frame = unb, aggs = acc),
      schema).exists(_.message.contains("exactly one clause")))
    assert(Validator.validate(
      spec(order = Seq.empty, frame = unb, aggs = acc),
      schema).exists(_.message.contains("exactly one clause")))
    assert(Validator.validate(
      spec(order = Seq(OrderSpec("v")), frame = unb, aggs = acc), schema).isEmpty)
  }

  test("a ROW or RANGE frame that starts after it ends is rejected") {
    def acc = Seq(AggregateSpec("a", WindowFn.Accumulate, "v"))
    def check(frame: FrameSpec) = Validator.validate(spec(frame = frame, aggs = acc), schema)
    // "2" written for "2 preceding": start 2 > end 0
    for (ft <- Seq(FrameType.Row, FrameType.Range)) {
      assert(check(FrameSpec(ft, Some(2L), Some(0L))).map(_.message) ==
        Seq("Window frame start 2 must not be after frame end 0."))
      assert(check(FrameSpec(ft, Some(5L), Some(-5L)))
        .exists(_.message.contains("start 5 must not be after frame end -5")))
      // equal bounds and the unbounded sentinels stay valid
      assert(check(FrameSpec(ft, Some(3L), Some(3L))).isEmpty)
      assert(check(FrameSpec(ft, Some(-3L), Some(-3L))).isEmpty)
      assert(check(FrameSpec(ft)).isEmpty)
      assert(check(FrameSpec(ft, unboundedPreceding = true, unboundedFollowing = true)).isEmpty)
      assert(check(FrameSpec(ft, Some(5L), unboundedFollowing = true)).isEmpty)
      assert(check(FrameSpec(ft, unboundedPreceding = true, following = Some(-5L))).isEmpty)
    }
  }

  test("a ROW bound past ±2147483647 is rejected; the unbounded sentinels are not") {
    def acc = Seq(AggregateSpec("a", WindowFn.Accumulate, "v"))
    def check(frame: FrameSpec) = Validator.validate(spec(frame = frame, aggs = acc), schema).map(_.message)
    val limit = Int.MaxValue.toLong
    assert(check(FrameSpec(FrameType.Row, Some(-limit), Some(limit))).isEmpty)
    assert(check(FrameSpec(FrameType.Row, unboundedPreceding = true, unboundedFollowing = true)).isEmpty)
    // -2147483648 is a bound Spark's Column API takes, but its SQL text
    // `2147483648 PRECEDING` fails analysis
    for (b <- Seq(-limit - 1, -3000000000L, limit + 1, 3000000000L)) {
      val frame = if (b < 0) FrameSpec(FrameType.Row, Some(b), Some(0L)) else FrameSpec(FrameType.Row, Some(0L), Some(b))
      assert(check(frame) == Seq(s"ROW frame bound $b must lie within -2147483647 and 2147483647."))
    }
    assert(check(FrameSpec(FrameType.Row, Some(-3000000000L), Some(3000000000L))).size == 2)
  }

  test("a RANGE offset over an INT order key must fit in an INT") {
    def acc = Seq(AggregateSpec("a", WindowFn.Accumulate, "v"))
    def check(key: String, frame: FrameSpec) =
      Validator.validate(spec(order = Seq(OrderSpec(key)), frame = frame, aggs = acc), schema).map(_.message)
    assert(check("i", FrameSpec(FrameType.Range, Some(Int.MinValue.toLong), Some(Int.MaxValue.toLong))).isEmpty)
    for (b <- Seq(Int.MinValue - 1L, -3000000000L, Int.MaxValue + 1L, 3000000000L)) {
      val frame = if (b < 0) FrameSpec(FrameType.Range, Some(b), Some(0L)) else FrameSpec(FrameType.Range, Some(0L), Some(b))
      assert(check("i", frame) == Seq(s"RANGE frame offset $b does not fit the int order field 'i'."))
      // a DOUBLE order key takes it, and so does an unbounded frame over the INT key
      assert(check("v", frame).isEmpty)
    }
    assert(check("i", FrameSpec(FrameType.Range, unboundedPreceding = true, unboundedFollowing = true)).isEmpty)
  }

  test("MEDIAN takes any numeric input, and no string") {
    // DuckDB's quantile_cont has no VARCHAR overload, and on Spark one
    // non-numeric string fails the whole job at run time
    val wide = StructType(schema.fields ++ Seq(
      StructField("b", BooleanType), StructField("d", DateType),
      StructField("dec", DecimalType(10, 2)), StructField("l", LongType), StructField("sh", ShortType)))
    def median(f: String) = Validator.validate(
      spec(aggs = Seq(AggregateSpec("m", WindowFn.Median, f))), wide)
    for (f <- Seq("v", "i", "dec", "l", "sh")) assert(median(f).isEmpty, f)
    for (f <- Seq("s", "b", "d", "ts"))
      assert(median(f) == Seq(ValidationFailure(s"Field '$f' has type ${wide(f).dataType.simpleString} " +
        "which is not supported by function MEDIAN (alias 'm').", "Supported types are: numeric types.")))
  }

  test("an alias replacing a column that a later aggregate or the clauses read is rejected") {
    def check(order: Seq[OrderSpec], aggs: AggregateSpec*) =
      Validator.validate(spec(order = order, aggs = aggs), schema).map(_.message)
    val failure = "Alias 'v' replaces an input field that a later aggregate or the partition or order clause reads."
    // read by a later aggregate as its field
    assert(check(Seq(OrderSpec("i")), AggregateSpec("v", WindowFn.Rank, "i"),
      AggregateSpec("x", WindowFn.First, "v")) == Seq(failure))
    // named by the order or the partition clause, with an aggregate after it
    assert(check(Seq(OrderSpec("v")), AggregateSpec("v", WindowFn.Rank, "i"),
      AggregateSpec("x", WindowFn.Rank, "i")) == Seq(failure))
    assert(Validator.validate(spec(parts = Seq("k"), order = Seq(OrderSpec("i")), aggs = Seq(
      AggregateSpec("k", WindowFn.Rank, "i"), AggregateSpec("x", WindowFn.Rank, "i"))), schema)
      .exists(_.message.startsWith("Alias 'k' replaces an input field")))
    // the last aggregate may replace what it reads (the reference's e2e fixture)
    assert(check(Seq(OrderSpec("v")), AggregateSpec("x", WindowFn.Rank, "i"),
      AggregateSpec("v", WindowFn.First, "v")).isEmpty)
    // a replaced column nothing later reads is fine, as is an earlier reader
    assert(check(Seq(OrderSpec("i")), AggregateSpec("v", WindowFn.Rank, "i"),
      AggregateSpec("x", WindowFn.First, "s")).isEmpty)
    assert(check(Seq(OrderSpec("i")), AggregateSpec("x", WindowFn.First, "v"),
      AggregateSpec("v", WindowFn.Rank, "i")).isEmpty)
  }

  test("numberOfPartitions below 1 is rejected beside the spec's other failures") {
    for (n <- Seq(0, -1)) {
      val fs = Validator.validate(
        spec(aggs = Seq(AggregateSpec("r", WindowFn.Rank, "gone"))).copy(numberOfPartitions = Some(n)), schema)
      assert(fs.map(_.message) == Seq(s"Number of partitions $n must be positive.",
        "Aggregate field 'gone' (alias 'r') must exist in input schema."))
      assert(fs.head.correctiveAction.nonEmpty)
    }
    assert(Validator.validate(
      spec(aggs = Seq(AggregateSpec("r", WindowFn.Rank, "v"))).copy(numberOfPartitions = Some(1)), schema).isEmpty)
  }

  test("duplicate aliases on hand-built specs rejected") {
    val fs = Validator.validate(spec(aggs = Seq(
      AggregateSpec("x", WindowFn.Rank, "v"), AggregateSpec("x", WindowFn.DenseRank, "v"))), schema)
    assert(fs.exists(_.message.contains("same alias 'x'")))
  }
}
