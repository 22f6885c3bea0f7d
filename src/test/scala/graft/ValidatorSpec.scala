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

  test("duplicate aliases on hand-built specs rejected") {
    val fs = Validator.validate(spec(aggs = Seq(
      AggregateSpec("x", WindowFn.Rank, "v"), AggregateSpec("x", WindowFn.DenseRank, "v"))), schema)
    assert(fs.exists(_.message.contains("same alias 'x'")))
  }
}
