package graft

import org.apache.spark.sql.{GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ExactPercentileAgg

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // (k, ord, v) — two partitions, v has one null in partition a
  private lazy val df = Seq(
    ("a", 1, Option(10.0)), ("a", 2, None), ("a", 3, Option(30.0)), ("a", 4, Option(20.0)),
    ("b", 1, Option(5.0)), ("b", 2, Option(7.0))
  ).toDF("k", "ord", "v")

  private def runOne(agg: AggregateSpec,
      frame: FrameSpec = FrameSpec(),
      order: Seq[OrderSpec] = Seq(OrderSpec("ord"))): Map[(String, Int), Any] = {
    val out = WindowEngine.run(df, WindowQuerySpec(Seq("k"), order, frame, Seq(agg)))
    out.collect().map(r => (r.getString(0), r.getInt(1)) -> r.get(3)).toMap
  }

  test("ROW frame bounds: signed preceding/current row") {
    val m = runOne(AggregateSpec("s", WindowFn.Accumulate, "ord"),
      FrameSpec(FrameType.Row, Some(-1L), Some(0L)))
    assert(m(("a", 1)) == 1 && m(("a", 2)) == 3 && m(("a", 3)) == 5 && m(("a", 4)) == 7)
  }

  test("unbounded sentinels map to full partition") {
    val m = runOne(AggregateSpec("s", WindowFn.Accumulate, "ord"),
      FrameSpec(FrameType.Row, unboundedPreceding = true, unboundedFollowing = true))
    assert(m(("a", 1)) == 10 && m(("a", 4)) == 10 && m(("b", 2)) == 3)
  }

  test("RANGE frame uses value distance on the order key") {
    // order by ord, range [-1, 0]: at ord=3 includes ord 2 and 3
    val m = runOne(AggregateSpec("s", WindowFn.Accumulate, "ord"),
      FrameSpec(FrameType.Range, Some(-1L), Some(0L)))
    assert(m(("a", 3)) == 5)
  }

  test("ACCUMULATE output type = input type (int stays int, not long)") {
    val out = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(AggregateSpec("s", WindowFn.Accumulate, "ord"))))
    assert(out.schema("s").dataType == IntegerType)
  }

  test("PERCENT_RANK output honors declared FLOAT type") {
    val out = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(AggregateSpec("pr", WindowFn.PercentRank, "ord"))))
    assert(out.schema("pr").dataType == FloatType)
  }

  test("FIRST ignoreNulls default-true skips leading null; false keeps it") {
    // order desc by ord in partition a: v = 20.0, 30.0, null, 10.0
    val desc = Seq(OrderSpec("ord", SortDirection.Descending))
    val skipped = runOne(AggregateSpec("f", WindowFn.First, "v"), order = desc)
    assert(skipped(("a", 1)) == 20.0) // running first from ord=4 down
    // LAST over running frame with ignoreNulls=false: at ord=2 the current row's null IS the last
    val kept = runOne(AggregateSpec("f", WindowFn.Last, "v", ignoreNulls = false))
    assert(kept(("a", 2)) == null)
    val lastSkip = runOne(AggregateSpec("f", WindowFn.Last, "v"))
    assert(lastSkip(("a", 2)) == 10.0) // null skipped → previous value
  }

  test("FIRST/LAST ignoreNulls OR'd with boolean arg (reference quirk)") {
    // config says false but args[0]=true → true wins
    val m = runOne(AggregateSpec("f", WindowFn.Last, "v", Seq("true"), ignoreNulls = false))
    assert(m(("a", 2)) == 10.0)
    // non-boolean arg parses like Boolean.parseBoolean (false), never throws —
    // the e2e fixture passes "1" here
    val n = runOne(AggregateSpec("f", WindowFn.Last, "v", Seq("1"), ignoreNulls = false))
    assert(n(("a", 2)) == null)
  }

  test("MEDIAN is exact and runs over the running frame when ordered") {
    val m = runOne(AggregateSpec("med", WindowFn.Median, "ord"))
    assert(m(("a", 4)) == 2.5) // median of 1,2,3,4
    assert(m(("a", 3)) == 2.0)
  }

  test("DISCRETE_PERCENTILE = smallest value with cume_dist >= p over the RUNNING frame") {
    // reference UDAF runs .over(spec) with the order clause → default
    // running RANGE frame: each row sees its ordered prefix (incl. peers)
    val m = runOne(AggregateSpec("dp", WindowFn.DiscretePercentile, "ord", Seq("0.5")),
      order = Seq(OrderSpec("ord")))
    assert(m(("a", 1)) == 1)                     // prefix [1] → 1
    assert(m(("a", 2)) == 1)                     // prefix [1,2] → 1 (cd(1)=0.5)
    assert(m(("a", 4)) == 2)                     // prefix [1,2,3,4] → 2 (cd(2)=0.5)
    assert(m(("b", 2)) == 1)                     // prefix [1,2] → 1
    // p=1.0 → running max; output type preserved (int)
    val mx = runOne(AggregateSpec("dp", WindowFn.DiscretePercentile, "ord", Seq("1.0")),
      order = Seq(OrderSpec("ord")))
    assert(mx(("a", 2)) == 2 && mx(("a", 4)) == 4)
  }

  test("DISCRETE_PERCENTILE aggregate survives the shuffle serialize path (groupBy)") {
    // the engine only exercises the window path; a plain groupBy partial-
    // aggregates per input partition and merges across the exchange, which
    // runs serialize/deserialize + merge — pin that path too, in both kernel
    // modes, over DOUBLE and over LONG keys above 2^53 (no double rounding).
    // Group "gbig" holds two longs that round to one double: Spark still
    // interpolates between them, and the result is not that double.
    import org.apache.spark.sql.functions.{col, lit, percentile}
    val big = 1L << 53
    val many = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1 to 1000).map(i => Row(s"g${i % 3}", (i % 50).toDouble, big + (i % 37))) ++
          Seq(Row("gbig", 1.0, (1L << 54) + 3), Row("gbig", 2.0, (1L << 54) + 5)), 8),
      StructType(Seq(StructField("g", StringType), StructField("x", DoubleType),
        StructField("y", LongType))))
    def kernel(c: String, p: Double, discrete: Boolean) = GraftColumnBridge.column(
      ExactPercentileAgg(GraftColumnBridge.expression(col(c)), p, discrete).toAggregateExpression())
    val got = many.groupBy("g").agg(
        kernel("x", 0.5, discrete = true).as("dp"),
        kernel("y", 0.5, discrete = true).as("dpl"),
        kernel("x", 0.3, discrete = false).as("cp"),
        percentile(col("x"), lit(0.3)).as("cp_ref"),
        kernel("y", 0.3, discrete = false).as("cpl"),
        percentile(col("y"), lit(0.3)).as("cpl_ref"))
      .collect().map(r => r.getString(0) -> r).toMap
    // per group: values are (i%50) and 2^53+(i%37) for i ≡ group (mod 3) —
    // compute the discrete expectation directly
    (0 until 3).foreach { g =>
      val is = (1 to 1000).filter(_ % 3 == g)
      def disc[T: Ordering](vs: Seq[T]): T = vs.sorted.apply((math.ceil(0.5 * vs.size).toInt - 1).max(0))
      val r = got(s"g$g")
      assert(r.getDouble(1) == disc(is.map(i => (i % 50).toDouble)))
      assert(r.getLong(2) == disc(is.map(i => big + (i % 37))))
      assert(r.getLong(2) > big)
    }
    // continuous mode: Spark's built-in percentile is the reference
    for (r <- got.values) {
      assert(r.getDouble(3) == r.getDouble(4))
      assert(r.getDouble(5) == r.getDouble(6))
    }
    assert(got("gbig").getLong(2) == (1L << 54) + 3)
    assert(got("gbig").getDouble(6) != ((1L << 54) + 4).toDouble)
  }

  test("DISCRETE_PERCENTILE skips null inputs (reference UDAF update:104-107)") {
    // v in partition a: 10.0, null(ord=2), 30.0, 20.0 — the null row must
    // carry the percentile of the non-null prefix, not shift the denominator
    val m = runOne(AggregateSpec("dp", WindowFn.DiscretePercentile, "v", Seq("0.5")),
      order = Seq(OrderSpec("ord")))
    assert(m(("a", 1)) == 10.0)
    assert(m(("a", 2)) == 10.0) // prefix values {10.0} — null skipped
    assert(m(("a", 3)) == 10.0) // {10.0, 30.0} → cd(10)=0.5
    assert(m(("a", 4)) == 20.0) // {10.0, 30.0, 20.0} → cd(20)=2/3
  }

  test("MEDIAN rejects DATE and ANSI interval inputs at analysis") {
    // the declared output type is DOUBLE; an interval median would return an
    // interval, so the kernel accepts numeric input only
    val odd = spark.sql(
      """SELECT 'a' AS k, 1 AS ord, DATE'2024-01-01' AS d,
        |       make_dt_interval(0, 0, 0, 1.5) AS dt, make_ym_interval(1, 2) AS ym""".stripMargin)
    for (field <- Seq("d", "dt", "ym")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        WindowEngine.run(odd, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
          aggregates = Seq(AggregateSpec("med", WindowFn.Median, field))))
      }
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
  }

  test("multiple aggregates share one window (single shuffle) and append in order") {
    val out = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(
        AggregateSpec("r", WindowFn.Rank, "ord"),
        AggregateSpec("rn", WindowFn.RowNumber, "ord"))))
    assert(out.columns.toSeq == Seq("k", "ord", "v", "r", "rn"))
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1)
    assert("(?m)^\\s*\\+?-? ?Window ".r.findAllIn(plan).size <= 2) // rank+row_number may fuse
  }

  test("alias matching an input column replaces it in place (e2e pipeline behavior)") {
    val out = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(AggregateSpec("v", WindowFn.First, "v"))))
    assert(out.columns.toSeq == Seq("k", "ord", "v"))
  }

  test("outputSchema = input ++ aliases with declared or inherited types") {
    val schema = WindowEngine.outputSchema(df.schema, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(
        AggregateSpec("r", WindowFn.Rank, "ord"),
        AggregateSpec("pr", WindowFn.PercentRank, "ord"),
        AggregateSpec("nxt", WindowFn.Lead, "v", Seq("1")))))
    assert(schema.fieldNames.toSeq == Seq("k", "ord", "v", "r", "pr", "nxt"))
    assert(schema("r").dataType == IntegerType)
    assert(schema("pr").dataType == FloatType)
    assert(schema("nxt").dataType == DoubleType) // inherits input type
    // the executed result carries exactly the declared types: all 14
    // functions over int, long, float and double value columns
    val typed = Seq((1, 1, 1L, 1.5f, 1.5), (1, 2, 2L, 2.5f, 2.5), (2, 1, 3L, 3.5f, 3.5))
      .toDF("k", "ord", "iv", "lv", "fv").withColumn("dv", $"fv".cast(DoubleType))
    val values = Seq("iv", "lv", "fv", "dv")
    def args(fn: WindowFn): Seq[String] = fn match {
      case WindowFn.NTile => Seq("2")
      case WindowFn.DiscretePercentile | WindowFn.ContinuousPercentile => Seq("0.5")
      case WindowFn.Lead | WindowFn.Lag => Seq("1")
      case _ => Seq.empty
    }
    def aggs(fns: Seq[WindowFn]) = for (fn <- fns; v <- values)
      yield AggregateSpec(s"${fn.fnName}_$v", fn, v, args(fn))
    val (unordered, ordered) = WindowFn.all.partition(_ == WindowFn.ContinuousPercentile)
    for (spec <- Seq(
        WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = aggs(ordered)),
        WindowQuerySpec(Seq("k"), aggregates = aggs(unordered)))) {
      def types(st: StructType) = st.fields.map(f => f.name -> f.dataType).toSeq
      assert(types(WindowEngine.run(typed, spec).schema) ==
        types(WindowEngine.outputSchema(typed.schema, spec)))
    }
  }

  test("validation failures throw with all failures accumulated") {
    val e = intercept[GraftValidationException] {
      WindowEngine.run(df, WindowQuerySpec(Seq("missing"), Seq.empty,
        aggregates = Seq(AggregateSpec("r", WindowFn.Rank, "gone"))))
    }
    assert(e.failures.size == 3) // bad partition, bad field, missing order
  }

  test("lineage describes each generated field with its source and clause") {
    val lin = WindowEngine.lineage(WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(
        AggregateSpec("r", WindowFn.Rank, "ord"),
        AggregateSpec("nxt", WindowFn.Lead, "v", Seq("2")))))
    assert(lin.map(l => (l.outputField, l.inputField)) == Seq(("r", "ord"), ("nxt", "v")))
    assert(lin(1).description.contains("LEAD(2)"))
    assert(lin(0).description.contains("partitioned by k"))
    assert(lin(0).description.contains("ordered by ord Ascending"))
  }

  test("numberOfPartitions repartitions the output") {
    val out = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(AggregateSpec("r", WindowFn.Rank, "ord")),
      numberOfPartitions = Some(3)))
    assert(out.rdd.getNumPartitions == 3)
  }
}
