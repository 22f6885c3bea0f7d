package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
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

  /** A valid argument list for each function. */
  private def args(fn: WindowFn): Seq[String] = fn match {
    case WindowFn.NTile => Seq("2")
    case WindowFn.DiscretePercentile | WindowFn.ContinuousPercentile => Seq("0.5")
    case WindowFn.Lead | WindowFn.Lag => Seq("1")
    case _ => Seq.empty
  }

  private def runOne(agg: AggregateSpec,
      frame: Option[FrameSpec] = None,
      order: Seq[OrderSpec] = Seq(OrderSpec("ord"))): Map[(String, Int), Any] = {
    val out = WindowEngine.run(df, WindowQuerySpec(Seq("k"), order, frame, Seq(agg)))
    out.collect().map(r => (r.getString(0), r.getInt(1)) -> r.get(3)).toMap
  }

  test("ROW frame bounds: signed preceding/current row") {
    val m = runOne(AggregateSpec("s", WindowFn.Accumulate, "ord"),
      Some(FrameSpec(FrameType.Row, -1L, 0L)))
    assert(m(("a", 1)) == 1 && m(("a", 2)) == 3 && m(("a", 3)) == 5 && m(("a", 4)) == 7)
  }

  test("unbounded sentinels map to full partition") {
    val m = runOne(AggregateSpec("s", WindowFn.Accumulate, "ord"),
      Some(FrameSpec(FrameType.Row, FrameSpec.UnboundedPreceding, FrameSpec.UnboundedFollowing)))
    assert(m(("a", 1)) == 10 && m(("a", 4)) == 10 && m(("b", 2)) == 3)
  }

  test("RANGE frame uses value distance on the order key") {
    // order by ord, range [-1, 0]: at ord=3 includes ord 2 and 3
    val m = runOne(AggregateSpec("s", WindowFn.Accumulate, "ord"),
      Some(FrameSpec(FrameType.Range, -1L, 0L)))
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
    // interval, so the kernel accepts numeric input only, and the validator
    // rejects such a spec before Spark analyses it. A string is not cast:
    // one non-numeric value would fail the whole job at run time
    val odd = spark.sql(
      """SELECT 'a' AS k, 1 AS ord, DATE'2024-01-01' AS d, '1.5' AS s,
        |       make_dt_interval(0, 0, 0, 1.5) AS dt, make_ym_interval(1, 2) AS ym""".stripMargin)
    val running = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("ord")
    for (field <- Seq("d", "s", "dt", "ym")) {
      val e = intercept[GraftValidationException] {
        WindowEngine.run(odd, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
          aggregates = Seq(AggregateSpec("med", WindowFn.Median, field))))
      }
      assert(e.failures.map(_.message) == Seq(s"Field '$field' has type ${odd.schema(field).dataType.simpleString} " +
        "which is not supported by function MEDIAN (alias 'med')."))
      // the kernel itself still refuses them at analysis
      val kernel = GraftColumnBridge.column(ExactPercentileAgg(
        GraftColumnBridge.expression(org.apache.spark.sql.functions.col(field)), 0.5, discrete = false)
        .toAggregateExpression())
      val ae = intercept[org.apache.spark.sql.AnalysisException] {
        odd.select(kernel.over(running)).queryExecution.assertAnalyzed()
      }
      assert(ae.getMessage.contains("DATATYPE_MISMATCH"), ae.getMessage)
    }
  }

  test("multiple aggregates share one window and append in order; small: no shuffle") {
    val out = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(
        AggregateSpec("r", WindowFn.Rank, "ord"),
        AggregateSpec("rn", WindowFn.RowNumber, "ord"))))
    assert(out.columns.toSeq == Seq("k", "ord", "v", "r", "rn"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert("Coalesce 1\\b".r.findAllIn(plan).size == 1, plan)
    assert("(?m)^\\s*\\+?-? ?Window ".r.findAllIn(plan).size <= 2) // rank+row_number may fuse
  }

  /** Every function once over v: the 13 an ordered spec takes over (k, ord),
    * and CONTINUOUS_PERCENTILE over k alone. */
  private def everyFunction: Seq[WindowQuerySpec] = {
    val (unordered, ordered) = WindowFn.all.map(fn => AggregateSpec(fn.fnName.toLowerCase, fn, "v", args(fn)))
      .partition(_.fn == WindowFn.ContinuousPercentile)
    Seq(WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = ordered),
      WindowQuerySpec(Seq("k"), aggregates = unordered))
  }

  private def sortedRows(out: DataFrame): Seq[Row] =
    out.orderBy("k", "ord").collect().toSeq

  test("an input above the one-task size keeps its one shuffle and gives the one-task plan's rows") {
    // 40k rows over 3 keys, ord unique (tie-free), every 7th v null
    val big = (0 until 40000).map(i => (s"k${i % 3}", i, if (i % 7 == 0) None else Some((i * 37 % 1009) / 8.0)))
      .toDF("k", "ord", "v")
    assert(big.queryExecution.analyzed.stats.sizeInBytes > 256 * 1024)
    for (spec <- everyFunction) {
      val shuffled = WindowEngine.run(big, spec)
      val plan = shuffled.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
      assert(!plan.contains("Coalesce"), plan)
      val oneTask = WindowEngine.run(big.coalesce(1), spec)
      assert(!oneTask.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(sortedRows(shuffled) == sortedRows(oneTask), spec)
    }
  }

  test("a small input in 3 partitions runs as one task and gives the emitted Spark SQL's rows") {
    GraftExtensions.register(spark) // the Spark dialect's DISCRETE_PERCENTILE
    val split = df.repartition(3)
    split.createOrReplaceTempView("engine_split")
    for (spec <- everyFunction) {
      val out = WindowEngine.run(split, spec)
      val plan = out.queryExecution.executedPlan.toString
      // the round-robin exchange is the input's own; the window adds none
      assert(!plan.contains("Exchange hashpartitioning") && plan.contains("Coalesce 1"), plan)
      assert(out.rdd.getNumPartitions == 1)
      val viaSql = spark.sql(SqlEmitter.emit(spec, "engine_split", split.schema))
      assert(sortedRows(out) == sortedRows(viaSql), spec)
    }
  }

  test("run installs its window functions on a session without them, once, and plans the kernel") {
    import org.apache.spark.sql.GraftFunctionBridge
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile}
    // a new session shares the context but not the function registry
    val fresh = spark.newSession()
    val names = WindowExtensions.descriptions.map(_._1)
    assert(names.map(_.funcName) == Seq("graft_percentile", "graft_percentile_disc"))
    assert(names.forall(GraftFunctionBridge.lookup(fresh, _).isEmpty))
    val in = fresh.createDataFrame(df.rdd, df.schema)
    val want = everyFunction.map(spec => sortedRows(WindowEngine.run(df, spec)))
    val outs = everyFunction.map(WindowEngine.run(in, _))
    assert(outs.map(sortedRows) == want)
    val aggs = outs.flatMap(_.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case a: AggregateExpression => a.aggregateFunction
    })))
    assert(aggs.collect { case k: ExactPercentileAgg => (k.discrete, k.percentile) }.sorted ==
      Seq((false, 0.5), (false, 0.5), (true, 0.5)), aggs) // MEDIAN, CONTINUOUS_PERCENTILE, DISCRETE_PERCENTILE
    assert(!aggs.exists(_.isInstanceOf[Percentile]), aggs)
    // a second run registers nothing: a function already there under the
    // same class stays the one registered
    val ident = names.head
    val (_, info, builder) = WindowExtensions.descriptions.head
    val copy = new ExpressionInfo(info.getClassName, null, ident.funcName, info.getUsage, "")
    GraftFunctionBridge.register(fresh, ident, copy, builder)
    WindowEngine.run(in, everyFunction.last)
    assert(GraftFunctionBridge.lookup(fresh, ident).exists(_ eq copy))
    assert(fresh.catalog.listFunctions().collect().count(f => names.exists(_.funcName == f.name)) == 2)
    // a foreign function of the same name is replaced by the kernel
    GraftFunctionBridge.register(fresh, ident, new ExpressionInfo("other.Fn", ident.funcName), builder)
    assert(sortedRows(WindowEngine.run(in, everyFunction.last)) == want.last)
    assert(GraftFunctionBridge.lookup(fresh, ident).map(_.getClassName) == Some(info.getClassName))
  }

  /** `spec` over `in` runs on the engine, on its emitted Spark SQL and on
    * DuckDB, and each gives the engine's rows of `spec` over `in` with its INT
    * column `key` cast to LONG. */
  private def assertRunsAsOverLong(in: DataFrame, key: String, specs: Seq[WindowQuerySpec]): Unit = {
    def text(rows: Seq[Row]) = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val long = in.withColumn(key, org.apache.spark.sql.functions.col(key).cast(LongType))
    in.createOrReplaceTempView("int_key")
    val engine = specs.map(spec => WindowEngine.run(in, spec).collect().toSeq)
    for ((spec, rows) <- specs.zip(engine)) {
      val want = text(WindowEngine.run(long, spec).collect().toSeq)
      assert(text(rows) == want, spec)
      assert(text(spark.sql(SqlEmitter.emit(spec, "int_key", in.schema)).collect().toSeq) == want, spec)
    }
    val duck = DuckDbOracle.viaDuckDb(in, "int_key",
      specs.map(SqlEmitter.emit(_, "int_key", in.schema, SqlEmitter.Dialect.DuckDb)))
    for (((spec, rows), d) <- specs.zip(engine).zip(duck))
      assert(DuckDbOracle.duckMismatch(WindowEngine.outputSchema(in.schema, spec), rows, d).isEmpty, s"$d: $spec")
  }

  test("run rejects a ROW bound past ±2147483647 and runs a RANGE offset past its INT key") {
    def acc(frame: FrameSpec) = WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), Some(frame),
      Seq(AggregateSpec("s", WindowFn.Accumulate, "v")))
    for (frame <- Seq(FrameSpec(FrameType.Row, -(1L << 31), 0L), FrameSpec(FrameType.Row, 0L, 3000000000L))) {
      val e = intercept[GraftValidationException](WindowEngine.run(df, acc(frame)))
      assert(e.failures.size == 1, e.getMessage)
    }
    assertRunsAsOverLong(df, "ord", Seq(
      FrameSpec(FrameType.Range, -3000000000L, 0L), FrameSpec(FrameType.Range, 0L, 1L << 31),
      FrameSpec(FrameType.Range, -(1L << 31), Int.MaxValue.toLong), FrameSpec(FrameType.Range, -1L, 3000000000L)
    ).map(acc))
  }

  test("RANGE BETWEEN CURRENT ROW AND 2147483647 FOLLOWING over INT keys runs with one result on every backend") {
    // Spark adds the INT key and the offset in INT: ordered by the key itself,
    // this frame fails with ARITHMETIC_OVERFLOW from key 1
    val keys = (0 until 20).map(k => (if (k % 2 == 0) "even" else "odd", k)).toDF("p", "k")
    val spec = WindowQuerySpec(Seq("p"), Seq(OrderSpec("k")), Some(FrameSpec(FrameType.Range, 0L, Int.MaxValue.toLong)),
      Seq(AggregateSpec("s", WindowFn.Accumulate, "k")))
    assert(SqlEmitter.emit(spec, "t", keys.schema).contains(
      "ORDER BY CAST(`k` AS BIGINT) ASC RANGE BETWEEN CURRENT ROW AND 2147483647 FOLLOWING"))
    val sums = WindowEngine.run(keys, spec).collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(sums == (0 until 20).map(k => k -> (k until 20 by 2).sum).toMap)
    assertRunsAsOverLong(keys, "k", Seq(spec))
  }

  test("one select: the analyzed plan has one Window node and the same shape for 1 aggregate as for 13") {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Window}
    // every function an ordered spec takes, two of them cast to their declared type
    val aggs = WindowFn.all.filterNot(_ == WindowFn.ContinuousPercentile)
      .map(fn => AggregateSpec(fn.fnName.toLowerCase, fn, "ord", args(fn)))
    def shape(aggs: Seq[AggregateSpec]) = {
      val plan = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = aggs))
        .queryExecution.analyzed
      (plan.collect { case w: Window => w }.size, plan.collect { case p: Project => p }.size)
    }
    assert(aggs.size == 13)
    val (windows, projects) = shape(aggs)
    assert(windows == 1)
    assert(shape(aggs.take(1)) == ((1, projects)))
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
    // a count below 1 fails validation, not Spark's repartition
    val e = intercept[GraftValidationException] {
      WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
        aggregates = Seq(AggregateSpec("r", WindowFn.Rank, "ord")), numberOfPartitions = Some(0)))
    }
    assert(e.failures.map(_.message) == Seq("Number of partitions 0 must be positive."))
  }
}
