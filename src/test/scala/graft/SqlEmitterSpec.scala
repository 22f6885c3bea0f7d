package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The emitted SQL must be a drop-in for the engine: running the Spark
  * dialect through spark.sql (with [[GraftExtensions]] registered, for
  * `graft_percentile_disc`) yields the exact rows (values AND schema) of
  * WindowEngine.run for the same spec. BigQuery dialect is pinned against
  * the reference's pushdown templates (WindowAggregation.java:75-93). */
class SqlEmitterSpec extends AnyFunSuite {
  private lazy val spark = { GraftExtensions.register(TestSpark.spark); TestSpark.spark }
  import spark.implicits._
  import DuckDbOracle.{duckMismatch, viaDuckDb}

  private lazy val df = Seq(
    ("a", 1, Option(10.0)), ("a", 2, Option.empty[Double]), ("a", 3, Option(30.0)),
    ("a", 4, Option(20.0)), ("b", 1, Option(5.0)), ("b", 2, Option(7.0))
  ).toDF("k", "ord", "v")

  /** A frame bound of the randomized tests: a small offset or the current
    * row, an offset past an INT (Spark rejects it in a ROW frame; over an INT
    * key, a RANGE frame orders by the key as a BIGINT), or its side's
    * unbounded sentinel. */
  private def boundGen(unbounded: Long): Gen[Long] = Gen.frequency(
    5 -> Gen.oneOf(0L, -3L, -1L, 2L, 4L),
    4 -> Gen.oneOf(-(1L << 31), 1L << 31, -3000000000L, 3000000000L),
    2 -> Gen.const(unbounded))

  /** No frame (weight `noFrame` against 2), or a ROW or RANGE frame over
    * [[boundGen]]'s bounds. */
  private def frameGen(noFrame: Int): Gen[Option[FrameSpec]] = Gen.frequency(
    noFrame -> Gen.const(None),
    2 -> (for {
      ft <- Gen.oneOf(FrameType.Row, FrameType.Range)
      start <- boundGen(FrameSpec.UnboundedPreceding)
      end <- boundGen(FrameSpec.UnboundedFollowing)
    } yield Some(FrameSpec(ft, start, end))))

  private def assertParity(spec: WindowQuerySpec): Unit = {
    df.createOrReplaceTempView("t")
    val sql = SqlEmitter.emit(spec, "t", df.schema)
    val viaSql = spark.sql(sql)
    val viaEngine = WindowEngine.run(df, spec)
    assert(viaSql.schema == viaEngine.schema, s"schema parity for: $sql")
    val key = Seq("k", "ord")
    assert(viaSql.orderBy(key.head, key.tail: _*).collect().toSeq ==
      viaEngine.orderBy(key.head, key.tail: _*).collect().toSeq, s"row parity for: $sql")
  }

  test("rank family + cume_dist + ntile round-trip through spark.sql") {
    assertParity(WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
      AggregateSpec("r", WindowFn.Rank, "ord"),
      AggregateSpec("d", WindowFn.DenseRank, "ord"),
      AggregateSpec("pr", WindowFn.PercentRank, "ord"),
      AggregateSpec("t4", WindowFn.NTile, "ord", Seq("3")),
      AggregateSpec("rn", WindowFn.RowNumber, "ord"),
      AggregateSpec("cd", WindowFn.CumulativeDistribution, "ord"))))
  }

  test("lead/lag/first/last honor offsets and ignore-nulls quirks") {
    assertParity(WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
      AggregateSpec("nxt", WindowFn.Lead, "v", Seq("1")),
      AggregateSpec("prv", WindowFn.Lag, "v", Seq("2")),
      AggregateSpec("f_skip", WindowFn.First, "v"),                            // default ignoreNulls
      AggregateSpec("f_keep", WindowFn.First, "v", ignoreNulls = false),
      AggregateSpec("l_arg", WindowFn.Last, "v", Seq("true"), ignoreNulls = false)))) // arg ORs in
  }

  test("accumulate + median with frames, including in-place overwrite") {
    assertParity(WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      Some(FrameSpec(FrameType.Row, -1L, 0L)),
      aggregates = Seq(AggregateSpec("run", WindowFn.Accumulate, "ord"))))
    assertParity(WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), // MEDIAN: frame NOT_SUPPORTED
      aggregates = Seq(AggregateSpec("med", WindowFn.Median, "ord"))))
    // alias == input column → replaced in place, both paths
    assertParity(WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(AggregateSpec("v", WindowFn.Accumulate, "ord"))))
  }

  test("descending order and multi-column partitions emit correctly") {
    assertParity(WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord", SortDirection.Descending)),
      aggregates = Seq(AggregateSpec("r", WindowFn.Rank, "ord"))))
  }

  test("BigQuery dialect reproduces the reference pushdown templates") {
    val spec = WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
      AggregateSpec("dp", WindowFn.DiscretePercentile, "v", Seq("0.25")),
      AggregateSpec("f", WindowFn.First, "v"),
      AggregateSpec("l", WindowFn.Last, "v", ignoreNulls = false)))
    val sql = SqlEmitter.emit(spec, "t", df.schema, SqlEmitter.Dialect.BigQuery)
    // CONTINUOUS_PERCENTILE takes no order clause
    val cpSql = SqlEmitter.emit(WindowQuerySpec(Seq("k"), aggregates = Seq(
      AggregateSpec("cp", WindowFn.ContinuousPercentile, "v", Seq("0.75")))),
      "t", df.schema, SqlEmitter.Dialect.BigQuery)
    // BigQuery navigation functions: window spec is PARTITION BY only
    assert(sql.contains("PERCENTILE_DISC(`v`, 0.25) OVER (PARTITION BY `k`) AS `dp`"))
    assert(cpSql.contains("PERCENTILE_CONT(`v`, 0.75) OVER (PARTITION BY `k`) AS `cp`"))
    assert(sql.contains("FIRST_VALUE(`v` IGNORE NULLS) OVER (PARTITION BY `k` ORDER BY `ord` ASC)"))
    assert(sql.contains("LAST_VALUE(`v` RESPECT NULLS)"))
    // args[0]="true" ORs into ignoreNulls even when the flag is false —
    // reference template test (WindowAggregationTest.getBQColumnSelectionSQL_last)
    val orSql = SqlEmitter.emit(
      WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
        AggregateSpec("l", WindowFn.Last, "v", Seq("true"), ignoreNulls = false))),
      "t", df.schema, SqlEmitter.Dialect.BigQuery)
    assert(orSql.contains("LAST_VALUE(`v` IGNORE NULLS)"))
    // select list = input columns then appended aliases
    assert(sql.startsWith("SELECT `k`, `ord`, `v`, "))
  }

  test("every dialect rejects what the validator rejects, with its failures, and emits nothing") {
    val specs = Seq(
      WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
        AggregateSpec("r", WindowFn.Rank, "ord"), AggregateSpec("x", WindowFn.Lag, "missing", Seq("1")))),
      WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
        AggregateSpec("t", WindowFn.NTile, "ord", Seq("0")))),
      WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
        AggregateSpec("cp", WindowFn.ContinuousPercentile, "v", Seq("0.5")))))
    for (spec <- specs; dialect <- Seq(SqlEmitter.Dialect.Spark, SqlEmitter.Dialect.BigQuery, SqlEmitter.Dialect.DuckDb)) {
      val want = Validator.validate(spec, df.schema)
      assert(want.nonEmpty)
      val e = intercept[GraftValidationException](SqlEmitter.emit(spec, "t", df.schema, dialect))
      assert(e.failures == want, s"$dialect: ${e.getMessage}")
    }
  }

  test("BigQuery dialect maps cast types to FLOAT64/INT64") {
    val spec = WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
      AggregateSpec("pr", WindowFn.PercentRank, "ord"),
      AggregateSpec("runi", WindowFn.Accumulate, "ord"),   // int input
      AggregateSpec("rund", WindowFn.Accumulate, "v")))    // double input
    val bq = SqlEmitter.emit(spec, "t", df.schema, SqlEmitter.Dialect.BigQuery)
    assert(bq.contains("AS FLOAT64) AS `pr`") && bq.contains("AS INT64) AS `runi`") &&
      bq.contains("AS FLOAT64) AS `rund`"))
    assert(!bq.contains("AS FLOAT)") && !bq.contains("AS DOUBLE)") && !bq.contains("AS INT)"))
    val sp = SqlEmitter.emit(spec, "t", df.schema, SqlEmitter.Dialect.Spark)
    assert(sp.contains("AS FLOAT) AS `pr`") && sp.contains("AS INT) AS `runi`"))
  }

  test("frame bounds render the reference sign convention") {
    val spec = WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      Some(FrameSpec(FrameType.Range, -5L, 3L)),
      Seq(AggregateSpec("s", WindowFn.Accumulate, "ord")))
    val sql = SqlEmitter.emit(spec, "t", df.schema)
    assert(sql.contains("RANGE BETWEEN 5 PRECEDING AND 3 FOLLOWING"))
    // a value-offset RANGE frame orders by an INT key as a BIGINT, except in
    // BigQuery, whose INT64 is one; a ROW frame and a frame without offsets do not
    assert(sql.contains("ORDER BY CAST(`ord` AS BIGINT) ASC RANGE"))
    assert(SqlEmitter.emit(spec, "t", df.schema, SqlEmitter.Dialect.DuckDb)
      .contains("ORDER BY CAST(\"ord\" AS BIGINT) ASC NULLS FIRST RANGE"))
    assert(SqlEmitter.emit(spec, "t", df.schema, SqlEmitter.Dialect.BigQuery).contains("ORDER BY `ord` ASC RANGE"))
    for (frame <- Seq(FrameSpec(FrameType.Row, -5L, 3L), FrameSpec(FrameType.Range, FrameSpec.UnboundedPreceding, 0L)))
      assert(SqlEmitter.emit(spec.copy(frame = Some(frame)), "t", df.schema).contains("ORDER BY `ord` ASC "), frame)
    // ACCUMULATE casts the whole windowed expression back to the input type
    assert(sql.contains("CAST(SUM(`ord`) OVER") && sql.contains("AS INT) AS `s`"))
  }

  test("emitted Spark SQL is engine-parity across randomized specs") {
    val frameless: Seq[AggregateSpec] = Seq(
      AggregateSpec("r", WindowFn.Rank, "ord"),
      AggregateSpec("d", WindowFn.DenseRank, "ord"),
      AggregateSpec("pr", WindowFn.PercentRank, "ord"),
      AggregateSpec("nt", WindowFn.NTile, "ord", Seq("3")),
      AggregateSpec("rn", WindowFn.RowNumber, "ord"),
      AggregateSpec("cd", WindowFn.CumulativeDistribution, "ord"),
      AggregateSpec("le", WindowFn.Lead, "v", Seq("1")),
      AggregateSpec("la", WindowFn.Lag, "v", Seq("2")),
      AggregateSpec("f", WindowFn.First, "v"),
      AggregateSpec("l", WindowFn.Last, "v", ignoreNulls = false),
      AggregateSpec("m", WindowFn.Median, "ord"),
      AggregateSpec("dp", WindowFn.DiscretePercentile, "v", Seq("0.5")),
      AggregateSpec("acc", WindowFn.Accumulate, "ord"))
    val framed: Seq[AggregateSpec] = Seq(
      AggregateSpec("f2", WindowFn.First, "v"),
      AggregateSpec("l2", WindowFn.Last, "v"),
      AggregateSpec("acc2", WindowFn.Accumulate, "ord"))
    val unordered: Seq[AggregateSpec] = Seq(
      AggregateSpec("cp", WindowFn.ContinuousPercentile, "v", Seq("0.25")),
      AggregateSpec("tot", WindowFn.Accumulate, "ord"))
    val specGen: Gen[WindowQuerySpec] = for {
      shape <- Gen.oneOf("frameless", "frameless", "framed", "unordered") // frame-less twice as often
      dir <- Gen.oneOf(SortDirection.Ascending, SortDirection.Descending)
      spec <- shape match {
        case "frameless" =>
          Gen.someOf(frameless).suchThat(_.nonEmpty).map(aggs =>
            WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord", dir)), aggregates = aggs.toSeq))
        case "unordered" =>
          Gen.someOf(unordered).suchThat(_.nonEmpty).map(aggs =>
            WindowQuerySpec(Seq("k"), aggregates = aggs.toSeq))
        case _ => for {
          aggs <- Gen.someOf(framed).suchThat(_.nonEmpty)
          frame <- frameGen(noFrame = 1)
        } yield WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord", dir)), frame, aggs.toSeq)
      }
    } yield spec
    val params = Gen.Parameters.default
    var checked = Seq.empty[WindowQuerySpec]
    for (i <- 0 until 20) specGen.apply(params, org.scalacheck.rng.Seed(i.toLong)).foreach { spec =>
      if (Validator.validate(spec, df.schema).isEmpty) { // skip reference-invalid combos
        assertParity(spec)
        checked :+= spec
      }
    }
    assert(checked.size >= 12, s"only ${checked.size} random specs survived validation — generator too narrow")
    val drawn = checked.flatMap(_.aggregates.map(_.fn)).toSet
    assert(Set[WindowFn](WindowFn.DiscretePercentile, WindowFn.ContinuousPercentile).subsetOf(drawn),
      s"the percentile family was not drawn: $drawn")
  }

  test("DuckDb dialect pins declared-type casts, null ordering, and quantile names") {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("ord", DoubleType),
      StructField("v", IntegerType)))
    val spec = WindowQuerySpec(Seq("k"),
      Seq(OrderSpec("ord", SortDirection.Descending), OrderSpec("v")),
      aggregates = Seq(
        AggregateSpec("rnk", WindowFn.Rank, "ord"),
        AggregateSpec("pr", WindowFn.PercentRank, "ord"),
        AggregateSpec("dp", WindowFn.DiscretePercentile, "v", Seq("0.5")),
        AggregateSpec("acc", WindowFn.Accumulate, "v"),
        AggregateSpec("f", WindowFn.First, "v")))
    val sql = SqlEmitter.emit(spec, "t", schema, SqlEmitter.Dialect.DuckDb)
    // engine-declared output types surface as casts (rank INT, pct REAL,
    // accumulate = input type), Spark's null-order defaults are pinned, and
    // the percentile family maps to DuckDB's quantile functions
    assert(sql.contains("CAST(RANK() OVER (PARTITION BY \"k\" ORDER BY \"ord\" DESC NULLS LAST, \"v\" ASC NULLS FIRST) AS INTEGER) AS \"rnk\""))
    assert(sql.contains("AS REAL) AS \"pr\""))
    assert(sql.contains("quantile_disc(\"v\", 0.5) OVER"))
    assert(sql.contains("CAST(SUM(\"v\") OVER") && sql.contains("AS INTEGER) AS \"acc\""))
    assert(sql.contains("FIRST_VALUE(\"v\" IGNORE NULLS)"))
  }

  test("Spark dialect emits ordered DISCRETE_PERCENTILE as the engine's kernel") {
    // the engine's running-frame ExactPercentileAgg, under its SQL name and
    // the spec's full OVER clause — no whole-partition divergence
    val spec = WindowQuerySpec(Seq("k"), Seq(OrderSpec("v")),
      aggregates = Seq(AggregateSpec("dp", WindowFn.DiscretePercentile, "v", Seq("0.5"))))
    val sql = SqlEmitter.emit(spec, "t", df.schema)
    assert(sql == "SELECT `k`, `ord`, `v`, graft_percentile_disc(`v`, 0.5) " +
      "OVER (PARTITION BY `k` ORDER BY `v` ASC) AS `dp` FROM t")
    assertParity(spec)
    // running, nulls skipped: a → [null]=null, [10]=10, [10,20]=10, [10,20,30]=20; b → 5, 5
    df.createOrReplaceTempView("t")
    val rows = spark.sql(sql).collect().map(r => (r.getString(0), r.getInt(1)) -> r.getAs[Any]("dp")).toMap
    assert(rows == Map(("a", 2) -> null, ("a", 1) -> 10.0, ("a", 4) -> 10.0, ("a", 3) -> 20.0,
      ("b", 1) -> 5.0, ("b", 2) -> 5.0))
  }

  test("every dialect prints the parsed argument, not its spelling") {
    // Java reads all of these as numbers; printed as spelled, 0x1p-1 and the
    // Arabic-Indic digit break Spark's parser, 0.5d and 0x1p-1 DuckDB's
    val unordered = WindowQuerySpec(Seq("k"), aggregates = Seq(
      AggregateSpec("cp", WindowFn.ContinuousPercentile, "v", Seq("0.5d"))))
    val ordered = WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
      AggregateSpec("t", WindowFn.NTile, "ord", Seq("\u0664")),
      AggregateSpec("nxt", WindowFn.Lead, "v", Seq("+1")),
      AggregateSpec("dp", WindowFn.DiscretePercentile, "v", Seq("0x1p-1"))))
    import SqlEmitter.Dialect._
    for ((dialect, v, cp, dp) <- Seq(
        (Spark, "`v`", "percentile(`v`, 0.5)", "graft_percentile_disc(`v`, 0.5)"),
        (BigQuery, "`v`", "PERCENTILE_CONT(`v`, 0.5)", "PERCENTILE_DISC(`v`, 0.5)"),
        (DuckDb, "\"v\"", "quantile_cont(CAST(\"v\" AS DOUBLE), 0.5)", "quantile_disc(\"v\", 0.5)"))) {
      assert(SqlEmitter.emit(unordered, "t", df.schema, dialect).contains(s"$cp OVER"), dialect)
      val sql = SqlEmitter.emit(ordered, "t", df.schema, dialect)
      for (want <- Seq("NTILE(4) OVER", s"LEAD($v, 1) OVER", s"$dp OVER")) assert(sql.contains(want), s"$dialect: $sql")
    }
    assertParity(unordered)
    assertParity(ordered)
  }

  test("every dialect quotes every name") {
    val odd = df.withColumnRenamed("v", "a.b").withColumnRenamed("ord", "o`rd")
    val spec = WindowQuerySpec(Seq("k"), Seq(OrderSpec("o`rd")), aggregates = Seq(
      AggregateSpec("my sum", WindowFn.Accumulate, "a.b"),
      AggregateSpec("a.b", WindowFn.Lag, "a.b", Seq("1"))))
    def emit(d: SqlEmitter.Dialect) = SqlEmitter.emit(spec, "t", odd.schema, d)
    assert(emit(SqlEmitter.Dialect.Spark) == "SELECT `k`, `o``rd`, " +
      "LAG(`a.b`, 1) OVER (PARTITION BY `k` ORDER BY `o``rd` ASC) AS `a.b`, " +
      "CAST(SUM(`a.b`) OVER (PARTITION BY `k` ORDER BY `o``rd` ASC) AS DOUBLE) AS `my sum` FROM t")
    assert(emit(SqlEmitter.Dialect.DuckDb) == "SELECT \"k\", \"o`rd\", " +
      "LAG(\"a.b\", 1) OVER (PARTITION BY \"k\" ORDER BY \"o`rd\" ASC NULLS FIRST) AS \"a.b\", " +
      "CAST(SUM(\"a.b\") OVER (PARTITION BY \"k\" ORDER BY \"o`rd\" ASC NULLS FIRST) AS DOUBLE) AS \"my sum\" FROM t")
    assert(emit(SqlEmitter.Dialect.BigQuery).startsWith("SELECT `k`, `o\\`rd`, LAG(`a.b`, 1)"))
    // the engine resolves the same names, and spark.sql agrees with it
    odd.createOrReplaceTempView("t")
    val viaEngine = WindowEngine.run(odd, spec)
    val viaSql = spark.sql(emit(SqlEmitter.Dialect.Spark))
    assert(viaSql.schema == viaEngine.schema)
    assert(viaSql.collect().toSet == viaEngine.collect().toSet)
    assert(viaEngine.columns.toSeq == Seq("k", "o`rd", "a.b", "my sum"))
  }

  test("SQL keywords as names: one result from the engine, spark.sql and DuckDB") {
    // DuckDB reserves these words and Spark does not by default: bare, the
    // DuckDb text is a syntax error there
    val words = Seq(("x", 1L, 3.0), ("x", 2L, 1.0), ("x", 2L, 4.0), ("y", 5L, 2.0), ("y", 7L, 6.0))
      .toDF("order", "from", "v")
    val spec = WindowQuerySpec(Seq("order"), Seq(OrderSpec("from")), aggregates = Seq(
      AggregateSpec("rnk", WindowFn.Rank, "v"),
      AggregateSpec("select", WindowFn.Accumulate, "v")))
    words.createOrReplaceTempView("t")
    val engine = WindowEngine.run(words, spec)
    val rows = engine.collect().toSeq
    assert(rows.size == 5)
    val viaSql = spark.sql(SqlEmitter.emit(spec, "t", words.schema))
    assert(viaSql.schema == engine.schema)
    assert(viaSql.collect().toSet == rows.toSet)
    val Seq(duck) = viaDuckDb(words, "t", Seq(SqlEmitter.emit(spec, "t", words.schema, SqlEmitter.Dialect.DuckDb)))
    assert(duckMismatch(engine.schema, rows, duck).isEmpty, duck)
    // Spark reserves them too under enforceReservedKeywords: the engine and
    // the Spark text still run, and give the same rows
    val conf = "spark.sql.ansi.enforceReservedKeywords"
    val prior = spark.conf.getOption(conf)
    spark.conf.set(conf, "true")
    try {
      assert(WindowEngine.run(words, spec).collect().toSet == rows.toSet)
      assert(spark.sql(SqlEmitter.emit(spec, "t", words.schema)).collect().toSet == rows.toSet)
    } finally prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    // BigQuery reserves them too; nothing here runs BigQuery, so the text is pinned
    assert(SqlEmitter.emit(spec, "t", words.schema, SqlEmitter.Dialect.BigQuery) ==
      "SELECT `order`, `from`, `v`, RANK() OVER (PARTITION BY `order` ORDER BY `from` ASC) AS `rnk`, " +
      "CAST(SUM(`v`) OVER (PARTITION BY `order` ORDER BY `from` ASC) AS FLOAT64) AS `select` FROM t")
  }

  test("validator => analysis: every accepted spec runs on both backends with one schema and one result") {
    // `order` is a word DuckDB and BigQuery reserve: a dialect that prints it
    // bare fails here
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("order", IntegerType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType), StructField("d", DoubleType),
      StructField("dec", DecimalType(10, 2)), StructField("s", StringType),
      StructField("b", BooleanType), StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("a.b", IntegerType)))
    val rnd = new scala.util.Random(11)
    def orNull(v: Any): Any = if (rnd.nextInt(7) == 0) null else v
    val rows = (0 until 24).map { n =>
      Row(Seq("a", "b", "c")(n % 3), n % 2, orNull(rnd.nextInt(6)), orNull(rnd.nextInt(5) * 1000L),
        orNull(rnd.nextInt(8) * 0.5f), orNull(rnd.nextInt(9) * 1.25),
        orNull(java.math.BigDecimal.valueOf(rnd.nextInt(500).toLong, 2)),
        orNull((rnd.nextInt(7) * 0.5).toString), orNull(rnd.nextBoolean()),
        orNull(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1 + rnd.nextInt(5)))),
        orNull(java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, rnd.nextInt(4), 0))), n)
    }
    // one input partition, so ties in an order key meet the window in the
    // same order on both backends
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    in.createOrReplaceTempView("prop_t")

    val cols = schema.fieldNames.toSeq
    val numeric = Seq("order", "i", "l", "f", "d", "a.b")
    // valid arguments in the canonical spelling, in spellings only Java's
    // parser reads (a hex float, a type suffix, a sign, a leading zero, an
    // Arabic-Indic digit), and invalid ones
    def args(fn: WindowFn): Gen[Seq[String]] = fn match {
      case WindowFn.NTile => Gen.frequency(
        4 -> Gen.oneOf("1", "3", "5").map(Seq(_)), 1 -> Gen.oneOf("04", "\u0664").map(Seq(_)),
        1 -> Gen.oneOf(Seq("0"), Seq("-2"), Seq("x"), Nil))
      case WindowFn.ContinuousPercentile | WindowFn.DiscretePercentile => Gen.frequency(
        4 -> Gen.oneOf("0", "0.25", "0.5", "1").map(Seq(_)), 1 -> Gen.oneOf("0x1p-1", "0.5d", "+0.25").map(Seq(_)),
        1 -> Gen.oneOf(Seq("1.5"), Seq("-0.1"), Seq("p"), Nil, Seq("0.5", "0.5")))
      case WindowFn.Lead | WindowFn.Lag => Gen.frequency(
        4 -> Gen.oneOf("0", "1", "2").map(Seq(_)), 1 -> Gen.oneOf("04", "\u0664").map(Seq(_)),
        1 -> Gen.oneOf(Seq("-1"), Seq("x"), Nil))
      case WindowFn.First | WindowFn.Last => Gen.oneOf(Nil, Seq("true"), Seq("false"), Seq("1"))
      case _ => Gen.const(Nil)
    }
    def aggGen(fns: Seq[WindowFn]): Gen[AggregateSpec] = for {
      fn <- Gen.oneOf(fns)
      field <- Gen.frequency(5 -> Gen.oneOf(numeric), 5 -> Gen.oneOf(cols), 1 -> Gen.const("nope"))
      a <- args(fn)
      ignoreNulls <- Gen.oneOf(true, false)
      // "select" is a SQL keyword; sometimes an input name or "x" in another
      // case, which Spark reads as the same name
      alias <- Gen.frequency(3 -> Gen.oneOf("x", "y", "z", "w", "my col", "select"), 2 -> Gen.oneOf(cols),
        1 -> Gen.oneOf("K", "D", "X"))
    } yield AggregateSpec(alias, fn, field, a, ignoreNulls)
    // one spec in eight draws only the two functions an unordered spec takes,
    // and one in four only the three a frame is legal for, always framed and
    // mostly by one order key; its bounds in order, as those of a frame that
    // starts after it ends are tested by the other specs
    val unordered = Seq(WindowFn.ContinuousPercentile, WindowFn.Accumulate)
    val framed = Seq(WindowFn.First, WindowFn.Last, WindowFn.Accumulate)
    val specGen: Gen[WindowQuerySpec] = for {
      fns <- Gen.frequency(5 -> WindowFn.all, 1 -> unordered, 2 -> framed)
      parts <- Gen.frequency(8 -> Gen.oneOf(Seq("k"), Seq("order"), Seq("k", "order"), Seq("a.b"), Seq("b")),
        1 -> Gen.oneOf(Seq("nope"), Nil))
      nOrder <- if (fns == unordered) Gen.frequency(3 -> 0, 1 -> 1)
        else if (fns == framed) Gen.frequency(1 -> 0, 8 -> 1, 1 -> 2) else Gen.frequency(1 -> 0, 5 -> 1, 2 -> 2)
      order <- Gen.listOfN(nOrder, for {
        f <- Gen.frequency(3 -> Gen.oneOf(numeric), 2 -> Gen.oneOf(cols))
        dir <- Gen.oneOf(SortDirection.Ascending, SortDirection.Descending)
      } yield OrderSpec(f, dir))
      frame <- if (fns != framed) frameGen(noFrame = 4)
        else frameGen(noFrame = 0).map(_.map(f => f.copy(start = f.start min f.end, end = f.start max f.end)))
      n <- Gen.frequency(3 -> 1, 2 -> 2, 1 -> 3)
      aggs <- Gen.listOfN(n, aggGen(fns))
    } yield WindowQuerySpec(parts, order, frame, aggs)

    def types(st: StructType) = st.fields.map(f => f.name -> f.dataType).toSeq
    // an accepted spec runs: an error at run time is a problem, too
    def text(rows: Seq[Row]) = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val problems = Seq.newBuilder[String]
    // (spec, engine schema, engine rows, DuckDb text) of every spec that passed on Spark
    val toDuckDb = Seq.newBuilder[(WindowQuerySpec, StructType, Seq[Row], String)]
    var accepted, rejected, readOrder, intRange, pastInt = 0
    var drawn = Set.empty[WindowFn]
    for (seed <- 0L until 1000L; spec <- specGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))) {
      if (Validator.validate(spec, schema).nonEmpty) rejected += 1
      else {
        accepted += 1
        if ((spec.partitionFields ++ spec.order.map(_.field) ++ spec.aggregates.map(_.field)).contains("order")) readOrder += 1
        drawn ++= spec.aggregates.map(_.fn)
        // a value-offset RANGE frame over an INT key, which orders by it as a BIGINT
        for (f <- spec.frame if f.frameType == FrameType.Range && f.offsets.nonEmpty &&
             schema(spec.order.head.field).dataType == IntegerType) {
          intRange += 1
          if (f.offsets.exists(!_.isValidInt)) pastInt += 1
        }
        try {
          val engine = WindowEngine.run(in, spec)
          val declared = WindowEngine.outputSchema(schema, spec)
          val viaSql = spark.sql(SqlEmitter.emit(spec, "prop_t", schema))
          val rows = engine.collect().toSeq
          if (types(engine.schema) != types(declared))
            problems += s"outputSchema ${types(declared)} != engine ${types(engine.schema)}: $spec"
          else if (viaSql.schema != engine.schema)
            problems += s"emitted schema ${viaSql.schema} != engine ${engine.schema}: $spec"
          else if (text(viaSql.collect().toSeq) != text(rows))
            problems += s"emitted rows != engine rows: $spec"
          else toDuckDb += ((spec, engine.schema, rows, SqlEmitter.emit(spec, "prop_t", schema, SqlEmitter.Dialect.DuckDb)))
        } catch {
          case e: Exception => problems += s"${e.getClass.getSimpleName} ${e.getMessage.linesIterator.next()}: $spec"
        }
      }
    }
    // the oracle: DuckDB runs the DuckDb text of every spec above
    val duckStart = System.nanoTime()
    val onSpark = toDuckDb.result()
    for (((spec, st, rows, _), duck) <- onSpark.zip(viaDuckDb(in, "prop_t", onSpark.map(_._4)));
         why <- duckMismatch(st, rows, duck))
      problems += s"$why: $spec"
    info(f"DuckDB leg: ${onSpark.size} specs in ${(System.nanoTime() - duckStart) / 1e9}%.1f s")
    val found = problems.result()
    info(s"$accepted accepted, $rejected rejected; $readOrder read the column `order`; " +
      s"$intRange have a RANGE offset over an INT key, $pastInt of them past an INT")
    assert(found.isEmpty, s"${found.size} of $accepted accepted specs broke the property:\n" +
      found.take(10).mkString("\n"))
    assert(accepted >= 100 && rejected >= 100, s"generator too narrow: $accepted accepted, $rejected rejected")
    assert(drawn == WindowFn.all.toSet, s"accepted specs never drew ${WindowFn.all.toSet -- drawn}")
    assert(readOrder >= 50, s"only $readOrder accepted specs read the column `order`")
    assert(intRange >= 10 && pastInt >= 3,
      s"only $intRange accepted specs have a RANGE offset over an INT key, $pastInt of them past an INT")
  }

  test("DuckDb reads a running MEDIAN's FLOAT input as a DOUBLE, as the engine does") {
    // non-dyadic floats: the mean of two FLOATs read as DOUBLEs is not the
    // mean DuckDB computes in FLOAT
    val floats = Seq(("a", 1, 1.1f), ("a", 2, 2.2f), ("a", 3, 4.7f)).toDF("k", "ord", "f")
    val spec = WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = Seq(AggregateSpec("m", WindowFn.Median, "f")))
    val engine = WindowEngine.run(floats, spec).orderBy("ord").collect().toSeq
    val (a, b) = (1.1f.toDouble, 2.2f.toDouble)
    val medians = Seq(a, (a + b) / 2, b) // (a + b) / 2 = 1.6500000357627869
    assert(engine.map(_.getDouble(3)) == medians)
    val Seq(duck) = viaDuckDb(floats, "t", Seq(SqlEmitter.emit(spec, "t", floats.schema, SqlEmitter.Dialect.DuckDb)))
    assert(duckMismatch(WindowEngine.outputSchema(floats.schema, spec), engine, duck).isEmpty, duck)
    val duckMedians = duck.get("rows").elements().asScala.toSeq.sortBy(_.get(1).asInt).map(_.get(3).asDouble)
    assert(duckMedians == medians, "same DOUBLE bits")
  }

  test("static liSchema matches li()'s live projection (oracle-cast drift guard)") {
    // liSchema drives the generated DuckDB oracles' select list and
    // declared-output casts; if li()'s projection ever changes, this must
    // fail HERE with a pointed message, not as a downstream correctness-
    // gate hash mismatch.
    val live = SparkEntry.li(spark, "/root/testdata/sf0.001").schema
    val want = live.fields.map(f => (f.name, f.dataType)).toSeq
    val got = SparkEntry.liSchema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(got == want,
      s"SparkEntry.liSchema drifted from li()'s projection: static=$got live=$want")
  }
}
