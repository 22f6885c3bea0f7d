package graft

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The emitted SQL must be a drop-in for the engine: running the Spark
  * dialect through spark.sql (with [[GraftExtensions]] registered, for
  * `graft_percentile_disc`) yields the exact rows (values AND schema) of
  * WindowEngine.run for the same spec. BigQuery dialect is pinned against
  * the reference's pushdown templates (WindowAggregation.java:75-93). */
class SqlEmitterSpec extends AnyFunSuite {
  private lazy val spark = { GraftExtensions.register(TestSpark.spark); TestSpark.spark }
  import spark.implicits._

  private lazy val df = Seq(
    ("a", 1, Option(10.0)), ("a", 2, Option.empty[Double]), ("a", 3, Option(30.0)),
    ("a", 4, Option(20.0)), ("b", 1, Option(5.0)), ("b", 2, Option(7.0))
  ).toDF("k", "ord", "v")

  /** Runs `sqls` over a parquet copy of `df`, viewed as `table`, in one
    * `python3` call to duckdb, as winbench's oracle and tools/check.py do:
    * per query its column names, DuckDB type names and rows, or the error
    * DuckDB raised. Decimals come back as text, timestamps as epoch
    * microseconds (Spark writes the instant; DuckDB may read it as UTC).
    * One thread and one file: rows tied on the order keys meet the window in
    * the file's order, as they do on Spark over one input partition. */
  private def viaDuckDb(df: DataFrame, table: String, sqls: Seq[String]): Seq[JsonNode] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-duckdb").toFile
    try {
      df.coalesce(1).write.parquet(s"$dir/$table")
      val mapper = new ObjectMapper()
      mapper.writeValue(new File(dir, "request.json"),
        Map[String, AnyRef]("table" -> table, "parquet" -> s"$dir/$table", "queries" -> sqls.asJava).asJava)
      val err = new StringBuilder
      val code = Process(Seq("python3", "-c", duckScript, s"$dir/request.json", s"$dir/response.json"))
        .!(ProcessLogger(_ => (), line => err ++= line + "\n"))
      assert(code == 0, s"python3 with duckdb failed:\n$err")
      mapper.readTree(new File(dir, "response.json")).elements().asScala.toSeq
    } finally new scala.reflect.io.Directory(dir).deleteRecursively()
  }

  private val duckScript =
    """import datetime, decimal, json, math, sys
      |import duckdb
      |req = json.load(open(sys.argv[1]))
      |con = duckdb.connect()
      |con.execute("SET threads = 1")
      |con.execute(f"CREATE VIEW {req['table']} AS SELECT * FROM read_parquet('{req['parquet']}/*.parquet')")
      |utc = datetime.timezone.utc
      |epoch = datetime.datetime(1970, 1, 1, tzinfo=utc)
      |def cell(v):
      |    if isinstance(v, float) and not math.isfinite(v):
      |        return {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}[str(v)]
      |    if isinstance(v, decimal.Decimal):
      |        return str(v)
      |    if isinstance(v, datetime.datetime):
      |        return ((v if v.tzinfo else v.replace(tzinfo=utc)) - epoch) // datetime.timedelta(microseconds=1)
      |    if isinstance(v, datetime.date):
      |        return v.isoformat()
      |    return v
      |out = []
      |for sql in req["queries"]:
      |    try:
      |        rel = con.sql(sql)
      |        out.append({"columns": rel.columns, "types": [str(t) for t in rel.types],
      |                    "rows": [[cell(v) for v in r] for r in rel.fetchall()]})
      |    except duckdb.Error as e:
      |        out.append({"error": str(e).splitlines()[0]})
      |json.dump(out, open(sys.argv[2], "w"))
      |""".stripMargin

  /** How DuckDB's answer differs from the engine's `rows` under `schema`:
    * names, DuckDB type names, then the rows as a multiset, floating values
    * within winbench's relative tolerance (DuckDB sums frames in another
    * order). None when it does not. */
  private def duckMismatch(schema: StructType, rows: Seq[Row], duck: JsonNode): Option[String] = {
    def duckType(dt: DataType) = dt match {
      case IntegerType => "INTEGER"
      case StringType  => "VARCHAR"
      case other       => other.sql
    }
    def same(v: Any, j: JsonNode): Boolean = v match {
      case null                    => j.isNull
      case x: Float                => same(x.toDouble, j)
      case x: Double               =>
        if (j.isNumber) x == j.asDouble || math.abs(x - j.asDouble) <= 1e-9 * math.abs(x) else j.asText == x.toString
      case x: java.math.BigDecimal => j.isTextual && new java.math.BigDecimal(j.asText).compareTo(x) == 0
      case x: java.sql.Timestamp   =>
        j.isIntegralNumber && j.asLong == x.toInstant.getEpochSecond * 1000000L + x.toInstant.getNano / 1000
      case x: java.sql.Date        => j.isTextual && j.asText == x.toString
      case x: Boolean              => j.isBoolean && j.asBoolean == x
      case x: String               => j.isTextual && j.asText == x
      case x: Number               => j.isIntegralNumber && j.asLong == x.longValue
    }
    def texts(field: String) = duck.get(field).elements().asScala.map(_.asText).toSeq
    val want = schema.fields.map(f => f.name -> duckType(f.dataType)).toSeq
    if (duck.has("error")) Some(s"DuckDB raised ${duck.get("error").asText}")
    else if (texts("columns").zip(texts("types")) != want) Some(s"DuckDB columns ${texts("columns").zip(texts("types"))} != $want")
    else {
      val left = ArrayBuffer(duck.get("rows").elements().asScala.toSeq: _*)
      val unmatched = rows.filterNot { r =>
        val at = left.indexWhere(j => (0 until r.length).forall(c => same(r.get(c), j.get(c))))
        at >= 0 && { left.remove(at); true }
      }
      if (unmatched.isEmpty && left.isEmpty) None
      else Some(s"DuckDB rows != engine rows, e.g. engine ${unmatched.headOption.getOrElse("-")} / DuckDB ${left.headOption.getOrElse("-")}")
    }
  }

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
      FrameSpec(FrameType.Row, Some(-1L), Some(0L)),
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
      FrameSpec(FrameType.Range, Some(-5L), Some(3L)),
      Seq(AggregateSpec("s", WindowFn.Accumulate, "ord")))
    val sql = SqlEmitter.emit(spec, "t", df.schema)
    assert(sql.contains("RANGE BETWEEN 5 PRECEDING AND 3 FOLLOWING"))
    // ACCUMULATE casts the whole windowed expression back to the input type
    assert(sql.contains("CAST(SUM(`ord`) OVER") && sql.contains("AS INT) AS `s`"))
  }

  test("emitted Spark SQL is engine-parity across randomized specs") {
    import org.scalacheck.Gen
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
          ft <- Gen.oneOf(FrameType.Row, FrameType.Range)
          lo <- Gen.oneOf(Some(-3L), Some(-1L), None)
          hi <- Gen.oneOf(Some(0L), Some(2L), None)
        } yield WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord", dir)),
          FrameSpec(ft, lo, hi), aggs.toSeq)
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
    import org.scalacheck.Gen
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
    // and bounds past an INT, which Spark rejects for a ROW frame and for a
    // RANGE frame over an INT order key
    val bound = Gen.oneOf(None, Some(-3L), Some(-1L), Some(0L), Some(2L), Some(4L),
      Some(-(1L << 31)), Some(1L << 31), Some(-3000000000L), Some(3000000000L))
    val frameGen: Gen[FrameSpec] = Gen.frequency(
      4 -> Gen.const(FrameSpec()),
      2 -> (for {
        ft <- Gen.oneOf(FrameType.Row, FrameType.Range)
        lo <- bound
        hi <- bound
        up <- Gen.frequency(3 -> false, 1 -> true)
        uf <- Gen.frequency(3 -> false, 1 -> true)
      } yield FrameSpec(ft, lo, hi, up, uf)))
    // one spec in six draws only the two functions an unordered spec takes
    val unordered = Seq(WindowFn.ContinuousPercentile, WindowFn.Accumulate)
    val specGen: Gen[WindowQuerySpec] = for {
      fns <- Gen.frequency(5 -> WindowFn.all, 1 -> unordered)
      parts <- Gen.frequency(8 -> Gen.oneOf(Seq("k"), Seq("order"), Seq("k", "order"), Seq("a.b"), Seq("b")),
        1 -> Gen.oneOf(Seq("nope"), Nil))
      nOrder <- if (fns == unordered) Gen.frequency(3 -> 0, 1 -> 1) else Gen.frequency(1 -> 0, 5 -> 1, 2 -> 2)
      order <- Gen.listOfN(nOrder, for {
        f <- Gen.frequency(3 -> Gen.oneOf(numeric), 2 -> Gen.oneOf(cols))
        dir <- Gen.oneOf(SortDirection.Ascending, SortDirection.Descending)
      } yield OrderSpec(f, dir))
      frame <- frameGen
      n <- Gen.frequency(3 -> 1, 2 -> 2, 1 -> 3)
      aggs <- Gen.listOfN(n, aggGen(fns))
    } yield WindowQuerySpec(parts, order, frame, aggs)

    def types(st: StructType) = st.fields.map(f => f.name -> f.dataType).toSeq
    // an accepted spec runs: an error at run time is a problem, too
    def text(rows: Seq[Row]) = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val problems = Seq.newBuilder[String]
    // (spec, engine schema, engine rows, DuckDb text) of every spec that passed on Spark
    val toDuckDb = Seq.newBuilder[(WindowQuerySpec, StructType, Seq[Row], String)]
    var accepted, rejected, readOrder = 0
    var drawn = Set.empty[WindowFn]
    for (seed <- 0L until 500L; spec <- specGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))) {
      if (Validator.validate(spec, schema).nonEmpty) rejected += 1
      else {
        accepted += 1
        if ((spec.partitionFields ++ spec.order.map(_.field) ++ spec.aggregates.map(_.field)).contains("order")) readOrder += 1
        drawn ++= spec.aggregates.map(_.fn)
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
    info(s"$accepted accepted, $rejected rejected; $readOrder read the column `order`")
    assert(found.isEmpty, s"${found.size} of $accepted accepted specs broke the property:\n" +
      found.take(10).mkString("\n"))
    assert(accepted >= 100 && rejected >= 100, s"generator too narrow: $accepted accepted, $rejected rejected")
    assert(drawn == WindowFn.all.toSet, s"accepted specs never drew ${WindowFn.all.toSet -- drawn}")
    assert(readOrder >= 50, s"only $readOrder accepted specs read the column `order`")
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
