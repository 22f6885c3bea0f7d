package graft

import org.scalatest.funsuite.AnyFunSuite

/** The emitted SQL must be a drop-in for the engine: running the Spark
  * dialect through spark.sql yields the exact rows (values AND schema) of
  * WindowEngine.run for the same spec — except DISCRETE_PERCENTILE, where
  * Spark shares BigQuery's navigation-function OVER restriction and both
  * pushdown dialects document whole-partition semantics instead (pinned by
  * its own test below). BigQuery dialect is pinned against the reference's
  * pushdown templates (WindowAggregation.java:75-93). */
class SqlEmitterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val df = Seq(
    ("a", 1, Option(10.0)), ("a", 2, Option.empty[Double]), ("a", 3, Option(30.0)),
    ("a", 4, Option(20.0)), ("b", 1, Option(5.0)), ("b", 2, Option(7.0))
  ).toDF("k", "ord", "v")

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
      AggregateSpec("cp", WindowFn.ContinuousPercentile, "v", Seq("0.75")),
      AggregateSpec("f", WindowFn.First, "v"),
      AggregateSpec("l", WindowFn.Last, "v", ignoreNulls = false)))
    val sql = SqlEmitter.emit(spec, "t", df.schema, SqlEmitter.Dialect.BigQuery)
    // BigQuery navigation functions: window spec is PARTITION BY only
    assert(sql.contains("PERCENTILE_DISC(v, 0.25) OVER (PARTITION BY k) AS dp"))
    assert(sql.contains("PERCENTILE_CONT(v, 0.75) OVER (PARTITION BY k) AS cp"))
    assert(sql.contains("FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY ord ASC)"))
    assert(sql.contains("LAST_VALUE(v RESPECT NULLS)"))
    // args[0]="true" ORs into ignoreNulls even when the flag is false —
    // reference template test (WindowAggregationTest.getBQColumnSelectionSQL_last)
    val orSql = SqlEmitter.emit(
      WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
        AggregateSpec("l", WindowFn.Last, "v", Seq("true"), ignoreNulls = false))),
      "t", df.schema, SqlEmitter.Dialect.BigQuery)
    assert(orSql.contains("LAST_VALUE(v IGNORE NULLS)"))
    // select list = input columns then appended aliases
    assert(sql.startsWith("SELECT k, ord, v, "))
  }

  test("BigQuery dialect maps cast types to FLOAT64/INT64") {
    val spec = WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = Seq(
      AggregateSpec("pr", WindowFn.PercentRank, "ord"),
      AggregateSpec("runi", WindowFn.Accumulate, "ord"),   // int input
      AggregateSpec("rund", WindowFn.Accumulate, "v")))    // double input
    val bq = SqlEmitter.emit(spec, "t", df.schema, SqlEmitter.Dialect.BigQuery)
    assert(bq.contains("AS FLOAT64) AS pr") && bq.contains("AS INT64) AS runi") &&
      bq.contains("AS FLOAT64) AS rund"))
    assert(!bq.contains("AS FLOAT)") && !bq.contains("AS DOUBLE)") && !bq.contains("AS INT)"))
    val sp = SqlEmitter.emit(spec, "t", df.schema, SqlEmitter.Dialect.Spark)
    assert(sp.contains("AS FLOAT) AS pr") && sp.contains("AS INT) AS runi"))
  }

  test("frame bounds render the reference sign convention") {
    val spec = WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      FrameSpec(FrameType.Range, Some(-5L), Some(3L)),
      Seq(AggregateSpec("s", WindowFn.Accumulate, "ord")))
    val sql = SqlEmitter.emit(spec, "t", df.schema)
    assert(sql.contains("RANGE BETWEEN 5 PRECEDING AND 3 FOLLOWING"))
    // ACCUMULATE casts the whole windowed expression back to the input type
    assert(sql.contains("CAST(SUM(ord) OVER") && sql.contains("AS INT) AS s"))
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
      AggregateSpec("acc", WindowFn.Accumulate, "ord"))
    val framed: Seq[AggregateSpec] = Seq(
      AggregateSpec("f2", WindowFn.First, "v"),
      AggregateSpec("l2", WindowFn.Last, "v"),
      AggregateSpec("acc2", WindowFn.Accumulate, "ord"))
    val specGen: Gen[WindowQuerySpec] = for {
      useFrame <- Gen.oneOf(false, false, true) // frame-less twice as often
      dir <- Gen.oneOf(SortDirection.Ascending, SortDirection.Descending)
      spec <-
        if (!useFrame)
          Gen.someOf(frameless).suchThat(_.nonEmpty).map(aggs =>
            WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord", dir)), aggregates = aggs.toSeq))
        else for {
          aggs <- Gen.someOf(framed).suchThat(_.nonEmpty)
          ft <- Gen.oneOf(FrameType.Row, FrameType.Range)
          lo <- Gen.oneOf(Some(-3L), Some(-1L), None)
          hi <- Gen.oneOf(Some(0L), Some(2L), None)
        } yield WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord", dir)),
          FrameSpec(ft, lo, hi), aggs.toSeq)
    } yield spec
    val params = Gen.Parameters.default
    var checked = 0
    for (i <- 0 until 15) specGen.apply(params, org.scalacheck.rng.Seed(i.toLong)).foreach { spec =>
      if (Validator.validate(spec, df.schema).isEmpty) { // skip reference-invalid combos
        assertParity(spec)
        checked += 1
      }
    }
    assert(checked >= 8, s"only $checked random specs survived validation — generator too narrow")
  }

  test("DuckDb dialect pins declared-type casts, null ordering, and quantile names") {
    import org.apache.spark.sql.types._
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
    assert(sql.contains("CAST(RANK() OVER (PARTITION BY k ORDER BY ord DESC NULLS LAST, v ASC NULLS FIRST) AS INTEGER) AS rnk"))
    assert(sql.contains("AS REAL) AS pr"))
    assert(sql.contains("quantile_disc(v, 0.5) OVER"))
    assert(sql.contains("CAST(SUM(v) OVER") && sql.contains("AS INTEGER) AS acc"))
    assert(sql.contains("FIRST_VALUE(v IGNORE NULLS)"))
  }

  test("Spark dialect emits DISCRETE_PERCENTILE with the BigQuery navigation semantics") {
    // Spark's percentile_disc carries the same navigation-function OVER
    // restriction as BigQuery's (ORDER BY/frame in the window spec is
    // INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so BOTH pushdown dialects
    // drop the spec's order from the OVER and evaluate whole-partition —
    // the documented divergence from the engine's running-frame
    // ExactPercentileAgg (which remains the execution path).
    val spec = WindowQuerySpec(Seq("k"), Seq(OrderSpec("v")),
      aggregates = Seq(AggregateSpec("dp", WindowFn.DiscretePercentile, "v", Seq("0.5"))))
    df.createOrReplaceTempView("t")
    val sql = SqlEmitter.emit(spec, "t", df.schema)
    assert(sql.contains("PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY v) OVER (PARTITION BY k)"))
    // whole-partition disc percentile, nulls skipped: a → [10,20,30] → 20; b → [5,7] → 5
    val rows = spark.sql(sql).collect().map(r => (r.getString(0), r.getAs[Double]("dp"))).toSet
    assert(rows == Set(("a", 20.0), ("b", 5.0)))
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
