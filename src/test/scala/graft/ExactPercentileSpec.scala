package graft

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, percentile, rand, xxhash64}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ExactPercentileAgg

/** Parity of the continuous percentile kernel with Spark's built-in exact
  * `percentile`, which stays the reference: same windows, same inputs, equal
  * results. */
class ExactPercentileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // every type MEDIAN reads; the kernel reads no strings, and the rows keep
  // `s` only so that the other columns' random draws stay as they were
  private val valueFields = Seq("i", "l", "f", "d", "dec")
  private val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)

  /** Partition r: random values with tied order keys and nulls; z: every
    * value null; x: NaN, ±0.0 and ±Infinity on the floating columns and
    * longs above 2^53; one: a single row. */
  private lazy val df: DataFrame = {
    val rnd = new scala.util.Random(7)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def orNull[T](v: T): Any = if (rnd.nextInt(6) == 0) null else v
    val big = 1L << 53
    val r = (1 to 60).map { _ =>
      val n = rnd.nextInt(9) - 4
      Row("r", rnd.nextInt(12), orNull(n), orNull(n.toLong * 1000L + rnd.nextInt(3)),
        orNull(n * 0.75f), orNull(n * 1.1 + pick(0.0, 0.3)),
        orNull(java.math.BigDecimal.valueOf(n * 125L + rnd.nextInt(5), 2)),
        orNull(s"${n * 0.5}"))
    }
    val z = (1 to 3).map(o => Row("z", o, null, null, null, null, null, null))
    val x = (1 to 30).map { o =>
      Row("x", o % 7, o % 3 - 1, big + pick(0L, 1L, 2L, 3L, 5L),
        pick(Float.NaN, -0.0f, 0.0f, 1.5f, Float.NegativeInfinity),
        pick(Double.NaN, -0.0, 0.0, -2.5, Double.PositiveInfinity, Double.NegativeInfinity),
        java.math.BigDecimal.valueOf(pick(-1L, 0L, 1L), 3), pick("-0.0", "0", "2.25", "1e3"))
    }
    val one = Seq(Row("one", 1, 4, 4L, 4.0f, 4.0, java.math.BigDecimal.valueOf(400L, 2), "4"))
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("ord", IntegerType),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("dec", DecimalType(12, 3)), StructField("s", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(r ++ z ++ x ++ one, 3), schema)
  }

  private def kernel(field: String, p: Double): Column = GraftColumnBridge.column(
    ExactPercentileAgg(GraftColumnBridge.expression(col(field)), p, discrete = false)
      .toAggregateExpression())

  /** Equal values, NaN equal to NaN; bit-equal unless the value is a zero,
    * whose sign Spark leaves to its hash map's order among -0.0 and 0.0. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      if (x == 0.0) y == 0.0
      else java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => false
  }

  /** Asserts every pair equal; returns the kernel's results. */
  private def assertParity(got: DataFrame, pairs: Seq[(String, String)]): Seq[Any] = {
    val rows = got.collect()
    assert(rows.length == df.count())
    for (row <- rows; (k, ref) <- pairs) {
      val (a, b) = (row.getAs[Any](k), row.getAs[Any](ref))
      assert(same(a, b), s"$k=$a vs $ref=$b at key ${row.getAs[String]("k")} ord ${row.getAs[Int]("ord")}")
    }
    val results = rows.toSeq.flatMap(r => pairs.map(pr => r.getAs[Any](pr._1)))
    // not vacuous: the all-null partition gives NULL, the others values
    assert(results.contains(null) && results.exists(_ != null))
    results
  }

  test("continuous kernel == Spark percentile over running and whole-partition windows") {
    val running = Window.partitionBy("k").orderBy("ord")
    val whole = Window.partitionBy("k")
    val pairs = for {
      (w, wn) <- Seq(running -> "run", whole -> "all")
      f <- valueFields
      (p, pi) <- ps.zipWithIndex
    } yield (s"${wn}_${f}_$pi", s"ref_${wn}_${f}_$pi", f, p, w)
    val got = df.select(col("k") +: col("ord") +: pairs.flatMap { case (k, ref, f, p, w) =>
      Seq(kernel(f, p).over(w).as(k), percentile(col(f), lit(p)).over(w).as(ref))
    }: _*)
    assert(got.schema.fields.drop(2).forall(_.dataType == DoubleType))
    val results = assertParity(got, pairs.map(pr => pr._1 -> pr._2))
    assert(results.exists {
      case d: Double => d.isNaN
      case _         => false
    })
    assert(results.contains(0.0) && results.contains(Double.PositiveInfinity))
  }

  test("engine MEDIAN (running) and CONTINUOUS_PERCENTILE (whole partition) == Spark percentile") {
    val medians = valueFields.map(f => AggregateSpec(s"med_$f", WindowFn.Median, f))
    val ordered = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
      aggregates = medians))
      .withColumns(valueFields.map(f =>
        s"ref_med_$f" -> percentile(col(f), lit(0.5)).over(Window.partitionBy("k").orderBy("ord"))).toMap)
    assertParity(ordered, valueFields.map(f => s"med_$f" -> s"ref_med_$f"))

    // CONTINUOUS_PERCENTILE takes no order clause and int/long/float/double only
    val numeric = Seq("i", "l", "f", "d")
    val cps = for (f <- numeric; (p, pi) <- ps.zipWithIndex)
      yield AggregateSpec(s"cp_${f}_$pi", WindowFn.ContinuousPercentile, f, Seq(p.toString))
    val unordered = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq.empty, aggregates = cps))
      .withColumns(cps.map(a =>
        s"ref_${a.alias}" -> percentile(col(a.field), lit(a.args.head.toDouble)).over(Window.partitionBy("k"))).toMap)
    assertParity(unordered, cps.map(a => a.alias -> s"ref_${a.alias}"))
  }

  test("Counts settles unsorted pending keys into the sorted table, merges and round-trips") {
    val rnd = new scala.util.Random(3)
    val ref = scala.collection.mutable.TreeMap.empty[Long, Long]
    val a = new ExactPercentileAgg.Counts()
    def check(c: ExactPercentileAgg.Counts, expected: scala.collection.Map[Long, Long]): Unit = {
      c.settle()
      assert(c.keys.take(c.size).toSeq == expected.keys.toSeq)
      assert(c.counts.take(c.size).toSeq == expected.values.toSeq)
      assert(c.total == expected.values.sum)
    }
    // bursts of new and repeated keys, settled at random points (as a running
    // frame's evals do), through several pending-array growths
    for (_ <- 1 to 400) {
      for (_ <- 0 until rnd.nextInt(120)) {
        val k = if (rnd.nextBoolean()) rnd.nextInt(50).toLong else rnd.nextLong() >> rnd.nextInt(64)
        a.add(k)
        ref(k) = ref.getOrElse(k, 0L) + 1
      }
      if (rnd.nextInt(3) == 0) check(a, ref)
    }
    check(a, ref)
    assert(a.size > 5000)
    val b = new ExactPercentileAgg.Counts()
    (1 to 3000).foreach { i => val k = (i % 700).toLong * 31 - 9000; b.add(k); ref(k) = ref.getOrElse(k, 0L) + 1 }
    check(ExactPercentileAgg.Counts.fromBytes(a.merge(b).toBytes), ref)
  }

  test("eval at every rank boundary: p = c/t and one ulp either side, 1 to 300 rows with ties") {
    import ExactPercentileAgg.{Counts, encodeDouble}
    val rnd = new scala.util.Random(17)
    val big = 1L << 53
    val bits = java.lang.Double.doubleToLongBits _
    var evals = 0
    for (t <- 1 to 300) {
      // t rows over at most 40 keys; the longs lie around 2^53, where
      // neighbours round to one double, and the doubles keep their order
      val pool = Seq.fill(1 + rnd.nextInt(40))(big - 20 + rnd.nextInt(40))
      val longs = Seq.fill(t)(pool(rnd.nextInt(pool.size)))
      val doubles = longs.map(v => (v - big) * 0.37)
      val sortedL = longs.sorted.toIndexedSeq
      val sortedD = doubles.sorted.toIndexedSeq
      val ps = ((0 to t).flatMap { c =>
        val p = c.toDouble / t
        Seq(Math.nextDown(p), p, Math.nextUp(p))
      } ++ Seq(0.0, 1.0)).filter(p => p >= 0.0 && p <= 1.0).distinct
      val lc = new Counts(); longs.foreach(v => lc.add(v))
      val dc = new Counts(); doubles.foreach(v => dc.add(encodeDouble(v)))
      for (p <- ps) {
        // the reference UDAF: the first distinct value whose running count
        // over the total reaches p
        val last = sortedL.indices.find(i =>
          (i == t - 1 || sortedL(i + 1) != sortedL(i)) && (i + 1) / t.toDouble >= p).get
        // Spark's Percentile.getPercentile over the sorted values
        val position = (t.toLong - 1) * p
        val (lower, higher) = (position.floor.toLong, position.ceil.toLong)
        def spark(sorted: IndexedSeq[Double], keys: IndexedSeq[Any]): Double = {
          val (lo, hi) = (sorted(lower.toInt), sorted(higher.toInt))
          if (higher == lower || keys(lower.toInt) == keys(higher.toInt)) lo
          else (higher - position) * lo + (position - lower) * hi
        }
        def eval(dt: DataType, discrete: Boolean, c: Counts): Any =
          ExactPercentileAgg(BoundReference(0, dt, nullable = true), p, discrete).eval(c)
        assert(eval(LongType, discrete = true, lc) == sortedL(last), s"t=$t p=$p")
        assert(eval(DoubleType, discrete = true, dc) == sortedD(last), s"t=$t p=$p")
        assert(bits(eval(LongType, discrete = false, lc).asInstanceOf[Double]) ==
          bits(spark(sortedL.map(_.toDouble), sortedL)), s"t=$t p=$p")
        assert(bits(eval(DoubleType, discrete = false, dc).asInstanceOf[Double]) ==
          bits(spark(sortedD, sortedD)), s"t=$t p=$p")
        evals += 4
      }
    }
    assert(evals > 400000)
  }

  test("Counts memory stays within 2 x distinct + 16 longs per array, and merge reuses the table") {
    import ExactPercentileAgg.Counts
    val rnd = new scala.util.Random(5)
    def assertBounded(c: Counts, what: String): Unit = {
      c.settle()
      val cap = 2 * c.size + 16
      assert(c.keys.length <= cap && c.counts.length <= cap && c.pendingCapacity <= cap,
        s"$what: ${c.keys.length} / ${c.counts.length} / ${c.pendingCapacity} slots for ${c.size} keys")
    }
    // a running frame: one add and one settle per row
    val running = new Counts()
    for (i <- 1 to 20000) {
      running.add(rnd.nextInt(5000).toLong)
      running.settle()
      if (i % 500 == 0) assertBounded(running, s"running, row $i")
    }
    // pending growth without settles: 10 distinct keys keep 16 slots, 30k
    // distinct keys grow the pending array with the table
    for (distinct <- Seq(10, 30000)) {
      val c = new Counts()
      for (_ <- 1 to 100000) c.add(rnd.nextInt(distinct).toLong)
      assertBounded(c, s"$distinct distinct keys")
      assert(c.total == 100000)
    }
    // repeated merges grow the table only when it is full
    val acc = new Counts()
    var reused = 0
    for (m <- 1 to 200) {
      val part = new Counts()
      for (_ <- 1 to 500) part.add(rnd.nextInt(3000).toLong)
      acc.settle()
      val (keys, counts) = (acc.keys, acc.counts)
      acc.merge(part)
      if (acc.keys.length == keys.length) {
        val inPlace = (acc.keys eq keys) && (acc.counts eq counts)
        assert(inPlace, s"merge $m allocated a table of the same size")
        reused += 1
      }
      assertBounded(acc, s"merge $m")
      assert(acc.total == 500L * m)
    }
    assert(reused > 150)
  }

  test("high-cardinality unordered CONTINUOUS_PERCENTILE and groupBy discrete mode") {
    // ~200k distinct doubles per partition: every row is a new key
    val n = 400000
    val wide = spark.range(0, n, 1, 4).select(
      (col("id") % 2).cast("string").as("k"),
      (rand(11) * 1e6).as("d"),
      (xxhash64(col("id")) % 150000).as("l"))
    val cps = for ((p, pi) <- ps.zipWithIndex; f <- Seq("d", "l"))
      yield AggregateSpec(s"cp_${f}_$pi", WindowFn.ContinuousPercentile, f, Seq(p.toString))
    val out = WindowEngine.run(wide, WindowQuerySpec(Seq("k"), Seq.empty, aggregates = cps))
      .withColumns(cps.map(a =>
        s"ref_${a.alias}" -> percentile(col(a.field), lit(a.args.head.toDouble)).over(Window.partitionBy("k"))).toMap)
      .drop("d", "l").distinct()
    val rows = out.collect()
    assert(rows.length == 2)
    for (row <- rows; a <- cps)
      assert(row.getAs[Double](a.alias) == row.getAs[Double](s"ref_${a.alias}"), a.alias)

    // groupBy: partial buffers per input partition, serialized and merged
    val got = wide.groupBy("k").agg(
      GraftColumnBridge.column(ExactPercentileAgg(GraftColumnBridge.expression(col("l")), 0.37,
        discrete = true).toAggregateExpression()).as("dp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byKey = wide.select("k", "l").collect().groupBy(_.getString(0))
    for ((k, rs) <- byKey) {
      val vs = rs.map(_.getLong(1)).sorted
      assert(got(k) == vs((0 until vs.length).find(i => (i + 1) / vs.length.toDouble >= 0.37).get), k)
    }
  }

  test("both kernel modes fail analysis for a percentile outside [0, 1]") {
    // SQL reaches the discrete kernel as graft_percentile_disc without the
    // validator; out of range it would answer the partition's last or first key
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("pct_range")
    val running = Window.partitionBy("k").orderBy("ord")
    for (p <- Seq(1.5, -0.1, Double.NaN); discrete <- Seq(false, true)) {
      val agg = GraftColumnBridge.column(
        ExactPercentileAgg(GraftColumnBridge.expression(col("d")), p, discrete).toAggregateExpression())
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(agg.over(running)).queryExecution.assertAnalyzed())
      assert(e.getMessage.contains(s"percentile must be in [0, 1], got $p"), s"discrete=$discrete: ${e.getMessage}")
    }
    for (p <- Seq("1.5", "-0.1")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(
        s"SELECT graft_percentile_disc(d, $p) OVER (PARTITION BY k ORDER BY ord) FROM pct_range")
        .queryExecution.assertAnalyzed())
      assert(e.getMessage.contains(s"percentile must be in [0, 1], got $p"), e.getMessage)
    }
  }
}
