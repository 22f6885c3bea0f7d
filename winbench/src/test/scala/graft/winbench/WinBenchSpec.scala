package graft.winbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Validator}

/** The benchmark's own checks: every workload runs a real Window operator,
  * and the correctness checks do flag wrong results. */
class WinBenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private lazy val dir = Files.createTempDirectory("winbench-spec").toString

  override def afterAll(): Unit = spark.stop()

  for (name <- Workload.names) test(s"$name: every executed plan holds a Window node") {
    val wl = Workload(name, seed = 1)
    wl.generate(spark, s"$dir/$name")
    val ops = if (name == "small_requests") 15 else 1
    val plans = (0 until ops).flatMap(i => wl.op(i, spark, s"$dir/$name", Tracer.Off).plans)
    assert(plans.nonEmpty)
    for (p <- plans) assert(PlanStats.windows(p) >= 1, p.toString)
  }

  private val aliases = Seq("rnk", "acc")
  private def sample = {
    import spark.implicits._
    Seq((1L, 1, 1, 10.0), (1L, 2, 2, 20.0), (2L, 1, 1, 5.5))
      .toDF("l_orderkey", "l_linenumber", "rnk", "acc")
  }

  test("the Spark and the driver-side fingerprint agree and match themselves") {
    val spark1 = Fingerprint.decode(Fingerprint.of(sample, aliases).collect().head.toSeq)
    val driver = Fingerprint.ofRows(sample.collect(), aliases)
    assert(Fingerprint.compare(spark1, driver, aliases).isEmpty)
    assert(spark1.rows == 3 && spark1.columns.map(_.count) == Seq(3, 3))
  }

  test("a corrupted fingerprint is flagged") {
    val good = Fingerprint.ofRows(sample.collect(), aliases)
    val acc = good.columns(1)
    val nudged = good.copy(columns = Seq(good.columns(0), acc.copy(sum = acc.sum * (1 + 1e-6))))
    assert(Fingerprint.compare(good, nudged, aliases).exists(_.contains("acc")))
    // the same values on the wrong rows keep the sum but not the weighted sum
    import spark.implicits._
    val swapped = Seq((1L, 1, 1, 20.0), (1L, 2, 2, 10.0), (2L, 1, 1, 5.5))
      .toDF("l_orderkey", "l_linenumber", "rnk", "acc")
    assert(Fingerprint.compare(good, Fingerprint.ofRows(swapped.collect(), aliases), aliases).nonEmpty)
    assert(Fingerprint.compare(good, good.copy(rows = 4), aliases).nonEmpty)
  }

  test("a wrongly accepted invalid config and a wrong rejection are flagged") {
    val failures = Seq("Function RANK (alias 'rnk') does not support a frame clause.")
    val expected = Expected(Map("ok" -> Fingerprint.ofRows(sample.collect(), aliases)), Map("bad" -> failures))
    val printed = Fingerprint.ofRows(sample.collect(), aliases)
    assert(expected.check(Output.Printed("bad", aliases, printed)).exists(_.contains("accepted")))
    assert(expected.check(Output.Rejected("bad", failures :+ "extra")).nonEmpty)
    assert(expected.check(Output.Rejected("ok", failures)).exists(_.contains("valid config was rejected")))
    assert(expected.check(Output.Rejected("bad", failures)).isEmpty)
    assert(expected.check(Output.Printed("ok", aliases, printed)).isEmpty)
  }

  test("each invalid config is rejected with exactly its listed failures") {
    for ((config, failures) <- new SmallRequests(1).invalid) {
      val got = config.parse() match {
        case Left(fs)    => fs
        case Right(spec) => Validator.validate(spec, SparkEntry.liSchema)
      }
      assert(got.map(_.toString) == failures, config)
    }
  }

  test("the request pool holds the stated mix") {
    val pool = new SmallRequests(7).pool
    assert(pool.size == 15)
    assert(pool.count(_.config.aggregates.size == 13) == 3)
    assert(pool.count(_.sqlemit) == 4)
    assert(new SmallRequests(7).rejections.size == 1)
    assert(pool.map(_.config.frame).toSet == Set("NONE", "ROW", "RANGE"))
  }
}
