package graft.winbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft._
import graft.operators.SkewSafe

/** One window stage as the config strings a user of the engine writes. Timed
  * operations parse it with DslParser.parseSpec every time, as a pipeline
  * configured from text would. */
final case class StageConfig(
    partition: String,
    order: String,
    aggregates: Seq[String],
    frame: String = "NONE",
    preceding: Option[Long] = None,
    following: Option[Long] = None) {
  def parse(): Either[Seq[ValidationFailure], WindowQuerySpec] =
    DslParser.parseSpec(partition, order, aggregates.mkString("\n"), frame, preceding, following)

  def aliases: Seq[String] = aggregates.map(a => a.substring(0, a.indexOf(':')).trim)

  /** The spec of a config that must parse. */
  def spec: WindowQuerySpec = parse().fold(fs => throw new GraftValidationException(fs), identity)
}

/** What an operation produced. It is checked after the operation's time is
  * taken, so checking costs nothing in the measurement. */
sealed trait Output { def id: String }
object Output {
  final case class Printed(id: String, aliases: Seq[String], print: Print) extends Output
  final case class Collected(id: String, aliases: Seq[String], rows: Array[Row]) extends Output
  final case class Rejected(id: String, failures: Seq[String]) extends Output
}

/** One operation's outputs, its input size and the executed plans it ran. */
final case class OpResult(inputRows: Long, outputs: Seq[Output], plans: Seq[SparkPlan])

/** Correct results: DuckDB fingerprints for the configs that must run, and
  * the exact failure list for each config that must be rejected. */
final case class Expected(prints: Map[String, Print], rejections: Map[String, Seq[String]]) {
  /** None when `out` is correct, else what is wrong with it. */
  def check(out: Output): Option[String] = out match {
    case Output.Rejected(id, fs) => rejections.get(id) match {
      case Some(e) if e == fs => None
      case Some(e) => Some(s"$id: rejected with [${fs.mkString(" | ")}], expected [${e.mkString(" | ")}]")
      case None    => Some(s"$id: a valid config was rejected: [${fs.mkString(" | ")}]")
    }
    case Output.Collected(id, aliases, rows) =>
      check(Output.Printed(id, aliases, Fingerprint.ofRows(rows, aliases)))
    case Output.Printed(id, aliases, got) => rejections.get(id) match {
      case Some(e) => Some(s"$id: accepted a config that must be rejected with [${e.mkString(" | ")}]")
      case None => prints.get(id) match {
        case None    => Some(s"$id: no oracle result")
        case Some(p) => Fingerprint.compare(p, got, aliases).map(d => s"$id: $d")
      }
    }
  }
}

/** A seeded workload: its inputs, its operation, and its oracle queries. */
trait Workload {
  def name: String
  /** Operations a run holds at least, however long they take. The JIT
    * keeps speeding operations up through a whole run, so a run that held
    * more operations because they were fast would read faster still; these
    * counts take longer than the benchmark's 10 s, so runs of one program
    * hold the same operations. */
  def minOps: Int
  /** A run holds a whole number of cycles of this many operations. */
  def cycle: Int = 1
  /** Untimed operations between the setups and the measured loop. */
  def warmOps: Int
  /** Writes every input under `dir`, the warm-up inputs included, and opens
    * what the operations read. */
  def generate(spark: SparkSession, dir: String): Unit
  /** Runs the operation on warm-up inputs, untimed and unchecked. */
  def warmUp(spark: SparkSession, dir: String): Unit
  /** DuckDB view name → parquet directory of the inputs under `dir`. */
  def tables(dir: String): Map[String, String]
  /** Output id → DuckDB fingerprint query over [[tables]]. */
  def oracle: Map[String, String]
  def rejections: Map[String, Seq[String]] = Map.empty
  /** The i-th operation of the closed loop. */
  def op(i: Int, spark: SparkSession, dir: String, t: Tracer): OpResult
}

object Workload {
  val names: Seq[String] = Seq("wide_batch", "hot_partitions", "small_requests")

  def apply(name: String, seed: Long): Workload = name match {
    case "wide_batch"     => new WideBatch(seed)
    case "hot_partitions" => new HotPartitions(seed)
    case "small_requests" => new SmallRequests(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }

  /** Tie-free because the generated l_extendedprice is unique. */
  val TieFreeOrder = "l_extendedprice:Descending,l_orderkey:Ascending,l_linenumber:Ascending"
  val ShipOrder = "l_shipdate:Ascending,l_orderkey:Ascending,l_linenumber:Ascending"

  /** The 12 functions that take an order clause, plus ACCUMULATE. */
  val Ordered13: Seq[String] = Seq(
    "rnk:rank(l_extendedprice,,)", "drnk:dense_rank(l_extendedprice,,)",
    "prnk:percent_rank(l_extendedprice,,)", "tile:n_tile(l_quantity,4,)",
    "rn:row_number(l_extendedprice,,)", "med:median(l_quantity,,)",
    "dpct:discrete_percentile(l_quantity,0.5,)", "nxt:lead(l_extendedprice,1,)",
    "prv:lag(l_extendedprice,2,)", "frst:first(l_extendedprice,,)",
    "lst:last(l_extendedprice,,)", "cume:cumulative_distribution(l_quantity,,)",
    "acc:accumulate(l_quantity,,)")
  /** The functions a ROW or RANGE frame is legal for. */
  val Framed: Seq[String] = Seq(
    "frst:first(l_extendedprice,,)", "lst:last(l_extendedprice,,)", "acc:accumulate(l_quantity,,)")
  /** Functions over a whole, unordered partition. */
  val Unordered: Seq[String] = Seq(
    "p25:continuous_percentile(l_extendedprice,0.25,)",
    "p75:continuous_percentile(l_extendedprice,0.75,)", "tot:accumulate(l_quantity,,)")

  /** Parse, validate and build each stage on the previous one's output. */
  def runStages(in: DataFrame, stages: Seq[StageConfig], t: Tracer): DataFrame =
    stages.foldLeft(in) { (df, stage) =>
      val spec = t.span("parser.parse")(stage.parse())
        .fold(fs => throw new GraftValidationException(fs), identity)
      val failures = t.span("validate.validate")(Validator.validate(spec, df.schema))
      if (failures.nonEmpty) throw new GraftValidationException(failures)
      t.span("engine.build")(WindowEngine.run(df, spec))
    }

  /** Fingerprints `df` in Spark and brings the one-row result to the driver. */
  def printed(id: String, df: DataFrame, aliases: Seq[String], t: Tracer,
      execSpan: String = "engine.exec"): (Output, SparkPlan) = {
    val fp = Fingerprint.of(df, aliases)
    val plan = t.span("engine.plan")(fp.queryExecution.executedPlan)
    val row = t.span(execSpan)(fp.collect().head)
    (Output.Printed(id, aliases, Fingerprint.decode(row.toSeq)), plan)
  }

  /** DuckDB text of `stages` chained over `table`, each stage reading the
    * previous one's output schema, exactly as the engine chains them. */
  def oracleSql(stages: Seq[StageConfig], table: String): String = {
    var from = table
    var schema = SparkEntry.liSchema
    var sql = ""
    for ((stage, k) <- stages.zipWithIndex) {
      val spec = stage.spec
      sql = SqlEmitter.emit(spec, from, schema, SqlEmitter.Dialect.DuckDb)
      from = s"($sql) stage$k"
      schema = WindowEngine.outputSchema(schema, spec)
    }
    sql
  }
}

import Workload._

/** A batch workload: one generated table, and a job over all of it. */
abstract class BatchWorkload(seed: Long) extends Workload {
  val minOps = 10
  val warmOps = 2
  def shape: Inputs.Shape
  /** The job's fingerprinted outputs and their executed plans. */
  protected def job(in: DataFrame, t: Tracer): Seq[(Output, SparkPlan)]

  def generate(spark: SparkSession, dir: String): Unit = {
    Inputs.write(spark, shape, seed, s"$dir/lineitem")
    Inputs.write(spark, shape.copy(rows = shape.rows / 4), seed + 1, s"$dir/warm")
  }
  /** One job on the quarter-size warm-up table. */
  def warmUp(spark: SparkSession, dir: String): Unit = run(spark, s"$dir/warm", 0, Tracer.Off)
  def tables(dir: String): Map[String, String] = Map("lineitem" -> s"$dir/lineitem")
  def op(i: Int, spark: SparkSession, dir: String, t: Tracer): OpResult =
    run(spark, s"$dir/lineitem", shape.rows, t)

  private def run(spark: SparkSession, path: String, rows: Long, t: Tracer): OpResult = {
    val outs = job(t.span("sources.read")(spark.read.parquet(path)), t)
    OpResult(rows, outs.map(_._1), outs.map(_._2))
  }
}

/** Many window partitions of about 600 rows each, under Spark's 4096-row
  * in-memory window buffer: the engine's main batch use. Three stages on one
  * partition key, chained as a pipeline would chain them. */
final class WideBatch(seed: Long) extends BatchWorkload(seed) {
  val name = "wide_batch"
  val shape = Inputs.Shape(rows = 120000, suppliers = 200, flags = Seq("A" -> 1, "N" -> 1, "R" -> 1))

  val stages = Seq(
    StageConfig("l_suppkey", TieFreeOrder, Ordered13),
    StageConfig("l_suppkey", TieFreeOrder,
      Seq("wfrst:first(l_extendedprice,,)", "wlst:last(l_extendedprice,,)", "wacc:accumulate(l_quantity,,)"),
      "ROW", Some(-3L), Some(3L)),
    StageConfig("l_suppkey", "", Seq("p25:continuous_percentile(l_extendedprice,0.25,)")))
  private val aliases = stages.flatMap(_.aliases)

  def oracle: Map[String, String] = Map(name -> Fingerprint.sql(oracleSql(stages, "lineitem"), aliases))

  protected def job(in: DataFrame, t: Tracer): Seq[(Output, SparkPlan)] =
    Seq(printed(name, runStages(in, stages, t), aliases, t))
}

/** A handful of partition keys, one owning half the rows: window partitions
  * far past the 4096-row buffer, parallelism capped by the key count, and
  * the holistic running aggregates (MEDIAN, DISCRETE_PERCENTILE) dominating.
  * The hot key's running ACCUMULATE goes through SkewSafe.saltedAccumulate,
  * the escape the engine prescribes for hot keys. */
final class HotPartitions(seed: Long) extends BatchWorkload(seed) {
  val name = "hot_partitions"
  val shape = Inputs.Shape(rows = 100000, suppliers = 1000,
    flags = Seq("N" -> 50, "R" -> 20, "A" -> 20, "F" -> 10))

  /** The salt-incompatible functions: each needs the whole partition. */
  val holistic = StageConfig("l_returnflag", TieFreeOrder, Seq(
    "rnk:rank(l_extendedprice,,)", "prnk:percent_rank(l_extendedprice,,)", "tile:n_tile(l_quantity,8,)",
    "med:median(l_quantity,,)", "dpct:discrete_percentile(l_quantity,0.9,)",
    "cume:cumulative_distribution(l_quantity,,)"))
  /** What the salted path computes, as an engine spec; used for its oracle. */
  val running = StageConfig("l_returnflag", ShipOrder, Seq("run_qty:accumulate(l_quantity,,)"))

  def oracle: Map[String, String] = Map(
    "holistic" -> Fingerprint.sql(oracleSql(Seq(holistic), "lineitem"), holistic.aliases),
    "salted" -> Fingerprint.sql(oracleSql(Seq(running), "lineitem"), running.aliases))

  protected def job(in: DataFrame, t: Tracer): Seq[(Output, SparkPlan)] = {
    val whole = printed("holistic", runStages(in, Seq(holistic), t), holistic.aliases, t)
    // SkewSafe needs a chunk column that never decreases along the order key
    val chunked = in.withColumn("l_shipmonth", year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
    val salted = t.span("skewsafe.build")(SkewSafe.saltedAccumulate(chunked, Seq("l_returnflag"),
      Seq("l_shipdate", "l_orderkey", "l_linenumber"), "l_shipmonth", "l_quantity", "run_qty"))
    Seq(whole, printed("salted", salted, running.aliases, t, execSpan = "skewsafe.exec"))
  }
}

/** One request of the small_requests closed loop: a config run on one batch,
  * through WindowEngine.run or through SqlEmitter.emit and spark.sql. */
final case class Request(id: String, batch: Int, config: StageConfig, sqlemit: Boolean)

/** A closed loop with one client, each request one pipeline-stage call on a
  * small batch, so parsing, validation, DataFrame building and planning are
  * a visible share of every request. The loop cycles through a seeded pool. */
final class SmallRequests(seed: Long) extends Workload {
  val name = "small_requests"
  /** Ten cycles of the pool. */
  val minOps = 150
  private val rnd = new Random(seed)

  /** Four batches, 1000 to 6000 rows, in seeded order. */
  val batchRows: IndexedSeq[Long] = rnd.shuffle((0 until 4).map(k => 1000L + k * 5000L / 3))
  private def batchShape(rows: Long) = Inputs.Shape(rows, suppliers = 40, flags = Seq("A" -> 1, "N" -> 1, "R" -> 1))

  /** Invalid configs and the exact failure lists the parser or validator
    * must answer them with. */
  val invalid: Seq[(StageConfig, Seq[String])] = Seq(
    StageConfig("l_returnflag", TieFreeOrder, Seq("rnk:rank(l_extendedprice,,)"), "ROW", Some(-1L), Some(1L)) ->
      Seq("Function RANK (alias 'rnk') does not support a frame clause."),
    StageConfig("l_suppkey", TieFreeOrder, Seq("tile:n_tile(l_quantity,0,)")) ->
      Seq("N_TILE argument '0' (alias 'tile') must be a positive integer."),
    StageConfig("l_returnflag", "", Seq("p25:continuous_percentile(l_extendedprice,1.5,)")) ->
      Seq("CONTINUOUS_PERCENTILE argument '1.5' (alias 'p25') must be a double in range 0.0-1.0."),
    StageConfig("l_suppkey", TieFreeOrder, Seq("acc:accumulate(l_discount,,)")) ->
      Seq("Aggregate field 'l_discount' (alias 'acc') must exist in input schema. " +
        "Provide a field that exists in the input schema."),
    StageConfig("l_returnflag", TieFreeOrder, Seq("rnk:rank(l_extendedprice,,)", "bad:rnak(l_extendedprice,,)")) ->
      Seq("Invalid function 'rnak'. Must be one of RANK,DENSE_RANK,PERCENT_RANK,N_TILE,ROW_NUMBER,MEDIAN," +
        "CONTINUOUS_PERCENTILE,DISCRETE_PERCENTILE,LEAD,LAG,FIRST,LAST,CUMULATIVE_DISTRIBUTION,ACCUMULATE."),
    StageConfig("l_returnflag", TieFreeOrder, Seq("rnk:rank(l_extendedprice,,)", "rnk:dense_rank(l_extendedprice,,)")) ->
      Seq("Cannot create multiple aggregate functions with the same alias 'rnk'. Provided aliases must be unique."),
    StageConfig("l_suppkey", TieFreeOrder, Seq("cume:cumulative_distribution(l_returnflag,,)")) ->
      Seq("Field 'l_returnflag' has type string which is not supported by function " +
        "CUMULATIVE_DISTRIBUTION (alias 'cume'). Supported types are: int, long, float, double."),
    StageConfig("l_returnflag", TieFreeOrder, Seq("acc:accumulate(l_quantity,,)"), "RANGE", Some(-5L), Some(0L)) ->
      Seq("partitionOrder needs to have exactly one clause when using RANGE frametype for function ACCUMULATE. " +
        "Make sure there is only 1 ordering field.",
        "A bounded RANGE frame requires exactly one order clause. Provide a single numeric order field."))

  /** 15 requests in a fixed mix: 1 invalid (7%); 3 with the 13 ordered
    * functions, 5 with 3 and 6 with 1, over NONE, ROW and RANGE frames; 4 of
    * the 14 valid ones go through the SQL emitter. The mix, the partition
    * keys, which requests use the emitter and the batch size of each request
    * are fixed, so that every seed asks for the same work: a holistic
    * function over l_returnflag's three partitions costs far more than over
    * l_suppkey's forty. The seed generates the batches, deals order keys and
    * frame bounds, picks the invalid config, and orders the loop. The size
    * is odd so that a traced run, tracing every other request, traces each
    * entry half the time. */
  val pool: IndexedSeq[Request] = {
    val fn = Ordered13.map(a => a.substring(0, a.indexOf(':')) -> a).toMap
    def deal[T](xs: Seq[T]): Iterator[T] = Iterator.continually(rnd.shuffle(xs)).flatten
    val keys = Iterator.continually(Seq("l_returnflag", "l_suppkey", "l_returnflag,l_linestatus")).flatten
    val orders = deal(Seq(TieFreeOrder, ShipOrder))
    val rowBounds = deal(Seq((-2L, 0L), (-5L, 5L), (0L, 3L)))
    val rangeBounds = deal(Seq((-500L, 0L), (-2000L, 2000L), (0L, 1000L)))
    def unframed(aggs: Seq[String]) = StageConfig(keys.next(), orders.next(), aggs)
    def rowFrame(aggs: Seq[String]) = {
      val (p, f) = rowBounds.next()
      StageConfig(keys.next(), orders.next(), aggs, "ROW", Some(p), Some(f))
    }
    // a bounded RANGE frame needs one numeric order key; prices are unique
    def rangeFrame(aggs: Seq[String]) = {
      val (p, f) = rangeBounds.next()
      StageConfig(keys.next(), "l_extendedprice:Ascending", aggs, "RANGE", Some(p), Some(f))
    }
    val valid: Seq[StageConfig] =
      Seq.fill(3)(unframed(Ordered13)) ++
        Seq(Seq("rnk", "med", "nxt"), Seq("drnk", "dpct", "frst")).map(t => unframed(t.map(fn))) ++
        Seq(StageConfig(keys.next(), "", Unordered), rowFrame(Framed), rangeFrame(Framed)) ++
        Seq("prnk", "tile", "lst").map(f => unframed(Seq(fn(f)))) ++
        Seq(rowFrame(Framed.take(1)), rangeFrame(Framed.drop(2)), StageConfig(keys.next(), "", Unordered.take(1)))
    // Spark SQL's PERCENTILE_DISC takes no running frame, so the emitter
    // cannot express an ordered DISCRETE_PERCENTILE for spark.sql
    val emittable = valid.indices.filter(k => valid(k).aggregates.size < 13 &&
      !valid(k).aggregates.exists(_.contains("discrete_percentile")))
    val viaSql = emittable.indices.filter(_ % 3 == 0).map(emittable).toSet
    // batch sizes cycle in a fixed order over the configs, so the requests
    // with 13 aggregates, which set the p90, always run on the same sizes
    val bySize = batchRows.indices.sortBy(batchRows)
    val requests = valid.indices.map(k => Request(s"r$k", bySize(k % bySize.size), valid(k), viaSql(k))) :+
      Request("invalid", bySize(valid.size % bySize.size), rnd.shuffle(invalid).head._1, sqlemit = false)
    rnd.shuffle(requests).toIndexedSeq
  }

  override def cycle: Int = pool.size
  /** Three cycles: the JIT keeps speeding requests up for several more. */
  def warmOps: Int = 3 * pool.size

  override val rejections: Map[String, Seq[String]] = {
    val expected = invalid.toMap
    pool.filter(r => expected.contains(r.config)).map(r => r.id -> expected(r.config)).toMap
  }

  /** The batches, opened once per session and registered as the views
    * batch_0.. that the emitted SQL reads: a request starts from data its
    * pipeline already holds. */
  private var batches: IndexedSeq[DataFrame] = IndexedSeq.empty

  def generate(spark: SparkSession, dir: String): Unit = {
    batchRows.zipWithIndex.map { case (rows, b) =>
      Inputs.lineitem(spark, batchShape(rows), seed * 16 + b, partitions = 1).withColumn("batch", lit(b))
    }.reduce(_ union _).write.mode("overwrite").partitionBy("batch").parquet(s"$dir/batches")
    batches = batchRows.indices.map { b =>
      val df = spark.read.parquet(batchDir(dir, b))
      df.createOrReplaceTempView(s"batch_$b")
      df
    }
  }

  private def batchDir(dir: String, b: Int) = s"$dir/batches/batch=$b"

  /** Every pool request once, on the smallest batch. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    val smallest = batchRows.indexOf(batchRows.min)
    pool.foreach(r => request(r.copy(batch = smallest), spark, Tracer.Off))
  }

  def tables(dir: String): Map[String, String] =
    batchRows.indices.map(b => s"batch_$b" -> batchDir(dir, b)).toMap

  def oracle: Map[String, String] = pool.filterNot(r => rejections.contains(r.id)).map { r =>
    r.id -> Fingerprint.sql(oracleSql(Seq(r.config), s"batch_${r.batch}"), r.config.aliases)
  }.toMap

  def op(i: Int, spark: SparkSession, dir: String, t: Tracer): OpResult =
    request(pool(i % pool.size), spark, t)

  private def request(r: Request, spark: SparkSession, t: Tracer): OpResult = {
    val rows = batchRows(r.batch)
    val df = batches(r.batch)
    def rejected(fs: Seq[ValidationFailure]) = OpResult(0, Seq(Output.Rejected(r.id, fs.map(_.toString))), Nil)
    t.span("parser.parse")(r.config.parse()) match {
      case Left(fs) => rejected(fs)
      case Right(spec) =>
        val fs = t.span("validate.validate")(Validator.validate(spec, df.schema))
        if (fs.nonEmpty) rejected(fs)
        else {
          val out =
            if (r.sqlemit) {
              val text = t.span("sqlemit.emit")(SqlEmitter.emit(spec, s"batch_${r.batch}", df.schema))
              t.span("sqlemit.sql_build")(spark.sql(text))
            } else t.span("engine.build")(WindowEngine.run(df, spec))
          val plan = t.span("engine.plan")(out.queryExecution.executedPlan)
          val collected = t.span("engine.exec")(out.collect())
          OpResult(rows, Seq(Output.Collected(r.id, r.config.aliases, collected)), Seq(plan))
        }
    }
  }
}
