package graft.winbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

import graft.CodegenFallbackCounter

/** The window-engine benchmark, one run of one workload:
  *
  *  1. setup, [[Main.SetupRepeats]] times: start a session, generate the
  *     seeded inputs, warm up (setup_s is the median); after the first,
  *     compute the expected fingerprints with the DuckDB oracle, from the
  *     SqlEmitter DuckDb text of the same specs over the same parquet;
  *  2. run the workload's untimed warm-up operations, then operations in a
  *     closed loop with one client for `--seconds`, in whole cycles and at
  *     least the workload's minimum count; every output is checked after its
  *     time is taken;
  *  3. print the run record, then the result line.
  *
  * Every time reported has the hypervisor's steal taken out ([[Elapsed]]);
  * the record keeps the wall times too.
  *
  * With `--trace 1` every other operation is traced: spans around each
  * layer call and a SparkListener for task counters. The untraced ones in
  * between give the tracing overhead. run.py builds the program and starts
  * this with the arguments below.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, python: String, oracle: String, cpus: Int)

  val SetupRepeats = 3
  /** A run stops at this many times `--seconds` even below the minimum
    * operation count, so it always ends within the time a run may take. */
  val MaxOvertime = 4

  private val json = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parseArgs(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(a: Args): Unit = {
    val wl = Workload(a.workload, a.seed)
    val load0 = loadavg()
    val dir = new File(a.work, "data").getPath
    var spark: SparkSession = null
    val record = new java.util.LinkedHashMap[String, Any]()
    val (failed, attempted, metrics) = try {
      var expected: Expected = null
      val phases = ArrayBuffer.empty[Seq[Elapsed]]
      for (rep <- 1 to SetupRepeats) {
        if (spark != null) spark.stop()
        def timed(f: => Unit): Elapsed = { val w = Stopwatch.start(); f; w.elapsed() }
        phases += Seq(timed { spark = session(a) }, timed(wl.generate(spark, dir)), timed(wl.warmUp(spark, dir)))
        // every setup writes the same inputs; check them once, early, so the
        // oracle's CPU burst lies between setups rather than before the loop
        if (rep == 1) {
          checkSchema(spark, wl, dir)
          expected = Expected(oracle(a, wl, dir), wl.rejections)
        }
      }
      CodegenFallbackCounter.install()
      CodegenFallbackCounter.reset()
      val run = new Run(spark, wl, dir, expected, a.trace)
      run.loop(a.seconds)
      if (a.trace) run.writeSpans(new File(a.work, s"spans-${a.workload}-${a.seed}.jsonl"))
      val metrics =
        if (a.trace) run.perLayer
        else run.endToEnd(_.ms) + ("setup_s" -> (median(phases.map(_.map(_.ms).sum / 1e3).toSeq), "s"))
      Seq[(String, Any)](
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "nproc" -> Runtime.getRuntime.availableProcessors, "local_n" -> a.cpus,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
        "cpu_steal_frac" -> run.stealFrac, "loop_gc_ms" -> run.gcMsTotal,
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "setup_phases_s" -> phases.map(_.map(_.ms / 1e3).asJava).asJava,
        "setup_phases_wall_s" -> phases.map(_.map(_.wallMs / 1e3).asJava).asJava,
        "op_ms" -> run.ops.map(_.time.ms).asJava, "op_wall_ms" -> run.ops.map(_.time.wallMs).asJava,
        "wall_metrics" -> run.endToEnd(_.wallMs).map { case (k, (v, _)) => k -> v }.asJava,
        "ops" -> run.attempted, "failed_ops" -> run.failed,
        "failed_frac" -> run.failed.toDouble / run.attempted,
        "codegen_fallbacks" -> CodegenFallbackCounter.count,
        "failures" -> run.failures.take(5).asJava).foreach { case (k, v) => record.put(k, v) }
      (run.failed, run.attempted, metrics)
    } finally if (spark != null) spark.stop()

    val metricsJson = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u).asJava }.asJava
    record.put("metrics", metricsJson)
    val line = json.writeValueAsString(Map("record" -> record).asJava)
    Files.write(Paths.get(a.work, s"record-${a.workload}-${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      line.getBytes("UTF-8"))
    println(line)
    println(json.writeValueAsString(Map[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricsJson).asJava))
  }

  /** One timed operation; [[ms]] has the hypervisor's steal taken out. */
  final case class Op(time: Elapsed, traced: Boolean, rows: Long) {
    def ms: Double = time.ms
  }

  /** One measured closed loop and what it observed. */
  final class Run(spark: SparkSession, wl: Workload, dir: String, expected: Expected, trace: Boolean) {
    val ops = ArrayBuffer.empty[Op]
    private val tracer = new Tracer.Recording
    /** Counters of each traced operation that executed a plan. */
    private val counters = ArrayBuffer.empty[Map[String, Double]]
    private var rejected = 0
    private var loopTime = Elapsed(0, 0, 0)
    val failures = ArrayBuffer.empty[String]
    var failed = 0
    def attempted: Int = ops.size

    /** Share of the machine's CPU time the hypervisor took away during the
      * loop (/proc/stat); a high value marks a contended run. */
    var stealFrac = 0.0
    /** JVM garbage-collection time during the loop. */
    var gcMsTotal = 0L

    def loop(seconds: Int): Unit = {
      // untimed operations first: the setups warm up on smaller inputs, and
      // the JIT is still compiling the engine's hot paths after them
      for (k <- 0 until wl.warmOps) Try(wl.op(k, spark, dir, Tracer.Off))
      val cpu0 = Stopwatch.cpuTimes()
      val loopGc0 = gcMs()
      val loopWatch = Stopwatch.start()
      def elapsed = loopWatch.elapsed().wallNs / 1e9
      var i = 0
      // whole cycles only, so that every run weighs each operation alike
      def more = i % wl.cycle != 0 || elapsed < seconds || i < wl.minOps
      while (more && elapsed < seconds * MaxOvertime) {
        val traced = trace && i % 2 == 0
        val stats = new TaskStats
        if (traced) { spark.sparkContext.addSparkListener(stats); tracer.startOp(i) }
        val t: Tracer = if (traced) tracer else Tracer.Off
        val gc0 = gcMs()
        val watch = Stopwatch.start()
        val result = Try(t.span("op")(wl.op(i, spark, dir, t)))
        val time = watch.elapsed()
        val gc = gcMs() - gc0
        if (traced) { ListenerDrain(spark.sparkContext); spark.sparkContext.removeSparkListener(stats) }
        val errors = result match {
          case Failure(e) => Seq(s"op $i: ${e.toString.linesIterator.next()}")
          case Success(r) =>
            rejected += r.outputs.count(_.isInstanceOf[Output.Rejected])
            r.outputs.flatMap(expected.check) ++
              r.plans.filter(PlanStats.windows(_) == 0).map(_ => s"op $i: no Window node in the executed plan")
        }
        if (errors.nonEmpty) { failed += 1; failures ++= errors }
        ops += Op(time, traced, result.map(_.inputRows).getOrElse(0L))
        for (r <- result if traced && r.plans.nonEmpty) counters += Map(
          "engine.window_nodes" -> r.plans.map(PlanStats.windows).sum.toDouble,
          "engine.exchanges" -> r.plans.map(PlanStats.exchanges).sum.toDouble,
          "engine.stages" -> stats.stages.size.toDouble,
          "engine.tasks" -> stats.tasks.toDouble,
          "engine.shuffle_write_mb" -> stats.shuffleWriteBytes / 1e6,
          "engine.spill_mb" -> stats.spillBytes / 1e6,
          "engine.peak_exec_mem_mb" -> stats.peakExecMem / 1e6,
          "engine.task_skew" -> stats.windowStageSkew,
          "engine.gc_ms" -> gc.toDouble,
          "sources.input_rows" -> stats.inputRows.toDouble,
          "sources.input_mb" -> r.plans.map(PlanStats.scannedBytes).sum / 1e6)
        i += 1
      }
      loopTime = loopWatch.elapsed()
      gcMsTotal = gcMs() - loopGc0
      val d = Stopwatch.cpuTimes().zipAll(cpu0, 0L, 0L).map { case (x, y) => x - y }
      if (d.size > 7 && d.sum > 0) stealFrac = d(7).toDouble / d.sum
    }

    /** Untraced end-to-end metrics from each operation's time in ms. An
      * operation is one job (batch workloads) or one request
      * (small_requests). Medians, so that a burst of contention on the
      * machine moves them less. */
    def endToEnd(opMs: Elapsed => Double): Map[String, (Double, String)] = {
      val ms = ops.map(o => opMs(o.time)).toSeq
      Map(
        "job_s" -> (median(ms) / 1e3, "s"),
        "rows_per_s" -> (ops.map(_.rows).sum / (ms.sum / 1e3), "1/s"),
        "request_ms_p50" -> (median(ms), "ms"),
        "request_ms_p90" -> (percentile(ms, 0.9), "ms"),
        "requests_per_s" -> (ms.size / (opMs(loopTime) / 1e3), "1/s"))
    }

    /** Per-layer metrics of the traced operations, plus tracing overhead. */
    def perLayer: Map[String, (Double, String)] = {
      def layerMs(span: String): Double = {
        val perOp = tracer.perOp(span).values
        if (perOp.isEmpty) 0.0 else perOp.sum / perOp.size
      }
      def mean(key: String): Double =
        if (counters.isEmpty) 0.0 else counters.map(_(key)).sum / counters.size
      val (traced, plain) = ops.partition(_.traced)
      val times = Seq("sources.read_ms", "parser.parse_ms", "validate.validate_ms", "engine.build_ms",
        "engine.plan_ms", "engine.exec_ms", "sqlemit.emit_ms", "sqlemit.sql_build_ms", "skewsafe.exec_ms")
        .map(m => m -> (layerMs(m.stripSuffix("_ms")), "ms"))
      val counts = Seq(
        "engine.window_nodes" -> "count", "engine.exchanges" -> "count", "engine.stages" -> "count",
        "engine.tasks" -> "count", "engine.shuffle_write_mb" -> "MB", "engine.spill_mb" -> "MB",
        "engine.task_skew" -> "ratio", "engine.gc_ms" -> "ms", "sources.input_rows" -> "count",
        "sources.input_mb" -> "MB").map { case (m, u) => m -> (mean(m), u) }
      (times ++ counts ++ Seq(
        "engine.peak_exec_mem_mb" ->
          ((if (counters.isEmpty) 0.0 else counters.map(_("engine.peak_exec_mem_mb")).max), "MB"),
        "validate.rejected" -> (rejected.toDouble, "count"),
        "engine.codegen_fallbacks" -> (CodegenFallbackCounter.count.toDouble, "count"),
        "trace.overhead_job_s" ->
          ((traced.map(_.ms).sum / traced.size - plain.map(_.ms).sum / plain.size) / 1e3, "s"),
        "trace.overhead_request_ms_p50" ->
          (percentile(traced.map(_.ms).toSeq, 0.5) - percentile(plain.map(_.ms).toSeq, 0.5), "ms"))).toMap
    }

    def writeSpans(f: File): Unit = {
      val lines = tracer.spans.map(s => json.writeValueAsString(Map[String, Any](
        "op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs).asJava))
      Files.write(f.toPath, lines.asJava)
    }
  }

  private def session(a: Args): SparkSession = SparkSession.builder()
    .master(s"local[${a.cpus}]")
    .appName("winbench")
    .config("spark.sql.shuffle.partitions", a.cpus.toString)
    // The inputs are far below the engine's design scale. With the 1 MB
    // default minimum, adaptive execution folds a batch window stage into
    // fewer tasks than cores; at 256 KB the batch stages keep all N while a
    // small request's shuffle still folds into one task.
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", new File(a.work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
    .getOrCreate()

  /** The oracle's SQL is emitted against SparkEntry.liSchema, so the
    * generated parquet must carry exactly that schema. */
  private def checkSchema(spark: SparkSession, wl: Workload, dir: String): Unit =
    for ((name, path) <- wl.tables(dir)) {
      val got = spark.read.parquet(path).schema.map(f => f.name -> f.dataType)
      val want = graft.SparkEntry.liSchema.map(f => f.name -> f.dataType)
      require(got == want, s"input $name has schema $got, expected $want")
    }

  /** Runs oracle.py on the workload's DuckDB queries; output id → print. */
  private def oracle(a: Args, wl: Workload, dir: String): Map[String, Print] = {
    val req = new File(a.work, "oracle-request.json")
    val resp = new File(a.work, "oracle-response.json")
    resp.delete()
    json.writeValue(req, Map(
      "tables" -> wl.tables(dir).asJava,
      "queries" -> wl.oracle.asJava,
      "temp_directory" -> new File(a.work, "duckdb-tmp").getPath).asJava)
    val log = new File(a.work, "oracle.log")
    val p = new ProcessBuilder(a.python, a.oracle, req.getPath, resp.getPath)
      .redirectErrorStream(true).redirectOutput(log).start()
    if (!p.waitFor(150, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      throw new IllegalStateException("the oracle did not finish within 150 s")
    }
    require(p.exitValue == 0, s"the oracle failed with exit code ${p.exitValue}; see $log")
    val tree = json.readTree(resp)
    tree.fieldNames.asScala.map { id =>
      id -> Fingerprint.decode(tree.get(id).elements.asScala.map { v =>
        if (v.isNull) null else java.lang.Double.valueOf(v.asDouble)
      }.toSeq)
    }.toMap
  }

  private def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("work"), get("python"), get("oracle"), get("cpus").toInt)
  }

  private def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def loadavg(): String =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim).getOrElse("unavailable")
}
