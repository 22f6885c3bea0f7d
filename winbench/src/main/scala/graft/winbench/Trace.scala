package graft.winbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** One timed call into a layer. Spans of one operation share `op`; `parent`
  * is the id of the enclosing span (-1 for the operation's root). */
final case class Span(op: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Times calls into the program's layers from outside. The untraced run uses
  * [[Tracer.Off]], which only evaluates the block, so both runs do the same
  * work and their difference is the cost of tracing. */
sealed trait Tracer {
  def span[T](name: String)(body: => T): T
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
  }

  /** Keeps every span in memory; they are written out when the run ends. */
  final class Recording extends Tracer {
    val spans = ArrayBuffer.empty[Span]
    private var op = -1
    private var current = -1

    def startOp(id: Int): Unit = { op = id; current = -1 }

    def span[T](name: String)(body: => T): T = {
      val id = spans.size
      spans += null // reserve the id; the span is stored when it ends
      val parent = current
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(op, id, parent, name, t0, System.nanoTime())
        current = parent
      }
    }

    /** Summed duration of the spans named `name`, per operation that has any. */
    def perOp(name: String): Map[Int, Double] =
      spans.filter(_.name == name).groupMapReduce(_.op)(s => (s.endNs - s.startNs) / 1e6)(_ + _)
  }
}

/** Spark task and stage counters for one traced operation, gathered by a
  * listener that is attached only while that operation runs. */
final class TaskStats extends SparkListener {
  final case class Stage(shuffleRead: Boolean, durationsMs: Seq[Long])

  @volatile var tasks = 0L
  @volatile var inputRows = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var peakExecMem = 0L
  private val durations = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val reads = scala.collection.mutable.Set.empty[Int]
  val stages = ArrayBuffer.empty[Stage]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      inputRows += m.inputMetrics.recordsRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      if (m.shuffleReadMetrics.totalBlocksFetched > 0) reads += e.stageId
    }
    durations.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stages += Stage(reads.contains(id), durations.getOrElse(id, ArrayBuffer.empty).toSeq)
  }

  /** Slowest ÷ median task of the window stage, taken as the shuffle-reading
    * stage with the most task time (window operators run right after the
    * exchange on the partition key). 1.0 when no stage read a shuffle. */
  def windowStageSkew: Double = synchronized {
    val candidates = stages.filter(s => s.shuffleRead && s.durationsMs.nonEmpty)
    if (candidates.isEmpty) 1.0
    else {
      val d = candidates.maxBy(_.durationsMs.sum).durationsMs.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }
  }
}

/** Operator counts in an executed (adaptive, final) physical plan. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def windows(plan: SparkPlan): Int = collectWithSubqueries(plan) { case w: WindowExec => w }.size
  def exchanges(plan: SparkPlan): Int = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.size
  /** Bytes of the files the plan's scans read. */
  def scannedBytes(plan: SparkPlan): Long = collectWithSubqueries(plan) {
    case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
  }.sum
}
