package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Counts Spark's silent codegen-fallback events for the benchmark record.
  *
  * Why this exists: in round 13 the inlined URL-normalization column chain
  * blew past the JVM's 64 KB generated-method limit and every consumer
  * stage SILENTLY fell back to interpreted execution — 21 `CodeGenerator`
  * "failed to compile" warnings per benchmark run that nothing surfaced
  * until the stderr logs were read by hand (BENCH_NOTES r13). The class of
  * defect is guaranteed to recur as expression chains compose further, so
  * the benchmark record now carries a `codegen_fallbacks` count (expected 0)
  * and a first-sample message for attribution, and a spec pins the known
  * big chains at zero.
  *
  * Mechanism: one log4j2 appender on the ROOT logger config counting the
  * three fallback signatures Spark emits at WARN/ERROR —
  * whole-stage-codegen compile failure ("Whole-stage codegen disabled"),
  * the expression-level interpreter fallback ("falling back to interpreter
  * mode"), and the raw janino failure ("failed to compile"). The root
  * logger must sit at WARN or lower for the first two (ERROR-only
  * sessions still catch the third); Verify sets WARN explicitly.
  */
object CodegenFallbackCounter {
  private val n = new AtomicLong(0L)
  private val firstMsg = new AtomicReference[String](null)

  /** The three fallback signatures (Spark 4 codegen paths:
    * WholeStageCodegenExec.doExecute, CodeGeneratorWithInterpretedFallback,
    * CodeGenerator.compile). Substring match on the formatted message —
    * stable across Spark's structured-logging MDC rewrites. The generic
    * phrase "failed to compile" is additionally gated on the LOGGER NAME
    * containing "codegen" (the emitter is
    * o.a.s.sql.catalyst.expressions.codegen.CodeGenerator) so an unrelated
    * component logging that phrase can't inflate the count; the
    * other two phrases are codegen-specific wording but their emitters'
    * names don't all carry "codegen" (the interpreter fallback logs under
    * the concrete CodeGeneratorWithInterpretedFallback SUBCLASS, e.g.
    * UnsafeProjection), so they stay ungated. */
  private[graft] def matches(loggerName: String, msg: String): Boolean =
    msg != null && (
      (msg.contains("failed to compile") && loggerName != null &&
        loggerName.toLowerCase(java.util.Locale.ROOT).contains("codegen")) ||
        msg.contains("Whole-stage codegen disabled") ||
        msg.contains("falling back to interpreter mode"))

  private object Appender extends AbstractAppender(
      "graft-codegen-fallbacks", null, null, false, Property.EMPTY_ARRAY) {
    override def append(event: LogEvent): Unit = {
      val msg = event.getMessage.getFormattedMessage
      if (matches(event.getLoggerName, msg)) {
        n.incrementAndGet()
        firstMsg.compareAndSet(null, msg.linesIterator.next().take(200))
        ()
      }
    }
  }

  /** Attach the counting appender to the root log4j2 logger config.
    * Idempotent; call after the SparkSession (and its log4j context)
    * exists. Counts events at WARN and above regardless of what console
    * appenders also receive. */
  def install(): Unit = synchronized {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    if (!root.getAppenders.containsKey(Appender.getName)) {
      if (!Appender.isStarted) Appender.start()
      root.addAppender(Appender, Level.WARN, null)
      ctx.updateLoggers()
    }
  }

  def count: Long = n.get()
  def firstSample: Option[String] = Option(firstMsg.get())
  def reset(): Unit = { n.set(0L); firstMsg.set(null) }
}
