package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

/** A block's result and the codegen compiles during it: all of them
  * ([[Compiles]], the CodegenMetrics count) and the whole-stage ones
  * among them, told apart by their source, which CodeGenerator logs at
  * DEBUG on each compile (a cache miss; a hit logs nothing). The DEBUG
  * level and the counting appender live only for the block, and the
  * source goes nowhere else.
  */
object CodegenProbe {
  final case class Counts(all: Long, wholeStage: Long)

  private val codegenLog =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def during[A](body: => A): (A, Counts) = synchronized {
    val wholeStage = new AtomicLong()
    val appender = new AbstractAppender("graft-test-codegen", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .contains("class GeneratedIteratorForCodegenStage")) {
          wholeStage.incrementAndGet(); ()
        }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    require(!ctx.getConfiguration.getLoggers.containsKey(codegenLog),
      s"$codegenLog has its own logger config; the probe would drop it")
    Configurator.setLevel(codegenLog, Level.DEBUG)
    val config = ctx.getConfiguration.getLoggerConfig(codegenLog)
    config.setAdditive(false)
    config.addAppender(appender, Level.DEBUG, null)
    ctx.updateLoggers()
    val (c0, _) = Compiles.now()
    try {
      val a = body
      (a, Counts(Compiles.now()._1 - c0, wholeStage.get))
    } finally {
      ctx.getConfiguration.removeLogger(codegenLog)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
