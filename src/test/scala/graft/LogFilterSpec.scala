package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

/** Pins the scoped bounded-window log filter (round-12 ADVICE): the
  * old whole-logger ERROR level silenced EVERY window warning
  * process-wide; the StringMatchFilter must drop exactly the
  * "No Partition Defined for Window operation" line and let any other
  * window-exec warning (e.g. spill-to-disk) through. */
class LogFilterSpec extends AnyFunSuite {

  private class MemAppender extends AbstractAppender(
      "graft-test-mem", null, null, false, Property.EMPTY_ARRAY) {
    val messages = scala.collection.mutable.ArrayBuffer.empty[String]
    override def append(e: LogEvent): Unit =
      messages.synchronized { messages += e.getMessage.getFormattedMessage }
  }

  test("bounded-window warning dropped, other window warnings pass") {
    GraftSession.quietBoundedWindowWarnings()
    val name = "org.apache.spark.sql.execution.window"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lc = cfg.getLoggerConfig(name)
    assert(lc.getName == name, "filter install should materialize the logger config")
    Configurator.setLevel(name, Level.WARN) // level must not gate the probe
    val app = new MemAppender
    app.start()
    lc.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val logger = LogManager.getLogger(name + ".WindowExec")
      logger.warn("No Partition Defined for Window operation! Moving all " +
        "data to a single partition, this can cause serious performance degradation.")
      logger.warn("spilled 1 GB to disk during window sort")
      assert(app.messages.exists(_.contains("spilled")),
        s"non-targeted warning must pass the filter; saw: ${app.messages}")
      assert(!app.messages.exists(_.contains("No Partition Defined")),
        "the bounded-window warning must be dropped")
    } finally {
      lc.removeAppender("graft-test-mem")
      ctx.updateLoggers()
    }
  }

  test("a session from GraftSession.local drops the warning of a real global-window query") {
    val spark = GraftSession.local(4, "graft-test")
    val name = "org.apache.spark.sql.execution.window"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val level = LogManager.getLogger(name).getLevel
    Configurator.setLevel(name, Level.WARN) // level must not gate the probe
    val root = ctx.getConfiguration.getRootLogger
    val app = new MemAppender
    app.start()
    root.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      spark.range(10).withColumn("r", row_number().over(Window.orderBy("id"))).collect()
      LogManager.getLogger(name + ".WindowExec").warn("spilled 1 GB to disk during window sort")
      assert(app.messages.exists(_.contains("spilled")),
        s"a window warning must reach the root appender; saw: ${app.messages}")
      assert(!app.messages.exists(_.contains("No Partition Defined")),
        "the bounded-window warning must be dropped")
    } finally {
      root.removeAppender("graft-test-mem")
      Configurator.setLevel(name, level)
      ctx.updateLoggers()
    }
  }
}
