package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The log lines Spark and graft emit while a block runs. */
object LogLines {

  /** The messages of every WARN-or-worse event logged while `f` runs,
    * by any logger that reaches the root logger. */
  def warnings(f: => Unit): Seq[String] = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("graft-spec-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try f
    finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    import scala.jdk.CollectionConverters._
    lines.asScala.toSeq
  }
}
