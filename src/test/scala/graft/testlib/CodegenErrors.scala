package graft.testlib

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.{Failed, Outcome, TestSuite, TestSuiteMixin}

/** The ERROR lines Spark's code generator logs. When generated Java code
  * does not compile (`Failed to compile the generated Java code`), Spark
  * logs an ERROR and falls back to interpreted evaluation, so the query
  * still succeeds and a spec would pass on the slow path. */
object CodegenErrors {

  val LoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Run `body` and return its result with the ERROR messages the code
    * generator logged while it ran. */
  def capture[A](body: => A): (A, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender(s"graft-codegen-errors-${java.util.UUID.randomUUID()}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
          seen.add(e.getMessage.getFormattedMessage); ()
        }
    }
    appender.start()
    val logger = LogManager.getLogger(LoggerName).asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      val out = body
      (out, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }
}

/** Fails a case of the suite it is mixed into when Spark's code generator
  * logs an ERROR while the case runs ([[CodegenErrors]]). */
trait FailOnCodegenError extends TestSuiteMixin { this: TestSuite =>
  abstract override def withFixture(test: NoArgTest): Outcome = {
    val (out, errors) = CodegenErrors.capture(super.withFixture(test))
    if (errors.isEmpty || !out.isSucceeded) out
    else Failed(s"Spark's CodeGenerator logged ${errors.size} ERROR(s) during the case; " +
      s"the first: ${errors.head.linesIterator.take(3).mkString(" ")}")
  }
}
