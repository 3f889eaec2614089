package graft.testlib

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.LogManager
import org.scalatest.{Args, DoNotDiscover, Reporter}
import org.scalatest.events.{Event, TestFailed, TestSucceeded}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** A suite whose one case logs a code-generator ERROR and otherwise passes:
  * run only by [[CodegenErrorsSpec]]. */
@DoNotDiscover
class LogsCodegenErrorSpec extends AnyFlatSpec with FailOnCodegenError {
  "a case" should "log a code-generator error" in {
    LogManager.getLogger(CodegenErrors.LoggerName)
      .error("Failed to compile the generated Java code: injected")
  }
  it should "log nothing" in {}
}

class CodegenErrorsSpec extends AnyFlatSpec with Matchers {

  "CodegenErrors.capture" should "return the ERRORs the code generator logged" in {
    val (out, errors) = CodegenErrors.capture {
      LogManager.getLogger(CodegenErrors.LoggerName).error("injected error")
      LogManager.getLogger(CodegenErrors.LoggerName).warn("injected warning")
      LogManager.getLogger("org.apache.spark.other").error("another logger")
      42
    }
    out shouldBe 42
    errors shouldBe Seq("injected error")
  }

  "FailOnCodegenError" should "fail exactly the case during which the error was logged" in {
    val events = ArrayBuffer.empty[Event]
    new LogsCodegenErrorSpec().run(None, Args(new Reporter {
      def apply(e: Event): Unit = events.synchronized { events += e; () }
    }))
    val failed = events.collect { case f: TestFailed => f }
    failed.map(_.testName) shouldBe Seq("a case should log a code-generator error")
    failed.head.message should include ("Failed to compile the generated Java code")
    events.collect { case s: TestSucceeded => s.testName } shouldBe
      Seq("a case should log nothing")
  }
}
