package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.Dirs

/** The one commit of every persisted store: a fresh build directory, the
  * record published last, every other build reaped. */
class RecordSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark

  private val schema = StructType.fromDDL("x INT")

  private def tmp(): String = Files.createTempDirectory("graft_record").toString

  /** A write callback that leaves one file, `part`, holding `text`. */
  private def writePart(text: String)(build: String): Unit = {
    Files.createDirectories(Paths.get(build))
    Files.writeString(Paths.get(build, "part"), text)
  }

  private def published(dir: String): String =
    Files.readString(Paths.get(Record.open(spark, dir, "re-run the save").dir(dir), "part"))

  "Record.commit" should "leave the old record and build readable when its write throws" in {
    val dir = tmp()
    val first = Record.commit(spark, dir, schema, Map("n" -> "1"))(writePart("first"))
    intercept[IllegalStateException](Record.commit(spark, dir, schema) { build =>
      writePart("partial")(build)
      throw new IllegalStateException("injected write fault")
    })
    Record.open(spark, dir, "re-run the save") shouldBe first
    published(dir) shouldBe "first"
    // the next successful commit reaps every other build (the abandoned
    // one too) and touches nothing else in the directory
    Files.createDirectory(Paths.get(dir, "other"))
    val second = Record.commit(spark, dir, schema)(writePart("second"))
    published(dir) shouldBe "second"
    Dirs.entries(dir) shouldBe Set(Record.FileName, new java.io.File(second.dir(dir)).getName, "other")
  }

  "Record.open" should "refuse a directory without a version-3 record, naming the save to re-run" in {
    val dir = tmp()
    def refused(at: String) =
      intercept[IllegalStateException](Record.open(spark, at, "re-run the save"))
        .getMessage should include ("re-run the save")
    refused(s"$dir/missing")
    refused(dir)
    Files.writeString(Paths.get(dir, Record.FileName),
      """{"version":2,"build":"b","schema":{"type":"struct","fields":[]},"params":{}}""")
    refused(dir)
  }
}
