package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.Dirs
import graft.testlib.JobCount.countJobs

/** A parquet write that throws once its output path is set up: past the
  * point where an overwrite-mode write has already deleted its target. */
class FailingParquetCommitter(out: Path, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(out, ctx) {
  override def setupJob(job: JobContext): Unit =
    throw new java.io.IOException("injected write fault")
}

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

  /** A session whose parquet writes fail ([[FailingParquetCommitter]]). */
  private def failingWrites(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.output.committer.class",
      classOf[FailingParquetCommitter].getName)
    s
  }

  "Pq.saveCodebooks" should "leave the old codebooks loadable when its write throws" in {
    val dir = tmp()
    val cb = Pq.Codebooks(2, 1, Array(Array((0, Seq(1.0)), (1, Seq(2.0))),
      Array((0, Seq(3.0)), (1, Seq(4.0)))))
    Pq.saveCodebooks(spark, cb, dir)
    val bad = cb.copy(books = cb.books.map(_.map { case (cid, v) => (cid, v.map(_ + 10)) }))
    intercept[Exception](Pq.saveCodebooks(failingWrites(), bad, dir))
    Pq.loadCodebooks(spark, dir).books.map(_.toSeq).toSeq shouldBe cb.books.map(_.toSeq).toSeq
  }

  it should "refuse a directory it did not commit, naming the save to re-run" in {
    val dir = tmp()
    spark.range(1).write.mode("overwrite").parquet(dir)
    intercept[IllegalStateException](Pq.loadCodebooks(spark, dir))
      .getMessage should include ("Pq.saveCodebooks")
  }

  "Shuffling.saveItemIndex" should "leave the old index loadable when its write throws" in {
    val dir = tmp()
    def index(s: SparkSession, n: Long) =
      Shuffling.itemIndex(s.range(n).toDF("item"), "item")
    Shuffling.saveItemIndex(index(spark, 5), dir)
    intercept[Exception](Shuffling.saveItemIndex(index(failingWrites(), 9), dir))
    // read with the recorded schema: no footer-inference job
    val (loaded, opened) = countJobs(Shuffling.loadItemIndex(spark, dir))
    opened.jobs shouldBe 0
    loaded.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq shouldBe (0L until 5L).map(i => (i, i))
  }

  it should "refuse a directory it did not commit, naming the save to re-run" in {
    val dir = tmp()
    spark.range(1).write.mode("overwrite").parquet(dir)
    intercept[IllegalStateException](Shuffling.loadItemIndex(spark, dir))
      .getMessage should include ("Shuffling.saveItemIndex")
  }
}
