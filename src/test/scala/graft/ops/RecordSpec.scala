package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.Dirs
import graft.testlib.JobCount.countJobs

/** A local file system whose creation of a Parquet data file throws: a
  * write fails mid-way, after its output directory is set up (past the
  * point where an overwrite-mode write has already deleted its target),
  * whether Spark's tasks or the driver ([[DriverParquet]]) write the file. */
class FailingParquetFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    if (f.getName.endsWith(".parquet")) throw new java.io.IOException("injected write fault")
    else super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
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

  /** A session whose Parquet writes fail ([[FailingParquetFs]] serves its
    * `file:` paths; the session's Hadoop configuration is what both Spark's
    * writes and the driver's are set up with). */
  private def failingWrites(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[FailingParquetFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
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

  "Unigram.save" should "leave the old model loadable when its write throws, and load with no job" in {
    val dir = tmp()
    val model = Unigram.Model(Seq(("a", 0, -5L), ("b", 1, -7L), ("ab", 2, -9L)))
    Unigram.save(spark, dir, model)
    intercept[Exception](Unigram.save(failingWrites(), dir,
      Unigram.Model(Seq(("z", 0, -1L)))))
    val (loaded, n) = countJobs(Unigram.load(spark, dir))
    loaded shouldBe model
    n.jobs shouldBe 0
  }

  it should "refuse a model directory it did not commit, naming the save to re-run" in {
    import spark.implicits._
    val dir = tmp()
    // the layout before the record: the pieces relation alone
    Seq(("a", 0, -5L)).toDF("piece", "id", "logp_micros").write.parquet(s"$dir/pieces")
    intercept[IllegalStateException](Unigram.load(spark, dir))
      .getMessage should include ("Unigram.save")
  }
}
