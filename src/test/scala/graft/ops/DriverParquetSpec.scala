package graft.ops

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.Dirs
import graft.testlib.JobCount.countJobs

/** Driver-side Parquet I/O ([[DriverParquet]]): the files are the ones a
  * Spark write produces, each path reads the other's files, and the
  * model-sized relations written through it round-trip exactly. */
class DriverParquetSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_driverpq").toString

  private def dataFiles(dir: String): Seq[File] =
    new File(dir).listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  /** The footer's schema, key-value metadata and writer of the one data
    * file in `dir`. */
  private def footer(dir: String): (String, Map[String, String], String) = {
    val Seq(f) = dataFiles(dir)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath),
      spark.sparkContext.hadoopConfiguration))
    try {
      val m = r.getFooter.getFileMetaData
      (m.getSchema.toString, m.getKeyValueMetaData.asScala.toMap, m.getCreatedBy)
    } finally r.close()
  }

  "DriverParquet" should "write the file a Spark write of the same rows writes, readable both ways" in {
    val df = Seq((1L, Option("a"), Seq(1.5f, 2f), true, 7.25),
        (2L, None, Seq.empty[Float], false, -0.0))
      .toDF("id", "s", "v", "b", "x")
    val (byDriver, bySpark) = (tmp(), tmp())
    val io = DriverParquet(spark)
    countJobs(io.write(df.schema, bridge.collectRows(df).iterator, byDriver))._2.jobs shouldBe 0
    df.coalesce(1).write.mode("overwrite").parquet(bySpark)
    footer(byDriver) shouldBe footer(bySpark)
    // Spark's file name; no committer markers or leftovers beside it
    dataFiles(byDriver).map(_.getName).head should fullyMatch regex
      """part-00000-[0-9a-f-]{36}-c000\.snappy\.parquet"""
    Dirs.entries(byDriver) shouldBe dataFiles(byDriver).map(_.getName).toSet
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map {
        case x: Double => java.lang.Double.doubleToRawLongBits(x)
        case s: scala.collection.Seq[_] => s.toList
        case v => v
      }).toSeq
    rows(spark.read.parquet(byDriver)) shouldBe rows(df)
    rows(bridge.localRelation(spark, df.schema,
      io.read(df.schema, io.files(bySpark)).toSeq)) shouldBe rows(df)
  }

  it should "list no data file in a missing directory, and skip hidden and marker files" in {
    val dir = tmp()
    val io = DriverParquet(spark)
    io.files(s"$dir/missing") shouldBe empty
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(dir)
    // Spark's write leaves `_SUCCESS` and `.crc` files beside its one data file
    io.files(dir).map(_.getPath.getName) shouldBe dataFiles(dir).map(_.getName)
  }

  "IvfCore quantizers" should "round-trip raw double bits through a driver write" in {
    val specials = Seq(-0.0, 0.0, Double.MinPositiveValue, -Double.MaxValue, Double.MaxValue,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, 1.0 / 3, math.Pi)
    val quant: IvfCore.Quantizers = Map(
      -1 -> Array((0, specials), (1, specials.reverse)),
      0 -> Array((0, Seq(1e-300, -1e300)), (1, Seq(2.5, -2.5))))
    val path = s"${tmp()}/quant"
    IvfCore.writeQuantizers(spark, quant, path)
    def bits(q: IvfCore.Quantizers) = q.toSeq.sortBy(_._1).map { case (s, book) =>
      (s, book.toSeq.map { case (cid, v) => (cid, v.map(java.lang.Double.doubleToRawLongBits)) }) }
    val (back, n) = countJobs(IvfCore.readQuantizers(spark, path))
    bits(back) shouldBe bits(quant)
    n.jobs shouldBe 0
    spark.read.parquet(path).count() shouldBe 2L * specials.size + 4
  }

  "Bpe tokenizer" should "round-trip merges and vocabulary exactly, and read through spark.read.parquet" in {
    val ms = Seq(("a", "b"), ("ab", "𝄞"), ("", "ü"), ("日", "本"))
    val voc = Bpe.vocab(Seq("a", "b", "𝄞", "ü", "日", "本"), ms)
    val dir = tmp()
    Bpe.saveTokenizer(spark, dir, ms, voc)
    Bpe.loadTokenizer(spark, dir) shouldBe ((ms, voc))
    spark.read.parquet(s"${Dirs.build(dir)}/tokenizer").where($"merge")
      .orderBy("i").collect().map(r => (r.getString(2), r.getString(3))).toSeq shouldBe ms
  }
}
