package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.testlib.JobCount.countJobs

/** The gate table reader's schema memo: a warm read of an unchanged table
  * runs no inference job, and a changed file set or a session whose
  * parquet settings differ never sees another's schema. */
class SparkEntryTblSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  behavior of "SparkEntry.tbl"

  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl")
    try body(dir.toString) finally BenchMode.deleteRecursively(dir)
  }

  it should "read an unchanged table a second time with no job before its action" in withDir { d =>
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    val first = SparkEntry.tbl(spark, d, "t")
    val (second, n) = countJobs(SparkEntry.tbl(spark, d, "t"))
    n.jobs shouldBe 0
    second.schema shouldBe first.schema
    second.as[(Long, String)].collect().sorted shouldBe Array((1L, "a"), (2L, "b"), (3L, "c"))
  }

  it should "read a table rewritten in place with its new schema" in withDir { d =>
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    SparkEntry.tbl(spark, d, "t").collect() should have size 1
    Seq((7L, 0.5), (8L, 1.5)).toDF("k", "w").write.mode("overwrite").parquet(s"$d/t.parquet")
    val df = SparkEntry.tbl(spark, d, "t")
    df.schema.map(f => (f.name, f.dataType)) shouldBe Seq("k" -> LongType, "w" -> DoubleType)
    df.as[(Long, Double)].collect().sorted shouldBe Array((7L, 0.5), (8L, 1.5))
  }

  it should "infer per session, so parquet read settings keep their effect" in withDir { d =>
    // a footer without Spark's schema record (as other writers leave it),
    // so the session's binaryAsString decides the inferred type of `b`
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message t { required int64 k; required binary b; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$d/t.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("k", 1L).append("b", "hi"))
    finally w.close()
    val plain = spark.newSession()
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    SparkEntry.tbl(plain, d, "t").schema("b").dataType shouldBe BinaryType
    SparkEntry.tbl(asString, d, "t").schema("b").dataType shouldBe StringType
    SparkEntry.tbl(plain, d, "t").schema("b").dataType shouldBe BinaryType
    SparkEntry.tbl(asString, d, "t").select("b").as[String].collect() shouldBe Array("hi")
  }
}
