package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.FailOnCodegenError

object EncodersSpec {
  object Priority extends Enumeration {
    val Low, Medium, High = Value
  }
}

/** Char / Enumeration encoders — the element types the reference documents as
  * unsupported on its Spark backend (emma DataBagSpec.scala:426). Every case
  * fails if Spark's code generator logs an ERROR while it runs: generated
  * code that does not compile falls back to interpreted evaluation and
  * would otherwise pass unseen. */
class EncodersSpec extends AnyFlatSpec with Matchers with FailOnCodegenError {
  import EncodersSpec.Priority

  implicit lazy val spark: SparkSession = TestSpark.spark

  "charEncoder" should "round-trip a Dataset[Char] through a shuffle" in {
    import encoders.charEncoder
    val chars = "hello, wörld! ÿ42".toSeq
    val ds = spark.createDataset(chars)
    // storage representation is a plain INT column, not a blob
    ds.schema.fields.map(_.dataType.typeName).toSeq shouldBe Seq("integer")
    ds.repartition(5).collect().sorted shouldBe chars.sorted
  }

  /** Run `body` on a new session with no interpreted fallback, neither for
    * whole-stage code nor for the encoders' projections, so generated code
    * that fails to compile fails the spec. */
  private def codegenOnly[A](body: SparkSession => A): A = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(s) // projections read the active session's conf
    try body(s)
    finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  it should "support typed DataBag ops and Catalyst aggregation on the INT column" in codegenOnly { implicit spark =>
    import encoders.charEncoder
    val bag = DataBag("abracadabra".toSeq)
    val counts = bag.ds.toDF("code")
      .groupBy("code").agg(F.count(F.lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0).toChar, r.getLong(1))).toMap
    counts shouldBe Map('a' -> 5L, 'b' -> 2L, 'r' -> 2L, 'c' -> 1L, 'd' -> 1L)
    bag.map(c => c.toUpper)(encoders.charEncoder).collect().sorted shouldBe
      "abracadabra".toUpperCase.toSeq.sorted
  }

  it should "compose into tuples and options" in codegenOnly { spark =>
    import encoders.{charEncoder, charOptionEncoder}
    import spark.implicits.newIntEncoder
    val pairs = Seq(('a', 1), ('b', 2), ('ÿ', 3))
    val ds = spark.createDataset(pairs)(encoders.tuple[Char, Int])
    ds.repartition(3).collect().sorted shouldBe pairs.sorted
    val opts = Seq(Some('x'), None, Some('ÿ'))
    spark.createDataset(opts).collect().toSet shouldBe opts.toSet
  }

  "enumeration encoder" should "round-trip values as a queryable STRING column" in {
    implicit val enc = encoders.enumeration(Priority)
    val vs = Seq(Priority.High, Priority.Low, Priority.High, Priority.Medium)
    val ds = spark.createDataset(vs)
    ds.schema.fields.map(_.dataType.typeName).toSeq shouldBe Seq("string")
    ds.repartition(3).collect().groupBy(identity).view.mapValues(_.length).toMap shouldBe
      Map(Priority.High -> 2, Priority.Low -> 1, Priority.Medium -> 1)
    // the stored form is the value's name — usable from SQL directly
    ds.toDF("p").where(F.col("p") === "High").count() shouldBe 2L
  }
}
