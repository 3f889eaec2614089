package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class BucketingSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  "bucketedJoin" should "join co-located buckets without a shuffle" in {
    val facts = (1 to 1000).map(i => (i.toLong % 50, i)).toDF("k", "v")
    val dims = (0L until 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    Bucketing.writeBucketed(facts, "b_facts", "k", 8)
    Bucketing.writeBucketed(dims, "b_dims", "k", 8)

    // force SMJ, on a per-call session clone
    val joined = bridge.isolated(Bucketing.bucketedJoin(spark, "b_facts", "b_dims", "k"),
      Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val plan = joined.queryExecution.executedPlan.toString
    plan should include("SortMergeJoin")
    plan should not include "Exchange"
    joined.count() shouldBe 1000
  }
}
