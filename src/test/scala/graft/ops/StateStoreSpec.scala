package graft.ops

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.JobCount.countJobs

/** Persisted keyed state: point updates merge correctly AND physically
  * touch only the buckets the delta's keys hash to — the at-rest analogue
  * of the reference's IndexedRDD-backed MutableBag
  * (emma-spark SparkMutableBag.scala:22,39-50). */
class StateStoreSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_statespec").toString

  behavior of "StateStore"

  it should "round-trip create -> read" in {
    val dir = tmp()
    StateStore.create((1L to 100L).map(k => (k, k * 10.0)).toDF("k", "v"),
      "k", 8, dir)
    StateStore.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe
      (1L to 100L).map(k => (k, k * 10.0)).toSet
    StateStore.meta(spark, dir) shouldBe StateStore.Meta("k", 8)
  }

  it should "bucket identically in-plan and on the driver" in {
    val inPlan = (1L to 50L).toDF("k")
      .select(col("k"), StateStore.bucketOf(col("k"), 16).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (1L to 50L).foreach { k =>
      StateStore.bucketOfLocal(k.toString, 16) shouldBe inPlan(k)
    }
  }

  it should "apply replaces, deletes, and inserts in one point update" in {
    val dir = tmp()
    StateStore.create((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"),
      "k", 8, dir)
    val delta = Seq(
      (5L, 500.0, false), // replace
      (6L, 0.0, true),    // delete
      (200L, 42.0, false) // insert
    ).toDF("k", "v", "del")
    StateStore.upsert(spark, dir, delta, Some("del"))
    val got = StateStore.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    got.get(5L) shouldBe Some(500.0)
    got.get(6L) shouldBe None
    got.get(200L) shouldBe Some(42.0)
    got(7L) shouldBe 7.0
    got.size shouldBe 100 // 100 - 1 deleted + 1 inserted
  }

  // (bucket dir) -> (file name -> length), data files only
  private def snapshot(dir: String): Map[String, Map[String, Long]] =
    new File(s"$dir/data").listFiles().filter(_.isDirectory)
      .map(b => b.getName -> b.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(f => f.getName -> f.lastModified()).toMap)
      .toMap

  it should "read and rewrite ONLY the touched buckets" in {
    val dir = tmp()
    StateStore.create((1L to 1000L).map(k => (k, k * 1.0)).toDF("k", "v"),
      "k", 16, dir)
    val before = snapshot(dir)
    before.keys.size should be > 8 // enough buckets that pruning is visible
    val touched = s"bucket=${StateStore.bucketOfLocal("17", 16)}"
    StateStore.upsert(spark, dir,
      Seq((17L, -1.0, false)).toDF("k", "v", "del"), Some("del"))
    // the state read carried a planning-time partition filter on the bucket
    StateStore.lastPrunedPlan should include regex
      ("""PartitionFilters: \[(isnotnull\(bucket#\d+\), )?\(?bucket#\d+ (= |IN \()""")
    val after = snapshot(dir)
    // untouched bucket directories: identical files, untouched mtimes
    for (b <- before.keys if b != touched) after(b) shouldBe before(b)
    after(touched) should not be before(touched)
    StateStore.read(spark, dir).where(col("k") === 17L)
      .collect().head.getDouble(1) shouldBe -1.0
  }

  it should "prune lookups to the probed keys' buckets" in {
    val dir = tmp()
    StateStore.create((1L to 500L).map(k => (k, k * 2.0)).toDF("k", "v"),
      "k", 32, dir)
    StateStore.lookup(spark, dir, Seq(3L, 77L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe
      Set((3L, 6.0), (77L, 154.0))
    StateStore.lastPrunedPlan should include regex
      ("""PartitionFilters: \[(isnotnull\(bucket#\d+\), )?\(?bucket#\d+ (= |IN \()""")
  }

  it should "clear a bucket whose every key was tombstoned" in {
    // dynamic partition overwrite only replaces partitions it writes rows
    // for — a fully-tombstoned bucket yields zero output rows and must be
    // deleted explicitly or the old files silently survive
    val dir = tmp()
    StateStore.create(Seq((17L, 1.0)).toDF("k", "v"), "k", 16, dir)
    StateStore.upsert(spark, dir,
      Seq((17L, 0.0, true)).toDF("k", "v", "del"), Some("del"))
    val b = StateStore.bucketOfLocal("17", 16)
    new File(s"$dir/data/bucket=$b").exists() shouldBe false
    // a mixed delta that empties one bucket but writes another
    val dir2 = tmp()
    StateStore.create((1L to 40L).map(k => (k, k * 1.0)).toDF("k", "v"),
      "k", 4, dir2)
    val doomed = (1L to 40L)
      .filter(k => StateStore.bucketOfLocal(k.toString, 4) == 0)
    StateStore.upsert(spark, dir2,
      (doomed.map(k => (k, 0.0, true)) :+ ((99L, 9.0, false)))
        .toDF("k", "v", "del"), Some("del"))
    val got = StateStore.read(spark, dir2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    doomed.foreach(k => got.contains(k) shouldBe false)
    got(99L) shouldBe 9.0
    got.size shouldBe 40 - doomed.size + 1
  }

  it should "survive sequential point updates (the loop-tail shape)" in {
    val dir = tmp()
    StateStore.create((1L to 50L).map(k => (k, 0.0)).toDF("k", "v"), "k", 4, dir)
    (1 to 5).foreach { round =>
      StateStore.upsert(spark, dir,
        Seq((round.toLong, round * 1.0, false)).toDF("k", "v", "del"), Some("del"))
    }
    val got = StateStore.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    got.size shouldBe 50
    (1 to 5).foreach(r => got(r.toLong) shouldBe r * 1.0)
    got(40L) shouldBe 0.0
  }

  it should "run a warm point update in at most 6 jobs" in {
    // r16 job budget per upsert (the per-micro-batch floor of the streaming
    // maintenance paths): bucket probe (also materializes the delta cache)
    // + state footer inference (kept — it reconciles delta/state types)
    // + broadcast build futures + ONE pinned-partitioning write. The meta
    // re-read (2 jobs), the eager delta checkpoint (1), and AQE's
    // per-stage jobs are gone — was 11 jobs before r16 (measured:
    // ProfileUpsertJobs).
    val dir = tmp()
    StateStore.create((1L to 500L).map(k => (k, k * 1.0)).toDF("k", "v"),
      "k", 16, dir)
    // warm call: plan/codegen caches out of the measurement
    StateStore.upsert(spark, dir, (1L to 30L).map(k => (k, 2.0)).toDF("k", "v"))
    val (_, n) = countJobs {
      StateStore.upsert(spark, dir, (5L to 40L).map(k => (k, 3.0)).toDF("k", "v"))
    }
    n.jobs should be <= 6
    StateStore.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap.apply(20L) shouldBe 3.0
  }
}
