package graft.ops

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.{Dirs, OpenLogFs}
import graft.testlib.JobCount.countJobs
import graft.testlib.PlanCapture.capturePlans

/** A local file system under the `norename` scheme that refuses to rename
  * a directory out of an upsert's temp dir while `refuse` is set. */
class NoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "norename"
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (NoRenameFs.refuse && src.getParent.getName.startsWith(".upsert_tmp_")) false
    else super.rename(src, dst)
}

object NoRenameFs { @volatile var refuse = false }

/** Persisted keyed state: point updates merge correctly AND physically
  * touch only the buckets the delta's keys hash to — the at-rest analogue
  * of the reference's IndexedRDD-backed MutableBag
  * (emma-spark SparkMutableBag.scala:22,39-50). The shared session runs
  * small stores on the driver; `sparkOff`, with the broadcast threshold at
  * -1, runs every operation on Spark. */
class StateStoreSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** A session on which every store operation takes the Spark path. */
  private lazy val sparkOff: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

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
    new File(s"${Dirs.build(dir)}/data").listFiles().filter(_.isDirectory)
      .map(b => b.getName -> b.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(f => f.getName -> f.lastModified()).toMap)
      .toMap

  it should "read and rewrite ONLY the touched buckets" in {
    for (s <- Seq(spark, sparkOff)) {
      val dir = tmp()
      StateStore.create((1L to 1000L).map(k => (k, k * 1.0)).toDF("k", "v"),
        "k", 16, dir)
      val before = snapshot(dir)
      before.keys.size should be > 8 // enough buckets that pruning is visible
      val touched = s"bucket=${StateStore.bucketOfLocal("17", 16)}"
      val (_, plans) = capturePlans(StateStore.upsert(s, dir,
        Seq((17L, -1.0, false)).toDF("k", "v", "del"), Some("del")))(s)
      // on Spark, the state read carried a planning-time partition filter
      // on the bucket
      if (s eq sparkOff) plans.mkString("\n") should include regex
        ("""PartitionFilters: \[(isnotnull\(bucket#\d+\), )?\(?bucket#\d+ (= |IN \()""")
      val after = snapshot(dir)
      // untouched bucket directories: identical files, untouched mtimes
      for (b <- before.keys if b != touched) after(b) shouldBe before(b)
      after(touched) should not be before(touched)
      StateStore.read(spark, dir).where(col("k") === 17L)
        .collect().head.getDouble(1) shouldBe -1.0
    }
  }

  it should "prune lookups to the probed keys' buckets" in {
    val dir = tmp()
    StateStore.create((1L to 500L).map(k => (k, k * 2.0)).toDF("k", "v"),
      "k", 32, dir)
    val plans = for (s <- Seq(spark, sparkOff)) yield {
      val (rows, plans) = capturePlans(StateStore.lookup(s, dir, Seq(3L, 77L)).collect())(s)
      rows.map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe
        Set((3L, 6.0), (77L, 154.0))
      plans
    }
    plans.last.mkString("\n") should include regex
      ("""PartitionFilters: \[(isnotnull\(bucket#\d+\), )?\(?bucket#\d+ (= |IN \()""")
  }

  it should "give the same results and stores on the driver and on Spark, reading only touched buckets" in {
    OpenLogFs.install(spark)
    val keys = 1L to 200L
    val doomed = keys.filter(k => StateStore.bucketOfLocal(k.toString, 8) == 3)
    // replaces, a delete and an insert; a delta that tombstones every key
    // of bucket 3; an insert into the emptied bucket
    val deltas = Seq(
      Seq((5L, 50.0, false), (6L, 0.0, true), (300L, 3.0, false)),
      doomed.map(k => (k, 0.0, true)),
      Seq((doomed.head, 9.0, false), (7L, 70.0, false)))
    val probes = Seq(5L, 6L, 7L, 300L, doomed.head, doomed.last)
    def bucketOf(f: String) = f.split('/').find(_.startsWith("bucket=")).map(_.stripPrefix("bucket="))
    def run(s: SparkSession): (Seq[Set[(Long, Double)]], Set[(Long, Double)], Set[String]) = {
      val dir = tmp()
      val store = s"openlog://$dir"
      StateStore.create(keys.map(k => (k, k * 1.0)).toDF("k", "v"), "k", 8, store)
      val lookups = deltas.zipWithIndex.map { case (d, i) =>
        val (_, upsertOpened) = OpenLogFs.during(
          StateStore.upsert(s, store, d.toDF("k", "v", "del"), Some("del")))
        // the fully tombstoned bucket's directory is gone
        if (i == 1) snapshot(dir).keySet should not contain "bucket=3"
        val (got, lookupOpened) = OpenLogFs.during(StateStore.lookup(s, store, probes).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSet)
        if (s eq spark) {
          // the driver path opens only the touched buckets' data files
          val touched = d.map(r => StateStore.bucketOfLocal(r._1.toString, 8).toString).toSet
          (upsertOpened.filter(_.endsWith(".parquet")).flatMap(bucketOf) -- touched) shouldBe empty
          val probed = probes.map(k => StateStore.bucketOfLocal(k.toString, 8).toString).toSet
          val read = lookupOpened.filter(_.endsWith(".parquet"))
          read should not be empty
          (read.flatMap(bucketOf) -- probed) shouldBe empty
        }
        got
      }
      (lookups, StateStore.read(spark, dir).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet,
        snapshot(dir).keySet)
    }
    val (driver, onSpark) = (run(spark), run(sparkOff))
    driver shouldBe onSpark
    driver._1(1).map(_._1) shouldBe Set(5L, 7L, 300L) -- doomed
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
    new File(s"${Dirs.build(dir)}/data/bucket=$b").exists() shouldBe false
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

  it should "run a warm point update in at most 1 job" in {
    // the per-micro-batch floor of the streaming maintenance paths: the
    // record is a file open, a local delta is read on the driver without a
    // job, and its rows give the touched buckets and replaced keys (no
    // bucket probe, no delta cache, no anti-join build). The touched
    // buckets fit the broadcast threshold, so they are read, merged and
    // written on the driver: no job (was 1, 6 and 11 before that). On
    // Spark, what remains is the ONE pinned-partitioning write.
    for ((s, ceiling) <- Seq(spark -> 0, sparkOff -> 1)) {
      val dir = tmp()
      StateStore.create((1L to 500L).map(k => (k, k * 1.0)).toDF("k", "v"),
        "k", 16, dir)
      // warm call: plan/codegen caches out of the measurement
      StateStore.upsert(s, dir, (1L to 30L).map(k => (k, 2.0)).toDF("k", "v"))
      val (_, n) = countJobs {
        StateStore.upsert(s, dir, (5L to 40L).map(k => (k, 3.0)).toDF("k", "v"))
      }
      n.jobs should be <= ceiling
      StateStore.read(spark, dir).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap.apply(20L) shouldBe 3.0
    }
  }

  it should "run a warm point lookup in at most 1 job" in {
    val dir = tmp()
    StateStore.create((1L to 500L).map(k => (k, k * 2.0)).toDF("k", "v"),
      "k", 16, dir)
    // on the driver the lookup's frame is a local relation: its collect
    // runs no job; on Spark the record is a file open and the scan carries
    // its schema, so the collect is the only job
    for ((s, ceiling) <- Seq(spark -> 0, sparkOff -> 1)) {
      StateStore.lookup(s, dir, Seq(1L, 2L)).collect() // warm call
      val (got, n) = countJobs(StateStore.lookup(s, dir, Seq(7L, 300L)).collect())
      n.jobs should be <= ceiling
      got.map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe Set((7L, 14.0), (300L, 600.0))
    }
  }

  it should "return the rows as of the call from a driver-side lookup" in {
    val dir = tmp()
    StateStore.create((1L to 50L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4, dir)
    val early = StateStore.lookup(spark, dir, Seq(9L))
    StateStore.upsert(spark, dir, Seq((9L, -9.0)).toDF("k", "v"))
    early.collect().map(_.getDouble(1)) shouldBe Array(9.0)
    StateStore.lookup(spark, dir, Seq(9L)).collect().map(_.getDouble(1)) shouldBe Array(-9.0)
  }

  it should "see a store re-created by another process under the same path" in {
    // the same rows at 4 and at 16 buckets; then A's files are replaced by
    // B's as another process re-creating the store would leave them — the
    // next lookup must hash by B's 16 buckets, not a remembered 4
    val (a, b) = (tmp(), tmp())
    val rows = (1L to 200L).map(k => (k, k * 3.0)).toDF("k", "v")
    StateStore.create(rows, "k", 4, a)
    StateStore.lookup(spark, a, Seq(1L)).collect()
    StateStore.create(rows, "k", 16, b)
    Dirs.replaceContents(b, a)
    StateStore.meta(spark, a) shouldBe StateStore.Meta("k", 16)
    val probed = 1L to 40L
    StateStore.lookup(spark, a, probed).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe
      probed.map(k => (k, k * 3.0)).toSet
  }

  it should "write a narrower-typed pure-insert delta in the stored key type, and refuse a lossy one" in {
    val dir = tmp()
    StateStore.create(Seq((1L, 1.0)).toDF("k", "v"), "k", 16, dir)
    // int keys whose buckets hold no data yet: nothing on disk to merge with
    val fresh = (2 to 60).filter(k =>
      StateStore.bucketOfLocal(k.toString, 16) != StateStore.bucketOfLocal("1", 16)).take(5)
    StateStore.upsert(spark, dir, fresh.map(k => (k, k * 1.0)).toDF("k", "v"))
    val files = new File(s"${Dirs.build(dir)}/data").listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    files.length should be > 1
    files.map(f => spark.read.parquet(f.getPath).schema("k").dataType).toSet shouldBe
      Set(LongType)
    val expected = (1L, 1.0) +: fresh.map(k => (k.toLong, k * 1.0))
    StateStore.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe expected.toSet
    StateStore.lookup(spark, dir, fresh.map(_.toLong)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe expected.tail.toSet
    // a double key could merge distinct bigint keys: refused, nothing written
    val before = Dirs.snapshot(dir)
    val err = intercept[IllegalArgumentException](StateStore.upsert(spark, dir,
      Seq((500.0, 5.0)).toDF("k", "v")))
    err.getMessage should include ("whose `k` values are BIGINT")
    // a null key hashes to no bucket: refused, nothing written
    intercept[IllegalArgumentException](StateStore.upsert(spark, dir,
      Seq((Option.empty[Long], 5.0)).toDF("k", "v")))
    Dirs.snapshot(dir) shouldBe before
  }

  it should "refuse a store of the meta/-only layout with the re-create message, writing no file" in {
    val dir = tmp()
    StateStore.create((1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4, dir)
    // the layout before the store record: a one-row meta relation, no record
    new File(s"$dir/_schema.json").delete() shouldBe true
    Seq(("k", 4)).toDF("key_col", "n_buckets").write.parquet(s"$dir/meta")
    val before = Dirs.snapshot(dir)
    val err = intercept[IllegalStateException](StateStore.upsert(spark, dir,
      Seq((3L, 9.0)).toDF("k", "v")))
    err.getMessage should include ("re-create the store")
    intercept[IllegalStateException](StateStore.lookup(spark, dir, Seq(3L)))
    intercept[IllegalStateException](StateStore.read(spark, dir))
    Dirs.snapshot(dir) shouldBe before
    // re-creating the store replaces the old layout
    StateStore.create((1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4, dir)
    StateStore.lookup(spark, dir, Seq(3L)).collect().map(_.getDouble(1)) shouldBe Array(3.0)
  }

  it should "keep the live store when a re-create fails mid-write, and one build after the next" in {
    val dir = tmp()
    val rows = (1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v")
    StateStore.create(rows, "k", 8, dir)
    // a state frame whose write throws part-way: the new build is
    // abandoned before its record is published
    val boom = udf((k: Long, v: Double) =>
      if (k == 50L) throw new IllegalStateException("injected write fault") else v)
    intercept[Exception](StateStore.create(
      rows.withColumn("v", boom(col("k"), -col("v"))), "k", 8, dir))
    StateStore.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe
      (1L to 100L).map(k => (k, k * 1.0)).toSet
    StateStore.lookup(spark, dir, Seq(50L)).collect().map(_.getDouble(1)) shouldBe Array(50.0)
    // the next successful commit reaps the abandoned build with the old one
    StateStore.create(rows.where(col("k") <= 10L), "k", 8, dir)
    Dirs.entries(dir) shouldBe Set("_schema.json", new File(Dirs.build(dir)).getName)
    StateStore.read(spark, dir).count() shouldBe 10L
  }

  it should "throw and keep the temp dir when a bucket rename is refused" in {
    spark.sparkContext.hadoopConfiguration.set("fs.norename.impl", classOf[NoRenameFs].getName)
    val dir = "norename://" + tmp()
    StateStore.create((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 8, dir)
    NoRenameFs.refuse = true
    val e =
      try intercept[java.io.IOException](
        StateStore.upsert(spark, dir, Seq((1L, -1.0)).toDF("k", "v")))
      finally NoRenameFs.refuse = false
    val b = StateStore.bucketOfLocal("1", 8)
    e.getMessage should include(s"bucket $b ")
    // the old bucket dir is gone; its merged rows are still in the temp dir
    val kept = e.getMessage.split("kept in ").last
    kept should include(".upsert_tmp_")
    val rows = spark.read.parquet(s"$kept/bucket=$b").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    rows(1L) shouldBe -1.0
    rows.size should be > 1
  }

  it should "keep two stores equal to their replays under concurrent upserts in one session" in {
    val dirs = Seq(tmp(), tmp())
    dirs.foreach(d => StateStore.create((1L to 50L).map(k => (k, 0.0)).toDF("k", "v"), "k", 8, d))
    val replays = dirs.map(_ => scala.collection.mutable.Map((1L to 50L).map(_ -> 0.0): _*))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = dirs.zip(replays).zipWithIndex.map { case ((d, replay), t) =>
      new Thread(() =>
        try (1 to 6).foreach { round =>
          val delta = (1L to 60L).filter(k => (k + round + t) % 3 == 0)
            .map(k => (k, round * 10.0 + t))
          StateStore.upsert(spark, d, delta.toDF("k", "v"))
          replay ++= delta
        } catch { case e: Throwable => failures.add(e); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.isEmpty shouldBe true
    dirs.zip(replays).foreach { case (d, replay) =>
      StateStore.read(spark, d).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap shouldBe replay.toMap
    }
  }

  it should "show the merged write to the caller's query-execution listeners" in {
    val dir = tmp()
    StateStore.create((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 8, dir)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        seen.add(qe.analyzed.toString); ()
      }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    sparkOff.listenerManager.register(l)
    try {
      StateStore.upsert(sparkOff, dir, (1L to 5L).map(k => (k, 0.0)).toDF("k", "v"))
      org.apache.spark.GraftTestListenerBus.drain(spark.sparkContext)
    } finally sparkOff.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.exists(_.contains(".upsert_tmp_")) shouldBe true
  }
}
