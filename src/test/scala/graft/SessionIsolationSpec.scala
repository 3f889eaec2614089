package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.lib.{KMeans, ML}
import graft.ops.{Pq, Prefilter, StateStore}
import graft.streaming.Streams
import graft.testlib.Threshold

/** No library call writes the caller's session conf. Each path that runs
  * under a conf override runs while a second thread reads the overridden
  * keys and plans a shuffled query on the same session; that thread must
  * only ever see the values and the plan it saw before the call. */
class SessionIsolationSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val keys = Seq(
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.optimizer.excludedRules",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")

  private def confNow(s: SparkSession): Seq[Option[String]] = keys.map(s.conf.getOption)

  /** A shuffled query's physical plan (adaptive or not, partition count)
    * with expression and plan ids stripped. */
  private def planNow(s: SparkSession): String =
    s.range(100).groupBy((col("id") % 7).as("g")).count()
      .queryExecution.executedPlan.toString.replaceAll("#\\d+|plan_id=\\d+", "")

  /** Run `body` while a second thread reads `keys` of `caller` in a tight
    * loop and plans a query on it every few reads; return what that thread
    * saw. */
  private def watched(caller: SparkSession)(body: => Any): (Set[Seq[Option[String]]], Set[String]) = {
    val confs = ConcurrentHashMap.newKeySet[Seq[Option[String]]]()
    val plans = ConcurrentHashMap.newKeySet[String]()
    val stop = new AtomicBoolean
    val watcher = new Thread(() => {
      var i = 0
      while (!stop.get) {
        confs.add(confNow(caller))
        if (i % 64 == 0) plans.add(planNow(caller))
        i += 1
      }
    })
    watcher.start()
    try body
    finally { stop.set(true); watcher.join() }
    (confs.asScala.toSet, plans.asScala.toSet)
  }

  /** `body`, a call on frames of `caller`, never changes `caller`'s conf. */
  private def neverChanges(body: => Any, caller: SparkSession = spark): Unit = {
    val (conf0, plan0) = (confNow(caller), planNow(caller))
    val (confs, plans) = watched(caller)(body)
    confs shouldBe Set(conf0)
    plans shouldBe Set(plan0)
    confNow(caller) shouldBe conf0
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_isolation").toString

  private lazy val vecs = (0 until 60).map(i =>
    (i.toLong, Array(i % 5 * 1.0, i % 3 * 2.0, i % 7 * 0.5, i % 2 * 3.0)))
    .toDF("vec_id", "embedding")

  "StateStore.upsert" should "never change the caller's session conf" in {
    val dir = tmp()
    StateStore.create((1L to 200L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 8, dir)
    neverChanges(StateStore.upsert(spark, dir, (1L to 20L).map(k => (k, 0.5)).toDF("k", "v")))
  }

  // the distributed loop (AQE off on its own clone), on a caller whose
  // broadcast threshold is -1
  "Pq.train" should "never change the caller's session conf" in {
    val off = Threshold.at(-1)(vecs)
    neverChanges(Pq.train(off, m = 2, ksub = 2, maxIter = 3), off.sparkSession)
  }

  "KMeans.centroids" should "never change the caller's session conf" in {
    val off = Threshold.at(-1)(vecs)
    neverChanges(KMeans.centroids(off, k = 2, maxIter = 3), off.sparkSession)
  }

  "ML.gd" should "never change the caller's session conf" in {
    val data = (0 until 40).map(i => (i.toLong, Array(i / 20.0), 2.0 * i / 20.0 + 1.0))
      .toDF("id", "x", "y")
    neverChanges(ML.gd(data, dim = 1, iters = 5))
  }

  "Prefilter.bloomOf" should "never change the caller's session conf" in {
    // past the default 4M-item cap, so the build needs raised caps
    neverChanges(Prefilter.bloomOf(spark.range(100).toDF("k"), col("k"),
      expectedItems = 5000000L))
  }

  "Streams.runToCompletion" should "never change the caller's session conf" in {
    val dir = tmp()
    (1 to 30).map(i => (s"k${i % 4}", i.toDouble)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val agg = Streams.readParquetStream(spark, dir, spark.read.parquet(dir).schema)
      .groupBy("k").agg(sum("v").as("s"))
    neverChanges(Streams.runToCompletion(agg, s"isolation_${System.nanoTime}",
      statePartitions = Some(8),
      appendConf = Map("spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")).collect())
  }

  /** Every trimmed line of `src/main`'s Scala files, with its file name. */
  private lazy val mainLines: Seq[(String, String)] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.map(l => (f.getFileName.toString, l.trim))
    } finally walk.close()
  }

  "src/main" should "write no session conf outside the clone bridge.isolated makes" in {
    // the one allowed write: `isolated` sets the overrides on the clone it
    // has just made
    val allowed = ("bridge.scala", "overrides.foreach { case (k, v) => clone.conf.set(k, v) }")
    mainLines.filter { case (_, line) =>
      Seq("conf.set(", "conf.unset(", "setConf").exists(line.contains)
    } shouldBe Seq(allowed)
  }

  it should "decide driver or cluster by the broadcast threshold in bridge alone" in {
    val code = mainLines.filterNot { case (_, l) => l.startsWith("*") || l.startsWith("//") ||
      l.startsWith("/**") }
    // the threshold is read once, by bridge's `broadcastThreshold`, only
    // bridge's rule (`fits`, `collectIfFits`) calls it, and only bridge
    // names the setting
    code.filter(_._2.replaceAll("\"[^\"]*\"", "\"\"").contains("autoBroadcastJoinThreshold")) shouldBe
      Seq(("bridge.scala", ".autoBroadcastJoinThreshold"))
    code.filter(_._2.contains("autoBroadcastJoinThreshold")).map(_._1).distinct shouldBe
      Seq("bridge.scala")
    code.filter(_._2.contains("broadcastThreshold(")).map(_._1).distinct shouldBe Seq("bridge.scala")
    // no per-call threshold parameter comes back
    val knob = """\b(localThreshold|localCellBudget|sizeHint|broadcastMaxRows|broadcastThreshold)\s*:""".r
    code.filter { case (_, l) => knob.findFirstIn(l).isDefined } shouldBe empty
  }
}
