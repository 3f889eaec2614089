package graft.api

import graft.TestSpark
import graft.testlib.JobCount.countJobs
import graft.testlib.Threshold
import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** [[PointBag]] — the in-flight bucket-pruned keyed store. Correctness is a
  * differential against a driver-side Map replaying the same rounds; the
  * SCALE property (a point round runs tasks over ONLY the partitions owning
  * the touched keys) is machine-asserted via a stage listener. */
class PointBagSpec extends AnyFlatSpec with Matchers {
  private implicit val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def freshBag(n: Int, parts: Int = 8, compactEvery: Int = 100) =
    PointBag(DataBag.from(spark.createDataset(
      (0 until n).map(i => (i.toLong, i.toDouble)))), parts, compactEvery)

  behavior of "PointBag"

  it should "replay mixed upsert/insert/delete rounds identically to a driver Map" in {
    val pb = freshBag(200, compactEvery = 3) // exercise compaction mid-run
    val mirror = scala.collection.mutable.Map[Long, Double](
      (0 until 200).map(i => i.toLong -> i.toDouble): _*)
    val rnd = new scala.util.Random(42)
    def f(k: Long, old: Option[Double], m: Double): Option[Double] =
      if (m < 0) None // decline: leaves existing value, skips insert
      else Some(old.getOrElse(0.0) + m)
    for (round <- 1 to 10) {
      val msgs = Seq.fill(12)((rnd.nextInt(260).toLong, rnd.nextDouble() * 10 - 2))
      val delta = pb.update(msgs)(f)
      msgs.foreach { case (k, m) =>
        f(k, mirror.get(k), m).foreach(v => mirror(k) = v)
      }
      // the returned delta carries the CURRENT value of every touched key
      // that exists after the round
      delta.foreach { case (k, v) => mirror(k) shouldBe v }
      val dels = Seq.fill(3)(rnd.nextInt(260).toLong)
      pb.delete(dels)
      dels.foreach(mirror.remove)
      if (round % 4 == 0) {
        val probe = Seq.fill(5)(rnd.nextInt(260).toLong).distinct
        pb.multiget(probe) shouldBe probe.flatMap(k => mirror.get(k).map(k -> _)).toMap
      }
    }
    pb.bag().collect().sorted shouldBe mirror.toSeq.sorted
  }

  it should "apply same-key messages in sequence, each seeing the previous result" in {
    val pb = freshBag(4)
    // k=1: (+10) then (decline) then (*2 via closure on accumulated state)
    val out = pb.update(Seq((1L, 10.0), (1L, -1.0), (1L, 100.0)))(
      (k, old, m) => if (m < 0) None else Some(old.getOrElse(0.0) + m))
    out shouldBe Map(1L -> 111.0) // 1.0 + 10, decline, + 100
    // an insert folds the same way from None
    val ins = pb.update(Seq((999L, 5.0), (999L, 7.0)))(
      (k, old, m) => Some(old.getOrElse(0.0) + m))
    ins shouldBe Map(999L -> 12.0)
  }

  it should "run point rounds over ONLY the touched partitions (task counts)" in {
    val pb = freshBag(200, parts = 8, compactEvery = 1000)
    // Long keys hash to value.toInt for small values → pid = k % 8
    val (_, upd) = countJobs(
      pb.update(Seq((5L, 1.0)))((_, old, m) => Some(old.getOrElse(0.0) + m)))
    upd.jobs shouldBe 1   // the delta read; no compaction triggered
    upd.tasks shouldBe 1  // ONE partition computed, not 8
    // pids 3 and 11 % 8 = 3 → one partition
    countJobs(pb.multiget(Seq(3L, 11L)))._2.tasks shouldBe 1
    // two distinct partitions
    countJobs(pb.multiget(Seq(2L, 7L)))._2.tasks shouldBe 2
  }

  it should "cut the pass-through chain at compactEvery and stay correct" in {
    val pb = freshBag(50, compactEvery = 2)
    pb.update(Seq((1L, 1.0)))((_, o, m) => Some(o.getOrElse(0.0) + m))
    pb.currentChainLength shouldBe 1
    pb.update(Seq((2L, 1.0)))((_, o, m) => Some(o.getOrElse(0.0) + m))
    pb.currentChainLength shouldBe 0 // compacted
    pb.update(Seq((3L, 1.0)))((_, o, m) => Some(o.getOrElse(0.0) + m))
    pb.currentChainLength shouldBe 1
    val got = pb.bag().collect().toMap
    got(1L) shouldBe 2.0
    got(2L) shouldBe 3.0
    got(3L) shouldBe 4.0
    got(49L) shouldBe 49.0
  }

  it should "apply a distributed delta with NO state-side shuffle (updateBag)" in {
    val pb = freshBag(200, parts = 8, compactEvery = 1000)
    // above-threshold delta: forces the zip-partitions path (10 rows fit)
    val msgs = DataBag.from(Threshold.rows(10)(spark.createDataset(
      (0L until 100L).map(k => (k % 50, 1.0))).toDF()).as[(Long, Double)]) // 2 msgs per key 0..49
    val shufflesBefore = "ShuffledRDD".r.findAllIn(pb.stateDebugString).length
    pb.updateBag(msgs)((_, o, m) => Some(o.getOrElse(0.0) + m))
    // the round adds exactly ONE shuffle to the lineage — the DELTA's
    // partitionBy; the state side chains narrowly from its checkpoint
    "ShuffledRDD".r.findAllIn(pb.stateDebugString).length shouldBe (shufflesBefore + 1)
    // values: keys 0..49 gained +2, the rest untouched
    val got = pb.bag().collect().toMap
    (0L until 50L).foreach(k => got(k) shouldBe k.toDouble + 2.0)
    (50L until 200L).foreach(k => got(k) shouldBe k.toDouble)
    // point reads through the zipped chain still prune to touched partitions
    // (both pid 3: ONE pruned task)
    countJobs(pb.multiget(Seq(3L, 11L)))._2.tasks shouldBe 1
  }

  it should "skip the probe entirely with the broadcast threshold at -1" in {
    val pb = freshBag(40, parts = 8, compactEvery = 1000)
    // a tiny delta still takes the zip path on a session whose threshold
    // is -1 — no bounded-collect job fires before the (lazy) round
    val msgs = DataBag.from(Threshold.at(-1)(Seq((1L, 5.0)).toDF()).as[(Long, Double)])
    val (_, n) = countJobs(
      pb.updateBag(msgs)((_, o, m) => Some(o.getOrElse(0.0) + m)))
    n.jobs shouldBe 0 // round applied lazily, no probe job
    pb.bag().collect().toMap.apply(1L) shouldBe 6.0
  }

  it should "route small deltas through the driver path and match update()" in {
    val pbA = freshBag(60, parts = 8, compactEvery = 1000)
    val pbB = freshBag(60, parts = 8, compactEvery = 1000)
    val msgs = Seq((1L, 2.0), (9L, 3.0), (999L, 5.0)) // incl. an insert
    val f: (Long, Option[Double], Double) => Option[Double] =
      (_, o, m) => Some(o.getOrElse(0.0) + m)
    // under the default threshold — routes via the driver path
    pbA.updateBag(DataBag.from(spark.createDataset(msgs)))(f)
    val _ = pbB.update(msgs)(f)
    pbA.bag().collect().sorted shouldBe pbB.bag().collect().sorted
  }

  it should "unpersist chain broadcasts at compaction and stay readable after" in {
    // the pass-through chain holds one broadcast per round until the
    // checkpoint cuts it; block reclamation must be deterministic (not
    // GC-paced) and must never fire while the chain is still recomputable
    // — and it must be unpersist, not destroy: the checkpointed RDD's
    // closure still serializes the Broadcast handle into later tasks
    val pb = freshBag(40, compactEvery = 3)
    pb.update(Seq((1L, 1.0)))((_, o, m) => Some(o.getOrElse(0.0) + m))
    pb.update(Seq((2L, 1.0)))((_, o, m) => Some(o.getOrElse(0.0) + m))
    pb.pendingBroadcasts shouldBe 2
    // a full-state read BETWEEN rounds recomputes through both broadcasts
    pb.bag().collect().toMap.apply(2L) shouldBe 3.0
    pb.update(Seq((3L, 1.0)))((_, o, m) => Some(o.getOrElse(0.0) + m)) // compacts
    pb.pendingBroadcasts shouldBe 0
    pb.delete(Seq(4L))
    pb.pendingBroadcasts shouldBe 1
    // post-destroy reads: the checkpointed blocks back everything
    val got = pb.bag().collect().toMap
    got(1L) shouldBe 2.0
    got(3L) shouldBe 4.0
    got.contains(4L) shouldBe false
    pb.multiget(Seq(1L, 3L, 39L)) shouldBe Map(1L -> 2.0, 3L -> 4.0, 39L -> 39.0)
  }
}
