package graft.api

import org.apache.spark.sql.SparkSession
import org.scalatest.LoneElement
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.PlanCapture.capturePlans

/** MutableBag update semantics (reference api/MutableBag.scala:26-51) and
  * Iterate fixpoint behavior. */
class StateSpec extends AnyFlatSpec with Matchers with LoneElement {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  "MutableBag.update" should "upsert via Some and skip via None, returning the delta" in {
    val st = MutableBag[Long, Long](DataBag(Seq((1L, 10L), (2L, 20L))))
    val delta = st.update(DataBag(Seq(
      Group(1L, 100L), // existing, f returns None -> unchanged
      Group(2L, 5L),   // existing, updated
      Group(3L, 7L)    // new key, inserted
    ))) { (_, vOpt, m) =>
      vOpt match {
        case Some(v) if m < v => Some(v + m)
        case Some(_)          => None
        case None             => Some(m)
      }
    }
    delta.collect().sorted shouldBe Seq((2L, 25L), (3L, 7L))
    st.bag().collect().sorted shouldBe Seq((1L, 10L), (2L, 25L), (3L, 7L))
  }

  "MutableBag.updateBroadcast" should "match update's semantics with zero shuffles" in {
    def run(doUpdate: (MutableBag[Long, Long], DataBag[Group[Long, Long]]) => DataBag[(Long, Long)]) = {
      val st = MutableBag[Long, Long](DataBag(Seq((1L, 10L), (2L, 20L))))
      val delta = doUpdate(st, DataBag(Seq(
        Group(1L, 100L), // existing, f returns None -> unchanged
        Group(2L, 5L),   // existing, updated
        Group(3L, 7L)    // new key, inserted
      )))
      (delta.collect().sorted, st.bag().collect().sorted)
    }
    def f(k: Long, vOpt: Option[Long], m: Long): Option[Long] = vOpt match {
      case Some(v) if m < v => Some(v + m)
      case Some(_)          => None
      case None             => Some(m)
    }
    val (dCog, sCog) = run((st, ms) => st.update(ms)(f))
    val (dBc, sBc) = run((st, ms) => st.updateBroadcast(ms)(f))
    dBc shouldBe dCog
    sBc shouldBe sCog
    dBc shouldBe Seq((2L, 25L), (3L, 7L))
  }

  it should "iterate: repeated broadcast point updates converge like cogroup updates" in {
    // min-label propagation over a tiny path graph, state keyed by vertex
    val st = MutableBag[Long, Long](DataBag(Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))))
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    var changed = true
    var rounds = 0
    while (changed && rounds < 10) {
      rounds += 1
      val labels = st.bag().collect().toMap
      val msgs = edges.flatMap { case (a, b) =>
        Seq(Group(b, labels(a)), Group(a, labels(b)))
      }
      val delta = st.updateBroadcast(DataBag(msgs)) { (_, vOpt, m) =>
        vOpt match {
          case Some(v) if m < v => Some(m)
          case _ => None
        }
      }
      changed = delta.collect().nonEmpty
    }
    st.bag().collect().sorted shouldBe Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
  }

  it should "keep ALL rows of a duplicate-keyed state when every f declines" in {
    // the contract says None leaves the state unchanged — a state that
    // happens to hold two rows for a key must pass through intact
    val st = MutableBag[Long, Long](DataBag(Seq((7L, 70L), (7L, 71L), (8L, 80L))))
    val delta = st.update(DataBag(Seq(Group(7L, 1L))))((_, _, _) => None)
    delta.collect() shouldBe empty
    st.bag().collect().sorted shouldBe Seq((7L, 70L), (7L, 71L), (8L, 80L))
  }

  "MutableBag state" should "cogroup with zero Exchange on the state side, every round" in {
    val st = MutableBag[Long, Long](DataBag((1L to 100L).map(i => (i, i))))
    for (r <- 1 to 3) {
      // the round's cogroup runs in its state checkpoint
      val (delta, plans) = capturePlans(st.update(DataBag(Seq(
        Group(5L, 1000L + r), Group(200L + r, r.toLong))))((_, _, m) => Some(m)))
      delta.collect().length shouldBe 2
      // after execution an adaptive plan prints Final AND Initial sections
      // (each containing the exchange once) — count within one section
      val plan = plans.filter(_.contains("CoGroup")).loneElement
        .split("== Initial Plan ==").head
      plan should include("CoGroup")
      // exactly ONE Exchange: the message side. The state side reads its
      // asserted hash partitioning straight from the checkpoint — if a
      // second Exchange ever appears here, the IndexedRDD-gap closure
      // regressed and every fixpoint round re-shuffles its full state.
      "Exchange".r.findAllMatchIn(plan).size shouldBe 1
    }
    st.bag().collect().toMap.apply(5L) shouldBe 1003L
    st.bag().count(_ => true) shouldBe 103L
  }

  it should "give copy() value semantics" in {
    val st = MutableBag[Long, Long](DataBag(Seq((1L, 1L))))
    val snapshot = st.copy()
    st.update(DataBag(Seq(Group(1L, 9L))))((_, _, m) => Some(m))
    st.bag().collect() shouldBe Seq((1L, 9L))
    snapshot.bag().collect() shouldBe Seq((1L, 1L))
  }

  "Iterate.fixpointBySize" should "converge (doubling then saturating set)" in {
    val init = DataBag(Seq(0))
    val result = Iterate.fixpointBySize(init, maxIter = 20) { cur =>
      cur.flatMap(x => Seq(x, math.min(x + 1, 5))).distinct
    }
    result.collect().sorted shouldBe Seq(0, 1, 2, 3, 4, 5)
  }
}
