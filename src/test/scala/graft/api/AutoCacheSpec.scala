package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.JobCount.countJobs

/** Auto-cache scope: multiply-consumed bags must be computed ONCE. The
  * proof is an accumulator in the shared upstream stage — it counts how
  * many times each source row is recomputed, so "scans its input once"
  * is asserted end-to-end, not by plan-string inspection. */
class AutoCacheSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def countedBag(n: Int): (DataBag[Long], org.apache.spark.util.LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("recompute-probe")
    val bag = DataBag.from(spark.range(n.toLong).as[Long])
      .map { x => acc.add(1L); x }
    (bag, acc)
  }

  "a diamond over one bag" should "compute the shared node once inside a scope" in {
    val (bag, acc) = countedBag(1000)
    val (a, b) = AutoCache.scope { _ =>
      val evens = bag.where(org.apache.spark.sql.functions.col("value") % 2 === 0)
      val big = bag.map(_ * 2) // 2nd consumption → bag persisted lazily
      (evens.size, big.size)
    }
    a shouldBe 500L
    b shouldBe 1000L
    acc.value shouldBe 1000L // would be 2000 uncached
    bag.ds.storageLevel shouldBe StorageLevel.NONE // unpersisted at exit
  }

  it should "recompute per consumer outside a scope (baseline)" in {
    val (bag, acc) = countedBag(1000)
    bag.where(org.apache.spark.sql.functions.col("value") % 2 === 0).size shouldBe 500L
    bag.map(_ * 2).size shouldBe 1000L
    acc.value shouldBe 2000L
  }

  "deferred actions" should "share one scan when the same bag is folded twice" in {
    val (bag, acc) = countedBag(1000)
    val (s, n) = AutoCache.scope { sc =>
      val sum = sc.defer(bag)(_.sum)
      val cnt = sc.defer(bag)(_.size) // 2nd consumption BEFORE either runs
      (sum, cnt)
    }
    s.value shouldBe (0L until 1000L).sum
    n.value shouldBe 1000L
    acc.value shouldBe 1000L
    bag.ds.storageLevel shouldBe StorageLevel.NONE
  }

  "deferred folds" should "fuse N folds of one bag into ONE Spark job, bit-identical results" in {
    import graft.api.alg._
    val (bag, acc) = countedBag(1000)
    val (_, c) = countJobs {
      val (s, n, m, t) = AutoCache.scope { sc =>
        val sum = sc.deferFold(bag)(Sum(Numeric[Long]))
        val cnt = sc.deferFold(bag)(Size)
        val mx = sc.deferFold(bag)(Max(Ordering.Long))
        val top = sc.deferFold(bag)(Top(3, Ordering.Long))
        (sum, cnt, mx, top)
      }
      // results bit-identical to the standalone folds
      s.value shouldBe (0L until 1000L).sum
      n.value shouldBe 1000L
      m.value shouldBe Some(999L)
      t.value shouldBe List(999L, 998L, 997L)
      acc.value shouldBe 1000L // one scan of the source
    }
    c.jobs shouldBe 1 // four folds, ONE job
  }

  "plain named folds in a scope" should "auto-fuse: N folds of one bag, ONE job, bit-identical" in {
    val (bag, acc) = countedBag(1000)
    // standalone (non-scope) twins computed FIRST, for bit-identity
    val expSum = bag.sum
    val expN = bag.size
    val expMin = bag.min
    val expMax = bag.max
    val accAfterTwins = acc.value // the 4 standalone scans above
    val (_, c) = countJobs {
      // the reference-natural spelling — no defer, no API opt-in: the
      // first fold runs one batch (Sum + speculative Size), `size` is a
      // memo hit; `min` opens the second batch (Min + Max + Size-hit),
      // `max` is a memo hit — 2 jobs for 4 folds, and the (sum, size)
      // pair costs ONE
      val (s1, n1, mn, mx) = AutoCache.scope { _ =>
        val s = bag.sum
        val n = bag.size
        val mnv = bag.min
        val mxv = bag.max
        (s, n, mnv, mxv)
      }
      s1 shouldBe expSum
      n1 shouldBe expN
      mn shouldBe expMin
      mx shouldBe expMax
      (acc.value - accAfterTwins) shouldBe 2000L // two scans (two batches), not four
    }
    c.jobs shouldBe 2
  }

  "macro-hoisted uncorrelated folds" should "fuse into ONE foldAll batch inside a scope" in {
    import graft.api.comprehensions.onSpark
    val (bag, acc) = countedBag(1000)
    val xs = DataBag((1L to 100L))
    // standalone twins for value identity (and to absorb their scans)
    val expSum = bag.sum
    val expMax = bag.max
    val expSize = bag.size
    val accTwins = acc.value
    val (_, c) = countJobs {
      // three generator-independent folds of ONE bag hoist into driver vals;
      // inside a scope they must queue through deferNamed and run as ONE
      // foldAll job (collect-then-read), plus one job for the result read —
      // previously each hoisted val ran its own batch
      val got = AutoCache.scope { _ =>
        onSpark {
          for { x <- xs; if x + bag.size > 0L; if x <= bag.max; if x != bag.sum }
            yield x
        }.collect()
      }
      got.sorted shouldBe (1L to 100L)
      // values came from the SAME algebra results the standalone twins give
      expSize shouldBe 1000L
      expMax shouldBe 999L
      expSum shouldBe (0L until 1000L).sum
      // one scan for all three folds (not three)
      (acc.value - accTwins) shouldBe 1000L
    }
    c.jobs shouldBe 2 // fused fold batch + the comprehension's collect
  }

  "plain folds" should "join a pending deferFold batch of the same bag" in {
    val (bag, acc) = countedBag(500)
    import graft.api.alg._
    val (s, n) = AutoCache.scope { sc =>
      val deferredSum = sc.deferFold(bag)(Sum(Numeric[Long]))
      // the PLAIN size call flushes the pending batch WITH itself:
      // one job computes both
      val nNow = bag.size
      (deferredSum, nNow)
    }
    s.value shouldBe (0L until 500L).sum
    n shouldBe 500L
    acc.value shouldBe 500L // one scan for both folds
  }

  "join inputs" should "count both sides and persist a bag reused across joins" in {
    val (bag, acc) = countedBag(100)
    val small = DataBag(Seq(1L, 2L, 3L))
    AutoCache.scope { _ =>
      val j1 = bag.equiJoin(small)(identity, identity)
      val j2 = bag.equiJoin(small)(identity, identity)
      j1.size shouldBe 3L
      j2.size shouldBe 3L
    }
    acc.value shouldBe 100L
  }

  "an explicitly cached bag" should "not be double-persisted or unpersisted by the scope" in {
    val (bag0, _) = countedBag(10)
    val cached = bag0.cache()
    AutoCache.scope { _ =>
      cached.size shouldBe 10L
      cached.map(_ + 1).size shouldBe 10L
      cached.where(org.apache.spark.sql.functions.lit(true)).size shouldBe 10L
    }
    // scope exit must NOT drop a cache it did not create
    cached.ds.storageLevel should not be StorageLevel.NONE
    cached.unpersist()
  }
}
