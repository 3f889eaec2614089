package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.Threshold
import graft.testlib.JobCount.countJobs

/** Model-based quality filter: bounded features, separable end-to-end
  * train→score→filter, and training determinism. */
class QualitySpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val clean = (1L to 30L).map { i =>
    (i, s"The quick brown fox number $i jumps over the lazy dog and runs to " +
      s"the river bank where it rests for a while before returning home")
  }
  private val garbage = (101L to 130L).map { i =>
    (i, ("zzz " * 25) + "000 111 222 333 444 555 666 777 888 999")
  }
  private val docs = (clean ++ garbage).toDF("doc_id", "text")
  private val labels = (clean.map(_._1 -> 1) ++ garbage.map(_._1 -> 0))
    .toDF("id", "y")

  behavior of "Quality.features"

  it should "emit 8 ratios bounded in [0, 1]" in {
    val rows = Quality.features(docs, "doc_id", "text").collect()
    rows.length shouldBe 60
    rows.foreach { r =>
      val x = r.getSeq[Double](1)
      x.length shouldBe 8
      x.foreach(v => assert(v >= 0.0 && v <= 1.0, s"feature out of range: $v"))
    }
  }

  it should "handle empty and whitespace-only text" in {
    val edge = Seq((1L, ""), (2L, "   "), (3L, "x")).toDF("doc_id", "text")
    noException should be thrownBy
      Quality.features(edge, "doc_id", "text").collect()
  }

  behavior of "Quality.train/score/filterByQuality"

  it should "separate clean from garbage and filter accordingly" in {
    val model = Quality.train(docs, labels, "doc_id", "text", iters = 60)
    val scored = Quality.score(docs, model, "doc_id", "text")
      .select("doc_id", "quality").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val cleanScores = scored.filter(_._1 <= 100L).map(_._2)
    val garbageScores = scored.filter(_._1 > 100L).map(_._2)
    cleanScores.min should be > garbageScores.max
    val kept = Quality.filterByQuality(docs, model, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe clean.map(_._1).toSet
  }

  it should "train deterministically" in {
    val m1 = Quality.train(docs, labels, "doc_id", "text", iters = 20)
    val m2 = Quality.train(docs, labels, "doc_id", "text", iters = 20)
    m1._1.toSeq shouldBe m2._1.toSeq
    m1._2 shouldBe m2._2
  }

  it should "train local ≡ distributed (same arithmetic, last-ulp-only drift)" in {
    // the broadcast threshold at -1 forces the distributed GD; default
    // takes the driver-side twin. Same rate schedule, same formulas — only gradient
    // SUMMATION order differs (row order vs partial-aggregate tree), so
    // weights agree to ~1e-9 and every downstream decision is identical.
    val local = Quality.train(docs, labels, "doc_id", "text", iters = 30)
    val (docsOff, labelsOff) = Threshold.at(-1, docs, labels)
    val dist = Quality.train(docsOff, labelsOff, "doc_id", "text", iters = 30)
    local._1.zip(dist._1).foreach { case (a, b) =>
      math.abs(a - b) should be < 1e-9 * math.max(1.0, math.abs(b))
    }
    math.abs(local._2 - dist._2) should be < 1e-9
    val keptLocal = Quality.filterByQuality(docs, local, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptDist = Quality.filterByQuality(docs, dist, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    keptLocal shouldBe keptDist
  }

  it should "probe the local path in ONE data job (no dedicated count)" in {
    val (_, default) = countJobs(
      Quality.train(docs, labels, "doc_id", "text", iters = 20))
    // the bounded collect IS the training collect: the labels-side
    // broadcast build plus executeTake's incremental partition sweep
    // (at most two rounds here) — ONE data pass total, where a
    // dedicated count() added a second full pass
    default.jobs should be <= 3
  }

  it should "fall back to distributed GD when the probe exceeds the threshold" in {
    // a threshold of three (x, y) rows (24 bytes each by Spark's estimate)
    // < |docs|: the bounded collect returns cap+1 rows, proving the data
    // doesn't fit — the same distributed GD as the forced path (threshold -1)
    val (docs3, labels3) = Threshold.at(3 * 24, docs, labels)
    val viaProbe = Quality.train(docs3, labels3, "doc_id", "text", iters = 15)
    val (docsOff, labelsOff) = Threshold.at(-1, docs, labels)
    val forced = Quality.train(docsOff, labelsOff, "doc_id", "text", iters = 15)
    // same distributed GD; only the probe's partial cache materialization
    // differs, which can reorder gradient SUMMATION (plan-variant FP
    // drift, same bound as the local-vs-distributed pin above)
    viaProbe._1.zip(forced._1).foreach { case (a, b) =>
      math.abs(a - b) should be < 1e-9 * math.max(1.0, math.abs(b))
    }
    math.abs(viaProbe._2 - forced._2) should be < 1e-9
  }

  it should "generalize to held-out docs of the same kinds" in {
    val held = (Seq((201L, "A plain sentence about nothing much at all but " +
      "written the ordinary way with small words")) ++
      Seq((202L, ("yyy " * 30) + "123 456 789 000"))).toDF("doc_id", "text")
    val model = Quality.train(docs, labels, "doc_id", "text", iters = 60)
    val s = Quality.score(held, model, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getAs[Double]("quality"))).toMap
    s(201L) should be > 0.5
    s(202L) should be < 0.5
  }
}
