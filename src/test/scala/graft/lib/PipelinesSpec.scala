package graft.lib

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.api.DataBag
import graft.testlib.Threshold

/** Differential tests: typed DataBag pipelines vs columnar formulations, and
  * kMeans on separable blobs. */
class PipelinesSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  "wordCount" should "agree between the typed DataBag path and the columnar path" in {
    val lines = Seq("a b b", "c a", " ", "b")
    val typed = TextPipelines.wordCountTyped(DataBag(lines))
      .collect().toMap
    val columnar = TextPipelines.wordCount(
      lines.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    typed shouldBe Map("a" -> 2L, "b" -> 3L, "c" -> 1L)
    columnar shouldBe typed
  }

  "KMeans.fit" should "separate two obvious blobs" in {
    val pts = (Seq.tabulate(10)(i => (i.toLong, Array(10f + i * 0.01f, 10f))) ++
      Seq.tabulate(10)(i => (100L + i, Array(-10f - i * 0.01f, -10f))))
      .toDF("vec_id", "embedding")
    val fit = KMeans.fit(pts, k = 2, maxIter = 10)
    val byCluster = fit.collect().map(r => r.getLong(0) -> r.getInt(1))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    byCluster.values.toSet shouldBe Set(
      (0L until 10L).toSet, (100L until 110L).toSet)
  }

  it should "train driver-side ≡ distributed (same seed/argmin/update rules)" in {
    val rnd = new scala.util.Random(11)
    val pts = Seq.tabulate(300)(i =>
        (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val local = KMeans.centroids(pts, k = 5, maxIter = 6) // under threshold
    val off = Threshold.at(-1)(pts) // threshold -1: distributed
    val dist = KMeans.centroids(off, k = 5, maxIter = 6)
    local.map(_._1) shouldBe dist.map(_._1)
    // centroid parity to FP-summation-order tolerance (the documented caveat)
    local.zip(dist).foreach { case ((_, lv), (_, dv)) =>
      lv.zip(dv).foreach { case (a, b) => math.abs(a - b) should be < 1e-9 }
    }
    // and the induced assignment is identical
    KMeans.assign(pts, local).collect().map(r => (r.getLong(0), r.getInt(1)))
      .sorted shouldBe
      KMeans.assign(pts, dist).collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    // PQ codebooks: same parity through the subspace trainer
    val cbL = graft.ops.Pq.train(pts, m = 2, ksub = 4, maxIter = 5)
    val cbD = graft.ops.Pq.train(off, m = 2, ksub = 4, maxIter = 5)
    cbL.m shouldBe cbD.m
    cbL.books.zip(cbD.books).foreach { case (bl, bd) =>
      bl.zip(bd).foreach { case ((cl, vl), (cd, vd)) =>
        cl shouldBe cd
        vl.zip(vd).foreach { case (a, b) => math.abs(a - b) should be < 1e-9 }
      }
    }
    // the local path is gated on rows × dim × 8 bytes, not on rows — wide
    // embeddings must route distributed (the driver-OOM guard): one byte
    // under the training set's 300 × 8 doubles is distributed; result
    // parity to the same tolerance
    val narrow = Threshold.at(300 * 8 * 8 - 1)(pts)
    val viaCell = KMeans.centroids(narrow, k = 5, maxIter = 6)
    viaCell.map(_._1) shouldBe dist.map(_._1)
    viaCell.zip(dist).foreach { case ((_, cv), (_, dv)) =>
      cv.zip(dv).foreach { case (a, b) => math.abs(a - b) should be < 1e-9 }
    }
    val cbCell = graft.ops.Pq.train(narrow, m = 2, ksub = 4, maxIter = 5)
    cbCell.books.zip(cbD.books).foreach { case (bl, bd) =>
      bl.zip(bd).foreach { case ((cl, vl), (cd, vd)) =>
        cl shouldBe cd
        vl.zip(vd).foreach { case (a, b) => math.abs(a - b) should be < 1e-9 }
      }
    }
  }
}
