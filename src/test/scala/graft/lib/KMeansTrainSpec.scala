package graft.lib

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.ops.{AnnIndex, Pq, PqIndex}
import graft.testlib.Threshold
import graft.testlib.JobCount.countJobs

/** The one quantizer trainer, [[KMeans.train]]: its local path is exactly
  * [[KMeans.lloydLocal]] over the id-sorted corpus and its slices, a build
  * trains within its job ceiling, and the distributed loop trains every
  * book in one aggregation job per iteration. */
class KMeansTrainSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** 240 16-dim vectors around four centres (id % 4) plus uniform noise,
    * in a scrambled id order. */
  private def corpus(): DataFrame = {
    val rnd = new scala.util.Random(13)
    Seq.tabulate(240) { i =>
      val id = (i * 97 % 240).toLong
      (id, Array.tabulate(16)(j =>
        (if (j % 4 == id % 4) 4f else 0f) + rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
  }

  /** The corpus in id order, as the doubles the trainer projects. */
  private def sorted(c: DataFrame): Array[Seq[Double]] =
    c.orderBy("vec_id").collect().map(_.getSeq[Float](1).map(_.toDouble))

  private def bits(book: Array[(Int, Seq[Double])]): Seq[(Int, Seq[Long])] =
    book.toSeq.map { case (cid, v) => (cid, v.map(java.lang.Double.doubleToRawLongBits)) }

  private def sliceBooks(pts: Array[Seq[Double]], m: Int, k: Int, maxIter: Int) = {
    val dsub = pts.head.length / m
    (0 until m).map(s =>
      bits(KMeans.lloydLocal(pts.map(_.slice(s * dsub, s * dsub + dsub)), k, maxIter)))
  }

  "KMeans.train" should "give every build exactly lloydLocal over the id-sorted corpus" in {
    val c = corpus()
    val pts = sorted(c)
    val idx = PqIndex.build(c, nlist = 4, m = 4, ksub = 8, maxIter = 5)
    bits(idx.coarse) shouldBe bits(KMeans.lloydLocal(pts, 4, 5))
    idx.cb.books.toSeq.map(bits) shouldBe sliceBooks(pts, 4, 8, 5)
    Pq.train(c, m = 4, ksub = 8, maxIter = 5).books.toSeq.map(bits) shouldBe
      sliceBooks(pts, 4, 8, 5)
    bits(AnnIndex.buildIvf(c, nlist = 4, maxIter = 5).centroids) shouldBe
      bits(KMeans.lloydLocal(pts, 4, 5))
  }

  it should "build a local-sized index within its job ceiling" in {
    val c = corpus()
    c.count() // the input's own first-use jobs are not the build's
    // the preparation aggregate (count and dimension), a few AQE stage
    // jobs, and one collect; the rows are sorted by id on the driver (was
    // 7 each, with the distributed sort's sample and stage jobs)
    val ann = countJobs(AnnIndex.buildIvf(c, nlist = 4, maxIter = 5))._2.jobs
    val pq = countJobs(PqIndex.build(c, nlist = 4, m = 4, ksub = 8, maxIter = 5))._2.jobs
    info(s"jobs: AnnIndex.buildIvf $ann, PqIndex.build $pq")
    ann should be <= 5
    pq should be <= 5
  }

  it should "train every book in one aggregation job per distributed iteration" in {
    val c = corpus()
    def jobs(maxIter: Int): Int = countJobs(KMeans.train(Threshold.at(-1)(c),
      Seq(KMeans.Book(1, 4), KMeans.Book(4, 8)), maxIter, "vec_id", "embedding"))._2.jobs
    // on noise-laden data neither book converges in 3 rounds: two more
    // rounds cost one job each for both books, where one loop per book
    // would cost two
    jobs(3) - jobs(1) shouldBe 2
  }

  it should "end each distributed book where its own loop ends" in {
    val c = corpus()
    val pts = sorted(c)
    // the coarse book converges by round 5 and is frozen while the PQ
    // book keeps moving
    bits(KMeans.lloydLocal(pts, 4, 5)) shouldBe bits(KMeans.lloydLocal(pts, 4, 20))
    sliceBooks(pts, 4, 8, 5) should not be sliceBooks(pts, 4, 8, 20)
    val Seq(Array(coarse), pq) = KMeans.train(Threshold.at(-1)(c),
      Seq(KMeans.Book(1, 4), KMeans.Book(4, 8)), 20, "vec_id", "embedding")
    def close(a: Array[(Int, Seq[Double])], b: Array[(Int, Seq[Double])]): Unit = {
      a.map(_._1) shouldBe b.map(_._1)
      a.zip(b).foreach { case ((_, av), (_, bv)) =>
        av.zip(bv).foreach { case (x, y) => math.abs(x - y) should be < 1e-9 } }
    }
    close(coarse, KMeans.lloydLocal(pts, 4, 20))
    val dsub = 4
    pq.zipWithIndex.foreach { case (book, s) =>
      close(book, KMeans.lloydLocal(pts.map(_.slice(s * dsub, s * dsub + dsub)), 8, 20))
    }
  }
}
