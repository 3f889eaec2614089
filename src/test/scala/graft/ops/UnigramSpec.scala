package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.JobCount.countJobs

/** Unigram-LM tokenizer: Viterbi optimality against brute-force
  * enumeration, roundtrip/coverage, frequent-word compression, and
  * train/save/load determinism. */
class UnigramSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  behavior of "Unigram.viterbi"

  private def bruteBest(w: String, lp: Map[String, Long]): Long = {
    // all 2^(n-1) segmentations; unknown single chars take the unk penalty
    def score(p: String): Long =
      lp.getOrElse(p, if (p.length == 1) -100000000L else Long.MinValue / 4)
    def go(i: Int): Seq[(Long, Int)] = // (score, pieces) from position i
      if (i == w.length) Seq((0L, 0))
      else (i + 1 to w.length).flatMap { j =>
        val s = score(w.substring(i, j))
        if (s <= Long.MinValue / 8) Nil
        else go(j).map { case (r, n) => (s + r, n + 1) }
      }
    go(0).map(_._1).max
  }

  it should "achieve the brute-force-optimal score on 300 random cases" in {
    val rnd = new scala.util.Random(99L)
    for (trial <- 0 until 300) {
      val n = 1 + rnd.nextInt(8)
      val w = Array.fill(n)(('a' + rnd.nextInt(3)).toChar).mkString
      // random vocab: some substrings of w plus noise
      val subs = (for (i <- 0 until n; j <- i + 1 to math.min(n, i + 4))
        yield w.substring(i, j)).distinct
      val picked = subs.filter(_ => rnd.nextBoolean())
      val lp = picked.map(p => p -> (-(1 + rnd.nextInt(5000000)).toLong)).toMap
      val seg = Unigram.viterbi(w, lp, maxLen = 4)
      seg.mkString("") shouldBe w
      val got = seg.map(p =>
        lp.getOrElse(p, if (p.length == 1) -100000000L else fail(s"bad piece $p"))).sum
      withClue(s"trial $trial w=$w vocab=$lp: ") {
        got shouldBe bruteBest(w, lp)
      }
    }
  }

  behavior of "Unigram.train/segmentWords/encode"

  private lazy val corpus = ((1 to 40).map(i => (i.toLong, "hello world of tokens")) ++
    (41 to 50).map(i => (i.toLong, "rare words appear here sometimes")))
    .toDF("doc_id", "text")

  private lazy val model = Unigram.train(corpus, vocabSize = 40,
    maxPieceLen = 6, seedSize = 200, emIters = 2)

  it should "keep frequent words as single pieces" in {
    model.pieces.map(_._1) should contain("hello")
    val seg = Unigram.segmentWords(Unigram.wordHistogram(corpus), model)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    seg("hello") shouldBe Seq("hello")
    seg("world") shouldBe Seq("world")
  }

  it should "roundtrip every word through its pieces" in {
    val seg = Unigram.segmentWords(Unigram.wordHistogram(corpus), model).collect()
    seg should not be empty
    seg.foreach { r =>
      r.getSeq[String](2).mkString("") shouldBe r.getString(0)
    }
  }

  it should "cover unseen characters as unk singletons" in {
    val seg = Unigram.viterbi("héllo!", model.logp, model.maxPieceLen)
    seg.mkString("") shouldBe "héllo!"
  }

  it should "encode documents position by position" in {
    val enc = Unigram.encode(corpus.where($"doc_id" === 1L), model).collect()
    enc.map(_.getInt(1)).sorted shouldBe Array(0, 1, 2, 3)
    enc.foreach(r => r.getSeq[String](2).mkString("") should not be empty)
  }

  it should "train deterministically and survive save/load" in {
    val m2 = Unigram.train(corpus, vocabSize = 40, maxPieceLen = 6,
      seedSize = 200, emIters = 2)
    m2.pieces shouldBe model.pieces
    val dir = java.nio.file.Files.createTempDirectory("graft_unigram").toString
    try {
      // one relation written and read on the driver: no job (the load
      // was 1 scan job, and before that footer inference plus a
      // distributed sort)
      countJobs(Unigram.save(spark, dir, model))._2.jobs shouldBe 0
      val (loaded, n) = countJobs(Unigram.load(spark, dir))
      loaded.pieces shouldBe model.pieces
      n.jobs shouldBe 0
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "respect the vocab size with all single chars kept" in {
    model.pieces.size should be <= 40
    val chars = Unigram.wordHistogram(corpus).collect()
      .flatMap(_.getString(0).toCharArray.map(_.toString)).toSet
    chars.foreach(c => model.pieces.map(_._1) should contain(c))
  }
}
