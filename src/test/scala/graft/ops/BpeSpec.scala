package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.JobCount.countJobs

/** BPE trainer vs a textbook sequential Scala implementation: the merge
  * sequence (with lexicographic tie-break) must agree exactly. */
class BpeSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** Sequential reference: word histogram → repeated (argmax, merge). */
  private def seqBpe(corpus: Seq[String], numMerges: Int): Seq[(String, String, Long)] = {
    var words: Map[List[String], Long] = corpus
      .flatMap(_.trim.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, c) => (w.split("").toList, c) }
    def mergeWord(syms: List[String], l: String, r: String): List[String] =
      syms.foldLeft(List.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (out.size < numMerges && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; Seq(a, b) <- syms.sliding(2))
        pairs((a, b)) = pairs.getOrElse((a, b), 0L) + c
      val best = pairs.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= 2 =>
          out += ((l, r, c))
          words = words.groupMapReduce(kv => mergeWord(kv._1, l, r))(_._2)(_ + _)
        case _ => done = true
      }
    }
    out.toSeq
  }

  it should "reproduce the sequential merge sequence exactly (incl. tie-breaks)" in {
    val corpus = Seq(
      "low low low low low", "lower lower newest newest",
      "newest newest newest newest", "widest widest widest",
      "aaa aa aaa aa a")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (merges, _) = Bpe.train(docs, numMerges = 12)
    val got = merges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    got shouldBe seqBpe(corpus, 12)
  }

  it should "train bit-identically driver-side and distributed" in {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(100 + seed)
      val corpus = Seq.fill(30)(Seq.fill(rnd.nextInt(8) + 1)(
        Seq.fill(rnd.nextInt(6) + 1)("abc" (rnd.nextInt(3))).mkString).mkString(" "))
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val (mL, wL) = Bpe.train(docs, numMerges = 10) // under threshold → local
      val (mD, wD) = Bpe.train(docs, numMerges = 10, localThreshold = 0)
      mL.orderBy("rank").collect().map(_.toSeq) shouldBe
        mD.orderBy("rank").collect().map(_.toSeq)
      wL.collect().map(r => (r.getSeq[String](0), r.getLong(1))).sortBy(_.toString) shouldBe
        wD.collect().map(r => (r.getSeq[String](0), r.getLong(1))).sortBy(_.toString)
    }
  }

  it should "stop early when no pair repeats, and encode() applies merges greedily" in {
    val docs = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val (merges, words) = Bpe.train(docs, numMerges = 10)
    merges.count() shouldBe 0 // every pair occurs once
    // greedy left-to-right: merging (a,a) in "aaa" gives [aa, a], not [a, aa]
    val enc = Bpe.encode(Seq((1L, "aaa")).toDF("doc_id", "text"),
      Seq(("a", "a"))).collect()
    enc.head.getSeq[String](2) shouldBe Seq("aa", "a")
    words.count() shouldBe 2
  }

  it should "agree with the sequential twin on seeded random corpora (tie-heavy alphabets)" in {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      // 2-letter alphabet, short words: maximal pair-count ties, repeated
      // merges whose outputs ("aa", "ab") collide with later pair symbols
      val corpus = Seq.fill(6)(
        Seq.fill(rnd.nextInt(8) + 3)(
          Seq.fill(rnd.nextInt(4) + 1)("ab" (rnd.nextInt(2))).mkString)
          .mkString(" "))
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val (merges, _) = Bpe.train(docs, numMerges = 6)
      val got = merges.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
      withClue(s"seed=$seed corpus=$corpus: ") {
        got shouldBe seqBpe(corpus, 6)
      }
    }
  }

  /** Sequential-fold application of a merge list (the `encode` semantics):
    * each merge in order, greedily left-to-right non-overlapping. */
  private def seqApply(w: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(w.split("").filter(_.nonEmpty).toList) { case (syms, (l, r)) =>
      syms.foldLeft(List.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    }

  it should "applyRanked ≡ sequential fold on adversarial merge tables" in {
    // hand-picked traps: later merge creating an EARLIER pair (must NOT
    // re-fire), chained merges, overlapping occurrences
    val traps = Seq(
      ("aab", Seq(("aa", "b"), ("a", "a"))),   // (aa,b) ranked FIRST: stays unmerged
      ("aab", Seq(("a", "a"), ("aa", "b"))),   // consistent order: full merge
      ("aaaa", Seq(("a", "a"), ("aa", "aa"))),
      ("abab", Seq(("a", "b"), ("ab", "ab"))),
      ("abc", Seq(("a", "b"), ("b", "c"))),
      ("aaa", Seq(("a", "a"))),
      ("banana", Seq(("a", "n"), ("an", "an"), ("b", "an"))))
    for ((w, ms) <- traps) {
      val ranks = new java.util.HashMap[(String, String), java.lang.Integer]
      ms.zipWithIndex.foreach { case (p, i) => if (!ranks.containsKey(p)) ranks.put(p, Int.box(i)) }
      withClue(s"word=$w merges=$ms: ") {
        Bpe.applyRanked(w.split("").filter(_.nonEmpty), ranks).toSeq shouldBe seqApply(w, ms)
      }
    }
    // fuzz: random words over {a,b}, random merge tables built from random
    // substrings so merged symbols collide with later pair components
    for (seed <- 1 to 40) {
      val rnd = new scala.util.Random(seed)
      val w = Seq.fill(rnd.nextInt(14) + 2)("ab" (rnd.nextInt(2))).mkString
      def sym() = {
        val i = rnd.nextInt(w.length)
        w.substring(i, math.min(w.length, i + rnd.nextInt(3) + 1))
      }
      val ms = Seq.fill(rnd.nextInt(8) + 1)((sym(), sym()))
      val ranks = new java.util.HashMap[(String, String), java.lang.Integer]
      ms.zipWithIndex.foreach { case (p, i) => if (!ranks.containsKey(p)) ranks.put(p, Int.box(i)) }
      withClue(s"seed=$seed word=$w merges=$ms: ") {
        Bpe.applyRanked(w.split("").filter(_.nonEmpty), ranks).toSeq shouldBe seqApply(w, ms)
      }
    }
  }

  it should "trainLocal reproduce train's merge sequence exactly" in {
    val corpus = Seq(
      "low low low low low", "lower lower newest newest",
      "newest newest newest newest", "widest widest widest",
      "aaa aa aaa aa a")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def seqOf(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val (m1, w1) = Bpe.train(docs, numMerges = 12)
    val (m2, w2) = Bpe.trainLocal(docs, numMerges = 12)
    seqOf(m2) shouldBe seqOf(m1)
    seqOf(m2) shouldBe seqBpe(corpus, 12)
    // final histograms agree as multisets of (syms, cnt)
    w2.selectExpr("sum(size(syms) * cnt) s").head().getLong(0) shouldBe
      w1.selectExpr("sum(size(syms) * cnt) s").head().getLong(0)
    // tie-heavy fuzz corpora
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val corpus = Seq.fill(5)(
        Seq.fill(rnd.nextInt(8) + 3)(
          Seq.fill(rnd.nextInt(4) + 1)("ab" (rnd.nextInt(2))).mkString).mkString(" "))
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val (ml, _) = Bpe.trainLocal(docs, numMerges = 8)
      withClue(s"seed=$seed corpus=$corpus: ") {
        seqOf(ml) shouldBe seqBpe(corpus, 8)
      }
    }
  }

  it should "encodeFast ≡ encode (Column path) on a trained merge table" in {
    val corpus = Seq(
      "low lower lowest low slow slower", "newest new news newest",
      "banana bandana band sand strand and", "widest wide widen widows")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (m, _) = Bpe.trainLocal(docs, numMerges = 20)
    val ms = m.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val slow = Bpe.encode(docs, ms).selectExpr("doc_id", "pos", "tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2))).sortBy(t => (t._1, t._2))
    val fast = Bpe.encodeFast(docs, ms)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2))).sortBy(t => (t._1, t._2))
    fast shouldBe slow
  }

  it should "encodeFast handle a 1k+ merge vocabulary in one pass" in {
    // vocabulary rich enough for >1k merges: word × numeric-suffix grid
    val base = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    val corpus = (0 until 200).map { d =>
      (0 until 12).map(i => base(i) + "_" + ((d * 7 + i) % 97)).mkString(" ") }
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (m, words) = Bpe.trainLocal(docs, numMerges = 1200)
    val ms = m.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    ms.length should be >= 1000
    val enc = Bpe.encodeFast(docs, ms)
    // token mass after encode == token mass of the trainer's final histogram
    enc.selectExpr("sum(size(tokens)) s").head().getLong(0) shouldBe
      words.selectExpr("sum(size(syms) * cnt) s").head().getLong(0)
  }

  it should "encode to ids that decode back to the original words" in {
    val corpus = Seq("the cat sat on the mat", "the bat sat on the hat",
      "rat cat bat mat hat sat")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (m, _) = Bpe.trainLocal(docs, numMerges = 8)
    val ms = m.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val chars = Bpe.corpusChars(docs)
    val voc = Bpe.vocab(chars, ms)
    voc.size shouldBe chars.size + ms.size
    voc.map(_._2) shouldBe (0 until voc.size) // dense ids
    val inv = voc.map(_.swap).toMap
    val got = Bpe.encodeToIds(docs, ms, voc).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getSeq[Int](2))).toMap
    val words = corpus.zipWithIndex.flatMap { case (t, i) =>
      t.trim.split("\\s+").zipWithIndex.map { case (w, p) => ((i.toLong, p), w) }
    }.toMap
    got.keySet shouldBe words.keySet
    for ((k, idseq) <- got) {
      idseq.forall(_ >= 0) shouldBe true
      idseq.map(inv).mkString shouldBe words(k)
    }
    // unknown symbols (vocab from a DIFFERENT alphabet) map to unkId
    val alien = Bpe.encodeToIds(Seq((9L, "zzz")).toDF("doc_id", "text"), ms, voc)
      .collect().head.getSeq[Int](2)
    alien.forall(_ == -1) shouldBe true
  }

  it should "shrink token counts by at least 2 per merge" in {
    val docs = Seq((1L, "banana banana bandana banana band and sand strand"))
      .toDF("doc_id", "text")
    val before = docs.selectExpr("sum(length(replace(text, ' ', ''))) s")
      .head().getLong(0)
    val (merges, words) = Bpe.train(docs, numMerges = 8)
    val n = merges.count()
    val after = words.selectExpr("sum(size(syms) * cnt) s").head().getLong(0)
    after should be <= before - 2 * n
  }

  "Bpe.saveTokenizer/loadTokenizer" should "roundtrip merges and vocabulary exactly" in {
    val docs = Seq((1L, "banana banana bandana band and sand strand"))
      .toDF("doc_id", "text")
    val (m, _) = Bpe.trainLocal(docs, numMerges = 6)
    val ms = m.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val voc = Bpe.vocab(Bpe.corpusChars(docs), ms)
    val dir = java.nio.file.Files.createTempDirectory("graft_tok_spec").toString
    try {
      Bpe.saveTokenizer(spark, dir, ms, voc)
      val (lms, lvoc) = Bpe.loadTokenizer(spark, dir)
      lms shouldBe ms
      lvoc shouldBe voc
      // known schemas + driver-side ordering: one union scan (was 8 jobs:
      // two footer inferences, two distributed sorts)
      val (_, jobs) = countJobs(Bpe.loadTokenizer(spark, dir))
      jobs should be <= 1
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
