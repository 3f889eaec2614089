package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Unit specs for the training-data operators, against hand-computed goldens. */
class OpsSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick brown fox jumps"),   // exact dup of 1
    (3L, "the quick brown fox leaps"),   // near dup of 1 (4/5 tokens)
    (4L, "completely different text here"),
    (5L, "El la de que es hoy")
  ).toDF("doc_id", "text")

  "Dedup.exactGroups" should "group exact duplicates" in {
    val g = Dedup.exactGroups(docs).collect()
    g.length shouldBe 4
    val dup = g.find(_.getLong(2) == 2).get
    dup.getLong(1) shouldBe 1L // keep_id = min doc_id
  }

  "Dedup.shingles" should "produce n-2 distinct shingles per n-token doc" in {
    val sh = Dedup.shingles(docs).where(col("doc_id") === 1).collect()
    sh.map(_.getString(1)).sorted shouldBe
      Seq("brown fox jumps", "quick brown fox", "the quick brown")
  }

  "Dedup.nGramsOfTokens" should "yield an empty array for inputs shorter than n" in {
    val short = Seq((1L, "one two"), (2L, ""), (3L, "a b c")).toDF("doc_id", "text")
    val out = short.select(col("doc_id"), Dedup.shingleArray(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    out(1L) shouldBe Seq.empty
    out(2L) shouldBe Seq.empty
    out(3L) shouldBe Seq("a b c")
  }

  "Dedup.minhashSignatures + lshCandidatePairs" should "pair exact dups, not near dups" in {
    val sig = Dedup.minhashSignatures(docs, numHashes = 4)
    sig.columns.toSeq shouldBe Seq("doc_id", "mh0", "mh1", "mh2", "mh3")
    val pairs = Dedup.lshCandidatePairs(sig, Seq("mh0", "mh1", "mh2", "mh3"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs shouldBe Array((1L, 2L)) // identical signature only for the exact dup
  }

  "Dedup.ngramJaccard" should "score near duplicates" in {
    val j = Dedup.ngramJaccard(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    j((1L, 2L)) shouldBe 1.0 // identical docs
    // doc1 vs doc3: shingles {tqb,qbf,bfj} vs {tqb,qbf,bfl}: |∩|=2 |∪|=4
    j((1L, 3L)) shouldBe 0.5
  }

  "Dedup.simhash64 + simhashNearDups" should "give identical hash to identical docs" in {
    val s = Dedup.simhash64(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    s(1L) shouldBe s(2L)
    val nd = Dedup.simhashNearDups(docs, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    nd should contain((1L, 2L))
  }

  "Dedup.minhashLSH hot-bucket guard" should "cap identical-doc floods to a linear star, unchanged below the cap" in {
    // 30 identical docs: every band bucket has all 30 members
    val flood = (0 until 30).map(i => (i.toLong, "the same boilerplate page text here"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashLSH(flood)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped.size shouldBe 30 * 29 / 2 // default cap untouched: full clique
    val capped = Dedup.minhashLSH(flood, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star: every doc pairs with the min-id representative only — linear
    capped shouldBe (1 until 30).map(i => (0L, i.toLong)).toSet
    // a mixed corpus below the cap is bit-identical with the guard active
    val mixed = (0 until 12).map(i => (i.toLong, s"doc ${i % 3} alpha beta gamma delta tail${i % 3}"))
      .toDF("doc_id", "text")
    Dedup.minhashLSH(mixed, maxBucket = 50).collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Dedup.minhashLSH(mixed).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  // r16: lshBands switched from a bands-way union-of-selects to one
  // explode scan, and the near-dup pipelines share ONE fused tokenize pass
  // (sigAndShingles) between signature and verify shingles — each must be
  // row-identical to the composed formulations it replaced
  "Dedup.bandRows (explode form)" should "equal the union-of-selects banding row-for-row" in {
    val corpus = (0 until 40)
      .map(i => (i.toLong, s"tok${i % 7} alpha beta gamma tok${i % 5} delta epsilon"))
      .toDF("doc_id", "text")
    val bands = 4; val rowsPerBand = 2
    val sig = Dedup.minhashSignatures(corpus, numHashes = bands * rowsPerBand)
      .localCheckpoint()
    val unionForm = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      sig.select(col("doc_id"), lit(b).as("band_id"),
        concat_ws("|", cols: _*).as("band_key"))
    }.reduce(_ union _)
    val got = Dedup.lshBands(corpus)
    got.schema.map(f => (f.name, f.dataType)) shouldBe
      unionForm.schema.map(f => (f.name, f.dataType))
    got.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted shouldBe
      unionForm.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
  }

  "Dedup.sigAndShingles" should "reproduce minhashSignatures and hashedShingles exactly" in {
    val corpus = (docs.collect().map(r => (r.getLong(0), r.getString(1))) ++
      Seq((6L, "a b"), (7L, ""))) // sub-shingle docs must drop in both paths
      .toSeq.toDF("doc_id", "text")
    val k = 8
    val fused = Dedup.sigAndShingles(corpus, "text", k, 3).localCheckpoint()
    Dedup.sigCols(fused, k).collect()
      .map(r => (0 until k + 1).map(r.get).mkString("|")).sorted shouldBe
      Dedup.minhashSignatures(corpus, numHashes = k).collect()
        .map(r => (0 until k + 1).map(r.get).mkString("|")).sorted
    Dedup.shingleView(fused).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
      Dedup.hashedShingles(corpus).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
    val (bandsDf, shDf) = Dedup.lshIndexAndShingleStore(corpus)
    bandsDf.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted shouldBe
      Dedup.lshBands(corpus).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    shDf.collect().map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
      Dedup.hashedShingles(corpus).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
  }

  "Dedup.simhashBandedPairs" should "equal the brute-force all-pairs hamming filter" in {
    // ids far apart on purpose: the retired window formulation would miss
    // these; the banded generator must not
    val corpus = (0 until 40).map(i =>
      (i * 1000L, s"w${i % 4} common tokens shared w${i % 4} tail${i % 7}"))
    val df = corpus.toDF("doc_id", "text")
    for (t <- Seq(0, 2, 5); m <- Seq(1, 2)) {
      val sig = Dedup.simhash64(df).localCheckpoint()
      val banded = Dedup.simhashBandedPairs(sig, 64, t, m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = sig.as("a").join(sig.as("b"), col("b.doc_id") > col("a.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
        .where(col("h") <= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      withClue(s"maxHamming=$t blocksPerKey=$m: ") { banded shouldBe brute }
    }
  }

  "Dedup.probeSimhashIndex" should "equal brute-force new×corpus hamming pairs" in {
    val all = (0 until 30).map(i =>
      (i * 100L, s"shared body text w${i % 5} with tail${i % 3}")).toDF("doc_id", "text")
    val corpus = all.where(col("doc_id") % 500 =!= 0)
    val batch = all.where(col("doc_id") % 500 === 0)
    val t = 3
    val idx = Dedup.simhashProbes(Dedup.simhash64(corpus), 64, t).localCheckpoint()
    val got = Dedup.probeSimhashIndex(idx,
        Dedup.simhashProbes(Dedup.simhash64(batch), 64, t), t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val cs = Dedup.simhash64(corpus); val bs = Dedup.simhash64(batch)
    val brute = bs.as("b").join(cs.as("a"), lit(true))
      .select(col("b.doc_id"), col("a.doc_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
      .where(col("h") <= t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    got shouldBe brute
  }

  "TextAnalysis.tokenCounts" should "count whitespace and bpe-ish tokens" in {
    val r = TextAnalysis.tokenCounts(docs).where(col("doc_id") === 1).head()
    r.getLong(1) shouldBe 5L  // n_tokens
    r.getLong(3) shouldBe 5L  // n_distinct_tokens
  }

  "TextAnalysis.qualitySignals" should "compute deterministic ratios" in {
    val oneWord = Seq((1L, "hello")).toDF("doc_id", "text")
    val r = TextAnalysis.qualitySignals(oneWord).head()
    r.getLong(1) shouldBe 5L   // n_chars
    r.getLong(2) shouldBe 1L   // n_tokens
    r.getDouble(4) shouldBe 0.0 // punct_ratio
    r.getDouble(6) shouldBe 1.0 // alpha_ratio
    r.getDouble(7) shouldBe 1.0 // uniqueness
  }

  "TextAnalysis.languageId" should "identify marker languages with tie-break" in {
    val r = TextAnalysis.languageId(docs).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    r(1L) shouldBe "en"
    r(5L) shouldBe "es"
    r(4L) shouldBe "und"
  }

  "TextAnalysis.fingerprints" should "normalize case/punct/whitespace" in {
    val d = Seq((1L, "Hello,  World!"), (2L, "hello world")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(d).collect().map(r => r.getString(1))
    fp(0) shouldBe fp(1)
  }

  "Similarity.cosineTopK" should "rank an identical vector first" in {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f)),   // identical to 0
      (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)),
      (4L, Array(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs, vecs.where(col("vec_id") === 0), k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    top(0) shouldBe ((1L, 1.0))
    top(1)._1 shouldBe 2L
  }

  "Similarity.bucketedTopK" should "only search within the sign bucket" in {
    val vecs = Seq(
      (0L, Array(1f, 1f, 1f, 1f)),
      (1L, Array(1f, 1f, 1f, 1f)),
      (2L, Array(-1f, -1f, -1f, -1f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.bucketedTopK(vecs, vecs.where(col("vec_id") === 0), k = 5)
      .collect().map(_.getLong(1))
    r shouldBe Array(1L) // vec 2 is in another bucket
  }

  "Similarity.ivfTopK" should "find in-blob neighbors with nprobe=1 on separable blobs" in {
    val rnd = new scala.util.Random(5)
    def blob(base: Float, ids: Range) =
      ids.map(i => (i.toLong, Array.fill(8)(base + rnd.nextFloat() * 0.1f)))
    val corpus = (blob(5f, 0 until 20) ++ blob(-5f, 100 until 120))
      .toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id").isin(0L, 100L))
    val got = Similarity.ivfTopK(corpus, queries, k = 3, nlist = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every neighbor comes from the query's own blob
    got.foreach { case (qid, did) =>
      if (qid < 100) did should be < 100L else did should be >= 100L
    }
    got.groupBy(_._1).values.foreach(_.length shouldBe 3)
  }

  "Multimodal.extractFeatures" should "be deterministic over the binary column" in {
    val media = Multimodal.asMediaTable(docs)
    media.schema("payload").dataType.typeName shouldBe "binary"
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    f(1L) shouldBe f(2L) // identical payloads -> identical features
    f(1L)._1 shouldBe "the quick brown fox jumps".getBytes("UTF-8").length
  }

  "Packing.packLayout" should "assign segments and in-pack offsets" in {
    // one bucket, target 10: docs of 4,5,3,6 tokens lay out end-to-end at
    // starts 0,4,9,12 -> packs 0,0,0,1; segments 0,1,2 then 0; offsets
    // 0,4,9 then 2 (12 - 1*10)
    val docs = Seq((0L, 4L), (8L, 5L), (16L, 3L), (24L, 6L)).toDF("id", "nt")
    val got = Packing.packLayout(docs, col("id"), col("nt"),
        targetTokens = 10L, numBuckets = 8)
      .select("id", "pack", "seg", "pack_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    got shouldBe Array((0L, 0L, 0L, 0L), (8L, 0L, 1L, 4L),
      (16L, 0L, 2L, 9L), (24L, 1L, 0L, 2L))
  }

  "Multimodal.imageNearDups" should "pair perturbed copies and separate distinct patterns" in {
    // 20 distinct noise patterns + one-pixel-perturbed copies of 2 of them
    val spec = ((1L to 20L).map(i => (i, i, 40 + i.toInt, false)) ++
      Seq((101L, 1L, 41, true), (105L, 5L, 45, true)))
      .toDF("doc_id", "pattern_id", "n", "perturb")
    val media = Multimodal.asPatternedPngMediaTable(spec)
    val pairs = Multimodal.imageNearDups(media, maxHamming = 4)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 101L), (5L, 105L))
    val hashes = Multimodal.imageDHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    java.lang.Long.bitCount(hashes(1L) ^ hashes(101L)) should be <= 4
    // distinct patterns sit far apart in hamming space (noise fields)
    java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)) should be > 10
  }

  "Multimodal.audioNearDups" should "pair perturbed clips and separate distinct waveforms" in {
    val spec = ((1L to 20L).map(i => (i, i, 40 + i.toInt, false)) ++
      Seq((101L, 1L, 41, true), (105L, 5L, 45, true)))
      .toDF("doc_id", "pattern_id", "n", "perturb")
    val media = Multimodal.asPatternedWavMediaTable(spec)
    val pairs = Multimodal.audioNearDups(media, maxHamming = 4)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 101L), (5L, 105L))
    val hashes = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    java.lang.Long.bitCount(hashes(1L) ^ hashes(101L)) should be <= 4
    java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)) should be > 10
  }

  "Multimodal.videoNearDups" should "pair perturbed sequences and separate distinct ones" in {
    val spec = ((1L to 12L).map(i => (i, i, 40 + i.toInt, false)) ++
      Seq((101L, 1L, 41, true), (105L, 5L, 45, true)))
      .toDF("doc_id", "pattern_id", "n", "perturb")
    val media = Multimodal.asPatternedGifMediaTable(spec)
    val pairs = Multimodal.videoNearDups(media, maxHamming = 4)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 101L), (5L, 105L))
    val hashes = Multimodal.videoFingerprint(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    java.lang.Long.bitCount(hashes(1L) ^ hashes(101L)) should be <= 4
    java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)) should be > 10
  }

  "Multimodal.sampleFrames" should "keep every stride-th fixed-size frame" in {
    val media = Multimodal.asMediaTable(Seq((1L, "a" * 300)).toDF("doc_id", "text"))
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, stride = 2).collect()
    frames.length shouldBe 3 // offsets 0,128,256
  }

  "Multimodal.resizeStub" should "shrink payload and metadata dims by the factor" in {
    val media = Multimodal.asMediaTable(Seq((1L, "abcdefgh")).toDF("doc_id", "text"))
    val r = Multimodal.resizeStub(media, factor = 2).head()
    r.getAs[Array[Byte]](1).length shouldBe 4
    r.getAs[Array[Byte]](1) shouldBe "aceg".getBytes("UTF-8")
  }

  "Multimodal PNG codec" should "round-trip dimensions and pixels exactly" in {
    val png = Multimodal.encodePng(13, 7, 200)
    // real PNG bytes, not a fake: magic header present
    png.take(4) shouldBe Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
    Multimodal.decodeImage(png) shouldBe ((13, 7, 200.0))
  }

  it should "extract oracle-computable features from real PNG payloads" in {
    val media = Multimodal.asPngMediaTable(docs)
    media.schema("payload").dataType.typeName shouldBe "binary"
    val f = Multimodal.extractImageFeatures(media).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    val n = "the quick brown fox jumps".length
    f(1L) shouldBe ((4 + n % 29, 3 + n % 17, 1000000L))
    f(2L) shouldBe ((4 + n % 29, 3 + n % 17, 2000000L)) // same text, other doc_id fill
  }

  "Multimodal WAV codec" should "round-trip the PCM stream sample-exactly through a real RIFF file" in {
    val samples = Array.tabulate(100)(i => ((i * 37) % 2048 - 1024).toShort)
    val wav = Multimodal.encodeWav(16000, samples)
    new String(wav.take(4), "US-ASCII") shouldBe "RIFF" // real WAV container
    new String(wav.slice(8, 12), "US-ASCII") shouldBe "WAVE"
    val (rate, ch, n, sumSq) = Multimodal.decodeWav(wav)
    (rate, ch, n) shouldBe ((16000, 1, 100L))
    sumSq shouldBe samples.map(s => s.toLong * s.toLong).sum
    // corrupt payload fails loudly, not silently
    an[Exception] should be thrownBy Multimodal.decodeWav("not audio".getBytes)
  }

  "Multimodal.extractAllFeatures" should "dispatch per media_type and fail loudly on unknown types" in {
    import org.apache.spark.sql.Row
    val media = Multimodal.asPngMediaTable(Seq((3L, "abcdef")).toDF("doc_id", "text"))
      .unionByName(Multimodal.asWavMediaTable(Seq((4L, "x")).toDF("doc_id", "text").select(col("doc_id"))))
      .unionByName(Multimodal.asGifMediaTable(Seq((5L, "y")).toDF("doc_id", "text").select(col("doc_id"))))
    val got = Multimodal.extractAllFeatures(media).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    got(3L) shouldBe (("image/png", (4 + 6 % 29).toLong * (3 + 6 % 17), 3000000L))
    got(4L) shouldBe (("audio/wav", 804L, 804L * 1000000L / 12000L))
    val expGifLuma = (0 until 2 + 5 % 4).map(i => ((5L * 16 + i * 8) % 256) * 1000000L).sum
    got(5L) shouldBe (("image/gif", (2 + 5 % 4).toLong, expGifLuma))
    val bad = Multimodal.transformBatches(
      Seq((9L, "text/plain", Array[Byte](1, 2))).toDF("doc_id", "media_type", "payload"),
      Multimodal.unifiedFeatureSchema)(identity)
    an[Exception] should be thrownBy
      Multimodal.extractAllFeatures(bad.toDF()).collect()
  }

  "Multimodal GIF codec" should "round-trip frame count, dims, and per-frame luma through a real animated GIF" in {
    val gif = Multimodal.encodeGif(10, 5, Seq(0, 128, 255))
    new String(gif.take(3), "US-ASCII") shouldBe "GIF" // real container magic
    val (w, h, lumas) = Multimodal.decodeGifFrames(gif)
    (w, h) shouldBe ((10, 5))
    lumas shouldBe Seq(0L, 128000000L, 255000000L)
    an[Exception] should be thrownBy Multimodal.decodeGifFrames("not video".getBytes)
  }

  it should "resize decoded images by the factor and re-encode losslessly" in {
    val media = Multimodal.asPngMediaTable(Seq((9L, "x" * 24)).toDF("doc_id", "text"))
    val r = Multimodal.resizeImages(media, factor = 2).head()
    val (w0, h0) = (4 + 24 % 29, 3 + 24 % 17)
    (r.getInt(2), r.getInt(3)) shouldBe ((w0 / 2, h0 / 2))
    // solid-gray input stays solid-gray through a smooth rescale
    val (w, h, luma) = Multimodal.decodeImage(r.getAs[Array[Byte]](1))
    (w, h) shouldBe ((w0 / 2, h0 / 2))
    luma shouldBe (9 % 256).toDouble
  }

  "Multimodal.transformBatches" should "run arbitrary per-partition row transforms" in {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = Seq((1L, "ab"), (2L, "xyz")).toDF("id", "s")
    val out = Multimodal.transformBatches(df,
      StructType(Seq(StructField("id", LongType), StructField("len", IntegerType)))) {
      rows => rows.map(r => Row(r.getLong(0), r.getString(1).length))
    }
    out.collect().map(r => (r.getLong(0), r.getInt(1))).sorted shouldBe
      Array((1L, 2), (2L, 3))
  }

  "RichDataset.toBag" should "wrap a Dataset as a DataBag" in {
    import graft.api._
    Seq(1, 2, 3).toDS().toBag.sum shouldBe 6
  }

  "TextAnalysis.repetitionSignals" should "score duplicated n-gram mass" in {
    val d = Seq(
      (1L, "a b a b a b"),   // 2-grams: [a b, b a, a b, b a, a b] -> top=3/5, dup=5/5
      (2L, "w x y z"),       // 3 unique 2-grams -> top=1/3, dup=0.0
      (3L, "solo")           // too short for any gram -> 0.0 (via left join)
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(d).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2), x.getDouble(3)))).toMap
    r(1L) shouldBe ((0.6, 1.0, 1.0))
    r(2L) shouldBe ((0.3333, 0.0, 0.0))
    r(3L) shouldBe ((0.0, 0.0, 0.0))
  }

  "TextAnalysis.bigramLogProb" should "match the hand-computed add-1 bigram model" in {
    // tokens: a×3, b×3, solo×1 -> V=3. bigrams: doc1 (a,b)×2 (b,a)×1; doc2 (a,b)×1
    // => c2(a,b)=3, c2(b,a)=1; c1(a)=3, c1(b)=3.
    // lp(a,b)=ln((3+1)/(3+3))=ln(4/6); lp(b,a)=ln((1+1)/(3+3))=ln(2/6)
    val d = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLogProb(d).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    def mic(x: Double) = math.floor(math.log(x) * 1e6 + 0.5).toLong
    r(1L) shouldBe ((3L, 2 * mic(4.0 / 6) + mic(2.0 / 6)))
    r(2L) shouldBe ((1L, mic(4.0 / 6)))
    r(3L) shouldBe ((0L, 0L)) // no bigram -> zero row survives via left join
  }

  "Packing.chunkByTokens" should "cover every token with stride overlap and exact bounds" in {
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "x"), (3L, ""))
      .toDF("doc_id", "text")
    val r = Packing.chunkByTokens(d, chunkTokens = 4, overlap = 1).collect()
      .map(x => (x.getLong(0), x.getInt(1)) -> ((x.getInt(2), x.getString(3)))).toMap
    // doc1: starts 0,3,6,9 (stride 3) over 10 tokens
    r((1L, 0)) shouldBe ((4, "t1 t2 t3 t4"))
    r((1L, 1)) shouldBe ((4, "t4 t5 t6 t7"))
    r((1L, 2)) shouldBe ((4, "t7 t8 t9 t10"))
    r((1L, 3)) shouldBe ((1, "t10"))
    r((2L, 0)) shouldBe ((1, "x"))
    r.keys.count(_._1 == 3L) shouldBe 0 // empty text -> no chunks
    r.size shouldBe 5
  }

  it should "reconstruct the token stream from chunk prefixes (property over random docs)" in {
    val rnd = new scala.util.Random(17)
    val docs = (1 to 30).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(s"w${rnd.nextInt(9)}").mkString(" "))
    }
    val (ck, ov) = (7, 3)
    val stride = ck - ov
    val chunks = Packing.chunkByTokens(docs.toDF("doc_id", "text"), chunkTokens = ck, overlap = ov)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for ((id, text) <- docs) {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val rebuilt = chunks.getOrElse(id, Seq.empty) match {
        case Seq() => Seq.empty
        case cs => cs.init.flatMap(_.split(" ").take(stride)) ++ cs.last.split(" ")
      }
      rebuilt shouldBe toks // stride prefixes + full last chunk = original stream
    }
  }

  "Curation.contamination" should "measure eval-set shingle overlap" in {
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),  // shares 2 of 3 shingles with eval
      (2L, "completely different text entirely here"),
      (3L, "hi")                          // too short for a 3-gram
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "the quick brown fox leaps")).toDF("doc_id", "text")
    val r = Curation.contamination(corpus, eval_).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    r(1L) shouldBe ((3L, 0.6667))
    r(2L) shouldBe ((3L, 0.0))
    r(3L) shouldBe ((0L, 0.0))
  }

  "round-4 curation ops" should "plan with the intended scale shapes" in {
    val corpus = (1L to 200L).map(i => (i, s"tok${i % 9} tok${i % 7} tok${i % 5} tok$i"))
      .toDF("doc_id", "text")
    // contamination: eval shingles broadcast — the corpus side must not
    // shuffle for the hit count
    val contamPlan = Curation.contamination(corpus, corpus.limit(10))
      .queryExecution.executedPlan.toString
    contamPlan should include("BroadcastHashJoin")
    // domain mix: fraction map broadcast back, no cartesian anywhere
    val mixed = Sampling.domainMix(
      corpus.withColumn("dom", concat(lit("d"), col("doc_id") % 3)),
      "dom", col("doc_id"), Map("d0" -> 0.5, "d1" -> 0.5), 50L)
    val mixPlan = mixed.queryExecution.executedPlan.toString
    mixPlan should include("BroadcastHashJoin")
    mixPlan should not include "CartesianProduct"
    // banded jaccard: equi-join (sort-merge or hash), never a nested loop
    val jacPlan = Dedup.ngramJaccard(corpus, maxIdGap = 5)
      .queryExecution.executedPlan.toString
    jacPlan should not include "BroadcastNestedLoop"
    jacPlan should not include "CartesianProduct"
    // scrubPii is pure projection: no hash shuffle (Par.spread may add a
    // round-robin exchange on small inputs — that's the adaptivity helper,
    // not the operator)
    val piiPlan = TextAnalysis.scrubPii(corpus).queryExecution.executedPlan.toString
    piiPlan should not include "Exchange hashpartitioning"
  }

  "Prefilter.bloomSemiReduce" should "never drop a true match and prune most non-matches" in {
    val big = (1L to 5000L).map(i => (i, i % 17)).toDF("k", "v")
    val small = (1L to 50L).map(i => i * 100L).toDF("sk")
    val reduced = Prefilter.bloomSemiReduce(big, col("k"), small, col("sk"),
      expectedItems = 50L, fpp = 0.01)
    val kept = reduced.select("k").as[Long].collect().toSet
    // superset of the exact semi-join...
    (1L to 50L).map(_ * 100L).toSet.subsetOf(kept) shouldBe true
    // ...and a real reduction (50 true + ~1% false positives of 5000)
    kept.size should be < 300
    // the real join over the reduced side equals the join over the full side
    val full = big.join(small, col("k") === col("sk")).count()
    reduced.join(small, col("k") === col("sk")).count() shouldBe full
    // the probe is the native codegen expression, not a closure UDF
    // breaking whole-stage codegen on the big side's scan (assert over a
    // Range input — a LocalRelation would constant-fold the filter away)
    val bigRange = spark.range(1, 5001).toDF("k")
    val plan = Prefilter.bloomSemiReduce(bigRange, col("k"), small, col("sk"),
      expectedItems = 50L, fpp = 0.01).queryExecution.executedPlan.toString
    plan should include("might_contain")
    plan should not include "UDF"
    plan should not include "BatchEvalPython"
  }

  it should "honor sizes past Spark's runtime-bloom-filter caps (no silent clamp)" in {
    // BloomFilterAggregate clamps its size to the session's
    // maxNumItems (4M) / maxNumBits (64Mi) — at 8M actual keys a clamped
    // filter's false-positive rate degrades toward ~50%, silently voiding
    // the fpp contract; bloomOf must raise the caps for the build job
    val caps = Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    val before = caps.map(spark.conf.getOption)
    val keys = spark.range(0, 8000000).toDF("sk")
    val probe = Prefilter.bloomOf(keys, col("sk"), expectedItems = 8000000L, fpp = 0.01)
    // ...on its own session clone: the caller's caps never change (a
    // reader running during the build: SessionIsolationSpec)
    caps.map(spark.conf.getOption) shouldBe before
    val nonMembers = spark.range(8000000, 8005000).toDF("k")
    val fps = nonMembers.where(probe(col("k"))).count()
    fps.toDouble / 5000 should be < 0.05 // requested 0.01; clamped would be ~0.5
  }

  "Packing.packByTokens" should "cut packs at token boundaries within buckets" in {
    // single bucket, docs of 1000 tokens each, target 2048:
    // exclusive prefix sums 0,1000,2000,3000,4000 -> packs 0,0,0,1,1
    val d = (1L to 5L).map(i => (i, 1000L)).toDF("doc_id", "nt")
    val packs = Packing.packByTokens(d, col("doc_id"), col("nt"),
      targetTokens = 2048L, numBuckets = 1)
      .select("doc_id", "pack").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    packs shouldBe Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L)
    // every doc lands in exactly one pack; pack overrun bounded by one doc
    val big = (1L to 200L).map(i => (i, (i % 37) + 1)).toDF("doc_id", "nt")
    val out = Packing.packByTokens(big, col("doc_id"), col("nt"), 64L, 4)
    out.count() shouldBe 200
    val sums = out.groupBy("bucket", "pack")
      .agg(sum("n_tokens").as("s")).collect().map(_.getLong(2))
    all(sums) should be <= (64L + 37L)
  }

  "Layout.zorderValue" should "interleave bits and cluster into disjoint z ranges" in {
    // x=3 (011), y=5 (101), 3 bits: z bits [x0 y0 x1 y1 x2 y2] = 1 1 1 0 0 1 -> 39
    val one = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zorderValue(Seq(col("x"), col("y")), 3)).head().getLong(0)
    one shouldBe 39L
    // zorderBy: range partitions carry disjoint z intervals (the file-pruning
    // property a z-ordered write relies on)
    val pts = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)).toDF("x", "y")
    val parts = Layout.zorderBy(pts, Seq(col("x"), col("y")), 5, 8)
      .select(spark_partition_id().as("p"),
        Layout.zorderValue(Seq(col("x"), col("y")), 5).as("z"))
      .groupBy("p").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    parts.length should be > 1
    parts.sliding(2).foreach { case Array((_, hi1), (lo2, _)) => lo2 should be > hi1 }
  }

  "Layout.writePartitioned" should "prune non-matching partitions at planning time" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_spec").toString
    val df = (1L to 100L).map(i => (i, if (i % 4 == 0) "keep" else s"drop${i % 4}"))
      .toDF("id", "kind")
    Layout.writePartitioned(df, dir, Seq("kind"))
    val pruned = spark.read.parquet(dir).where(col("kind") === "keep")
    pruned.count() shouldBe 25
    // the partition filter must resolve against directory names, not data:
    // PartitionFilters carries the predicate and only one partition survives
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    scan.partitionFilters.map(_.sql).mkString(" ") should include ("kind")
    scan.dataFilters shouldBe empty
    scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .length shouldBe 1 // of 4 partition dirs, only "keep" survives pruning
  }

  "Similarity.quantizeInt8" should "absmax-scale into [-127, 127] and keep zeros" in {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(df).select("vec_id", "qvec").collect()
      .map(x => x.getLong(0) -> x.getSeq[Int](1)).toMap
    // absmax=1.0: 0.5*127+0.5 floor = 64 (63.5+0.5), -127, 32 (31.75+0.5=32.25)
    r(1L) shouldBe Seq(64, -127, 32)
    r(2L) shouldBe Seq(0, 0, 0)
  }

  "TextAnalysis.scrubPii" should "redact emails, IPs, and phone numbers with typed tokens" in {
    val d = Seq(
      (1L, "mail me at jo.doe+x@corp.example.com or call +1 (555) 123-4567"),
      (2L, "server 192.168.0.1 and 10.0.0.255 are up"),
      (3L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.scrubPii(d).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    r(1L) shouldBe (("mail me at <EMAIL> or call <PHONE>", 1L, 0L, 1L))
    r(2L) shouldBe (("server <IP> and <IP> are up", 0L, 2L, 0L))
    r(3L) shouldBe (("nothing sensitive here", 0L, 0L, 0L))
  }

  "Sampling.domainMix" should "keep targeted domains at their computed fractions, deterministically" in {
    val df = (1L to 400L).map(i => (i, if (i <= 200) "a" else "b"))
      .toDF("id", "dom")
    // a: w=0.5, total=100 -> f=0.25 of 200 rows; b: w=2.0 -> f=1.0 (all 200)
    val out = Sampling.domainMix(df, "dom", col("id"),
      Map("a" -> 0.5, "b" -> 2.0), 100L)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1)))
    rows.count(_._2 == "b") shouldBe 200      // f >= 1 keeps every row
    val aCount = rows.count(_._2 == "a")
    aCount should (be > 20 and be < 80)        // ~50 expected at f=0.25
    // untargeted domains are dropped, and the draw is deterministic
    Sampling.domainMix(df, "dom", col("id"), Map("a" -> 0.5), 100L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      rows.filter(_._2 == "a").toSet
  }

  "Sampling.temperatureMix" should "upweight low-resource domains toward sqrt shares" in {
    // a: 900 rows, b: 100 rows -> tempered weights 30/(30+10)=0.75, 0.25;
    // target 200 -> f_a = 0.75*200/900 = 1/6, f_b = 0.25*200/100 = 0.5:
    // b keeps 3x the FRACTION a does despite being 9x smaller
    val df = (1L to 1000L).map(i => (i, if (i <= 900) "a" else "b"))
      .toDF("id", "dom")
    val out = Sampling.temperatureMix(df, "dom", col("id"), 0.5, 200L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val aN = out.count(_._2 == "a").toDouble // ~150 expected
    val bN = out.count(_._2 == "b").toDouble // ~50 expected
    aN should (be > 110.0 and be < 190.0)
    bN should (be > 30.0 and be < 70.0)
    // alpha = 1 reproduces the natural distribution scaled to the target
    val nat = Sampling.temperatureMix(df, "dom", col("id"), 1.0, 200L)
      .collect().map(r => r.getString(1))
    nat.count(_ == "a").toDouble / nat.length should (be > 0.8 and be < 0.97)
    // deterministic: same inputs, same rows
    Sampling.temperatureMix(df, "dom", col("id"), 0.5, 200L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe out.toSet
  }

  "Curation.contaminationMatrix" should "screen several benchmarks in one pass" in {
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),  // overlaps ev1 (2 of 3 shingles)
      (2L, "alpha beta gamma delta"),     // overlaps ev2 (1 of 2 shingles)
      (3L, "completely different text entirely here")
    ).toDF("doc_id", "text")
    val ev1 = Seq((100L, "the quick brown fox leaps")).toDF("doc_id", "text")
    val ev2 = Seq((200L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val r = Curation.contaminationMatrix(corpus, Seq("e1" -> ev1, "e2" -> ev2))
      .collect()
      .map(x => (x.getLong(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    r((1L, "e1")) shouldBe ((2L, 3L, 0.6667))
    r((2L, "e2")) shouldBe ((1L, 2L, 0.5))
    r.keySet shouldBe Set((1L, "e1"), (2L, "e2")) // only offenders reported
    // matches the single-benchmark op on the same eval set
    val single = Curation.contamination(corpus, ev1).where(col("n_shingles") > 0)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    val multi = Curation.contaminationMatrix(corpus, Seq("e1" -> ev1))
      .collect().map(x => x.getLong(0) -> x.getDouble(4)).toMap
    multi.foreach { case (id, f) => single(id) shouldBe f }
    // eval shingles broadcast: the corpus side joins map-side
    Curation.contaminationMatrix(corpus, Seq("e1" -> ev1, "e2" -> ev2))
      .queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  "Curation.corpusDiff" should "classify added, removed, and changed docs" in {
    val v1 = Seq((1L, "same text"), (2L, "old text"), (3L, "to be removed"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "same text"), (2L, "new text"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = Curation.corpusDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got shouldBe Map(2L -> "changed", 3L -> "removed", 4L -> "added")
    // identical snapshots diff to nothing
    Curation.corpusDiff(v1, v1).count() shouldBe 0L
    // null text is PRESENCE, not absence: md5(null) must not read as
    // "row missing" (a null-text doc present only in v1 is removed, and
    // null -> value is changed, not added)
    val n1 = Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text")
    val n2 = Seq((1L, "now filled")).toDF("doc_id", "text")
    Curation.corpusDiff(n1, n2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap shouldBe
      Map(1L -> "changed", 2L -> "removed")
  }

  "Sweep.concurrency" should "count open intervals with exclusive ends across bucket boundaries" in {
    // [0,10) [5,15) [10,20): at t=10 the first has CLOSED (end exclusive),
    // so conc=2 there, not 3; bucketUs=8 forces carry-in across buckets
    val iv = Seq((0L, 10L), (5L, 15L), (10L, 20L)).toDF("s", "e")
    val conc = Sweep.concurrency(iv, "s", "e", bucketUs = 8L)
      .where(col("delta") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    conc shouldBe Map(0L -> 1L, 5L -> 2L, 10L -> 2L)
  }

  it should "carry offsets across SUPER-bucket boundaries" in {
    // bucketUs=1 makes bucket == t, so these intervals span several
    // superFactor-sized super-buckets; the long interval must stay
    // counted in every later super-bucket's carry-in
    val sf = Sweep.superFactor
    val iv = Seq((0L, 3 * sf + 10L), (sf + 4L, sf + 9L), (2 * sf + 7L, 3 * sf))
      .toDF("s", "e")
    val conc = Sweep.concurrency(iv, "s", "e", bucketUs = 1L)
      .where(col("delta") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    conc shouldBe Map(0L -> 1L, (sf + 4L) -> 2L, (2 * sf + 7L) -> 2L)
  }

  "Curation.percentileCut" should "keep rows at or below the discrete per-group percentile" in {
    // group g: values 1..10 -> p90 cut at cume_dist>=0.9 is 9 (9/10=0.9);
    // group h: all equal values -> cume_dist=1 for every row, all kept
    val df = ((1 to 10).map(i => ("g", i.toLong)) ++ Seq.fill(4)(("h", 5L)))
      .toDF("src", "v")
    val out = Curation.percentileCut(df, "src", "v", 0.9)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.filter(_._1 == "g").map(_._2).sorted shouldBe (1L to 9L)
    out.filter(_._1 == "g").map(_._3).distinct shouldBe Array(9L)
    out.count(_._1 == "h") shouldBe 4
  }

  "Resample.resampleFfill" should "grid, forward-fill gaps, and break ties by the latest observation" in {
    // key a: ticks 0 (two obs, same ts -> tie on id), 1, gap at 2-3, obs at 4
    // key b: single observation -> single-tick grid
    val ev = Seq(
      ("a", 5L, 1.0, 1L), ("a", 5L, 2.0, 2L),   // tick 0: id 2 wins
      ("a", 19L, 3.0, 3L),                       // tick 1
      ("a", 45L, 9.0, 4L),                       // tick 4
      ("b", 23L, 7.0, 5L)                        // tick 2 only
    ).toDF("k", "t_us", "v", "id")
    val out = Resample.resampleFfill(ev, "k", "t_us", "v", "id", stepUs = 10L)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    out shouldBe Map(
      ("a", 0L) -> 2.0, ("a", 1L) -> 3.0,
      ("a", 2L) -> 3.0, ("a", 3L) -> 3.0,       // forward fill across the gap
      ("a", 4L) -> 9.0,
      ("b", 2L) -> 7.0)
  }

  "Curation.incrementalNearDups" should "equal global near-dups restricted to new-vs-corpus pairs" in {
    // corpus: 1-4; new batch: 11-12 (11 near-dups doc 1, 12 is novel)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "how vexingly quick daft zebras jump today"),
      (4L, "sphinx of black quartz judge my vow now")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (11L, "the quick brown fox jumps over the lazy cat"),
      (12L, "completely unrelated words appear in this sentence")
    ).toDF("doc_id", "text")
    val idx = Dedup.lshBands(corpus)
    val got = Curation.incrementalNearDups(corpus, idx, fresh, minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // oracle: the GLOBAL pipeline over corpus ∪ batch, keeping only pairs
    // that cross the batch/corpus boundary (either orientation)
    val global = Curation.nearDuplicates(corpus.unionByName(fresh), minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (a > 10 && b <= 10) Some((a, b, j))
        else if (b > 10 && a <= 10) Some((b, a, j)) else None
      }.toSet
    got shouldBe global
    got.map(_._1) should contain(11L) // the near-dup was caught
    got.map(_._1) should not contain 12L
  }

  "Curation.probeIndexed + extendIndex" should "catch cross-batch dups after the index advances" in {
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val a = Seq((11L, "the quick brown fox jumps over the lazy cat"))
      .toDF("doc_id", "text")
    val b = Seq((21L, "the quick brown fox jumps over the lazy cats"))
      .toDF("doc_id", "text")
    val idx0 = Dedup.lshBands(corpus)
    val st0 = Dedup.hashedShingles(corpus)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probeIndexed over the store ≡ incrementalNearDups over the corpus text
    pairs(Curation.probeIndexed(idx0, st0, a, minJaccard = 0.1)) shouldBe
      pairs(Curation.incrementalNearDups(corpus, idx0, a, minJaccard = 0.1))
    // before extension, B only sees the corpus; after, it also sees A
    val beforeExt = pairs(Curation.probeIndexed(idx0, st0, b, minJaccard = 0.1))
    beforeExt.map(_._2) should not contain 11L
    val (idx1, st1) = Curation.extendIndex(idx0, st0, a)
    val afterExt = pairs(Curation.probeIndexed(idx1, st1, b, minJaccard = 0.1))
    afterExt should contain((21L, 11L)) // the A-dup is now caught
    (afterExt -- beforeExt).map(_._2) shouldBe Set(11L) // and nothing else changed
    // the FUSED ingest step (one signature pass per batch) is pair- and
    // artifact-equivalent to the probeIndexed + extendIndex pair
    val (pA, idxF, stF) = Curation.ingestBatch(idx0, st0, a, minJaccard = 0.1)
    pairs(pA) shouldBe pairs(Curation.probeIndexed(idx0, st0, a, minJaccard = 0.1))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted
    rows(idxF) shouldBe rows(idx1)
    rows(stF) shouldBe rows(st1)
    val (pB, _, _) = Curation.ingestBatch(idxF, stF, b, minJaccard = 0.1)
    pairs(pB) shouldBe afterExt
  }

  "TextAnalysis.duplicatedSpans" should "agree with a sequential oracle on seeded random corpora" in {
    def seqSpans(corpus: Seq[(Long, String)], n: Int, minDocs: Int): Set[(Long, Long, Long, Long)] = {
      val posSh = corpus.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).sliding(n).filter(_.length == n)
          .map(_.mkString(" ")).toVector
      }
      val df = posSh.flatMap { case (id, sh) => sh.distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      posSh.flatMap { case (id, sh) =>
        val hotPos = sh.zipWithIndex.collect { case (s, i) if df(s) >= minDocs => i }
        // group consecutive positions into islands
        hotPos.foldLeft(List.empty[List[Int]]) {
          case (acc @ (cur :: rest), p) if cur.head == p - 1 => (p :: cur) :: rest
          case (acc, p) => List(p) :: acc
        }.map(run => (id, run.last.toLong, run.head.toLong + n, run.length.toLong))
      }.toSet
    }
    val words = Array("a", "b", "c", "d")
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed * 7)
      val corpus = (1L to 8L).map(id =>
        id -> Seq.fill(rnd.nextInt(12) + 4)(words(rnd.nextInt(words.length))).mkString(" "))
      val docs = corpus.toDF("doc_id", "text")
      val got = TextAnalysis.duplicatedSpans(docs, n = 3, minDocs = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      withClue(s"seed=$seed: ") { got shouldBe seqSpans(corpus, 3, 2) }
    }
  }

  it should "merge corpus-hot shingle runs into maximal spans" in {
    // "a b c d" (positions 0-1: shingles "a b c","b c d") is shared by docs
    // 1 and 2; doc 1 additionally repeats "x y z w" with doc 3 at its tail.
    // Doc 1 tokens: a b c d q q q x y z w  -> hot shingle positions 0,1
    // (run [0,4)) and 7,8 (run [7,11)); the q-run is unique to doc 1.
    val docs = Seq(
      (1L, "a b c d q q q x y z w"),
      (2L, "p p a b c d r r"),
      (3L, "x y z w s s s")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.duplicatedSpans(docs, n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    got shouldBe Set(
      (1L, 0L, 4L, 2L),   // "a b c d"
      (1L, 7L, 11L, 2L),  // "x y z w"
      (2L, 2L, 6L, 2L),   // "a b c d" inside doc 2
      (3L, 0L, 4L, 2L))   // "x y z w" at doc 3's head
  }
}
