package graft.ops

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.{Dirs, OpenLogFs}
import graft.testlib.JobCount.countJobs

/** The persisted IVF index lifecycle ([[IvfCore.Lifecycle]]), run once per
  * payload: [[AnnIndexSpec]] (raw vectors) and [[PqIndexSpec]] (PQ codes)
  * each supply a corpus of four tight clusters (cluster = id % 4), a build
  * and a probe, plus the cases only their payload has.
  *
  * Shared cases: save/load round-trip, planning-time cell pruning, tombstones
  * and compaction, append/extend equality, id widening and refusal, the
  * refusal of record-less and legacy layouts, re-saving over tombstones, a
  * re-save that fails mid-write, the load/probe job ceilings and a build
  * re-published in place by another process. */
abstract class IvfIndexSpec[L <: IvfCore.Lifecycle](name: String, val lc: L)
    extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark

  /** A session on which appends and tombstone reads take the Spark path
    * (broadcast threshold -1); the shared session runs them on the driver. */
  private lazy val sparkOff: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Four tight clusters; cluster = id % 4. */
  protected def corpus(): DataFrame
  protected def build(c: DataFrame): lc.Index
  protected def probe(idx: lc.Index, qs: DataFrame, k: Int, nprobe: Int): DataFrame
  /** The relations a pre-`quant` save of this payload wrote its quantizers to. */
  protected def legacyLayout: Seq[String]

  private def withDir(prefix: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix).toString
    try body(dir)
    finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  private def scoredHits(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("qid", "did", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("qid", "did").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  private def quantSeq(q: IvfCore.Quantizers) =
    q.toSeq.sortBy(_._1).map { case (s, book) => (s, book.toSeq) }

  /** Each row's id, cell and a hash of the whole row. */
  private def rowHashes(idx: lc.Index): Seq[(Long, Int, Long)] = {
    val t = lc.rows(idx)
    t.select(col("did"), col("cell"), xxhash64(t.columns.map(col): _*)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
  }

  private def tableFiles(dir: String): Array[File] =
    new File(s"${Dirs.build(dir)}/${lc.table}").listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))

  s"$name save/load" should "reproduce the in-memory probe exactly" in {
    val c = corpus()
    val idx = build(c)
    withDir("graft_ivf") { dir =>
      lc.save(idx, dir)
      val loaded = lc.load(spark, dir)
      quantSeq(lc.quantizers(loaded)) shouldBe quantSeq(lc.quantizers(idx))
      val qs = c.where(col("vec_id") < 6)
      val direct = scoredHits(probe(idx, qs, 3, 2))
      scoredHits(probe(loaded, qs, 3, 2)) shouldBe direct
      direct.length shouldBe 18 // 6 queries x k=3
    }
  }

  it should "partition-prune the loaded probe scan to the probed cells" in {
    val c = corpus()
    withDir("graft_ivf") { dir =>
      lc.save(build(c), dir)
      val loaded = lc.load(spark, dir)
      // one query, nprobe=1 → exactly one probed cell of four
      val probed = probe(loaded, c.where(col("vec_id") === 0L), 3, 1)
      val plan = probed.queryExecution.executedPlan.toString
      // the probe-cell set lands in the scan's PartitionFilters (a single
      // cell folds the isin to an equality, several keep the IN)
      plan should include regex ("""PartitionFilters: \[isnotnull\(cell#\d+\), \(?cell#\d+ (= |IN \()""")
      // and it still finds vec 0's own tight cluster
      val hits = probed.select("did").collect().map(_.getLong(0))
      hits should not be empty
      all(hits.map(_ % 4)) shouldBe 0L
    }
  }

  s"$name.deleteSaved" should "tombstone vectors without rewriting assignments" in {
    val c = corpus()
    val idx = build(c)
    withDir("graft_ivf_del") { dir =>
      lc.save(idx, dir)
      val before = Dirs.snapshot(s"${Dirs.build(dir)}/${lc.table}")
      lc.deleteSaved(spark, dir, Seq(4L, 8L, 12L))
      // the table files are untouched — deletion is an append-only op
      Dirs.snapshot(s"${Dirs.build(dir)}/${lc.table}") shouldBe before
      val loaded = lc.load(spark, dir)
      lc.rows(loaded).count() shouldBe (c.count() - 3)
      lc.rows(loaded).where(col("did").isin(4L, 8L, 12L)).count() shouldBe 0L
      // probe equals the in-memory probe over the filtered table
      val qs = c.where(col("vec_id") < 6)
      pairs(probe(loaded, qs, 3, 2)) shouldBe pairs(probe(lc.index(lc.quantizers(idx),
        lc.rows(idx).where(!col("did").isin(4L, 8L, 12L))), qs, 3, 2))
      // deletes accumulate across calls
      lc.deleteSaved(spark, dir, Seq(16L))
      lc.rows(lc.load(spark, dir)).count() shouldBe (c.count() - 4)
      // compaction physically drops the tombstoned rows and clears the
      // deleted relation; the loaded view is unchanged
      lc.compactSaved(spark, dir)
      new File(s"${Dirs.build(dir)}/deleted").exists() shouldBe false
      spark.read.parquet(s"${Dirs.build(dir)}/${lc.table}")
        .where(col("did").isin(4L, 8L, 12L, 16L)).count() shouldBe 0L
      lc.rows(lc.load(spark, dir)).count() shouldBe (c.count() - 4)
    }
  }

  s"$name.save" should "not hide a re-saved id behind the replaced index's tombstones" in {
    val c = corpus()
    withDir("graft_ivf_resave") { dir =>
      lc.save(build(c), dir)
      lc.deleteSaved(spark, dir, Seq(9L))
      lc.rows(lc.load(spark, dir)).where(col("did") === 9L).count() shouldBe 0L
      // a fresh build holding id 9, saved into the same directory
      lc.save(build(c), dir)
      lc.rows(lc.load(spark, dir)).where(col("did") === 9L).count() shouldBe 1L
      lc.rows(lc.load(spark, dir)).count() shouldBe c.count()
    }
  }

  it should "leave the saved index readable when a re-save fails mid-write" in {
    val c = corpus()
    val (first, second) = (build(c), build(c.where(col("vec_id") >= 40)))
    withDir("graft_ivf_fault") { dir =>
      lc.save(first, dir)
      val saved = rowHashes(lc.load(spark, dir))
      // rows that throw on one id part-way through the table write
      val boom = udf((id: Long) =>
        if (id == 41L) throw new IllegalStateException("injected write fault") else id)
      intercept[Exception](lc.save(lc.index(lc.quantizers(second),
        lc.rows(second).withColumn("did", boom(col("did")))), dir))
      val loaded = lc.load(spark, dir)
      quantSeq(lc.quantizers(loaded)) shouldBe quantSeq(lc.quantizers(first))
      quantSeq(IvfCore.readQuantizers(spark, s"${Dirs.build(dir)}/quant")) shouldBe
        quantSeq(lc.quantizers(first))
      rowHashes(loaded) shouldBe saved
      // the next successful commit reaps the abandoned build with the old one
      lc.save(second, dir)
      Dirs.entries(dir) shouldBe Set("_schema.json", new File(Dirs.build(dir)).getName)
      quantSeq(lc.quantizers(lc.load(spark, dir))) shouldBe quantSeq(lc.quantizers(second))
      rowHashes(lc.load(spark, dir)) shouldBe rowHashes(second)
    }
  }

  s"$name.extend / appendSaved" should "equal a probe over the in-memory extension" in {
    val c = corpus()
    val old = c.where(col("vec_id") < 60)
    val batch = c.where(col("vec_id") >= 60)
    val idx = build(old)
    withDir("graft_ivf_ext") { dir =>
      lc.save(idx, dir)
      def dataFiles() = tableFiles(dir).map(f => f.getPath -> f.lastModified()).toMap
      val before = dataFiles()
      // a local batch is encoded and written on the driver (the
      // quantizers come from the driver's cache of this build): no job
      countJobs(lc.appendSaved(spark, dir, batch))._2.jobs shouldBe 0
      // the data files already saved are untouched (same path, same
      // mtime): an append only adds files to the touched cells
      val after = dataFiles()
      before.foreach { case (p, m) => after.get(p) shouldBe Some(m) }
      val loaded = lc.load(spark, dir)
      lc.rows(loaded).count() shouldBe c.count()
      val qs = c.where(col("vec_id") < 6)
      scoredHits(probe(loaded, qs, 3, 2)) shouldBe
        scoredHits(probe(lc.extend(idx, batch), qs, 3, 2))
      // batch vectors are findable: a batch vector queried against the
      // extended index must surface its own tight cluster
      val got = probe(loaded, c.where(col("vec_id") === 60L), 3, 1)
        .select("did").collect().map(_.getLong(0))
      all(got.map(_ % 4)) shouldBe 0L
    }
  }

  it should "append int ids into a bigint-id index as bigint, and refuse lossy id types" in {
    val c = corpus()
    def idTypes(dir: String) =
      tableFiles(dir).map(f => spark.read.parquet(f.getPath).schema("did").dataType).toSet
    withDir("graft_ivf_types") { dir =>
      lc.save(build(c.where(col("vec_id") < 60)), dir)
      lc.appendSaved(spark, dir, c.where(col("vec_id") >= 60)
        .select(col("vec_id").cast("int").as("vec_id"), col("embedding")))
      idTypes(dir) shouldBe Set(LongType)
      lc.rows(lc.load(spark, dir)).count() shouldBe c.count()
      // float/double ids could merge distinct bigint ids, and a string is
      // no widening at all: both refuse before a file is written
      val before = tableFiles(dir).map(_.getPath).toSet
      for (t <- Seq("double", "float", "string")) {
        val err = intercept[IllegalArgumentException](lc.appendSaved(spark, dir,
          c.where(col("vec_id") < 4).select(col("vec_id").cast(t).as("vec_id"), col("embedding"))))
        err.getMessage should include ("whose ids are BIGINT")
      }
      tableFiles(dir).map(_.getPath).toSet shouldBe before
      // without a record the index is refused before a file is written
      new File(s"$dir/_schema.json").delete() shouldBe true
      val noRecord = Dirs.snapshot(dir)
      intercept[IllegalStateException](lc.appendSaved(spark, dir, c.where(col("vec_id") < 8)
          .select((col("vec_id") + 5000L).cast("int").as("vec_id"), col("embedding"))))
        .getMessage should include ("rebuild and re-save the index")
      Dirs.snapshot(dir) shouldBe noRecord
      // an int-id index refuses bigint ids before writing anything
      val intDir = s"$dir/int_ids"
      val idx = build(c)
      lc.save(lc.index(lc.quantizers(idx),
        lc.rows(idx).withColumn("did", col("did").cast("int"))), intDir)
      val intBefore = Dirs.snapshot(intDir)
      val err = intercept[IllegalArgumentException](
        lc.appendSaved(spark, intDir, c.where(col("vec_id") < 4)))
      err.getMessage should include ("ids of type BIGINT")
      err.getMessage should include ("whose ids are INT")
      Dirs.snapshot(intDir) shouldBe intBefore
    }
  }

  s"$name load + probe" should "stay within its job ceiling" in {
    val c = corpus()
    withDir("graft_ivf_jobs") { dir =>
      val idx = build(c)
      lc.save(idx, s"$dir/warm") // warm call: plan/codegen caches out of the measurement
      // the quantizers are written on the driver: the table's write is
      // the only Spark work — one job fewer than the quantizer write job
      // it replaced (4 before)
      countJobs(lc.save(idx, s"$dir/index"))._2.jobs should be <= 3
      val index = s"$dir/index"
      // right after a save the driver holds the recorded build's
      // quantizers, and the table is read with its recorded schema: a load
      // is file opens and listings, no job — was 1 (the quantizer scan),
      // and 4 before the schema record
      countJobs(lc.load(spark, index))._2.jobs shouldBe 0
      // a tombstone is one file written on the driver (was 1 job)
      countJobs(lc.deleteSaved(spark, index, Seq(5L)))._2.jobs shouldBe 0
      val qs = c.where(col("vec_id") < 6)
      def loadProbe() = probe(lc.load(spark, index), qs, 3, 2).select("qid", "did").collect()
      loadProbe() // warm call
      // load + probe adds one query-side collect and the scoring jobs; the
      // tombstones are read on the driver and filtered by id, not
      // broadcast for an anti-join — was 6, 7 before that, and 11 (raw
      // vectors) and 13 (PQ codes) before that
      val (_, both) = countJobs(loadProbe())
      both.jobs should be <= 5
      // compaction is a save of the loaded index (was 4 jobs); it writes
      // the held quantizers through to its new build
      lc.compactSaved(spark, s"$dir/warm")
      countJobs(lc.compactSaved(spark, index))._2.jobs should be <= 3
      countJobs(lc.load(spark, index))._2.jobs shouldBe 0
    }
  }

  it should "refuse an index without a current record, writing no file" in {
    val c = corpus()
    withDir("graft_ivf_norecord") { dir =>
      lc.save(build(c), dir)
      lc.deleteSaved(spark, dir, Seq(1L, 8L))
      val record = new File(s"$dir/_schema.json").toPath
      def refused(): Unit = {
        val before = Dirs.snapshot(dir)
        val batch = c.where(col("vec_id") < 4)
        for (op <- Seq[() => Any](() => lc.load(spark, dir),
            () => lc.appendSaved(spark, dir, batch), () => lc.deleteSaved(spark, dir, Seq(2L)),
            () => lc.compactSaved(spark, dir)))
          intercept[IllegalStateException](op()).getMessage should include
            (s"rebuild and re-save the index with $name.save")
        Dirs.snapshot(dir) shouldBe before
      }
      // a record of the previous version, which named no build directory
      // (its stale checksum file goes, as a plain rewrite leaves none)
      Files.delete(new File(s"$dir/._schema.json.crc").toPath)
      Files.writeString(record, new String(Files.readAllBytes(record), "UTF-8")
        .replace("\"version\":3", "\"version\":2"))
      refused()
      // and no record at all
      Files.delete(record)
      refused()
    }
  }

  s"$name appends and tombstones" should "give the same index on the driver and on Spark, touching only the batch's cells" in {
    OpenLogFs.install(spark)
    val c = corpus()
    withDir("graft_ivf_paths") { root =>
      // the batch is a small Parquet scan, as an ingest batch would be
      c.where(col("vec_id") >= 60).write.parquet(s"$root/batch")
      val idx = build(c.where(col("vec_id") < 60))
      def run(s: SparkSession, dir: String) = {
        lc.save(idx, dir)
        val before = tableFiles(dir).map(_.getPath).toSet
        val batch = s.read.parquet(s"$root/batch") // its schema inference is not the append's
        val (_, appended) = countJobs(lc.appendSaved(s, s"openlog://$dir", batch))
        val added = tableFiles(dir).filterNot(f => before(f.getPath))
          .map(_.getParentFile.getName).toSeq
        val (_, deleted) = countJobs(lc.deleteSaved(s, dir, Seq(3L, 61L, 62L)))
        val (loaded, opened) = OpenLogFs.during(lc.load(s, s"openlog://$dir"))
        (rowHashes(loaded), added, appended.jobs, deleted.jobs,
          opened.filter(_.endsWith(".parquet")))
      }
      val (driver, onSpark) = (run(spark, s"$root/driver"), run(sparkOff, s"$root/spark"))
      driver._1 shouldBe onSpark._1
      driver._1.map(_._1).toSet shouldBe (0L until c.count()).toSet -- Seq(3L, 61L, 62L)
      // one file per touched cell, and no file elsewhere
      val touched = driver._1.filter(_._1 >= 60).map(r => s"cell=${r._2}")
      driver._2.sorted shouldBe touched.distinct.sorted
      // the batch scan's collect is the append's only job; a tombstone is
      // one file written on the driver
      driver._3 should be <= 1
      driver._4 shouldBe 0
      onSpark._3 should be <= 2
      // the driver's load reads only the tombstone file (quantizers cached)
      driver._5.size shouldBe 1
      all(driver._5.toSeq) should include (s"/${new File(Dirs.build(s"$root/driver")).getName}/deleted/")
    }
  }

  s"$name.load" should "return the quantizers of a build another process re-published in place" in {
    val c = corpus()
    val (first, second) = (build(c), build(c.where(col("vec_id") >= 40)))
    quantSeq(lc.quantizers(second)) should not be quantSeq(lc.quantizers(first))
    withDir("graft_ivf_rebuilt") { dir =>
      lc.save(first, dir)
      quantSeq(lc.quantizers(lc.load(spark, dir))) shouldBe quantSeq(lc.quantizers(first))
      // another process saves a new build over the index: new quantizers,
      // table and record, under a new build id
      withDir("graft_ivf_other") { other =>
        lc.save(second, other)
        Dirs.replaceContents(other, dir)
      }
      val loaded = lc.load(spark, dir)
      quantSeq(lc.quantizers(loaded)) shouldBe quantSeq(lc.quantizers(second))
      lc.rows(loaded).count() shouldBe c.where(col("vec_id") >= 40).count()
    }
  }

  s"$name.load" should s"refuse the legacy ${legacyLayout.mkString("+")} layout with the rebuild message, writing no file" in {
    withDir("graft_ivf_old") { dir =>
      lc.save(build(corpus()), dir)
      // the old layout: the table and the quantizers, under their old
      // relation names, directly in the index directory; no record
      val b = new File(Dirs.build(dir))
      Files.move(new File(b, lc.table).toPath, new File(s"$dir/${lc.table}").toPath)
      val quant = new File(b, "quant").toPath
      legacyLayout.foreach { rel =>
        val to = new File(s"$dir/$rel").toPath
        Files.createDirectory(to)
        quant.toFile.listFiles().foreach(f => Files.copy(f.toPath, to.resolve(f.getName)))
      }
      quant.toFile.listFiles().foreach(_.delete())
      Files.delete(quant)
      Files.delete(b.toPath)
      Files.delete(new File(s"$dir/_schema.json").toPath)
      val before = Dirs.snapshot(dir)
      val err = intercept[IllegalStateException](lc.load(spark, dir))
      err.getMessage should include ("rebuild and re-save the index")
      intercept[IllegalStateException](
        lc.appendSaved(spark, dir, corpus().where(col("vec_id") < 4)))
      Dirs.snapshot(dir) shouldBe before
    }
  }
}

class AnnIndexSpec extends IvfIndexSpec[AnnIndex.type]("AnnIndex", AnnIndex) {
  import spark.implicits._

  // four tight clusters around orthogonal axes in R^4
  protected def corpus(): DataFrame = {
    val rnd = new scala.util.Random(42)
    val base = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    (0 until 80).map { i =>
      val b = base(i % 4)
      (i.toLong, b.map(x => x + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
  }
  protected def build(c: DataFrame): AnnIndex.Ivf = AnnIndex.buildIvf(c, nlist = 4, maxIter = 6)
  protected def probe(idx: AnnIndex.Ivf, qs: DataFrame, k: Int, nprobe: Int): DataFrame =
    AnnIndex.probe(idx, qs, k = k, nprobe = nprobe)
  protected def legacyLayout: Seq[String] = Seq("centroids")

  "AnnIndex save/load" should "not let a zero-norm corpus vector (sim NaN) steal top-k slots" in {
    val withZero = corpus().unionByName(
      Seq((999L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val idx = build(withZero)
    val hits = AnnIndex.probe(idx, withZero.where(col("vec_id") < 8), k = 3, nprobe = 4)
      .select("did").collect().map(_.getLong(0))
    hits should not contain 999L
  }

  "KMeans train-set cap" should "keep probe recall under sampled training" in {
    val c = corpus()
    // trainCap forces the deterministic id-hash sample (~half the corpus);
    // ASSIGNMENT still covers all 80 vectors — the 100-TB contract: train
    // on a bounded sample, assign everything
    val idx = AnnIndex.buildIvf(c, nlist = 4, maxIter = 6, trainCap = 40)
    idx.assigned.count() shouldBe 80
    val qs = c.where(col("vec_id") < 8)
    val got = AnnIndex.probe(idx, qs, k = 3, nprobe = 1)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.cosineTopK(c, qs, k = 3)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(brute).size.toDouble / brute.size
    recall should be >= 0.9
    // deterministic: an identical second build trains on the same sample
    val idx2 = AnnIndex.buildIvf(c, nlist = 4, maxIter = 6, trainCap = 40)
    idx2.centroids.map(_._2) shouldBe idx.centroids.map(_._2)
  }

  "AnnIndex.probe" should "match brute force on tightly clustered data" in {
    val c = corpus()
    val idx = build(c)
    val qs = c.where(col("vec_id") < 8)
    val got = AnnIndex.probe(idx, qs, k = 3, nprobe = 1)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.cosineTopK(c, qs, k = 3)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // clusters are well-separated: even nprobe=1 recalls everything
    got shouldBe brute
  }
}

class PqIndexSpec extends IvfIndexSpec[PqIndex.type]("PqIndex", PqIndex) {
  import spark.implicits._

  // 4 tight 16-dim clusters (id % 4), deterministic wobble
  protected def corpus(): DataFrame = (0L until 96L).map { id =>
    val c = (id % 4).toInt
    val base = Array.tabulate(16)(j => if (j % 4 == c) 10.0f else 1.0f)
    val wobble = Array.tabulate(16)(j => ((id * 17 + j * 5) % 11).toFloat / 23f)
    (id, base.zip(wobble).map { case (b, w) => b + w }.toSeq)
  }.toDF("vec_id", "embedding")
  protected def build(c: DataFrame): PqIndex.IvfPq =
    PqIndex.build(c, nlist = 4, m = 4, ksub = 8, maxIter = 5)
  protected def probe(idx: PqIndex.IvfPq, qs: DataFrame, k: Int, nprobe: Int): DataFrame =
    PqIndex.probe(idx, qs, k = k, nprobe = nprobe)
  protected def legacyLayout: Seq[String] = Seq("coarse", "books")

  "PqIndex" should "surface planted near-copies through ADC + rerank" in {
    val vecs = corpus()
    val copies = vecs.where(col("vec_id") < 4)
      .select((col("vec_id") + 1000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.003f)).as("embedding"))
    val c = vecs.unionByName(copies)
    val idx = build(c)
    val qs = vecs.where(col("vec_id") < 4)
    val got = PqIndex.probe(idx, qs, k = 3, nprobe = 2,
        rerankWith = Some(c), rerankFactor = 4)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 4L).foreach { q =>
      assert(got.contains((q, q + 1000L)), s"planted copy of $q not found")
    }
  }
}
