package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.JobCount.countJobs

/** Persisted IVF index: save/load roundtrip reproduces the in-memory probe
  * bit-for-bit, and a loaded probe's scan is partition-pruned to the probed
  * cells. */
class AnnIndexSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  // four tight clusters around orthogonal axes in R^4
  private def corpus(): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(42)
    val base = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    (0 until 80).map { i =>
      val b = base(i % 4)
      (i.toLong, b.map(x => x + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
  }

  "AnnIndex save/load" should "reproduce the in-memory probe exactly" in {
    val c = corpus()
    val idx = AnnIndex.buildIvf(c, nlist = 4, maxIter = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    try {
      AnnIndex.save(idx, dir)
      val loaded = AnnIndex.load(spark, dir)
      loaded.centroids.map(_._1) shouldBe idx.centroids.map(_._1)
      for (((_, a), (_, b)) <- loaded.centroids.zip(idx.centroids))
        a shouldBe b
      val qs = c.where(col("vec_id") < 6)
      val direct = AnnIndex.probe(idx, qs, k = 3, nprobe = 2)
        .select("qid", "did", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      val roundtrip = AnnIndex.probe(loaded, qs, k = 3, nprobe = 2)
        .select("qid", "did", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      roundtrip shouldBe direct
      direct.length shouldBe 18 // 6 queries x k=3
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "partition-prune the loaded probe scan to the probed cells" in {
    val c = corpus()
    val idx = AnnIndex.buildIvf(c, nlist = 4, maxIter = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    try {
      AnnIndex.save(idx, dir)
      val loaded = AnnIndex.load(spark, dir)
      // one query, nprobe=1 → exactly one probed cell of four
      val qs = c.where(col("vec_id") === 0L)
      val probed = AnnIndex.probe(loaded, qs, k = 3, nprobe = 1)
      val plan = probed.queryExecution.executedPlan.toString
      // the probe-cell set lands in the scan's PartitionFilters (a single
      // cell folds the isin to an equality, several keep the IN)
      plan should include regex ("""PartitionFilters: \[isnotnull\(cell#\d+\), \(?cell#\d+ (= |IN \()""")
      // and it still finds vec 0's own tight cluster
      val hits = probed.select("did").collect().map(_.getLong(0))
      all(hits.map(_ % 4)) shouldBe 0L
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "not let a zero-norm corpus vector (sim NaN) steal top-k slots" in {
    val withZero = corpus().unionByName(
      Seq((999L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val idx = AnnIndex.buildIvf(withZero, nlist = 4, maxIter = 6)
    val hits = AnnIndex.probe(idx, withZero.where(col("vec_id") < 8), k = 3, nprobe = 4)
      .select("did").collect().map(_.getLong(0))
    hits should not contain 999L
  }

  "AnnIndex.deleteSaved" should "tombstone vectors without rewriting assignments" in {
    val c = corpus()
    val idx = AnnIndex.buildIvf(c, nlist = 4, maxIter = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_del").toString
    try {
      AnnIndex.save(idx, dir)
      val before = new java.io.File(s"$dir/assigned").listFiles().map(f =>
        f.getName -> f.lastModified()).toMap
      AnnIndex.deleteSaved(spark, dir, Seq(4L, 8L, 12L))
      // the assignment files are untouched — deletion is an append-only op
      new java.io.File(s"$dir/assigned").listFiles().map(f =>
        f.getName -> f.lastModified()).toMap shouldBe before
      val loaded = AnnIndex.load(spark, dir)
      loaded.assigned.count() shouldBe (c.count() - 3)
      loaded.assigned.where(col("did").isin(4L, 8L, 12L)).count() shouldBe 0L
      // probe equals the in-memory probe over the filtered assignment
      val qs = c.where(col("vec_id") < 6)
      def res(i: AnnIndex.Ivf) = AnnIndex.probe(i, qs, k = 3, nprobe = 2)
        .select("qid", "did").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      res(loaded) shouldBe res(AnnIndex.Ivf(idx.centroids,
        idx.assigned.where(!col("did").isin(4L, 8L, 12L))))
      // deletes accumulate across calls
      AnnIndex.deleteSaved(spark, dir, Seq(16L))
      AnnIndex.load(spark, dir).assigned.count() shouldBe (c.count() - 4)
      // compaction physically drops the tombstoned rows and clears the
      // deleted relation; the loaded view is unchanged
      AnnIndex.compactSaved(spark, dir)
      new java.io.File(s"$dir/deleted").exists() shouldBe false
      spark.read.parquet(s"$dir/assigned")
        .where(col("did").isin(4L, 8L, 12L, 16L)).count() shouldBe 0L
      AnnIndex.load(spark, dir).assigned.count() shouldBe (c.count() - 4)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  "AnnIndex.extend / appendSaved" should "equal a probe over the in-memory extension" in {
    val c = corpus()
    val old = c.where(col("vec_id") < 60)
    val batch = c.where(col("vec_id") >= 60)
    val idx = AnnIndex.buildIvf(old, nlist = 4, maxIter = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_ext").toString
    try {
      AnnIndex.save(idx, dir)
      AnnIndex.appendSaved(spark, dir, batch)
      val loaded = AnnIndex.load(spark, dir)
      loaded.assigned.count() shouldBe 80L
      val qs = c.where(col("vec_id") < 6)
      def res(i: AnnIndex.Ivf) = AnnIndex.probe(i, qs, k = 3, nprobe = 2)
        .select("qid", "did", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      res(loaded) shouldBe res(AnnIndex.extend(idx, batch))
      // batch vectors are findable: a batch vector queried against the
      // extended index must surface its own tight cluster
      val got = AnnIndex.probe(loaded, c.where(col("vec_id") === 60L), k = 3, nprobe = 1)
        .select("did").collect().map(_.getLong(0))
      all(got.map(_ % 4)) shouldBe 0L
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "append int ids into a bigint-id index as bigint, and refuse lossy id types" in {
    val c = corpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_types").toString
    def assignedFiles() =
      new java.io.File(s"$dir/assigned").listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    try {
      AnnIndex.save(AnnIndex.buildIvf(c.where(col("vec_id") < 60), nlist = 4, maxIter = 6), dir)
      AnnIndex.appendSaved(spark, dir, c.where(col("vec_id") >= 60)
        .select(col("vec_id").cast("int").as("vec_id"), col("embedding")))
      assignedFiles().map(f => spark.read.parquet(f.getPath).schema("did").dataType)
        .toSet shouldBe Set(org.apache.spark.sql.types.LongType)
      AnnIndex.load(spark, dir).assigned.count() shouldBe 80L
      // float/double ids could merge distinct bigint ids, and a string is
      // no widening at all: both refuse before a file is written
      val before = assignedFiles().map(_.getPath).toSet
      for (t <- Seq("double", "float", "string")) {
        val err = intercept[IllegalArgumentException](AnnIndex.appendSaved(spark, dir,
          c.where(col("vec_id") < 4).select(col("vec_id").cast(t).as("vec_id"), col("embedding"))))
        err.getMessage should include ("whose ids are BIGINT")
      }
      assignedFiles().map(_.getPath).toSet shouldBe before
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  "AnnIndex load + probe" should "stay within its job ceiling" in {
    val c = corpus()
    val idx = AnnIndex.buildIvf(c, nlist = 4, maxIter = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_jobs").toString
    try {
      AnnIndex.save(idx, dir)
      AnnIndex.deleteSaved(spark, dir, Seq(5L))
      val qs = c.where(col("vec_id") < 6)
      def loadProbe() = AnnIndex.probe(AnnIndex.load(spark, dir), qs, k = 3, nprobe = 2)
        .select("qid", "did").collect()
      loadProbe() // warm call: plan/codegen caches out of the measurement
      // load (also appendSaved's first step) = one centroid scan, known
      // schemas, no footer inference — was 4;
      // load + probe adds one query-side collect and the scoring jobs —
      // was 11
      val (_, loadJobs) = countJobs(AnnIndex.load(spark, dir))
      loadJobs should be <= 1
      val (_, jobs) = countJobs(loadProbe())
      jobs should be <= 7
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "load an index without a schema record by inference, probing the same rows" in {
    val c = corpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_legacy").toString
    try {
      AnnIndex.save(AnnIndex.buildIvf(c, nlist = 4, maxIter = 6), dir)
      AnnIndex.deleteSaved(spark, dir, Seq(1L, 8L))
      val qs = c.where(col("vec_id") < 6)
      def res() = {
        val loaded = AnnIndex.load(spark, dir)
        (loaded.assigned.schema, AnnIndex.probe(loaded, qs, k = 3, nprobe = 2)
          .select("qid", "did", "sim").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq)
      }
      val (recordedSchema, recorded) = res()
      new java.io.File(s"$dir/_schema.json").delete() shouldBe true
      val (inferredSchema, inferred) = res()
      inferredSchema shouldBe recordedSchema
      inferred shouldBe recorded
      recorded.map(_._2) should not contain 8L
      // compaction of a record-less index writes the record again
      AnnIndex.compactSaved(spark, dir)
      new java.io.File(s"$dir/_schema.json").exists() shouldBe true
      res()._2 shouldBe recorded
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
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
    val idx = AnnIndex.buildIvf(c, nlist = 4, maxIter = 6)
    val qs = c.where(col("vec_id") < 8)
    val got = AnnIndex.probe(idx, qs, k = 3, nprobe = 1)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.cosineTopK(c, qs, k = 3)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // clusters are well-separated: even nprobe=1 recalls everything
    got shouldBe brute
  }
}
