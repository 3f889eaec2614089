package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.testlib.JobCount.countJobs

/** Persisted IVF-PQ: save/load round-trip bit-exactness, planning-time
  * cell pruning, and planted-near-copy retrieval through the probe. */
class PqIndexSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  // 4 tight 16-dim clusters (id % 4), deterministic wobble
  private lazy val vecs = (0L until 96L).map { id =>
    val c = (id % 4).toInt
    val base = Array.tabulate(16)(j => if (j % 4 == c) 10.0f else 1.0f)
    val wobble = Array.tabulate(16)(j => ((id * 17 + j * 5) % 11).toFloat / 23f)
    (id, base.zip(wobble).map { case (b, w) => b + w }.toSeq)
  }.toDF("vec_id", "embedding")

  behavior of "PqIndex"

  it should "round-trip save/load and probe identically to in-memory" in {
    val idx = PqIndex.build(vecs, nlist = 4, m = 4, ksub = 8, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    try {
      PqIndex.save(idx, dir)
      val loaded = PqIndex.load(spark, dir)
      loaded.coarse.toSeq shouldBe idx.coarse.toSeq
      loaded.cb.m shouldBe idx.cb.m
      loaded.cb.dsub shouldBe idx.cb.dsub
      loaded.cb.books.map(_.toSeq).toSeq shouldBe idx.cb.books.map(_.toSeq).toSeq
      val qs = vecs.where(col("vec_id") < 4)
      def res(i: PqIndex.IvfPq) =
        PqIndex.probe(i, qs, k = 5, nprobe = 2)
          .select("qid", "did", "sim").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      res(loaded).toSeq shouldBe res(idx).toSeq
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "prune code partitions at planning time on a loaded index" in {
    val idx = PqIndex.build(vecs, nlist = 4, m = 4, ksub = 8, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq2").toString
    try {
      PqIndex.save(idx, dir)
      val loaded = PqIndex.load(spark, dir)
      val qs = vecs.where(col("vec_id") === 0L)
      val probed = PqIndex.probe(loaded, qs, k = 3, nprobe = 1)
      val plan = probed.queryExecution.executedPlan.toString
      plan should include regex ("""PartitionFilters: \[isnotnull\(cell#\d+\), \(?cell#\d+ (= |IN \()""")
      // the probed cluster is vec 0's own: every hit shares its residue
      val hits = probed.select("did").collect().map(_.getLong(0))
      hits should not be empty
      all(hits.map(_ % 4)) shouldBe 0L
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "append and tombstone in place without rewriting untouched cells" in {
    val idx = PqIndex.build(vecs, nlist = 4, m = 4, ksub = 8, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq3").toString
    try {
      PqIndex.save(idx, dir)
      // snapshot code files before the append
      val before = {
        val base = new java.io.File(s"$dir/codes")
        base.listFiles().filter(_.isDirectory).flatMap(d =>
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getPath -> f.lastModified())).toMap
      }
      // batch lands in cluster 1's cell only (copies of vec 1's cluster)
      val batch = vecs.where(col("vec_id") % 4 === 1 && col("vec_id") < 20)
        .select((col("vec_id") + 5000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
      PqIndex.appendSaved(spark, dir, batch)
      // untouched files are byte-identical (same path, same mtime)
      val after = {
        val base = new java.io.File(s"$dir/codes")
        base.listFiles().filter(_.isDirectory).flatMap(d =>
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getPath -> f.lastModified())).toMap
      }
      before.foreach { case (p, m) => after.get(p) shouldBe Some(m) }
      // appended ids are probe-visible; tombstoned ids vanish
      val loaded = PqIndex.load(spark, dir)
      loaded.codes.where(col("did") >= 5000L).count() shouldBe batch.count()
      PqIndex.deleteSaved(spark, dir, Seq(5001L, 5005L))
      val pruned = PqIndex.load(spark, dir)
      pruned.codes.where(col("did").isin(5001L, 5005L)).count() shouldBe 0L
      pruned.codes.count() shouldBe loaded.codes.count() - 2
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "load and probe within its job ceiling" in {
    val idx = PqIndex.build(vecs, nlist = 4, m = 4, ksub = 8, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_jobs").toString
    try {
      PqIndex.save(idx, dir)
      PqIndex.deleteSaved(spark, dir, Seq(7L))
      val qs = vecs.where(col("vec_id") < 4)
      def loadProbe() = PqIndex.probe(PqIndex.load(spark, dir), qs, k = 5, nprobe = 2)
        .select("qid", "did").collect()
      loadProbe() // warm call: plan/codegen caches out of the measurement
      // load (also appendSaved's first step) = one quantizer scan, known
      // schemas, no footer inference — was 4;
      // load + probe adds one query-side collect and the scoring jobs —
      // was 13
      val (_, loadJobs) = countJobs(PqIndex.load(spark, dir))
      loadJobs should be <= 1
      val (_, jobs) = countJobs(loadProbe())
      jobs should be <= 7
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "load an index without a schema record by inference, probing the same rows" in {
    val idx = PqIndex.build(vecs, nlist = 4, m = 4, ksub = 8, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_legacy").toString
    try {
      PqIndex.save(idx, dir)
      PqIndex.deleteSaved(spark, dir, Seq(2L, 9L))
      val qs = vecs.where(col("vec_id") < 4)
      def res() = {
        val loaded = PqIndex.load(spark, dir)
        (loaded.codes.schema, PqIndex.probe(loaded, qs, k = 5, nprobe = 2)
          .select("qid", "did", "sim").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq)
      }
      val (recordedSchema, recorded) = res()
      new java.io.File(s"$dir/_schema.json").delete() shouldBe true
      val (inferredSchema, inferred) = res()
      inferredSchema shouldBe recordedSchema
      inferred shouldBe recorded
      recorded.map(_._2) should not contain 2L
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "append int ids into a bigint-id index as bigint, and refuse a narrowing" in {
    val idx = PqIndex.build(vecs, nlist = 4, m = 4, ksub = 8, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_types").toString
    def codeFileIdTypes() =
      new java.io.File(s"$dir/codes").listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
        .map(f => spark.read.parquet(f.getPath).schema("did").dataType).toSet
    try {
      PqIndex.save(idx, dir)
      val intBatch = vecs.where(col("vec_id") < 8)
        .select((col("vec_id") + 5000L).cast("int").as("vec_id"), col("embedding"))
      PqIndex.appendSaved(spark, dir, intBatch)
      codeFileIdTypes() shouldBe Set(org.apache.spark.sql.types.LongType)
      PqIndex.load(spark, dir).codes.where(col("did") >= 5000L).count() shouldBe 8L
      // the same holds without a record: the inferred type is the stored one
      new java.io.File(s"$dir/_schema.json").delete() shouldBe true
      PqIndex.appendSaved(spark, dir, intBatch.select(
        (col("vec_id") + 100).as("vec_id"), col("embedding")))
      codeFileIdTypes() shouldBe Set(org.apache.spark.sql.types.LongType)
      // an int-id index refuses bigint ids before writing anything
      val intDir = s"$dir/int_ids"
      PqIndex.save(PqIndex.IvfPq(idx.coarse, idx.cb,
        idx.codes.withColumn("did", col("did").cast("int"))), intDir)
      val before = new java.io.File(s"$intDir/codes").listFiles().flatMap(
        d => Option(d.listFiles()).getOrElse(Array.empty)).map(_.getPath).toSet
      val err = intercept[IllegalArgumentException](
        PqIndex.appendSaved(spark, intDir, vecs.where(col("vec_id") < 4)))
      err.getMessage should include ("ids of type BIGINT")
      err.getMessage should include ("whose ids are INT")
      new java.io.File(s"$intDir/codes").listFiles().flatMap(
        d => Option(d.listFiles()).getOrElse(Array.empty)).map(_.getPath).toSet shouldBe before
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  it should "surface planted near-copies through ADC + rerank" in {
    val copies = vecs.where(col("vec_id") < 4)
      .select((col("vec_id") + 1000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.003f)).as("embedding"))
    val corpus = vecs.unionByName(copies)
    val idx = PqIndex.build(corpus, nlist = 4, m = 4, ksub = 8, maxIter = 5)
    val qs = vecs.where(col("vec_id") < 4)
    val got = PqIndex.probe(idx, qs, k = 3, nprobe = 2,
        rerankWith = Some(corpus), rerankFactor = 4)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 4L).foreach { q =>
      assert(got.contains((q, q + 1000L)), s"planted copy of $q not found")
    }
  }
}
