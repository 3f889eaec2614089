package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 scale soak: the five most expensive pipelines at 1× vs 64×
  * sf0.1-equivalent (VERDICT r10 task 6; PROFILE.md's prior evidence tops
  * out at 16×).
  *
  * Document replicas are SALTED — every token is prefixed with its replica
  * id — so cross-replica similarity is zero: candidate sets and outputs
  * stay LINEAR in the replica factor and the wall-clock ratio measures
  * throughput, not the quadratic pair growth identical replicas manufacture
  * (the 8×/16× tables carry that caveat; this synthesis removes it).
  * Embedding replicas shift ids only (cell sizes grow 64×, probe output is
  * fixed top-k). Run: `sbt "Test/runMain graft.ProfileRound11 [sfDir] [N]"`.
  */
object ProfileRound11 {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .appName("profile-round11").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val maxId = base.agg(max("doc_id")).head().getLong(0) + 1
    def salted(k: Int): DataFrame =
      (0 until k).map { i =>
        base.select((col("doc_id") + lit(i * maxId)).as("doc_id"),
          array_join(transform(split(trim(col("text")), "\\s+"),
            t => concat(lit(s"r$i"), t)), " ").as("text"))
      }.reduce(_ unionByName _).repartition(32).localCheckpoint()

    val docs1 = salted(1)
    val docsN = salted(n)
    println(s"== ${docs1.count()} docs at 1x, ${docsN.count()} at ${n}x (salted) ==")

    def time(label: String)(f: => Long): Double = {
      val t0 = System.nanoTime(); val rows = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"TIME $label%-26s $s%8.2f s  rows=$rows")
      s
    }

    val l1 = time("lsh 1x")(ops.Dedup.minhashLSH(docs1).count())
    val lN = time(s"lsh ${n}x")(ops.Dedup.minhashLSH(docsN).count())

    val s1 = time("setsim 1x")(ops.SetSim.jaccardSelfJoin(docs1).count())
    val sN = time(s"setsim ${n}x")(ops.SetSim.jaccardSelfJoin(docsN).count())

    // distributed merge loop forced at BOTH scales (broadcast threshold -1)
    // so the ratio compares the same path
    val b1 = time("bpe 1x") {
      val (m, w) = ops.Bpe.train(graft.testlib.Threshold.at(-1)(docs1), numMerges = 10)
      m.count() + w.count()
    }
    val bN = time(s"bpe ${n}x") {
      val (m, w) = ops.Bpe.train(graft.testlib.Threshold.at(-1)(docsN), numMerges = 10)
      m.count() + w.count()
    }

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    def embX(k: Int): DataFrame = (0 until k).map(i =>
      emb.select((col("vec_id") + lit(i * maxVec)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _).repartition(32).localCheckpoint()
    val emb1 = embX(1)
    val embN = embX(n)
    val queries = emb.limit(8).localCheckpoint()
    val p1 = time("ivfpq build+probe 1x") {
      val idx = ops.PqIndex.build(emb1)
      ops.PqIndex.probe(idx, queries).count()
    }
    val pN = time(s"ivfpq build+probe ${n}x") {
      val idx = ops.PqIndex.build(embN)
      ops.PqIndex.probe(idx, queries).count()
    }

    // PointBag distributed-delta rounds: state k×100k keys, 5 rounds of a
    // 10%-of-state delta (probe skipped — the known-large path), then a
    // forced compaction and a full read
    def pbRounds(k: Int): Long = {
      val v = 100000L * k
      val st = graft.api.DataBag.from(spark.range(v).as[Long].map(i => (i, i)))
      val pb = graft.api.PointBag(st, parts = 32, compactEvery = 100)
      for (r <- 1 to 5) {
        val delta = graft.api.DataBag.from(graft.testlib.Threshold.at(-1)(
          spark.range(v / 10).as[Long].map(i => (i * 10 + r, 1L)).toDF()).as[(Long, Long)])
        pb.updateBag(delta)((_, vo, m) =>
          Some(vo.getOrElse(0L) + m))
      }
      pb.compact()
      pb.bag().ds.count()
    }
    val u1 = time("updatebag 1x")(pbRounds(1))
    val uN = time(s"updatebag ${n}x")(pbRounds(n))

    println(f"RATIOS@${n}x lsh=${lN / l1}%.1f setsim=${sN / s1}%.1f " +
      f"bpe=${bN / b1}%.1f ivfpq=${pN / p1}%.1f updatebag=${uN / u1}%.1f " +
      s"(linear would be <= $n)")
    spark.stop()
  }
}
