package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Physical-plan shape assertions for the scale-relevant claims the ops
  * make in their docs — if a future change regresses one of these into a
  * slower plan (a window where an aggregate suffices, a shuffle where a
  * broadcast suffices), these fail before any benchmark notices.
  *
  * Every assertion runs under TWO session configs: the suite default
  * (local[4], 4 shuffle partitions, stock AQE) and a CLUSTER-SHAPED config
  * (`spark.sql.adaptive.enabled=true`, `spark.sql.shuffle.partitions=2000`)
  * — so no invariant silently depends on local-mode defaults. Plans are
  * captured BEFORE execution (an executed AQE plan string carries both the
  * final and "== Initial Plan ==" sections and would double operator
  * counts). */
class PlanShapeSpec extends AnyFlatSpec with Matchers {

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val configs: Seq[(String, Map[String, String])] = Seq(
    "default" -> Map.empty,
    "aqe+2000parts" -> Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "2000"))

  for ((cfgName, cfg) <- configs) {

    // every case builds, plans and runs its frames on one session clone
    // carrying `cfg`; the shared test session's conf is never written
    implicit lazy val spark: SparkSession =
      bridge.isolated(TestSpark.spark.emptyDataFrame, cfg).sparkSession
    import spark.implicits._

    s"argmax via max(struct) [$cfgName]" should "plan as a hash aggregate with no window or sort" in {
      val df = Seq((1L, 10.0, 100L), (1L, 20.0, 101L), (2L, 5.0, 102L))
        .toDF("k", "price", "id")
        .groupBy("k").agg(max(struct(col("price"), col("id"))).as("m"))
        .select(col("k"), col("m.id").as("best"))
      val plan = physical(df)
      plan should include("Aggregate")
      plan should not include "Window"
      plan should not include regex("(?i)sortexec")
    }

    s"Curation.percentileCut [$cfgName]" should "broadcast the per-group cuts" in {
      val df = (1 to 100).map(i => (s"g${i % 3}", i.toLong)).toDF("src", "v")
      val plan = physical(Curation.percentileCut(df, "src", "v", 0.9))
      plan should include("BroadcastHashJoin")
    }

    s"Packing.chunkByTokens [$cfgName]" should "plan as a narrow generate with no key shuffle" in {
      val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
      val plan = physical(Packing.chunkByTokens(docs, chunkTokens = 4, overlap = 1))
      plan should include("Generate")
      // Par.spread's round-robin repartition is parallelism, not a data
      // rendezvous — the claim is that no KEYED exchange exists
      plan should not include "hashpartitioning"
      plan should not include "rangepartitioning"
    }

    s"TextAnalysis.bigramLogProb [$cfgName]" should "broadcast the unigram model" in {
      val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
      val plan = physical(TextAnalysis.bigramLogProb(docs))
      plan should include("BroadcastHashJoin")
    }

    s"Shuffling.weightedInterleave [$cfgName]" should "compute global rank without a global sort" in {
      val srcs = Seq(
        ("a", spark.range(0, 100).toDF("id"), 3),
        ("b", spark.range(100, 200).toDF("id"), 1))
      val plan = physical(Shuffling.weightedInterleave(srcs, "id", seed = 1L))
      // the whole point of the closed form: zero single-partition funnels (a
      // global row_number would plan one), and the per-source position must
      // NOT come from a window partitioned by source alone (K sources would
      // be a K-task funnel) — groupedRank ranks (__pid, __src) cells
      plan should not include "SinglePartition"
      plan should not include "rangepartitioning"
      plan should include("Window")
      plan should include("__pid")
      plan should not include "windowspecdefinition(__src"
    }

    s"Shuffling.deterministicShuffle [$cfgName]" should "rank shards in range-partitioned cells, not one task per shard" in {
      val df = spark.range(0, 5000).toDF("id")
      val plan = physical(Shuffling.deterministicShuffle(df, col("id"), 64, 7L))
      plan should not include "SinglePartition"
      plan should include("Window")
      // rank window is per (partition, shard) cell; a partitionBy(shard)
      // window (one external sort task per shard) must never come back
      plan should include("__pid")
      plan should not include "windowspecdefinition(shard"
    }

    s"Shuffling.orderedIndex [$cfgName]" should "rank without a single-partition window" in {
      val df = spark.range(0, 5000).toDF("k")
      val plan = physical(Shuffling.orderedIndex(df, "k"))
      plan should not include "SinglePartition"
      plan should include("Window")
    }

    s"Sweep.concurrency [$cfgName]" should "run its only single-partition window over the super-bucket aggregate" in {
      val iv = Seq((0L, 10L), (5L, 15L), (10L, 20L)).toDF("s", "e")
      val plan = physical(Sweep.concurrency(iv, "s", "e", bucketUs = 8L))
      // one global scan, over one-row-per-SUPER-bucket (the sweep_sb
      // aggregate) — never over the per-bucket or per-event relation
      "SinglePartition".r.findAllIn(plan).length shouldBe 1
      // the subtree UNDER the single-partition exchange (printed after its
      // line) must immediately aggregate by sweep_sb — the first aggregate
      // below the funnel is the super-bucket rollup, not per-bucket/event
      val below = plan.linesIterator.dropWhile(!_.contains("SinglePartition")).toSeq
      val firstAgg = below.find(_.contains("HashAggregate")).get
      firstAgg should include("sweep_sb")
    }

    s"Filters.filterReport [$cfgName]" should "broadcast the filter dimension" in {
      val docs = Seq((1L, 10), (2L, 200)).toDF("id", "len")
      val plan = physical(Filters.filterReport(docs,
        Seq("short" -> (col("len") >= 100))))
      plan should include("BroadcastHashJoin")
    }

    s"HeavyHitters recount [$cfgName]" should "broadcast the candidate set" in {
      val items = spark.range(0, 1000)
        .select(concat(lit("w"), col("id") % 7).as("item"))
      val plan = physical(HeavyHitters.exactOverThreshold(items, "item", 10L))
      plan should include("BroadcastHashJoin")
    }

    s"Dedup.hashedShingles [$cfgName]" should "carry the shingle as an 8-byte token, not a string" in {
      val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
      Dedup.hashedShingles(docs).schema("shingle").dataType shouldBe
        org.apache.spark.sql.types.LongType
      // and ngramJaccard consumes the hashed relation (its join key is long)
      val joined = Dedup.ngramJaccard(docs)
      joined.collect().length shouldBe 1 // (1,2) pair still scores
    }

    s"Sketches.countMinSketch [$cfgName]" should "be one combinable aggregation, no join" in {
      val df = Seq.tabulate(100)(i => ("k" + i % 7)).toDF("k")
      val plan = physical(Sketches.countMinSketch(df, col("k")))
      plan should include("HashAggregate")
      plan should not include "Join"
      plan should not include regex("(?i)sortexec")
    }

    s"TextAnalysis.dupNgramFraction [$cfgName]" should "join only the per-shingle count relation (no cartesian)" in {
      val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
      val plan = physical(TextAnalysis.dupNgramFraction(docs))
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
    }

    s"a comprehension over cross + Column equality guard [$cfgName]" should "be rewritten to an equi-join by Catalyst" in {
      // the reference's comprehension→join derivation (Combination.scala:
      // 723-777), here performed by the optimizer on the Column form: the
      // declared plan is cross-then-filter, the executed plan is a join
      import graft.api.DataBag
      val xs = DataBag(Seq((1, "a"), (2, "b"), (3, "c")))
      val ys = DataBag(Seq((2, 9.0), (3, 7.0)))
      val crossed = xs.cross(ys)
        .where(org.apache.spark.sql.functions.col("_1._1") ===
          org.apache.spark.sql.functions.col("_2._1"))
      val plan = physical(crossed.asDataset.toDF())
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      crossed.collect().map { case (x, y) => (x._1, x._2, y._2) }.sorted shouldBe
        Seq((2, "b", 9.0), (3, "c", 7.0))
      // and the requested-join sugar takes the equiJoin path outright
      val sugared = for { p <- xs.joined(ys).on(_._1, _._1) } yield (p._1._2, p._2._2)
      val plan2 = physical(sugared.asDataset.toDF())
      plan2 should not include "CartesianProduct"
      plan2 should not include "BroadcastNestedLoopJoin"
      sugared.collect().sorted shouldBe Seq(("b", 9.0), ("c", 7.0))
    }

    s"Dedup.simhashNearDups (banded) [$cfgName]" should "self-join on probe keys (no cartesian, no window bound)" in {
      val docs = Seq((1L, "a b c d e f"), (9999999L, "a b c d e f")).toDF("doc_id", "text")
      val plan = physical(Dedup.simhashNearDups(docs, maxHamming = 4))
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
    }

    s"Curation.incrementalNearDups [$cfgName]" should "generate candidates by equi-join (no cartesian, no nested loop)" in {
      val corpus = Seq((1L, "a b c d e f"), (2L, "q r s t u v")).toDF("doc_id", "text")
      val fresh = Seq((11L, "a b c d e g")).toDF("doc_id", "text")
      val idx = Dedup.lshBands(corpus)
      val plan = physical(
        Curation.incrementalNearDups(corpus, idx, fresh, minJaccard = 0.1))
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
    }

    s"SetSim.jaccardSelfJoin [$cfgName]" should "generate and verify candidates by equi-join only" in {
      val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "q r s t u v"))
        .toDF("doc_id", "text")
      val plan = physical(SetSim.jaccardSelfJoin(docs))
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
    }

    s"Similarity per-query top-k (cosine/bucketed/IVF/hardNegatives) [$cfgName]" should
        "rank via the bounded-heap TopKPerKey operator — no Window, no sort of the candidate set" in {
      val emb = Seq.tabulate(40)(i =>
        (i.toLong, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat), i % 3))
        .toDF("vec_id", "embedding", "label")
      val qs = emb.where(col("vec_id") < 4)
      val positives = Seq((0L, 3L), (1L, 6L)).toDF("anchor_id", "pos_id")
      val plans = Seq(
        Similarity.cosineTopK(emb, qs, k = 3),
        Similarity.bucketedTopK(emb, qs, k = 3, bits = 2),
        Similarity.ivfTopK(emb, qs, k = 3, nlist = 4, nprobe = 2, maxIter = 2),
        Similarity.hardNegatives(emb, qs, positives, k = 3)).map(physical)
      plans.foreach { plan =>
        plan should include("TopKPerKey")
        plan should not include "Window"
        plan should not include regex("(?i)sortexec")
      }
    }

    s"Pq.adcTopK (with and without rerank) [$cfgName]" should "rank via TopKPerKey, not a Window over the ADC candidates" in {
      val emb = Seq.tabulate(40)(i =>
        (i.toLong, Array.tabulate(8)(j => ((i * 17 + j * 5) % 11 - 5).toFloat)))
        .toDF("vec_id", "embedding")
      val qs = emb.where(col("vec_id") < 4)
      val cb = Pq.train(emb, m = 4, ksub = 4, maxIter = 2)
      val codes = Pq.encode(cb, emb)
      Seq(
        Pq.adcTopK(cb, codes, qs, k = 3),
        Pq.adcTopK(cb, codes, qs, k = 3, rerankWith = Some(emb))).foreach { df =>
        val plan = physical(df)
        plan should include("TopKPerKey")
        plan should not include "Window"
        plan should not include regex("(?i)sortexec")
      }
    }

    s"Retrieval.bm25Scores [$cfgName]" should "broadcast the query side; no cartesian on the corpus" in {
      val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
      val qs = Seq(("q1", "b")).toDF("query_id", "qtext")
      val plan = physical(Retrieval.bm25Scores(docs, qs))
      plan should include("BroadcastHashJoin")
      plan should not include "CartesianProduct"
      // the one-row stats relation rides a broadcast nested-loop cross join by
      // design (it has no key); the CORPUS-side joins must all be keyed, so no
      // more than that single nested-loop node may appear
      plan.split("BroadcastNestedLoopJoin").length should be <= 2
    }
  }
}
