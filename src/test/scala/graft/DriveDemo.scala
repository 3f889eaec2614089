package graft

import org.apache.spark.sql.SparkSession
import graft.api._
import graft.api.alg._
import graft.ops._
import graft.lib._

/** Manual end-to-end drive of the public library surface on real testdata. */
object DriveDemo {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"

    // 1. typed DataBag over parquet lineitem
    val li = DataBag.from(spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey", "l_quantity", "l_returnflag").as[(Long, Double, String)])
    println("lineitem size = " + li.size)
    println("sum qty = " + li.map(_._2).sum)
    println("top3 qty = " + li.map(_._2).top(3))
    println("foldGroup by flag = " +
      li.foldGroup[String, Long](_._3, Size).collect().sortBy(_.key).mkString(", "))

    // 2. equiJoin orders x customer
    val ord = DataBag.from(spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey").as[(Long, Long)])
    val cust = DataBag.from(spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("c_custkey", "c_name").as[(Long, String)])
    val joined = ord.equiJoin(cust)(_._2, _._1)
    println("join size = " + joined.size)
    println("join sample = " + joined.collect().take(2).mkString("; "))

    // 3. deterministic sample
    val s1 = li.sample(5, seed = 42L).map(_._1)
    val s2 = li.sample(5, seed = 42L).map(_._1)
    println("sample deterministic = " + (s1 == s2) + " " + s1)

    // 4. wordCount typed + columnar agree
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val wcCol = TextPipelines.wordCount(docs).orderBy(org.apache.spark.sql.functions.desc("cnt")).limit(3)
    println("wordCount columnar top3:")
    wcCol.show(false)

    // 5. dedup + text analysis + similarity on real tables
    println("exact dedup groups with n>1 = " +
      Dedup.exactGroups(docs).filter("n > 1").count())
    TextAnalysis.languageId(docs).groupBy("pred_lang").count().show(false)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    println("embeddings schema: " + emb.schema.simpleString)
    val qs = emb.limit(2)
    Similarity.cosineTopK(emb, qs, k = 2).show(false)

    // 6. graphs: connected components on a toy edge list
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    Graphs.connectedComponents(edges, spark).orderBy("vertex").show(false)

    // 5b. temporal joins + portable sampling on real events
    locally {
      import org.apache.spark.sql.functions.{col, unix_micros}
      val ev = spark.read.parquet(s"$sf/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val buys = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      val asof = AsOf.asofJoin(clicks, buys, Seq("user_id"), "ts", "pts", Seq("value"))
      println("asof matched = " + asof.where(col("r_pts").isNotNull).count() +
        " of " + asof.count())
      val iv = ev.where(col("event_type") === "signup").limit(20)
        .select(col("event_id").as("iv_id"), unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) + 3600000000L).as("e"))
      val pt = ev.select(col("event_id").as("pid"), unix_micros(col("ts")).as("t"))
      println("range-join pairs = " +
        RangeJoin.intervalJoin(pt, iv, "t", "s", "e", 3600000000L).count())
      println("hash sample 25% of events = " +
        Sampling.hashSample(ev, col("event_id"), 0.25).count())
    }

    // 6b. streaming: file-drop source -> tumbling window agg -> parquet sink
    {
      import graft.streaming.Streams
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_demo").toString
      val src = s"$dir/in"; val dst = s"$dir/out"; val cp = s"$dir/cp"
      spark.read.parquet(s"$sf/events.parquet")
        .selectExpr("cast(ts as timestamp) as ts", "event_type as k", "value as v")
        .limit(2000).write.parquet(src)
      val schema = spark.read.parquet(src).schema
      val q = Streams.writeParquetStream(
        Streams.tumblingAgg(Streams.readParquetStream(spark, src, schema),
          "ts", "k", "v", "1 hour", "10 minutes"),
        dst, cp).start()
      q.processAllAvailable(); q.stop()
      println("streaming sink files = " +
        new java.io.File(dst).listFiles().count(_.getName.endsWith(".parquet")) +
        ", exception = " + q.exception)
    }

    // 6c. custom sessionizer on real events (file-drop stream)
    {
      import graft.streaming.Streams
      val dir = java.nio.file.Files.createTempDirectory("graft_sess_demo").toString
      spark.read.parquet(s"$sf/events.parquet")
        .selectExpr("event_type as key", "cast(ts as timestamp) as ts")
        .limit(3000).write.parquet(s"$dir/in")
      val schema = spark.read.parquet(s"$dir/in").schema
      val src = Streams.readParquetStream(spark, s"$dir/in", schema)
        .as[Streams.SessionEvent](org.apache.spark.sql.Encoders.product[Streams.SessionEvent])
      val out = Streams.sessionizeCustom(src, gapMs = 10 * 60 * 1000, watermark = "0 seconds")
      val q = out.writeStream.format("memory").queryName("drive_sessions")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      q.processAllAvailable(); q.stop()
      println("custom sessions closed = " + spark.table("drive_sessions").count() +
        ", exception = " + q.exception)
    }

    // 6d. round-4 curation layer: repetition, contamination, domain mix,
    // PII scrub, integer PageRank
    {
      import org.apache.spark.sql.functions.{avg, col, concat, lit, sum}
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val rep = TextAnalysis.repetitionSignals(docs)
      println("repetition mean dup2 = " + rep.agg(avg("dup_2gram_frac")).head().getDouble(0))
      val contam = Curation.contamination(docs, docs.where(col("doc_id") % 97 === 0))
      println("contaminated docs (frac>0.5) = " +
        contam.where(col("contam_frac") > 0.5).count())
      val mixed = Sampling.domainMix(docs, "source", col("doc_id"),
        Map("src0" -> 0.5, "src1" -> 0.5), 40L)
      println("domain mix kept = " + mixed.groupBy("source").count().collect().toSeq)
      val scrubbed = TextAnalysis.scrubPii(docs.select(col("doc_id"),
        concat(col("text"), lit(" reach me: a"), col("doc_id").cast("string"),
          lit("@x.io")).as("text")))
      println("pii emails scrubbed = " + scrubbed.agg(sum("n_emails")).head().get(0))
      val pr = graft.lib.Graphs.pageRankScaled(
        spark.read.parquet(s"$sf/orders.parquet")
          .select((col("o_custkey") % 31).as("src"), (col("o_orderkey") % 31).as("dst")),
        iterations = 5)
      println("pagerank top vertex = " +
        pr.orderBy(col("rank_scaled").desc, col("vertex")).head().toSeq)
    }

    // 6e. round-4 continuation: muses, portable stats, quantization, GD,
    // closure-safe local bag
    {
      import org.apache.spark.sql.functions.{array, col, lit}
      val credits = spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_custkey").as("personID"), col("o_orderkey").as("movieID"),
          lit("director").as("creditType"))
        .unionByName(spark.read.parquet(s"$sf/lineitem.parquet")
          .select(col("l_suppkey").as("personID"), col("l_orderkey").as("movieID"),
            lit("actor").as("creditType")))
      println("muses pairs = " + graft.lib.Collaborations.directorsMuses(credits).count())
      val st = graft.lib.Stats.describeExact(
        spark.read.parquet(s"$sf/lineitem.parquet"), "l_quantity").head()
      println(f"describeExact mean=${st.getAs[Double]("mean")}%.3f stddev=${st.getAs[Double]("stddev")}%.3f")
      println("quantized rows = " + Similarity.quantizeInt8(
        spark.read.parquet(s"$sf/embeddings.parquet")).count())
      val xs = (col("l_quantity") - 25.5) / 14.43
      val (w, b, _) = graft.lib.ML.linreg(
        spark.read.parquet(s"$sf/lineitem.parquet")
          .select(col("l_orderkey").as("id"), array(xs).as("x"), (xs * 2.0 + 1.0).as("y")),
        dim = 1, lr = 0.8, iters = 8)
      println(f"linreg w=${w(0)}%.3f b=$b%.3f")
      val perElem = DataBag(Seq(2, 3, 4)).flatMapBag(x =>
        for { y <- graft.api.LocalBag((1 until x): _*) } yield x * y)
      println("localbag nested flatMap sum = " + perElem.sum)
    }

    // 6f. round-4 additions: upsert/SCD2 table maintenance, bounded BFS,
    // heavy hitters, unpivot
    {
      import org.apache.spark.sql.functions.{col, explode, lit, split, trim, unix_micros}
      val cust = spark.read.parquet(s"$sf/customer.parquet")
        .select("c_custkey", "c_name", "c_acctbal")
      val merged = graft.ops.Upsert.upsert(cust,
        cust.limit(5).select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 1.0).as("c_acctbal")), Seq("c_custkey"))
      println("upsert rows = " + merged.count() + " (target " + cust.count() + ")")
      val hist = graft.ops.Upsert.scd2(
        spark.read.parquet(s"$sf/events.parquet")
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("t")),
        "user_id", "event_type", Seq("t", "event_id"))
      println("scd2 versions = " + hist.count() +
        ", open = " + hist.where(col("valid_to").isNull).count())
      val e0 = spark.read.parquet(s"$sf/orders.parquet")
        .select((col("o_custkey") % 101).as("src"), (col("o_orderkey") % 101).as("dst"))
      val bfs = graft.lib.Graphs.bfsHops(
        e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))),
        e0.select(col("src").as("vertex")).limit(1), maxHops = 2)
      println("bfs reached = " + bfs.count() + " vertices in <=2 hops")
      val toks = spark.read.parquet(s"$sf/documents.parquet")
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      println("heavy hitters (>=50) = " +
        graft.ops.HeavyHitters.exactOverThreshold(toks, "tok", 50L).count())
      println("unpivot rows = " + spark.read.parquet(s"$sf/lineitem.parquet")
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_tax")), "measure", "value").count())
      val resampled = Resample.resampleFfill(
        spark.read.parquet(s"$sf/events.parquet")
          .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("t"),
            col("value"), col("event_id")),
        "user_id", "t", "value", "event_id", stepUs = 86400000000L)
      println("resampled grid rows = " + resampled.count() +
        ", nulls = " + resampled.where(col("value").isNull).count())
      val served = graft.streaming.Streams.latestStateUpsert(
        graft.streaming.Streams.parquetFileStream(spark, s"$sf/events.parquet")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("t")),
        Seq("user_id"), Seq("t", "event_id"))
      println("stream-upsert serving rows = " + served.count())
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      println("audit orphans = " + graft.ops.Audit.referentialOrphans(
        li, "l_orderkey", spark.read.parquet(s"$sf/orders.parquet"), "o_orderkey").count() +
        ", dup keys = " + graft.ops.Audit.keyDuplicates(
          li, Seq("l_orderkey", "l_linenumber")).count())
      println("sssp reached = " + graft.lib.Graphs.shortestPathsBounded(
        spark.read.parquet(s"$sf/orders.parquet")
          .select((col("o_custkey") % 61).as("src"), (col("o_orderkey") % 61).as("dst"),
            (col("o_orderkey") % 5 + 1).as("w"))
          .where(col("src") =!= col("dst")),
        Seq(0L).toDF("vertex"), maxHops = 2).count() + " vertices in <=2 hops")
      val flags = DataBag.from(spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_returnflag")).as[String])
      println("bag exceptAll survivors = " +
        flags.exceptAll(flags.withFilter(_ == "R")).size +
        " of " + flags.size)
      println("exact-k sample rows = " + graft.ops.Sampling.stratifiedExactK(
        spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "source"),
        "source", col("doc_id"), k = 3).count())
    }

    // 7. MutableBag update semantics — cogroup and broadcast point updates
    val state = MutableBag[Long, Long](DataBag(Seq((1L, 10L), (2L, 20L))))
    val delta = state.update(DataBag(Seq(Group(2L, 5L), Group(3L, 7L))))(
      (k, vOpt, m) => Some(vOpt.getOrElse(0L) + m))
    println("mutablebag delta = " + delta.collect().sortBy(_._1).mkString(", "))
    val deltaBc = state.updateBroadcast(DataBag(Seq(Group(1L, 2L), Group(9L, 9L))))(
      (k, vOpt, m) => Some(vOpt.getOrElse(0L) + m))
    println("mutablebag bc-delta = " + deltaBc.collect().sortBy(_._1).mkString(", "))
    println("mutablebag state = " + state.bag().collect().sortBy(_._1).mkString(", "))

    // 8. round-5 text ops: bigram-LM scoring + token chunking over real docs
    locally {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      import org.apache.spark.sql.functions.col
      val lm = graft.ops.TextAnalysis.bigramLogProb(docs)
      println("bigram-LM lowest-scoring docs: " + lm.where(col("n_bigrams") > 0)
        .orderBy((col("sum_logprob_micros") / col("n_bigrams")).asc)
        .limit(3).collect().map(_.getLong(0)).mkString(", "))
      val chunks = graft.ops.Packing.chunkByTokens(docs, chunkTokens = 64, overlap = 16)
      println(s"chunking: ${chunks.count()} chunks from ${docs.count()} docs")
    }

    // 9. round-6 ops: exact set-similarity join, BM25 retrieval, SemDeDup,
    // PCA projection, confusion-fold metrics
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val pairs = graft.ops.SetSim.jaccardSelfJoin(docs, tNum = 1, tDen = 2)
      println(s"setsim: ${pairs.count()} pairs at jaccard >= 0.5")
      val qs = Seq(("q0", "table value part")).toDF("query_id", "qtext")
      val hits = graft.ops.Retrieval.bm25TopK(docs, qs, k = 5).collect()
      println("bm25 top docs: " + hits.map(r => s"${r.getLong(1)}:${r.getLong(2)}").mkString(", "))
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val sd = graft.ops.SemDedup.semDedup(emb, minCos = 0.95, nClusters = 4, maxIter = 3)
      println(s"semdedup: kept ${sd.where(col("keep")).count()} of ${sd.count()}")
      val m = graft.ops.Pca.moments(emb)
      val (ev, w) = graft.ops.Pca.jacobiEigen(graft.ops.Pca.covariance(m))
      val model = graft.ops.Pca.Model(m.n, m.sum.length, 1e6, m.sum.map(_.toDouble / m.n), ev, w)
      println(s"pca: top-4 eigenvalues ${ev.take(4).map(v => f"$v%.4f").mkString(", ")}; " +
        s"projected rows = ${graft.ops.Pca.project(emb, model, 4).count()}")
      val scored = docs.select(
        when(col("lang") === "en", 1).otherwise(0).as("label"),
        when(col("n_chars") > 300, 1).otherwise(0).as("pred"))
      val met = graft.lib.ML.evalBinary(scored).head()
      println(f"eval: acc=${met.getAs[Double]("accuracy")}%.3f f1=${met.getAs[Double]("f1")}%.3f")
    }

    // 10. round-7 ops: filter-cascade report, deterministic shuffle,
    // weighted interleave, hash split
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val report = graft.ops.Filters.filterReport(docs, Seq(
          "too_short" -> (col("n_chars") >= 120),
          "rare_lang" -> col("lang").isin("en", "de", "fr")))
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
      println(s"filter report: $report")
      val sh = graft.ops.Shuffling.deterministicShuffle(
        docs.select("doc_id"), col("doc_id"), nShards = 4, seed = 42L)
      println("det shuffle: " + sh.groupBy("shard").count().orderBy("shard")
        .collect().map(r => s"s${r.getLong(0)}:${r.getLong(1)}").mkString(", "))
      val mix = graft.ops.Shuffling.weightedInterleave(Seq(
          ("en", docs.where(col("lang") === "en").select("doc_id"), 3),
          ("rest", docs.where(col("lang") =!= "en").select("doc_id"), 1)),
        "doc_id", seed = 42L)
      val head = mix.orderBy("gpos").limit(8).collect()
        .map(_.getString(1)).mkString(" ")
      println(s"interleave 3:1 head: $head")
      val split = graft.ops.Sampling.hashSplit(docs, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      println("hash split: " + split.groupBy("split").count().orderBy("split")
        .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(", "))
    }

    // 10b. round-8 ops: persisted state store (point updates), temperature
    // mix, multi-benchmark decontamination
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val dir = java.nio.file.Files.createTempDirectory("drive_state").toString
      graft.ops.StateStore.create(
        docs.select(col("doc_id").as("k"), col("n_chars").as("v")), "k", 8, dir)
      graft.ops.StateStore.upsert(spark, dir,
        docs.where(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("k"), lit(-1).as("v"),
            (col("doc_id") % 100 === 0).as("del")), Some("del"))
      val st = graft.ops.StateStore.read(spark, dir)
      println("state store after point update: rows = " + st.count() +
        ", patched = " + st.where(col("v") === -1).count())
      val tmix = graft.ops.Sampling.temperatureMix(
        docs, "source", col("doc_id"), alpha = 0.5, targetTotal = 60L)
      println("temperature mix kept = " + tmix.groupBy("source").count()
        .orderBy("source").collect()
        .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(", "))
      val cm = graft.ops.Curation.contaminationMatrix(docs, Seq(
        "b97" -> docs.where(col("doc_id") % 97 === 0),
        "b89" -> docs.where(col("doc_id") % 89 === 0)))
      println("contamination matrix offender rows = " + cm.count())
    }

    // 10c. round-8b ops: corpus diff, shard manifest, hybrid RRF, pack
    // layout, multimodal near-dups
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val v2 = docs.where(col("doc_id") % 13 =!= 0)
      val diff = graft.ops.Curation.corpusDiff(docs, v2)
      println("corpus diff: " + diff.groupBy("change").count().orderBy("change")
        .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(", "))
      val shardDir = java.nio.file.Files.createTempDirectory("drive_shards").toString
      graft.ops.Shuffling.writeShards(docs.select("doc_id"), col("doc_id"), 4, 42L, shardDir)
      val mf = graft.ops.Shuffling.shardManifest(spark, shardDir, "doc_id")
      println("shard manifest: rows = " + mf.agg(sum("n_rows")).head().getLong(0) +
        ", all dense = " + mf.agg(bool_and(col("dense"))).head().getBoolean(0))
      val rankA = docs.orderBy(col("n_chars").desc, col("doc_id").asc).limit(5)
        .select(lit("q").as("query_id"), col("doc_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("n_chars").desc, col("doc_id").asc)).cast("long").as("rank"))
      val fused = graft.ops.Retrieval.rrfFuse(Seq(rankA, rankA), k = 3)
      println("rrf fused top: " + fused.orderBy(col("rrf_micros").desc).limit(3)
        .collect().map(r => s"${r.getLong(1)}:${r.getLong(2)}").mkString(", "))
      val layout = graft.ops.Packing.packLayout(docs, col("doc_id"),
        size(split(trim(col("text")), "\\s+")), 2048L, 8)
      println("pack layout: max seg = " + layout.agg(max("seg")).head().getLong(0) +
        ", max offset = " + layout.agg(max("pack_offset")).head().getLong(0))
      val imgSpec = docs.where(col("doc_id") < 40).select(col("doc_id"),
        col("doc_id").as("pattern_id"), col("n_chars").as("n"), lit(false).as("perturb"))
      val copies = imgSpec.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 500L).as("doc_id"), col("pattern_id"), col("n"),
          lit(true).as("perturb"))
      val media = graft.ops.Multimodal.asPatternedPngMediaTable(imgSpec.unionByName(copies))
      println("image near-dups found = " +
        graft.ops.Multimodal.imageNearDups(media).count())
    }

    // 10d. token-budget mixture: water-fill the budget across domains with
    // an epoch cap, then materialize the epoch mix
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val ntok = size(split(trim(col("text")), "\\s+")).cast("long")
      val weights = Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2)
      val alloc = graft.ops.Mixture.tokenBudgetAllocation(docs, "source", ntok,
        weights, budgetTokens = 1000L, maxEpochs = 2.0)
      println("mixture allocation: " + alloc.orderBy("domain").collect()
        .map(r => s"${r.getString(0)}=${r.getLong(3)}tok@${r.getLong(4)}ue")
        .mkString(", "))
      val counts = graft.ops.Mixture.domainTokenCounts(docs, "source", ntok)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val allocs = graft.ops.Mixture.allocate(counts, weights, 1000L, 2.0)
      val mixed = graft.ops.Mixture.applyAllocation(docs, "source",
        col("doc_id"), allocs, seed = 5L)
      println("materialized mix rows = " + mixed.count() +
        ", max epoch = " + mixed.agg(max("epoch")).head().getLong(0))
    }

    // 10e. SFT chat-data prep: render + loss-mask spans, alignment-checked
    locally {
      import org.apache.spark.sql.functions._
      val turns = Seq(
        (1L, 0L, "user", "what is a monad"),
        (1L, 1L, "assistant", "a monoid in the category of endofunctors"),
        (2L, 0L, "user", "ping"), (2L, 1L, "assistant", "pong"))
        .toDF("conv", "turn", "role", "content")
      val rendered = graft.ops.Sft.renderConversations(
        turns, "conv", "turn", "role", "content")
      val spans = graft.ops.Sft.lossSpans(
          turns, "conv", "turn", "role", "content")
        .where(col("role") === "assistant")
      val aligned = spans.join(rendered, "conv").join(turns, Seq("conv", "turn"))
        .select((expr("substring(text, cast(start_off as int) + 1, " +
          "cast(end_off - start_off as int))") === col("content")).as("ok"))
        .agg(bool_and(col("ok"))).head().getBoolean(0)
      println("sft spans aligned = " + aligned +
        ", rendered convs = " + rendered.count())
    }

    // 10f. product-quantized ANN: train codebooks, encode, ADC + rerank
    locally {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val cb = graft.ops.Pq.train(emb, m = 8, ksub = 8, maxIter = 3)
      val codes = graft.ops.Pq.encode(cb, emb)
      val got = graft.ops.Pq.adcTopK(cb, codes, emb.where(col("vec_id") < 3),
        k = 5, rerankWith = Some(emb), rerankFactor = 4)
      println("pq: codes = " + codes.count() + ", probe rows = " + got.count() +
        ", top sim = " + got.agg(max("sim")).head().getDouble(0))
    }

    // 10g. model-based quality filter: featurize → logreg → score → filter
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val suffix = " " + ("zzz " * 60) + ("000 111 222 333 444 555 " * 3)
      val labeled = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(suffix)))
          .otherwise(col("text")).as("text"),
        (col("doc_id") % 3 =!= 0).cast("int").as("y"))
      val model = graft.ops.Quality.train(labeled,
        labeled.select(col("doc_id").as("id"), col("y")), "doc_id", "text",
        lr = 8.0, iters = 40)
      val kept = graft.ops.Quality.filterByQuality(labeled, model,
        "doc_id", "text", 0.5)
      println("quality filter kept = " + kept.count() + " of " + docs.count() +
        ", clean kept = " + kept.where(col("y") === 1).count())
    }

    // 10h. persisted IVF-PQ: build, save, load, pruned ADC probe
    locally {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val idx = graft.ops.PqIndex.build(emb, nlist = 4, m = 8, ksub = 8, maxIter = 3)
      val dir = java.nio.file.Files.createTempDirectory("drive_ivfpq").toString
      graft.ops.PqIndex.save(idx, dir)
      val loaded = graft.ops.PqIndex.load(spark, dir)
      val got = graft.ops.PqIndex.probe(loaded, emb.where(col("vec_id") < 3),
        k = 5, nprobe = 2, rerankWith = Some(emb))
      println("ivfpq: cells = " + loaded.codes.select("cell").distinct().count() +
        ", probe rows = " + got.count())
      val batch = emb.where(col("vec_id") < 2)
        .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"), col("label"))
      graft.ops.PqIndex.appendSaved(spark, dir, batch)
      graft.ops.PqIndex.deleteSaved(spark, dir, Seq(9001L))
      val after = graft.ops.PqIndex.load(spark, dir)
      println("ivfpq lifecycle: appended visible = " +
        (after.codes.where(col("did") === 9000L).count() == 1L) +
        ", tombstoned gone = " +
        (after.codes.where(col("did") === 9001L).count() == 0L))
    }

    // 10i. unigram-LM tokenizer: train, segment, roundtrip
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val model = graft.ops.Unigram.train(docs, vocabSize = 120,
        maxPieceLen = 6, seedSize = 600, emIters = 2)
      val seg = graft.ops.Unigram.segmentWords(
        graft.ops.Unigram.wordHistogram(docs), model)
      val ok = seg.agg(bool_and(concat_ws("", col("pieces")) === col("w")))
        .head().getBoolean(0)
      println("unigram: vocab = " + model.pieces.size +
        ", words roundtrip = " + ok +
        ", avg pieces/word = " + f"${seg.agg(avg(size(col("pieces"))))
          .head().getDouble(0)}%.2f")
    }

    // 10j. first-fit packing: hard cap + utilization
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val ntok = size(split(trim(col("text")), "\\s+")).cast("long")
      val asg = graft.ops.Packing.packFirstFit(docs, col("doc_id"), ntok,
        targetTokens = 256L, numBuckets = 4)
      val fills = asg.groupBy("bucket", "pack").agg(sum("n_tokens").as("fill"))
      println("ffd packing: packs = " + fills.count() +
        ", max fill = " + fills.agg(max("fill")).head().getLong(0) +
        ", mean fill = " + f"${fills.agg(avg("fill")).head().getDouble(0)}%.1f")
    }

    // 10k. hard-negative mining + near-dup-aware split
    locally {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val anchors = emb.where(col("vec_id") < 3)
      val positives = anchors
        .select(col("vec_id").as("anchor_id"), col("label").as("al"))
        .join(emb.select(col("vec_id").as("pos_id"), col("label").as("pl")),
          col("al") === col("pl")).select("anchor_id", "pos_id")
      val hn = graft.ops.Similarity.hardNegatives(emb, anchors, positives, k = 4)
      println("hard negatives: rows = " + hn.count() +
        ", top sim = " + hn.agg(max("sim")).head().getDouble(0))
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val split = graft.ops.Curation.dedupAwareSplit(docs, "text",
        Seq("train" -> 0.8, "val" -> 0.2), minJaccard = 0.2)
      println("dedup-aware split: " + split.groupBy("split").count()
        .orderBy("split").collect()
        .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(", "))
    }

    // 10l. tokenizer evaluation: BPE vs unigram compression on a holdout
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val train = docs.where(col("doc_id") % 5 =!= 0)
      val hold = docs.where(col("doc_id") % 5 === 0)
      val (mergesDf, _) = graft.ops.Bpe.trainLocal(train, "text", 100)
      val merges = mergesDf.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val bpeT = graft.ops.Bpe.encodeFast(hold, merges)
        .agg(sum(size(col("tokens")))).head().getLong(0)
      val model = graft.ops.Unigram.train(train, vocabSize = 120,
        maxPieceLen = 6, seedSize = 600, emIters = 2)
      val uniT = graft.ops.Unigram.encode(hold, model)
        .agg(sum(size(col("pieces")))).head().getLong(0)
      val chars = hold.select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) > 0).agg(sum(length(col("w")))).head().getLong(0)
      println(f"tokenizer eval: holdout chars = $chars, " +
        f"bpe cpt = ${chars.toDouble / bpeT}%.2f, " +
        f"unigram cpt = ${chars.toDouble / uniT}%.2f")
    }

    // 11. the comprehension front-end: natural for-syntax, macro-derived join
    locally {
      import org.apache.spark.sql.functions.col
      import graft.api.comprehensions.onSpark
      val orders = DataBag.from(spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[graft.OrderRow])
      val custs = DataBag.from(spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .as[graft.CustRow])
      val joined = onSpark {
        for { o <- orders; cu <- custs; if o.o_custkey == cu.c_custkey }
          yield (o.o_orderkey, cu.c_name)
      }
      val plan = joined.toDF.queryExecution.executedPlan.toString
      println(s"comprehension join rows = ${joined.ds.count()}, " +
        s"cartesian in plan = ${plan.toLowerCase.contains("cartesian")}")
      // head nesting: a per-row local comprehension folded in the yield
      val nested = onSpark {
        for { o <- orders; cu <- custs; if o.o_custkey == cu.c_custkey }
          yield (o.o_orderkey,
            (for { w <- DataBag((1L to (o.o_orderkey % 4 + 1)).toSeq) } yield w).sum)
      }
      println("nested-yield comprehension rows = " + nested.ds.count())
      // quantified guards: EXISTS -> semiJoin, NOT EXISTS -> antiJoin
      val active = onSpark {
        for { cu <- custs
              if orders.exists(o => o.o_custkey == cu.c_custkey &&
                o.o_totalprice > 150000.0)
              if !orders.exists(o => o.o_custkey == cu.c_custkey &&
                o.o_totalprice < 5000.0) }
          yield cu.c_custkey
      }
      println("exists/not-exists comprehension rows = " + active.ds.count())
      // the emptiness spellings normalize to the same semi/anti joins
      val activeE = onSpark {
        for { cu <- custs
              if orders.withFilter(o => o.o_custkey == cu.c_custkey &&
                o.o_totalprice > 150000.0).nonEmpty
              if orders.withFilter(o => o.o_custkey == cu.c_custkey &&
                o.o_totalprice < 5000.0).isEmpty }
          yield cu.c_custkey
      }
      println("nonEmpty/isEmpty comprehension rows = " + activeE.ds.count())
      // uncorrelated global folds hoist into driver vals (scalar subquery)
      val richAboveMean = onSpark {
        for { cu <- custs
              if (cu.c_acctbal * 100 + 0.5).floor.toLong * custs.size >
                custs.map(c => (c.c_acctbal * 100 + 0.5).floor.toLong).sum }
          yield cu.c_custkey
      }
      println("above-mean-balance comprehension rows = " + richAboveMean.ds.count())
      // correlated min/max folds pre-aggregate + join (EXISTS keeps groups
      // non-empty, so the derived throw-on-miss never fires)
      val spans = onSpark {
        for { cu <- custs; if orders.exists(o => o.o_custkey == cu.c_custkey) }
          yield (cu.c_custkey,
            orders.withFilter(o => o.o_custkey == cu.c_custkey)
              .map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).max)
      }
      println("max-order comprehension rows = " + spans.ds.count())
      // correlated scalar folds (FoldGroupFusion): count + top-k in the head
      val summary = onSpark {
        for { cu <- custs; if orders.count(o => o.o_custkey == cu.c_custkey) >= 8L }
          yield (cu.c_custkey,
            orders.count(o => o.o_custkey == cu.c_custkey),
            (for { o <- orders; if o.o_custkey == cu.c_custkey }
              yield (o.o_totalprice * 100 + 0.5).floor.toLong).top(3).sum)
      }
      println("correlated-fold comprehension rows = " + summary.ds.count())
      // groupBy comprehension fused into one foldGroup (no group Seqs)
      val grouped = onSpark {
        for { g <- orders.groupBy(o => o.o_custkey); if g.values.size >= 8 }
          yield (g.key, g.values.size,
            g.values.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).max)
      }
      val gplan = grouped.toDF.queryExecution.executedPlan.toString
      println(s"groupBy-fusion rows = ${grouped.ds.count()}, " +
        s"mapGroups in plan = ${gplan.contains("MapGroups")}")
      // block-val aliases of g.values/g.key inline and still fuse
      val blocked = onSpark {
        for { g <- orders.groupBy(o => o.o_custkey) } yield {
          val vs = g.values
          val total = vs.size
          (g.key, total, vs.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong)
            .sum / (total * 100.0))
        }
      }
      val bplan = blocked.toDF.queryExecution.executedPlan.toString
      println(s"groupBy-block-fusion rows = ${blocked.ds.count()}, " +
        s"mapGroups in plan = ${bplan.contains("MapGroups")}")
      // two groupBys joined on key: both sides pre-aggregate (foldGroup),
      // the key guard joins the K-row aggregated relations
      val byCust = onSpark {
        for {
          go <- orders.groupBy(o => o.o_custkey % 100)
          gc <- custs.groupBy(c => c.c_custkey % 100)
          if go.key == gc.key
        } yield (go.key, go.values.size, gc.values.size)
      }
      val mplan = byCust.toDF.queryExecution.executedPlan.toString
      println(s"multi-groupBy-fusion rows = ${byCust.ds.count()}, " +
        s"mapGroups in plan = ${mplan.contains("MapGroups")}")
      // the Group-PATTERN spelling desugars to .key/.values and fuses too
      val patterned = onSpark {
        for { graft.api.Group(ck, os) <- orders.groupBy(o => o.o_custkey)
              if os.size >= 8 }
          yield (ck, os.size,
            os.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).max)
      }
      val pplan = patterned.toDF.queryExecution.executedPlan.toString
      println(s"group-pattern-fusion rows = ${patterned.ds.count()}, " +
        s"mapGroups in plan = ${pplan.contains("MapGroups")}")
      // correlated collect(): the nested-result fold (ARRAY subquery)
      val nestedLists = onSpark {
        for { cu <- custs } yield (cu.c_custkey,
          orders.withFilter(o => o.o_custkey == cu.c_custkey)
            .map(o => o.o_orderkey).collect().sorted.mkString(","))
      }
      println("correlated-collect comprehension rows = " + nestedLists.ds.count())
      // UnnestGenerator: a dependent nested-comprehension generator
      // splices into the outer chain and derives the same equi join
      val unnested = onSpark {
        for {
          cu <- custs
          (ok, cents) <- (for {
            o <- orders; if o.o_custkey == cu.c_custkey
          } yield (o.o_orderkey, (o.o_totalprice * 100 + 0.5).floor.toLong))
          if cents >= 10000000L
        } yield (cu.c_custkey, ok, cents)
      }
      val uplan = unnested.toDF.queryExecution.executedPlan.toString
      println(s"unnest-generator comprehension rows = ${unnested.ds.count()}, " +
        s"cartesian in plan = ${uplan.toLowerCase.contains("cartesian")}")
    }

    // 12. round-9 surfaces: indexed hard negatives, LocalBag IO, fold fusion
    locally {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val anchors = emb.where(col("vec_id") < 3)
      val positives = anchors
        .select(col("vec_id").as("anchor_id"), col("label").as("al"))
        .join(emb.select(col("vec_id").as("pos_id"), col("label").as("pl")),
          col("al") === col("pl")).select("anchor_id", "pos_id")
      val idx = graft.ops.PqIndex.build(emb, nlist = 4, m = 8, ksub = 8, maxIter = 3)
      val hni = graft.ops.Similarity.hardNegativesIndexed(idx, anchors, positives,
        k = 3, nprobe = 4, rerankWith = Some(emb), rerankFactor = 4, overfetch = 4)
      println("indexed hard negatives: rows = " + hni.count())
      // LocalBag file IO: local write -> distributed read and back
      val dir = java.nio.file.Files.createTempDirectory("drive_localbag").toString
      val lb = graft.api.LocalBag.of(Seq((1L, "a"), (2L, "b,c")))
      lb.writeCSV(s"$dir/lb.csv")
      val back = DataBag.readCSV[(Long, String)](s"$dir/lb.csv").collect().sorted
      println("localbag csv roundtrip via spark = " + back.mkString(";"))
      lb.writeParquet(s"$dir/lb.parquet")
      val backP = DataBag.readParquet[(Long, String)](s"$dir/lb.parquet")
        .collect().sorted
      println("localbag parquet roundtrip via spark = " + backP.mkString(";"))
      // deferred-fold fusion: 3 folds, one job
      import graft.api.alg._
      val bag = DataBag.from(spark.range(1000).as[Long])
      val (s1, s2, s3) = graft.api.AutoCache.scope { sc =>
        (sc.deferFold(bag)(Sum(Numeric[Long])),
          sc.deferFold(bag)(Size),
          sc.deferFold(bag)(Max(Ordering.Long)))
      }
      println(s"fused folds: sum=${s1.value} n=${s2.value} max=${s3.value}")
      // PointBag: pruned point rounds over a keyed store
      val pb = graft.api.PointBag(
        DataBag.from(spark.range(100).as[Long].map(i => (i, i * 10L))), parts = 8)
      val d1 = pb.update(Seq((7L, 5L), (700L, 1L)))(
        (_, old, m) => Some(old.getOrElse(0L) + m))
      pb.delete(Seq(3L))
      println(s"pointbag: delta=$d1 get=${pb.multiget(Seq(7L, 3L, 700L))} " +
        s"n=${pb.bag().ds.count()}")
      // round-10: distributed-delta round (state never shuffles): ten rows
      // of the delta fit the driver on its session clone
      val delta60 = spark.range(60).as[Long].map(i => (i, 1L)).toDF()
      pb.updateBag(DataBag.from(graft.testlib.Threshold.rows(10)(delta60).as[(Long, Long)]))(
        (_, old, m) => Some(old.getOrElse(0L) + m))
      println(s"pointbag updateBag: k5=${pb.multiget(Seq(5L)).get(5L)}")
      // round-10: depth-3 dependent comprehension + plain-fold fusion
      import graft.api.comprehensions.onSpark
      val as = DataBag((1L to 10L).map(i => (i, i % 3)))
      val bs = DataBag((1L to 12L).map(i => (i, i % 3, i % 4)))
      val cs = DataBag((1L to 14L).map(i => (i, i % 4)))
      val deep = onSpark {
        for {
          a <- as
          v <- (for { b <- bs; if b._2 == a._2
            w <- (for { c <- cs; if c._2 == b._3 } yield c._1 + b._1) } yield w)
        } yield (a._1, v)
      }
      println(s"depth-3 comprehension rows = ${deep.collect().length}")
      val (psum, pn) = graft.api.AutoCache.scope { _ => (bag.sum, bag.size) }
      println(s"plain-fold fusion: sum=$psum n=$pn")
      // round-10: DSCF var-snapshot — loop var captured in a quoted guard
      var primes: DataBag[Long] = DataBag((2L to 30L).toSeq)
      var p = 1L
      while (p < 5L) {
        p += 1L
        primes = onSpark { for { n <- primes; if n == p || n % p != 0L } yield n }
      }
      println(s"sieve via var-snapshot = ${primes.collect().sorted.mkString(",")}")
      // round-11: same-object helper-def inlining (the reference's
      // Lib.expand) — a method-built dependent bag derives an equi join
      def matchingBs(a: (Long, Long)): DataBag[(Long, Long, Long)] =
        for { b <- bs; if b._2 == a._2 } yield b
      val inlined = onSpark { for { a <- as; b <- matchingBs(a) } yield (a._1, b._1) }
      println(s"helper-def inlining rows = ${inlined.collect().length}")
      // round-11: macro-hoisted uncorrelated folds fuse into one batch
      // inside a scope (deferNamed collect/read)
      val hoisted = graft.api.AutoCache.scope { _ =>
        onSpark { for { x <- as; if x._1 <= bag.max && x._1 != bag.sum } yield x._1 }
          .collect()
      }
      println(s"hoisted-fold fusion rows = ${hoisted.length}")
      // round-11: runtime-quotation source-hash cache — second submission
      // compiles nothing
      val rtqSrc = "(n: Long) => n * 3L"
      val f1 = graft.api.RuntimeQuotation.compile[Long => Long](rtqSrc)
      val before = graft.api.RuntimeQuotation.compilations.get()
      val f2 = graft.api.RuntimeQuotation.compile[Long => Long](rtqSrc)
      println(s"rtq cache: f(14)=${f2(14L)} recompiled=${graft.api.RuntimeQuotation.compilations.get() != before}")
      val _ = f1
    }

    spark.stop()
  }
}
