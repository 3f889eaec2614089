package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.{CSV, DataBag, Group}
import graft.lib.{Graphs, KMeans, TextPipelines}
import graft.ops.{AsOf, Curation, Dedup, Multimodal, Portable, RangeJoin, Sampling, Similarity, TextAnalysis}

/** Row type used by the CSV round-trip query. */
case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)

/** Row types for the comprehension front-end gates (q183, q184). */
case class OrderRow(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)
case class CustRow(c_custkey: Long, c_name: String, c_acctbal: Double)
case class UEdge(s: Long, d: Long)
case class OrderYearRow(o_year: Long, o_totalprice: Double)
case class ShipYearRow(l_year: Long, l_quantity: Double)
/** Inner-yield row for the case-class unnest gate (q243). */
case class PayInfo(o_orderkey: Long, cents: Long)
case class LineQtyRow(l_orderkey: Long, l_quantity: Double)

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB oracle in [[SparkEntry.oracleSql]]
  * where SQL-expressible.
  *
  * Determinism rules shared by the Spark side and the oracle SQL:
  *  - decimal sums: cast addends to DECIMAL before summing (exact, order-
  *    independent), cast the result back to double;
  *  - rounding: `floor(x*10^d + 0.5)/10^d` ([[graft.ops.Portable.round]]) —
  *    identical IEEE-754 ops in both engines;
  *  - every ranking has a total-order tie-break;
  *  - timestamps are formatted to strings before output.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** One BOUNDED per-(sf dir, tag, live JVM) staging base — same shape and
    * dead-JVM reaping as [[gateWorkspace]] but NOT cleared on re-entry:
    * gates stage IMMUTABLE derived source files once per JVM behind `_done`
    * markers inside it (streaming inputs replayed by every rep). This
    * replaces the former cross-boot `_done` markers keyed on the source
    * table's (size, mtime) (VERDICT r15 item 5): nothing is reused across
    * processes — a fresh JVM always restages — so back-to-back runs carry
    * identical staging cost, while reps within one run still share the
    * files (the per-rep min is the steady-state number either way). */
  private def jvmStageBase(d: String, tag: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(BenchMode.scratchDir,
      s"graft_${tag}_${Integer.toHexString(d.hashCode)}")
    Files.createDirectories(base)
    BenchMode.reapDeadJvms(base)
    val p = base.resolve(s"jvm${ProcessHandle.current().pid()}")
    Files.createDirectories(p)
    p
  }

  /** One BOUNDED workspace per (sf dir, gate tag, live JVM), cleared at
    * entry: a gate leaves at most one copy of its artifacts per sf per
    * LIVE JVM instead of one per execution (per-execution temp dirs
    * accumulated thousands across rounds). The per-JVM subdir keeps two
    * concurrently running JVMs (bench + correctness) from racing one
    * JVM's entry-time clear against the other's lazy reads; subdirs of
    * DEAD JVMs are reaped here, so the population stays bounded by the
    * number of live graft JVMs. Clearing THIS JVM's previous artifacts is
    * safe — the driver consumes each gate's result before invoking the
    * next execution. */
  private def gateWorkspace(d: String, tag: String): String = {
    import java.nio.file.{Files, Paths}
    // persisted-artifact scratch follows the session scratch placement
    // (BenchMode.scratchDir: tmpfs default, SPARK_GRAFT_LOCAL_DIR override)
    // — still a real filesystem, so every save→load/append/delete contract
    // is exercised unchanged; r15, guide §6
    val base = Paths.get(BenchMode.scratchDir,
      s"graft_${tag}_${Integer.toHexString(d.hashCode)}")
    Files.createDirectories(base)
    BenchMode.reapDeadJvms(base)
    val p = base.resolve(s"jvm${ProcessHandle.current().pid()}")
    BenchMode.deleteRecursively(p)
    Files.createDirectories(p)
    p.toString
  }

  /** Normalize an events-shaped frame's `ts` to TimestampType. Current
    * driver dumps store parquet TIMESTAMP_MICROS natively; older
    * generations wrote INT64 nanos (surfacing as `long` under
    * `spark.sql.legacy.parquet.nanosAsLong`). Accept both so the same
    * queries run against either vintage of the test tables. */
  private def withTsTimestamp(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // parquet isAdjustedToUTC=false surfaces as NTZ; sessions run in
        // UTC, so the cast preserves both wall clock and epoch micros
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** The `events` table with `ts` normalized to TimestampType. */
  private def events(s: SparkSession, d: String): DataFrame =
    withTsTimestamp(tbl(s, d, "events"))

  private val dec2 = "decimal(18,2)"

  /** Exact discounted revenue: price * (1 - discount) in decimal. */
  private def revenueDec: Column =
    col("l_extendedprice").cast(dec2) * (lit(1).cast(dec2) - col("l_discount").cast(dec2))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q12_join5")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------ monad ops (SURVEY §2.2)
    "q01_map" -> ((s, d) =>
      tbl(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))),

    "q02_filter" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").as("qty"))),

    "q03_flatmap" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .where(length(col("token")) > 0)),

    // ------------------------------------------------- set ops (SURVEY §2.4)
    "q04_union" -> ((s, d) =>
      tbl(s, d, "customer").where(col("c_acctbal") > 0)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
        .union(tbl(s, d, "supplier")
          .select(col("s_suppkey").as("id"), col("s_name").as("name")))),

    "q05_distinct" -> ((s, d) =>
      tbl(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()),

    "q06_intersect" -> ((s, d) =>
      tbl(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(tbl(s, d, "supplier").select(col("s_nationkey").as("nk")))),

    "q07_except" -> ((s, d) =>
      tbl(s, d, "customer").where(col("c_acctbal") > 0)
        .select(col("c_custkey").as("k"))
        .except(tbl(s, d, "orders").where(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("k")))),

    // -------------------------------------- grouping & folds (SURVEY §2.3/2.5)
    "q08_groupagg" -> ((s, d) =>
      tbl(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        sum("l_quantity").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec2)).cast("double").as("sum_base"),
        sum(revenueDec).cast("double").as("sum_disc"),
        (sum("l_quantity") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("cnt"))),

    "q09_global_agg" -> ((s, d) =>
      tbl(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"),
        sum("l_quantity").as("sum_qty"),
        date_format(min("l_shipdate"), "yyyy-MM-dd").as("min_ship"),
        date_format(max("l_shipdate"), "yyyy-MM-dd").as("max_ship"),
        ((sum(col("l_quantity") * col("l_quantity")) / count(lit(1))) -
          (sum(col("l_quantity")) / count(lit(1))) *
          (sum(col("l_quantity")) / count(lit(1)))).as("var_qty"))),

    "q10_topk" -> ((s, d) =>
      tbl(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(10)
        .select("o_orderkey", "o_totalprice")),

    // ------------------------------------------- joins & cross (SURVEY §2.4)
    "q11_join" -> ((s, d) =>
      tbl(s, d, "orders")
        .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))),

    "q12_join5" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .join(tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(sum(revenueDec).cast("double").as("revenue"))),

    "q13_left_outer" -> ((s, d) =>
      tbl(s, d, "customer")
        .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))),

    "q14_semi" -> ((s, d) =>
      tbl(s, d, "customer")
        .join(tbl(s, d, "orders").where(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),

    "q15_anti" -> ((s, d) =>
      tbl(s, d, "customer")
        .join(tbl(s, d, "orders").where(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    "q16_cross" -> ((s, d) =>
      tbl(s, d, "region").crossJoin(tbl(s, d, "nation"))
        .select("r_name", "n_name")),

    // ------------------------------ beyond-reference relational (SURVEY §2.8)
    "q17_rollup" -> ((s, d) =>
      tbl(s, d, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
        .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          col("cnt"), col("sum_qty"))),

    "q18_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tbl(s, d, "orders").withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),

    "q19_window_sum" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(dec2)).over(w).cast("double").as("running_total"))
    }),

    "q20_events_hourly" -> ((s, d) => {
      events(s, d)
        .withColumn("tsx", col("ts"))
        .groupBy(
          date_format(date_trunc("hour", col("tsx")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    }),

    // ------------------------------------------------------- text workloads
    "q21_wordcount" -> ((s, d) =>
      TextPipelines.wordCount(tbl(s, d, "documents"))),

    "q22_token_counts" -> ((s, d) =>
      TextAnalysis.tokenCounts(tbl(s, d, "documents"))),

    "q23_quality" -> ((s, d) =>
      TextAnalysis.qualitySignals(tbl(s, d, "documents").where(col("n_chars") > 0))),

    "q24_langid" -> ((s, d) =>
      TextAnalysis.languageId(tbl(s, d, "documents"))),

    "q25_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(tbl(s, d, "documents"))),

    // ------------------------------------------------------------------ dedup
    "q26_exact_dedup" -> ((s, d) =>
      Dedup.exactGroups(tbl(s, d, "documents"))),

    "q29_minhash" -> ((s, d) =>
      Dedup.minhashSignatures(tbl(s, d, "documents"), numHashes = 4)),

    "q30_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(tbl(s, d, "documents"), maxIdGap = 5)),

    // Fast (xxhash64) simhash has no DuckDB twin, so the gate checks its
    // CONTRACT: the fingerprint is a pure function of the text (every
    // duplicated text yields one distinct signature) and discriminates
    // distinct texts (collision rate bounded). Raw fingerprints stay covered
    // by the portable twins q68/q133 and DedupSpec.
    "q35_simhash" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val sim = Dedup.simhash64(docs)
      val keyed = sim.join(docs.select(col("doc_id"), md5(col("text")).as("tkey")), "doc_id")
      val per = keyed.groupBy("tkey").agg(
        countDistinct("simhash").as("nsig"), count(lit(1)).as("n"),
        first("simhash").as("sig"))
      per.agg(count(lit(1)).as("n_texts"), sum("n").cast("long").as("n_docs"),
        every(col("nsig") === 1).as("same_text_same_sig"),
        (countDistinct("sig") >= count(lit(1)) * 0.9).as("discriminates"))
    }),

    // ------------------------------------------------------------- similarity
    "q27_cosine_topk" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      Similarity.cosineTopK(emb, emb.where(col("vec_id") < 8), k = 3)
    }),

    "q28_bucketed_ann" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      Similarity.bucketedTopK(emb, emb.where(col("vec_id") < 8), k = 3, bits = 4)
    }),

    // ------------------------------------------------------- graph workloads
    "q31_cc" -> ((s, d) => {
      val e = tbl(s, d, "orders").where(col("o_orderkey") % 5 === 0)
        .select((col("o_custkey") % 37).as("src"), (col("o_orderkey") % 37).as("dst"))
        .where(col("src") =!= col("dst"))
      Graphs.connectedComponents(e, s)
    }),

    "q32_tc" -> ((s, d) => {
      import s.implicits._
      val e = tbl(s, d, "nation").where(col("n_nationkey") % 5 =!= 4)
        .select(col("n_nationkey").cast("long").as("src"),
          (col("n_nationkey") + 1).cast("long").as("dst"))
        .as[(Long, Long)]
      Graphs.transitiveClosure(e).toDF("src", "dst")
    }),

    "q33_triangles" -> ((s, d) =>
      Graphs.triangles(tbl(s, d, "lineitem")
        .select((col("l_suppkey") % 30).as("src"), (col("l_partkey") % 30).as("dst")))),

    // ----------------------------------------------------------- sources/sinks
    "q34_csv_roundtrip" -> ((s, d) => {
      implicit val ss: SparkSession = s
      implicit val enc: org.apache.spark.sql.Encoder[Nation] = Encoders.product[Nation]
      val dir = s"${BenchMode.scratchDir}/graft_scratch/nation_csv"
      DataBag.from(tbl(s, d, "nation").as[Nation]).writeCSV(dir, CSV(header = true))
      DataBag.readCSV[Nation](dir, CSV(header = true)).toDF.agg(
        count(lit(1)).as("cnt"),
        min(col("n_nationkey")).as("min_key"),
        sum(col("n_regionkey")).cast("long").as("sum_region"))
    }),

    // zipWithIndex is partition-layout-dependent, but its CONTRACT is fully
    // checkable: the index set must be exactly {0..n-1} (count = distinct =
    // n, min 0, max n-1, sum n(n-1)/2)
    "q36_zipindex" -> ((s, d) => {
      val b = DataBag.from(tbl(s, d, "lineitem")
        .select("l_orderkey").as[Long](Encoders.scalaLong))
      b.zipWithIndex().ds.toDF("key", "idx").agg(
        count(lit(1)).as("n"), countDistinct("idx").as("n_idx"),
        min("idx").as("min_idx"), max("idx").as("max_idx"), sum("idx").as("sum_idx"))
    }),

    // reservoir algorithm is engine-specific, but the k-element contract and
    // source containment are oracle-checkable
    "q37_sample" -> ((s, d) => {
      import s.implicits._
      val b = DataBag.from(tbl(s, d, "lineitem")
        .select("l_orderkey").as[Long](Encoders.scalaLong))
      val sampled = b.sample(10, seed = 42L).toDF("key")
      val src = tbl(s, d, "lineitem").select(col("l_orderkey").as("key"))
      sampled.agg(count(lit(1)).as("n_sampled")).crossJoin(
        sampled.join(src, Seq("key"), "left_semi")
          .agg(count(lit(1)).as("n_in_source")))
    }),

    // centroids are data-dependent, but the assignment contract is checkable:
    // every vector assigned exactly once, cluster ids within [0, k)
    "q38_kmeans" -> ((s, d) =>
      KMeans.fit(tbl(s, d, "embeddings"), k = 4, maxIter = 5).agg(
        count(lit(1)).as("n"), countDistinct("vec_id").as("n_ids"),
        every(col("cluster") >= 0 && col("cluster") < 4).as("in_range"))),

    // REAL image pipeline: render each document as an actual PNG
    // (javax.imageio), then ImageIO-decode it back for features. The oracle
    // recomputes the expected dims/luma from the documents table directly —
    // a wrong encoder OR decoder breaks the match.
    "q39_media_features" -> ((s, d) =>
      Multimodal.extractImageFeatures(Multimodal.asPngMediaTable(tbl(s, d, "documents")))),

    // --------------------------------------------- feature/ML layer (§2.9)
    "q40_dict" -> ((s, d) =>
      graft.lib.Features.dictionary(tbl(s, d, "orders"), "o_orderpriority")),

    // fold assignment hashes with xxhash64 (not portable), but the partition
    // contract is checkable: 5 non-empty folds 0..4 covering every row
    "q41_kfold" -> ((s, d) => {
      val folded = graft.lib.Features.kfold(tbl(s, d, "customer"), "c_custkey", 5)
      folded.groupBy("fold").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_folds"), sum("n").as("total"),
          min("fold").cast("long").as("min_fold"), max("fold").cast("long").as("max_fold"))
    }),

    // Hashing-trick TF-IDF: bucket ids are xxhash64-derived so per-entry
    // values have no DuckDB twin (q71 is the term-level oracle twin); the
    // gate checks the pipeline's exact invariants instead — the hashing
    // trick conserves total token mass, keeps every tokenized doc, and
    // idf = ln((N+1)/(df+1))+1 > 0 keeps all weights positive.
    "q42_tfidf" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val toks = docs.select(col("doc_id").as("id"),
        graft.lib.Features.tokenizeGaps(col("text")).as("toks"))
      val tf = graft.lib.Features.hashTF(toks, "id", "toks", numFeatures = 1 << 12)
      val tfidf = graft.lib.Features.tfIdf(tf, docs.count())
      tf.agg(sum("tf").cast("long").as("total_tf")).crossJoin(
        tfidf.agg(countDistinct("id").as("n_docs"), every(col("tf") > 0.0).as("all_w_pos")))
    }),

    // ----------------------------------- more analytic coverage (§2.8)
    "q43_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      tbl(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"))
    }),

    "q44_cube" -> ((s, d) =>
      tbl(s, d, "lineitem").cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
        .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          col("cnt"), col("sum_qty"))),

    "q45_countd" -> ((s, d) =>
      tbl(s, d, "orders").groupBy("o_orderpriority")
        .agg(countDistinct("o_custkey").as("nd"), count(lit(1)).as("cnt"))),

    "q46_sessions" -> ((s, d) => {
      // batch-mode session windows: same semantics as the streaming operator
      events(s, d)
        .withColumn("tsx", col("ts"))
        .groupBy(session_window(col("tsx"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
          col("user_id"), col("n_events"))
    }),

    "q47_salted_join" -> ((s, d) =>
      graft.ops.Skew.saltedJoin(
        tbl(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity"),
        tbl(s, d, "supplier").select(col("s_suppkey").as("l_suppkey"), col("s_name")),
        "l_suppkey", salt = 8)
        .groupBy("s_name").agg(sum("l_quantity").as("sum_qty"))),

    "q48_top_fold" -> ((s, d) => {
      import s.implicits._
      val prices = DataBag.from(
        tbl(s, d, "orders").select("o_totalprice").as[Double](Encoders.scalaDouble))
      prices.top(5).toDF("price")
    }),

    // nested group materialized then serialized to a string — list-typed
    // output columns are a compare-harness wildcard, strings are not
    "q49_group_nested" -> ((s, d) =>
      tbl(s, d, "lineitem").groupBy(col("l_returnflag").as("rf"))
        .agg(concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"),
          count(lit(1)).as("cnt"))),

    "q50_embed_dups" -> ((s, d) =>
      Dedup.embeddingNearDups(tbl(s, d, "embeddings"), threshold = 0.3, bits = 4)),

    // HLL estimate is engine-specific, but its error contract is checkable:
    // exact count matches and the sketch lands within 3σ (rsd 0.05 → 15%)
    "q51_approx_distinct" -> ((s, d) =>
      tbl(s, d, "lineitem").agg(
        approx_count_distinct("l_orderkey").as("a"),
        countDistinct("l_orderkey").as("exact_orders"))
        .select(col("exact_orders"),
          (abs(col("a") - col("exact_orders")) <=
            col("exact_orders").cast("double") * 0.15).as("approx_ok"))),

    "q52_cc_alt" -> ((s, d) => {
      val e = tbl(s, d, "orders").where(col("o_orderkey") % 3 === 0)
        .select((col("o_custkey") % 53).as("src"), (col("o_orderkey") % 53).as("dst"))
        .where(col("src") =!= col("dst"))
      Graphs.connectedComponentsAlternating(e, s)
    }),

    "q53_lsh" -> ((s, d) =>
      Dedup.minhashLSH(tbl(s, d, "documents"), bands = 4, rowsPerBand = 2)),

    // IVF centroids are data-dependent, but the ANN contract is checkable:
    // full k results per query and recall >= 0.9 against the exact top-k
    // (both pipelines are deterministic, so the check cannot flake)
    "q54_ivf_ann" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
      // ivf feeds both witnesses — one materialization, not two probe runs
      val ivf = Similarity.ivfTopK(emb, qs, k = 3, nlist = 8, nprobe = 2, maxIter = 4)
        .select("qid", "did").localCheckpoint()
      val brute = Similarity.cosineTopK(emb, qs, k = 3).select("qid", "did")
      ivf.agg(count(lit(1)).as("n_results")).crossJoin(
        ivf.join(brute, Seq("qid", "did"), "left_semi")
          .agg((count(lit(1)).cast("double") >= 24 * 0.9).as("recall_ok")))
    }),

    "q55_window_funcs" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      tbl(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        Portable.round(percent_rank().over(w), 6).as("pr"),
        first("o_orderkey").over(full).as("cheapest_order"))
    }),

    "q56_date_funcs" -> ((s, d) =>
      tbl(s, d, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"))),

    "q57_json" -> ((s, d) => {
      events(s, d)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("cnt"))
    }),

    // typed DataBag pipeline (flatMap/withFilter/foldGroup) under the oracle
    "q59_typed_wordcount" -> ((s, d) => {
      implicit val ss: SparkSession = s
      import s.implicits._
      val lines = DataBag.from(tbl(s, d, "documents").select("text").as[String])
      TextPipelines.wordCountTyped(lines).ds.toDF("word", "cnt")
    }),

    // MutableBag-backed connected components (typed equiJoin + foldGroup +
    // keyed point updates), same labels as the recursive SQL closure
    // custom LogicalPlan+Strategy+SparkPlan operator: bounded-heap top-k per
    // key (partial before shuffle, no sort) — same rows as the window form
    "q64_topk_native" -> ((s, d) =>
      graft.plans.TopK.perKey(tbl(s, d, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")),

    "q62_near_dups" -> ((s, d) =>
      graft.ops.Curation.nearDuplicates(tbl(s, d, "documents"), minJaccard = 0.2)),

    "q68_simhash_portable" -> ((s, d) =>
      Dedup.simhashPortable(tbl(s, d, "documents"), bits = 16)),

    "q67_grouping_sets" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
        .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          col("cnt"), col("sum_qty"))),

    "q66_text_roundtrip" -> ((s, d) => {
      implicit val ss: SparkSession = s
      val dir = s"${BenchMode.scratchDir}/graft_scratch/docs_text"
      DataBag.from(tbl(s, d, "documents").select("text").as[String](Encoders.STRING))
        .writeText(dir)
      DataBag.readText(dir).toDF.agg(
        count(lit(1)).as("cnt"),
        sum(length(col("value"))).as("total_chars"))
    }),

    "q65_dup_clusters" -> ((s, d) =>
      graft.ops.Curation.duplicateClusters(tbl(s, d, "documents"), minJaccard = 0.2)),

    "q63_keep_list" -> ((s, d) =>
      graft.ops.Curation.keepList(tbl(s, d, "documents"),
        lang = "en", minTokens = 10, maxTokens = 1000, minAlpha = 0.5)),

    "q61_percentile" -> ((s, d) =>
      tbl(s, d, "lineitem").groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        expr("percentile(l_extendedprice, 0.25)").as("price_p25"))),

    "q60_cc_mutable" -> ((s, d) => {
      import s.implicits._
      val e = tbl(s, d, "supplier")
        .select((col("s_suppkey") % 23).cast("long").as("src"),
          (col("s_nationkey") % 23).cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .as[(Long, Long)]
      Graphs.connectedComponentsMutable(e, s).toDF("vertex", "label")
    }),

    // Pearson correlation from decimal-exact sums (built-in corr streams
    // doubles and is partition-order-sensitive; this is deterministic)
    "q58_corr" -> ((s, d) => {
      val q = col("l_quantity").cast(dec2)
      val p = col("l_extendedprice").cast(dec2)
      tbl(s, d, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(q).as("sq"), sum(p).as("sp"),
        sum(q * q).as("sqq"), sum(p * p).as("spp"), sum(q * p).as("sqp"))
        .select(col("l_returnflag"),
          Portable.round(
            (col("n") * col("sqp").cast("double") - col("sq").cast("double") * col("sp").cast("double")) /
              sqrt((col("n") * col("sqq").cast("double") - col("sq").cast("double") * col("sq").cast("double")) *
                (col("n") * col("spp").cast("double") - col("sp").cast("double") * col("sp").cast("double"))), 6)
            .as("corr_qty_price"),
          col("n"))
    }),

    // ------------------------- temporal joins + portable sampling (round 3)
    // As-of join: each click gets the latest at-or-before purchase per user
    // (union + one window pass — no range-join blow-up; see ops.AsOf)
    "q69_asof" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      AsOf.asofJoin(clicks, purchases, Seq("user_id"), "ts", "pts",
          Seq("value"), prefix = "p_")
        .select(col("click_id"), col("user_id"),
          unix_micros(col("p_pts")).as("purchase_us"),
          Portable.round(col("p_value"), 4).as("purchase_value"))
    }),

    // Interval join via bucket expansion: clicks falling in 1-hour windows
    // after sampled signups (ops.RangeJoin — equi-join on bucket, no cross)
    "q70_range_join" -> ((s, d) => {
      val ev = events(s, d)
      val hourUs = 3600000000L
      val iv = ev.where(col("event_type") === "signup" && col("event_id") % 20 === 0)
        .select(col("event_id").as("iv_id"), unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + hourUs).as("end_us"))
      val pts = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
      RangeJoin.intervalJoin(pts, iv, "t_us", "start_us", "end_us", hourUs)
        .groupBy("iv_id").agg(count(lit(1)).as("n_clicks"),
          // integerize before summing: floor(v*100) is portable and the
          // BIGINT sum is order-independent (double sums are neither)
          sum(floor(col("value") * 100.0).cast("long")).as("sum_cents"))
    }),

    // Term-level TF-IDF (interpretable feature key -> full value oracle;
    // q42 keeps the hashing-trick variant)
    "q71_tfidf_terms" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      graft.lib.Features.tfIdfTerms(docs, "doc_id", "text", docs.count())
    }),

    // Stratified deterministic sample: per-stratum fractions, md5-draw
    // membership (engine-portable -> exact oracle; see ops.Sampling)
    "q72_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedHashSample(tbl(s, d, "lineitem"), col("l_returnflag"),
          concat_ws("-", col("l_orderkey"), col("l_linenumber")),
          Map("R" -> 0.25, "A" -> 0.125, "N" -> 0.0625))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))),

    // Plain Bernoulli hash sample: row-level exact oracle
    "q73_hash_sample" -> ((s, d) =>
      Sampling.hashSample(tbl(s, d, "documents"), col("doc_id"), 0.25)
        .select(col("doc_id"), col("n_chars"))),

    // Media plumbing, row-level: the mapPartitions batch transform must
    // preserve ids and report exact payload byte counts (checksum/luma stay
    // covered by q39's full-featured rows-only output)
    "q74_media_bytes" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.asMediaTable(tbl(s, d, "documents")))
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"))),

    // Pivot (explicit value list -> deterministic columns, single shuffle
    // with map-side partial aggregation)
    "q75_pivot" -> ((s, d) =>
      tbl(s, d, "orders").groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        // a (status, priority) combo with no rows pivots to null; the SQL
        // FILTER count yields 0 — align on 0
        .select(col("o_orderstatus") +:
          Seq("1-URGENT" -> "p1", "2-HIGH" -> "p2", "3-MEDIUM" -> "p3",
            "4-NOT SPECIFIED" -> "p4", "5-LOW" -> "p5").map { case (v, n) =>
            coalesce(col(s"`$v`"), lit(0L)).as(n) }: _*)),

    // A REAL Structured Streaming query in the correctness gate: file-source
    // events drained with Trigger.AvailableNow through a stateful hourly
    // aggregation (state store + Complete mode), pinned to the same oracle as
    // the batch formulation (q20). Streaming and batch must agree exactly.
    "q76_stream_hourly" -> ((s, d) => {
      val agg = withTsTimestamp(graft.streaming.Streams.parquetFileStream(s, s"$d/events.parquet"))
        .withColumn("tsx", col("ts"))
        .groupBy(
          date_format(date_trunc("hour", col("tsx")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      graft.streaming.Streams.runToCompletion(agg, s"q76_mem_${System.nanoTime}",
        statePartitions = Some(8))
    }),

    // Streaming stateful dedup in the gate: dropDuplicatesWithinWatermark
    // over the event stream (state outlives every event via a huge watermark
    // delay, so the emitted key set is exactly the distinct set), Append mode
    "q82_stream_dedup" -> ((s, d) => {
      val src = withTsTimestamp(graft.streaming.Streams.parquetFileStream(s, s"$d/events.parquet"))
        .withColumn("tsx", col("ts"))
      val dd = graft.streaming.Streams.dedupStream(
        src, "tsx", "36500 days", Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
      graft.streaming.Streams.runToCompletion(dd, s"q82_mem_${System.nanoTime}",
        org.apache.spark.sql.streaming.OutputMode.Append(), statePartitions = Some(8))
    }),

    // Streaming session windows in the gate: the same native session_window
    // plan as batch q46, run through the streaming engine (file source,
    // AvailableNow) — hash-matches q46's sessionization oracle
    "q88_stream_sessions" -> ((s, d) => {
      val src = withTsTimestamp(graft.streaming.Streams.parquetFileStream(s, s"$d/events.parquet"))
        .withColumn("tsx", col("ts"))
      val sess = graft.streaming.Streams
        .sessionAgg(src, "tsx", "user_id", "10 minutes", "36500 days")
        .select(
          date_format(col("s_start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          date_format(col("s_end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
          col("user_id"), col("n_events"))
      graft.streaming.Streams.runToCompletion(sess, s"q88_mem_${System.nanoTime}",
        statePartitions = Some(8))
    }),

    // Stream-static enrichment in the gate: event stream broadcast-joined
    // with the static customer dim (no stateful join state at all), then a
    // Complete-mode aggregation — the canonical dimension-join shape at scale
    "q89_stream_enrich" -> ((s, d) => {
      val src = withTsTimestamp(graft.streaming.Streams.parquetFileStream(s, s"$d/events.parquet"))
      val dim = tbl(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val agg = graft.streaming.Streams
        .enrich(src.withColumnRenamed("user_id", "c_custkey"), dim, Seq("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      graft.streaming.Streams.runToCompletion(agg, s"q89_mem_${System.nanoTime}",
        statePartitions = Some(8))
    }),

    // DirectorsMuses over TPC-H roles: customer "directs" its orders,
    // supplier "acts" in the orders it supplies; muses = suppliers within 1
    // of the customer's max collaboration count. Dimension names join AFTER
    // the reduction (broadcast) — the reference's 5-way join collapses to
    // one movie-key join + one count shuffle
    "q90_muses" -> ((s, d) => {
      val credits = tbl(s, d, "orders")
        .select(col("o_custkey").as("personID"), col("o_orderkey").as("movieID"),
          lit("director").as("creditType"))
        .unionByName(tbl(s, d, "lineitem")
          .select(col("l_suppkey").as("personID"), col("l_orderkey").as("movieID"),
            lit("actor").as("creditType")))
      graft.lib.Collaborations.directorsMuses(credits)
        .join(broadcast(tbl(s, d, "customer").select(col("c_custkey"), col("c_name"))),
          col("director") === col("c_custkey"))
        .join(broadcast(tbl(s, d, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("actor") === col("s_suppkey"))
        .select(col("c_name").as("director_name"), col("s_name").as("actor_name"), col("cnt"))
    }),

    // GD solver end-to-end (contract oracle): recover y = 2x + 1 from a
    // lineitem-derived exact linear relation; the driver checks the
    // convergence contract, not float weights
    "q94_linreg" -> ((s, d) => {
      import s.implicits._
      // standardized feature (~zero mean, ~unit variance for 1..50) keeps
      // the (w, bias) Hessian well-conditioned, so the decaying-rate solver
      // converges in ~20 passes instead of hundreds
      val xs = (col("l_quantity") - 25.5) / 14.43
      val data = tbl(s, d, "lineitem").select(col("l_orderkey").as("id"),
        array(xs).as("x"), (xs * 2.0 + 1.0).as("y"))
      val (w, b, losses) = graft.lib.ML.linreg(data, dim = 1, lr = 0.8, iters = 10)
      Seq((math.abs(w(0) - 2.0) < 0.1, math.abs(b - 1.0) < 0.1,
        losses.last < losses.head))
        .toDF("w_ok", "b_ok", "loss_decreasing")
    }),

    // Hive-partitioned write + pruned read-back: the filter on the partition
    // column resolves against directory names (PartitionFilters), so only
    // the 'click' partition's files are ever opened
    "q91_partition_prune" -> ((s, d) => {
      val dir = gateWorkspace(d, "part")
      val ev = events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      graft.ops.Layout.writePartitioned(ev, dir, Seq("event_type"))
      s.read.parquet(dir).where(col("event_type") === "click")
        .groupBy("user_id")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    }),

    // Single-pass portable describe (count/mean/variance/stddev/min/max in
    // one aggregation — the reference's stats/summarize banana-fusion shape)
    "q92_stats" -> ((s, d) =>
      graft.lib.Stats.describeExact(tbl(s, d, "lineitem"), "l_quantity")),

    // Int8 scalar quantization of the embedding column (absmax scaling).
    // The quantized vector goes out as a canonical CSV string: raw array
    // columns crash generic row-sorting comparators (unhashable ndarray),
    // and the string form hashes identically in any harness.
    "q93_quantize" -> ((s, d) =>
      graft.ops.Similarity.quantizeInt8(tbl(s, d, "embeddings"))
        .select(col("vec_id"),
          // micro-units: this row has never been hashed by the driver, so
          // leave it nothing float-shaped to disagree on
          floor(col("absmax") * 1e6 + 0.5).cast("long").as("absmax_micros"),
          concat_ws(",", col("qvec").cast("array<string>")).as("qvec"))),

    // Stream-stream interval self-join in the gate: both sides watermarked,
    // join state purged past the ±1h bound — the genuinely-stateful join
    // shape (not stream-static); Append mode emits matches as they join
    "q95_stream_interval_join" -> ((s, d) => {
      def src() = withTsTimestamp(
        graft.streaming.Streams.parquetFileStream(s, s"$d/events.parquet"))
        .withColumn("tsx", col("ts"))
      val l = src().select(col("user_id").as("k"), col("tsx"), col("event_id").as("lid"))
      val r = src().select(col("user_id").as("k"), col("tsx"), col("event_id").as("rid"))
      val j = graft.streaming.Streams
        .intervalJoin(l, r, "k", "k", "tsx", "tsx", "36500 days", 3600L)
        .select(col("k"), col("lid"), col("rid"))
      graft.streaming.Streams.runToCompletion(j, s"q95_mem_${System.nanoTime}",
        org.apache.spark.sql.streaming.OutputMode.Append(), statePartitions = Some(8))
    }),

    // mapGroupsWithState in the gate: per-key running (n, total, mean) via
    // custom keyed state — the MutableBag streaming analogue. One input file
    // → one micro-batch, so Update mode emits each key's final state once;
    // integer-valued doubles keep the stateful sum exact in any order
    "q96_stream_running" -> ((s, d) => {
      import s.implicits._
      val ev = withTsTimestamp(graft.streaming.Streams.parquetFileStream(s, s"$d/events.parquet"))
        .select(concat(lit("u"), col("user_id")).as("key"),
          col("ts").as("ts"),
          (col("user_id") % 7).cast("double").as("value"))
        .as[graft.streaming.Streams.KeyedEvent]
      val out = graft.streaming.Streams.runningAgg(ev).toDF()
      graft.streaming.Streams.runToCompletion(out, s"q96_mem_${System.nanoTime}",
        org.apache.spark.sql.streaming.OutputMode.Update(), statePartitions = Some(8))
    }),

    // GraphPreprocessing (IMDb examples): the labeled collaboration graph —
    // one edge per (director, actor) carrying a fold over the pair's
    // collaborations (here: n + latest movie key)
    "q97_collab_edges" -> ((s, d) => {
      val credits = tbl(s, d, "orders")
        .select(col("o_custkey").as("personID"), col("o_orderkey").as("movieID"),
          lit("director").as("creditType"))
        .unionByName(tbl(s, d, "lineitem")
          .select(col("l_suppkey").as("personID"), col("l_orderkey").as("movieID"),
            lit("actor").as("creditType")))
      graft.lib.Collaborations.collaborationEdges(credits,
        struct(count(lit(1)).as("n"), max(col("movieID")).as("last_movie")))
        .select(col("src"), col("dst"),
          col("label.n").as("n"), col("label.last_movie").as("last_movie"))
    }),

    // Gopher-style repetition quality signals (duplicate n-gram mass)
    "q77_repetition" -> ((s, d) =>
      TextAnalysis.repetitionSignals(tbl(s, d, "documents"))),

    // Benchmark decontamination: 3-gram overlap of every doc against a
    // deterministic "eval set" slice (doc_id % 97 == 0), eval shingles
    // broadcast so the corpus side never shuffles
    "q78_contamination" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      Curation.contamination(docs, docs.where(col("doc_id") % 97 === 0))
    }),

    // Sequence packing: boundary-cut pack assignment (~2048 tokens/pack)
    // inside independent hash buckets — window cumsum, no global order
    "q84_packing" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      graft.ops.Packing.packByTokens(docs, col("doc_id"),
          size(split(trim(col("text")), "\\s+")), targetTokens = 2048L,
          numBuckets = 8)
        .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack"))
    }),

    // Bloom semi-join reduction: prune lineitem by a broadcast Bloom sketch
    // of the hot-orders key set BEFORE the shuffle, then the exact semi-join
    // discards the fpp false survivors — result ≡ plain semi-join (oracle-
    // exact) but the big side shrinks at the scan, not at the join
    "q85_bloom_prefilter" -> ((s, d) => {
      val keys = tbl(s, d, "orders").where(col("o_totalprice") > 450000.0)
        .select(col("o_orderkey"))
      val reduced = graft.ops.Prefilter.bloomSemiReduce(
        tbl(s, d, "lineitem"), col("l_orderkey"), keys, col("o_orderkey"),
        expectedItems = 100000L)
      reduced.join(keys, reduced("l_orderkey") === keys("o_orderkey"), "left_semi")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // Naive Bayes fit + predict in the gate: token-length histogram features
    // (portable index), synthetic labels doc_id % 3, output = argmax
    // prediction per doc. Counts and ratios are exact in both engines; the
    // ln() only feeds an argmax, so sub-ulp libm differences cannot flip it
    "q87_naive_bayes" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val feats = docs
        .select(col("doc_id").as("id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .select(col("id"), least(length(col("tok")), lit(30)).as("index"))
        .groupBy("id", "index").agg(count(lit(1)).cast("double").as("tf"))
      val labels = docs.select(col("doc_id").as("id"), (col("doc_id") % 3).as("label"))
      val model = graft.lib.ML.naiveBayesFit(feats, labels, numFeatures = 30L)
      graft.lib.ML.naiveBayesPredict(feats, model).select(col("id"), col("pred"))
    }),

    // Weighted sample without replacement (Efraimidis–Spirakis A-ES over a
    // portable md5 draw): token-count-weighted top-50 of the documents —
    // heap top-k per partition, no global sort, same winners on any engine
    "q86_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(tbl(s, d, "documents"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("double"), 50)
        .select(col("doc_id"))),

    // Z-order (Morton) clustering value — the write-side half of 100 TB scan
    // pruning; pure bit arithmetic, exact oracle
    "q83_zorder" -> ((s, d) =>
      tbl(s, d, "orders").select(col("o_orderkey"),
        graft.ops.Layout.zorderValue(
          Seq(col("o_custkey") % 1024, col("o_orderkey") % 1024), 10).as("z"))),

    // PageRank in scaled integer arithmetic — bit-identical across engines
    // (10 fixed iterations on an orders-derived directed graph)
    "q81_pagerank" -> ((s, d) => {
      val e = tbl(s, d, "orders").where(col("o_orderkey") % 5 === 0)
        .select((col("o_custkey") % 101).as("src"), (col("o_orderkey") % 101).as("dst"))
      Graphs.pageRankScaled(e, iterations = 10)
    }),

    // PII scrub: typed redaction over deterministic PII-bearing text derived
    // from the documents table (testdata has no native PII), full-value oracle
    "q80_pii_scrub" -> ((s, d) => {
      val pii = tbl(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail"), (col("doc_id") % 7).cast("string"),
          lit(".com ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string"),
          lit(" tel +1 (555) 123-45"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0")).as("text"))
      TextAnalysis.scrubPii(pii).select(col("doc_id"),
        md5(col("clean_text")).as("clean_fp"),
        col("n_emails"), col("n_ips"), col("n_phones"))
    }),

    // Domain mixing: sample toward a target per-source distribution; the
    // per-domain fractions are computed in-plan (no driver collect) and the
    // md5-threshold membership is engine-portable
    "q79_domain_mix" -> ((s, d) =>
      Sampling.domainMix(tbl(s, d, "documents"), "source", col("doc_id"),
          mixTargets.toMap, 200L)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // ---------------------------------------------------- round-4 additions

    // Unpivot/melt: wide measure columns -> long (measure, value) rows via
    // Spark's native Unpivot plan (one scan — not a UNION of 4 self-scans)
    "q98_unpivot" -> ((s, d) =>
      tbl(s, d, "lineitem").unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "measure", "value")),

    // MERGE-style upsert (ops.Upsert): matched keys take the source version,
    // unmatched targets survive, new keys insert — one full-outer join
    "q99_merge_upsert" -> ((s, d) => {
      val c = tbl(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      val updates = c.where(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), concat(col("c_name"), lit("*")).as("c_name"),
          (col("c_acctbal") + 1000.0).as("c_acctbal"))
      val inserts = c.where(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_name"),
          col("c_acctbal"))
      graft.ops.Upsert.upsert(c, updates.unionByName(inserts), Seq("c_custkey"))
    }),

    // Bounded-frontier BFS (Graphs.bfsHops): min-hop distances from hub
    // vertices; each round joins only the NEW frontier against the edges
    "q100_bfs" -> ((s, d) => {
      val e0 = tbl(s, d, "orders")
        .select((col("o_custkey") % 211).as("src"),
          (col("o_orderkey") % 211).as("dst"))
        .where(col("src") =!= col("dst"))
      val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val sources = und.select(col("src").as("vertex"))
        .where(col("vertex") % 50 === 0).distinct()
      Graphs.bfsHops(und, sources, maxHops = 3)
    }),

    // Engine-portable higher moments: skewness/kurtosis per return flag from
    // EXACT integer power sums (l_quantity is integral); only the final
    // normalization runs in fixed-order double math, with sqrt instead of
    // pow(x,1.5) because IEEE mandates correctly-rounded sqrt but not pow
    "q101_moments" -> ((s, d) => {
      val q = col("l_quantity").cast("long")
      tbl(s, d, "lineitem").groupBy("l_returnflag").agg(
          count(lit(1)).as("n"), sum(q).as("s1"), sum(q * q).as("s2"),
          sum(q * q * q).as("s3"), sum(q * q * q * q).as("s4"))
        .selectExpr("l_returnflag" +: "n" +: momentStep1: _*)
        .selectExpr("l_returnflag" +: "n" +: "m1" +: momentStep2: _*)
        .selectExpr("l_returnflag" +: "n" +: momentStep3: _*)
    }),

    // RANGE-frame window: per customer, business within 1000.00 of each
    // order's price (integer cents -> frame sums are order-insensitive)
    "q102_range_frame" -> ((s, d) => {
      val o = tbl(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100.0).cast("long").as("cents"))
      val w = Window.partitionBy("o_custkey").orderBy(col("cents"))
        .rangeBetween(-100000L, 0L)
      o.select(col("o_orderkey"), col("o_custkey"), col("cents"),
        sum(col("cents")).over(w).as("sum_band_cents"),
        count(lit(1)).over(w).as("n_band"))
    }),

    // Mergeable distinct-count sketches: per-nation HLL sketches union'd
    // into one global estimate — the scale path for distinct counts across
    // partitions/days (sketches merge; exact sets don't). Contract: estimate
    // within 5% of the exact count (both sides deterministic)
    "q103_hll_merge" -> ((s, d) => {
      val c = tbl(s, d, "customer")
      val est = c.groupBy("c_nationkey")
        .agg(hll_sketch_agg(col("c_custkey")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      c.agg(countDistinct("c_custkey").as("exact_distinct")).crossJoin(est)
        .select(col("exact_distinct"),
          (abs(col("est") - col("exact_distinct")) <=
            col("exact_distinct").cast("double") * 0.05).as("estimate_ok"))
    }),

    // SCD2 history build (ops.Upsert.scd2): per-user event_type version
    // intervals via change-point detection + run collapse — one shuffle
    "q104_scd2" -> ((s, d) => {
      val ev = events(s, d).where(col("user_id") % 100 === 0)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("t_us"))
      graft.ops.Upsert.scd2(ev, "user_id", "event_type", Seq("t_us", "event_id"))
    }),

    // Exact heavy hitters without a full-vocabulary shuffle: per-partition
    // Misra-Gries candidates (superset guarantee) + broadcast recount
    "q105_heavy_hitters" -> ((s, d) => {
      val toks = graft.ops.Par.spread(tbl(s, d, "documents"))
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0)
      graft.ops.HeavyHitters.exactOverThreshold(toks, "tok", minFreq = 900L)
    }),

    // Streaming incremental upsert (foreachBatch + argmax-merge): maintain
    // the per-user latest event as a serving table; batch-split-invariant,
    // so the drained state must equal the batch latest-row-per-key query
    "q106_stream_upsert" -> ((s, d) => {
      val src = withTsTimestamp(graft.streaming.Streams.parquetFileStream(s, s"$d/events.parquet"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("t_us"))
      graft.streaming.Streams.latestStateUpsert(src,
        Seq("user_id"), Seq("t_us", "event_id"))
    }),

    // Time-series regularization: per-user daily grid with forward-filled
    // last observation (sequence-explode grid + two windows, all in-plan)
    "q107_resample" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("t_us"), col("value"), col("event_id"))
      graft.ops.Resample.resampleFfill(ev, "user_id", "t_us", "value",
        "event_id", stepUs = 86400000000L)
    }),

    // Higher-order array functions as a category: transform/filter/
    // aggregate/sort/distinct on the token array, all inside whole-stage
    // codegen (no explode, no shuffle — a pure map stage)
    "q108_array_funcs" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n"),
          size(filter(col("toks"), x => length(x) > 4)).cast("long").as("n_long"),
          aggregate(transform(col("toks"), x => length(x).cast("long")),
            lit(0L), (a, x) => a + x).as("total_len"),
          element_at(sort_array(col("toks")), 1).as("first_tok"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"))),

    // Fuzzy string matching: distinct-token pairs within edit distance 2,
    // first-character blocking so the pair space is per-block quadratic
    // rather than global (at corpus scale, block on a deletion-neighborhood
    // or length+prefix key — same plan shape, finer blocks)
    "q109_fuzzy_match" -> ((s, d) => {
      val toks = tbl(s, d, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0).distinct()
      val a = toks.as("a"); val b = toks.as("b")
      a.join(b, substring(col("a.tok"), 1, 1) === substring(col("b.tok"), 1, 1) &&
          col("a.tok") < col("b.tok") &&
          levenshtein(col("a.tok"), col("b.tok")) <= 2)
        .select(col("a.tok").as("tok1"), col("b.tok").as("tok2"),
          levenshtein(col("a.tok"), col("b.tok")).as("dist"))
    }),

    // Per-source percentile length cut (ops.Curation.percentileCut): drop
    // the longest 5% per source via the DISCRETE cume_dist threshold —
    // engine-portable where interpolated percentiles are not
    "q110_length_cut" -> ((s, d) =>
      graft.ops.Curation.percentileCut(
          tbl(s, d, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars", frac = 0.95)
        .select(col("doc_id"), col("source"), col("n_chars"), col("cut"))),

    // Bounded Bellman-Ford (Graphs.shortestPathsBounded): min path WEIGHT
    // within 3 hops, integer min-plus arithmetic (exact, order-insensitive)
    "q111_sssp" -> ((s, d) => {
      val e = tbl(s, d, "orders")
        .select((col("o_custkey") % 151).as("src"),
          (col("o_orderkey") % 151).as("dst"),
          (col("o_orderkey") % 7 + 1).as("w"))
        .where(col("src") =!= col("dst"))
      val sources = e.select(col("src").as("vertex"))
        .where(col("vertex") % 40 === 0).distinct()
      Graphs.shortestPathsBounded(e, sources, maxHops = 3)
    }),

    // Data-quality audit (ops.Audit): the pre-publish checks of an ingest
    // pipeline as single-pass relational plans — null rates, key-uniqueness
    // violations, referential orphans (with a deliberately broken FK side
    // so the audit has something to catch)
    "q112_audit" -> ((s, d) => {
      val li = tbl(s, d, "lineitem")
      val rates = graft.ops.Audit.nullRates(
        li.select(col("l_orderkey"),
          when(col("l_quantity") > 45, lit(null)).otherwise(col("l_quantity"))
            .as("qty_censored")),
        Seq("qty_censored"))
      val dups = graft.ops.Audit.keyDuplicates(li, Seq("l_orderkey", "l_linenumber"))
        .agg(count(lit(1)).as("dup_keys"))
      val orphans = graft.ops.Audit.referentialOrphans(
        li.withColumn("l_orderkey", col("l_orderkey") + 3), "l_orderkey",
        tbl(s, d, "orders"), "o_orderkey")
        .agg(count(lit(1)).as("n_orphans"))
      rates.crossJoin(dups).crossJoin(orphans)
        .select(col("n_rows"),
          Portable.round(col("nullrate_qty_censored"), 6).as("null_rate"),
          col("dup_keys"), col("n_orphans"))
    }),

    // Sweep-line concurrency (ops.Sweep): peak simultaneous signup sessions
    // per day — O(n log n) two-level prefix scan where the naive
    // formulation is a quadratic interval self-join
    "q113_max_concurrent" -> ((s, d) => {
      val hourUs = 3600000000L; val dayUs = 86400000000L
      val iv = events(s, d).where(col("event_type") === "signup")
        .select(unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + hourUs).as("end_us"))
      graft.ops.Sweep.concurrency(iv, "start_us", "end_us", bucketUs = dayUs)
        .where(col("delta") === 1)
        .groupBy(expr(s"t div $dayUs").as("day"))
        .agg(max("conc").as("max_conc"), count(lit(1)).as("n_starts"))
    }),

    // Aggregation-based argmax: top-1 per group as max(struct(ordering...))
    // — map-side combinable, no sort, no window shuffle+sort; THE top-1
    // pattern at scale (a window row_number pays a full sort per partition)
    "q114_argmax_agg" -> ((s, d) =>
      tbl(s, d, "orders").groupBy("o_custkey")
        .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"), col("m.o_orderkey").as("best_order"),
          col("m.o_totalprice").as("best_price"))),

    // Ordered aggregation: per-user event-type sequence (first 5, by time)
    // — collect_list carries no order, so the portable form is
    // sort_array over structs whose leading fields are the sort key
    "q115_ordered_collect" -> ((s, d) => {
      val ev = events(s, d).where(col("user_id") % 50 === 0)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("event_id"), col("event_type"))
      // first5 leaves as a CSV string, not an array — see q93's rationale
      ev.groupBy("user_id").agg(
        concat_ws(",", slice(transform(
            array_sort(collect_list(struct(col("t_us"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), 1, 5)).as("first5"),
        count(lit(1)).as("n_events"))
    }),

    // Null-handling surface (DataFrameNaFunctions): fill / replace / drop
    // over injected nulls, then an integer-cents aggregate
    "q116_na_handling" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        when(col("value") < 1.0, lit(null)).otherwise(col("value")).as("v"),
        when(col("event_type") === "click", lit(null)).otherwise(col("event_type"))
          .as("et"))
      ev.na.fill(Map("v" -> -5.0))
        .na.replace("et", Map("signup" -> "SIGNUP"))
        .na.drop(Seq("et"))
        .groupBy("et").agg(count(lit(1)).as("n"),
          sum(floor(col("v") * 100.0).cast("long")).as("sum_cents"))
    }),

    // Pure-SQL entry point: TPC-H Q3-style shipping priority through
    // spark.sql over registered views — the same declarative text a SQL
    // user would run, planned by the same session (incl. our extensions)
    "q117_sql_entry" -> ((s, d) => {
      tbl(s, d, "customer").createOrReplaceTempView("v_customer")
      tbl(s, d, "orders").createOrReplaceTempView("v_orders")
      tbl(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT o_orderkey,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_lines
          |FROM v_customer JOIN v_orders ON c_custkey = o_custkey
          |  JOIN v_lineitem ON o_orderkey = l_orderkey
          |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
          |GROUP BY o_orderkey
          |ORDER BY revenue DESC, o_orderkey
          |LIMIT 10""".stripMargin)
    }),

    // Multiple DISTINCT aggregates in one pass — Catalyst plans this with
    // Expand (one input replica per distinct set), the scalable alternative
    // to self-joining per distinct column
    "q118_multi_distinct" -> ((s, d) =>
      tbl(s, d, "lineitem").groupBy("l_returnflag").agg(
        countDistinct("l_orderkey").as("d_orders"),
        countDistinct("l_partkey").as("d_parts"),
        countDistinct("l_suppkey", "l_partkey").as("d_supp_part"),
        count(lit(1)).as("n"))),

    // Correlated EXISTS subquery (SQL surface) — Catalyst decorrelates to a
    // semi-join; the text stays declarative
    "q119_exists_subquery" -> ((s, d) => {
      tbl(s, d, "orders").createOrReplaceTempView("v_orders2")
      tbl(s, d, "lineitem").createOrReplaceTempView("v_lineitem2")
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM v_orders2 o
          |WHERE EXISTS (SELECT 1 FROM v_lineitem2 l
          |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
          |  AND NOT EXISTS (SELECT 1 FROM v_lineitem2 l
          |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
          |""".stripMargin)
    }),

    // Schema evolution: unionByName(allowMissingColumns) across two vintages
    // of a table (old rows lack the new column -> NULL-filled)
    "q120_union_by_name" -> ((s, d) => {
      val v1 = tbl(s, d, "customer").where(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name")
      val v2 = tbl(s, d, "customer").where(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      v1.unionByName(v2, allowMissingColumns = true)
    }),

    // Multiset bag algebra: EXCEPT ALL subtracts multiplicities (the true
    // bag-difference for a duplicate-respecting DataBag)
    "q121_except_all" -> ((s, d) => {
      import s.implicits._
      val a = DataBag.from(tbl(s, d, "lineitem").where(col("l_quantity") > 25)
        .select(col("l_returnflag"), col("l_linestatus")).as[(String, String)])
      val b = DataBag.from(tbl(s, d, "lineitem").where(col("l_quantity") > 40)
        .select(col("l_returnflag"), col("l_linestatus")).as[(String, String)])
      a.exceptAll(b).ds.toDF("rf", "ls")
        .groupBy("rf", "ls").agg(count(lit(1)).as("n"))
    }),

    // Multiset bag algebra: INTERSECT ALL takes the minimum multiplicity
    "q122_intersect_all" -> ((s, d) => {
      import s.implicits._
      val a = DataBag.from(tbl(s, d, "lineitem").where(col("l_quantity") > 25)
        .select(col("l_returnflag"), col("l_linestatus")).as[(String, String)])
      val b = DataBag.from(tbl(s, d, "lineitem").where(col("l_quantity") > 40)
        .select(col("l_returnflag"), col("l_linestatus")).as[(String, String)])
      a.intersectAll(b).ds.toDF("rf", "ls")
        .groupBy("rf", "ls").agg(count(lit(1)).as("n"))
    }),

    // Exact k-per-group deterministic sample, served by the bounded-heap
    // TopKPerKey path (row-identical to the window form — SkewSpec pins
    // the differential): winners are a pure function of the ids —
    // row-level oracle equality
    "q123_exact_k_sample" -> ((s, d) =>
      Sampling.stratifiedExactKFast(
        tbl(s, d, "documents").select("doc_id", "source"),
        "source", col("doc_id"), k = 20)),

    // ANSI-safety surface: Spark 4 runs ANSI mode (÷0 and overflow THROW);
    // try_* is the explicit opt-out that yields NULL instead — the contract
    // a pipeline needs when dirty data must not kill a 6-hour job
    "q124_try_arithmetic" -> ((s, d) =>
      tbl(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        expr("try_divide(l_extendedprice, l_quantity - 25.0)").as("per_unit_off25"),
        expr("try_add(abs(l_orderkey) + 1, 9223372036854775807)").as("overflow_null"),
        expr("try_to_number(l_returnflag, '9')").cast("double").as("not_a_number"))),

    // Malformed-input resilience: schema'd CSV read in DROPMALFORMED mode
    // discards exactly the injected garbage lines; the aggregate over the
    // survivors must equal the clean source table's
    "q125_csv_malformed" -> ((s, d) => {
      val dir = gateWorkspace(d, "badcsv")
      val good = tbl(s, d, "nation").select(concat_ws("|",
        col("n_nationkey"), col("n_name"), col("n_regionkey")).as("value"))
      val bad = s.createDataset(Seq(
        "not|a|number|extra|cols", "xx|broken", "|||", "1|only-two"))(
        org.apache.spark.sql.Encoders.STRING).toDF("value")
      good.unionAll(bad).coalesce(1).write.mode("overwrite").text(dir)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("sep", "|").option("mode", "DROPMALFORMED").csv(dir)
        .where(col("n_regionkey").isNotNull) // partial casts survive DROPMALFORMED
        .agg(count(lit(1)).as("n"), sum("n_nationkey").as("sum_keys"),
          sum("n_regionkey").as("sum_regions"))
    }),

    // ORC round-trip: third columnar format beside parquet/csv/text
    "q126_orc_roundtrip" -> ((s, d) => {
      val dir = gateWorkspace(d, "orc")
      tbl(s, d, "supplier").write.mode("overwrite").orc(dir)
      s.read.orc(dir).agg(count(lit(1)).as("n"),
        countDistinct("s_nationkey").as("n_nations"),
        sum(floor(col("s_acctbal") * 100.0).cast("long")).as("bal_cents"))
    }),

    // JSON-lines round-trip (schema'd read back — no sampling inference)
    "q127_json_roundtrip" -> ((s, d) => {
      val dir = gateWorkspace(d, "jsonl")
      val part = tbl(s, d, "part").select("p_partkey", "p_name", "p_retailprice")
      part.write.mode("overwrite").json(dir)
      s.read.schema(part.schema).json(dir)
        .agg(count(lit(1)).as("n"),
          sum(floor(col("p_retailprice") * 100.0).cast("long")).as("price_cents"),
          max(length(col("p_name"))).as("max_name_len"))
    }),

    // Incremental aggregate maintenance (ops.Incremental): state built from
    // history + today's delta partials merged ≡ the full recompute — the
    // 100 TB path where publishing a table touches one day, not three years
    "q128_incremental_agg" -> ((s, d) => {
      val ev = events(s, d).select(
        (col("user_id") % 100).as("bucket"), unix_micros(col("ts")).as("t_us"),
        floor(col("value") * 100.0).cast("long").as("cents"))
      val cutoff = ev.agg(expr("percentile(t_us, 0.8)")).head().getDouble(0)
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("bucket").agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      graft.ops.Incremental.mergeAdditive(
        partial(ev.where(col("t_us") < cutoff)),
        partial(ev.where(col("t_us") >= cutoff)),
        Seq("bucket"), Seq("n", "sum_cents"))
    }),

    // Grouped closed-form OLS (ML.linregByGroup): per-segment trend in ONE
    // combinable aggregation — no per-group solver loop; integral x/y keep
    // every power sum exact in both engines
    "q129_linreg_by_group" -> ((s, d) =>
      graft.lib.ML.linregByGroup(
        tbl(s, d, "lineitem").select(col("l_returnflag"),
          col("l_quantity").as("x"),
          floor(col("l_extendedprice") * 100.0).as("y")),
        "l_returnflag", "x", "y")),

    // Numeric histogram: fixed-width value buckets in one combinable
    // aggregation (the profile-a-column primitive behind every data-quality
    // dashboard); integral bucket math — no binning-boundary float drift
    "q130_histogram" -> ((s, d) =>
      tbl(s, d, "orders")
        .groupBy((floor(col("o_totalprice") / 50000.0).cast("long") * 50000L).as("bucket_lo"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100.0).cast("long")).as("sum_cents"))),

    // FILTER-clause aggregates (SQL surface): per-flag conditional
    // aggregation without self-joins or CASE pyramids
    "q131_filtered_agg" -> ((s, d) => {
      tbl(s, d, "lineitem").createOrReplaceTempView("v_li131")
      s.sql(
        """SELECT l_returnflag,
          |  COUNT(*) AS n,
          |  COUNT(*) FILTER (WHERE l_quantity > 25.0) AS n_heavy,
          |  SUM(CAST(floor(l_extendedprice * 100.0) AS BIGINT))
          |    FILTER (WHERE l_linestatus = 'F') AS cents_f,
          |  MIN(l_quantity) FILTER (WHERE l_tax > 0.05) AS min_qty_taxed
          |FROM v_li131 GROUP BY l_returnflag""".stripMargin)
    }),

    // Point-in-time (temporal) join: facts against an SCD2 dimension —
    // each purchase sees the event_type VERSION active at its timestamp
    // (ops.Upsert.scd2 composed with ops.AsOf.asofJoin; no interval
    // blow-up, one window pass)
    "q132_scd2_join" -> ((s, d) => {
      val ev = events(s, d).where(col("user_id") % 20 === 0)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("t_us"))
      val hist = graft.ops.Upsert.scd2(ev, "user_id", "event_type",
          Seq("t_us", "event_id"))
        .select(col("user_id"), col("valid_from"), col("event_type"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("fact_id"), col("user_id"), col("t_us"))
      AsOf.asofJoin(facts, hist, Seq("user_id"), "t_us", "valid_from",
          Seq("event_type"), prefix = "v_")
        .select(col("fact_id"), col("user_id"), col("t_us"),
          col("v_event_type").as("active_version"))
    }),

    // Schema drift between two table vintages (ops.Audit.schemaDiff):
    // added / removed / type-changed columns — the accept-or-quarantine
    // check when an upstream delivery's schema moves; metadata-only
    "q134_schema_drift" -> ((s, d) => {
      val v1 = tbl(s, d, "customer").select("c_custkey", "c_name", "c_mktsegment")
      val v2 = tbl(s, d, "customer").select(
        col("c_custkey").cast("double"), col("c_name"), col("c_acctbal"))
      graft.ops.Audit.schemaDiff(v1, v2)
    }),

    // SimHash near-dup PAIR join on the portable fingerprint: hamming
    // distance via bit_count(xor) within a bounded id window — completes
    // the simhash pipeline end-to-end (q68 gates the signatures)
    "q133_simhash_pairs" -> ((s, d) => {
      val sig = Dedup.simhashPortable(tbl(s, d, "documents"))
      val a = sig.as("a"); val b = sig.as("b")
      a.join(b, col("b.doc_id") > col("a.doc_id") &&
          col("b.doc_id") - col("a.doc_id") <= 10)
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
        .where(col("hamming") <= 4)
    }),

    // The reference's ClickCountDiffs daily loop (emma-examples
    // ClickCountDiffs.scala:24-53) over the events table: one week of
    // per-page click counts, each day full-outer-diffed against the
    // previous (absent page = 0). The loop is the library's `diffs` core —
    // per-day counts are distributed aggregations; only the per-day scalar
    // totals land on the driver.
    "q135_clickcount_diffs" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select(
          dayofmonth(col("ts")).as("day"),
          (col("user_id") % 200).as("page"))
        .where(col("day") <= 7)
      val days = (1 to 7).map(i => (i, ev.where(col("day") === i).select("page")))
      graft.lib.ClickCountDiffs.diffs(days).toDF("day", "abs_diff")
    }),

    // Self-trained bigram-LM quality score (the CCNet/Gopher perplexity
    // filter shape): per-bigram log-probs are micro-rounded integers before
    // the per-doc sum, so the whole score is order-independent and has an
    // exact DuckDB twin
    "q136_bigram_lm" -> ((s, d) =>
      graft.ops.TextAnalysis.bigramLogProb(tbl(s, d, "documents"))),

    // Token-bounded overlapping chunking (context-window prep): pure
    // sequence+slice columnar explode, no shuffle
    "q137_chunking" -> ((s, d) =>
      graft.ops.Packing.chunkByTokens(tbl(s, d, "documents"),
        chunkTokens = 64, overlap = 16)),

    // Per-dimension vector stats (reference stat-over-DVector): micro-unit
    // integers summed exactly — one map-side-combinable agg keyed by dim
    "q138_vector_stats" -> ((s, d) =>
      graft.lib.Stats.describeVector(tbl(s, d, "embeddings"))),

    // Canonical text normalization (native codegen'd NFC + lower + trim +
    // whitespace collapse) — the pre-hash canonical form, value-checked
    // through md5 of every normalized document
    "q139_normalize" -> ((s, d) =>
      tbl(s, d, "documents").select(col("doc_id"),
        md5(graft.ops.TextAnalysis.normalize(col("text"))).as("norm_md5"),
        length(graft.ops.TextAnalysis.normalize(col("text"))).as("norm_len"))),

    // Schema-evolution read: two parquet vintages with different columns
    // (v2 adds c_acctbal, drops c_mktsegment) unioned by mergeSchema at
    // scan time — absent columns surface as NULLs, the production contract
    // for reading a table whose delivery schema moved mid-history
    "q140_merge_schema" -> ((s, d) => {
      val dir = gateWorkspace(d, "evolve")
      val c = tbl(s, d, "customer")
      c.where(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$dir/v=1")
      c.where(col("c_custkey") % 2 === 1)
        .select("c_custkey", "c_name", "c_acctbal")
        .write.mode("overwrite").parquet(s"$dir/v=2")
      s.read.option("mergeSchema", "true").parquet(dir)
        .agg(count(lit(1)).as("n"),
          count(col("c_mktsegment")).as("n_seg"),
          count(col("c_acctbal")).as("n_bal"),
          sum(floor(col("c_acctbal") * 100.0).cast("long")).as("bal_cents"))
    }),

    // ---------------------------------- event-sequence analytics (round 5)
    "q141_funnel" -> ((s, d) => {
      graft.ops.Analytics.funnel(events(s, d), "user_id", "ts", Seq(
        "view" -> (col("event_type") === "view"),
        "big_click" -> (col("event_type") === "click" && col("value") > 100.0),
        "big_purchase" -> (col("event_type") === "purchase" && col("value") > 300.0)))
    }),

    "q142_retention" -> ((s, d) => {
      graft.ops.Analytics.retentionCohorts(
        events(s, d), "user_id",
        to_date(col("ts")))
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("day_offset"), col("users"))
    }),

    "q143_intervals" -> ((s, d) => {
      val iv = tbl(s, d, "lineitem")
        .where(col("l_partkey") % 7 === 0 && col("l_quantity") <= 3)
        .select(col("l_suppkey"),
          to_date(col("l_shipdate")).as("s"),
          date_add(to_date(col("l_shipdate")),
            col("l_quantity").cast("int")).as("e"))
      graft.ops.Ordered.mergeIntervals(iv, "l_suppkey", "s", "e")
        .select(col("l_suppkey"),
          date_format(col("island_start"), "yyyy-MM-dd").as("island_start"),
          date_format(col("island_end"), "yyyy-MM-dd").as("island_end"),
          col("n_intervals"))
    }),

    "q144_skyline" -> ((s, d) => {
      val pts = tbl(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec2)).as("spend"))
      graft.ops.Ordered.skyline2D(pts, "n_orders", "spend")
        .select(col("o_custkey"), col("n_orders"),
          col("spend").cast("double").as("spend"))
    }),

    // Token-distribution Shannon entropy per document; per-term c·ln(c)
    // micro-rounded to integers before summation (order-independent,
    // engine-portable), final expression mirrored verbatim by the oracle
    "q145_entropy" -> ((s, d) =>
      graft.ops.TextAnalysis.tokenEntropy(tbl(s, d, "documents"))
        .select("doc_id", "n_tokens", "ent_micros")),

    // Count-min sketch contract: estimates never undercount, and every
    // depth row of the sketch conserves total item mass EXACTLY. xxhash64
    // has no DuckDB twin, so (as q35) the gate checks the deterministic
    // contract; the oracle recomputes the key stats straight from lineitem.
    "q146_cms" -> ((s, d) => {
      val keys = tbl(s, d, "lineitem").select(col("l_partkey"))
      val sk = graft.ops.Sketches.countMinSketch(keys, col("l_partkey"))
      val truth = keys.groupBy("l_partkey").agg(count(lit(1)).as("tc"))
      val est = graft.ops.Sketches.cmsEstimate(
        sk, truth.select("l_partkey"), col("l_partkey"))
      val perKey = truth.join(est, col("l_partkey") === col("k"))
        .agg(count(lit(1)).as("n_keys"), sum("tc").as("total"),
          every(col("est") >= col("tc")).as("never_under"))
      val mass = sk.groupBy("d").agg(sum("cnt").as("m"))
        .agg(collect_set("m").as("masses"))
      perKey.crossJoin(mass)
        .select(col("n_keys"), col("total"), col("never_under"),
          (size(col("masses")) === 1 &&
            element_at(col("masses"), 1) === col("total")).as("mass_conserved"))
    }),

    // Approx-quantile (GK sketch, Spark's mergeable approx_percentile)
    // contract: each returned value is an OBSERVED element whose empirical
    // rank is within eps of the target percentile. The sketch values are
    // engine-specific; the rank bound is deterministic given the data, so
    // the gate checks it exactly (the q51 approx-distinct pattern).
    "q147_approx_quantiles" -> ((s, d) => {
      val li = tbl(s, d, "lineitem")
        .select(col("l_extendedprice").cast("double").as("x"))
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val ap = li.agg(expr(
        "approx_percentile(x, array(0.25, 0.5, 0.75, 0.95), 1000)").as("ap"))
        .head().getSeq[Double](0)
      val eps = 0.01 // accuracy=1000 → rank error 1e-3; 10x slack
      val checks = ps.zip(ap).zipWithIndex.map { case ((p, v), i) =>
        ((count(when(col("x") < v, 1)) <= count(lit(1)) * (p + eps)) &&
          (count(when(col("x") <= v, 1)) >= count(lit(1)) * (p - eps)) &&
          (count(when(col("x") === v, 1)) > 0)).as(s"p${(p * 100).toInt}_ok")
      }
      li.agg(count(lit(1)).as("n"), checks: _*)
    }),

    // Incremental near-dup: the new batch (doc_id % 5 == 0) probes the
    // corpus (the rest) through its persisted LSH band index — the corpus
    // text is shingled only for docs in hit buckets, so cost tracks the
    // batch, not the corpus
    "q148_incremental_dedup" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      val idx = Dedup.lshBands(corpus)
      graft.ops.Curation.incrementalNearDups(
        corpus, idx, docs.where(col("doc_id") % 5 === 0), minJaccard = 0.2)
    }),

    // Cross-document duplicated-n-gram fraction (corpus boilerplate signal)
    "q149_dup_ngrams" -> ((s, d) =>
      graft.ops.TextAnalysis.dupNgramFraction(tbl(s, d, "documents"))),

    // Distributed BPE vocabulary training. The merge sequence is
    // deterministic (lexicographic tie-break; BpeSpec pins it to a
    // sequential textbook twin); the driver gate checks the corpus-level
    // contract: exact pre-merge symbol count, the requested merge count,
    // distinct merges, and ≥2-tokens-saved-per-merge compression
    "q150_bpe" -> ((s, d) => {
      import s.implicits._
      val (merges, words) = graft.ops.Bpe.train(tbl(s, d, "documents"), numMerges = 10)
      val ms = merges.select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val before = graft.ops.Bpe.wordSymbols(tbl(s, d, "documents"))
        .selectExpr("sum(size(syms) * cnt) AS s").head().getLong(0)
      val after = words.selectExpr("sum(size(syms) * cnt) AS s").head().getLong(0)
      Seq((before, ms.length.toLong, ms.distinct.length == ms.length,
        after <= before - 2 * ms.length))
        .toDF("tokens_before", "n_merges", "merges_distinct", "compression_ok")
    }),

    // Dedup on INGEST: the new batch arrives as a STREAM and probes the
    // corpus's static LSH index incrementally — must produce exactly the
    // batch incremental-probe pairs (same oracle SQL as q148)
    "q151_stream_dedup_probe" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      // ONE corpus tokenize pass builds both artifacts (band index +
      // shingle store) — they were two full scans (r16, guide §2.4); the
      // views stay cheap reads over the fused checkpoint across batches
      val (idx, corpusSh) = Dedup.lshIndexAndShingleStore(corpus)
      val stream = graft.streaming.Streams
        .parquetFileStream(s, s"$d/documents.parquet")
        .where(col("doc_id") % 5 === 0)
      graft.streaming.Streams.incrementalDedupProbe(
        stream, corpusSh, idx, minJaccard = 0.2,
        queryName = s"q151_mem_${System.nanoTime}")
    }),

    // Exact duplicated-span detection: maximal per-doc runs of corpus-hot
    // shingles (the substring-dedup cut list)
    "q152_dup_spans" -> ((s, d) =>
      graft.ops.TextAnalysis.duplicatedSpans(
        tbl(s, d, "documents"), n = 3, minDocs = 2)),

    // End-to-end corpus → training-examples pipeline: curation keep-list
    // (quality + language + exact dedup) → overlapping context-window
    // chunks → token-budgeted pack assignment. Every stage is an already-
    // gated operator; this gates their COMPOSITION full-value
    "q153_training_examples" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val keep = graft.ops.Curation.keepList(docs,
        lang = "en", minTokens = 10, maxTokens = 1000, minAlpha = 0.5)
        .select("doc_id")
      val chunks = graft.ops.Packing.chunkByTokens(
        docs.join(keep, "doc_id"), chunkTokens = 64, overlap = 16)
      graft.ops.Packing.packByTokens(chunks,
        key = col("doc_id") * 1000 + col("chunk_no"),
        tokenCount = col("chunk_tokens"), targetTokens = 512, numBuckets = 8)
        .select(col("doc_id"), col("chunk_no"), col("chunk_tokens"),
          col("bucket"), col("pack"))
    }),

    // Small-file compaction: 64-way fragmented write → compact() → few
    // right-sized files, zero row loss (count + per-column sums re-checked
    // against the source table by the oracle)
    "q154_compaction" -> ((s, d) => {
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(BenchMode.scratchDir), "graft_compact").toString
      try {
        tbl(s, d, "orders").repartition(64)
          .write.mode("overwrite").parquet(s"$base/frag")
        val nOut = graft.ops.Layout.compact(s, s"$base/frag", s"$base/tight",
          targetBytes = 8L << 20)
        val r = s.read.parquet(s"$base/tight")
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(dec2)).cast("double").as("price_sum"))
          .head()
        Seq((r.getLong(0), r.getLong(1), r.getDouble(2), nOut <= 8))
          .toDF("n", "key_sum", "price_sum", "few_files")
      } finally {
        // eager result above ⇒ the temp tree is disposable here; repeated
        // correctness/bench/soak runs must not accumulate under /tmp
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),

    // REAL WAV round trip: deterministic PCM16 waveform → RIFF/WAVE encode
    // (JDK AudioSystem) → real header+stream decode → integer features the
    // oracle recomputes from doc_id alone
    "q155_audio_features" -> ((s, d) =>
      graft.ops.Multimodal.extractAudioFeatures(
        graft.ops.Multimodal.asWavMediaTable(tbl(s, d, "documents")))),

    // The full dedup INGEST LOOP over persisted artifacts: batch A probes
    // the corpus index, the index+shingle store are extended with A, then
    // batch B probes the extended index (so B×A dups are caught) — corpus
    // text is never read after the initial index build
    "q156_dedup_ingest_loop" -> ((s, d) => {
      import graft.ops.Curation
      val docs = tbl(s, d, "documents")
      val corpus = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 4)
      val a = docs.where(col("doc_id") % 5 === 0)
      val b = docs.where(col("doc_id") % 5 === 4)
      // ONE corpus tokenize pass builds both initial artifacts (r16) —
      // band index and shingle store were two full corpus scans
      val (idx0, store0) = Dedup.lshIndexAndShingleStore(corpus)
      // fused probe+extend: each batch's bands and hashed shingles are
      // computed ONCE and shared by the probe join, verification, and the
      // extended artifacts (the probe/extend pair used to recompute them —
      // r13 ProfileGates12 showed duplicate signature checkpoints per batch)
      val (pairsA, idx1, store1) = Curation.ingestBatch(idx0, store0, a, minJaccard = 0.2)
      val (pairsB, _, _) = Curation.ingestBatch(idx1, store1, b, minJaccard = 0.2)
      pairsA.unionByName(pairsB)
    }),

    // REAL multi-frame (video-like) round trip: animated GIF through the
    // JDK's ImageIO sequence writer+reader; frame count, dims, summed
    // per-frame luma recomputed by the oracle from doc_id alone
    "q157_video_features" -> ((s, d) =>
      graft.ops.Multimodal.extractVideoFeatures(
        graft.ops.Multimodal.asGifMediaTable(tbl(s, d, "documents")))),

    // Mixed-modality pipeline: PNG/WAV/GIF rows interleaved in ONE media
    // table (doc_id offset per modality keeps ids unique), features
    // extracted by per-row decoder dispatch in a single pass
    "q158_mixed_media" -> ((s, d) => {
      import graft.ops.Multimodal
      val docs = tbl(s, d, "documents")
      val png = Multimodal.asPngMediaTable(docs.where(col("doc_id") % 3 === 0))
      val wav = Multimodal.asWavMediaTable(docs.where(col("doc_id") % 3 === 1))
      val gif = Multimodal.asGifMediaTable(docs.where(col("doc_id") % 3 === 2))
      Multimodal.extractAllFeatures(png.unionByName(wav).unionByName(gif))
    }),

    // Production-vocabulary BPE: a 1200-merge vocabulary trained on a
    // derived corpus (words suffixed with doc_id % 64 → ~2k distinct
    // words) via the driver-side histogram trainer, applied by the
    // single-pass heap encoder. Contract: exact pre-merge token mass
    // (DuckDB-recomputed), full merge count, bit-identical 50-merge parity
    // between the nested-Column and single-pass encoders (checksummed),
    // encoder token mass == trainer's final histogram mass (two
    // independent paths), distributed-trainer twin agreement, and ≥2
    // tokens saved per merge
    "q159_bpe_encode_fast" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Bpe
      val corpus = tbl(s, d, "documents").select(col("doc_id"),
        concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
          w => concat(w, lit("_"), (col("doc_id") % 64).cast("string")))).as("text"))
        .localCheckpoint()
      val (mergesDf, wordsFinal) = Bpe.trainLocal(corpus, numMerges = 1200)
      val ms = mergesDf.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val tokensBefore = Bpe.wordSymbols(corpus)
        .selectExpr("sum(size(syms) * cnt) AS s").head().getLong(0)
      val tokensTrain = wordsFinal.selectExpr("sum(size(syms) * cnt) AS s").head().getLong(0)
      val tokensFast = Bpe.encodeFast(corpus, ms)
        .selectExpr("sum(size(tokens)) AS s").head().getLong(0)
      def chk(df: DataFrame): (java.math.BigDecimal, Long) = {
        val r = df.select(
          sum(xxhash64(col("doc_id").cast("long"), col("pos").cast("int"),
            col("tokens")).cast("decimal(38,0)")).as("h"),
          count(lit(1)).as("n")).head()
        (r.getDecimal(0), r.getLong(1))
      }
      // parity on a 1/10 corpus slice: the nested-Column path costs
      // O(words · merges), and BpeSpec already fuzzes per-word parity on
      // arbitrary tables — the gate pins bit-exact agreement on real data.
      // Both witnesses (parity + the distributed-train twin) are contract
      // checks, not production work: under BenchMode.witnesses=off (bench
      // only; Verify always runs them) they are skipped so a bench rep
      // measures the production path — train + encodeFast + token counts
      val m50 = ms.take(50)
      val slice = corpus.where(col("doc_id") % 10 === 0)
      val parity50 = !BenchMode.witnesses ||
        chk(Bpe.encode(slice, m50)) == chk(Bpe.encodeFast(slice, m50))
      // localThreshold=0 forces the DISTRIBUTED loop: the twin witness must
      // exercise a different code path than trainLocal, or it's vacuous
      val twinOk = !BenchMode.witnesses || {
        val (mDist, _) = Bpe.train(corpus, numMerges = 8, localThreshold = 0)
        mDist.orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq == ms.take(8)
      }
      Seq((tokensBefore, ms.length.toLong, parity50, tokensFast == tokensTrain,
        twinOk, tokensBefore - tokensFast >= 2L * ms.length))
        .toDF("tokens_before", "n_merges", "parity_50", "tokens_match",
          "train_twin_ok", "compression_ok")
    }),

    // CORPUS-WIDE simhash near-dup pairs by multi-probe banded candidate
    // generation — unlike q133's bounded id-window formulation, recall here
    // is guaranteed for EVERY pair at hamming ≤ 2 (pigeonhole over 3
    // fingerprint blocks), so the oracle is the full brute-force all-pairs
    // hamming filter with no window clause
    "q160_simhash_banded" -> ((s, d) =>
      Dedup.simhashNearDupsPortable(tbl(s, d, "documents"), maxHamming = 2)),

    // Auto-cache scope (the reference compiler's cache-insertion pass,
    // re-expressed as a runtime scope): a diamond over one typed bag —
    // filter-count on one arm, fold-sum on the other — must compute the
    // shared upstream node ONCE. The accumulator in the shared map stage
    // counts actual recomputations, so `scanned_once` is an end-to-end
    // proof, and the two arms' values are DuckDB-recomputed
    "q161_auto_cache" -> ((s, d) => {
      import s.implicits._
      val acc = s.sparkContext.longAccumulator(s"q161_${System.nanoTime}")
      val base = graft.api.DataBag.from(
        tbl(s, d, "lineitem")
          .select(col("l_quantity").cast("double"),
            (col("l_extendedprice").cast(dec2) * 100).cast("long"))
          .as[(Double, Long)])
        .map { x => acc.add(1L); x }
      val (nHigh, cents) = graft.api.AutoCache.scope { _ =>
        val high = base.withFilter(_._1 > 30.0) // 1st consumption
        val price = base.map(_._2)              // 2nd → base persisted
        (high.size, price.sum)
      }
      val rows = tbl(s, d, "lineitem").count()
      Seq((nHigh, cents, acc.value == rows))
        .toDF("n_high", "price_cents", "scanned_once")
    }),

    // Simhash dedup-on-INGEST: the corpus's multi-probe band index is
    // persisted once; a new batch probes it with ONE equi-join — corpus
    // fingerprints never recomputed, recall guaranteed at the hamming
    // bound, so the oracle is the full brute-force new×corpus hamming
    // filter (the simhash mirror of the LSH q148/q151 ingest family)
    "q162_simhash_ingest" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val corpusSig = Dedup.simhashPortable(docs.where(col("doc_id") % 5 =!= 0))
      val batchSig = Dedup.simhashPortable(docs.where(col("doc_id") % 5 === 0))
      val idx = Dedup.simhashProbes(corpusSig, 16, maxHamming = 2).localCheckpoint()
      Dedup.probeSimhashIndex(idx,
        Dedup.simhashProbes(batchSig, 16, maxHamming = 2), maxHamming = 2)
    }),

    // Tokenizer END-TO-END: train 40 merges, build the id vocabulary
    // (|alphabet| + |merges| ids), encode the corpus to integer ids, and
    // verify the DECODE roundtrip distributed: every word's ids decode
    // back to exactly its original characters — counts, char mass, and
    // vocab size are DuckDB-recomputed
    "q163_tokenizer_ids" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Bpe
      val docs = tbl(s, d, "documents")
      val (m, _) = Bpe.trainLocal(docs, numMerges = 40)
      val ms = m.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val voc = Bpe.vocab(Bpe.corpusChars(docs), ms)
      val inv = voc.map(_.swap).toMap
      val bcInv = s.sparkContext.broadcast(inv)
      val ids = Bpe.encodeToIds(docs, ms, voc)
      val words = docs.select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
        .where(length(col("w")) > 0)
        .select(col("doc_id").cast("long"), col("pos"), col("w"))
      val r = ids.join(words, Seq("doc_id", "pos"))
        .as[(Long, Int, Seq[Int], String)]
        .mapPartitions { it =>
          val dec = bcInv.value
          it.map { case (_, _, idseq, w) =>
            val ok = idseq.forall(_ >= 0) &&
              idseq.map(dec).mkString == w
            (1L, w.length.toLong, if (ok) 0L else 1L)
          }
        }
        .toDF("n", "chars", "bad")
        .agg(sum("n").as("n_words"), sum("chars").as("decoded_chars"),
          sum("bad").as("bad")).head()
      Seq((r.getLong(0), r.getLong(1), voc.size.toLong, r.getLong(2) == 0L))
        .toDF("n_words", "decoded_chars", "vocab_size", "roundtrip_ok")
    }),

    // Char ENCODER end-to-end (the element type the reference documents as
    // unsupported on Spark — emma DataBagSpec.scala:426): text → typed
    // DataBag[Char] via graft.api.encoders.charEncoder (flatMap needs a real
    // Encoder[Char]) → the stored INT code-unit column aggregates natively
    "q164_char_histogram" -> ((s, d) => {
      import graft.api.encoders.charEncoder
      import graft.api.RichDataset
      val texts = tbl(s, d, "documents")
        .select(substring(col("text"), 1, 100).as("t"))
        .as[String](s.implicits.newStringEncoder).toBag
      val chars: DataBag[Char] = texts.flatMap(t => t.toSeq)
      chars.ds.toDF("code")
        .groupBy("code").agg(count(lit(1)).as("cnt"))
        .select(col("code").cast("int"), col("cnt"))
    }),

    // Enumeration ENCODER end-to-end: order priorities as a typed
    // Dataset[Priority.Value] (encode = name string on write), then a typed
    // map BACK OUT of the enum (decode = withName on read) carrying the
    // declaration-order id — both directions cross the wire
    "q165_enum_priority" -> ((s, d) => {
      implicit val penc = graft.api.encoders.enumeration(Priority)
      import s.implicits._
      val pri = tbl(s, d, "orders")
        .select(col("o_orderpriority").cast("string"))
        .as[String].map(Priority.withName(_))
      pri.map(v => (v.toString, v.id)).toDF("priority", "pid")
        .groupBy("priority", "pid").agg(count(lit(1)).as("cnt"))
        .select(col("priority"), col("pid").cast("int"), col("cnt"))
    }),

    // Distributed PCA over the embeddings: ONE exact-integer Gram
    // aggregation (micro units — order-independent under any partitioning),
    // driver-side Jacobi on the d×d covariance, broadcast projection. The
    // oracle recomputes every per-dimension variance NUMERATOR exactly
    // (n·Σx²−(Σx)² over the same micro ints); orthonormality, descending
    // eigen-order, and projected-variance≡eigenvalue are checked
    // distributed and pinned as contract booleans
    "q166_pca" -> ((s, d) => {
      import graft.ops.Pca
      import s.implicits._
      val emb = tbl(s, d, "embeddings")
      val m = Pca.moments(emb)
      val (ev, w) = Pca.jacobiEigen(Pca.covariance(m))
      val dd = m.sum.length
      val orth = (0 until dd).forall { i =>
        (i until dd).forall { j =>
          val dot = (0 until dd).map(k => w(i)(k) * w(j)(k)).sum
          math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8
        }
      }
      val ordered = ev.sliding(2).forall(p => p(0) >= p(1) - 1e-9 * math.abs(ev(0)))
      val k = 8
      val model = Pca.Model(m.n, dd, 1e6, m.sum.map(_.toDouble / m.n), ev, w)
      val stats = Pca.project(emb, model, k)
        .selectExpr("posexplode(projection) as (c, y)")
        .groupBy("c").agg(count(lit(1)).as("n"),
          sum(col("y")).as("s"), sum(col("y") * col("y")).as("ss"))
        .collect()
      val varMatch = stats.length == k && stats.forall { r =>
        val c = r.getInt(0); val n = r.getLong(1)
        val sv = r.getDouble(2); val ss = r.getDouble(3)
        val v = ss / n - (sv / n) * (sv / n)
        math.abs(v - ev(c)) <= 1e-7 * math.max(ev(0), 1.0)
      }
      (0 until dd).map { i =>
        val diag = i * dd - i * (i - 1) / 2
        val varNum = (BigInt(m.prod(diag)) * m.n - BigInt(m.sum(i)) * m.sum(i)).toLong
        (i, varNum, orth, varMatch, ordered)
      }.toDF("dim", "var_num", "orthonormal_ok", "var_match_ok", "order_ok")
        .select(col("dim").cast("int"), col("var_num"),
          col("orthonormal_ok"), col("var_match_ok"), col("order_ok"))
    }),

    // Corpus-wide EXACT set-similarity self-join via prefix filtering
    // (AllPairs/PPJoin): result provably equals brute force — the oracle IS
    // the brute-force all-pairs join with no window/band clause. The Spark
    // plan joins only globally-rarest prefix shingles + a length filter,
    // then verifies candidates exactly (integer-arithmetic threshold cut).
    "q167_setsim_join" -> ((s, d) =>
      graft.ops.SetSim.jaccardSelfJoin(tbl(s, d, "documents"), tNum = 1, tDen = 2)
        .select(col("id1"), col("id2"), col("overlap"), col("n1"), col("n2"), col("jaccard"))),

    // BM25 top-k retrieval (Okapi idf-plus-one variant, micro-rounded
    // integer scores — engine-portable). Queries are the corpus's 8 most
    // document-frequent tokens (df desc, token asc — deterministic); the
    // oracle recomputes tf/df/dl/avgdl and every per-term contribution in
    // SQL and takes the same (score desc, doc_id asc) top-10.
    "q168_bm25_topk" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val tok = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      val qs = tok.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("token").asc).limit(8)
        .select(col("token").as("query_id"), col("token").as("qtext"))
      graft.ops.Retrieval.bm25TopK(docs, qs, k = 10)
        .select(col("query_id"), col("doc_id"), col("bm25_micros"))
    }),

    // SemDeDup (embedding-space dedup): kMeans clusters bound the quadratic,
    // near-dup groups = connected components of the within-cluster cosine
    // graph, rep = min id. The corpus's own vectors are all well-separated
    // (max pairwise cosine ~0.51), so planting an exact copy of each
    // vec_id < 50 at id+100000 makes the FULL result value-checkable: every
    // copy must be removed with its original as rep (identical vectors get
    // identical cluster assignments and cosine ~1), and every original kept.
    "q169_semdedup" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      val planted = emb.where(col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
      graft.ops.SemDedup.semDedup(emb.unionByName(planted),
          minCos = 0.95, nClusters = 8, maxIter = 4)
        .select(col("id").cast("long").as("id"), col("rep").cast("long").as("rep"), col("keep"))
    }),

    // Classification metrics as ONE confusion-fold aggregation (reference
    // eval.scala quadrants): a fixed hypothesis (n_chars > 300) scored
    // against the lang=='en' label; the oracle recomputes every quadrant
    // count and the derived metrics in SQL.
    "q170_eval_metrics" -> ((s, d) => {
      val scored = tbl(s, d, "documents").select(
        when(col("lang") === "en", 1).otherwise(0).as("label"),
        when(col("n_chars") > 300, 1).otherwise(0).as("pred"))
      graft.lib.ML.evalBinary(scored).select(
        col("tp").cast("long"), col("fp").cast("long"),
        col("fn").cast("long"), col("tn").cast("long"),
        Portable.round(col("accuracy"), 6).as("accuracy"),
        Portable.round(col("precision"), 6).as("precision"),
        Portable.round(col("recall"), 6).as("recall"),
        Portable.round(col("f1"), 6).as("f1"))
    }),

    // Persisted IVF ANN index: build → save (assignments Hive-partitioned
    // BY CELL) → load → probe. Contract: the loaded probe reproduces the
    // in-memory probe bit-for-bit (deterministic quantizer), recalls >= 90%
    // of brute-force top-3, and its scan carries a planning-time partition
    // filter on the probed cells.
    "q171_ann_index" -> ((s, d) => {
      import s.implicits._
      import graft.ops.AnnIndex
      val emb = tbl(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
      val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(BenchMode.scratchDir), "graft_ann").toString
      try {
        val idx = AnnIndex.buildIvf(emb, nlist = 8, maxIter = 4)
        AnnIndex.save(idx, dir)
        val loaded = AnnIndex.load(s, dir)
        def res(df: org.apache.spark.sql.DataFrame) = df
          .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
        val probeDisk = AnnIndex.probe(loaded, qs, k = 3, nprobe = 2)
        val fromMem = res(AnnIndex.probe(idx, qs, k = 3, nprobe = 2))
        val fromDisk = res(probeDisk)
        val brute = Similarity.cosineTopK(emb, qs, k = 3)
          .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // same plan object as the fromDisk probe — constructing a THIRD
        // probe just for the plan string paid another probe-cell job (r16)
        val pruned = """PartitionFilters: \[[^\]]*cell#""".r.findFirstIn(
          probeDisk.queryExecution.executedPlan.toString).isDefined
        Seq((fromDisk.length.toLong, fromDisk.sameElements(fromMem),
          fromDisk.count(brute.contains).toDouble >= brute.size * 0.9, pruned))
          .toDF("n_results", "roundtrip_ok", "recall_ok", "pruned_scan")
      } finally {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),

    // ANALYZE-style table profile: ONE aggregation (exact distincts for the
    // oracle; the approx/HLL path is the single-pass 100 TB default, spec'd
    // Expand-free), pivoted to long format inside the plan.
    "q172_table_profile" -> ((s, d) =>
      graft.ops.Audit.profile(tbl(s, d, "orders"), exact = true)),

    // ANN index INGEST: build on 80% of the corpus, save, APPEND the other
    // 20% against the saved (immutable) quantizer, reload. Contracts: the
    // extended table holds every vector; probing ALL cells makes IVF exact,
    // so the extended-index full-probe must EQUAL brute-force top-3 over
    // the whole corpus (same rounding, same tie-break).
    "q173_ann_ingest" -> ((s, d) => {
      import s.implicits._
      import graft.ops.AnnIndex
      val emb = tbl(s, d, "embeddings")
      val corpus = emb.where(col("vec_id") % 5 =!= 0)
      val batch = emb.where(col("vec_id") % 5 === 0)
      val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(BenchMode.scratchDir), "graft_ann_ingest").toString
      try {
        AnnIndex.save(AnnIndex.buildIvf(corpus, nlist = 8, maxIter = 4), dir)
        AnnIndex.appendSaved(s, dir, batch)
        val loaded = AnnIndex.load(s, dir)
        val total = loaded.assigned.count()
        val qs = emb.where(col("vec_id") < 8)
        val full = AnnIndex.probe(loaded, qs, k = 3, nprobe = 8)
          .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
        val brute = Similarity.cosineTopK(emb, qs, k = 3)
          .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
        Seq((total, total == emb.count(), full.sameElements(brute), full.length.toLong))
          .toDF("n_indexed", "all_present", "fullprobe_eq_brute", "n_results")
      } finally {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),

    // Tokenizer persistence: train + vocab → save → load → the loaded
    // tokenizer's corpus encoding is bit-identical to the fresh one
    // (null-safe array compare over a full-outer join on (doc_id, pos)).
    // n_words and vocab_size are DuckDB-recomputed as in q163.
    "q174_tokenizer_persist" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Bpe
      val docs = tbl(s, d, "documents")
      val (m, _) = Bpe.trainLocal(docs, numMerges = 40)
      val ms = m.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val voc = Bpe.vocab(Bpe.corpusChars(docs), ms)
      val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(BenchMode.scratchDir), "graft_tok").toString
      try {
        Bpe.saveTokenizer(s, dir, ms, voc)
        val (lms, lvoc) = Bpe.loadTokenizer(s, dir)
        val fresh = Bpe.encodeToIds(docs, ms, voc)
          .select(col("doc_id"), col("pos"), col("ids").as("a"))
        val loaded = Bpe.encodeToIds(docs, lms, lvoc)
          .select(col("doc_id"), col("pos"), col("ids").as("b"))
        val bad = fresh.join(loaded, Seq("doc_id", "pos"), "full_outer")
          .where(!(col("a") <=> col("b"))).count()
        val nWords = loaded.count()
        Seq((nWords, voc.size.toLong, lms == ms, lvoc == voc, bad == 0L))
          .toDF("n_words", "vocab_size", "merges_eq", "vocab_eq", "encode_eq")
      } finally {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),

    // Incremental PCA statistics: the exact-integer moment accumulator is a
    // MONOID — moments(a) ⊕ moments(b) must equal moments(a ∪ b) bit-for-bit
    // (the q128 additive-merge property, for second moments). The oracle
    // recomputes every per-dimension micro sum.
    "q175_pca_incremental" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Pca
      val emb = tbl(s, d, "embeddings")
      val full = Pca.moments(emb)
      val merged = Pca.moments(emb.where(col("vec_id") % 2 === 0))
        .merge(Pca.moments(emb.where(col("vec_id") % 2 =!= 0)))
      val eq = full.n == merged.n &&
        java.util.Arrays.equals(full.sum, merged.sum) &&
        java.util.Arrays.equals(full.prod, merged.prod)
      merged.sum.zipWithIndex.map { case (sm, i) => (i, sm, eq) }
        .toSeq.toDF("dim", "sum_micros", "merge_exact")
        .select(col("dim").cast("int"), col("sum_micros"), col("merge_exact"))
    }),

    // Statistics over INGEST: the embeddings arrive as a 4-file STREAM
    // (maxFilesPerTrigger=1 → 4 real micro-batches); each batch contributes
    // one exact-integer moment partial, merged on the driver. The final
    // accumulator must equal the batch moments BIT-FOR-BIT, and the oracle
    // recomputes every per-dimension micro sum.
    "q176_stream_moments" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Pca
      val emb = tbl(s, d, "embeddings")
      val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(BenchMode.scratchDir), "graft_stream_mom").toString
      try {
        emb.repartition(4).write.mode("overwrite").parquet(s"$dir/src")
        val stream = s.readStream
          .schema(emb.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/src")
        val streamed = graft.streaming.Streams.streamMoments(stream).get
        val full = Pca.moments(emb)
        val eq = streamed.n == full.n &&
          java.util.Arrays.equals(streamed.sum, full.sum) &&
          java.util.Arrays.equals(streamed.prod, full.prod)
        streamed.sum.zipWithIndex.map { case (sm, i) => (i, sm, eq) }
          .toSeq.toDF("dim", "sum_micros", "stream_exact")
          .select(col("dim").cast("int"), col("sum_micros"), col("stream_exact"))
      } finally {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),

    // ------------------------------------------- curation reporting (round 7)
    // Filter-cascade removal attribution: one corpus scan, one nested-when
    // expression, a K-row aggregate — the report a curation run publishes
    // next to its output. Integer-exact alpha-ratio cut (50*alpha >= 41*len)
    // so both engines compare identical integers.
    "q177_filter_report" -> ((s, d) => {
      val alphaLen = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
      graft.ops.Filters.filterReport(tbl(s, d, "documents"), Seq(
        "too_short" -> (col("n_chars") >= 120),
        "rare_lang" -> col("lang").isin("en", "de", "fr"),
        "low_alpha" -> (alphaLen * 50L >= col("n_chars") * 41L)))
    }),

    // Deterministic training-order shuffle: (shard, pos) is a pure function
    // of (seed, doc_id) — md5 order key, first-two-nibble shard (no shuffle
    // for assignment), one per-shard row_number sort. Reproducible on any
    // cluster size; the oracle recomputes every position independently.
    "q178_shuffle_shards" -> ((s, d) =>
      graft.ops.Shuffling.deterministicShuffle(
          tbl(s, d, "documents").select("doc_id"), col("doc_id"),
          nShards = 8, seed = 42L)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // Deterministic fractional upsampling (epoch repetition for data
    // mixing): each doc 2 full epochs + a hash-thresholded 0.4 partial
    // epoch; membership of the partial epoch is a pure function of
    // (seed, doc_id). Oracle recomputes every emitted (doc_id, epoch).
    "q190_upsample_epochs" -> ((s, d) =>
      graft.ops.Sampling.upsampleDeterministic(
          tbl(s, d, "documents").select("doc_id"), col("doc_id"),
          factor = 2.4, seed = 7L)
        .select(col("doc_id"), col("epoch"))),

    // END-TO-END epoch mixing: the rare-language slice upsampled 2.4x,
    // unioned with the common slice, and laid into a deterministic
    // training order keyed by (doc_id, epoch) — so a document's repeated
    // copies spread through the run instead of clustering. The oracle
    // recomputes the whole composition: the partial-epoch draw, the
    // union, and every (shard, pos).
    "q191_epoch_mix_order" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val rare = docs.where(!col("lang").isin("en", "de", "fr")).select("doc_id")
      val common = docs.where(col("lang").isin("en", "de", "fr"))
        .select("doc_id").withColumn("epoch", lit(0L))
      val stream = common.unionByName(
        graft.ops.Sampling.upsampleDeterministic(rare, col("doc_id"),
          factor = 2.4, seed = 7L))
      graft.ops.Shuffling.deterministicShuffle(stream,
          concat_ws("#", col("doc_id"), col("epoch")), nShards = 4, seed = 42L)
        .select(col("doc_id"), col("epoch"), col("shard"), col("pos"))
    }),

    // Curriculum training order: within each shard, positions run through
    // ascending difficulty stages (here: length quartile buckets) with a
    // deterministic shuffle inside each stage — (shard, pos) still a pure
    // function of (seed, doc_id, stage). Oracle recomputes every position
    // with stage as the leading sort key.
    "q189_curriculum_shuffle" -> ((s, d) =>
      graft.ops.Shuffling.curriculumShuffle(
          tbl(s, d, "documents").select(col("doc_id"), col("n_chars")),
          col("doc_id"), least(floor(col("n_chars") / lit(500.0)).cast("long"), lit(3L)),
          nShards = 8, seed = 42L)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // Training-order EXPORT: the q178 order materialized as Hive
    // shard=<s> directories, range-partitioned on (shard, pos) so part
    // files in name order stream the exact training order with no sort
    // (contiguity spec-asserted). The gate writes, reads back, and must
    // reproduce q178's oracle exactly — the round trip loses nothing.
    "q187_write_shards" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(BenchMode.scratchDir), "graft_shards_gate").toString
      try {
        graft.ops.Shuffling.writeShards(
          tbl(s, d, "documents").select("doc_id"), col("doc_id"),
          nShards = 8, seed = 42L, s"$dir/shards")
        graft.ops.Shuffling.readShards(s, s"$dir/shards")
          .select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))
          .localCheckpoint()
      } finally {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),

    // Weighted corpus interleave: one training stream from three language
    // slices at 3:2:1, global position in CLOSED FORM (no global sort, no
    // single-partition window). The oracle derives gpos the OTHER way — a
    // global ROW_NUMBER over (virtual time, source) — so the hash match
    // proves the closed-form rank equals the merged order exactly.
    "q179_weighted_interleave" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      graft.ops.Shuffling.weightedInterleave(Seq(
          ("en", docs.where(col("lang") === "en").select("doc_id"), 3),
          ("eur", docs.where(col("lang").isin("de", "fr")).select("doc_id"), 2),
          ("rest", docs.where(!col("lang").isin("en", "de", "fr")).select("doc_id"), 1)),
        keyName = "doc_id", seed = 42L)
        .select(col("source"), col("doc_id"), col("gpos"))
    }),

    // Deterministic leakage-free train/val/test split: labels from hash
    // thresholds (same draw on any engine), splits partition the corpus
    "q180_hash_split" -> ((s, d) =>
      graft.ops.Sampling.hashSplit(tbl(s, d, "documents"), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split").agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"))),

    // Curation report maintained on INGEST: the q177 cascade drained
    // through a 4-micro-batch file stream; per-batch K-row partials merge
    // additively (counts are a commutative monoid), so the streamed report
    // hash-matches the single-pass batch oracle exactly.
    "q181_stream_filter_report" -> ((s, d) => {
      import s.implicits._
      val docs = tbl(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(BenchMode.scratchDir), "graft_stream_rep").toString
      try {
        docs.repartition(4).write.mode("overwrite").parquet(s"$dir/src")
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
        val alphaLen = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
        val cascade = Seq(
          "too_short" -> (col("n_chars") >= 120),
          "rare_lang" -> col("lang").isin("en", "de", "fr"),
          "low_alpha" -> (alphaLen * 50L >= col("n_chars") * 41L))
        val rep = graft.streaming.Streams.streamFilterReport(stream, cascade)
        (cascade.map(_._1) :+ graft.ops.Filters.KeptLabel)
          .map(l => (l, rep.getOrElse(l, 0L))).toDF("filter", "n")
      } finally {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),

    // Deterministic negative sampling: per anchor, 5 pseudo-random items
    // that are NOT same-language positives — draw d targets dense item
    // index md5(seed-anchor-d) mod N (equi-join against the distributed
    // orderedIndex relation, no cross join), positives removed by
    // anti-join, first-k surviving draws win. Oracle recomputes every
    // draw, the dense index, and the ranking independently.
    "q182_negative_sample" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val anchors = docs.where(col("doc_id") % 37 === 0)
        .select(col("doc_id").as("anchor"), col("lang"))
      val items = docs.select(col("doc_id").as("item"))
      val positives = anchors
        .join(docs.select(col("doc_id").as("item"), col("lang")), "lang")
        .select(col("anchor"), col("item"))
      // via the PREBUILT index path: the ranking pass runs once per corpus
      // version; sampling calls only probe it (negativeSample delegates to
      // the same code, so this gate covers both entry points)
      val index = graft.ops.Shuffling.itemIndex(items, "item")
      graft.ops.Shuffling.negativeSampleIndexed(anchors, "anchor", index,
          "item", positives, k = 5, nDraws = 12, seed = 7L)
        .select(col("anchor"), col("item"), col("rank"))
    }),

    // The quotation front-end in the gate: a natural for-comprehension with
    // an equality guard, rewritten AT COMPILE TIME by comprehensions.onSpark
    // into equiJoin + filter + map (the reference's emma.onSpark join
    // derivation for the two-generator shape). The oracle is the plain SQL
    // join; ComprehensionSpec asserts the plan has no cartesian.
    "q183_comprehension" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .as[CustRow])
      val res = onSpark {
        for {
          o <- orders
          cu <- custs
          if o.o_custkey == cu.c_custkey
          if cu.c_acctbal > 5000.0
        } yield (o.o_orderkey, cu.c_name, math.floor(o.o_totalprice * 100.0).toLong)
      }
      res.ds.toDF("o_orderkey", "c_name", "price_cents")
    }),

    // The dependent-FILTER spelling of the same join (the reference's
    // MatchFlatMap2 shape, Combination.scala:261-297): the join condition
    // lives in a withFilter on the inner generator that closes over the
    // outer row — FilterChain peels it into a guard before role analysis,
    // so this compiles to the SAME equi-join as q183's guard spelling and
    // shares its oracle.
    "q186_comprehension_depfilter" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .as[CustRow])
      val res = onSpark {
        for {
          o <- orders
          cu <- custs.withFilter(cu => o.o_custkey == cu.c_custkey)
          if cu.c_acctbal > 5000.0
        } yield (o.o_orderkey, cu.c_name, math.floor(o.o_totalprice * 100.0).toLong)
      }
      res.ds.toDF("o_orderkey", "c_name", "price_cents")
    }),

    // Pattern-tuple generators (the reference supports arbitrary patterns
    // via its IR): `(ok, ck) <- orders` destructures through the macro —
    // pattern binds participate in guard analysis individually and the
    // rebuilt key/yield lambdas re-match against the join tuple.
    "q192_comprehension_patterns" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey")).as[(Long, Long)])
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name")).as[(Long, String)])
      val res = onSpark {
        for { (ok, ck) <- orders; (ck2, nm) <- custs; if ck == ck2 } yield (ok, nm)
      }
      res.ds.toDF("o_orderkey", "c_name")
    }),

    // The reference's EnumerateTriangles in its ORIGINAL comprehension
    // syntax (emma-examples EnumerateTriangles.scala:27-42): three
    // generators, three guards — the macro derives two equiJoins (first
    // guard per level keys the join, the closing xz.d == yz.d guard
    // filters after) with no cartesian. Same oracle as the explicit q33.
    "q184_triangles_comprehension" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val raw = tbl(s, d, "lineitem")
        .select((col("l_suppkey") % 30).as("src"), (col("l_partkey") % 30).as("dst"))
      val canon = raw
        .select(least(col("src"), col("dst")).as("s"),
          greatest(col("src"), col("dst")).as("d"))
        .where(col("s") =!= col("d")).distinct()
      val es = DataBag.from(canon.as[UEdge])
      val tri = onSpark {
        for {
          xy <- es
          yz <- es
          if xy.d == yz.s
          xz <- es
          if xz.s == xy.s
          if xz.d == yz.d
        } yield (xy.s, xy.d, yz.d)
      }
      tri.ds.toDF("x", "y", "z")
    }),

    // Runtime quotation (the reference's RuntimeCompiler path): the SAME
    // q183 program arrives as SOURCE TEXT, is compiled in-JVM at runtime
    // (macro expanding during that compilation), its classes shipped via
    // the session artifact channel, and must hash-match q183's oracle —
    // proving quoted pipelines behave exactly like build-time code.
    "q188_runtime_quotation" -> ((s, d) => {
      val dir = d // captured by name inside the snippet via string interp
      val pipeline = graft.api.RuntimeQuotation.compile[
          org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame](s"""
        (s0: org.apache.spark.sql.SparkSession) => {
          implicit val spark: org.apache.spark.sql.SparkSession = s0
          import spark.implicits._
          import org.apache.spark.sql.functions.col
          import graft.api._
          import graft.api.comprehensions.onSpark
          val orders = DataBag.from(spark.read.parquet("$dir/orders.parquet")
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
            .as[graft.OrderRow])
          val custs = DataBag.from(spark.read.parquet("$dir/customer.parquet")
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
            .as[graft.CustRow])
          val res = onSpark {
            for {
              o <- orders
              cu <- custs
              if o.o_custkey == cu.c_custkey
              if cu.c_acctbal > 5000.0
            } yield (o.o_orderkey, cu.c_name, math.floor(o.o_totalprice * 100.0).toLong)
          }
          res.ds.toDF("o_orderkey", "c_name", "price_cents")
        }""")(s)
      pipeline(s)
    }),

    // Corpus-wide exact paragraph dedup with document reconstruction
    // (the CCNet/RefinedWeb line-level pass): paragraph structure derived
    // deterministically (' the ' → blank line), first occurrence of each
    // distinct paragraph survives (smallest (doc_id, pos)), documents
    // rebuilt in original order, fully-deduped docs come back empty.
    // Full-value oracle: DuckDB recomputes split, keeper, and rebuild.
    "q193_paragraph_dedup" -> ((s, d) => {
      val structured = tbl(s, d, "documents").select(col("doc_id"),
        expr("replace(text, ' the ', '\n\n')").as("text"))
      graft.ops.TextAnalysis.dedupParagraphs(structured)
    }),

    // Boilerplate stripping: paragraphs appearing in MORE THAN 3 distinct
    // docs (nav-bar/footer analogue) removed from EVERY document — unlike
    // q193's dedup, which keeps one copy. Same derived paragraph
    // structure; full-value oracle recomputes the distinct counts and
    // the rebuild.
    "q194_strip_boilerplate" -> ((s, d) => {
      val structured = tbl(s, d, "documents").select(col("doc_id"),
        expr("replace(text, ' the ', '\n\n')").as("text"))
      graft.ops.TextAnalysis.stripBoilerplate(structured, maxDocs = 3)
    }),

    // gzip-compressibility quality signal: per-doc deflate milli-ratio,
    // gated on its CONTRACT (the bytes themselves aren't SQL-expressible):
    // SQL-checkable corpus totals plus two invariants Spark must prove —
    // every ratio in deflate's possible band, and doubling a document
    // strictly improves its ratio (the repetition-detection property)
    "q185_compressibility" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val base = TextAnalysis.compressionRatio(docs)
      val doubled = TextAnalysis.compressionRatio(
          docs.select(col("doc_id"), concat(col("text"), col("text")).as("text")))
        .select(col("doc_id"), col("comp_milli").as("comp2"))
      base.join(doubled, "doc_id").agg(
        count(lit(1)).as("n_docs"),
        sum("n_bytes").as("sum_bytes"),
        bool_and(col("comp_milli") > 0 && col("comp_milli") <= 1500).as("in_bounds"),
        bool_and(col("comp2") < col("comp_milli")).as("doubling_compresses_better"))
    }),

    // Persisted keyed state with IndexedRDD-class point updates (the
    // at-rest MutableBag gap): build a bucket-partitioned store from
    // orders, apply ONE point delta — mutually exclusive replace / delete /
    // insert key sets — and read the merged state back. Bucket pruning is
    // spec-asserted (StateStoreSpec); the oracle recomputes the merge.
    "q195_state_store" -> ((s, d) => {
      val dir = gateWorkspace(d, "state")
      val orders = tbl(s, d, "orders")
      graft.ops.StateStore.create(
        orders.select(col("o_orderkey").as("k"), col("o_totalprice").as("v")),
        "k", 16, dir)
      val deletes = orders.where(col("o_orderkey") % 300 === 0)
        .select(col("o_orderkey").as("k"), lit(0.0).as("v"), lit(true).as("del"))
      val updates = orders
        .where(col("o_orderkey") % 500 === 0 && col("o_orderkey") % 300 =!= 0)
        .select(col("o_orderkey").as("k"), (col("o_totalprice") * 2).as("v"),
          lit(false).as("del"))
      val inserts = orders.where(col("o_orderkey") % 700 === 0)
        .select((col("o_orderkey") + 100000000L).as("k"),
          lit(1.0).as("v"), lit(false).as("del"))
      graft.ops.StateStore.upsert(s, dir,
        deletes.unionByName(updates).unionByName(inserts), Some("del"))
      graft.ops.StateStore.read(s, dir)
    }),

    // Temperature-scaled domain mixing (w_d ∝ count_d^0.5, the standard
    // multinomial temperature reweighting): low-resource sources keep a
    // larger share than their natural frequency; membership is the same
    // engine-portable md5 threshold as q79
    "q196_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMix(tbl(s, d, "documents"), "source", col("doc_id"),
          alpha = 0.5, targetTotal = 150L)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // Multi-benchmark decontamination in ONE corpus pass: two
    // deterministic "eval set" slices screened simultaneously from a
    // single broadcast of tagged shingles; long-form offender report
    "q197_contamination_matrix" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      Curation.contaminationMatrix(docs, Seq(
        "b97" -> docs.where(col("doc_id") % 97 === 0),
        "b89" -> docs.where(col("doc_id") % 89 === 0)))
    }),

    // Dependent LOCAL generator in the comprehension front-end (the
    // reference's MatchFlatMap1, Combination.scala:188-209): a literal
    // DataBag(seq) built from the row lowers to a flatMap at COMPILE
    // time — natural dependent syntax with no one-job-per-element cliff
    "q198_dependent_generator" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      implicit val sess: org.apache.spark.sql.SparkSession = s
      val orders = graft.api.DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for {
          o <- orders
          t <- graft.api.DataBag(Seq(0L, o.o_orderkey % 3, o.o_orderkey % 5))
        } yield (o.o_orderkey, t)
      }
      res.ds.toDF("k", "t")
    }),

    // Corpus snapshot diff: added/removed/changed between two derived
    // corpus versions, shuffling only (id, md5) — never the text
    "q199_corpus_diff" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val v1 = docs.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" old")))
            .otherwise(col("text")).as("text"))
      val v2 = docs.where(col("doc_id") % 13 =!= 0)
      Curation.corpusDiff(v1, v2)
    }),

    // END-TO-END incremental maintenance: per-doc signals live in the
    // bucket-pruned StateStore; a new corpus version re-scores ONLY the
    // docs the diff names (added/changed), tombstones the removed, and
    // the store then equals a from-scratch recompute over v2 (the oracle)
    "q200_incremental_signals" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val v1 = docs.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" old")))
            .otherwise(col("text")).as("text"))
      val v2 = docs.where(col("doc_id") % 13 =!= 0)
      def signals(df: DataFrame): DataFrame = df.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val dir = gateWorkspace(d, "incsig")
      graft.ops.StateStore.create(signals(v1), "doc_id", 16, dir)
      val diff = Curation.corpusDiff(v1, v2)
      val stale = diff.where(col("change").isin("added", "changed"))
        .select("doc_id")
      val rescored = signals(v2.join(stale, "doc_id"))
        .withColumn("del", lit(false))
      val tombstones = diff.where(col("change") === "removed")
        .select(col("doc_id"), lit(0L).as("n_tokens"), lit(true).as("del"))
      graft.ops.StateStore.upsert(s, dir,
        rescored.unionByName(tombstones), Some("del"))
      graft.ops.StateStore.read(s, dir)
    }),

    // STREAMING incremental signal maintenance: q200's churn arriving as a
    // file stream (one micro-batch per file); each batch re-scores only
    // its own docs and upserts into the bucket-pruned store. The drained
    // store ≡ a full recompute over the final corpus (q200's oracle).
    "q201_stream_signal_maintenance" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val v1 = docs.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" old")))
            .otherwise(col("text")).as("text"))
      def signals(df: DataFrame): DataFrame = df.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      // one BOUNDED workspace per (sf dir, live JVM): the mutated store is
      // cleared and rebuilt each execution, the immutable update files are
      // staged once per JVM (never across processes — jvmStageBase) and
      // replayed with a fresh query/checkpoint
      val baseP = jvmStageBase(d, "streamsig")
      val base = baseP.toString
      BenchMode.deleteRecursively(baseP.resolve("store"))
      graft.ops.StateStore.create(signals(v1), "doc_id", 16, s"$base/store")
      val changed = docs.where(col("doc_id") % 7 === 0 &&
          col("doc_id") % 11 =!= 0 && col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("text"), lit(false).as("del"))
      val added = docs.where(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("text"), lit(false).as("del"))
      val removed = docs.where(col("doc_id") % 13 === 0 && col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), lit("").as("text"), lit(true).as("del"))
      val updates = changed.unionByName(added).unionByName(removed)
      if (!java.nio.file.Files.exists(baseP.resolve("_src_done"))) {
        BenchMode.deleteRecursively(baseP.resolve("src"))
        updates.repartition(3).write.mode("overwrite").parquet(s"$base/src")
        java.nio.file.Files.createFile(baseP.resolve("_src_done"))
      }
      val stream = s.readStream.schema(updates.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      graft.streaming.Streams.streamSignalMaintenance(
        stream, s"$base/store", "del")(signals)
      graft.ops.StateStore.read(s, s"$base/store")
    }),

    // Shard-export integrity manifest: per shard, count + max pos + the
    // dense-positions invariant + an order-insensitive md5-prefix
    // checksum — the oracle recomputes shard assignment and checksum
    // from nothing but the corpus
    "q202_shard_manifest" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select("doc_id")
      val dir = gateWorkspace(d, "manifest")
      graft.ops.Shuffling.writeShards(docs, col("doc_id"), nShards = 8,
        seed = 42L, dir)
      graft.ops.Shuffling.shardManifest(s, dir, "doc_id")
        .select(col("shard").cast("long").as("shard"), col("n_rows"),
          col("max_pos"), col("dense"), col("checksum"))
    }),

    // Hybrid retrieval: BM25 top-10 fused with a global length-prior
    // ranking by reciprocal-rank fusion (integer contributions, so the
    // fused scores are engine-exact); oracle recomputes BOTH rankings
    // and the fusion from scratch
    "q203_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(s, d, "documents")
      val tok = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      val qs = tok.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("token").asc).limit(8)
        .select(col("token").as("query_id"), col("token").as("qtext"))
      val bm = graft.ops.Retrieval.bm25TopK(docs, qs, k = 10)
      val wq = Window.partitionBy("query_id")
        .orderBy(col("bm25_micros").desc, col("doc_id").asc)
      val bmRank = bm.select(col("query_id"), col("doc_id"),
        row_number().over(wq).cast("long").as("rank"))
      // dense-retriever stand-in: one global prior list served per query
      val prior = docs.orderBy(col("n_chars").desc, col("doc_id").asc).limit(10)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id").asc))
          .cast("long").as("rank"))
      val priorPerQ = qs.select("query_id").crossJoin(prior)
      graft.ops.Retrieval.rrfFuse(Seq(bmRank, priorPerQ), k = 10)
    }),

    // Vector-store deletion: tombstone ids in the SAVED IVF index (no
    // rebuild, no file rewrite); loaded probes exclude them and equal the
    // in-memory probe over the filtered assignment (q171-style contract)
    "q204_ann_delete" -> ((s, d) => {
      import s.implicits._
      import graft.ops.AnnIndex
      val emb = tbl(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
      val dir = gateWorkspace(d, "ann_del")
      val idx = AnnIndex.buildIvf(emb, nlist = 8, maxIter = 4)
      AnnIndex.save(idx, dir)
      val doomed = emb.where(col("vec_id") % 5 === 0)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      AnnIndex.deleteSaved(s, dir, doomed)
      val loaded = AnnIndex.load(s, dir)
      val got = AnnIndex.probe(loaded, qs, k = 3, nprobe = 2)
        .select("qid", "did").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      val filtered = AnnIndex.Ivf(idx.centroids,
        idx.assigned.where(col("did") % 5 =!= 0))
      val expect = AnnIndex.probe(filtered, qs, k = 3, nprobe = 2)
        .select("qid", "did").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      val doomedSet = doomed.toSet
      Seq((got.length.toLong, got.forall(p => !doomedSet.contains(p._2)),
          got.sameElements(expect)))
        .toDF("n_results", "no_deleted_returned", "matches_filtered_probe")
    }),

    // IMAGE near-duplicate detection: real PNG decode → perceptual dHash
    // (9×8 average-pooled gradient signs) → the same multi-probe banded
    // hamming join text simhash uses. Planted one-pixel-perturbed copies
    // must pair with their originals; structurally distinct patterns
    // (unique slope triples below 385, CRT) must not pair
    "q205_image_near_dup" -> ((s, d) => {
      import s.implicits._
      val docs = tbl(s, d, "documents").where(col("doc_id") < 385)
        .select(col("doc_id"), length(col("text")).as("n"))
      val base = docs.select(col("doc_id"), col("doc_id").as("pattern_id"),
        col("n"), lit(false).as("perturb"))
      val copies = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("doc_id").as("pattern_id"), col("n"), lit(true).as("perturb"))
      val media = graft.ops.Multimodal.asPatternedPngMediaTable(
        base.unionByName(copies))
      val pairs = graft.ops.Multimodal.imageNearDups(media, maxHamming = 4)
      val planted = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1000000L).as("id2"))
      val found = pairs.join(planted, Seq("id1", "id2"), "semi").count()
      val extra = pairs.join(planted, Seq("id1", "id2"), "left_anti").count()
      val nPlanted = planted.count()
      Seq((nPlanted, found == nPlanted, extra))
        .toDF("n_planted", "all_planted_found", "n_extra")
    }),

    // AUDIO near-duplicate detection: real RIFF/WAV decode → 65-window
    // energy-envelope fingerprint → the same banded hamming join as text
    // simhash and image dHash; planted one-sample-perturbed clips must
    // pair with their originals, independent noise waveforms must not
    "q207_audio_near_dup" -> ((s, d) => {
      import s.implicits._
      val docs = tbl(s, d, "documents").where(col("doc_id") < 385)
        .select(col("doc_id"), length(col("text")).as("n"))
      val base = docs.select(col("doc_id"), col("doc_id").as("pattern_id"),
        col("n"), lit(false).as("perturb"))
      val copies = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("doc_id").as("pattern_id"), col("n"), lit(true).as("perturb"))
      val media = graft.ops.Multimodal.asPatternedWavMediaTable(
        base.unionByName(copies))
      val pairs = graft.ops.Multimodal.audioNearDups(media, maxHamming = 4)
      val planted = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1000000L).as("id2"))
      val found = pairs.join(planted, Seq("id1", "id2"), "semi").count()
      val extra = pairs.join(planted, Seq("id1", "id2"), "left_anti").count()
      val nPlanted = planted.count()
      Seq((nPlanted, found == nPlanted, extra))
        .toDF("n_planted", "all_planted_found", "n_extra")
    }),

    // VIDEO near-duplicate detection — the third modality on the same
    // banded hamming machinery: real animated-GIF decode → 65-bin
    // temporal luma-envelope fingerprint; planted one-frame-perturbed
    // clips pair, independent noise sequences don't
    "q208_video_near_dup" -> ((s, d) => {
      import s.implicits._
      val docs = tbl(s, d, "documents").where(col("doc_id") < 385)
        .select(col("doc_id"), length(col("text")).as("n"))
      val base = docs.select(col("doc_id"), col("doc_id").as("pattern_id"),
        col("n"), lit(false).as("perturb"))
      val copies = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("doc_id").as("pattern_id"), col("n"), lit(true).as("perturb"))
      val media = graft.ops.Multimodal.asPatternedGifMediaTable(
        base.unionByName(copies))
      val pairs = graft.ops.Multimodal.videoNearDups(media, maxHamming = 4)
      val planted = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1000000L).as("id2"))
      val found = pairs.join(planted, Seq("id1", "id2"), "semi").count()
      val extra = pairs.join(planted, Seq("id1", "id2"), "left_anti").count()
      val nPlanted = planted.count()
      Seq((nPlanted, found == nPlanted, extra))
        .toDF("n_planted", "all_planted_found", "n_extra")
    }),

    // IR evaluation metrics: BM25 top-10 scored against a labeled
    // relevant subset (docs containing the term with doc_id % 3 == 0) —
    // capped recall@10, MRR, nDCG@10, all micro-rounded; the oracle
    // recomputes ranking, truth, and every metric from scratch
    "q209_ranking_metrics" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(s, d, "documents")
      val tok = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      val qs = tok.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("token").asc).limit(8)
        .select(col("token").as("query_id"), col("token").as("qtext"))
      val bm = graft.ops.Retrieval.bm25TopK(docs, qs, k = 10)
      val wq = Window.partitionBy("query_id")
        .orderBy(col("bm25_micros").desc, col("doc_id").asc)
      val results = bm.select(col("query_id"), col("doc_id"),
        row_number().over(wq).cast("long").as("rank"))
      val truth = tok.select(col("token").as("query_id"), col("doc_id")).distinct()
        .where(col("doc_id") % 3 === 0)
        .join(qs.select("query_id"), "query_id")
      graft.ops.Retrieval.rankingMetrics(results, truth, k = 10)
    }),

    // Pack LAYOUT: q84's boundary packing plus per-document segment index
    // and in-pack token offset — the attention-mask/position-id metadata;
    // everything closed-form, full-value oracle
    "q206_pack_layout" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      graft.ops.Packing.packLayout(docs, col("doc_id"),
          size(split(trim(col("text")), "\\s+")), targetTokens = 2048L,
          numBuckets = 8)
        .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack"),
          col("seg"), col("pack_offset"))
    }),

    // Token-budget allocation across domains: water-filling with per-domain
    // epoch caps — proportional-to-weight shares, over-subscribed domains
    // capped at maxEpochs × available, surplus redistributed (closed-form
    // prefix formulation, exact micro-unit integers). The budget is
    // corpus-derived (1.4× the weighted domains' tokens) so the capping
    // structure survives any SF; the oracle replays the whole computation
    // with 128-bit window sums
    "q210_token_budget" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val ntok = size(split(trim(col("text")), "\\s+")).cast("long")
      val weights = Map("src1" -> 0.4, "src3" -> 0.3, "src5" -> 0.15,
        "src7" -> 0.1, "src9" -> 0.04, "src11" -> 0.01)
      val total = graft.ops.Mixture.domainTokenCounts(docs, "source", ntok)
        .where(col("domain").isin(weights.keys.toSeq: _*))
        .agg(sum("n_tokens")).collect()(0).getLong(0)
      graft.ops.Mixture.tokenBudgetAllocation(docs, "source", ntok,
        weights, budgetTokens = total * 14L / 10L, maxEpochs = 2.5)
    }),

    // Materialized epoch mix: each document emitted once per whole epoch its
    // domain was allocated plus a hash-thresholded partial epoch — E[tokens]
    // equals the q210 allocation, membership a pure function of
    // (seed, doc_id, allocation). The oracle recomputes the allocation AND
    // every epoch row from scratch
    "q211_epoch_mix" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val ntok = size(split(trim(col("text")), "\\s+")).cast("long")
      val weights = Map("src1" -> 0.4, "src3" -> 0.3, "src5" -> 0.15,
        "src7" -> 0.1, "src9" -> 0.04, "src11" -> 0.01)
      val counts = graft.ops.Mixture.domainTokenCounts(docs, "source", ntok)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val total = counts.filter(c => weights.contains(c._1)).map(_._2).sum
      val allocs = graft.ops.Mixture.allocate(counts, weights,
        budgetTokens = total * 14L / 10L, maxEpochs = 2.5)
      graft.ops.Mixture.applyAllocation(docs, "source", col("doc_id"),
          allocs, seed = 7L)
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // SFT chat-data prep: documents become conversations (8-token turns,
    // alternating user/assistant), rendered to one training string per
    // conversation with <|role|>…<|end|> tags; the output is every
    // assistant turn's loss-mask span [start_off, end_off) plus the
    // rendered length — the oracle rebuilds turns, template, and every
    // offset from scratch
    "q212_sft_spans" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val tok = docs.select(col("doc_id").as("conv"),
          posexplode(split(trim(col("text")), "\\s+")))
        .toDF("conv", "pos", "w")
        .where(length(col("w")) > 0)
      val turns = tok
        .groupBy(col("conv"), expr("pos div 8").cast("long").as("turn"))
        .agg(array_join(transform(array_sort(collect_list(struct(col("pos"),
          col("w")))), x => x.getField("w")), " ").as("content"))
        .withColumn("role",
          when(col("turn") % 2 === 0, "user").otherwise("assistant"))
      val spans = graft.ops.Sft.lossSpans(turns, "conv", "turn", "role", "content")
      val rendered = graft.ops.Sft.renderConversations(
        turns, "conv", "turn", "role", "content")
      spans.where(col("role") === "assistant")
        .join(rendered.select(col("conv"),
          length(col("text")).cast("long").as("conv_chars")), "conv")
        .select(col("conv"), col("turn"), col("start_off"), col("end_off"),
          col("conv_chars"))
    }),

    // Product-quantized ANN: 64-dim embeddings compress to 8 small codes
    // (8 subspaces × 16-centroid codebooks), ADC scoring via per-query
    // lookup tables, exact-cosine rerank of the top 4k candidates.
    // Planted-near-copy contract (q205 pattern — scale-robust where a raw
    // recall bound on near-random vectors is not): 3 perturbed copies of
    // each query are planted in the corpus and every one must surface in
    // that query's top-10; full k per query; codes re-encode
    // bit-identically
    "q213_pq_ann" -> ((s, d) => {
      import s.implicits._
      val emb = tbl(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
      val copies = qs.crossJoin(Seq(1, 2, 3).toDF("j"))
        .select((lit(1000000L) + col("vec_id") * 10 + col("j")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + ((col("vec_id") * 7 + col("j") * 3 + i) % 5).cast("float") * lit(0.001f))
            .as("embedding"),
          lit(0).as("label"))
      val corpus = emb.unionByName(copies)
      val cb = graft.ops.Pq.train(emb, m = 8, ksub = 16, maxIter = 4)
      // codes feed the probe AND the stability witness; got feeds two
      // witnesses — materialize each once, not once per consumer
      val codes = graft.ops.Pq.encode(cb, corpus).localCheckpoint()
      val got = graft.ops.Pq.adcTopK(cb, codes, qs, k = 10,
        rerankWith = Some(corpus), rerankFactor = 4).select("qid", "did")
        .localCheckpoint()
      val planted = qs.crossJoin(Seq(1, 2, 3).toDF("j"))
        .select(col("vec_id").as("qid"),
          (lit(1000000L) + col("vec_id") * 10 + col("j")).as("did"))
      // the stability witness must be able to FAIL: re-encode through a
      // SAVED + RELOADED codebook (parquet roundtrip), not the same
      // in-memory object — this checks the persistence layer preserves
      // every codebook double bit-exactly
      val cbDir = gateWorkspace(d, "pq_cb")
      graft.ops.Pq.saveCodebooks(s, cb, cbDir)
      val cb2 = graft.ops.Pq.loadCodebooks(s, cbDir)
      val stable = codes.select(col("did"), col("code").as("c1"))
        .join(graft.ops.Pq.encode(cb2, corpus)
          .select(col("did"), col("code").as("c2")), "did")
        .agg(bool_and(col("c1") === col("c2")).as("codes_stable"))
      got.agg(count(lit(1)).as("n_results")).crossJoin(
        planted.join(got, Seq("qid", "did"), "left_semi")
          .agg((count(lit(1)) === 24L).as("all_planted_found")))
        .crossJoin(stable)
    }),

    // Model-based quality filter end-to-end: docs with doc_id % 3 == 0 get
    // a planted garbage suffix (repetition + digits), a logistic-regression
    // quality model trains on the 4/5 train split's weak labels (clean vs
    // corrupted), and holdout accuracy on the 1/5 test split must clear
    // 90% — the CCNet/fastText classifier step with a deterministic,
    // SF-robust separability contract
    "q214_quality_model" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val suffix = " " + ("zzz " * 60) +
        ("000 111 222 333 444 555 666 777 888 999 " * 3)
      val labeled = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(suffix)))
          .otherwise(col("text")).as("text"),
        (col("doc_id") % 3 =!= 0).cast("int").as("y"))
      val train = labeled.where(col("doc_id") % 5 =!= 0)
      val test = labeled.where(col("doc_id") % 5 === 0)
      val model = graft.ops.Quality.train(train,
        train.select(col("doc_id").as("id"), col("y")), "doc_id", "text",
        lr = 16.0, iters = 30)
      val scored = graft.ops.Quality.score(test, model, "doc_id", "text")
      scored.agg(
        count(lit(1)).as("n_test"),
        sum(((col("quality") >= 0.5).cast("int") === col("y"))
          .cast("long")).as("__hits"))
        .crossJoin(train.agg(count(lit(1)).as("n_train")))
        .select(col("n_train"), col("n_test"),
          (col("__hits").cast("double") >= col("n_test").cast("double") * 0.9)
            .as("acc_ok"))
    }),

    // Persisted IVF-PQ index — the production ANN layout: coarse cells give
    // planning-time partition pruning (q171 property), PQ codes give a
    // 32×-smaller scan, ADC + exact rerank give quality. Contract: planted
    // near-copies of every query surface through the SAVED index's probe,
    // and the loaded probe equals the in-memory probe row-for-row
    "q215_ivfpq_index" -> ((s, d) => {
      import s.implicits._
      val emb = tbl(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
      val copies = qs.crossJoin(Seq(1, 2, 3).toDF("j"))
        .select((lit(2000000L) + col("vec_id") * 10 + col("j")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + ((col("vec_id") * 5 + col("j") * 7 + i) % 5).cast("float") * lit(0.001f))
            .as("embedding"),
          lit(0).as("label"))
      val corpus = emb.unionByName(copies)
      val idx = graft.ops.PqIndex.build(corpus, nlist = 8, m = 8, ksub = 16,
        maxIter = 4)
      val dir = gateWorkspace(d, "ivfpq_gate")
      graft.ops.PqIndex.save(idx, dir)
      val loaded = graft.ops.PqIndex.load(s, dir)
      def run(i: graft.ops.PqIndex.IvfPq) =
        graft.ops.PqIndex.probe(i, qs, k = 10, nprobe = 4,
          rerankWith = Some(corpus), rerankFactor = 4)
          .select("qid", "did").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted
      val got = run(loaded)
      // the in-memory twin probe is a persistence contract witness, not
      // production work: skipped under BenchMode.witnesses=off (bench
      // only; Verify always runs it)
      val memOk = !BenchMode.witnesses || got.sameElements(run(idx))
      val gotSet = got.toSet
      val planted = (0L until 8L).flatMap(q => (1 to 3).map(j =>
        (q, 2000000L + q * 10 + j)))
      Seq((got.length.toLong,
          planted.forall(gotSet.contains),
          memOk))
        .toDF("n_results", "all_planted_found", "loaded_matches_memory")
    }),

    // Unigram-LM tokenizer (the SentencePiece algorithm family): substring
    // seeding + hard EM over the distinct-word histogram, deterministic
    // prune to 200 pieces, Viterbi encode. Contract (q150 pattern):
    // corpus word/char totals are SQL-recomputed; every word roundtrips
    // through its pieces; token mass is conserved; the vocab fills to
    // exactly the requested size
    "q216_unigram_tokenizer" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val model = graft.ops.Unigram.train(docs, vocabSize = 200,
        maxPieceLen = 6, seedSize = 1500, emIters = 2)
      val seg = graft.ops.Unigram.segmentWords(
        graft.ops.Unigram.wordHistogram(docs), model)
      seg.agg(
        sum("cnt").as("n_words"),
        sum(col("cnt") * length(col("w"))).as("sum_chars"),
        bool_and(concat_ws("", col("pieces")) === col("w")).as("roundtrip_ok"),
        sum(col("cnt") * aggregate(col("pieces"), lit(0L),
          (a, p) => a + length(p))).as("__pchars"))
        .select(col("n_words"), col("sum_chars"), col("roundtrip_ok"),
          (col("__pchars") === col("sum_chars")).as("mass_ok"),
          lit(model.pieces.size == 200).as("vocab_full"))
    }),

    // First-fit-decreasing packing — the hard-cap complement of q84/q206's
    // boundary packing: one bucket shuffle + in-partition sort + a
    // sequential per-bucket pass. Contract: corpus totals SQL-recomputed;
    // no pack over target (oversized docs are singletons); the classic FFD
    // guarantee — at most one pack per bucket below half full
    "q217_pack_firstfit" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val ntok = size(split(trim(col("text")), "\\s+")).cast("long")
      val asg = graft.ops.Packing.packFirstFit(docs, col("doc_id"), ntok,
        targetTokens = 256L, numBuckets = 8)
      val fills = asg.groupBy("bucket", "pack")
        .agg(sum("n_tokens").as("fill"), count(lit(1)).as("m"))
      val capOk = fills
        .agg(bool_and(col("fill") <= 256L || col("m") === 1L)).head().getBoolean(0)
      val halfOk = fills.where(col("fill") < 128L)
        .groupBy("bucket").agg(count(lit(1)).as("c"))
        .agg(coalesce(max("c"), lit(0L))).head().getLong(0) <= 1L
      asg.agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .select(col("n_docs"), col("sum_tokens"),
          lit(capOk).as("cap_ok"), lit(halfOk).as("halfempty_ok"))
    }),

    // Rule + MODEL curation cascade in ONE report: the q177 nested-when
    // cascade with the q214 quality model's score as a stage — removal
    // attribution for a length rule and the classifier together. Rule-stage
    // count and totals are SQL-recomputed; the model stage must remove
    // every planted-garbage doc the rule let through
    "q218_model_cascade" -> ((s, d) => {
      import s.implicits._
      val docs = tbl(s, d, "documents")
      val suffix = " " + ("zzz " * 60) +
        ("000 111 222 333 444 555 666 777 888 999 " * 3)
      val labeled = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(suffix)))
          .otherwise(col("text")).as("text"))
      val train = labeled.where(col("doc_id") % 5 =!= 0)
        .withColumn("y", (col("doc_id") % 3 =!= 0).cast("int"))
      val model = graft.ops.Quality.train(train,
        train.select(col("doc_id").as("id"), col("y")), "doc_id", "text",
        lr = 16.0, iters = 30)
      // the scored relation feeds TWO actions (report + kept-garbage
      // count); persist it so the featurize+sigmoid pass runs once — the
      // auto-cache rule, applied by hand across the op boundary
      val scored = graft.ops.Quality.score(labeled, model, "doc_id", "text")
        .persist()
      val cascade = Seq(
        "too_short" -> (length(col("text")) >= 100),
        "model_quality" -> (col("quality") >= 0.5))
      val report = graft.ops.Filters.filterReport(scored, cascade)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val kept = graft.ops.Filters.applyCascade(scored, cascade)
      val keptGarbage = kept.where(col("doc_id") % 3 === 0).count()
      scored.unpersist()
      val nTotal = report.values.sum
      Seq((nTotal, report("too_short"), keptGarbage == 0L,
          nTotal == docs.count()))
        .toDF("n_total", "n_too_short", "garbage_gone", "report_conserves")
    }),

    // END-TO-END SFT pipeline: documents → conversations (q212's turns) →
    // render + assistant loss spans → pack the rendered conversations by
    // char length (q206's boundary layout) → loss spans REPOSITIONED into
    // pack coordinates (global = pack_offset + start_off) — the packed
    // training-example metadata a trainer consumes, every number
    // closed-form and recomputed by the oracle as one composition
    "q219_sft_pipeline" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val tok = docs.select(col("doc_id").as("conv"),
          posexplode(split(trim(col("text")), "\\s+")))
        .toDF("conv", "pos", "w")
        .where(length(col("w")) > 0)
      val turns = tok
        .groupBy(col("conv"), expr("pos div 8").cast("long").as("turn"))
        .agg(array_join(transform(array_sort(collect_list(struct(col("pos"),
          col("w")))), x => x.getField("w")), " ").as("content"))
        .withColumn("role",
          when(col("turn") % 2 === 0, "user").otherwise("assistant"))
      val rendered = graft.ops.Sft.renderConversations(
        turns, "conv", "turn", "role", "content")
      val packed = graft.ops.Packing.packLayout(rendered, col("conv"),
        length(col("text")).cast("long"), targetTokens = 4096L, numBuckets = 8)
        .select(col("conv"), col("bucket"), col("pack"), col("seg"),
          col("pack_offset"))
      val spans = graft.ops.Sft.lossSpans(turns, "conv", "turn", "role", "content")
        .where(col("role") === "assistant")
      spans.join(packed, "conv")
        .select(col("conv"), col("turn"), col("bucket"), col("pack"),
          col("seg"),
          (col("pack_offset") + col("start_off")).as("global_start"),
          (col("pack_offset") + col("end_off")).as("global_end"))
    }),

    // IVF-PQ index LIFECYCLE: save → append a batch against the immutable
    // quantizers (only touched cells gain files) → tombstone ids (no file
    // rewrite) → loaded probe equals the in-memory probe over the same
    // union-minus-deleted codes, and the appended near-copies surface
    "q220_ivfpq_lifecycle" -> ((s, d) => {
      import s.implicits._
      val emb = tbl(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
      val idx = graft.ops.PqIndex.build(emb, nlist = 8, m = 8, ksub = 16,
        maxIter = 4)
      val dir = gateWorkspace(d, "ivfpq_life")
      graft.ops.PqIndex.save(idx, dir)
      val batch = qs.crossJoin(Seq(1, 2).toDF("j"))
        .select((lit(3000000L) + col("vec_id") * 10 + col("j")).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.002f)).as("embedding"),
          lit(0).as("label"))
      graft.ops.PqIndex.appendSaved(s, dir, batch)
      val doomed = emb.where(col("vec_id") % 7 === 0 && col("vec_id") >= 8)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      graft.ops.PqIndex.deleteSaved(s, dir, doomed)
      // (loaded ≡ in-memory is q215's witness; this gate proves the
      // lifecycle-specific facts on ONE loaded probe)
      val loaded = graft.ops.PqIndex.load(s, dir)
      val corpus = emb.unionByName(batch)
      val got = graft.ops.PqIndex.probe(loaded, qs, k = 10, nprobe = 4,
          rerankWith = Some(corpus), rerankFactor = 4)
        .select("qid", "did").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      val doomedSet = doomed.toSet
      val gotSet = got.toSet
      val planted = (0L until 8L).flatMap(q => (1 to 2).map(j =>
        (q, 3000000L + q * 10 + j)))
      Seq((got.length.toLong,
          planted.forall(gotSet.contains),
          got.forall(p => !doomedSet.contains(p._2))))
        .toDF("n_results", "appended_found", "no_deleted_returned")
    }),

    // Hard-negative mining: each anchor's top-5 most-similar items that
    // are NOT its positives (positives = same-label items) — the
    // confusables a contrastive embedding model trains against. The op
    // takes a generic positives relation; the oracle recomputes every
    // cosine and the label anti-join in closed form (full-value)
    "q221_hard_negatives" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      val anchors = emb.where(col("vec_id") < 8)
      val positives = anchors
        .select(col("vec_id").as("anchor_id"), col("label").as("__al"))
        .join(emb.select(col("vec_id").as("pos_id"), col("label").as("__pl")),
          col("__al") === col("__pl"))
        .select("anchor_id", "pos_id")
      graft.ops.Similarity.hardNegatives(emb, anchors, positives, k = 5)
    }),

    // Near-dup-aware train/val/test split: split membership drawn on the
    // duplicate-cluster canonical id, so near-copies never straddle a
    // split boundary (the leakage a row-keyed split leaves open); oracle
    // recomputes LSH clusters AND the split thresholds (full-value)
    "q222_dedup_aware_split" -> ((s, d) =>
      graft.ops.Curation.dedupAwareSplit(tbl(s, d, "documents"),
          splits = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2),
          minJaccard = 0.2)
        .select(col("doc_id"), col("split"))),

    // Tokenizer EVALUATION: train BPE (200 merges) and the unigram LM
    // (200 pieces) on the 4/5 split, encode the held-out 1/5 with both,
    // and contract the cross-tokenizer facts — exact char-mass
    // conservation through each encoding, token counts inside their
    // provable bounds (>= words resp. >= ceil(chars/maxPieceLen), <=
    // chars), and genuine compression (tokens < chars) for both
    "q223_tokenizer_eval" -> ((s, d) => {
      import s.implicits._
      val docs = tbl(s, d, "documents")
      val train = docs.where(col("doc_id") % 5 =!= 0)
      val hold = docs.where(col("doc_id") % 5 === 0)
      val (mergesDf, _) = graft.ops.Bpe.trainLocal(train, "text", numMerges = 200)
      val merges = mergesDf.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val bpe = graft.ops.Bpe.encodeFast(hold, merges)
        .agg(sum(size(col("tokens"))).cast("long").as("t"),
          sum(aggregate(col("tokens"), lit(0L), (a, t) => a + length(t))).as("c"))
        .head()
      val model = graft.ops.Unigram.train(train, vocabSize = 200,
        maxPieceLen = 6, seedSize = 1500, emIters = 2)
      val uni = graft.ops.Unigram.encode(hold, model)
        .agg(sum(size(col("pieces"))).cast("long").as("t"),
          sum(aggregate(col("pieces"), lit(0L), (a, t) => a + length(t))).as("c"))
        .head()
      val truth = hold
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
        .agg(count(lit(1)).as("w"), sum(length(col("w"))).cast("long").as("c"))
        .head()
      val (nWords, nChars) = (truth.getLong(0), truth.getLong(1))
      val (bpeT, bpeC) = (bpe.getLong(0), bpe.getLong(1))
      val (uniT, uniC) = (uni.getLong(0), uni.getLong(1))
      Seq((nWords, nChars,
          bpeC == nChars && uniC == nChars,
          bpeT >= nWords && bpeT <= nChars,
          uniT >= (nChars + 5) / 6 && uniT <= nChars,
          bpeT < nChars && uniT < nChars))
        .toDF("n_words", "n_chars", "mass_ok", "bpe_bounds_ok",
          "unigram_bounds_ok", "both_compress")
    }),

    // Hard-negative mining AT INDEX SCALE: candidates come from the IVF-PQ
    // probe (pruned cells, ADC + exact rerank) instead of a full corpus
    // scan; positives are anti-joined away and the survivors re-ranked.
    // Planted-confusable contract (q213/q215 pattern): 3 perturbed copies
    // of each anchor carry a label no positive has, so every one must
    // surface in that anchor's top-5 negatives; full k per anchor; no
    // positive may be returned
    "q224_hard_negatives_indexed" -> ((s, d) => {
      import s.implicits._
      val emb = tbl(s, d, "embeddings")
      val anchors = emb.where(col("vec_id") < 8)
      val copies = anchors.crossJoin(Seq(1, 2, 3).toDF("j"))
        .select((lit(3000000L) + col("vec_id") * 10 + col("j")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + ((col("vec_id") * 3 + col("j") * 11 + i) % 5).cast("float") * lit(0.001f))
            .as("embedding"),
          lit(99).as("label"))
      val corpus = emb.unionByName(copies)
      val positives = anchors
        .select(col("vec_id").as("anchor_id"), col("label").as("__al"))
        .join(emb.select(col("vec_id").as("pos_id"), col("label").as("__pl")),
          col("__al") === col("__pl"))
        .select("anchor_id", "pos_id")
      val idx = graft.ops.PqIndex.build(corpus, nlist = 8, m = 8, ksub = 16,
        maxIter = 4)
      // the three witnesses below all consume `got` — materialize the
      // probe ONCE or the whole index-probe pipeline re-executes per branch
      val got = graft.ops.Similarity.hardNegativesIndexed(idx, anchors,
        positives, k = 5, nprobe = 4, rerankWith = Some(corpus),
        rerankFactor = 4, overfetch = 4)
        .select("qid", "did").localCheckpoint()
      val planted = anchors.crossJoin(Seq(1, 2, 3).toDF("j"))
        .select(col("vec_id").as("qid"),
          (lit(3000000L) + col("vec_id") * 10 + col("j")).as("did"))
      got.agg(count(lit(1)).as("n_results")).crossJoin(
        planted.join(got, Seq("qid", "did"), "left_semi")
          .agg((count(lit(1)) === 24L).as("all_planted_found")))
        .crossJoin(got.join(
            positives.select(col("anchor_id").as("qid"), col("pos_id").as("did")),
            Seq("qid", "did"), "left_semi")
          .agg((count(lit(1)) === 0L).as("no_positive_returned")))
    }),

    // One level of HEAD NESTING in the macro (the reference's
    // Normalize.scala UnnestGenerator shape): q183's corpus, but the yield
    // contains a nested comprehension over a per-row literal DataBag(seq)
    // folded with .sum — the macro re-roots it onto the closure-safe
    // LocalBag so it runs narrowly inside the join's map. The oracle
    // flattens the triangular sum Σ 1..n (n = o_orderkey%5+1) in SQL
    "q225_comprehension_nested_yield" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      implicit val sp: SparkSession = s
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .as[CustRow])
      val res = onSpark {
        for {
          o <- orders
          cu <- custs
          if o.o_custkey == cu.c_custkey
          if cu.c_acctbal > 5000.0
        } yield (o.o_orderkey, cu.c_name,
          (for { w <- DataBag((1L to (o.o_orderkey % 5 + 1)).toSeq) } yield w).sum)
      }
      res.ds.toDF("o_orderkey", "c_name", "tri")
    }),

    // PointBag — the IN-FLIGHT half of the IndexedRDD gap (the at-rest half
    // is q195's StateStore): keyed state hash-partitioned at the RDD tier,
    // point upserts/deletes touch ONLY the partitions owning the delta's
    // keys (PointBagSpec machine-asserts the task counts). Three upsert
    // rounds + an insert round + a delete pass over customer balances in
    // integer cents (exact Long arithmetic — order-free, oracle-exact).
    "q226_point_bag" -> ((s, d) => {
      import s.implicits._
      def cents(c: Column): Column = round(c * 100).cast("long")
      val base = tbl(s, d, "customer")
        .select(col("c_custkey"), cents(col("c_acctbal")).as("v")).as[(Long, Long)]
      val pb = graft.api.PointBag(DataBag.from(base), compactEvery = 2)
      val add = (k: Long, old: Option[Long], m: Long) => Some(old.getOrElse(0L) + m)
      val msgs = tbl(s, d, "orders").where(col("o_orderkey") % 1000 < 40)
        .select(col("o_custkey"), cents(col("o_totalprice")).as("m"),
          (col("o_orderkey") % 3).as("r")).as[(Long, Long, Long)].collect()
      for (r <- 0L to 2L) // the converging-fixpoint shape: small driver-known deltas
        pb.update(msgs.filter(_._3 == r).map(t => (t._1, t._2)).toSeq)(add)
      val ins = tbl(s, d, "orders").where(col("o_orderkey") % 1000 < 5)
        .select(col("o_custkey") + 10000000L, cents(col("o_totalprice")))
        .as[(Long, Long)].collect()
      pb.update(ins.toSeq)(add) // keys absent from the state: pure inserts
      val dels = tbl(s, d, "customer").where(col("c_custkey") % 97 === 0)
        .select(col("c_custkey")).as[Long].collect()
      pb.delete(dels.toSeq)
      pb.bag().ds.toDF("c_custkey", "balance_cents")
    }),

    // Correlated EXISTS / NOT EXISTS in comprehension syntax: the macro
    // derives `orders.exists(o => key == key && p(o))` as a semiJoin of
    // the pre-filtered bag and its negation as an antiJoin — the SQL
    // subquery shapes planned as LeftSemi/LeftAnti hash joins, never a
    // bag captured in an executor-side filter closure (that spelling used
    // to compile and crash at runtime; underivable shapes now abort at
    // compile time with guidance).
    "q227_comprehension_exists" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for {
          cu <- custs
          if orders.exists(o =>
            o.o_custkey == cu.c_custkey && o.o_totalprice > 150000.0)
          if !orders.exists(o =>
            o.o_custkey == cu.c_custkey && o.o_totalprice < 5000.0)
        } yield (cu.c_custkey, cu.c_name)
      }
      res.ds.toDF("c_custkey", "c_name")
    }),

    // Correlated scalar folds in the comprehension head — the reference's
    // FoldGroupFusion (emma-compiler FoldGroupFusion.scala) reached from
    // the quotation front-end: `orders.count(o => key == key && p)` and a
    // nested `(for {o <- orders; if key == key} yield v).sum` each lower
    // to ONE combinable pre-aggregation of orders by custkey plus a left
    // outer join with the monoid zero for matchless customers — never a
    // per-row job or an executor-side bag capture. Sum in integer cents
    // (exact, order-free) for a portable oracle.
    "q228_comprehension_foldgroup" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for { cu <- custs; if cu.c_acctbal > 0.0 } yield (
          cu.c_custkey, cu.c_name,
          orders.count(o =>
            o.o_custkey == cu.c_custkey && o.o_totalprice > 100000.0),
          (for { o <- orders; if o.o_custkey == cu.c_custkey }
            yield (o.o_totalprice * 100 + 0.5).floor.toLong).sum)
      }
      res.ds.toDF("c_custkey", "c_name", "big_orders", "total_cents")
    }),

    // Correlated HAVING: a guard comparing a correlated fold value —
    // `if orders.count(o => key == key) >= 12` — derives the same
    // pre-aggregate + left outer join, filters on the widened tuple, and
    // projects the fold level back off; a second fold in the head rides
    // its own sumJoin. SQL's `WHERE (SELECT COUNT(*) ...) >= n` from
    // comprehension syntax, with zero driver-side evaluation.
    "q229_comprehension_having" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for { cu <- custs
              if orders.count(o => o.o_custkey == cu.c_custkey) >= 12L }
          yield (cu.c_custkey, cu.c_name,
            orders.count(o =>
              o.o_custkey == cu.c_custkey && o.o_totalprice > 100000.0))
      }
      res.ds.toDF("c_custkey", "c_name", "big_orders")
    }),

    // Correlated top-k head fold: `(for {o <- orders; if key} yield
    // cents).top(3)` pre-aggregates through the bag's own bounded-heap
    // Top algebra (AlgAggregator typed UDAF — ≤ k values per key per
    // partition reach the shuffle), left-outer-joins with Nil default,
    // and the trailing `.sum` is plain List code over the substituted
    // value. Exact integer cents for a portable oracle.
    "q230_comprehension_topk" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for { cu <- custs } yield (cu.c_custkey, cu.c_name,
          (for { o <- orders; if o.o_custkey == cu.c_custkey }
            yield (o.o_totalprice * 100 + 0.5).floor.toLong).top(3).sum)
      }
      res.ds.toDF("c_custkey", "c_name", "top3_cents")
    }),

    // The reference's FoldGroupFusion applied to the groupBy comprehension
    // itself (FoldGroupFusion.scala:49-82): `for { g <- orders.groupBy(k);
    // if g.values.size >= 12 } yield <folds of g.values>` rewrites to ONE
    // fused foldGroup over an Alg2-composed algebra — a combinable
    // aggregation with map-side partials; the group Seqs never
    // materialize (ComprehensionSpec plan-asserts no MapGroups). The
    // unfused spelling would shuffle every order row into whole-group
    // buffers.
    "q231_comprehension_groupfusion" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for { g <- orders.groupBy(o => o.o_custkey); if g.values.size >= 12 }
          yield (g.key, g.values.size,
            g.values.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).sum,
            g.values.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).max)
      }
      res.ds.toDF("o_custkey", "n_orders", "total_cents", "max_cents")
    }),

    // The emptiness spellings of the correlated subquery guards:
    // `bag.withFilter(key-eq && p).nonEmpty` normalizes to the same
    // semiJoin `exists` derives, `.isEmpty` to the antiJoin — the macro
    // treats `withFilter(f).nonEmpty` AS `exists(f)` so SQL's
    // EXISTS/NOT EXISTS derive from either spelling. Same query as q227
    // (same oracle): the two spellings must hash-match.
    "q232_comprehension_nonempty" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for {
          cu <- custs
          if orders.withFilter(o =>
            o.o_custkey == cu.c_custkey && o.o_totalprice > 150000.0).nonEmpty
          if orders.withFilter(o =>
            o.o_custkey == cu.c_custkey && o.o_totalprice < 5000.0).isEmpty
        } yield (cu.c_custkey, cu.c_name)
      }
      res.ds.toDF("c_custkey", "c_name")
    }),

    // Uncorrelated global folds (SQL's uncorrelated scalar subquery):
    // generator-independent folds hoist into driver vals evaluated once —
    // here a mean-balance threshold (spelled multiplication-only: exact
    // integer cents, no division-semantics divergence) and a global max
    // order price, composed with a derived equi join. The macro turns
    // `custs.map(cents).sum`, `custs.size` and `orders.map(cents).max`
    // into three hoisted vals; without the hoist the bags would ride an
    // executor closure.
    "q233_comprehension_global_fold" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for {
          cu <- custs
          o <- orders
          if o.o_custkey == cu.c_custkey
          // above-mean balance: bal*n > sum (exact integers, no division)
          if (cu.c_acctbal * 100 + 0.5).floor.toLong * custs.size >
            custs.map(c => (c.c_acctbal * 100 + 0.5).floor.toLong).sum
          // an order above half the global maximum price
          if (o.o_totalprice * 100 + 0.5).floor.toLong * 2L >
            orders.map(o2 => (o2.o_totalprice * 100 + 0.5).floor.toLong).max
        } yield (cu.c_custkey, o.o_orderkey)
      }
      res.ds.toDF("c_custkey", "o_orderkey")
    }),

    // Correlated min/max folds (SQL's correlated MIN/MAX scalar
    // subquery): `orders.withFilter(key).map(cents).max` pre-aggregates
    // to one combinable reduce + join (FoldGroups.minMaxJoin) instead of
    // a per-customer scan; an empty group would throw the sequential
    // `max of empty bag` — the EXISTS guard (a derived semi join)
    // restricts to customers with orders, so the query is total.
    "q234_comprehension_minmax" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for {
          cu <- custs
          if orders.exists(o => o.o_custkey == cu.c_custkey)
        } yield (cu.c_custkey,
          orders.withFilter(o => o.o_custkey == cu.c_custkey)
            .map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).min,
          orders.withFilter(o => o.o_custkey == cu.c_custkey)
            .map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).max)
      }
      res.ds.toDF("c_custkey", "min_cents", "max_cents")
    }),

    // The reference's FoldGroup "of case classes multiple times" spelling
    // (BaseCodegenIntegrationSpec.scala:322-336): the group's values/key
    // are bound to BLOCK VALS, folds run on the alias, fold results feed
    // derived arithmetic (the avg) and string interpolation. The macro
    // inlines the aliases and fuses to ONE foldGroup — combinable
    // aggregation, group Seqs never materialize. The avg divides two
    // exact integers in double arithmetic — identical IEEE ops in DuckDB.
    "q235_comprehension_group_block" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_totalprice")).as[OrderYearRow])
      val res = onSpark {
        for { g <- orders.groupBy(o => o.o_year) } yield {
          val values = g.values
          val yr = g.key
          val total = values.size
          val avg = values.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).sum /
            (total * 100.0)
          val mn = values.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).min
          val mx = values.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).max
          (s"$yr orders", total, avg, mn, mx)
        }
      }
      res.ds.toDF("label", "n_orders", "avg_price", "min_cents", "max_cents")
    }),

    // The reference's FoldGroup "with multiple groups in the same
    // comprehension" (BaseCodegenIntegrationSpec.scala:365-372): two
    // grouped bags joined on the group key. Each groupBy generator
    // pre-rewrites to a fused foldGroup (no group Seq materializes on
    // either side), then the key guard derives the equi join between the
    // two PRE-AGGREGATED relations — K rows a side instead of shuffling
    // materialized groups.
    "q236_comprehension_multi_group" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val ords = DataBag.from(tbl(s, d, "orders")
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_totalprice")).as[OrderYearRow])
      val items = DataBag.from(tbl(s, d, "lineitem")
        .select(year(col("l_shipdate")).cast("long").as("l_year"),
          col("l_quantity")).as[ShipYearRow])
      val res = onSpark {
        for {
          oy <- ords.groupBy(o => o.o_year)
          ly <- items.groupBy(l => l.l_year)
          if oy.key == ly.key
        } yield (oy.key, oy.values.size,
          oy.values.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).sum,
          ly.values.size,
          ly.values.map(l => (l.l_quantity * 100 + 0.5).floor.toLong).sum)
      }
      res.ds.toDF("y", "n_orders", "ord_cents", "n_items", "qty_cents")
    }),

    // The reference's FoldGroup "with duplicate group names" spelling
    // (BaseCodegenIntegrationSpec.scala:350-363): the generator
    // DESTRUCTURES the group — `Group(ck, os) <- orders.groupBy(...)`.
    // The macro desugars the pattern (and scalac's check$ifrefutable
    // filter) to `.key`/`.values` reads on a plain binder and re-expands,
    // so the same fused foldGroup derives — one combinable aggregation,
    // HAVING guard on the aggregated rows, no group Seqs.
    "q237_comprehension_group_pattern" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for { Group(ck, os) <- orders.groupBy(o => o.o_custkey)
              if os.size >= 12 }
          yield (ck, os.size,
            os.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).min,
            os.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).max)
      }
      res.ds.toDF("o_custkey", "n_orders", "min_cents", "max_cents")
    }),

    // The NESTED-RESULT comprehension (SQL's correlated ARRAY subquery;
    // the reference reaches the shape by comprehension nesting + fold
    // fusion): `orders.withFilter(key).map(cents).collect()` pre-groups
    // the inner bag by its key (grouped materialization — every value
    // crosses the shuffle by definition of the result) and outer-joins
    // with Nil for customers without orders; the List's order is
    // unspecified (the DataBag.collect contract), so the deterministic
    // rendering sorts locally before joining to a string.
    "q238_comprehension_collect" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for { cu <- custs } yield (cu.c_custkey,
          orders.withFilter(o => o.o_custkey == cu.c_custkey)
            .map(o => (o.o_totalprice * 100 + 0.5).floor.toLong)
            .collect().sorted.mkString(","))
      }
      res.ds.toDF("c_custkey", "cents_list")
    }),

    // SELECT-list EXISTS: a correlated `orders.exists(key && p)` in the
    // YIELD derives as count-pre-aggregate + outer join compared > 0 (a
    // missing group joins the zero default = false), composed with a
    // plain correlated count in the same yield — two combinable
    // aggregations + two key joins, no per-row subqueries.
    "q239_comprehension_exists_head" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for { cu <- custs } yield (cu.c_custkey,
          orders.exists(o =>
            o.o_custkey == cu.c_custkey && o.o_totalprice > 150000.0),
          orders.count(o => o.o_custkey == cu.c_custkey))
      }
      res.ds.toDF("c_custkey", "has_big", "n_orders")
    }),

    // The reference's UnnestGenerator (Normalize.scala:44-52) on the
    // DEPENDENT case: a generator whose bag is a nested comprehension
    // correlated with the outer row. The macro splices the inner chain
    // into the outer one by monad associativity and re-expands — the
    // correlation guard then derives the SAME equi join a hand-flattened
    // comprehension gets (one shuffle on the key, inner filter pushed to
    // the orders scan).
    "q240_comprehension_unnest" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for {
          cu <- custs
          cents <- (for {
            o <- orders
            if o.o_custkey == cu.c_custkey && o.o_totalprice > 100000.0
          } yield (o.o_totalprice * 100 + 0.5).floor.toLong)
        } yield (cu.c_custkey, cu.c_name, cents)
      }
      res.ds.toDF("c_custkey", "c_name", "cents")
    }),

    // Deeper unnesting: a MULTI-generator inner comprehension (its own
    // join inside), guards on the nested binder, and a post-splice use of
    // the inner yield in a later guard — the whole thing flattens to the
    // 3-relation join chain with every correlation as an equi key.
    "q241_comprehension_unnest_multi" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for {
          cu <- custs
          pay <- (for {
            o <- orders
            if o.o_custkey == cu.c_custkey
            o2 <- orders
            if o2.o_orderkey == o.o_orderkey
          } yield (o.o_orderkey, (o2.o_totalprice * 100 + 0.5).floor.toLong))
          if pay._2 >= 10000000L
        } yield (cu.c_custkey, pay._1, pay._2)
      }
      res.ds.toDF("c_custkey", "o_orderkey", "cents")
    }),

    // PATTERN-bound unnesting: the nested generator destructures the
    // inner yield (`(ok, cents) <- (for ... yield (k, v))`). The macro
    // substitutes COMPONENT-WISE — each bind name gets its tuple slot's
    // expression — so the splice needs no intermediate tuple at all and
    // the flattened chain derives the same join-plus-filter plan.
    "q242_comprehension_unnest_pattern" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for {
          cu <- custs
          (ok, cents) <- (for {
            o <- orders
            if o.o_custkey == cu.c_custkey
          } yield (o.o_orderkey, (o.o_totalprice * 100 + 0.5).floor.toLong))
          if cents >= 10000000L
        } yield (cu.c_custkey, ok, cents)
      }
      res.ds.toDF("c_custkey", "o_orderkey", "cents")
    }),

    // CASE-CLASS-bound unnesting: the nested generator destructures a
    // case-class inner yield (`PayInfo(ok, cents) <- ... yield
    // PayInfo(...)`). The synthetic companion apply and the case pattern
    // are positional inverses, so each bind substitutes its constructor
    // argument and the case class vanishes from the flattened chain — a
    // custom extractor (whose components need not align) still aborts.
    "q243_comprehension_unnest_case_class" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for {
          cu <- custs
          PayInfo(ok, cents) <- (for {
            o <- orders
            if o.o_custkey == cu.c_custkey
          } yield PayInfo(o.o_orderkey,
            (o.o_totalprice * 100 + 0.5).floor.toLong))
          if cents >= 10000000L
        } yield (cu.c_custkey, ok, cents)
      }
      res.ds.toDF("c_custkey", "o_orderkey", "cents")
    }),

    // Composite-key equi join: BOTH equality guards key ONE join (the
    // reference's MatchEquiJoin equality-guard collection). Joining on
    // the first key alone (8-ish distinct mod values) and post-filtering
    // the second would shuffle an intermediate |orders|x|lineitem|/k —
    // the 100-TB blowup ProfileCompositeKey measures at 273x.
    "q244_comprehension_composite_key" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val res = onSpark {
        for {
          cu <- custs
          o <- orders
          if o.o_custkey % 7 == cu.c_custkey % 7
          if o.o_custkey == cu.c_custkey
          if o.o_totalprice > 50000.0
        } yield (cu.c_custkey, o.o_orderkey)
      }
      res.ds.toDF("c_custkey", "o_orderkey")
    }),

    // Depth-3 dependent comprehension: the lineitem chain nests inside the
    // orders chain which nests inside the customer chain, each level
    // correlated with the one above. The UnnestGenerator splice re-expands
    // per level (ref Normalize.scala:44-52 runs to fixpoint), flattening
    // to customer JOIN orders JOIN lineitem with every correlation an equi
    // key — ComprehensionSpec plan-asserts 2 joins, no cartesian.
    "q245_comprehension_depth3" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val lines = DataBag.from(tbl(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")).as[LineQtyRow])
      val res = onSpark {
        for {
          cu <- custs
          v <- (for {
            o <- orders
            if o.o_custkey == cu.c_custkey && o.o_totalprice > 200000.0
            q <- (for {
              l <- lines
              if l.l_orderkey == o.o_orderkey && l.l_quantity > 45.0
            } yield (l.l_quantity * 100 + 0.5).floor.toLong)
          } yield q + o.o_orderkey)
        } yield (cu.c_custkey, cu.c_name, v)
      }
      res.ds.toDF("c_custkey", "c_name", "v")
    }),

    // PointBag distributed-delta round: the orders relation (too large for
    // the driver-routed point path) hash-partitions WITH the state's
    // partitioner and zips partitions — the customer state never shuffles
    // (PointBagSpec lineage-asserts exactly one ShuffledRDD added, the
    // delta's). Integer cents keep the per-key fold order-insensitive.
    "q246_pointbag_delta" -> ((s, d) => {
      import s.implicits._
      val state = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"),
          expr("CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)").as("cents"))
        .as[(Long, Long)])
      val pb = graft.api.PointBag(state, parts = 32)
      val delta = DataBag.from(tbl(s, d, "orders")
        .select(col("o_custkey"),
          expr("CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)").as("m"))
        .as[(Long, Long)])
      pb.updateBag(delta)((_, old, m) => Some(old.getOrElse(0L) + m))
      pb.bag().ds.toDF("c_custkey", "cents")
    }),

    // Same-object helper-def inlining (the reference's Lib.expand,
    // compiler/lib/Lib.scala:40-55): a dependent generator whose bag is
    // BUILT BY A METHOD CALL beta-reduces into the comprehension and
    // participates in join derivation — the plan is the same single equi
    // join the written-out spelling gets (no cartesian, no per-row jobs)
    "q248_libdef_inline" -> ((s, d) => {
      import s.implicits._
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      import graft.api.comprehensions.onSpark
      def highOrders(c: CustRow): DataBag[OrderRow] =
        for { o <- orders
          if o.o_custkey == c.c_custkey && o.o_totalprice > 150000.0 } yield o
      val res = onSpark {
        for { cu <- custs; o <- highOrders(cu) }
          yield (cu.c_custkey, cu.c_name, o.o_orderkey,
            (o.o_totalprice * 100 + 0.5).floor.toLong)
      }
      res.ds.toDF("c_custkey", "c_name", "o_orderkey", "price_cents")
    }),

    // CROSS-FILE helper-def inlining (the reference's @emma.lib +
    // Lib.expand registry, compiler/lib/Lib.scala:40-55): the dependent
    // generator's bag is built by graft.lib.QuotedLib.bigOrdersOf — a
    // @graft.api.lib def in ANOTHER FILE whose stored source splices here,
    // its sibling reference (bigFloor) re-qualified to the owner's static
    // path — and derives the same single equi join as q248's same-file
    // spelling (no cartesian, no per-row jobs)
    "q249_crossfile_lib" -> ((s, d) => {
      import s.implicits._
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      import graft.api.comprehensions.onSpark
      val res = onSpark {
        for { cu <- custs; o <- graft.lib.QuotedLib.bigOrdersOf(cu, orders) }
          yield (cu.c_custkey, cu.c_name, o.o_orderkey,
            (o.o_totalprice * 100 + 0.5).floor.toLong)
      }
      res.ds.toDF("c_custkey", "c_name", "o_orderkey", "price_cents")
    }),

    // GENERIC cross-file @lib inlining (the reference's type-parameterized
    // library story: Lib.expand inlines kfold.split[A: Meta],
    // transitiveClosure.apply[V: Meta] — emma-lib/.../ml/kfold.scala:27,
    // .../graphs/transitiveClosure.scala:24): QuotedLib.keyedOver[A] is
    // monomorphized at the splice site from the TYPED call's resolved type
    // arguments (A = Double here, inferred), its evidence encoder
    // re-resolves at the splice, and the derivation is the same single
    // equi join a hand-monomorphized spelling gets
    "q250_generic_lib" -> ((s, d) => {
      import s.implicits._
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val keyed = DataBag.from(tbl(s, d, "orders")
        .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)])
      import graft.api.comprehensions.onSpark
      val res = onSpark {
        for { cu <- custs; p <- graft.lib.QuotedLib.keyedOver(cu.c_custkey, keyed) }
          yield (cu.c_custkey, cu.c_name, (p._2 * 100 + 0.5).floor.toLong)
      }
      res.ds.toDF("c_custkey", "c_name", "price_cents")
    }),

    // OBJECT-level @lib (the reference's documented module spelling:
    // @emma.lib object stat, emma-lib/.../lib/stats/stat.scala:22): TWO
    // members of the annotated graft.lib.QuotedOps splice in one quote —
    // ordersOf over pricierCents — and the scalar sibling `cents` (no
    // carrier: declared non-bag type) re-qualifies to the owner's static
    // path inside the spliced guard; the derivation is one equi join over
    // the filtered orders
    "q251_object_lib" -> ((s, d) => {
      import s.implicits._
      val custs = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[CustRow])
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      import graft.api.comprehensions.onSpark
      val res = onSpark {
        for { cu <- custs
              o <- graft.lib.QuotedOps.ordersOf(cu,
                graft.lib.QuotedOps.pricierCents(15000000L, orders)) }
          yield (cu.c_custkey, cu.c_name, o.o_orderkey)
      }
      res.ds.toDF("c_custkey", "c_name", "o_orderkey")
    }),

    // SCALAR-returning @lib def over a distributed bag (the reference's
    // dominant library shape — stat.sum/mean are bag-CONSUMING scalar defs,
    // emma-lib/.../stats/stat.scala:27-39, and Lib.expand inlines them like
    // any other annotated def): dstat.meanL splices into the guard, its
    // folds hoist into driver vals (SQL's uncorrelated scalar subquery),
    // and the comprehension derives a plain pre-filter. Integer cents keep
    // the mean exact (integer division), so the oracle matches bit-for-bit
    "q252_scalar_lib" -> ((s, d) => {
      import s.implicits._
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val cents = DataBag.from(tbl(s, d, "orders")
        .select(expr("CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)").as("cents"))
        .as[Long])
      import graft.api.comprehensions.onSpark
      val res = onSpark {
        for { o <- orders
              if (o.o_totalprice * 100 + 0.5).floor.toLong >
                graft.lib.dstat.meanL(cents) }
          yield (o.o_orderkey, o.o_custkey,
            (o.o_totalprice * 100 + 0.5).floor.toLong)
      }
      res.ds.toDF("o_orderkey", "o_custkey", "price_cents")
    }),

    // The reference's stats PIPELINE as quoted code (the task-2 acceptance
    // workload): a z-score feature pipeline calling @lib dstat.{meanL,
    // stddevL} clones of emma-lib stat.{mean,stddev} — stddev's body binds
    // `val mu = mean(xs)` before the second-pass fold, the exact shape the
    // macro's ANF-inverse val inlining re-exposes. All first-pass moments
    // hoist and FUSE to ONE foldAll job under the expansion's
    // SELF-ESTABLISHED AutoCache scope (r15: no manual wrapper — the
    // reference runs fold fusion unconditionally); the squared-deviation
    // pass is the second, irreducible job
    // (StatsPipelineSpec plan-asserts the job counts). Exact arithmetic
    // end-to-end: integer mean/variance, one IEEE sqrt and one division on
    // bit-identical inputs — hash-matches DuckDB with no rounding slop
    "q253_stats_pipeline" -> ((s, d) => {
      import s.implicits._
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      // WHOLE-DOLLAR units: the integer second-pass sum of squared
      // deviations stays far inside Long through sf10 (cents squared
      // overflowed the guarded Sum algebra at sf0.1 — dev^2 ~ 1.6e15 over
      // 150k rows); floor of the double price is exact and identical on
      // both engines
      val dollars = DataBag.from(tbl(s, d, "orders")
        .select(expr("CAST(floor(o_totalprice) AS BIGINT)").as("dollars"))
        .as[Long])
      import graft.api.comprehensions.onSpark
      val res = onSpark {
        for { o <- orders }
          yield (o.o_orderkey,
            ((o.o_totalprice.floor.toLong -
                graft.lib.dstat.meanL(dollars)).toDouble /
              graft.lib.dstat.stddevL(dollars) * 1000.0).floor.toLong)
      }
      res.ds.toDF("o_orderkey", "z_millis")
    }),

    // DEPTH-2 head nesting + a GUARD-position nested fold (r14: the
    // reference's Normalize.scala:44-52 fixpoint generalized from q225's
    // one-level head to ANY depth and to guard conditions): the guard
    // folds a per-row literal bag (Σ 1..n > 6), and the yield's inner
    // comprehension's OWN yield nests another literal-ctor comprehension
    // (sum of triangulars). Both nests re-root onto LocalBag and run
    // narrowly inside the filter/map closures; the oracle flattens the
    // closed forms (n(n+1)/2 triangular, m(m+1)(m+2)/6 tetrahedral)
    "q254_comprehension_deep_head" -> ((s, d) => {
      import s.implicits._
      import graft.api.comprehensions.onSpark
      implicit val sp: SparkSession = s
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val res = onSpark {
        for { o <- orders
              if (for { w <- DataBag((1L to (o.o_orderkey % 7 + 1)).toSeq) }
                yield w).sum > 6L }
          yield (o.o_orderkey,
            (for { w <- DataBag((1L to (o.o_orderkey % 5 + 1)).toSeq) }
              yield (for { u <- DataBag((1L to w).toSeq) } yield u).sum).sum)
      }
      res.ds.toDF("o_orderkey", "tetra")
    }),

    // The reference's VECTOR stats module (stat over DVector,
    // emma-lib/.../stats/stat.scala:23-67 + the salg.scala monoids) as
    // quoted code: graft.lib.vstat's members are scalar/array-returning
    // bag CONSUMERS folding graft.lib.valg's componentwise vector-sum/
    // min/max algebras over EXACT micro-unit vectors. The quoted per-dim
    // projection splices all four members; their fold/size anchors hoist
    // and fuse under the expansion's SELF-ESTABLISHED AutoCache scope
    // (r15: no manual wrapper — sum/min/max/count in ONE foldAll pass),
    // and variance's `val mu = mean(d)(xs)` two-pass shape derives
    // through the ANF-inverse val inlining — mirroring the reference's
    // Core + FoldForestFusion chain. Integer means TRUNCATE toward zero
    // on BOTH engines (Scala `/` and DuckDB's integer `//`; measured
    // -7//2 = -3 in DuckDB — NOT floor division), so negative per-dim
    // sums divide identically
    "q255_vector_stats" -> ((s, d) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val vecs = DataBag.from(tbl(s, d, "embeddings")
        .select(transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("micros"))
        .as[Array[Long]])
      val dims = DataBag((0L until 64L).toSeq)
      import graft.api.comprehensions.onSpark
      val res = onSpark {
        for { i <- dims }
          yield (i,
            graft.lib.vstat.mean(64)(vecs)(i.toInt),
            graft.lib.vstat.variance(64)(vecs)(i.toInt),
            graft.lib.vstat.min(64)(vecs)(i.toInt),
            graft.lib.vstat.max(64)(vecs)(i.toInt))
      }
      res.ds.toDF("dim", "mean_micros", "var_micros", "min_micros", "max_micros")
    }),

    // The reference's HIGHER-ORDER summarize module (r15 task 2 —
    // emma-lib/.../lib/stats/summarize.scala:22-67, its user-facing "N
    // statistics, one pass" API): function-valued statistic parameters
    // (eta-expanded @lib members here) beta-reduce into the spliced
    // overload body, so summarize(meanL _, varianceL _)(dollars) derives
    // exactly like the direct dstat calls — all first-pass moments fuse
    // to ONE foldAll under the expansion's self-established AutoCache
    // scope (StatsPipelineSpec plan-asserts the job counts), the
    // squared-deviation fold is the irreducible second pass. Whole-dollar
    // units keep Σdev² far inside Long through sf10 (q253 precedent);
    // every intermediate is exact, so the gate hash-matches DuckDB
    "q256_summarize" -> ((s, d) => {
      import s.implicits._
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val dollars = DataBag.from(tbl(s, d, "orders")
        .select(expr("CAST(floor(o_totalprice) AS BIGINT)").as("dollars"))
        .as[Long])
      import graft.api.comprehensions.onSpark
      val res = onSpark {
        for { o <- orders }
          yield (o.o_orderkey,
            o.o_totalprice.floor.toLong -
              graft.lib.summarize(graft.lib.dstat.meanL _,
                graft.lib.dstat.varianceL _)(dollars)._1,
            graft.lib.summarize(graft.lib.dstat.meanL _,
              graft.lib.dstat.varianceL _)(dollars)._2)
      }
      res.ds.toDF("o_orderkey", "dev_dollars", "var_dollars")
    }),

    // Opt-in broadcast lowering for hinted guard membership (r15 task 4 —
    // the reference's broadcast/bag insertion, SparkBackend.scala:66-117 /
    // SparkNtv.scala:88-97, gated on the user's explicit `.broadcasted`
    // hint): a RANGE membership guard (no equality key, so the semi-join
    // derivation declines — an abort before r15) lowers to ONE driver
    // collect of the 25-row bands bag + ONE torrent broadcast, with the
    // executors filtering orders against their local copy. The big side
    // streams unchanged — no shuffle, no join
    "q257_broadcast_guard" -> ((s, d) => {
      import s.implicits._
      val orders = DataBag.from(tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[OrderRow])
      val bands = DataBag.from(tbl(s, d, "nation")
        .select((col("n_nationkey") * lit(12000L)).cast("long").as("lo"),
          (col("n_nationkey") * lit(12000L) + lit(6000L)).cast("long").as("hi"))
        .as[(Long, Long)])
      import graft.api.comprehensions.onSpark
      val res = onSpark {
        for { o <- orders
              if bands.broadcasted.exists(b =>
                o.o_totalprice >= b._1 && o.o_totalprice < b._2) }
          yield (o.o_orderkey, o.o_totalprice)
      }
      res.ds.toDF("o_orderkey", "o_totalprice")
    }),

    // Streaming point-state maintenance: the SAME computation as q246 but
    // arriving as micro-batches — each batch routes through
    // PointBag.updateBag inside foreachBatch (small batches touch only
    // their partitions; integer cents keep the merge replay/order-safe),
    // so the final state hash-matches the identical LEFT JOIN + SUM oracle
    "q247_stream_pointbag" -> ((s, d) => {
      import s.implicits._
      val state = DataBag.from(tbl(s, d, "customer")
        .select(col("c_custkey"),
          expr("CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)").as("cents"))
        .as[(Long, Long)])
      val pb = graft.api.PointBag(state, parts = 32)
      // the streamed source files are deterministic per sf dir — staged
      // ONCE per (sf, live JVM) (never across processes — jvmStageBase) so
      // later executions (Bench reps) replay the same files with a fresh
      // query/checkpoint
      val deltas = tbl(s, d, "orders")
        .select(col("o_custkey"),
          expr("CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)").as("m"))
      val nBatches = 2 // two files → two micro-batches: replay semantics
                       // exercised at half the per-batch machinery cost
      val srcBase = jvmStageBase(d, "streampb")
      if (!java.nio.file.Files.exists(srcBase.resolve("_done"))) {
        BenchMode.deleteRecursively(srcBase.resolve("src"))
        deltas.repartition(nBatches).write.mode("overwrite")
          .parquet(srcBase.resolve("src").toString)
        java.nio.file.Files.createFile(srcBase.resolve("_done"))
      }
      val stream = s.readStream.schema(deltas.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcBase.resolve("src").toString)
      graft.streaming.Streams.streamPointBagMaintenance[Long, Long, Long](
        stream, pb,
        df => df.select(col("o_custkey"), col("m")).as[(Long, Long)])(
        (_, old, m) => Some(old.getOrElse(0L) + m))
      pb.bag().ds.toDF("c_custkey", "cents")
    })
  )

  /** Demo enumeration for q165 — ids follow declaration order 0..4,
    * names are the exact TPC-H `o_orderpriority` literals. */
  object Priority extends Enumeration {
    val Urgent = Value("1-URGENT")
    val High = Value("2-HIGH")
    val Medium = Value("3-MEDIUM")
    val NotSpecified = Value("4-NOT SPECIFIED")
    val Low = Value("5-LOW")
  }

  /** Moment-normalization steps shared VERBATIM by q101's Spark
    * `selectExpr` and its DuckDB oracle, so both engines execute the
    * identical IEEE-754 expression tree (multiplication is left-associative
    * in both parsers; every input is an exact integer-valued double). */
  private val momentStep1 = Seq(
    "cast(s1 as double) / cast(n as double) AS m1",
    "cast(s2 as double) / cast(n as double) AS r2",
    "cast(s3 as double) / cast(n as double) AS r3",
    "cast(s4 as double) / cast(n as double) AS r4")
  private val momentStep2 = Seq(
    "r2 - m1*m1 AS m2",
    "r3 - 3.0*m1*r2 + 2.0*m1*m1*m1 AS m3",
    "r4 - 4.0*m1*r3 + 6.0*m1*m1*r2 - 3.0*m1*m1*m1*m1 AS m4")
  private val momentStep3 = Seq(
    "cast(floor(m3 / sqrt(m2*m2*m2) * 1000000.0 + 0.5) as bigint) AS skew_micros",
    "cast(floor((m4 / (m2*m2) - 3.0) * 1000000.0 + 0.5) as bigint) AS kurt_micros")

  /** Shared by q79's query and oracle so the two always agree. */
  private val mixTargets: Seq[(String, Double)] = Seq(
    "src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.20, "src3" -> 0.15, "src4" -> 0.10)

  // ------------- shared oracle CTE fragments (ONE definition each;
  // q29/q53/q62/q65 all build on the same shingle/signature/band pipeline)
  private val shingleCtes =
    "t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
    "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')))) AS shingle FROM t WHERE len(toks) >= 3)"

  private val sigCte =
    "sig AS (SELECT doc_id, MIN(substr(md5('0-' || shingle), 1, 8)) AS mh0, MIN(substr(md5('0-' || shingle), 9, 8)) AS mh1, " +
    "MIN(substr(md5('0-' || shingle), 17, 8)) AS mh2, MIN(substr(md5('0-' || shingle), 25, 8)) AS mh3, MIN(substr(md5('1-' || shingle), 1, 8)) AS mh4, " +
    "MIN(substr(md5('1-' || shingle), 9, 8)) AS mh5, MIN(substr(md5('1-' || shingle), 17, 8)) AS mh6, MIN(substr(md5('1-' || shingle), 25, 8)) AS mh7 FROM sh GROUP BY doc_id)"

  private val bandRowsCte =
    "bandrows AS (SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS band_key FROM sig " +
    "UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig " +
    "UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig " +
    "UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig)"

  private val bandCtes = bandRowsCte + ", " +
    "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bandrows a " +
    "JOIN bandrows b ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"

  /** q63's keep-list CTEs (quality signals, language ID, exact-dedup
    * canonical set) — shared with the end-to-end q153 pipeline oracle. */
  private val keepListCtes =
    "q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
    "floor(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio " +
    "FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents WHERE length(text) > 0) t), " +
    "lt AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents), " +
    "ls AS (SELECT doc_id, " +
    "len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS s_en, " +
    "len(list_filter(toks, x -> x IN ('el','la','de','que','es'))) AS s_es, " +
    "len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS s_de, " +
    "len(list_filter(toks, x -> x IN ('le','la','et','les','est'))) AS s_fr FROM lt), " +
    "lang AS (SELECT doc_id, CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und' " +
    "WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en' " +
    "WHEN s_es >= s_de AND s_es >= s_fr THEN 'es' " +
    "WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang FROM ls), " +
    "k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))"

  /** cand pairs -> `pairs` CTE: (id1, id2, rounded jaccard) at `threshold`. */
  private def jaccardVerifySql(threshold: Double) =
    "cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), " +
    "inter AS (SELECT id1, id2, COUNT(*) AS c FROM cand " +
    "JOIN sh s1 ON id1 = s1.doc_id JOIN sh s2 ON id2 = s2.doc_id AND s1.shingle = s2.shingle GROUP BY id1, id2), " +
    "pairs AS (SELECT id1, id2, jaccard FROM (SELECT id1, id2, " +
    "floor(CAST(c AS DOUBLE) / CAST(c1.n + c2.n - c AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS jaccard " +
    s"FROM inter JOIN cnt c1 ON id1 = c1.doc_id JOIN cnt c2 ON id2 = c2.doc_id) x WHERE jaccard >= $threshold)"

  /** 16-bit md5-derived portable simhash as DuckDB SQL — shared by q68
    * (signatures) and q133 (hamming pair join). */
  private val simhashPortableOracle: String = {
    val hv = (1 to 4).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(tok), $i, 1)) - 1) * ${1 << (4 * (4 - i))}")
      .mkString(" + ")
    val bitSums = (0 until 16).map(b =>
      s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val assemble = (0 until 16).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    "WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents), " +
      s"h AS (SELECT doc_id, $hv AS hv FROM tk), " +
      s"sx AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id) " +
      s"SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM sx"
  }

  /** DuckDB oracle for each SQL-expressible query (same parquet tables
    * registered by table name). */
  def oracleSql: Map[String, String] = Map(
    "q01_map" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS revenue FROM lineitem",

    "q02_filter" ->
      "SELECT l_orderkey, l_linenumber, l_quantity AS qty FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'",

    "q03_flatmap" ->
      "SELECT doc_id, token FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents) t WHERE length(token) > 0",

    "q04_union" ->
      "SELECT c_custkey AS id, c_name AS name FROM customer WHERE c_acctbal > 0 UNION ALL SELECT s_suppkey AS id, s_name AS name FROM supplier",

    "q05_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q06_intersect" ->
      "SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey AS nk FROM supplier",

    "q07_except" ->
      "SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0 EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000",

    "q08_groupagg" ->
      ("SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc, " +
        "SUM(l_quantity) / COUNT(*) AS avg_qty, COUNT(*) AS cnt " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"),

    "q09_global_agg" ->
      ("SELECT COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty, " +
        "strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship, " +
        "strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship, " +
        "SUM(l_quantity * l_quantity) / COUNT(*) - (SUM(l_quantity) / COUNT(*)) * (SUM(l_quantity) / COUNT(*)) AS var_qty " +
        "FROM lineitem"),

    "q10_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",

    "q11_join" ->
      "SELECT o_orderkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey",

    "q12_join5" ->
      ("SELECT n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name"),

    "q13_left_outer" ->
      "SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey",

    "q14_semi" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)",

    "q15_anti" ->
      "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)",

    "q16_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",

    "q17_rollup" ->
      "SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",

    "q18_window_rank" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t " +
        "WHERE rn <= 3"),

    "q19_window_sum" ->
      ("SELECT o_custkey, o_orderkey, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total " +
        "FROM orders"),

    "q20_events_hourly" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1, 2"),

    "q21_wordcount" ->
      ("SELECT token AS word, COUNT(*) AS cnt FROM " +
        "(SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents) t " +
        "WHERE length(token) > 0 GROUP BY token"),

    "q22_token_counts" ->
      ("SELECT doc_id, " +
        "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, " +
        "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens, " +
        "CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_distinct_tokens " +
        "FROM documents"),

    "q23_quality" ->
      ("SELECT doc_id, " +
        "CAST(length(text) AS BIGINT) AS n_chars, " +
        "CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "floor((CAST(length(text) AS DOUBLE) - CAST(len(toks) AS DOUBLE) + 1) / CAST(len(toks) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS mean_token_len, " +
        "floor(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS punct_ratio, " +
        "floor(CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio, " +
        "floor(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio, " +
        "floor(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS uniqueness " +
        "FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents WHERE n_chars > 0) t"),

    "q24_langid" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT doc_id, " +
        "len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS s_en, " +
        "len(list_filter(toks, x -> x IN ('el','la','de','que','es'))) AS s_es, " +
        "len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS s_de, " +
        "len(list_filter(toks, x -> x IN ('le','la','et','les','est'))) AS s_fr FROM t) " +
        "SELECT doc_id, " +
        "CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und' " +
        "WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en' " +
        "WHEN s_es >= s_de AND s_es >= s_fr THEN 'es' " +
        "WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang, " +
        "CAST(greatest(s_en, s_es, s_de, s_fr) AS BIGINT) AS lang_score FROM s"),

    "q25_fingerprint" ->
      "SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp FROM documents",

    "q26_exact_dedup" ->
      "SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n FROM documents GROUP BY md5(text)",

    "q29_minhash" ->
      (s"WITH $shingleCtes, $sigCte " +
        "SELECT doc_id, mh0, mh1, mh2, mh3 FROM sig"),

    "q30_jaccard" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')))) AS shingle FROM t WHERE len(toks) >= 3), " +
        "cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS c FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s2.doc_id > s1.doc_id AND s2.doc_id - s1.doc_id <= 5 GROUP BY s1.doc_id, s2.doc_id) " +
        "SELECT id1, id2, floor(CAST(c AS DOUBLE) / CAST(c1.n + c2.n - c AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS jaccard " +
        "FROM inter JOIN cnt c1 ON id1 = c1.doc_id JOIN cnt c2 ON id2 = c2.doc_id"),

    "q27_cosine_topk" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "c AS (SELECT vec_id AS did, embedding AS dv FROM embeddings), " +
        "p AS (SELECT qid, did, " +
        "list_sum(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE))) AS dot, " +
        "sqrt(list_sum(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS nq, " +
        "sqrt(list_sum(list_transform(generate_series(1, len(dv)), i -> CAST(dv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE)))) AS nd " +
        "FROM q CROSS JOIN c WHERE qid <> did), " +
        "r AS (SELECT qid, did, floor(dot / (nq * nd) * 10000.0 + 0.5) / 10000.0 AS sim FROM p) " +
        "SELECT qid, did, sim, rank FROM (SELECT qid, did, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, did) AS rank FROM r) x WHERE rank <= 3"),

    "q28_bucketed_ann" ->
      ("WITH b AS (SELECT vec_id, embedding, " +
        "(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END + " +
        "CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM b WHERE vec_id < 8), " +
        "c AS (SELECT vec_id AS did, embedding AS dv, bucket FROM b), " +
        "p AS (SELECT qid, did, " +
        "list_sum(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE))) AS dot, " +
        "sqrt(list_sum(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS nq, " +
        "sqrt(list_sum(list_transform(generate_series(1, len(dv)), i -> CAST(dv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE)))) AS nd " +
        "FROM q JOIN c USING (bucket) WHERE qid <> did), " +
        "r AS (SELECT qid, did, floor(dot / (nq * nd) * 10000.0 + 0.5) / 10000.0 AS sim FROM p) " +
        "SELECT qid, did, sim, rank FROM (SELECT qid, did, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, did) AS rank FROM r) x WHERE rank <= 3"),

    "q31_cc" ->
      ("WITH RECURSIVE ed AS (SELECT DISTINCT o_custkey % 37 AS src, o_orderkey % 37 AS dst FROM orders WHERE o_orderkey % 5 = 0 AND o_custkey % 37 <> o_orderkey % 37), " +
        "und AS (SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed), " +
        "r AS (SELECT DISTINCT src AS v, src AS u FROM und UNION SELECT r.v, und.dst AS u FROM r JOIN und ON r.u = und.src) " +
        "SELECT v AS vertex, MIN(u) AS label FROM r GROUP BY v"),

    "q32_tc" ->
      ("WITH RECURSIVE e AS (SELECT CAST(n_nationkey AS BIGINT) AS src, CAST(n_nationkey + 1 AS BIGINT) AS dst FROM nation WHERE n_nationkey % 5 <> 4), " +
        "p AS (SELECT src, dst FROM e UNION SELECT p.src, e.dst FROM p JOIN e ON p.dst = e.src) " +
        "SELECT src, dst FROM p"),

    "q33_triangles" ->
      ("WITH raw AS (SELECT l_suppkey % 30 AS src, l_partkey % 30 AS dst FROM lineitem), " +
        "e AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d FROM raw WHERE least(src, dst) <> greatest(src, dst)) " +
        "SELECT xy.s AS x, xy.d AS y, yz.d AS z FROM e xy JOIN e yz ON xy.d = yz.s JOIN e xz ON xz.s = xy.s AND xz.d = yz.d"),

    "q34_csv_roundtrip" ->
      "SELECT COUNT(*) AS cnt, MIN(n_nationkey) AS min_key, CAST(SUM(n_regionkey) AS BIGINT) AS sum_region FROM nation",

    "q40_dict" ->
      ("SELECT value, CAST(row_number() OVER (ORDER BY cnt DESC, value) - 1 AS INT) AS code " +
        "FROM (SELECT o_orderpriority AS value, COUNT(*) AS cnt FROM orders GROUP BY 1) t"),

    "q43_lag_lead" ->
      ("SELECT o_custkey, o_orderkey, " +
        "lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price, " +
        "lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price " +
        "FROM orders"),

    "q44_cube" ->
      "SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)",

    "q45_countd" ->
      "SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS nd, COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority",

    "q46_sessions" ->
      ("WITH l AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events), " +
        "f AS (SELECT user_id, ts, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s FROM l), " +
        "g AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f) " +
        "SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start, " +
        "strftime(MAX(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end, " +
        "user_id, COUNT(*) AS n_events FROM g GROUP BY user_id, sid"),

    "q47_salted_join" ->
      ("SELECT s_name, SUM(l_quantity) AS sum_qty FROM lineitem " +
        "JOIN supplier ON l_suppkey = s_suppkey GROUP BY s_name"),

    "q48_top_fold" ->
      "SELECT o_totalprice AS price FROM orders ORDER BY o_totalprice DESC LIMIT 5",

    "q49_group_nested" ->
      ("SELECT l_returnflag AS rf, array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses, COUNT(*) AS cnt " +
        "FROM lineitem GROUP BY l_returnflag"),

    "q50_embed_dups" ->
      ("WITH b AS (SELECT vec_id AS id, embedding AS v, " +
        "(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END + " +
        "CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket FROM embeddings), " +
        "p AS (SELECT a.id AS id1, b.id AS id2, " +
        "list_sum(list_transform(generate_series(1, len(a.v)), i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) AS dot, " +
        "sqrt(list_sum(list_transform(generate_series(1, len(a.v)), i -> CAST(a.v[i] AS DOUBLE) * CAST(a.v[i] AS DOUBLE)))) AS na, " +
        "sqrt(list_sum(list_transform(generate_series(1, len(b.v)), i -> CAST(b.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))) AS nb " +
        "FROM b a JOIN b b ON a.bucket = b.bucket AND a.id < b.id) " +
        "SELECT id1, id2, sim FROM (SELECT id1, id2, floor(dot / (na * nb) * 10000.0 + 0.5) / 10000.0 AS sim FROM p) x " +
        "WHERE sim >= 0.3"),

    "q52_cc_alt" ->
      ("WITH RECURSIVE ed AS (SELECT DISTINCT o_custkey % 53 AS src, o_orderkey % 53 AS dst FROM orders WHERE o_orderkey % 3 = 0 AND o_custkey % 53 <> o_orderkey % 53), " +
        "und AS (SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed), " +
        "r AS (SELECT DISTINCT src AS v, src AS u FROM und UNION SELECT r.v, und.dst AS u FROM r JOIN und ON r.u = und.src) " +
        "SELECT v AS vertex, MIN(u) AS label FROM r GROUP BY v"),

    "q53_lsh" ->
      (s"WITH $shingleCtes, $sigCte, $bandCtes " +
        "SELECT id1, id2 FROM cand"),

    "q55_window_funcs" ->
      ("SELECT o_custkey, o_orderkey, " +
        "ntile(4) OVER w AS quartile, " +
        "floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pr, " +
        "first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest_order " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)"),

    "q56_date_funcs" ->
      ("SELECT o_orderkey, " +
        "CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m, " +
        "CAST(day(o_orderdate) AS INT) AS dom, CAST(date_part('dow', o_orderdate) + 1 AS INT) AS dow, " +
        "CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since, " +
        "strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m " +
        "FROM orders"),

    "q57_json" ->
      ("SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k, COUNT(*) AS cnt " +
        "FROM events GROUP BY event_type"),

    "q58_corr" ->
      ("SELECT l_returnflag, " +
        "floor((n * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)) / " +
        "sqrt((n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) * " +
        "(n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS corr_qty_price, n " +
        "FROM (SELECT l_returnflag, COUNT(*) AS n, " +
        "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp, " +
        "SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sqq, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp, " +
        "SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp " +
        "FROM lineitem GROUP BY l_returnflag) t"),

    "q59_typed_wordcount" ->
      ("SELECT token AS word, COUNT(*) AS cnt FROM " +
        "(SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents) t " +
        "WHERE length(token) > 0 GROUP BY token"),

    "q61_percentile" ->
      ("SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50, quantile_cont(l_quantity, 0.9) AS p90, " +
        "quantile_cont(l_extendedprice, 0.25) AS price_p25 FROM lineitem GROUP BY l_returnflag"),

    "q64_topk_native" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t " +
        "WHERE rn <= 3"),

    "q62_near_dups" ->
      (s"WITH $shingleCtes, $sigCte, $bandCtes, ${jaccardVerifySql(0.2)} " +
        "SELECT id1, id2, jaccard FROM pairs"),

    "q66_text_roundtrip" ->
      "SELECT COUNT(*) AS cnt, CAST(SUM(length(text)) AS BIGINT) AS total_chars FROM documents",

    "q67_grouping_sets" ->
      ("SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"),

    "q68_simhash_portable" -> simhashPortableOracle,

    "q133_simhash_pairs" ->
      (s"WITH sim AS ($simhashPortableOracle) " +
        "SELECT a.doc_id AS id1, b.doc_id AS id2, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
        "FROM sim a JOIN sim b ON b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 10 " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 4"),

    "q134_schema_drift" ->
      // the expected diff of the two fixed projections — customer loses
      // c_mktsegment, gains c_acctbal, and c_custkey widens to double
      ("SELECT * FROM (VALUES ('c_acctbal', 'added'), ('c_mktsegment', 'removed'), " +
        "('c_custkey', 'type_changed:bigint->double')) AS t(\"column\", change)"),

    "q136_bigram_lm" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "tok AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t), " +
        "tok2 AS (SELECT * FROM tok WHERE length(tok) > 0), " +
        "bg AS (SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, tok AS w2 FROM tok2), " +
        "bg2 AS (SELECT * FROM bg WHERE w1 IS NOT NULL), " +
        "cc2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg2 GROUP BY 1, 2), " +
        "cc1 AS (SELECT tok AS w1, COUNT(*) AS c1 FROM tok2 GROUP BY 1), " +
        "v AS (SELECT COUNT(DISTINCT tok) AS v FROM tok2), " +
        "sc AS (SELECT bg2.doc_id, CAST(floor(ln((c2 + 1.0) / (c1 + 1.0 * v)) * 1000000.0 + 0.5) AS BIGINT) AS lp " +
        "FROM bg2 JOIN cc2 USING (w1, w2) JOIN cc1 USING (w1) CROSS JOIN v), " +
        "agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(lp) AS BIGINT) AS sum_logprob_micros FROM sc GROUP BY 1) " +
        "SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams, " +
        "COALESCE(sum_logprob_micros, 0) AS sum_logprob_micros " +
        "FROM documents d LEFT JOIN agg USING (doc_id)"),

    "q137_chunking" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS toks FROM documents), " +
        "c AS (SELECT doc_id, unnest(range(0, len(toks), 48)) AS start, toks FROM t), " +
        "ch AS (SELECT doc_id, CAST(start // 48 AS INTEGER) AS chunk_no, " +
        "list_slice(toks, start + 1, start + 64) AS chunk FROM c) " +
        "SELECT doc_id, chunk_no, CAST(len(chunk) AS INTEGER) AS chunk_tokens, " +
        "array_to_string(chunk, ' ') AS chunk_text FROM ch"),

    "q140_merge_schema" ->
      ("SELECT COUNT(*) AS n, " +
        "COUNT(*) FILTER (c_custkey % 2 = 0) AS n_seg, " +
        "COUNT(*) FILTER (c_custkey % 2 = 1) AS n_bal, " +
        "CAST(SUM(CAST(floor(c_acctbal * 100.0) AS BIGINT)) FILTER (c_custkey % 2 = 1) AS BIGINT) AS bal_cents " +
        "FROM customer"),

    "q139_normalize" ->
      ("SELECT doc_id, md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS norm_md5, " +
        "CAST(length(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS INTEGER) AS norm_len " +
        "FROM documents"),

    "q138_vector_stats" ->
      ("WITH e AS (SELECT unnest(embedding) AS x, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim FROM embeddings), " +
        "m AS (SELECT dim, CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS micros FROM e) " +
        "SELECT dim, COUNT(*) AS n, CAST(SUM(micros) AS BIGINT) AS sum_micros, " +
        "CAST(SUM(micros * micros) AS BIGINT) AS sumsq_micros2, " +
        "MIN(micros) AS min_micros, MAX(micros) AS max_micros FROM m GROUP BY 1"),

    // Consecutive-day full-outer diff: zero-filled day×page grid + lag is
    // the SQL twin of the loop's full-outer join with coalesce(cnt, 0)
    "q135_clickcount_diffs" ->
      ("WITH e AS (SELECT CAST(EXTRACT(day FROM ts) AS INTEGER) AS d, user_id % 200 AS page " +
        "FROM events WHERE EXTRACT(day FROM ts) <= 7), " +
        "c AS (SELECT d, page, COUNT(*) AS cnt FROM e GROUP BY 1, 2), " +
        "grid AS (SELECT dd.d, pp.page FROM (SELECT DISTINCT d FROM c) dd " +
        "CROSS JOIN (SELECT DISTINCT page FROM c) pp), " +
        "f AS (SELECT grid.d, grid.page, COALESCE(c.cnt, 0) AS cnt FROM grid " +
        "LEFT JOIN c ON grid.d = c.d AND grid.page = c.page), " +
        "x AS (SELECT d, page, cnt, lag(cnt) OVER (PARTITION BY page ORDER BY d) AS prev FROM f) " +
        "SELECT d AS day, CAST(SUM(ABS(cnt - prev)) AS BIGINT) AS abs_diff " +
        "FROM x WHERE prev IS NOT NULL GROUP BY 1"),

    "q65_dup_clusters" ->
      (s"WITH RECURSIVE $shingleCtes, $sigCte, $bandCtes, ${jaccardVerifySql(0.2)}, " +
        "und AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION SELECT id2 AS src, id1 AS dst FROM pairs), " +
        "r AS (SELECT DISTINCT src AS v, src AS u FROM und UNION SELECT r.v, und.dst AS u FROM r JOIN und ON r.u = und.src) " +
        "SELECT v AS doc_id, MIN(u) AS canonical_id FROM r GROUP BY v"),

    "q63_keep_list" ->
      (s"WITH $keepListCtes " +
        "SELECT d.doc_id, q.n_tokens, q.alpha_ratio, lang.pred_lang FROM documents d " +
        "JOIN k ON d.doc_id = k.doc_id JOIN q ON d.doc_id = q.doc_id JOIN lang ON d.doc_id = lang.doc_id " +
        "WHERE lang.pred_lang = 'en' AND q.n_tokens BETWEEN 10 AND 1000 AND q.alpha_ratio >= 0.5"),

    "q60_cc_mutable" ->
      ("WITH RECURSIVE ed AS (SELECT DISTINCT s_suppkey % 23 AS src, s_nationkey % 23 AS dst FROM supplier WHERE s_suppkey % 23 <> s_nationkey % 23), " +
        "und AS (SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed), " +
        "r AS (SELECT DISTINCT src AS v, src AS u FROM und UNION SELECT r.v, und.dst AS u FROM r JOIN und ON r.u = und.src) " +
        "SELECT v AS vertex, MIN(u) AS label FROM r GROUP BY v"),

    // contract oracles for engine-specific internals (index set, sample
    // containment, assignment shape, fold partition, sketch tolerance)
    "q36_zipindex" ->
      ("SELECT COUNT(*) AS n, COUNT(*) AS n_idx, CAST(0 AS BIGINT) AS min_idx, " +
        "COUNT(*) - 1 AS max_idx, COUNT(*) * (COUNT(*) - 1) // 2 AS sum_idx FROM lineitem"),

    "q37_sample" ->
      "SELECT CAST(10 AS BIGINT) AS n_sampled, CAST(10 AS BIGINT) AS n_in_source",

    "q35_simhash" ->
      ("SELECT COUNT(DISTINCT md5(text)) AS n_texts, COUNT(*) AS n_docs, " +
        "true AS same_text_same_sig, true AS discriminates FROM documents"),

    "q42_tfidf" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term " +
        "FROM documents) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS total_tf, COUNT(DISTINCT doc_id) AS n_docs, " +
        "true AS all_w_pos FROM tok WHERE length(term) > 0"),

    "q38_kmeans" ->
      "SELECT COUNT(*) AS n, COUNT(*) AS n_ids, true AS in_range FROM embeddings",

    // Expected features recomputed straight from documents: dims are a pure
    // function of text length, solid-gray fill of doc_id — so the real
    // PNG encode→decode round trip must reproduce them pixel-exactly.
    "q39_media_features" ->
      ("SELECT doc_id, CAST(4 + length(text) % 29 AS INTEGER) AS width, " +
        "CAST(3 + length(text) % 17 AS INTEGER) AS height, " +
        "CAST((doc_id % 256) * 1000000 AS BIGINT) AS luma_micros FROM documents"),

    "q41_kfold" ->
      ("SELECT CAST(5 AS BIGINT) AS n_folds, COUNT(*) AS total, " +
        "CAST(0 AS BIGINT) AS min_fold, CAST(4 AS BIGINT) AS max_fold FROM customer"),

    "q51_approx_distinct" ->
      "SELECT COUNT(DISTINCT l_orderkey) AS exact_orders, true AS approx_ok FROM lineitem",

    "q69_asof" ->
      ("WITH a AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "b AS (SELECT user_id, ts AS pts, value FROM events WHERE event_type = 'purchase'), " +
        "m AS (SELECT a.click_id, a.user_id, a.ts, MAX(b.pts) AS bts FROM a " +
        "LEFT JOIN b ON a.user_id = b.user_id AND b.pts <= a.ts GROUP BY 1, 2, 3) " +
        "SELECT m.click_id, m.user_id, epoch_us(CAST(m.bts AS TIMESTAMP)) AS purchase_us, " +
        "floor(MAX(b.value) * 10000.0 + 0.5) / 10000.0 AS purchase_value " +
        "FROM m LEFT JOIN b ON m.user_id = b.user_id AND m.bts = b.pts GROUP BY 1, 2, 3"),

    "q70_range_join" ->
      ("WITH iv AS (SELECT event_id AS iv_id, epoch_us(CAST(ts AS TIMESTAMP)) AS start_us, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) + 3600000000 AS end_us " +
        "FROM events WHERE event_type = 'signup' AND event_id % 20 = 0), " +
        "pt AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value FROM events WHERE event_type = 'click') " +
        // CAST the SUM itself: DuckDB SUM(BIGINT) yields HUGEINT, which the
        // driver's value hash treats as a different value than Spark's int64
        "SELECT iv_id, COUNT(*) AS n_clicks, CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM pt JOIN iv ON t_us >= start_us AND t_us <= end_us GROUP BY 1"),

    "q71_tfidf_terms" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "tok AS (SELECT doc_id, unnest(toks) AS term FROM t), " +
        "tf AS (SELECT doc_id AS id, term, COUNT(*) AS tf FROM tok WHERE length(term) > 0 GROUP BY 1, 2), " +
        "dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT COUNT(*) AS n FROM documents) " +
        "SELECT id, tf.term, floor(CAST(tf AS DOUBLE) * (ln((n + 1.0) / (df + 1.0)) + 1.0) * 1000000.0 + 0.5) / 1000000.0 AS w " +
        "FROM tf JOIN dfr ON tf.term = dfr.term CROSS JOIN n"),

    "q72_stratified_sample" ->
      ("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty FROM lineitem " +
        "WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 8) < " +
        "CASE l_returnflag WHEN 'R' THEN '40000000' WHEN 'A' THEN '20000000' WHEN 'N' THEN '10000000' END " +
        "GROUP BY 1"),

    "q73_hash_sample" ->
      "SELECT doc_id, n_chars FROM documents WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'",

    "q54_ivf_ann" ->
      "SELECT CAST(24 AS BIGINT) AS n_results, true AS recall_ok",

    "q74_media_bytes" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents",

    "q75_pivot" ->
      ("SELECT o_orderstatus, " +
        "COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1, " +
        "COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2, " +
        "COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3, " +
        "COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4, " +
        "COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5 " +
        "FROM orders GROUP BY o_orderstatus"),

    "q82_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "q94_linreg" ->
      "SELECT true AS w_ok, true AS b_ok, true AS loss_decreasing",

    "q97_collab_edges" ->
      ("WITH cd AS (SELECT o_custkey AS director, o_orderkey AS movie FROM orders), " +
        "ca AS (SELECT l_suppkey AS actor, l_orderkey AS movie FROM lineitem) " +
        "SELECT director AS src, actor AS dst, COUNT(*) AS n, MAX(movie) AS last_movie " +
        "FROM cd JOIN ca USING (movie) GROUP BY 1, 2"),

    "q96_stream_running" ->
      ("SELECT 'u' || CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n, " +
        "CAST(CAST(SUM(user_id % 7) AS BIGINT) AS DOUBLE) AS total, " +
        "CAST(CAST(SUM(user_id % 7) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean " +
        "FROM events GROUP BY 1"),

    "q95_stream_interval_join" ->
      ("SELECT l.user_id AS k, l.event_id AS lid, r.event_id AS rid " +
        "FROM events l JOIN events r ON l.user_id = r.user_id " +
        "AND r.ts >= l.ts - INTERVAL 3600 SECOND AND r.ts <= l.ts + INTERVAL 3600 SECOND"),

    "q91_partition_prune" ->
      ("SELECT user_id, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
        "FROM events WHERE event_type = 'click' GROUP BY 1"),

    "q92_stats" ->
      // same fixed double-op sequence as Stats.describeExact over exact
      // decimal sums — bit-identical across engines
      ("WITH a AS (SELECT COUNT(l_quantity) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_x, " +
        "CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sumsq, " +
        "MIN(l_quantity) AS mn, MAX(l_quantity) AS mx FROM lineitem), " +
        "m AS (SELECT n, sum_x / n AS mean, sumsq, mn, mx FROM a) " +
        "SELECT n, mean, (sumsq - ((mean * mean) * n)) / (n - 1) AS variance, " +
        "sqrt((sumsq - ((mean * mean) * n)) / (n - 1)) AS stddev, mn, mx FROM m"),

    "q93_quantize" ->
      ("WITH q AS (SELECT vec_id, " +
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax, " +
        "CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0.0 " +
        "THEN list_transform(embedding, x -> 0) " +
        "ELSE list_transform(embedding, x -> CAST(floor(((CAST(x AS DOUBLE) * 127.0) / " +
        "list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS INTEGER)) " +
        "END AS qvec_list FROM embeddings) " +
        "SELECT vec_id, CAST(floor(absmax * 1000000.0 + 0.5) AS BIGINT) AS absmax_micros, " +
        "array_to_string(qvec_list, ',') AS qvec FROM q"),

    "q90_muses" ->
      ("WITH cd AS (SELECT o_custkey AS director, o_orderkey AS movie FROM orders), " +
        "ca AS (SELECT l_suppkey AS actor, l_orderkey AS movie FROM lineitem), " +
        "cc AS (SELECT director, actor, COUNT(*) AS cnt FROM cd JOIN ca USING (movie) GROUP BY 1, 2), " +
        "mx AS (SELECT director, actor, cnt, MAX(cnt) OVER (PARTITION BY director) AS maxc FROM cc) " +
        "SELECT c_name AS director_name, s_name AS actor_name, cnt FROM mx " +
        "JOIN customer ON director = c_custkey JOIN supplier ON actor = s_suppkey " +
        "WHERE cnt > 1 AND cnt >= maxc - 1"),

    "q88_stream_sessions" ->
      // same sessionization oracle as batch q46 (streaming twin)
      ("WITH l AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events), " +
        "f AS (SELECT user_id, ts, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s FROM l), " +
        "g AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f) " +
        "SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start, " +
        "strftime(MAX(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end, " +
        "user_id, COUNT(*) AS n_events FROM g GROUP BY user_id, sid"),

    "q89_stream_enrich" ->
      ("SELECT c_mktsegment, event_type, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
        "FROM events LEFT JOIN customer ON user_id = c_custkey GROUP BY 1, 2"),

    "q76_stream_hourly" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1, 2"),

    "q77_repetition" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> concat_ws(' ', toks[i], toks[i+1]))) AS g FROM t), " +
        "c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2), " +
        "s2 AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS total, CAST(MAX(c) AS DOUBLE) AS maxc, " +
        "CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) AS dupmass FROM c2 GROUP BY 1), " +
        "g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS g FROM t), " +
        "c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2), " +
        "s3 AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS total, " +
        "CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) AS dupmass FROM c3 GROUP BY 1) " +
        "SELECT d.doc_id, " +
        "COALESCE(floor(s2.maxc / s2.total * 10000.0 + 0.5) / 10000.0, 0.0) AS top_2gram_frac, " +
        "COALESCE(floor(s2.dupmass / s2.total * 10000.0 + 0.5) / 10000.0, 0.0) AS dup_2gram_frac, " +
        "COALESCE(floor(s3.dupmass / s3.total * 10000.0 + 0.5) / 10000.0, 0.0) AS dup_3gram_frac " +
        "FROM documents d LEFT JOIN s2 ON d.doc_id = s2.doc_id LEFT JOIN s3 ON d.doc_id = s3.doc_id"),

    "q78_contamination" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "shraw AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingle FROM t), " +
        "sh AS (SELECT DISTINCT doc_id, shingle FROM shraw), " +
        "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0), " +
        "cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1), " +
        "hit AS (SELECT sh.doc_id, COUNT(*) AS n_hit FROM sh JOIN ev ON sh.shingle = ev.shingle GROUP BY 1) " +
        "SELECT d.doc_id, COALESCE(cnt.n_shingles, 0) AS n_shingles, " +
        "COALESCE(floor(CAST(hit.n_hit AS DOUBLE) / CAST(cnt.n_shingles AS DOUBLE) * 10000.0 + 0.5) / 10000.0, 0.0) AS contam_frac " +
        "FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id LEFT JOIN hit ON d.doc_id = hit.doc_id"),

    "q84_packing" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, " +
        "doc_id % 8 AS bucket FROM documents) " +
        "SELECT doc_id, n_tokens, bucket, " +
        "CAST((SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) AS BIGINT) // 2048 AS pack " +
        "FROM t"),

    "q86_weighted_sample" ->
      // the uniform draw rebuilt digit-by-digit (integers < 2^53 are exact
      // doubles, so this is bit-identical to Spark's conv(hex,16,10))
      ("WITH t AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS w, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h FROM documents), " +
        "u AS (SELECT doc_id, w, (list_sum(list_transform(range(1, 9), " +
        "i -> (strpos('0123456789abcdef', substring(h, CAST(i AS INTEGER), 1)) - 1) * 16.0 ^ (8 - i))) + 0.5) / 4294967296.0 AS u FROM t) " +
        "SELECT doc_id FROM u ORDER BY ln(u) / w DESC, doc_id LIMIT 50"),

    "q85_bloom_prefilter" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)"),

    "q87_naive_bayes" ->
      // Exact mirror of ML.naiveBayesFit/Predict. All counts/ratios are
      // integer-exact doubles in both engines; ln() and the score sums carry
      // only sub-ulp noise, which feeds an argmax whose label gaps are many
      // orders of magnitude larger (verified at sf0.01).
      ("WITH feats AS (SELECT doc_id AS id, least(len(tok), 30) AS idx, " +
        "CAST(COUNT(*) AS DOUBLE) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents) " +
        "GROUP BY 1, 2), " +
        "labels AS (SELECT doc_id AS id, doc_id % 3 AS label FROM documents), " +
        "pli AS (SELECT l.label, f.idx, SUM(f.tf) AS cnt " +
        "FROM feats f JOIN labels l ON f.id = l.id GROUP BY 1, 2), " +
        "pl AS (SELECT label, SUM(cnt) AS total FROM pli GROUP BY 1), " +
        "cond AS (SELECT pli.label, pli.idx, ln((cnt + 1.0) / (total + 30.0)) AS log_cond " +
        "FROM pli JOIN pl ON pli.label = pl.label), " +
        "li AS (SELECT l.label, ln(CAST(COUNT(*) AS DOUBLE) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM labels)) AS log_prior, " +
        "ln(1.0 / (ANY_VALUE(pl.total) + 30.0)) AS log_floor " +
        "FROM labels l JOIN pl ON l.label = pl.label GROUP BY l.label), " +
        "obs AS (SELECT f.id, c.label, SUM(f.tf * c.log_cond) AS ll_obs, SUM(f.tf) AS seen_tf " +
        "FROM feats f JOIN cond c ON f.idx = c.idx GROUP BY 1, 2), " +
        "dt AS (SELECT id, SUM(tf) AS doc_tf FROM feats GROUP BY 1), " +
        "scored AS (SELECT dt.id, li.label, " +
        "COALESCE(o.ll_obs, 0.0) + (dt.doc_tf - COALESCE(o.seen_tf, 0.0)) * li.log_floor + li.log_prior AS score " +
        "FROM dt CROSS JOIN li LEFT JOIN obs o ON o.id = dt.id AND o.label = li.label) " +
        "SELECT id, label AS pred FROM (SELECT id, label, " +
        "ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, label) AS rn FROM scored) WHERE rn = 1"),

    "q83_zorder" -> {
      // disjoint-bit terms, so + is exactly the bit interleave OR; every
      // shift gets its own parens — '<<' binds LOOSER than '+' in DuckDB,
      // so an unparenthesized chain becomes x << (0 + y) << (1 + ...)
      val terms = (0 until 10).flatMap(b => Seq(
        s"((((o_custkey % 1024) >> $b) & 1) << ${2 * b})",
        s"((((o_orderkey % 1024) >> $b) & 1) << ${2 * b + 1})"))
      s"SELECT o_orderkey, CAST(${terms.mkString(" + ")} AS BIGINT) AS z FROM orders"
    },

    "q81_pagerank" -> {
      // 10 unrolled rank CTEs (DuckDB's recursive CTEs disallow aggregates
      // in the recursive term); integer fixed-point matches Graphs
      // .pageRankScaled round for round. DuckDB SUM/mult promote to HUGEINT
      // mid-CTE — harmless, the final CAST lands on BIGINT.
      val iters = (1 to 10).map { i =>
        s"r$i AS (SELECT v.vertex, 150000000 + (85 * COALESCE(s.s, 0)) // 100 AS r " +
          s"FROM v LEFT JOIN (SELECT e.dst AS vertex, SUM(r.r // od.odeg) AS s " +
          s"FROM e JOIN od ON e.src = od.src JOIN r${i - 1} r ON r.vertex = e.src " +
          "GROUP BY 1) s ON v.vertex = s.vertex)"
      }.mkString(", ")
      "WITH raw AS (SELECT o_custkey % 101 AS src, o_orderkey % 101 AS dst FROM orders WHERE o_orderkey % 5 = 0), " +
        "e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst), " +
        "od AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY 1), " +
        "v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e), " +
        "r0 AS (SELECT vertex, CAST(1000000000 AS BIGINT) AS r FROM v), " +
        s"$iters " +
        "SELECT vertex, CAST(r AS BIGINT) AS rank_scaled FROM r10"
    },

    "q80_pii_scrub" -> {
      val em = TextAnalysis.emailRe
      val ip = TextAnalysis.ipv4Re
      val ph = TextAnalysis.phoneRe
      "WITH pii AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.' || CAST(doc_id % 100 AS VARCHAR) || ' tel +1 (555) 123-45' || " +
        "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t FROM documents), " +
        s"s1 AS (SELECT doc_id, t, regexp_replace(t, '$em', '<EMAIL>', 'g') AS t1 FROM pii), " +
        s"s2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM s1) " +
        s"SELECT doc_id, md5(regexp_replace(t2, '$ph', '<PHONE>', 'g')) AS clean_fp, " +
        s"CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(t1, '$ip')) AS BIGINT) AS n_ips, " +
        s"CAST(len(regexp_extract_all(t2, '$ph')) AS BIGINT) AS n_phones FROM s2"
    },

    "q79_domain_mix" -> {
      // CAST each weight: a bare 0.30 literal is DECIMAL in DuckDB, and
      // exact DECIMAL products can differ from Spark's IEEE-double w*total
      // by one ulp — enough to shift the floor(f*2^32) threshold hex by 1
      val values = mixTargets
        .map { case (dom, w) => s"('$dom', CAST($w AS DOUBLE))" }.mkString(", ")
      s"WITH tg(domain, w) AS (VALUES $values), " +
        "cnt AS (SELECT source AS domain, COUNT(*) AS c FROM documents GROUP BY 1), " +
        "fr AS (SELECT cnt.domain, least(1.0, (w * 200.0) / CAST(c AS DOUBLE)) AS f " +
        "FROM cnt JOIN tg ON cnt.domain = tg.domain) " +
        "SELECT d.doc_id, d.source, d.n_chars FROM documents d JOIN fr ON d.source = fr.domain " +
        "WHERE f >= 1.0 OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < " +
        "printf('%08x', least(CAST(floor(f * 4294967296.0) AS BIGINT), 4294967295))"
    },

    // ---------------------------------------------------- round-4 additions

    "q98_unpivot" ->
      ("SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem"),

    "q99_merge_upsert" ->
      ("WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer), " +
        "u AS (SELECT c_custkey, c_name || '*' AS c_name, c_acctbal + 1000.0 AS c_acctbal FROM t WHERE c_custkey % 7 = 0 " +
        "UNION ALL SELECT c_custkey + 1000000, c_name, c_acctbal FROM t WHERE c_custkey % 11 = 0) " +
        "SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey, " +
        "CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name, " +
        "CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal " +
        "FROM t FULL JOIN u ON t.c_custkey = u.c_custkey"),

    "q100_bfs" ->
      ("WITH RECURSIVE e AS (SELECT o_custkey % 211 AS src, o_orderkey % 211 AS dst " +
        "FROM orders WHERE o_custkey % 211 <> o_orderkey % 211), " +
        "und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e), " +
        "r(vertex, d) AS (SELECT DISTINCT src, 0 FROM und WHERE src % 50 = 0 " +
        "UNION SELECT und.dst, r.d + 1 FROM r JOIN und ON r.vertex = und.src WHERE r.d < 3) " +
        "SELECT vertex, MIN(d) AS d FROM r GROUP BY vertex"),

    "q101_moments" ->
      ("WITH q AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty FROM lineitem), " +
        "a AS (SELECT l_returnflag, COUNT(*) AS n, SUM(qty) AS s1, SUM(qty*qty) AS s2, " +
        "SUM(qty*qty*qty) AS s3, SUM(qty*qty*qty*qty) AS s4 FROM q GROUP BY 1), " +
        s"b AS (SELECT l_returnflag, n, ${momentStep1.mkString(", ")} FROM a), " +
        s"c AS (SELECT l_returnflag, n, m1, ${momentStep2.mkString(", ")} FROM b) " +
        s"SELECT l_returnflag, n, ${momentStep3.mkString(", ")} FROM c"),

    "q102_range_frame" ->
      ("WITH o AS (SELECT o_orderkey, o_custkey, CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents FROM orders) " +
        "SELECT o_orderkey, o_custkey, cents, " +
        "CAST(SUM(cents) OVER w AS BIGINT) AS sum_band_cents, COUNT(*) OVER w AS n_band " +
        "FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY cents " +
        "RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW)"),

    "q103_hll_merge" ->
      "SELECT COUNT(DISTINCT c_custkey) AS exact_distinct, true AS estimate_ok FROM customer",

    "q104_scd2" ->
      ("WITH e AS (SELECT user_id, event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us " +
        "FROM events WHERE user_id % 100 = 0), " +
        "l AS (SELECT user_id, event_type, event_id, t_us, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS prev FROM e), " +
        "f AS (SELECT user_id, event_type, event_id, t_us, " +
        "CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg FROM l), " +
        "g AS (SELECT user_id, event_type, t_us, SUM(chg) OVER " +
        "(PARTITION BY user_id ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) AS run FROM f), " +
        "r AS (SELECT user_id, run, MIN(event_type) AS event_type, MIN(t_us) AS valid_from FROM g GROUP BY 1, 2) " +
        "SELECT user_id, event_type, valid_from, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS valid_to FROM r"),

    "q105_heavy_hitters" ->
      ("WITH t AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents) " +
        "SELECT tok AS item, COUNT(*) AS n FROM t WHERE length(tok) > 0 " +
        "GROUP BY tok HAVING COUNT(*) >= 900"),

    "q106_stream_upsert" ->
      ("WITH e AS (SELECT user_id, event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events), " +
        "r AS (SELECT user_id, event_type, event_id, t_us, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY t_us DESC, event_id DESC) AS rn FROM e) " +
        "SELECT user_id, event_type, event_id, t_us FROM r WHERE rn = 1"),

    "q107_resample" ->
      ("WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value, event_id FROM events), " +
        "o AS (SELECT user_id, t_us // 86400000000 AS tick, t_us, value, event_id FROM e), " +
        "n AS (SELECT user_id, tick, value, " +
        "row_number() OVER (PARTITION BY user_id, tick ORDER BY t_us DESC, event_id DESC) AS rn FROM o), " +
        "tv AS (SELECT user_id, tick, value FROM n WHERE rn = 1), " +
        "sp AS (SELECT user_id, MIN(tick) AS t0, MAX(tick) AS t1 FROM tv GROUP BY 1), " +
        "g AS (SELECT user_id, unnest(generate_series(t0, t1)) AS tick FROM sp) " +
        "SELECT g.user_id, g.tick, last_value(tv.value IGNORE NULLS) OVER " +
        "(PARTITION BY g.user_id ORDER BY g.tick ROWS UNBOUNDED PRECEDING) AS value " +
        "FROM g LEFT JOIN tv ON g.user_id = tv.user_id AND g.tick = tv.tick"),

    "q108_array_funcs" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents) " +
        "SELECT doc_id, len(toks) AS n, " +
        "CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long, " +
        "CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS total_len, " +
        "list_sort(toks)[1] AS first_tok, " +
        "CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct FROM t"),

    "q109_fuzzy_match" ->
      ("WITH t AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents), " +
        "v AS (SELECT tok FROM t WHERE length(tok) > 0) " +
        "SELECT a.tok AS tok1, b.tok AS tok2, " +
        "CAST(levenshtein(a.tok, b.tok) AS INTEGER) AS dist FROM v a JOIN v b " +
        "ON substr(a.tok, 1, 1) = substr(b.tok, 1, 1) AND a.tok < b.tok " +
        "AND levenshtein(a.tok, b.tok) <= 2"),

    "q110_length_cut" ->
      ("WITH cd AS (SELECT doc_id, source, n_chars, " +
        "cume_dist() OVER (PARTITION BY source ORDER BY n_chars) AS cd FROM documents), " +
        "cuts AS (SELECT source, MIN(n_chars) AS cut FROM cd WHERE cd >= 0.95 GROUP BY 1) " +
        "SELECT d.doc_id, d.source, d.n_chars, cut FROM documents d " +
        "JOIN cuts USING (source) WHERE n_chars <= cut"),

    "q111_sssp" ->
      ("WITH RECURSIVE e AS (SELECT o_custkey % 151 AS src, o_orderkey % 151 AS dst, " +
        "o_orderkey % 7 + 1 AS w FROM orders WHERE o_custkey % 151 <> o_orderkey % 151), " +
        "r(vertex, d, h) AS (SELECT DISTINCT src, CAST(0 AS BIGINT), 0 FROM e WHERE src % 40 = 0 " +
        "UNION SELECT e.dst, r.d + e.w, r.h + 1 FROM r JOIN e ON r.vertex = e.src WHERE r.h < 3) " +
        "SELECT vertex, MIN(d) AS d FROM r GROUP BY vertex"),

    "q112_audit" ->
      ("SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows, " +
        "(SELECT floor(AVG(CASE WHEN l_quantity > 45 THEN 1.0 ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 " +
        "FROM lineitem) AS null_rate, " +
        "(SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem " +
        "GROUP BY 1, 2 HAVING COUNT(*) > 1) t) AS dup_keys, " +
        "(SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o " +
        "ON l.l_orderkey + 3 = o.o_orderkey WHERE o.o_orderkey IS NULL) AS n_orphans"),

    "q113_max_concurrent" ->
      ("WITH iv AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS s, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) + 3600000000 AS e FROM events WHERE event_type = 'signup'), " +
        "ev AS (SELECT s AS t, 1 AS delta FROM iv UNION ALL SELECT e, -1 FROM iv), " +
        "c AS (SELECT t, delta, SUM(delta) OVER (ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS conc FROM ev) " +
        "SELECT t // 86400000000 AS day, CAST(MAX(conc) AS BIGINT) AS max_conc, COUNT(*) AS n_starts " +
        "FROM c WHERE delta = 1 GROUP BY 1"),

    "q114_argmax_agg" ->
      ("WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn FROM orders) " +
        "SELECT o_custkey, o_orderkey AS best_order, o_totalprice AS best_price FROM r WHERE rn = 1"),

    "q115_ordered_collect" ->
      ("WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_id, event_type " +
        "FROM events WHERE user_id % 50 = 0) " +
        "SELECT user_id, array_to_string(list_slice(array_agg(event_type ORDER BY t_us, event_id), 1, 5), ',') AS first5, " +
        "COUNT(*) AS n_events FROM e GROUP BY 1"),

    "q116_na_handling" ->
      ("WITH e AS (SELECT CASE WHEN value < 1.0 THEN -5.0 ELSE value END AS v, " +
        "CASE WHEN event_type = 'signup' THEN 'SIGNUP' " +
        "WHEN event_type = 'click' THEN NULL ELSE event_type END AS et FROM events) " +
        "SELECT et, COUNT(*) AS n, CAST(SUM(CAST(floor(v * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM e WHERE et IS NOT NULL GROUP BY 1"),

    "q117_sql_entry" ->
      ("SELECT o_orderkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, " +
        "COUNT(*) AS n_lines " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O' " +
        "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10"),

    "q118_multi_distinct" ->
      ("SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS d_orders, " +
        "COUNT(DISTINCT l_partkey) AS d_parts, " +
        "COUNT(DISTINCT (l_suppkey, l_partkey)) AS d_supp_part, " +
        "COUNT(*) AS n FROM lineitem GROUP BY 1"),

    "q119_exists_subquery" ->
      ("SELECT o_orderkey, o_totalprice FROM orders o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')"),

    "q120_union_by_name" ->
      ("SELECT c_custkey, c_name, NULL AS c_acctbal FROM customer WHERE c_custkey % 2 = 0 " +
        "UNION ALL SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 1"),

    "q121_except_all" ->
      ("WITH a AS (SELECT l_returnflag AS rf, l_linestatus AS ls FROM lineitem WHERE l_quantity > 25), " +
        "b AS (SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 40), " +
        "e AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b) " +
        "SELECT rf, ls, COUNT(*) AS n FROM e GROUP BY 1, 2"),

    "q122_intersect_all" ->
      ("WITH a AS (SELECT l_returnflag AS rf, l_linestatus AS ls FROM lineitem WHERE l_quantity > 25), " +
        "b AS (SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 40), " +
        "e AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b) " +
        "SELECT rf, ls, COUNT(*) AS n FROM e GROUP BY 1, 2"),

    "q123_exact_k_sample" ->
      ("WITH r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS rk FROM documents) " +
        "SELECT doc_id, source FROM r WHERE rk <= 20"),

    "q124_try_arithmetic" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "CASE WHEN l_quantity - 25.0 = 0.0 THEN NULL " +
        "ELSE l_extendedprice / (l_quantity - 25.0) END AS per_unit_off25, " +
        "CAST(NULL AS BIGINT) AS overflow_null, " +
        "CAST(NULL AS DOUBLE) AS not_a_number FROM lineitem"),

    "q125_csv_malformed" ->
      ("SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys, " +
        "CAST(SUM(n_regionkey) AS BIGINT) AS sum_regions FROM nation"),

    "q126_orc_roundtrip" ->
      ("SELECT COUNT(*) AS n, COUNT(DISTINCT s_nationkey) AS n_nations, " +
        "CAST(SUM(CAST(floor(s_acctbal * 100.0) AS BIGINT)) AS BIGINT) AS bal_cents FROM supplier"),

    "q127_json_roundtrip" ->
      ("SELECT COUNT(*) AS n, " +
        "CAST(SUM(CAST(floor(p_retailprice * 100.0) AS BIGINT)) AS BIGINT) AS price_cents, " +
        "MAX(length(p_name)) AS max_name_len FROM part"),

    "q128_incremental_agg" ->
      // the merged state must equal the FULL recompute — so the oracle IS
      // the full recompute
      ("SELECT user_id % 100 AS bucket, COUNT(*) AS n, " +
        "CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY 1"),

    "q129_linreg_by_group" ->
      ("WITH b AS (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(28,8)) AS x, " +
        "CAST(floor(l_extendedprice * 100.0) AS DECIMAL(28,8)) AS y FROM lineitem), " +
        "a AS (SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, " +
        "SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM b GROUP BY 1), " +
        "c AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, " +
        "CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd FROM a), " +
        "s AS (SELECT l_returnflag, n, nd, sxd, syd, " +
        "CASE WHEN nd * sxxd - sxd * sxd = 0.0 THEN NULL " +
        "ELSE (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) END AS slope FROM c) " +
        "SELECT l_returnflag, n, floor(slope * 1000000.0 + 0.5) / 1000000.0 AS slope, " +
        "floor((syd - slope * sxd) / nd * 1000000.0 + 0.5) / 1000000.0 AS intercept FROM s"),

    "q130_histogram" ->
      ("SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) * 50000 AS bucket_lo, " +
        "COUNT(*) AS n, " +
        "CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders GROUP BY 1"),

    "q131_filtered_agg" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "COUNT(*) FILTER (WHERE l_quantity > 25.0) AS n_heavy, " +
        "CAST(SUM(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) " +
        "FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS cents_f, " +
        "MIN(l_quantity) FILTER (WHERE l_tax > 0.05) AS min_qty_taxed " +
        "FROM lineitem GROUP BY l_returnflag"),

    "q132_scd2_join" ->
      ("WITH e AS (SELECT user_id, event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us " +
        "FROM events WHERE user_id % 20 = 0), " +
        "l AS (SELECT user_id, event_type, event_id, t_us, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS prev FROM e), " +
        "f AS (SELECT user_id, event_type, event_id, t_us, " +
        "CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg FROM l), " +
        "g AS (SELECT user_id, event_type, t_us, SUM(chg) OVER " +
        "(PARTITION BY user_id ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) AS run FROM f), " +
        "r AS (SELECT user_id, run, MIN(event_type) AS event_type, MIN(t_us) AS valid_from FROM g GROUP BY 1, 2), " +
        "fact AS (SELECT event_id AS fact_id, user_id, t_us FROM e WHERE event_type = 'purchase'), " +
        "j AS (SELECT fact_id, fa.user_id, fa.t_us, r.event_type, " +
        "row_number() OVER (PARTITION BY fact_id ORDER BY r.valid_from DESC, r.event_type DESC) AS rn " +
        "FROM fact fa JOIN r ON fa.user_id = r.user_id AND r.valid_from <= fa.t_us) " +
        "SELECT fact_id, user_id, t_us, event_type AS active_version FROM j WHERE rn = 1"),

    "q141_funnel" ->
      ("WITH t0 AS (SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "t1 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN t0 ON e.user_id = t0.user_id " +
        "WHERE e.event_type = 'click' AND e.value > 100.0 AND e.ts > t0.t GROUP BY 1), " +
        "t2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN t1 ON e.user_id = t1.user_id " +
        "WHERE e.event_type = 'purchase' AND e.value > 300.0 AND e.ts > t1.t GROUP BY 1) " +
        "SELECT 'view' AS stage, COUNT(*) AS users FROM t0 " +
        "UNION ALL SELECT 'big_click', COUNT(*) FROM t1 " +
        "UNION ALL SELECT 'big_purchase', COUNT(*) FROM t2"),

    "q142_retention" ->
      ("WITH a AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events), " +
        "f AS (SELECT u, MIN(d) AS cohort FROM a GROUP BY 1) " +
        "SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort, " +
        "date_diff('day', f.cohort, a.d) AS day_offset, COUNT(DISTINCT a.u) AS users " +
        "FROM a JOIN f ON a.u = f.u GROUP BY f.cohort, date_diff('day', f.cohort, a.d)"),

    "q143_intervals" ->
      ("WITH iv AS (SELECT l_suppkey, CAST(l_shipdate AS DATE) AS s, " +
        "CAST(l_shipdate AS DATE) + CAST(l_quantity AS INTEGER) AS e " +
        "FROM lineitem WHERE l_partkey % 7 = 0 AND l_quantity <= 3), " +
        "m AS (SELECT l_suppkey, s, e, MAX(e) OVER (PARTITION BY l_suppkey ORDER BY s, e " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv), " +
        "f AS (SELECT l_suppkey, s, e, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nf FROM m), " +
        "g AS (SELECT l_suppkey, s, e, SUM(nf) OVER (PARTITION BY l_suppkey ORDER BY s, e " +
        "ROWS UNBOUNDED PRECEDING) AS isl FROM f) " +
        "SELECT l_suppkey, strftime(MIN(s), '%Y-%m-%d') AS island_start, " +
        "strftime(MAX(e), '%Y-%m-%d') AS island_end, COUNT(*) AS n_intervals " +
        "FROM g GROUP BY l_suppkey, isl"),

    "q144_skyline" ->
      ("WITH c AS (SELECT o_custkey, COUNT(*) AS n_orders, " +
        "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend FROM orders GROUP BY 1) " +
        "SELECT p.o_custkey, p.n_orders, CAST(p.spend AS DOUBLE) AS spend FROM c p " +
        "WHERE NOT EXISTS (SELECT 1 FROM c q WHERE q.n_orders >= p.n_orders AND q.spend >= p.spend " +
        "AND (q.n_orders > p.n_orders OR q.spend > p.spend))"),

    "q145_entropy" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t " +
        "FROM documents), " +
        "cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok WHERE length(t) > 0 GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) " +
        "AS BIGINT)) AS BIGINT) AS s_micros FROM cnt GROUP BY 1) " +
        "SELECT doc_id, n_tokens, " +
        "CAST(floor((ln(CAST(n_tokens AS DOUBLE)) - (CAST(s_micros AS DOUBLE) / 1000000.0) " +
        "/ CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS ent_micros FROM agg"),

    "q146_cms" ->
      ("SELECT COUNT(DISTINCT l_partkey) AS n_keys, COUNT(*) AS total, " +
        "true AS never_under, true AS mass_conserved FROM lineitem"),

    "q147_approx_quantiles" ->
      ("SELECT COUNT(*) AS n, true AS p25_ok, true AS p50_ok, " +
        "true AS p75_ok, true AS p95_ok FROM lineitem"),

    "q148_incremental_dedup" ->
      (s"WITH $shingleCtes, $sigCte, $bandRowsCte, " +
        "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bandrows a " +
        "JOIN bandrows b ON a.band_id = b.band_id AND a.band_key = b.band_key " +
        "AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0), " +
        s"${jaccardVerifySql(0.2)} " +
        "SELECT id1 AS new_id, id2 AS corpus_id, jaccard FROM pairs"),

    "q149_dup_ngrams" ->
      (s"WITH $shingleCtes, " +
        "df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1) " +
        "SELECT doc_id, COUNT(*) AS n_shingles, " +
        "COUNT(CASE WHEN df >= 2 THEN 1 END) AS n_dup, " +
        "CAST(floor(CAST(COUNT(CASE WHEN df >= 2 THEN 1 END) AS DOUBLE) " +
        "/ CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS dup_frac_micros " +
        "FROM sh JOIN df USING (shingle) GROUP BY doc_id"),

    "q150_bpe" ->
      ("WITH w AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents) " +
        "SELECT CAST(SUM(length(w)) AS BIGINT) AS tokens_before, CAST(10 AS BIGINT) AS n_merges, " +
        "true AS merges_distinct, true AS compression_ok FROM w WHERE length(w) > 0"),

    "q151_stream_dedup_probe" ->
      (s"WITH $shingleCtes, $sigCte, $bandRowsCte, " +
        "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bandrows a " +
        "JOIN bandrows b ON a.band_id = b.band_id AND a.band_key = b.band_key " +
        "AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0), " +
        s"${jaccardVerifySql(0.2)} " +
        "SELECT id1 AS new_id, id2 AS corpus_id, jaccard FROM pairs"),

    "q152_dup_spans" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "ps AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+2], ' ') AS shingle " +
        "FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i " +
        "FROM t WHERE len(toks) >= 3)), " +
        "hot AS (SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM ps) " +
        "GROUP BY shingle HAVING COUNT(*) >= 2), " +
        "g AS (SELECT doc_id, pos, pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl " +
        "FROM ps JOIN hot USING (shingle)) " +
        "SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 3 AS span_end, " +
        "COUNT(*) AS n_shingles FROM g GROUP BY doc_id, isl"),

    "q153_training_examples" ->
      (s"WITH $keepListCtes, " +
        "keep AS (SELECT d.doc_id FROM documents d " +
        "JOIN k ON d.doc_id = k.doc_id JOIN q ON d.doc_id = q.doc_id JOIN lang ON d.doc_id = lang.doc_id " +
        "WHERE lang.pred_lang = 'en' AND q.n_tokens BETWEEN 10 AND 1000 AND q.alpha_ratio >= 0.5), " +
        "t2 AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS toks " +
        "FROM documents JOIN keep USING (doc_id)), " +
        "c2 AS (SELECT doc_id, unnest(range(0, len(toks), 48)) AS start, toks FROM t2), " +
        "ck AS (SELECT doc_id, CAST(start // 48 AS INTEGER) AS chunk_no, " +
        "CAST(len(list_slice(toks, start + 1, start + 64)) AS INTEGER) AS chunk_tokens FROM c2), " +
        "pk AS (SELECT doc_id, chunk_no, chunk_tokens, " +
        "(doc_id * 1000 + chunk_no) % 8 AS bucket, doc_id * 1000 + chunk_no AS ck_key FROM ck) " +
        "SELECT doc_id, chunk_no, chunk_tokens, CAST(bucket AS BIGINT) AS bucket, " +
        "CAST((SUM(chunk_tokens) OVER (PARTITION BY bucket ORDER BY ck_key " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - chunk_tokens) // 512 AS BIGINT) AS pack " +
        "FROM pk"),

    "q154_compaction" ->
      ("SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum, " +
        "true AS few_files FROM orders"),

    "q155_audio_features" ->
      ("SELECT doc_id, CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate, " +
        "CAST(1 AS INTEGER) AS channels, CAST(800 + doc_id % 400 AS BIGINT) AS n_samples, " +
        "(800 + doc_id % 400) * 1000000 // (8000 + (doc_id % 3) * 4000) AS duration_micros, " +
        "CAST(list_sum(list_transform(range(0, 800 + doc_id % 400), " +
        "i -> ((doc_id * 31 + i * 17) % 2048 - 1024) ** 2)) AS BIGINT) AS sum_sq " +
        "FROM documents"),

    "q156_dedup_ingest_loop" ->
      (s"WITH $shingleCtes, $sigCte, $bandRowsCte, " +
        "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bandrows a " +
        "JOIN bandrows b ON a.band_id = b.band_id AND a.band_key = b.band_key AND (" +
        "(a.doc_id % 5 = 0 AND b.doc_id % 5 NOT IN (0, 4)) OR " +
        "(a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4))), " +
        s"${jaccardVerifySql(0.2)} " +
        "SELECT id1 AS new_id, id2 AS corpus_id, jaccard FROM pairs"),

    "q157_video_features" ->
      ("SELECT doc_id, CAST(2 + doc_id % 4 AS INTEGER) AS n_frames, " +
        "CAST(8 + doc_id % 8 AS INTEGER) AS width, " +
        "CAST(6 + doc_id % 6 AS INTEGER) AS height, " +
        "CAST(list_sum(list_transform(range(0, 2 + doc_id % 4), " +
        "i -> ((doc_id * 16 + i * 8) % 256) * 1000000)) AS BIGINT) AS luma_sum_micros " +
        "FROM documents")
  ,
    "q158_mixed_media" ->
      ("SELECT doc_id, 'image/png' AS media_type, " +
        "CAST((4 + length(text) % 29) * (3 + length(text) % 17) AS BIGINT) AS units, " +
        "CAST((doc_id % 256) * 1000000 AS BIGINT) AS metric_micros " +
        "FROM documents WHERE doc_id % 3 = 0 " +
        "UNION ALL SELECT doc_id, 'audio/wav', CAST(800 + doc_id % 400 AS BIGINT), " +
        "(800 + doc_id % 400) * 1000000 // (8000 + (doc_id % 3) * 4000) " +
        "FROM documents WHERE doc_id % 3 = 1 " +
        "UNION ALL SELECT doc_id, 'image/gif', CAST(2 + doc_id % 4 AS BIGINT), " +
        "CAST(list_sum(list_transform(range(0, 2 + doc_id % 4), " +
        "i -> ((doc_id * 16 + i * 8) % 256) * 1000000)) AS BIGINT) " +
        "FROM documents WHERE doc_id % 3 = 2"),

    "q159_bpe_encode_fast" ->
      ("WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents) " +
        "SELECT CAST(SUM(length(w) + 1 + length(CAST(doc_id % 64 AS VARCHAR))) AS BIGINT) AS tokens_before, " +
        "CAST(1200 AS BIGINT) AS n_merges, true AS parity_50, true AS tokens_match, " +
        "true AS train_twin_ok, true AS compression_ok " +
        "FROM w WHERE length(w) > 0"),

    "q160_simhash_banded" ->
      (s"WITH sim AS ($simhashPortableOracle) " +
        "SELECT a.doc_id AS id1, b.doc_id AS id2, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
        "FROM sim a JOIN sim b ON b.doc_id > a.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 2"),

    "q161_auto_cache" ->
      ("SELECT CAST(COUNT(CASE WHEN l_quantity > 30 THEN 1 END) AS BIGINT) AS n_high, " +
        "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS price_cents, " +
        "true AS scanned_once FROM lineitem"),

    "q162_simhash_ingest" ->
      (s"WITH sim AS ($simhashPortableOracle) " +
        "SELECT b.doc_id AS new_id, a.doc_id AS corpus_id, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
        "FROM sim a JOIN sim b ON a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0 " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 2"),

    "q163_tokenizer_ids" ->
      ("WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents), " +
        "c AS (SELECT unnest(string_split(regexp_replace(text, '\\s+', '', 'g'), '')) AS ch FROM documents) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_words, CAST(SUM(length(w)) AS BIGINT) AS decoded_chars, " +
        "CAST((SELECT COUNT(DISTINCT ch) FROM c WHERE length(ch) > 0) + 40 AS BIGINT) AS vocab_size, " +
        "true AS roundtrip_ok FROM w WHERE length(w) > 0"),

    "q164_char_histogram" ->
      ("SELECT CAST(unicode(ch) AS INT) AS code, CAST(COUNT(*) AS BIGINT) AS cnt " +
        "FROM (SELECT unnest(string_split(substr(text, 1, 100), '')) AS ch FROM documents) " +
        "WHERE ch <> '' GROUP BY 1"),

    "q165_enum_priority" ->
      ("SELECT o_orderpriority AS priority, " +
        "CAST(CAST(substr(o_orderpriority, 1, 1) AS INT) - 1 AS INT) AS pid, " +
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY 1, 2"),

    "q166_pca" ->
      ("WITH e AS (SELECT unnest(embedding) AS x, " +
        "CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim FROM embeddings), " +
        "m AS (SELECT dim, CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS micros FROM e), " +
        "a AS (SELECT dim, COUNT(*) AS n, SUM(micros) AS s, SUM(micros * micros) AS ss FROM m GROUP BY 1) " +
        "SELECT dim, CAST(n * ss - s * s AS BIGINT) AS var_num, " +
        "true AS orthonormal_ok, true AS var_match_ok, true AS order_ok FROM a"),

    "q167_setsim_join" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')))) AS shingle FROM t WHERE len(toks) >= 3), " +
        "cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), " +
        "ov AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS o FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s2.doc_id > s1.doc_id GROUP BY 1, 2) " +
        "SELECT id1, id2, CAST(o AS BIGINT) AS overlap, CAST(c1.n AS BIGINT) AS n1, CAST(c2.n AS BIGINT) AS n2, " +
        "floor(CAST(o AS DOUBLE) / CAST(c1.n + c2.n - o AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS jaccard " +
        "FROM ov JOIN cnt c1 ON id1 = c1.doc_id JOIN cnt c2 ON id2 = c2.doc_id " +
        "WHERE o * 2 >= 1 * (c1.n + c2.n - o)"),

    "q168_bm25_topk" ->
      ("WITH tok AS (SELECT doc_id, token FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents) WHERE length(token) > 0), " +
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1), " +
        "stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl), " +
        "dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "qs AS (SELECT token AS query_id, token FROM dfreq ORDER BY df DESC, token ASC LIMIT 8), " +
        "sc AS (SELECT q.query_id, tf.doc_id, CAST(SUM(CAST(floor(" +
        "ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * " +
        "((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) " +
        "* 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_micros " +
        "FROM qs q JOIN tf ON tf.token = q.token JOIN dfreq ON dfreq.token = q.token " +
        "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats GROUP BY 1, 2), " +
        "rk AS (SELECT query_id, doc_id, bm25_micros, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY bm25_micros DESC, doc_id ASC) AS r FROM sc) " +
        "SELECT query_id, doc_id, bm25_micros FROM rk WHERE r <= 10"),

    "q169_semdedup" ->
      ("SELECT CAST(vec_id AS BIGINT) AS id, CAST(vec_id AS BIGINT) AS rep, true AS keep FROM embeddings " +
        "UNION ALL " +
        "SELECT CAST(vec_id + 100000 AS BIGINT) AS id, CAST(vec_id AS BIGINT) AS rep, false AS keep " +
        "FROM embeddings WHERE vec_id < 50"),

    "q170_eval_metrics" ->
      ("WITH s AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label, " +
        "CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS pred FROM documents), " +
        "c AS (SELECT CAST(SUM(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(SUM(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(SUM(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(SUM(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn FROM s), " +
        "m AS (SELECT tp, fp, fn, tn, " +
        "CAST(tp + tn AS DOUBLE) / (tp + tn + fp + fn) AS acc, " +
        "CAST(tp AS DOUBLE) / (tp + fp) AS p, CAST(tp AS DOUBLE) / (tp + fn) AS r FROM c) " +
        "SELECT tp, fp, fn, tn, " +
        "floor(acc * 1000000.0 + 0.5) / 1000000.0 AS accuracy, " +
        "floor(p * 1000000.0 + 0.5) / 1000000.0 AS precision, " +
        "floor(r * 1000000.0 + 0.5) / 1000000.0 AS recall, " +
        "floor(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 AS f1 " +
        "FROM m"),

    "q171_ann_index" ->
      ("SELECT CAST(24 AS BIGINT) AS n_results, true AS roundtrip_ok, " +
        "true AS recall_ok, true AS pruned_scan"),

    "q172_table_profile" ->
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .map(c => s"SELECT '$c' AS \"column\", CAST(COUNT(*) AS BIGINT) AS n_rows, " +
          s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
          s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders")
        .mkString(" UNION ALL "),

    "q173_ann_ingest" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_indexed, true AS all_present, " +
        "true AS fullprobe_eq_brute, CAST(24 AS BIGINT) AS n_results FROM embeddings"),

    "q174_tokenizer_persist" ->
      ("WITH w AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents), " +
        "c AS (SELECT unnest(string_split(regexp_replace(text, '\\s+', '', 'g'), '')) AS ch FROM documents) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST((SELECT COUNT(DISTINCT ch) FROM c WHERE length(ch) > 0) + 40 AS BIGINT) AS vocab_size, " +
        "true AS merges_eq, true AS vocab_eq, true AS encode_eq FROM w WHERE length(w) > 0"),

    "q175_pca_incremental" ->
      ("WITH e AS (SELECT unnest(embedding) AS x, " +
        "CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim FROM embeddings) " +
        "SELECT dim, CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micros, " +
        "true AS merge_exact FROM e GROUP BY 1"),

    "q176_stream_moments" ->
      ("WITH e AS (SELECT unnest(embedding) AS x, " +
        "CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim FROM embeddings) " +
        "SELECT dim, CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micros, " +
        "true AS stream_exact FROM e GROUP BY 1"),

    "q177_filter_report" ->
      ("WITH a AS (SELECT CASE " +
        "WHEN NOT coalesce(n_chars >= 120, FALSE) THEN 'too_short' " +
        "WHEN NOT coalesce(lang IN ('en','de','fr'), FALSE) THEN 'rare_lang' " +
        "WHEN NOT coalesce(50*length(regexp_replace(text,'[^A-Za-z]','','g')) >= 41*n_chars, FALSE) THEN 'low_alpha' " +
        "ELSE 'kept' END AS filter FROM documents), " +
        "c AS (SELECT filter, COUNT(*) AS n FROM a GROUP BY 1) " +
        "SELECT d.filter, CAST(COALESCE(c.n, 0) AS BIGINT) AS n " +
        "FROM (VALUES ('too_short'),('rare_lang'),('low_alpha'),('kept')) d(filter) " +
        "LEFT JOIN c ON c.filter = d.filter"),

    "q178_shuffle_shards" ->
      ("WITH k AS (SELECT doc_id, md5('42-' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "s AS (SELECT doc_id, h, " +
        "((4096*(strpos('0123456789abcdef', substr(h,1,1))-1) " +
        "+ 256*(strpos('0123456789abcdef', substr(h,2,1))-1) " +
        "+ 16*(strpos('0123456789abcdef', substr(h,3,1))-1) " +
        "+ (strpos('0123456789abcdef', substr(h,4,1))-1)) % 8) AS shard FROM k) " +
        "SELECT doc_id, CAST(shard AS BIGINT) AS shard, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, CAST(doc_id AS VARCHAR)) - 1 AS BIGINT) AS pos " +
        "FROM s"),

    "q190_upsample_epochs" ->
      ("SELECT doc_id, CAST(v.ep AS BIGINT) AS epoch " +
        "FROM documents, (VALUES (0),(1),(2)) v(ep) " +
        "WHERE v.ep < 2 " +
        "OR substring(md5('7-' || CAST(doc_id AS VARCHAR)), 1, 8) < '66666666'"),

    "q191_epoch_mix_order" ->
      ("WITH common AS (SELECT doc_id, 0 AS epoch FROM documents WHERE lang IN ('en','de','fr')), " +
        "rare AS (SELECT doc_id FROM documents WHERE lang NOT IN ('en','de','fr')), " +
        "up AS (SELECT doc_id, v.ep AS epoch FROM rare, (VALUES (0),(1),(2)) v(ep) " +
        "WHERE v.ep < 2 OR substring(md5('7-' || CAST(doc_id AS VARCHAR)), 1, 8) < '66666666'), " +
        "st AS (SELECT * FROM common UNION ALL SELECT * FROM up), " +
        "k AS (SELECT doc_id, epoch, " +
        "CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR) AS ks, " +
        "md5('42-' || CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)) AS h FROM st), " +
        "sh AS (SELECT doc_id, epoch, ks, h, " +
        "((4096*(strpos('0123456789abcdef', substr(h,1,1))-1) " +
        "+ 256*(strpos('0123456789abcdef', substr(h,2,1))-1) " +
        "+ 16*(strpos('0123456789abcdef', substr(h,3,1))-1) " +
        "+ (strpos('0123456789abcdef', substr(h,4,1))-1)) % 4) AS shard FROM k) " +
        "SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, ks) - 1 AS BIGINT) AS pos " +
        "FROM sh"),

    "q189_curriculum_shuffle" ->
      ("WITH k AS (SELECT doc_id, " +
        "least(CAST(floor(n_chars / 500.0) AS BIGINT), 3) AS stage, " +
        "md5('42-' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "s AS (SELECT doc_id, stage, h, " +
        "((4096*(strpos('0123456789abcdef', substr(h,1,1))-1) " +
        "+ 256*(strpos('0123456789abcdef', substr(h,2,1))-1) " +
        "+ 16*(strpos('0123456789abcdef', substr(h,3,1))-1) " +
        "+ (strpos('0123456789abcdef', substr(h,4,1))-1)) % 8) AS shard FROM k) " +
        "SELECT doc_id, CAST(shard AS BIGINT) AS shard, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY stage, h, CAST(doc_id AS VARCHAR)) - 1 AS BIGINT) AS pos " +
        "FROM s"),

    "q187_write_shards" ->
      ("WITH k AS (SELECT doc_id, md5('42-' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "s AS (SELECT doc_id, h, " +
        "((4096*(strpos('0123456789abcdef', substr(h,1,1))-1) " +
        "+ 256*(strpos('0123456789abcdef', substr(h,2,1))-1) " +
        "+ 16*(strpos('0123456789abcdef', substr(h,3,1))-1) " +
        "+ (strpos('0123456789abcdef', substr(h,4,1))-1)) % 8) AS shard FROM k) " +
        "SELECT doc_id, CAST(shard AS BIGINT) AS shard, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, CAST(doc_id AS VARCHAR)) - 1 AS BIGINT) AS pos " +
        "FROM s"),

    "q179_weighted_interleave" ->
      ("WITH t AS (SELECT doc_id, " +
        "CASE WHEN lang='en' THEN 0 WHEN lang IN ('de','fr') THEN 1 ELSE 2 END AS src, " +
        "CASE WHEN lang='en' THEN 'en' WHEN lang IN ('de','fr') THEN 'eur' ELSE 'rest' END AS source, " +
        "md5('42-' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "p AS (SELECT doc_id, src, source, " +
        "ROW_NUMBER() OVER (PARTITION BY src ORDER BY h, CAST(doc_id AS VARCHAR)) - 1 AS pos FROM t), " +
        "v AS (SELECT doc_id, src, source, " +
        "(pos + 1) * (CASE src WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 6 END) AS vt FROM p) " +
        "SELECT source, doc_id, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY vt, src) - 1 AS BIGINT) AS gpos FROM v"),

    "q180_hash_split" ->
      ("WITH a AS (SELECT n_chars, CASE " +
        "WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train' " +
        "WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents) " +
        "SELECT split, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
        "FROM a GROUP BY 1"),

    "q181_stream_filter_report" ->
      ("WITH a AS (SELECT CASE " +
        "WHEN NOT coalesce(n_chars >= 120, FALSE) THEN 'too_short' " +
        "WHEN NOT coalesce(lang IN ('en','de','fr'), FALSE) THEN 'rare_lang' " +
        "WHEN NOT coalesce(50*length(regexp_replace(text,'[^A-Za-z]','','g')) >= 41*n_chars, FALSE) THEN 'low_alpha' " +
        "ELSE 'kept' END AS filter FROM documents), " +
        "c AS (SELECT filter, COUNT(*) AS n FROM a GROUP BY 1) " +
        "SELECT d.filter, CAST(COALESCE(c.n, 0) AS BIGINT) AS n " +
        "FROM (VALUES ('too_short'),('rare_lang'),('low_alpha'),('kept')) d(filter) " +
        "LEFT JOIN c ON c.filter = d.filter"),

    "q182_negative_sample" ->
      // the 32-bit draw rebuilt digit-by-digit (exact in doubles), the
      // dense item index rebuilt with a window, ranking re-derived
      ("WITH it AS (SELECT doc_id AS item, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS idx FROM documents), " +
        "cnt AS (SELECT COUNT(*) AS n FROM documents), " +
        "an AS (SELECT doc_id AS anchor, lang FROM documents WHERE doc_id % 37 = 0), " +
        "dr AS (SELECT anchor, lang, CAST(t.i AS BIGINT) AS i FROM an, range(0, 12) t(i)), " +
        "hv AS (SELECT anchor, lang, i, CAST(list_sum(list_transform(range(1, 9), " +
        "j -> (strpos('0123456789abcdef', substring(md5('7-' || CAST(anchor AS VARCHAR) || '-' || CAST(i AS VARCHAR)), CAST(j AS INTEGER), 1)) - 1) * 16.0 ^ (8 - j))) AS BIGINT) " +
        "% (SELECT n FROM cnt) AS idx FROM dr), " +
        "cand AS (SELECT h.anchor, h.i, it.item FROM hv h JOIN it ON it.idx = h.idx " +
        "WHERE NOT EXISTS (SELECT 1 FROM documents dd WHERE dd.doc_id = it.item AND dd.lang = h.lang)), " +
        "ded AS (SELECT anchor, item, MIN(i) AS di FROM cand GROUP BY 1, 2) " +
        "SELECT * FROM (SELECT anchor, item, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY di) AS BIGINT) AS rank FROM ded) " +
        "WHERE rank <= 5"),

    "q183_comprehension" ->
      ("SELECT o_orderkey, c_name, CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_acctbal > 5000.0"),

    "q186_comprehension_depfilter" ->
      ("SELECT o_orderkey, c_name, CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_acctbal > 5000.0"),

    "q188_runtime_quotation" ->
      ("SELECT o_orderkey, c_name, CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_acctbal > 5000.0"),

    "q192_comprehension_patterns" ->
      ("SELECT o_orderkey, c_name " +
        "FROM orders JOIN customer ON o_custkey = c_custkey"),

    "q194_strip_boilerplate" ->
      ("WITH d2 AS (SELECT doc_id, replace(text, ' the ', chr(10) || chr(10)) AS text FROM documents), " +
        "t AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS arr FROM d2), " +
        "p0 AS (SELECT doc_id, unnest(arr) AS par, generate_subscripts(arr, 1) - 1 AS pos FROM t), " +
        "p AS (SELECT * FROM p0 WHERE length(trim(par)) > 0), " +
        "cm AS (SELECT par FROM (SELECT par, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY par) WHERE nd > 3), " +
        "k AS (SELECT doc_id, par, pos FROM p WHERE par NOT IN (SELECT par FROM cm)), " +
        "j AS (SELECT doc_id, string_agg(par, chr(10) || chr(10) ORDER BY pos) AS text FROM k GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(j.text, '') AS text FROM d2 d LEFT JOIN j ON d.doc_id = j.doc_id"),

    "q193_paragraph_dedup" ->
      ("WITH d2 AS (SELECT doc_id, replace(text, ' the ', chr(10) || chr(10)) AS text FROM documents), " +
        "t AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS arr FROM d2), " +
        "p0 AS (SELECT doc_id, unnest(arr) AS par, generate_subscripts(arr, 1) - 1 AS pos FROM t), " +
        "p AS (SELECT * FROM p0 WHERE length(trim(par)) > 0), " +
        "r AS (SELECT doc_id, par, pos, ROW_NUMBER() OVER (PARTITION BY par ORDER BY doc_id, pos) AS rk FROM p), " +
        "k AS (SELECT doc_id, par, pos FROM r WHERE rk = 1), " +
        "j AS (SELECT doc_id, string_agg(par, chr(10) || chr(10) ORDER BY pos) AS text FROM k GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(j.text, '') AS text FROM d2 d LEFT JOIN j ON d.doc_id = j.doc_id"),

    "q184_triangles_comprehension" ->
      ("WITH raw AS (SELECT l_suppkey % 30 AS src, l_partkey % 30 AS dst FROM lineitem), " +
        "e AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d FROM raw WHERE least(src, dst) <> greatest(src, dst)) " +
        "SELECT xy.s AS x, xy.d AS y, yz.d AS z FROM e xy JOIN e yz ON xy.d = yz.s JOIN e xz ON xz.s = xy.s AND xz.d = yz.d"),

    "q185_compressibility" ->
      // strlen = UTF-8 byte length in DuckDB; the two invariant booleans
      // are Spark-proven facts the oracle pins to true (q35 pattern)
      ("SELECT COUNT(*) AS n_docs, CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes, " +
        "true AS in_bounds, true AS doubling_compresses_better FROM documents"),

    "q195_state_store" ->
      ("WITH s0 AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders) " +
        "SELECT k, v FROM s0 WHERE k % 300 <> 0 AND k % 500 <> 0 " +
        "UNION ALL SELECT k, v * 2 AS v FROM s0 WHERE k % 500 = 0 AND k % 300 <> 0 " +
        "UNION ALL SELECT o_orderkey + 100000000 AS k, CAST(1.0 AS DOUBLE) AS v " +
        "FROM orders WHERE o_orderkey % 700 = 0"),

    "q196_temperature_mix" ->
      // sqrt (not pow) is IEEE-exact in both engines; the 6-decimal round
      // happens BEFORE the 32-bit threshold so the K-term weight-sum's
      // sub-ulp order noise cannot shift membership (see temperatureMix)
      ("WITH cnt AS (SELECT source AS domain, COUNT(*) AS c FROM documents GROUP BY 1), " +
        "s AS (SELECT SUM(sqrt(CAST(c AS DOUBLE))) AS t FROM cnt), " +
        "fr AS (SELECT domain, floor(least(CAST(1.0 AS DOUBLE), " +
        "sqrt(CAST(c AS DOUBLE)) / t * CAST(150.0 AS DOUBLE) / CAST(c AS DOUBLE)) " +
        "* 1000000.0 + 0.5) / 1000000.0 AS f FROM cnt, s) " +
        "SELECT d.doc_id, d.source, d.n_chars FROM documents d JOIN fr ON d.source = fr.domain " +
        "WHERE f >= 1.0 OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < " +
        "printf('%08x', least(CAST(floor(f * 4294967296.0) AS BIGINT), 4294967295))"),

    "q197_contamination_matrix" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "shraw AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingle FROM t), " +
        "sh AS (SELECT DISTINCT doc_id, shingle FROM shraw), " +
        "ev AS (SELECT 'b97' AS benchmark, shingle FROM (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0) " +
        "UNION ALL SELECT 'b89' AS benchmark, shingle FROM (SELECT DISTINCT shingle FROM sh WHERE doc_id % 89 = 0)), " +
        "cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1), " +
        "hit AS (SELECT sh.doc_id, ev.benchmark, COUNT(*) AS n_hit FROM sh JOIN ev ON sh.shingle = ev.shingle GROUP BY 1, 2) " +
        "SELECT h.doc_id, h.benchmark, h.n_hit, c.n_shingles, " +
        "floor(CAST(h.n_hit AS DOUBLE) / CAST(c.n_shingles AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS contam_frac " +
        "FROM hit h JOIN cnt c ON h.doc_id = c.doc_id"),

    "q198_dependent_generator" ->
      ("SELECT o_orderkey AS k, " +
        "unnest([CAST(0 AS BIGINT), o_orderkey % 3, o_orderkey % 5]) AS t " +
        "FROM orders"),

    "q199_corpus_diff" ->
      ("SELECT doc_id, CASE " +
        "WHEN doc_id % 11 = 0 AND doc_id % 13 <> 0 THEN 'added' " +
        "WHEN doc_id % 13 = 0 AND doc_id % 11 <> 0 THEN 'removed' " +
        "WHEN doc_id % 7 = 0 THEN 'changed' END AS change " +
        "FROM documents " +
        "WHERE (doc_id % 11 = 0 AND doc_id % 13 <> 0) " +
        "OR (doc_id % 13 = 0 AND doc_id % 11 <> 0) " +
        "OR (doc_id % 7 = 0 AND doc_id % 11 <> 0 AND doc_id % 13 <> 0)"),

    "q200_incremental_signals" ->
      ("SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE doc_id % 13 <> 0"),

    "q201_stream_signal_maintenance" ->
      // identical final state to q200: the same churn, micro-batched
      ("SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE doc_id % 13 <> 0"),

    "q203_hybrid_rrf" ->
      ("WITH tok AS (SELECT doc_id, token FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents) WHERE length(token) > 0), " +
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1), " +
        "stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl), " +
        "dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "qs AS (SELECT token AS query_id, token FROM dfreq ORDER BY df DESC, token ASC LIMIT 8), " +
        "sc AS (SELECT q.query_id, tf.doc_id, CAST(SUM(CAST(floor(" +
        "ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * " +
        "((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) " +
        "* 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_micros " +
        "FROM qs q JOIN tf ON tf.token = q.token JOIN dfreq ON dfreq.token = q.token " +
        "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats GROUP BY 1, 2), " +
        "bmk AS (SELECT query_id, doc_id, r FROM (SELECT query_id, doc_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY bm25_micros DESC, doc_id ASC) AS r FROM sc) WHERE r <= 10), " +
        "pr AS (SELECT doc_id, r FROM (SELECT doc_id, " +
        "row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS r FROM documents) WHERE r <= 10), " +
        "prq AS (SELECT q.query_id, p.doc_id, p.r FROM qs q CROSS JOIN pr p), " +
        "co AS (SELECT query_id, doc_id, CAST(floor(1000000.0 / (60.0 + r)) AS BIGINT) AS c FROM " +
        "(SELECT query_id, doc_id, r FROM bmk UNION ALL SELECT query_id, doc_id, r FROM prq)), " +
        "fu AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_micros FROM co GROUP BY 1, 2), " +
        "rk AS (SELECT query_id, doc_id, rrf_micros, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY rrf_micros DESC, doc_id ASC) AS rr FROM fu) " +
        "SELECT query_id, doc_id, rrf_micros FROM rk WHERE rr <= 10"),

    "q204_ann_delete" ->
      ("SELECT CAST(24 AS BIGINT) AS n_results, true AS no_deleted_returned, " +
        "true AS matches_filtered_probe"),

    "q205_image_near_dup" ->
      // n_planted is corpus-derived; the two invariants are Spark-proven
      // facts pinned by the oracle (q35 pattern)
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, true AS all_planted_found, " +
        "CAST(0 AS BIGINT) AS n_extra FROM documents WHERE doc_id < 385 AND doc_id % 5 = 0"),

    "q207_audio_near_dup" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, true AS all_planted_found, " +
        "CAST(0 AS BIGINT) AS n_extra FROM documents WHERE doc_id < 385 AND doc_id % 5 = 0"),

    "q208_video_near_dup" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, true AS all_planted_found, " +
        "CAST(0 AS BIGINT) AS n_extra FROM documents WHERE doc_id < 385 AND doc_id % 5 = 0"),

    "q209_ranking_metrics" ->
      ("WITH tok AS (SELECT doc_id, token FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents) WHERE length(token) > 0), " +
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1), " +
        "stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl), " +
        "dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "qs AS (SELECT token AS query_id, token FROM dfreq ORDER BY df DESC, token ASC LIMIT 8), " +
        "sc AS (SELECT q.query_id, tf.doc_id, CAST(SUM(CAST(floor(" +
        "ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * " +
        "((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) " +
        "* 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_micros " +
        "FROM qs q JOIN tf ON tf.token = q.token JOIN dfreq ON dfreq.token = q.token " +
        "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats GROUP BY 1, 2), " +
        "bmk AS (SELECT query_id, doc_id, r FROM (SELECT query_id, doc_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY bm25_micros DESC, doc_id ASC) AS r FROM sc) WHERE r <= 10), " +
        "tr AS (SELECT t.token AS query_id, t.doc_id FROM (SELECT DISTINCT token, doc_id FROM tok) t " +
        "JOIN qs ON t.token = qs.query_id WHERE t.doc_id % 3 = 0), " +
        "nr AS (SELECT query_id, COUNT(*) AS nrel FROM tr GROUP BY 1), " +
        "h AS (SELECT b.query_id, b.r, CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel " +
        "FROM bmk b LEFT JOIN tr t ON b.query_id = t.query_id AND b.doc_id = t.doc_id), " +
        "agg AS (SELECT query_id, SUM(rel) AS nhits, MIN(CASE WHEN rel = 1 THEN r END) AS firsth, " +
        "SUM(CASE WHEN rel = 1 THEN 1.0 / log2(r + 1.0) ELSE 0.0 END) AS dcg FROM h GROUP BY 1) " +
        "SELECT a.query_id, " +
        "CAST(floor(CAST(nhits AS DOUBLE) / least(nrel, 10) * 1000000.0 + 0.5) AS BIGINT) AS recall_micros, " +
        "CAST(floor(COALESCE(1.0 / firsth, 0.0) * 1000000.0 + 0.5) AS BIGINT) AS mrr_micros, " +
        "CAST(floor(dcg / list_sum(list_transform(range(1, least(nrel, 10) + 1), " +
        "i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0))) * 1000000.0 + 0.5) AS BIGINT) AS ndcg_micros " +
        "FROM agg a JOIN nr ON a.query_id = nr.query_id"),

    "q206_pack_layout" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, " +
        "doc_id % 8 AS bucket FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, bucket, " +
        "SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS st FROM t), " +
        "p AS (SELECT doc_id, n_tokens, bucket, st, st // 2048 AS pack FROM c) " +
        "SELECT doc_id, n_tokens, bucket, CAST(pack AS BIGINT) AS pack, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY bucket, pack ORDER BY doc_id) - 1 AS BIGINT) AS seg, " +
        "CAST(st - pack * 2048 AS BIGINT) AS pack_offset FROM p"),

    "q202_shard_manifest" ->
      // shard = q178's 4-nibble arithmetic; checksum rebuilt digit-by-digit
      // (the q86 pattern: integers < 2^53 are exact doubles, so the sum is
      // bit-identical to Spark's conv(hex,16,10) BIGINT sum); `dense` is a
      // Spark-proven invariant pinned true (q35 pattern)
      ("WITH k AS (SELECT doc_id, md5('42-' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "s AS (SELECT doc_id, " +
        "((4096*(strpos('0123456789abcdef', substr(h,1,1))-1) " +
        "+ 256*(strpos('0123456789abcdef', substr(h,2,1))-1) " +
        "+ 16*(strpos('0123456789abcdef', substr(h,3,1))-1) " +
        "+ (strpos('0123456789abcdef', substr(h,4,1))-1)) % 8) AS shard FROM k), " +
        "c AS (SELECT shard, doc_id, CAST(list_sum(list_transform(range(1, 9), " +
        "i -> (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1) * 16.0 ^ (8 - i))) AS BIGINT) AS v FROM s) " +
        "SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows, " +
        "CAST(COUNT(*) - 1 AS BIGINT) AS max_pos, true AS dense, " +
        "CAST(SUM(v) AS BIGINT) AS checksum " +
        "FROM c GROUP BY shard"),

    "q210_token_budget" ->
      (mixtureAllocCte +
        " SELECT domain, n_tokens, cappedi = 1 AS capped, " +
        "CAST(allocmu // 1000000 AS BIGINT) AS alloc_tokens, " +
        "CAST(allocmu // n_tokens AS BIGINT) AS epochs_micros FROM a"),

    "q211_epoch_mix" ->
      (mixtureAllocCte +
        ", em AS (SELECT domain, CAST(allocmu // n_tokens AS BIGINT) AS em FROM a), " +
        "fz AS (SELECT domain, em // 1000000 AS whole, " +
        "printf('%08x', CAST((em % 1000000) * 4294967296 // 1000000 AS BIGINT)) AS thr FROM em), " +
        // epoch series as a join (an unnest inside a subquery trips DuckDB's
        // binder when the outer WHERE references it); 2.5 epochs → e in 0..2
        "g AS (SELECT unnest(range(0, 4)) AS e) " +
        "SELECT d.doc_id, d.source, CAST(g.e AS BIGINT) AS epoch " +
        "FROM documents d JOIN fz ON d.source = fz.domain " +
        "JOIN g ON g.e <= fz.whole " +
        "WHERE g.e < fz.whole OR " +
        "substring(md5('7-' || CAST(d.doc_id AS VARCHAR)), 1, 8) < fz.thr"),

    "q212_sft_spans" ->
      ("WITH t AS (SELECT doc_id AS conv, string_split_regex(trim(text), '\\s+') AS arr FROM documents), " +
        "w0 AS (SELECT conv, unnest(arr) AS w, generate_subscripts(arr, 1) - 1 AS pos FROM t), " +
        "w1 AS (SELECT * FROM w0 WHERE length(w) > 0), " +
        "tu AS (SELECT conv, pos // 8 AS turn, string_agg(w, ' ' ORDER BY pos) AS content FROM w1 GROUP BY 1, 2), " +
        "r AS (SELECT conv, turn, CASE WHEN turn % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, content FROM tu), " +
        "re AS (SELECT conv, turn, role, content, '<|' || role || '|>' AS hdr, " +
        "'<|' || role || '|>' || content || '<|end|>' AS rt FROM r), " +
        "sp AS (SELECT conv, turn, role, " +
        "COALESCE(SUM(length(rt)) OVER (PARTITION BY conv ORDER BY turn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + length(hdr) AS start_off, " +
        "length(content) AS clen FROM re), " +
        "cl AS (SELECT conv, SUM(length(rt)) AS conv_chars FROM re GROUP BY 1) " +
        "SELECT sp.conv, CAST(sp.turn AS BIGINT) AS turn, " +
        "CAST(sp.start_off AS BIGINT) AS start_off, " +
        "CAST(sp.start_off + sp.clen AS BIGINT) AS end_off, " +
        "CAST(cl.conv_chars AS BIGINT) AS conv_chars " +
        "FROM sp JOIN cl ON sp.conv = cl.conv WHERE sp.role = 'assistant'"),

    "q213_pq_ann" ->
      // planted-copy retrieval and code stability are Spark-proven contract
      // facts pinned true (q205 pattern); n_results = 8 queries × k=10
      ("SELECT CAST(80 AS BIGINT) AS n_results, true AS all_planted_found, " +
        "true AS codes_stable"),

    "q214_quality_model" ->
      // split sizes are corpus-derived; holdout accuracy >= 0.9 is the
      // Spark-proven contract fact pinned true (q35 pattern)
      ("SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 5 <> 0) AS BIGINT) AS n_train, " +
        "CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 5 = 0) AS BIGINT) AS n_test, " +
        "true AS acc_ok"),

    "q215_ivfpq_index" ->
      // planted retrieval and save/load equivalence are Spark-proven
      // contract facts pinned true; n_results = 8 queries × k=10
      ("SELECT CAST(80 AS BIGINT) AS n_results, true AS all_planted_found, " +
        "true AS loaded_matches_memory"),

    "q216_unigram_tokenizer" ->
      // word/char totals recomputed from the corpus; roundtrip/mass/vocab
      // are Spark-proven contract facts pinned true (q150 pattern)
      ("WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents), " +
        "t2 AS (SELECT w FROM tok WHERE length(w) > 0) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(SUM(length(w)) AS BIGINT) AS sum_chars, " +
        "true AS roundtrip_ok, true AS mass_ok, true AS vocab_full FROM t2"),

    "q217_pack_firstfit" ->
      // totals recomputed from the corpus; cap/half-empty are Spark-proven
      // FFD guarantees pinned true (q35 pattern)
      ("WITH t AS (SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n FROM documents) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n) AS BIGINT) AS sum_tokens, " +
        "true AS cap_ok, true AS halfempty_ok FROM t"),

    "q218_model_cascade" ->
      // the rule stage's count is SQL-exact (the garbage suffix keeps every
      // doc_id%3==0 doc over the length rule); model-stage facts pinned true
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_total, " +
        "CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 3 <> 0 AND length(text) < 100) AS BIGINT) AS n_too_short, " +
        "true AS garbage_gone, true AS report_conserves FROM documents"),

    "q219_sft_pipeline" ->
      ("WITH t AS (SELECT doc_id AS conv, string_split_regex(trim(text), '\\s+') AS arr FROM documents), " +
        "w0 AS (SELECT conv, unnest(arr) AS w, generate_subscripts(arr, 1) - 1 AS pos FROM t), " +
        "w1 AS (SELECT * FROM w0 WHERE length(w) > 0), " +
        "tu AS (SELECT conv, pos // 8 AS turn, string_agg(w, ' ' ORDER BY pos) AS content FROM w1 GROUP BY 1, 2), " +
        "r AS (SELECT conv, turn, CASE WHEN turn % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, content FROM tu), " +
        "re AS (SELECT conv, turn, role, content, '<|' || role || '|>' AS hdr, " +
        "'<|' || role || '|>' || content || '<|end|>' AS rt FROM r), " +
        "sp AS (SELECT conv, turn, role, " +
        "COALESCE(SUM(length(rt)) OVER (PARTITION BY conv ORDER BY turn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + length(hdr) AS start_off, " +
        "length(content) AS clen FROM re), " +
        "cl AS (SELECT conv, SUM(length(rt)) AS conv_chars FROM re GROUP BY 1), " +
        "pk1 AS (SELECT conv, conv % 8 AS bucket, " +
        "SUM(conv_chars) OVER (PARTITION BY conv % 8 ORDER BY conv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - conv_chars AS st FROM cl), " +
        "ps AS (SELECT conv, bucket, st // 4096 AS pack, st - (st // 4096) * 4096 AS pack_offset, " +
        "ROW_NUMBER() OVER (PARTITION BY bucket, st // 4096 ORDER BY conv) - 1 AS seg FROM pk1) " +
        "SELECT sp.conv, CAST(sp.turn AS BIGINT) AS turn, CAST(ps.bucket AS BIGINT) AS bucket, " +
        "CAST(ps.pack AS BIGINT) AS pack, CAST(ps.seg AS BIGINT) AS seg, " +
        "CAST(ps.pack_offset + sp.start_off AS BIGINT) AS global_start, " +
        "CAST(ps.pack_offset + sp.start_off + sp.clen AS BIGINT) AS global_end " +
        "FROM sp JOIN ps ON sp.conv = ps.conv WHERE sp.role = 'assistant'"),

    "q220_ivfpq_lifecycle" ->
      // lifecycle facts are Spark-proven contracts pinned true; n_results =
      // 8 queries × k=10
      ("SELECT CAST(80 AS BIGINT) AS n_results, true AS appended_found, " +
        "true AS no_deleted_returned"),

    "q221_hard_negatives" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings WHERE vec_id < 8), " +
        "c AS (SELECT vec_id AS did, embedding AS dv, label AS cl FROM embeddings), " +
        "p AS (SELECT qid, did, " +
        "list_sum(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE))) AS dot, " +
        "sqrt(list_sum(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS nq, " +
        "sqrt(list_sum(list_transform(generate_series(1, len(dv)), i -> CAST(dv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE)))) AS nd " +
        "FROM q CROSS JOIN c WHERE qid <> did AND ql <> cl), " +
        "r AS (SELECT qid, did, floor(dot / (nq * nd) * 10000.0 + 0.5) / 10000.0 AS sim FROM p) " +
        "SELECT qid, did, sim, rank FROM (SELECT qid, did, sim, " +
        "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, did) AS rank FROM r) x WHERE rank <= 5"),

    "q222_dedup_aware_split" ->
      // q65's cluster CTEs + COALESCE canonical + q180's threshold CASE
      // (0.6 → '99999999', 0.8 → 'cccccccc')
      (s"WITH RECURSIVE $shingleCtes, $sigCte, $bandCtes, ${jaccardVerifySql(0.2)}, " +
        "und AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION SELECT id2 AS src, id1 AS dst FROM pairs), " +
        "r AS (SELECT DISTINCT src AS v, src AS u FROM und UNION SELECT r.v, und.dst AS u FROM r JOIN und ON r.u = und.src), " +
        "cl AS (SELECT v AS doc_id, MIN(u) AS canon FROM r GROUP BY v) " +
        "SELECT d.doc_id, CASE " +
        "WHEN substring(md5(CAST(COALESCE(cl.canon, d.doc_id) AS VARCHAR)), 1, 8) < '99999999' THEN 'train' " +
        "WHEN substring(md5(CAST(COALESCE(cl.canon, d.doc_id) AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'val' " +
        "ELSE 'test' END AS split " +
        "FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id"),

    "q223_tokenizer_eval" ->
      // holdout totals recomputed from the corpus; the cross-tokenizer
      // facts are Spark-proven contracts pinned true (q150 pattern)
      ("WITH w0 AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents WHERE doc_id % 5 = 0), " +
        "w1 AS (SELECT w FROM w0 WHERE length(w) > 0) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(SUM(length(w)) AS BIGINT) AS n_chars, " +
        "true AS mass_ok, true AS bpe_bounds_ok, " +
        "true AS unigram_bounds_ok, true AS both_compress FROM w1"),

    "q224_hard_negatives_indexed" ->
      ("SELECT CAST(40 AS BIGINT) AS n_results, true AS all_planted_found, " +
        "true AS no_positive_returned"),

    "q225_comprehension_nested_yield" ->
      ("SELECT o_orderkey, c_name, " +
        "CAST((o_orderkey % 5 + 1) * (o_orderkey % 5 + 2) // 2 AS BIGINT) AS tri " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_acctbal > 5000.0"),

    // Upserts are exact Long adds (order-free), inserts land on shifted
    // keys, deletes hit original custkeys % 97 — all replayable as one
    // grouped union. cents via the portable floor(x*100 + 0.5) spelling.
    "q226_point_bag" ->
      ("WITH base AS (SELECT c_custkey AS k, " +
        "CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS cents FROM customer), " +
        "msg AS (SELECT o_custkey AS k, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 1000 < 40), " +
        "ins AS (SELECT o_custkey + 10000000 AS k, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 1000 < 5) " +
        "SELECT k AS c_custkey, CAST(SUM(cents) AS BIGINT) AS balance_cents " +
        "FROM (SELECT * FROM base UNION ALL SELECT * FROM msg " +
        "UNION ALL SELECT * FROM ins) " +
        "GROUP BY 1 HAVING NOT (k < 10000000 AND k % 97 = 0)"),

    "q227_comprehension_exists" ->
      ("SELECT c_custkey, c_name FROM customer cu " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey " +
        "AND o.o_totalprice > 150000.0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey " +
        "AND o.o_totalprice < 5000.0)"),

    "q228_comprehension_foldgroup" ->
      ("SELECT c_custkey, c_name, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM orders o " +
        "WHERE o.o_custkey = cu.c_custkey AND o.o_totalprice > 100000.0) AS big_orders, " +
        "(SELECT COALESCE(CAST(SUM(CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT)) " +
        "AS BIGINT), 0) FROM orders o " +
        "WHERE o.o_custkey = cu.c_custkey) AS total_cents " +
        "FROM customer cu WHERE c_acctbal > 0.0"),

    "q229_comprehension_having" ->
      ("SELECT c_custkey, c_name, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM orders o " +
        "WHERE o.o_custkey = cu.c_custkey AND o.o_totalprice > 100000.0) AS big_orders " +
        "FROM customer cu " +
        "WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = cu.c_custkey) >= 12"),

    "q230_comprehension_topk" ->
      ("SELECT c_custkey, c_name, " +
        "(SELECT COALESCE(CAST(SUM(c) AS BIGINT), 0) FROM (" +
        "SELECT CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS c FROM orders o " +
        "WHERE o.o_custkey = cu.c_custkey ORDER BY c DESC LIMIT 3) t) AS top3_cents " +
        "FROM customer cu"),

    "q231_comprehension_groupfusion" ->
      ("SELECT o_custkey, CAST(COUNT(*) AS INT) AS n_orders, " +
        "CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS total_cents, " +
        "CAST(MAX(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS max_cents " +
        "FROM orders GROUP BY 1 HAVING COUNT(*) >= 12"),

    "q232_comprehension_nonempty" ->
      ("SELECT c_custkey, c_name FROM customer cu " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey " +
        "AND o.o_totalprice > 150000.0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey " +
        "AND o.o_totalprice < 5000.0)"),

    "q233_comprehension_global_fold" ->
      ("SELECT c.c_custkey, o.o_orderkey " +
        "FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey " +
        "WHERE CAST(floor(c.c_acctbal*100 + 0.5) AS BIGINT) * " +
        "(SELECT COUNT(*) FROM customer) > " +
        "(SELECT SUM(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)) FROM customer) " +
        "AND CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) * 2 > " +
        "(SELECT MAX(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) FROM orders)"),

    "q234_comprehension_minmax" ->
      ("SELECT cu.c_custkey, " +
        "(SELECT MIN(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) FROM orders o " +
        "WHERE o.o_custkey = cu.c_custkey) AS min_cents, " +
        "(SELECT MAX(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) FROM orders o " +
        "WHERE o.o_custkey = cu.c_custkey) AS max_cents " +
        "FROM customer cu " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey)"),

    "q235_comprehension_group_block" ->
      ("SELECT CAST(year(o_orderdate) AS VARCHAR) || ' orders' AS label, " +
        "CAST(COUNT(*) AS INT) AS n_orders, " +
        "CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) / " +
        "(COUNT(*) * 100.0) AS avg_price, " +
        "MIN(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS min_cents, " +
        "MAX(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS max_cents " +
        "FROM orders GROUP BY year(o_orderdate)"),

    "q236_comprehension_multi_group" ->
      ("SELECT o.y, o.n_orders, o.ord_cents, l.n_items, l.qty_cents FROM " +
        "(SELECT CAST(year(o_orderdate) AS BIGINT) AS y, " +
        "CAST(COUNT(*) AS INT) AS n_orders, " +
        "CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS ord_cents FROM orders GROUP BY 1) o JOIN " +
        "(SELECT CAST(year(l_shipdate) AS BIGINT) AS y, " +
        "CAST(COUNT(*) AS INT) AS n_items, " +
        "CAST(SUM(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS qty_cents FROM lineitem GROUP BY 1) l ON o.y = l.y"),

    "q237_comprehension_group_pattern" ->
      ("SELECT o_custkey, CAST(COUNT(*) AS INT) AS n_orders, " +
        "MIN(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS min_cents, " +
        "MAX(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS max_cents " +
        "FROM orders GROUP BY 1 HAVING COUNT(*) >= 12"),

    "q238_comprehension_collect" ->
      ("SELECT cu.c_custkey, COALESCE((SELECT string_agg(CAST(c AS VARCHAR), " +
        "',' ORDER BY c) FROM (SELECT CAST(floor(o_totalprice*100 + 0.5) " +
        "AS BIGINT) AS c FROM orders o WHERE o.o_custkey = cu.c_custkey) t)" +
        ", '') AS cents_list FROM customer cu"),

    "q239_comprehension_exists_head" ->
      ("SELECT cu.c_custkey, " +
        "EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey " +
        "AND o.o_totalprice > 150000.0) AS has_big, " +
        "(SELECT COUNT(*) FROM orders o WHERE o.o_custkey = cu.c_custkey) " +
        "AS n_orders FROM customer cu"),

    "q240_comprehension_unnest" ->
      ("SELECT cu.c_custkey, cu.c_name, " +
        "CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS cents " +
        "FROM customer cu JOIN orders o ON o.o_custkey = cu.c_custkey " +
        "WHERE o.o_totalprice > 100000.0"),

    "q241_comprehension_unnest_multi" ->
      ("SELECT cu.c_custkey, o.o_orderkey, " +
        "CAST(floor(o2.o_totalprice*100 + 0.5) AS BIGINT) AS cents " +
        "FROM customer cu JOIN orders o ON o.o_custkey = cu.c_custkey " +
        "JOIN orders o2 ON o2.o_orderkey = o.o_orderkey " +
        "WHERE CAST(floor(o2.o_totalprice*100 + 0.5) AS BIGINT) >= 10000000"),

    "q242_comprehension_unnest_pattern" ->
      ("SELECT cu.c_custkey, o.o_orderkey, " +
        "CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS cents " +
        "FROM customer cu JOIN orders o ON o.o_custkey = cu.c_custkey " +
        "WHERE CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) >= 10000000"),

    "q243_comprehension_unnest_case_class" ->
      ("SELECT cu.c_custkey, o.o_orderkey, " +
        "CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS cents " +
        "FROM customer cu JOIN orders o ON o.o_custkey = cu.c_custkey " +
        "WHERE CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) >= 10000000"),

    "q244_comprehension_composite_key" ->
      ("SELECT cu.c_custkey, o.o_orderkey " +
        "FROM customer cu JOIN orders o " +
        "ON o.o_custkey % 7 = cu.c_custkey % 7 AND o.o_custkey = cu.c_custkey " +
        "WHERE o.o_totalprice > 50000.0"),

    "q245_comprehension_depth3" ->
      ("SELECT cu.c_custkey, cu.c_name, " +
        "CAST(floor(l.l_quantity*100 + 0.5) AS BIGINT) + o.o_orderkey AS v " +
        "FROM customer cu " +
        "JOIN orders o ON o.o_custkey = cu.c_custkey " +
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        "WHERE o.o_totalprice > 200000.0 AND l.l_quantity > 45.0"),

    "q246_pointbag_delta" ->
      ("SELECT c.c_custkey, CAST(floor(c.c_acctbal*100 + 0.5) AS BIGINT) + COALESCE(s.m, 0) AS cents " +
        "FROM customer c LEFT JOIN (" +
        "SELECT o_custkey, CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS m " +
        "FROM orders GROUP BY 1) s ON s.o_custkey = c.c_custkey"),

    "q247_stream_pointbag" ->
      // micro-batched replay of q246: same final state, same oracle
      ("SELECT c.c_custkey, CAST(floor(c.c_acctbal*100 + 0.5) AS BIGINT) + COALESCE(s.m, 0) AS cents " +
        "FROM customer c LEFT JOIN (" +
        "SELECT o_custkey, CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS m " +
        "FROM orders GROUP BY 1) s ON s.o_custkey = c.c_custkey"),

    "q248_libdef_inline" ->
      ("SELECT cu.c_custkey, cu.c_name, o.o_orderkey, " +
        "CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS price_cents " +
        "FROM customer cu JOIN orders o ON o.o_custkey = cu.c_custkey " +
        "WHERE o.o_totalprice > 150000.0"),

    "q249_crossfile_lib" ->
      // cross-file @lib spelling of q248's join — identical contract
      ("SELECT cu.c_custkey, cu.c_name, o.o_orderkey, " +
        "CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS price_cents " +
        "FROM customer cu JOIN orders o ON o.o_custkey = cu.c_custkey " +
        "WHERE o.o_totalprice > 150000.0"),

    "q250_generic_lib" ->
      // generic @lib monomorphized at the splice — plain equi join
      ("SELECT cu.c_custkey, cu.c_name, " +
        "CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS price_cents " +
        "FROM customer cu JOIN orders o ON o.o_custkey = cu.c_custkey"),

    "q251_object_lib" ->
      // two members of one object-level @lib module in one quote: equi
      // join over the cents-floored price filter
      ("SELECT cu.c_custkey, cu.c_name, o.o_orderkey " +
        "FROM customer cu JOIN orders o ON o.o_custkey = cu.c_custkey " +
        "WHERE CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) > 15000000"),

    "q252_scalar_lib" ->
      // scalar @lib mean over the whole bag = the uncorrelated scalar
      // subquery; integer-cents mean is exact on both engines — DuckDB's
      // integer `//` TRUNCATES toward zero exactly like Scala Long `/`
      // (measured: -7//2 = -3), so the division agrees for any sign
      // (and the sums here are non-negative anyway)
      ("WITH m AS (SELECT SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) " +
        "// COUNT(*) AS mu FROM orders) " +
        "SELECT o_orderkey, o_custkey, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_cents " +
        "FROM orders, m " +
        "WHERE CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) > mu"),

    "q253_stats_pipeline" ->
      // z-score pipeline: integer mean + integer population variance in
      // whole dollars (exact on both engines, overflow-safe through
      // sf10), ONE IEEE sqrt and ONE division on bit-identical inputs —
      // no rounding slop needed anywhere
      ("WITH c AS (SELECT o_orderkey, " +
        "CAST(floor(o_totalprice) AS BIGINT) AS dollars FROM orders), " +
        "m AS (SELECT SUM(dollars) // COUNT(*) AS mu FROM c), " +
        "v AS (SELECT SUM((dollars - mu)*(dollars - mu)) // COUNT(*) AS vr FROM c, m), " +
        "s AS (SELECT sqrt(CAST(vr AS DOUBLE)) AS sd FROM v) " +
        "SELECT c.o_orderkey, " +
        "CAST(floor(CAST(dollars - mu AS DOUBLE) / sd * 1000.0) AS BIGINT) AS z_millis " +
        "FROM c, m, s"),

    "q254_comprehension_deep_head" ->
      // guard: triangular sum over n = k%7+1 exceeds 6; head: sum of
      // triangulars 1..m = tetrahedral m(m+1)(m+2)/6 with m = k%5+1
      ("WITH t AS (SELECT o_orderkey, o_orderkey % 7 + 1 AS n, " +
        "o_orderkey % 5 + 1 AS m FROM orders) " +
        "SELECT o_orderkey, (m*(m+1)*(m+2))//6 AS tetra FROM t " +
        "WHERE n*(n+1) > 12"),

    "q255_vector_stats" ->
      // per-dim integer mean — DuckDB's integer `//` TRUNCATES toward
      // zero exactly like Scala `/` (measured: -7//2 = -3; NOT floor
      // division), so negative per-dim sums divide identically — then
      // two-pass population variance, min, max over micro-unit
      // embeddings; SUM casts guard DuckDB's HUGEINT widening
      ("WITH e AS (SELECT unnest(embedding) AS x, " +
        "CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim FROM embeddings), " +
        "mi AS (SELECT dim, CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT) AS v FROM e), " +
        "a AS (SELECT dim, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS n, " +
        "MIN(v) AS mn, MAX(v) AS mx FROM mi GROUP BY 1), " +
        "mu AS (SELECT dim, CAST(s // n AS BIGINT) AS mu, n, mn, mx FROM a) " +
        "SELECT mi.dim AS dim, ANY_VALUE(mu.mu) AS mean_micros, " +
        "CAST(CAST(SUM((mi.v - mu.mu)*(mi.v - mu.mu)) AS BIGINT) // ANY_VALUE(mu.n) AS BIGINT) AS var_micros, " +
        "ANY_VALUE(mu.mn) AS min_micros, ANY_VALUE(mu.mx) AS max_micros " +
        "FROM mi JOIN mu ON mi.dim = mu.dim GROUP BY mi.dim"),

    "q256_summarize" ->
      // higher-order summarize(meanL, varianceL) = the same uncorrelated
      // scalar subqueries the direct dstat calls produce; whole-dollar
      // integer mean/variance (DuckDB's `//` truncates toward zero like
      // Scala `/` — sums non-negative here anyway); the Σdev² SUM casts
      // through BIGINT to guard DuckDB's HUGEINT widening
      ("WITH d AS (SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders), " +
        "a AS (SELECT CAST(SUM(v) AS BIGINT) // COUNT(*) AS mu, COUNT(*) AS n FROM d), " +
        "vr AS (SELECT CAST(CAST(SUM((d.v - a.mu)*(d.v - a.mu)) AS BIGINT) // ANY_VALUE(a.n) AS BIGINT) AS vv FROM d, a) " +
        "SELECT d.o_orderkey AS o_orderkey, d.v - a.mu AS dev_dollars, " +
        "vr.vv AS var_dollars FROM d, a, vr"),

    "q257_broadcast_guard" ->
      // hinted range-membership guard = EXISTS over the small bands
      // relation; band bounds are exact small integers, totalprice
      // comparisons are plain IEEE double-vs-integer — identical in
      // both engines
      ("SELECT o.o_orderkey AS o_orderkey, o.o_totalprice AS o_totalprice " +
        "FROM orders o WHERE EXISTS (SELECT 1 FROM " +
        "(SELECT n_nationkey*12000 AS lo, n_nationkey*12000+6000 AS hi FROM nation) b " +
        "WHERE o.o_totalprice >= b.lo AND o.o_totalprice < b.hi)")
  )

  /** Water-filling allocation CTE shared by q210/q211 — the EXACT integer
    * computation [[graft.ops.Mixture.allocate]] performs, replayed with
    * 128-bit window sums: caps and budget in micro-tokens, weights in
    * micro-units (2500000 = 2.5 epochs in micros), domains ordered by the
    * IEEE-exact double n/w, the capped set the maximal prefix where
    * `w·(B−Σcap_prev) ≥ cap·Σw_remaining` holds under a running AND. */
  private val mixtureAllocCte =
    "WITH n AS (SELECT source AS domain, CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens FROM documents GROUP BY 1), " +
      "w(domain, wmu) AS (VALUES ('src1', 400000), ('src3', 300000), ('src5', 150000), ('src7', 100000), ('src9', 40000), ('src11', 10000)), " +
      "j AS (SELECT n.domain, n.n_tokens, w.wmu FROM n JOIN w ON n.domain = w.domain WHERE n.n_tokens > 0), " +
      "b AS (SELECT CAST(SUM(n_tokens) AS BIGINT) * 14 // 10 AS budget FROM j), " +
      "o AS (SELECT j.domain, j.n_tokens, j.wmu, CAST(j.n_tokens AS DOUBLE) / CAST(j.wmu AS DOUBLE) AS ratio FROM j), " +
      "p AS (SELECT *, COALESCE(SUM(CAST(n_tokens AS HUGEINT) * 2500000) OVER (ORDER BY ratio, domain ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev, " +
      "SUM(CAST(wmu AS HUGEINT)) OVER (ORDER BY ratio, domain ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wge FROM o), " +
      "c AS (SELECT p.*, CASE WHEN CAST(p.wmu AS HUGEINT) * (CAST(b.budget AS HUGEINT) * 1000000 - p.cprev) >= CAST(p.n_tokens AS HUGEINT) * 2500000 * p.wge THEN 1 ELSE 0 END AS cond FROM p CROSS JOIN b), " +
      "f AS (SELECT *, MIN(cond) OVER (ORDER BY ratio, domain ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cappedi FROM c), " +
      "t AS (SELECT COALESCE(SUM(CASE WHEN cappedi = 1 THEN CAST(n_tokens AS HUGEINT) * 2500000 END), 0) AS cs, " +
      "COALESCE(SUM(CASE WHEN cappedi = 0 THEN CAST(wmu AS HUGEINT) END), 0) AS wr FROM f), " +
      "a AS (SELECT f.domain, f.n_tokens, f.cappedi, " +
      "CASE WHEN f.cappedi = 1 THEN CAST(f.n_tokens AS HUGEINT) * 2500000 " +
      "WHEN t.wr = 0 THEN 0 " +
      "ELSE CAST(f.wmu AS HUGEINT) * (CAST(b.budget AS HUGEINT) * 1000000 - t.cs) // t.wr END AS allocmu " +
      "FROM f CROSS JOIN t CROSS JOIN b)"
}
