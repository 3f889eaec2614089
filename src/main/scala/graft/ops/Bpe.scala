package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) vocabulary training.
  *
  * Works on the DISTINCT-WORD relation `(syms: Array[String], cnt)` — the
  * standard BPE reduction: after one word-count aggregation, every round's
  * cost depends on vocabulary size, not corpus size, so a 100 TB corpus
  * trains at the same per-round cost as its word histogram (~millions of
  * rows), kept distributed the whole time.
  *
  * Per round: ONE map-side-combinable aggregation (adjacent-pair counts,
  * weighted by word count), a single-row argmax collect (the winning pair —
  * ties broken lexicographically so the merge sequence is a pure function
  * of the corpus), and a narrow fold that merges the winner left-to-right
  * non-overlapping inside each word (a codegen'd `aggregate` higher-order
  * function — no UDF). Training stops early when no pair occurs twice.
  *
  * The learned artifact is the ranked merge table `(rank, left, right,
  * pair_count)` — apply it with [[encode]].
  */
object Bpe {

  /** Initial word relation: whitespace words → (syms = chars, cnt).
    * The char split filters empty symbols defensively: `split(w, "")`
    * returned a trailing "" before SPARK-40194, and the token-mass
    * contract (sum(size(syms)*cnt) == total chars) must hold on any
    * Spark runtime. */
  def wordSymbols(docs: DataFrame, textCol: String = "text"): DataFrame =
    Par.spread(docs)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(filter(split(col("w"), ""), s => length(s) > 0).as("syms"), col("cnt"))

  /** Greedy left-to-right non-overlapping merge of (l, r) in a symbol
    * array — the textbook BPE application step, as a pure Column fold. */
  private[ops] def mergePair(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** Train `numMerges` merges. Returns the ranked merge table and the final
    * merged word relation `(syms, cnt)` (for inspection / token counts).
    *
    * When the word histogram is small (`<= localThreshold` distinct words
    * — the normal case: training cost is a function of the VOCABULARY, not
    * the corpus, after the one count pass), the merge loop runs
    * driver-side over the collected histogram via [[trainLocal]]'s
    * incremental-heap core: the distributed loop pays ~2 jobs per merge
    * round (pair-count aggregation + checkpoint of the merged words),
    * which dominates every tokenizer gate. Pair counts are exact integers
    * and tie-breaks use UTF-8 byte order, so the merge table is
    * BIT-IDENTICAL to the distributed loop's (BpeSpec pins the parity).
    * Above the threshold the distributed loop runs as before. */
  def train(docs: DataFrame, textCol: String = "text", numMerges: Int = 50,
      localThreshold: Long = 65536): (DataFrame, DataFrame) = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    val spark = docs.sparkSession
    val bridge = org.apache.spark.sql.graft.bridge
    var words = bridge.dropOriginStats(
      wordSymbols(docs, textCol).localCheckpoint())

    val vocabRows = words.count()
    if (vocabRows <= localThreshold) {
      import spark.implicits._
      val hist = words.collect()
        .map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
      bridge.freeLocalCheckpoint(words)
      val (merges, outWords, outCnts) =
        trainLocalHist(hist.map(_._1), hist.map(_._2), numMerges)
      return (merges.toDF("rank", "left", "right", "pair_count"),
        outWords.zip(outCnts).toSeq.map { case (s, c) => (s.toSeq, c) }
          .toDF("syms", "cnt"))
    }
    // the loop schedules several jobs PER MERGE over the vocabulary
    // relation — size its partitioning from the (already counted) vocab so
    // a small-vocab run (the forced-distributed twin, a near-threshold
    // corpus) doesn't pay max-parallelism scheduling on every round; big
    // vocabularies keep one task per ~8k words up to the session's
    // parallelism
    val loopParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, vocabRows / 8192L)).toInt
    val coalesced = bridge.dropOriginStats(
      words.coalesce(loopParts).localCheckpoint())
    bridge.freeLocalCheckpoint(words) // the pre-coalesce copy's blocks
    words = coalesced
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    // a checkpoint per round costs one materialization JOB per merge; a
    // short lazy mergePair chain re-evaluates cheaply inside the next
    // round's top-pair scan, so the chain is cut every `cutEvery` rounds
    // instead (the previous anchor's blocks stay alive until the next cut
    // materializes — same anchor discipline as PointBag.compact)
    val cutEvery = 4
    var anchor = words
    var chain = 0
    while (rank < numMerges && !done) {
      val top = words
        .select(posexplode(slice(col("syms"), lit(1), size(col("syms")) - 1))
          .as(Seq("i", "l")), col("syms"), col("cnt"))
        .select(col("l"), element_at(col("syms"), col("i") + 2).as("r"), col("cnt"))
        .groupBy("l", "r").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2L) done = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, c))
        val applied = bridge.dropOriginStats(
          words.select(mergePair(col("syms"), l, r).as("syms"), col("cnt")))
        chain += 1
        if (chain >= cutEvery) {
          val cut = bridge.dropOriginStats(applied.localCheckpoint())
          bridge.freeLocalCheckpoint(anchor)
          anchor = cut
          words = cut
          chain = 0
        } else words = applied
        rank += 1
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("rank", "left", "right", "pair_count"), words)
  }

  /** Apply a DRIVER-SIDE merge list (the collected merge table, in rank
    * order) to a fresh corpus as a pure Column pipeline: one `aggregate`
    * fold per merge. REFERENCE formulation only — the nested expression
    * tree grows linearly with the merge count, so past a few hundred
    * merges whole-stage codegen hits JVM method/constant-pool limits and
    * the interpreted fallback walks every word once per merge. Use
    * [[encodeFast]] (bit-identical, single pass) for production
    * vocabularies. */
  def encode(docs: DataFrame, mergeList: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val words = encodeWords(docs, textCol)
    val merged = mergeList.foldLeft(
      filter(split(col("w"), ""), s => length(s) > 0)) {
      case (c, (l, r)) => mergePair(c, l, r)
    }
    words.select(col("doc_id"), col("pos"), merged.as("tokens"))
  }

  private def encodeWords(docs: DataFrame, textCol: String): DataFrame =
    Par.spread(docs)
      .select(col("doc_id"), posexplode(split(trim(col(textCol)), "\\s+"))
        .as(Seq("pos", "w")))
      .where(length(col("w")) > 0)

  /** Single-pass production encoder: ONE `mapPartitions` over the word
    * relation applying the whole broadcast merge table per word with the
    * standard adjacent-pair heap algorithm — O(word_len · log word_len)
    * per word REGARDLESS of vocabulary size, where the Column formulation
    * ([[encode]]) is O(word_len · n_merges). Bit-identical to [[encode]]
    * for DUPLICATE-FREE merge tables — every table a trainer can emit,
    * since merging a pair zeroes its count and adjacency never reappears
    * (BpeSpec fuzzes the parity): entries pop in (rank, position) order and
    * pairs created by a merge are only enqueued at strictly higher ranks,
    * which reproduces exactly the sequential "apply merge 0 left-to-right,
    * then merge 1, …" semantics. A table with a repeated pair would make
    * the two formulations diverge (the fold re-applies it on its second
    * pass; the heap's first-rank-wins cannot), so it is rejected up front.
    *
    * Scale shape: merges are a broadcast-scale artifact (a 32k vocabulary
    * is <1 MB); the corpus is touched in one narrow pass — no shuffle, no
    * driver loop. `doc_id` is normalized to bigint for a stable schema. */
  def encodeFast(docs: DataFrame, mergeList: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(mergeList.distinct.size == mergeList.size,
      "encodeFast: merge table contains duplicate pairs — " +
        "not producible by training; semantics would diverge from encode")
    val ranks = new java.util.HashMap[(String, String), java.lang.Integer]
    mergeList.zipWithIndex.foreach { case (p, i) => ranks.put(p, i) }
    val bc = spark.sparkContext.broadcast(ranks)
    encodeWords(docs, textCol)
      .select(col("doc_id").cast("long"), col("pos").cast("int"), col("w"))
      .as[(Long, Int, String)]
      .mapPartitions { it =>
        val r = bc.value
        // words repeat heavily (occurrences >> vocabulary): memoize the
        // heap merge per DISTINCT word within the partition. Bounded so a
        // pathological vocabulary cannot grow the task heap: past the cap,
        // unseen words compute directly (values identical either way)
        val memo = new java.util.HashMap[String, Array[String]]
        val memoCap = 1 << 20
        it.map { case (id, pos, w) =>
          var t = memo.get(w)
          if (t == null) {
            t = applyRanked(w.split("").filter(_.nonEmpty), r)
            if (memo.size < memoCap) memo.put(w, t)
          }
          (id, pos, t)
        }
      }
      .toDF("doc_id", "pos", "tokens")
  }

  /** The per-word heap merge: doubly-linked symbol list + lazy-deletion
    * priority queue of (rank, leftPos) occurrences. Pops are nondecreasing
    * in rank (new pairs enqueue only at ranks above the current one), and
    * within a rank leftmost-first, so the result equals applying each
    * merge in rank order greedily left-to-right non-overlapping. */
  private[ops] def applyRanked(symsIn: Array[String],
      ranks: java.util.HashMap[(String, String), java.lang.Integer]): Array[String] = {
    val n = symsIn.length
    if (n < 2 || ranks.isEmpty) return symsIn
    val syms = symsIn.clone()
    val next = Array.tabulate(n)(i => if (i == n - 1) -1 else i + 1)
    val prev = Array.tabulate(n)(i => i - 1)
    val alive = Array.fill(n)(true)
    // min-heap on (rank, leftPos)
    val pq = scala.collection.mutable.PriorityQueue.empty[(Int, Int)](
      Ordering.Tuple2[Int, Int].reverse)
    var i = 0
    while (i < n - 1) {
      val rk = ranks.get((syms(i), syms(i + 1)))
      if (rk != null) pq.enqueue((rk.intValue, i))
      i += 1
    }
    while (pq.nonEmpty) {
      val (rk, p) = pq.dequeue()
      if (alive(p)) {
        val q = next(p)
        if (q != -1 && alive(q)) {
          val cur = ranks.get((syms(p), syms(q)))
          // a stale entry whose node pair drifted to a DIFFERENT ranked
          // pair is re-found through that pair's own enqueue; merge only
          // when this entry still describes the live pair
          if (cur != null && cur.intValue == rk) {
            syms(p) = syms(p) + syms(q)
            alive(q) = false
            val nn = next(q)
            next(p) = nn
            if (nn != -1) prev(nn) = p
            val pp = prev(p)
            if (pp != -1) {
              val r2 = ranks.get((syms(pp), syms(p)))
              if (r2 != null && r2.intValue > rk) pq.enqueue((r2.intValue, pp))
            }
            if (nn != -1) {
              val r2 = ranks.get((syms(p), syms(nn)))
              if (r2 != null && r2.intValue > rk) pq.enqueue((r2.intValue, p))
            }
          }
        }
      }
    }
    val out = Array.newBuilder[String]
    var cur = 0 // node 0 is only ever a merge's LEFT side, so always alive
    while (cur != -1) { out += syms(cur); cur = next(cur) }
    out.result()
  }

  /** Driver-side trainer over the COLLECTED word histogram — the path every
    * production BPE trainer takes (the distinct-word histogram of even a
    * 100 TB corpus is millions of rows; the corpus-scale work is the ONE
    * distributed word-count in [[wordSymbols]]). Incremental pair-count
    * maintenance + a lazy-deletion max-heap make the whole run
    * O(total pair updates · log), so thousands of merges train in
    * milliseconds where [[train]] pays a Spark job per round. Identical
    * merge sequence to [[train]] (same counts, same lexicographic
    * tie-break; BpeSpec pins the twin). Use [[train]] when the histogram
    * genuinely cannot fit on the driver. */
  /** UTF-8 byte-lexicographic string order — identical to Spark's binary
    * string comparison (and to code-point order), unlike `String.compareTo`. */
  private[ops] val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
  }

  def trainLocal(docs: DataFrame, textCol: String = "text", numMerges: Int = 50)
      : (DataFrame, DataFrame) = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = wordSymbols(docs, textCol)
      .select(col("syms"), col("cnt")).as[(Seq[String], Long)].collect()
    val (merges, outWords, outCnts) =
      trainLocalHist(hist.map(_._1.toArray), hist.map(_._2), numMerges)
    (merges.toDF("rank", "left", "right", "pair_count"),
      outWords.zip(outCnts).toSeq.map { case (s, c) => (s.toSeq, c) }
        .toDF("syms", "cnt"))
  }

  /** The incremental-heap BPE core over an in-memory word histogram
    * (shared by [[trainLocal]] and [[train]]'s small-histogram path):
    * exact integer pair counts, `(count desc, l, r)` selection with UTF-8
    * byte tie-breaks — bit-identical merge decisions to the distributed
    * loop, at O(merges · touched words) instead of a job per round. */
  private def trainLocalHist(wordsIn: Array[Array[String]], cnts: Array[Long],
      numMerges: Int): (Seq[(Int, String, String, Long)], Array[Array[String]], Array[Long]) = {
    val words = wordsIn.clone()
    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    // max count first, then lexicographically smallest (l, r) — the exact
    // orderBy(c desc, l, r) of the distributed trainer. Spark compares
    // strings as UTF-8 BYTES (= code-point order); Java's Ordering.String
    // compares UTF-16 code units, which disagrees for supplementary
    // characters vs [U+E000, U+FFFF] — so tie-break on UTF-8 bytes.
    val byCountThenPair: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long, utf8Ordering, utf8Ordering)
        .on[(Long, String, String)] { case (c, l, r) => (-c, l, r) }
    val heap = scala.collection.mutable.PriorityQueue
      .empty[(Long, String, String)](byCountThenPair.reverse)

    def addWord(w: Int): Unit = {
      val s = words(w); val c = cnts(w)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val nc = pairCount.getOrElse(p, 0L) + c
        pairCount(p) = nc
        pairWords.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += w
        heap.enqueue((nc, p._1, p._2))
        i += 1
      }
    }
    def removeWord(w: Int): Unit = {
      val s = words(w); val c = cnts(w)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val nc = pairCount(p) - c
        if (nc <= 0L) pairCount.remove(p)
        else {
          pairCount(p) = nc
          // keep a heap entry at the CURRENT count alive: without this a
          // pair whose count only ever decreased would have stale entries
          // exclusively and become unselectable
          heap.enqueue((nc, p._1, p._2))
        }
        i += 1
      }
    }
    def mergeWord(s: Array[String], l: String, r: String): Array[String] = {
      val b = Array.newBuilder[String]
      var last: String = null
      var i = 0
      while (i < s.length) {
        if (last == l && s(i) == r) { last = l + r }
        else { if (last != null) b += last; last = s(i) }
        i += 1
      }
      if (last != null) b += last
      b.result()
    }

    words.indices.foreach(addWord)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // lazy-deletion pop: drop entries whose recorded count is stale
      var top: Option[(Long, String, String)] = None
      while (top.isEmpty && heap.nonEmpty) {
        val e = heap.dequeue()
        if (pairCount.get((e._2, e._3)).contains(e._1)) top = Some(e)
      }
      top match {
        case Some((c, l, r)) if c >= 2L =>
          merges += ((rank, l, r, c))
          val affected = pairWords.get((l, r)).map(_.toArray).getOrElse(Array.empty)
          affected.foreach { w =>
            // stale membership (pair already merged away) is a no-op
            removeWord(w)
            words(w) = mergeWord(words(w), l, r)
            addWord(w)
          }
          rank += 1
        case _ => done = true
      }
    }
    (merges.toSeq, words, cnts)
  }

  /** The corpus's base-symbol alphabet: distinct non-whitespace characters
    * (the id-0..k prefix of [[vocab]]). One small distinct aggregation. */
  def corpusChars(docs: DataFrame, textCol: String = "text"): Seq[String] =
    Par.spread(docs)
      .select(explode(filter(split(regexp_replace(col(textCol), "\\s+", ""), ""),
        s => length(s) > 0)).as("c"))
      .distinct().collect().map(_.getString(0)).toSeq

  /** Token-id vocabulary for a trained merge table: base symbols (sorted)
    * take ids 0..k-1, merge OUTPUTS take k..k+n_merges-1 in rank order —
    * so |vocab| = |alphabet| + |merges| exactly. A merge output that
    * duplicates an earlier string (two merge paths producing the same
    * symbol — possible, rare) keeps both ids; the encoder emits the later
    * one and decode stays exact. */
  def vocab(baseChars: Seq[String], mergeList: Seq[(String, String)]): Seq[(String, Int)] =
    (baseChars.distinct.sorted ++ mergeList.map { case (l, r) => l + r }).zipWithIndex

  /** [[encodeFast]] + broadcast vocab lookup: `(doc_id, pos, ids)` — the
    * training-ready integer form. Tokens outside the vocabulary map to
    * `unkId` (impossible when the vocab was built from this corpus's own
    * alphabet, since merges only ever concatenate known symbols). */
  def encodeToIds(docs: DataFrame, mergeList: Seq[(String, String)],
      vocabulary: Seq[(String, Int)], textCol: String = "text",
      unkId: Int = -1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocabulary.toMap)
    encodeFast(docs, mergeList, textCol)
      .as[(Long, Int, Seq[String])]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, pos, toks) =>
          (id, pos, toks.map(t => m.getOrElse(t, unkId)))
        }
      }
      .toDF("doc_id", "pos", "ids")
  }

  /** Persist a trained tokenizer: the ordered merge table and the id
    * vocabulary, as two plain parquet relations — the artifact a training
    * run ships alongside its data (rank order and ids are explicit columns,
    * so the load is layout-independent). */
  def saveTokenizer(spark: org.apache.spark.sql.SparkSession, dir: String,
      mergeList: Seq[(String, String)], vocabulary: Seq[(String, Int)]): Unit = {
    import spark.implicits._
    mergeList.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "l", "r").write.mode("overwrite").parquet(s"$dir/merges")
    vocabulary.toDF("token", "id")
      .write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** Reload a saved tokenizer: `(mergeList in rank order, vocabulary in id
    * order)` — encode/decode with the loaded pair is bit-identical to the
    * fresh one. Both relations' schemas are fixed by [[saveTokenizer]], so
    * they are read with them (no footer-inference job) in ONE union scan,
    * and the few thousand rows are ordered on the driver, not by a
    * distributed sort. */
  def loadTokenizer(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[(String, String)], Seq[(String, Int)]) = {
    val ms = spark.read.schema("rank INT, l STRING, r STRING").parquet(s"$dir/merges")
      .select(lit(true), col("rank"), col("l"), col("r"))
    val voc = spark.read.schema("token STRING, id INT").parquet(s"$dir/vocab")
      .select(lit(false), col("id"), col("token"), lit(null).cast("string"))
    val (mrows, vrows) = ms.union(voc).collect().partition(_.getBoolean(0))
    (mrows.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getString(3))).toSeq,
      vrows.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getInt(1))).toSeq)
  }
}
