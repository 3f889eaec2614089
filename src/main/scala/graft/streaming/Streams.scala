package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming surface of the engine.
  *
  * The reference's streaming story is the experimental Labyrinth backend
  * (emma-mitos LabyrinthCompiler.scala — same bag operators compiled to a
  * streaming runtime: map/flatMap/filter/fold/foldGroup/join). The
  * Spark-native re-expression is Structured Streaming: the same DataFrame
  * transformations run incrementally, with watermarks bounding state.
  *
  * Scale design: every operator here keeps state bounded — watermarks expire
  * window/session/dedup state, and the keyed-state operator uses event-time
  * timeouts — so a 1000-executor job over an unbounded stream holds only
  * (active keys × state size), never the history.
  */
object Streams {

  // ------------------------------------------------------------- sources

  /** File-drop streaming source (exactly the batch reader, incremental). */
  def readParquetStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  def readCsvStream(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.readStream.schema(schema).option("header", header.toString).csv(path)

  /** File-drop stream over a parquet path that may be a single FILE: the
    * streaming file source lists directories only, so a file is exposed
    * through a symlink inside a fresh temp directory (absolute target —
    * symlinks resolve against the link's parent, not the CWD). Schema is
    * taken from a batch read of the same path. */
  def parquetFileStream(spark: SparkSession, path: String): DataFrame = {
    val p = java.nio.file.Paths.get(path).toAbsolutePath
    val schema = spark.read.parquet(path).schema
    val dir =
      if (java.nio.file.Files.isDirectory(p)) p
      else {
        // one FIXED symlink dir per source file (idempotent): fresh temp
        // dirs accumulated one per call across benchmark reps and rounds.
        // Keyed by the full path's SHA-256 — a 32-bit hash could land two
        // DIFFERENT files in one directory, and the file-stream source
        // reads the whole dir. Concurrent first calls race on the link
        // creation; the loser's FileAlreadyExists is benign (same target).
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val key = md.digest(p.toString.getBytes("UTF-8"))
          .take(16).map("%02x".format(_)).mkString
        val d = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), s"graft_stream_src_$key")
        java.nio.file.Files.createDirectories(d)
        val link = d.resolve(p.getFileName)
        if (!java.nio.file.Files.exists(link,
            java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          try java.nio.file.Files.createSymbolicLink(link, p)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        }
        d
      }
    readParquetStream(spark, dir.toString, schema)
  }

  // --------------------------------------------------- windowed aggregation

  /** Tumbling-window count+sum per key with a watermark bounding state. */
  def tumblingAgg(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol), col("cnt"), col("sum_value"))

  /** Sliding-window variant (windowLen, slide). */
  def slidingAgg(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowLen: String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol), col("cnt"), col("sum_value"))

  /** Session windows with an inactivity gap (native session_window — state
    * merges adjacent events server-side, no custom state function needed). */
  def sessionAgg(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col(keyCol), col("n_events"))

  // ------------------------------------------------------- streaming dedup

  /** Exact streaming dedup on a key expression; watermark expires seen-keys
    * state (the streaming twin of Dedup.exactGroups). */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  // ------------------------------------------------------- streaming joins

  /** Stream-static enrichment: the dimension is broadcast, so every
    * micro-batch joins map-side with no stateful join state at all. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left_outer")

  /** Stream-stream inner join on a key within a ± time bound. Both sides are
    * watermarked so join state is purged once the bound can no longer be
    * satisfied — state is O(events inside the watermark window), not
    * O(stream). The right side's key/timestamp columns are renamed to
    * `<leftKey>_r` / `<tsLeft>_r` in the output, so naturally-named inputs
    * (both sides "k"/"ts") just work. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, tsLeft: String, tsRight: String,
      watermark: String, boundSeconds: Long): DataFrame = {
    val rk = s"${leftKey}_r"
    val rts = s"${tsLeft}_r"
    val l = left.withWatermark(tsLeft, watermark)
    val r = right
      .withColumnRenamed(rightKey, rk)
      .withColumnRenamed(tsRight, rts)
      .withWatermark(rts, watermark)
    val bound = expr(s"INTERVAL $boundSeconds SECONDS")
    l.join(r, col(leftKey) === col(rk) &&
      col(rts) >= col(tsLeft) - bound &&
      col(rts) <= col(tsLeft) + bound)
  }

  // --------------------------------------------------- custom keyed state

  case class KeyedEvent(key: String, ts: java.sql.Timestamp, value: Double)
  case class RunningState(n: Long, total: Double)
  case class RunningOut(key: String, n: Long, total: Double, mean: Double)

  /** Per-key running aggregate via mapGroupsWithState — the streaming
    * analogue of MutableBag.update (keyed mutable state with point updates;
    * reference api/MutableBag.scala:26-44). ProcessingTimeTimeout-free:
    * state lives for the life of the query; with event-time watermarking the
    * caller can switch to EventTimeTimeout to expire idle keys. */
  def runningAgg(events: Dataset[KeyedEvent]): Dataset[RunningOut] = {
    implicit val stateEnc: Encoder[RunningState] = Encoders.product[RunningState]
    implicit val outEnc: Encoder[RunningOut] = Encoders.product[RunningOut]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    events
      .groupByKey(_.key)
      .mapGroupsWithState[RunningState, RunningOut](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[KeyedEvent], state: GroupState[RunningState]) =>
          val prev = state.getOption.getOrElse(RunningState(0L, 0.0))
          val batch = rows.toSeq
          val next = RunningState(prev.n + batch.size, prev.total + batch.map(_.value).sum)
          state.update(next)
          RunningOut(key, next.n, next.total, if (next.n == 0) 0.0 else next.total / next.n)
      }
  }

  case class SessionEvent(key: String, ts: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionOut(key: String, s_start: java.sql.Timestamp,
      s_end: java.sql.Timestamp, n_events: Long)

  case class SessionListState(sessions: Seq[SessionState])

  /** Custom sessionizer via flatMapGroupsWithState with an EVENT-TIME
    * timeout — true `session_window` Append semantics: state holds EVERY
    * still-open island per key (out-of-order events above the watermark may
    * extend a session downward, bridge two islands into one, or open an
    * earlier separate island), and a session is emitted exactly once, only
    * after the watermark passes its end+gap. This is the fully-custom-state
    * alternative to [[sessionAgg]]'s native session_window — use it when
    * session logic goes beyond gap merging (e.g. cart-abandonment rules,
    * per-session caps). */
  def sessionizeCustom(events: Dataset[SessionEvent], gapMs: Long,
      watermark: String): Dataset[SessionOut] = {
    implicit val stateEnc: Encoder[SessionListState] = Encoders.product[SessionListState]
    implicit val outEnc: Encoder[SessionOut] = Encoders.product[SessionOut]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionListState, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[SessionEvent], state: GroupState[SessionListState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          val items = (prior ++ rows.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1)))
            .sortBy(s => (s.start, s.last))
          // gaps-and-islands over open sessions + new points: adjacent items
          // within the gap merge (n is additive — islands carry their counts)
          val merged = scala.collection.mutable.ArrayBuffer.empty[SessionState]
          items.foreach { s =>
            merged.lastOption match {
              case Some(p) if s.start - p.last <= gapMs =>
                merged(merged.length - 1) =
                  SessionState(p.start, math.max(p.last, s.last), p.n + s.n)
              case _ => merged += s
            }
          }
          // only watermark-expired islands are final; the rest stay open
          // (a straggler above the watermark could still extend or bridge)
          val (done, open) = merged.partition(s => s.last + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionListState(open.toSeq))
            // every open island has last+gap > wm, so the timeout is valid
            state.setTimeoutTimestamp(open.map(_.last).min + gapMs)
          }
          done.iterator.map(s => SessionOut(key,
            new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last + gapMs), s.n))
      }
  }

  // ----------------------------------------------------------------- sinks

  /** Standard sink wiring: parquet out with checkpointing (exactly-once). */
  def writeParquetStream(df: DataFrame, path: String, checkpoint: String,
      outputMode: OutputMode = OutputMode.Append()) =
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", path)

  /** Drain a streaming aggregation over already-present input to completion
    * (`Trigger.AvailableNow` — process everything, then stop) and return the
    * final Complete-mode result as a batch DataFrame. This is the
    * batch-equivalence bridge: the same plan that runs open-ended in
    * production can be pinned against a batch oracle in tests/gates. */
  def runToCompletion(agg: DataFrame, queryName: String,
      mode: OutputMode = OutputMode.Complete(),
      statePartitions: Option[Int] = None,
      appendConf: Map[String, String] = Map.empty): DataFrame = {
    // A stateful query materializes one state store per shuffle partition
    // per stateful operator PER MICRO-BATCH; for bounded drains the batch
    // session's partition count is usually oversized — `statePartitions`
    // right-sizes it for this query. `appendConf` comma-appends to comma-list
    // confs (e.g. optimizer.excludedRules). Both go on a per-call clone (`bridge.isolated`).
    val sess = agg.sparkSession
    val overrides = statePartitions.map("spark.sql.shuffle.partitions" -> _.toString).toMap ++
      appendConf.map { case (k, v) =>
        k -> (sess.conf.getOption(k).filter(_.nonEmpty).map(_ + ",").getOrElse("") + v) }
    val drain = bridge.isolated(agg, overrides)
    val clone = drain.sparkSession
    bridge.withCallerStreamListeners(sess, clone) {
      drain.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(queryName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      // table() binds the sink's relation at analysis, so the clone's view
      // can go at once; the result is rebound to the caller's session
      val out = clone.table(queryName)
      clone.catalog.dropTempView(queryName)
      bridge.ofRows(sess, bridge.logicalPlan(out))
    }
  }

  /** Incrementally maintain a per-key LATEST-row table over a stream — the
    * `foreachBatch` + MERGE production pattern (a serving table fed by a
    * change stream), expressed engine-natively. Each micro-batch collapses
    * to its per-key latest row (greatest `orderCols`, compared
    * lexicographically), then argmax-merges into the running state.
    *
    * Because the merge keeps the per-key MAXIMUM of (state ∪ batch), the
    * final table is invariant to how the stream was split into batches —
    * that's what makes it gateable against the batch "latest row per key"
    * query, and what makes the production version safe under reprocessing
    * (idempotent for any batch boundaries, including replays).
    *
    * `orderCols` must totally order rows within a key (append a unique
    * tiebreaker) or the kept row is nondeterministic. Drains with
    * `Trigger.AvailableNow` and returns the final state as a batch frame.
    *
    * Scale: state is one row per key; each batch costs one shuffle of
    * (batch ∪ state) on the key columns. For truly large key spaces the
    * state side should live in a keyed store (the state-store variant is
    * [[runningAgg]]'s mapGroupsWithState); this formulation is the
    * relational twin that any sink (parquet, JDBC, Delta-style MERGE)
    * can consume per batch.
    */
  def latestStateUpsert(stream: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && orderCols.nonEmpty,
      "latestStateUpsert needs key and ordering columns")
    import org.apache.spark.sql.expressions.Window
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(orderCols.map(c => col(c).desc): _*)
      df.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }
    var state: DataFrame = null
    drainEach(stream) { batch =>
      val merged = latest(if (state == null) batch else state.unionByName(batch))
        .localCheckpoint()
      if (state != null) bridge.freeLocalCheckpoint(state)
      state = merged
    }
    if (state != null) state
    else // zero micro-batches: an empty frame with the STREAM's schema
      stream.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), stream.schema)
  }

  /** Streaming incremental near-dup probe — dedup on INGEST: each arriving
    * document probes the corpus's static, persisted LSH band index
    * ([[graft.ops.Dedup.lshBands]]), exactly like the batch
    * [[graft.ops.Curation.incrementalNearDups]] but incremental. Returns
    * `(new_id, corpus_id, jaccard)` pairs ≥ `minJaccard`, drained via
    * Trigger.AvailableNow (semantics are batch-identical — gated against
    * the batch oracle).
    *
    * Shape: the stream side stays NARROW until the index join — shingle
    * hashes, minhash signature (fused native expression), and band keys are
    * per-row column computations; candidates come from a stream-static
    * equi-join on the uniform band key; verification explodes the NEW doc's
    * shingle array only for candidate pairs and joins the static corpus
    * shingle relation. ONE stateful aggregation keyed by
    * (pair, band, |A|) counts the intersection; the final per-pair
    * reduction and Jaccard arithmetic happen on the drained (tiny) result.
    * Corpus text is touched only for docs in hit buckets — at 100 TB the
    * static sides are pre-bucketed relations, and per-batch cost tracks the
    * batch. */
  def incrementalDedupProbe(newDocs: DataFrame, corpusSh: DataFrame,
      corpusIndex: DataFrame, textCol: String = "text",
      bands: Int = 4, rowsPerBand: Int = 2, shingleN: Int = 3,
      minJaccard: Double = 0.5,
      // unique per call: a fixed name would collide (active-query registry +
      // shared memory-sink temp view) when two probes run on one session
      queryName: String = s"graft_dedup_probe_${java.util.UUID.randomUUID().toString.take(8)}",
      statePartitions: Option[Int] = Some(8),
      fanout: Int = -1): DataFrame = {
    import graft.ops.Dedup
    val numHashes = bands * rowsPerBand
    // a micro-batch arrives with the SOURCE's partitioning — often one file,
    // ONE partition — and the shingle+minhash projection is the expensive
    // stage: spread the batch across the executor cores first (default
    // `fanout = -1` → defaultParallelism; 0 keeps the source partitioning
    // for already-wide ingest). Measured 4.3 s → sub-second addBatch on the
    // q151 shape at sf0.1 (single 2 MB file, 32 cores).
    val spread =
      if (fanout == 0) newDocs
      else newDocs.repartition(
        if (fanout > 0) fanout
        else newDocs.sparkSession.sparkContext.defaultParallelism)
    // per-row: distinct hashed shingles + signature + band rows, all in ONE
    // projection chain — band keys come from a posexplode over an array of
    // per-band keys, so the (expensive) shingle+minhash expressions are
    // evaluated once per row via subexpression elimination; a per-band
    // UNION would re-run them once per branch (no CSE across union arms)
    val bandRows = spread
      .where(size(split(trim(col(textCol)), "\\s+")) >= shingleN)
      .select(col("doc_id").as("id1"),
        array_distinct(transform(Dedup.shingleArray(col(textCol), shingleN),
          s => xxhash64(s))).as("sh1"),
        graft.functions.Native.minhashSig(
          Dedup.shingleArray(col(textCol), shingleN), numHashes).as("__sig"))
      .select(col("id1"), col("sh1"),
        posexplode(array((0 until bands).map { b =>
          concat_ws("|", (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => element_at(col("__sig"), i + 1)): _*)
        }: _*)).as(Seq("band_id", "band_key")))
    // Stream-static joins run with AQE DISABLED, and checkpointed static
    // frames carry no size statistics — left alone the planner sort-merge
    // joins the STREAM side against them every micro-batch. Decide the
    // broadcast at query-BUILD time from actual row counts (the manual twin
    // of AQE's runtime join re-plan; the caller's static sides are already
    // materialized, so each count is one cheap job, once per query — not
    // per batch): a static side broadcasts when its rows times Spark's
    // per-row estimate fit the session's broadcast threshold (`bridge.fits`;
    // at `-1` none does and nothing is counted). Above it the shuffle path
    // stays: at production scale the index/shingle relations are
    // pre-bucketed and exceed any broadcastable size.
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (bridge.fits(df.sparkSession, BigInt(df.count()) * bridge.rowBytes(df))) broadcast(df)
      else df
    val idxSide = maybeBroadcast(corpusIndex.withColumnsRenamed(Map("doc_id" -> "id2")))
    val shSide = maybeBroadcast(corpusSh.withColumnsRenamed(Map("doc_id" -> "id2")))
    // stream-static candidate join on the uniform band key, then verify:
    // explode the new doc's shingles, match the static corpus shingles of
    // the candidate, count per (pair, band) — each matching band carries the
    // full shingle set once, so every band's count is the intersection size
    val cands = bandRows.join(idxSide, Seq("band_id", "band_key"))
    val inter = cands
      .select(col("id1"), col("id2"), col("band_id"),
        size(col("sh1")).as("n1"), explode(col("sh1")).as("shingle"))
      .join(shSide, Seq("id2", "shingle"))
      .groupBy("id1", "id2", "band_id", "n1").agg(count(lit(1)).as("c"))
    // InferFiltersFromGenerate turns `explode(sh1)` into an inferred
    // `size(sh1) > 0` filter; predicate pushdown then SUBSTITUTES the whole
    // shingle+minhash expression tree into it and lands it below the
    // fan-out exchange — the per-batch signature computation runs TWICE,
    // interpreted (higher-order functions don't codegen), inside the single
    // source task (measured: 2.3 s of the 4 s batch at sf0.1). The query's
    // own length guard already excludes empty shingle sets, so the inferred
    // filter is pure waste — exclude the rule for this drain only.
    val drained = runToCompletion(inter, queryName,
      statePartitions = statePartitions,
      appendConf = Map("spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
    // batch post-processing of the drained candidate stats: collapse bands
    // (every band reports the same intersection), attach |B|, Jaccard
    val cnt2 = corpusSh.groupBy(col("doc_id").as("id2")).agg(count(lit(1)).as("n2"))
    drained.groupBy("id1", "id2", "n1").agg(max("c").as("c"))
      .join(cnt2, "id2")
      .select(col("id1").as("new_id"), col("id2").as("corpus_id"),
        graft.ops.Portable.round(col("c").cast("double") /
          (col("n1") + col("n2") - col("c")).cast("double"), 6).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  // --------------------------------------------- statistics over ingest

  /** Accumulate the exact-integer PCA moment monoid over a file STREAM —
    * statistics-over-ingest: each micro-batch contributes one O(d²) integer
    * partial ([[graft.ops.Pca.moments]] on the batch), merged with the same
    * overflow-checked `merge` the batch treeAggregate uses. The accumulator
    * is exactly associative and commutative, so the final moments are
    * BIT-IDENTICAL to a single batch pass regardless of how the stream was
    * split into micro-batches — the q128 additive-merge property, lifted to
    * second moments. Returns None for an empty stream. */
  def streamMoments(stream: DataFrame, vecCol: String = "embedding",
      unit: Double = 1e6): Option[graft.ops.Pca.Moments] = {
    val acc = new java.util.concurrent.atomic.AtomicReference[Option[graft.ops.Pca.Moments]](None)
    drainEach(stream) { batch =>
      if (!batch.isEmpty) {
        val m = graft.ops.Pca.moments(batch, vecCol, unit)
        acc.updateAndGet(o => Some(o.map(_.merge(m)).getOrElse(m)))
      }
    }
    acc.get()
  }

  /** Maintain the filter-cascade removal report over a file STREAM — the
    * curation dashboard on ingest. Each micro-batch contributes one K-row
    * [[graft.ops.Filters.filterReport]] aggregation; label counts form a
    * commutative monoid under addition, so the drained report is exactly
    * the single-pass batch report on the full corpus no matter how ingest
    * was micro-batched. Only K (label, count) scalars ever reach the
    * driver per batch. */
  def streamFilterReport(stream: DataFrame,
      filters: Seq[(String, org.apache.spark.sql.Column)]): Map[String, Long] = {
    val acc = scala.collection.mutable.Map.empty[String, Long]
    drainEach(stream) { batch =>
      if (!batch.isEmpty) {
        val part = graft.ops.Filters.filterReport(batch, filters).collect()
        acc.synchronized {
          part.foreach(r =>
            acc.update(r.getString(0), acc.getOrElse(r.getString(0), 0L) + r.getLong(1)))
        }
      }
    }
    acc.synchronized(acc.toMap)
  }

  /** Maintain a per-document signal store over a document UPDATE stream —
    * the streaming face of the q200 incremental-maintenance shape. Each
    * micro-batch scores its OWN documents (`signals` must keep the
    * store's key column) and upserts them into the bucket-pruned
    * [[graft.ops.StateStore]]; rows flagged in `deleteCol` tombstone
    * their key. Per batch the work is O(batch + touched buckets) — never
    * a corpus rescan — so signal freshness costs churn, not corpus. The
    * drained store equals a batch recompute over the final per-document
    * state regardless of micro-batching: a key's updates apply in stream
    * order (within one batch a key appears at most once, by the same
    * unique-key delta contract StateStore.upsert itself carries). */
  def streamSignalMaintenance(stream: DataFrame, storePath: String,
      deleteCol: String)(signals: DataFrame => DataFrame): Unit = {
    val keyCol = graft.ops.StateStore.meta(stream.sparkSession, storePath).keyCol
    drainEach(stream) { df =>
      // no pre-checkpoint and no isEmpty probe: the batch frame is a static
      // relation over this trigger's files, reused by the two branches
      // below (a double scan of a micro-batch is cheaper than the
      // materializing job), and an empty batch short-circuits inside upsert
      // after its one collect — per batch the whole maintenance costs ONE
      // job, the collect of the scored batch (its rows give the touched
      // buckets and replaced keys), while the touched buckets fit the
      // broadcast threshold and are merged and written on the driver; above
      // it the merged write is a second job (see StateStore.upsert)
      val delFlag = coalesce(col(deleteCol), lit(false))
      // tombstones are framework-derived from the batch itself — they must
      // NOT route through the user's `signals` transform (a scorer that
      // skips empty/deleted docs would silently drop the delete); `signals`
      // only ever sees live rows and must keep the key column
      val scored = signals(df.where(!delFlag))
        .withColumn(deleteCol, lit(false))
      val sigCols = scored.columns.filter(c => c != keyCol && c != deleteCol)
      val tombs = df.where(delFlag).select(
        col(keyCol) +:
          sigCols.map(c =>
            lit(null).cast(scored.schema(c).dataType).as(c)) :+
          lit(true).as(deleteCol): _*)
      graft.ops.StateStore.upsert(df.sparkSession, storePath,
        scored.unionByName(tombs), Some(deleteCol))
    }
  }

  /** Maintain an in-flight [[graft.api.PointBag]] from a stream of keyed
    * deltas: each micro-batch routes through [[graft.api.PointBag.updateBag]]
    * — small batches become driver-routed point rounds over only their
    * touched partitions, large ones zip-partition merges where the state
    * never shuffles — composing the round-10 distributed-delta machinery
    * with Structured Streaming (the streaming twin of the at-rest
    * [[streamSignalMaintenance]]). The merge `f` must be order-insensitive
    * across batches (same contract as any stream aggregation replay). */
  def streamPointBagMaintenance[K, V, M](stream: DataFrame,
      pb: graft.api.PointBag[K, V],
      toDelta: DataFrame => Dataset[(K, M)])(
      f: (K, Option[V], M) => Option[V]): Unit = {
    drainEach(stream) { batch =>
      // no isEmpty pre-check: updateBag's bounded collect IS the emptiness
      // check (an empty collect applies nothing), so each micro-batch costs
      // exactly one job — the collect — until the state is next read
      pb.updateBag(graft.api.DataBag.from(toDelta(batch)))(f)
    }
  }

  /** Drain `stream` to its end (`Trigger.AvailableNow`), running `perBatch`
    * on each micro-batch: the one `foreachBatch` drain of the maintainers
    * above. */
  private def drainEach(stream: DataFrame)(perBatch: DataFrame => Unit): Unit =
    stream.writeStream
      .foreachBatch((batch: DataFrame, _: Long) => perBatch(batch))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
