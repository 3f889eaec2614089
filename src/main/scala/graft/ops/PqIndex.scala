package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ vector index — the production composition of
  * [[AnnIndex]] (coarse cells → planning-time partition pruning) and
  * [[Pq]] (codes → a 32×-smaller scan): the classic large-scale ANN layout.
  *
  * On disk: coarse centroids + PQ codebooks as droplet-sized relations, and
  * the CODE table (did, code, est_norm) Hive-partitioned by coarse cell.
  * A probe therefore reads `nprobe/nlist` of a table that is already m
  * bytes per vector — at 100 TB of raw embeddings, a probe of an 8-byte
  * 64-cell index touches ~1/32 × nprobe/64 of the original bytes, with the
  * pruning visible in the plan (`PartitionFilters`, spec-asserted).
  * Scoring is [[Pq.adcTopK]]'s ADC with optional exact rerank against the
  * raw corpus (which stays wherever it lives — the index never duplicates
  * vectors).
  *
  * Both quantizers are deterministic (lowest-id Lloyd init), so
  * build → save → load → probe reproduces the in-memory probe exactly.
  */
object PqIndex {

  /** An IVF-PQ index: coarse centroids, PQ codebooks, and the cell-tagged
    * code relation `(did, code, est_norm, cell)`. */
  case class IvfPq(coarse: Array[(Int, Seq[Double])], cb: Pq.Codebooks,
      codes: DataFrame)

  /** ONE narrow pass producing `(did, code, est_norm, cell)` — PQ codes
    * and the coarse-cell assignment are per-row projections of the same
    * input row, so materializing them together avoids a second corpus
    * scan and a corpus-wide join on did. */
  private[graft] def encodeWithCell(cb: Pq.Codebooks,
      coarse: Array[(Int, Seq[Double])], vecs: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    Par.spread(vecs)
      .select(col(idCol).as("did"), col(vecCol).as("__v"),
        Pq.codeExpr(cb, col(vecCol)).as("code"))
      .withColumn("est_norm", Pq.estNormExpr(cb))
      .withColumn("cell",
        graft.lib.KMeans.nearestCentroids(coarse, col("__v"), 1)(0))
      .drop("__v")

  /** Train coarse + product quantizers and encode the corpus. `trainCap`
    * (0 = auto) caps BOTH quantizers' training sets via a deterministic
    * id-hash sample; encoding always covers the full corpus. */
  def build(corpus: DataFrame, nlist: Int = 8, m: Int = 8, ksub: Int = 16,
      maxIter: Int = 10, idCol: String = "vec_id",
      vecCol: String = "embedding", trainCap: Long = 0): IvfPq = {
    // FUSED local training (r15, guide §1.2/§2.4): both quantizers train on
    // the SAME rows, but KMeans.centroids + Pq.train each ran their own
    // spread→project→persist→count→(dim probe)→sort→collect pipeline — two
    // full preparation passes for one training set. When a cheap
    // planning-time size estimate says the corpus is local-sized, prepare
    // ONCE and run both LOCAL Lloyd paths over the one collected array —
    // bit-identical to the separate local paths (same projection, same id
    // order, same lloydLocal), ~half the training jobs. Estimate-huge (the
    // 100-TB case) or over-cap corpora fall through to the existing
    // independent paths, which sample per-quantizer.
    val d = corpus.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val capCoarse = if (trainCap > 0) trainCap else math.max(256L * nlist, 65536L)
    val capPq = if (trainCap > 0) trainCap else math.max(256L * ksub, 65536L)
    val est = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    // when the estimate says local-sized but the n0/cell-budget guard
    // disagrees, the probe's persisted projection is LEFT CACHED through
    // the fall-through trainers — both build the bit-identical projection
    // internally (same Par.spread+select plan, so the CacheManager serves
    // it from this cache) — instead of being discarded, which made the
    // fall-through pay a third full preparation pass (r16, ADVICE r15)
    var probed: Option[DataFrame] = None
    val localFit: Option[(Array[(Int, Seq[Double])], Pq.Codebooks)] =
      if (est < BigInt(256) * 1024 * 1024) {
        val pts0 = Par.spread(corpus).select(col(idCol).as("id"),
          transform(col(vecCol), _.cast("double")).as("v")).persist()
        val n0 = pts0.count()
        if (n0 <= math.min(capCoarse, capPq) && n0 <= 65536L &&
            n0 * d <= graft.lib.KMeans.defaultLocalCellBudget) {
          val sorted = pts0.orderBy("id").collect().map(_.getSeq[Double](1))
          pts0.unpersist()
          val co = graft.lib.KMeans.lloydLocal(sorted, nlist, maxIter)
          val dsub = d / m
          val books = Array.tabulate(m) { s =>
            graft.lib.KMeans.lloydLocal(
              sorted.map(_.slice(s * dsub, s * dsub + dsub)), ksub, maxIter)
          }
          Some((co, Pq.Codebooks(m, dsub, books)))
        } else { probed = Some(pts0); None }
      } else None
    val (coarse, cb) =
      try localFit.getOrElse {
        (graft.lib.KMeans.centroids(corpus, nlist, maxIter, idCol, vecCol,
          trainCap = trainCap),
          Pq.train(corpus, m, ksub, maxIter, idCol, vecCol, trainCap = trainCap))
      } finally probed.foreach(_.unpersist())
    IvfPq(coarse, cb, encodeWithCell(cb, coarse, corpus, idCol, vecCol))
  }

  /** Persist: BOTH quantizers in one flat relation (`s = -1` rows are the
    * coarse centroids, `s >= 0` rows subquantizer `s` — one write + one
    * read-collect round trip instead of two of each; r15), codes
    * PARTITIONED BY CELL. */
  def save(idx: IvfPq, dir: String): Unit = {
    val spark = idx.codes.sparkSession
    import spark.implicits._
    IvfCore.clearRecord(spark, dir)
    val coarseRows = idx.coarse.toSeq.flatMap { case (cid, v) =>
      v.zipWithIndex.map { case (x, i) => (-1, cid, i, x) } }
    val bookRows = idx.cb.books.zipWithIndex.toSeq.flatMap { case (book, s) =>
      book.toSeq.flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (x, i) => (s, cid, i, x) } } }
    (coarseRows ++ bookRows).toDF("s", "cid", "dim", "x")
      .coalesce(1) // droplet-sized relation: one file, one commit
      .write.mode("overwrite").parquet(s"$dir/quant")
    // clustered by cell (same rationale as AnnIndex.save): one file per
    // cell per write task, not the tasks × cells fan-out
    idx.codes.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/codes")
    IvfCore.writeRecord(spark, dir, "codes", idx.codes.schema)
  }

  /** Extend a SAVED index in place: encode the batch with the saved
    * (immutable) quantizers and APPEND the code rows — only the touched
    * cell partitions gain files, nothing is re-read or rewritten (the
    * [[AnnIndex.appendSaved]] ingest shape on the compressed relation).
    * Batch ids take the index's stored id type (a lossless widening is
    * cast; anything else fails before a file is written). */
  def appendSaved(spark: SparkSession, dir: String, newVecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val idx = load(spark, dir)
    IvfCore.conformIds(encodeWithCell(idx.cb, idx.coarse, newVecs, idCol, vecCol),
        idx.codes.schema("did").dataType, dir)
      .repartition(col("cell")) // one appended file per touched cell/task
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** Tombstone vectors in a SAVED index: ids append to a `deleted`
    * relation that [[load]] anti-joins away (broadcast) — no code file is
    * rewritten; probes exclude the ids immediately. */
  def deleteSaved(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    IvfCore.deleteIds(spark, dir, ids)

  /** Reload a saved index: one scan of the quantizer relation; the code
    * table is read with its recorded schema (inferred for an index saved
    * without one), tombstones anti-joined away. */
  def load(spark: SparkSession, dir: String): IvfPq = {
    // explicit failure for the pre-r15 two-relation layout (coarse/ +
    // books/) instead of an opaque path-not-found (ADVICE r15)
    if (!IvfCore.exists(spark, s"$dir/quant") && IvfCore.exists(spark, s"$dir/coarse"))
      throw new IllegalStateException(
        s"unsupported legacy IVF-PQ index layout at $dir (pre-r15 coarse/+" +
          "books/ relations); rebuild and re-save the index")
    val quant = IvfCore.readQuantizers(spark, s"$dir/quant", subspaced = true)
    val codes = IvfCore.readTable(spark, dir, "codes")
      .select(col("did"), col("code"), col("est_norm"),
        col("cell").cast("int").as("cell"))
    IvfPq(quant(-1), Pq.codebooksOf(quant.removed(-1)), IvfCore.live(spark, dir, codes))
  }

  /** ADC top-k over the probed cells only: each query's `nprobe` nearest
    * coarse cells resolve up front (the probe-cell union is ≤
    * nprobe×|queries| ints), so a LOADED index scans only the matching
    * cell partitions — planning-time `PartitionFilters`, the q171
    * property, on a code table 32× smaller than the vectors. */
  def probe(idx: IvfPq, queries: DataFrame, k: Int = 10, nprobe: Int = 2,
      rerankWith: Option[DataFrame] = None, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the probe cells ride WITH each query row (per-query candidate sets,
    // the IVF semantic): one select computes the LUT side and explodes the
    // cells, duplicating only the droplet-sized query side
    val q = Pq.querySide(idx.cb, queries, idCol, vecCol,
      explode(graft.lib.KMeans.nearestCentroids(idx.coarse, col(vecCol),
        nprobe)).as("cell"))
    val scored = IvfCore.probeJoin(q, idx.codes)
      .select(col("qid"), col("qv"), col("did"), Pq.adcSim.as("sim"))
      .where(!isnan(col("sim")))
    Pq.rankAndRerank(scored, k, rerankWith, rerankFactor, idCol, vecCol)
  }
}
