package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ vector index: the [[IvfCore.Lifecycle]] payload whose table
  * `codes` holds each corpus vector as its [[Pq]] code — coarse cells give
  * planning-time partition pruning, codes a 32×-smaller scan: the classic
  * large-scale ANN layout. A probe of an 8-byte 64-cell index touches
  * ~1/32 × nprobe/64 of the raw embedding bytes, with the pruning visible
  * in the plan (`PartitionFilters`, spec-asserted). Scoring is
  * [[Pq.adcTopK]]'s ADC with optional exact rerank against the raw corpus
  * (which stays wherever it lives — the index never duplicates vectors).
  *
  * Both quantizers are deterministic (lowest-id Lloyd init), so
  * build → save → load → probe reproduces the in-memory probe exactly.
  */
object PqIndex extends IvfCore.Lifecycle {

  /** An IVF-PQ index: coarse centroids, PQ codebooks, and the cell-tagged
    * code relation `(did, code, est_norm, cell)`. */
  case class IvfPq(coarse: Array[(Int, Seq[Double])], cb: Pq.Codebooks,
      codes: DataFrame)

  type Index = IvfPq
  private[ops] val table = "codes"

  private[ops] def quantizers(idx: IvfPq): IvfCore.Quantizers =
    Pq.quantizersOf(idx.cb) + (-1 -> idx.coarse)
  private[ops] def rows(idx: IvfPq): DataFrame = idx.codes
  private[ops] def index(quant: IvfCore.Quantizers, rows: DataFrame): IvfPq =
    IvfPq(quant(-1), Pq.codebooksOf(quant.removed(-1)), rows)

  /** PQ codes and the coarse cell are per-row projections of the same input
    * row, so they materialize together: no second corpus scan, no
    * corpus-wide join on did. */
  protected def encode(quant: IvfCore.Quantizers, rows: DataFrame): DataFrame = {
    val cb = Pq.codebooksOf(quant.removed(-1))
    rows.select(col("did"), Pq.codeExpr(cb, col("__v")).as("code"), col("cell"))
      .select(col("did"), col("code"), Pq.estNormExpr(cb).as("est_norm"), col("cell"))
  }

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
    IvfPq(coarse, cb, assign(Pq.quantizersOf(cb) + (-1 -> coarse), corpus, idCol, vecCol))
  }

  /** ADC top-k over the probed cells only: each query's `nprobe` nearest
    * coarse cells resolve up front, so a LOADED index scans only the
    * matching cell partitions — planning-time `PartitionFilters`, the q171
    * property, on a code table 32× smaller than the vectors. */
  def probe(idx: IvfPq, queries: DataFrame, k: Int = 10, nprobe: Int = 2,
      rerankWith: Option[DataFrame] = None, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Pq.rankAndRerank(scored(idx, queries, nprobe, vecCol,
      Pq.querySide(idx.cb, idCol, vecCol), Pq.adcSim, "qid", "qv", "did"),
      k, rerankWith, rerankFactor, idCol, vecCol)
}
