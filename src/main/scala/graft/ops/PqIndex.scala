package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lib.KMeans

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

  /** Train coarse + product quantizers and encode the corpus. Both train
    * together in the quantizer trainer [[graft.lib.KMeans.train]], on one
    * training set: `trainCap` (0 = auto) caps it via a deterministic
    * id-hash sample; encoding always covers the full corpus. */
  def build(corpus: DataFrame, nlist: Int = 8, m: Int = 8, ksub: Int = 16,
      maxIter: Int = 10, idCol: String = "vec_id",
      vecCol: String = "embedding", trainCap: Long = 0): IvfPq = {
    val Seq(Array(coarse), books) = KMeans.train(corpus,
      Seq(KMeans.Book(1, nlist), KMeans.Book(m, ksub)), maxIter, idCol, vecCol,
      trainCap = trainCap)
    val cb = Pq.codebooks(books)
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
