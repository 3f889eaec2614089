package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index over raw vectors: the [[IvfCore.Lifecycle]]
  * payload whose table `assigned` holds each corpus vector (`did`, `dv`,
  * `cell`). Train the coarse quantizer ONCE, materialize the cell-assigned
  * corpus, and serve every later query batch by reading only the probed
  * cells; [[Similarity.ivfTopK]] is the unpersisted case.
  *
  * The quantizer is deterministic (kMeans seeded from the smallest ids), so
  * build → save → load → probe reproduces the in-memory probe bit-for-bit.
  */
object AnnIndex extends IvfCore.Lifecycle {

  /** An IVF index: quantizer centroids + the cell-assigned corpus
    * (`did`, `dv`, `cell`). */
  case class Ivf(centroids: Array[(Int, Seq[Double])], assigned: DataFrame)

  type Index = Ivf
  private[ops] val table = "assigned"

  private[ops] def quantizers(idx: Ivf): IvfCore.Quantizers = Map(-1 -> idx.centroids)
  private[ops] def rows(idx: Ivf): DataFrame = idx.assigned
  private[ops] def index(quant: IvfCore.Quantizers, rows: DataFrame): Ivf =
    Ivf(quant(-1), rows)

  protected def encode(quant: IvfCore.Quantizers, rows: DataFrame): DataFrame =
    rows.select(col("did"), col("__v").cast("array<float>").as("dv"), col("cell"))

  /** Train the quantizer and assign every corpus vector to its cell.
    * `trainCap` (0 = auto, max(256·nlist, 65536)) caps the TRAINING set
    * via a deterministic id-hash sample — assignment always covers the
    * full corpus. */
  def buildIvf(corpus: DataFrame, nlist: Int = 8, maxIter: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainCap: Long = 0): Ivf = {
    val cents = graft.lib.KMeans.centroids(corpus, nlist, maxIter, idCol, vecCol,
      trainCap = trainCap)
    Ivf(cents, assign(Map(-1 -> cents), corpus, idCol, vecCol))
  }

  /** Top-k cosine neighbors per query, scanning only each query's `nprobe`
    * nearest cells (a LOADED index reads only the matching cell
    * partitions). Ranking is deterministic: similarity rounded to 4
    * decimals, tie-broken by neighbor id. */
  def probe(index: Ivf, queries: DataFrame, k: Int = 3, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // only the scoring copy is float-cast (cosine's input type); the probe
    // cells come from the raw vector, so quantization is symmetric for any
    // input precision
    Similarity.rankTopK(scored(index, queries, nprobe, vecCol,
      Seq(col(idCol).as("qid"), col(vecCol).cast("array<float>").as("qv")),
      Portable.round(Similarity.cosine(col("qv"), col("dv")), 4), "qid", "did"), k)
}
