package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for the vector store — the MEMORY/IO scale
  * path for embedding search: each d-dim vector compresses to `m` small
  * codes (one per d/m-dim subspace, each quantized by its own ksub-centroid
  * codebook), so a 100 TB float corpus becomes a few TB of codes, and a
  * query scans codes instead of vectors.
  *
  * Scoring is ADC (asymmetric distance computation): per query, ONE
  * m×ksub lookup table of subspace inner products is computed up front
  * (a per-row projection on the broadcast query side); each candidate then
  * costs `m` table lookups instead of a d-term dot product — compute drops
  * d/m-fold and the scan reads `m` bytes per vector instead of `4·d`.
  * Cosine needs the reconstruction norm, which is a pure function of the
  * code, so it's materialized ONCE at encode time as a column.
  *
  * Everything is Catalyst higher-order functions (no UDF, codegen'd); the
  * codebooks ride into the plan as literals (m·ksub·d/m = ksub·d doubles —
  * droplet-sized). Training is the deterministic Lloyd trainer
  * ([[graft.lib.KMeans.train]], lowest-id init); on its distributed path
  * the centroid means are distributed double averages, so codebooks are
  * deterministic for a fixed partitioning but not bit-portable across
  * engines — the 4-decimal-rounded ADC scores and the
  * GIVEN-a-codebook encode (a pure argmin Column expression) are what
  * reproduce exactly anywhere.
  *
  * Compositionality: codes are a relation keyed by vector id — partition
  * them by an IVF cell ([[PqIndex]]) for the classic IVF-PQ layout where a
  * probe reads only `nprobe` cells of an already-32×-smaller table.
  */
object Pq {

  /** Trained codebooks: `books(s)` = the ksub (cid → centroid) pairs of
    * subspace `s`, each centroid `dsub` doubles. */
  case class Codebooks(m: Int, dsub: Int, books: Array[Array[(Int, Seq[Double])]])

  /** Train one `ksub`-centroid codebook per subspace — the quantizer
    * trainer [[graft.lib.KMeans.train]] with one `(m, ksub)` book, which
    * trains on the driver when the training set fits the session's
    * broadcast threshold (`-1`: never). At 100 TB pass a
    * [[Sampling.hashSample]] of the corpus — quantizer quality saturates at
    * modest training sizes. `d` must divide evenly into `m` subspaces. */
  def train(corpus: DataFrame, m: Int, ksub: Int = 16, maxIter: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainCap: Long = 0): Codebooks = {
    require(m > 0 && ksub > 1, s"need m > 0, ksub > 1: m=$m ksub=$ksub")
    codebooks(graft.lib.KMeans.train(corpus, Seq(graft.lib.KMeans.Book(m, ksub)),
      maxIter, idCol, vecCol, trainCap).head)
  }

  /** Codebooks from trained per-subspace books. */
  private[ops] def codebooks(books: Array[Array[(Int, Seq[Double])]]): Codebooks =
    Codebooks(books.length, books.head.head._2.length, books)

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, x) => s + x)

  /** codes: the per-subspace nearest-centroid ids, `array<int>` length m. */
  private[ops] def codeExpr(cb: Codebooks, v: Column): Column =
    array((0 until cb.m).map { s =>
      graft.lib.KMeans.nearestCentroids(cb.books(s),
        slice(v, s * cb.dsub + 1, cb.dsub), 1)(0)
    }: _*)

  /** ‖centroid‖² table literal: normLut(s)(cid). One typedLit Literal —
    * the per-element lit() tree cost planning time on every encode query
    * (see KMeans.centroidLit; r16). */
  private def normLut(cb: Codebooks): Column =
    typedLit(cb.books.toSeq.map { book =>
      book.sortBy(_._1).map { case (_, c) => c.map(x => x * x).sum }.toSeq
    })

  /** ‖reconstruction‖ from the `code` column — a pure codebook lookup. */
  private[ops] def estNormExpr(cb: Codebooks): Column =
    sqrt(aggregate(
      zip_with(col("code"), normLut(cb), (c, nl) => element_at(nl, c + 1)),
      lit(0.0), (s, x) => s + x))

  /** Encode the corpus: `(did, code, est_norm)` — `code` is m ints,
    * `est_norm` = ‖reconstruction‖ (a pure function of the code, looked up
    * from the codebook norms). One narrow map, no shuffle. */
  def encode(cb: Codebooks, corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Par.spread(corpus)
      .select(col(idCol).as("did"), codeExpr(cb, col(vecCol)).as("code"))
      .withColumn("est_norm", estNormExpr(cb))

  /** Persist trained codebooks as the long-form quantizer relation
    * `(s, cid, dim, x)` at `dir` — the `quant` layout of a saved
    * [[PqIndex]] without its coarse rows — so a bare-PQ (no IVF) deployment
    * can reuse one trained model across sessions. The save commits a new
    * build through [[Record.commit]], so a save that fails part-way leaves
    * the previous codebooks loadable. Doubles roundtrip parquet
    * bit-exactly, so encode-after-reload is code-identical to
    * encode-before-save. */
  def saveCodebooks(spark: org.apache.spark.sql.SparkSession, cb: Codebooks,
      dir: String): Unit =
    Record.commit(spark, dir, IvfCore.QuantSchema) { build =>
      IvfCore.writeQuantizers(spark, quantizersOf(cb), s"$build/quant")
    }

  /** Reload codebooks written by [[saveCodebooks]]. */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): Codebooks = {
    val r = Record.open(spark, dir, "re-save the codebooks with Pq.saveCodebooks")
    codebooksOf(IvfCore.readQuantizers(spark, s"${r.dir(dir)}/quant"))
  }

  /** Codebooks as quantizers keyed by subspace `s >= 0`. */
  private[ops] def quantizersOf(cb: Codebooks): IvfCore.Quantizers =
    cb.books.indices.map(s => s -> cb.books(s)).toMap

  /** Codebooks from decoded `s → (cid, centroid)*` subquantizers. */
  private[ops] def codebooksOf(bySub: IvfCore.Quantizers): Codebooks =
    codebooks(bySub.toArray.sortBy(_._1).map(_._2))

  /** Codebook literal for the query-side LUT: cbLit(s)(cid) = centroid.
    * One typedLit Literal, not m·ksub·dsub nested lit nodes that every
    * analyzer/optimizer rule walks on each probe (see KMeans.centroidLit);
    * same values, constant-folded identically. */
  private def cbLit(cb: Codebooks): Column =
    typedLit(cb.books.toSeq.map(book => book.sortBy(_._1).map(_._2).toSeq))

  /** The broadcastable query side's columns: `(qid, qv, lut, qnorm)` —
    * the per-query LUT `lut(s)(cid) = <q_s, centroid>` is computed once per
    * query row; every candidate afterwards costs m lookups. */
  private[ops] def querySide(cb: Codebooks, idCol: String, vecCol: String): Seq[Column] =
    Seq(col(idCol).as("qid"),
      col(vecCol).as("qv"),
      transform(cbLit(cb), (book, s) =>
        transform(book, c =>
          dot(slice(col(vecCol), s * lit(cb.dsub) + lit(1), lit(cb.dsub)), c))).as("lut"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnorm"))

  /** ADC cosine estimate from a joined (query-side × code) row. */
  private[ops] def adcSim: Column = {
    val ip = aggregate(
      zip_with(col("code"), col("lut"), (c, tab) => element_at(tab, c + 1)),
      lit(0.0), (s, x) => s + x)
    Portable.round(ip / (col("qnorm") * col("est_norm")), 4)
  }

  /** Rank scored `(qid, qv, did, sim)` rows per query; optionally rerank
    * the top `factor·k` with EXACT cosine against the original vectors.
    * Ranking is the bounded-heap [[graft.plans.TopK.perKey]] operator
    * (via [[Similarity.rankTopK]]) — ≤k (or ≤k·factor) candidates per
    * query survive each partition BEFORE any shuffle; no Window over the
    * full ADC candidate set. */
  private[ops] def rankAndRerank(scored: DataFrame, k: Int,
      rerankWith: Option[DataFrame], rerankFactor: Int,
      idCol: String, vecCol: String): DataFrame = {
    rerankWith match {
      case None =>
        Similarity.rankTopK(scored.select("qid", "did", "sim"), k)
      case Some(corpus) =>
        val cand = graft.plans.TopK.perKey(scored,
            Seq("qid"), Seq(col("sim").desc, col("did").asc), k * rerankFactor)
          .select("qid", "qv", "did")
        val exact = broadcast(cand)
          .join(corpus.select(col(idCol).as("did"), col(vecCol).as("dv")), "did")
          .select(col("qid"), col("did"),
            Portable.round(Similarity.cosine(
              col("qv").cast("array<float>"), col("dv").cast("array<float>")), 4).as("sim"))
          .where(!isnan(col("sim")))
        Similarity.rankTopK(exact, k)
    }
  }

  /** ADC top-k cosine over the code relation; optionally rerank the top
    * `rerankFactor·k` ADC candidates with EXACT cosine against the original
    * vectors (`rerankWith` = the corpus) — the standard two-stage probe:
    * the full scan touches only codes, exact math only the candidate set
    * (|queries|·k·factor rows, broadcast back against the corpus).
    * Deterministic: scores rounded to 4 decimals, ties broken by id. */
  def adcTopK(cb: Codebooks, codes: DataFrame, queries: DataFrame, k: Int,
      rerankWith: Option[DataFrame] = None, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && rerankFactor > 0, s"k=$k factor=$rerankFactor")
    val q = broadcast(queries.select(querySide(cb, idCol, vecCol): _*))
    val scored = q.join(codes, col("qid") =!= col("did"))
      .select(col("qid"), col("qv"), col("did"), adcSim.as("sim"))
      .where(!isnan(col("sim"))) // zero-norm codes: NaN sorts first under desc
    rankAndRerank(scored, k, rerankWith, rerankFactor, idCol, vecCol)
  }
}
