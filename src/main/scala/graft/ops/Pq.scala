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
  * droplet-sized). Training reuses the deterministic Lloyd trainer
  * ([[graft.lib.KMeans.centroids]], lowest-id init); as with
  * KMeans.centroids, the centroid means are distributed double averages,
  * so codebooks are deterministic for a fixed partitioning but not
  * bit-portable across engines — the 4-decimal-rounded ADC scores and the
  * GIVEN-a-codebook encode (a pure argmin Column expression) are what
  * reproduce exactly anywhere.
  *
  * Compositionality: codes are a relation keyed by vector id — partition
  * them by an IVF cell ([[AnnIndex]]) for the classic IVF-PQ layout where a
  * probe reads only `nprobe` cells of an already-32×-smaller table.
  */
object Pq {

  /** Trained codebooks: `books(s)` = the ksub (cid → centroid) pairs of
    * subspace `s`, each centroid `dsub` doubles. */
  case class Codebooks(m: Int, dsub: Int, books: Array[Array[(Int, Seq[Double])]])

  /** Train one codebook per subspace with a FUSED multi-subspace Lloyd:
    * every iteration computes all m assignments in one projection and all
    * m·ksub centroid updates in ONE map-side-combinable aggregation keyed
    * (subspace, cluster, dim) — m× fewer jobs and shuffles than m
    * independent kMeans loops, same deterministic semantics (lowest-id
    * init, ties to the lower cid, empty clusters keep their centroid).
    * At 100 TB pass a [[Sampling.hashSample]] of the corpus — quantizer
    * quality saturates at modest training sizes. `d` must divide evenly
    * into `m` subspaces. */
  def train(corpus: DataFrame, m: Int, ksub: Int = 16, maxIter: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      localThreshold: Long = 65536,
      localCellBudget: Long = graft.lib.KMeans.defaultLocalCellBudget,
      trainCap: Long = 0): Codebooks = {
    require(m > 0 && ksub > 1, s"need m > 0, ksub > 1: m=$m ksub=$ksub")
    val d = corpus.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val dsub = d / m
    val pts0 = Par.spread(corpus).select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("v")).persist()

    // small training relation (the normal case — quantizer quality
    // saturates at modest sample sizes, and at 100 TB callers pass a
    // hashSample): run m INDEPENDENT local Lloyd loops over the collected
    // slices — each distributed iteration costs a job plus a fresh codegen
    // compile (centroid literals change per round), the dominant term of
    // every index-build gate. Same semantics per subspace as the fused
    // loop; see KMeans.lloydLocal for the ulp caveat.
    // gate on rows AND total cells (rows × dim): row count alone would
    // collect wide-embedding corpora (65k × dim-1536 ≈ GBs boxed) onto a
    // driver that never previously materialized the corpus
    val n0 = pts0.count()
    // TRAIN-SET CAP (same rationale as KMeans.centroids): above
    // max(256·ksub, 65536) rows (or the explicit trainCap) the
    // subquantizers train on a DETERMINISTIC id-keyed hash sample;
    // encoding still covers the full relation. Sub-cap relations — every
    // sf0.01/sf0.1 gate — are bit-identical.
    val cap = if (trainCap > 0) trainCap else math.max(256L * ksub, 65536L)
    val (pts, n) =
      if (n0 > cap) {
        val s = Sampling.hashSample(pts0, col("id"), cap.toDouble / n0).persist()
        val ns = s.count()
        pts0.unpersist()
        (s, ns)
      } else (pts0, n0)
    if (n <= localThreshold && n * d <= localCellBudget) {
      val sorted = pts.orderBy("id").collect().map(_.getSeq[Double](1))
      pts.unpersist()
      val localBooks = Array.tabulate(m) { s =>
        graft.lib.KMeans.lloydLocal(
          sorted.map(_.slice(s * dsub, s * dsub + dsub)), ksub, maxIter)
      }
      return Codebooks(m, dsub, localBooks)
    }

    val seed = pts.orderBy("id").limit(ksub).collect()
      .map(_.getSeq[Double](1))
    var books: Array[Array[(Int, Seq[Double])]] = Array.tabulate(m)(s =>
      seed.zipWithIndex.map { case (v, i) =>
        (i, v.slice(s * dsub, s * dsub + dsub)) })
    // identical tiny shuffles every round — AQE re-planning is pure
    // overhead (the KMeans.centroids rationale)
    val sess = corpus.sparkSession
    val prevAqe = sess.conf.get("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    var iter = 0
    var moved = true
    try while (iter < maxIter && moved) {
      val perSub = array((0 until m).map { s =>
        val sub = slice(col("v"), s * dsub + 1, dsub)
        struct(lit(s).as("s"),
          graft.lib.KMeans.nearestCentroids(books(s), sub, 1)(0).as("cluster"),
          sub.as("sv"))
      }: _*)
      val upd = pts.select(explode(perSub).as("e"))
        .select(col("e.s").as("s"), col("e.cluster").as("cluster"),
          posexplode(col("e.sv")))
        .groupBy("s", "cluster", "pos").agg(avg("col").as("mn"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      val byS = upd.groupBy(_._1)
      val merged = Array.tabulate(m) { s =>
        val byCid = byS.getOrElse(s, Array.empty[(Int, Int, Int, Double)])
          .groupBy(_._2)
        books(s).map { case (cid, old) =>
          (cid, byCid.get(cid).map(_.sortBy(_._3).map(_._4).toSeq).getOrElse(old))
        }
      }
      moved = merged.zip(books).exists { case (nb, ob) =>
        nb.zip(ob).exists { case ((_, nv), (_, ov)) =>
          nv.zip(ov).map { case (a, b) => math.abs(a - b) }.max > 1e-9 }
      }
      books = merged
      iter += 1
    } finally {
      sess.conf.set("spark.sql.adaptive.enabled", prevAqe)
      pts.unpersist() // exception-safe: a failed iteration must not pin the cache
    }
    Codebooks(m, dsub, books)
  }

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

  /** Persist trained codebooks as a tiny long-form parquet relation
    * `(s, cid, dim, x)` — the layout [[PqIndex.save]] uses for its `books`
    * subdirectory, exposed so a bare-PQ (no IVF) deployment can reuse one
    * trained model across sessions. Doubles roundtrip parquet bit-exactly,
    * so encode-after-reload is code-identical to encode-before-save. */
  def saveCodebooks(spark: org.apache.spark.sql.SparkSession, cb: Codebooks,
      dir: String): Unit = {
    import spark.implicits._
    cb.books.zipWithIndex.toSeq
      .flatMap { case (book, s) =>
        book.toSeq.flatMap { case (cid, v) =>
          v.zipWithIndex.map { case (x, i) => (s, cid, i, x) } } }
      .toDF("s", "cid", "dim", "x")
      .coalesce(1) // droplet-sized relation: one file, one commit
      .write.mode("overwrite").parquet(dir)
  }

  /** Reload codebooks written by [[saveCodebooks]]. */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): Codebooks =
    codebooksOf(IvfCore.readQuantizers(spark, dir, subspaced = true))

  /** Codebooks from decoded `s → (cid, centroid)*` subquantizers. */
  private[ops] def codebooksOf(bySub: Map[Int, Array[(Int, Seq[Double])]]): Codebooks = {
    val books = bySub.toArray.sortBy(_._1).map(_._2)
    Codebooks(books.length, books.head.head._2.length, books)
  }

  /** Codebook literal for the query-side LUT: cbLit(s)(cid) = centroid.
    * One typedLit Literal, not m·ksub·dsub nested lit nodes that every
    * analyzer/optimizer rule walks on each probe (see KMeans.centroidLit);
    * same values, constant-folded identically. */
  private def cbLit(cb: Codebooks): Column =
    typedLit(cb.books.toSeq.map(book => book.sortBy(_._1).map(_._2).toSeq))

  /** The broadcastable query side: `(qid, qv, lut, qnorm, extra*)` — the
    * per-query LUT `lut(s)(cid) = <q_s, centroid>` is computed once per
    * query row; every candidate afterwards costs m lookups. */
  private[ops] def querySide(cb: Codebooks, queries: DataFrame,
      idCol: String, vecCol: String, extra: Column*): DataFrame =
    queries.select(Seq(col(idCol).as("qid"),
      col(vecCol).as("qv"),
      transform(cbLit(cb), (book, s) =>
        transform(book, c =>
          dot(slice(col(vecCol), s * lit(cb.dsub) + lit(1), lit(cb.dsub)), c))).as("lut"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnorm")) ++ extra: _*)

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
    val q = broadcast(querySide(cb, queries, idCol, vecCol))
    val scored = q.join(codes, col("qid") =!= col("did"))
      .select(col("qid"), col("qv"), col("did"), adcSim.as("sim"))
      .where(!isnan(col("sim"))) // zero-norm codes: NaN sorts first under desc
    rankAndRerank(scored, k, rerankWith, rerankFactor, idCol, vecCol)
  }
}
