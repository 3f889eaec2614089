package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), for training-data curation (near-dup detection by
  * embedding cosine, semantic search).
  *
  * Two strategies:
  *  - [[cosineTopK]] — brute-force baseline: broadcast the (small) query set,
  *    one pass over the corpus, per-query top-k via the bounded-heap
  *    [[graft.plans.TopK.perKey]] operator (≤k candidates per query survive
  *    each partition before the shuffle). Exact.
  *  - [[bucketedTopK]] — scale path: coarse sign-bit quantization (an
  *    IVF/LSH-style bucketing) so each query only scans its bucket; at 100 TB
  *    the corpus is hash-partitioned by bucket and only 1/2^bits of it is read
  *    per query batch.
  *
  * Dot products are pure Column expressions (`zip_with` + `aggregate`), so the
  * whole pipeline stays in whole-stage codegen — no UDF boxing per element.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as a Column expression over two array<float> columns (computed in
    * double precision). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Composed (built-ins-only) cosine — reference formulation; walks the
    * arrays three times and allocates the zipped intermediate. */
  def cosineComposed(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native fused cosine ([[graft.functions.CosineSim]]): one allocation-free
    * codegen loop, bit-identical to [[cosineComposed]] (same left-to-right
    * summation). */
  def cosine(a: Column, b: Column): Column = graft.functions.Native.cosineSim(a, b)

  /** Exact top-k cosine neighbors for each query vector. The query side is
    * broadcast (it is small by construction); ranking rounds the similarity
    * to 4 decimals and tie-breaks on neighbor id so results are deterministic
    * across engines and partitionings. */
  /** The shared exact-scoring pipeline: broadcast queries × corpus scan,
    * 4-decimal rounded cosine, NaN (zero-norm) rows dropped — ONE
    * definition so the determinism convention cannot drift between the
    * top-k and hard-negative surfaces. */
  private def scoredPairs(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qv")))
    val c = Par.spread(corpus).select(col("vec_id").as("did"), col("embedding").as("dv"))
    q.join(c, col("qid") =!= col("did"))
      .select(col("qid"), col("did"), Portable.round(cosine(col("qv"), col("dv")), 4).as("sim"))
      .where(!isnan(col("sim"))) // zero-norm vectors: NaN sorts FIRST under desc
  }

  /** Per-query top-k of a `(qid, did, sim)` candidate relation via the
    * bounded-heap [[graft.plans.TopK.perKey]] operator: a partial stage
    * reduces every input partition to ≤k candidates per query BEFORE the
    * shuffle (for the brute path that is the difference between shuffling
    * |queries|·|corpus| rows and shuffling k·|queries|), and the rank is
    * then re-derived over the ≤k survivors by sorting one collect_list
    * array per query — no Window and no sort of the candidate set anywhere
    * in the plan (PlanShapeSpec-asserted). The aggregation reuses the
    * top-k operator's hash partitioning on `qid`, so it adds no Exchange. */
  private[ops] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val top = graft.plans.TopK.perKey(scored,
      Seq("qid"), Seq(col("sim").desc, col("did").asc), k)
    // (-sim, did) ascending ≡ (sim desc, did asc); `sim` is 4-decimal
    // rounded and never -0.0 (floor(x+0.5)/1e4 cannot produce it), so the
    // negation is an exact order-reversal
    top.groupBy("qid")
      .agg(sort_array(collect_list(struct((-col("sim")).as("ns"),
        col("did").as("did"), col("sim").as("sim")))).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("qid"), col("__t.did").as("did"), col("__t.sim").as("sim"),
        (col("__pos") + 1).as("rank"))
  }

  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3): DataFrame =
    rankTopK(scoredPairs(corpus, queries), k)

  /** Hard-negative mining for contrastive/retrieval training: each
    * anchor's top-k most-SIMILAR corpus items that are NOT its positives —
    * the negatives that actually move an embedding model, versus the
    * uninformative random draws of [[Shuffling.negativeSample]].
    * `positives` is an `(anchor_id, pos_id)` relation; positives and the
    * anchor itself are excluded BEFORE ranking, so every returned row is a
    * genuine confusable. Exact and deterministic (broadcast anchors, one
    * corpus scan, 4-decimal rounding, id tie-break); at index scale use
    * [[hardNegativesIndexed]], which runs the same anti-join + rank over
    * `PqIndex.probe` candidates instead of the full scan. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame,
      positives: DataFrame, k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    rankTopK(
      scoredPairs(corpus, anchors)
        .join(positives.select(col("anchor_id").as("qid"), col("pos_id").as("did")),
          Seq("qid", "did"), "left_anti"),
      k)
  }

  /** [[hardNegatives]] at index scale: candidates come from
    * [[PqIndex.probe]] — partition-pruned coarse cells, ADC scoring over
    * m-byte codes, exact-cosine rerank — instead of a full corpus scan, so
    * mining cost tracks `nprobe/nlist` of an already-compressed relation
    * while the anti-join + final ranking are row-identical to the brute
    * path over whatever candidates surface. `overfetch` sets how many
    * reranked candidates per anchor enter the positives anti-join
    * (`k·overfetch`): it must exceed `k` plus the positives expected among
    * the anchor's nearest neighbors, or true negatives are crowded out —
    * the same recall dial as `nprobe`, priced per anchor, not per corpus.
    * With full probing (`nprobe = nlist`) and generous
    * `overfetch·rerankFactor` the result equals [[hardNegatives]] exactly
    * (MiningSpec parity-pins this). */
  def hardNegativesIndexed(idx: PqIndex.IvfPq, anchors: DataFrame,
      positives: DataFrame, k: Int = 5, nprobe: Int = 4,
      rerankWith: Option[DataFrame] = None, rerankFactor: Int = 4,
      overfetch: Int = 4): DataFrame = {
    require(k > 0 && overfetch > 0, s"k=$k overfetch=$overfetch")
    val cand = PqIndex.probe(idx, anchors, k = k * overfetch, nprobe = nprobe,
        rerankWith = rerankWith, rerankFactor = rerankFactor)
      .select("qid", "did", "sim")
      .join(positives.select(col("anchor_id").as("qid"), col("pos_id").as("did")),
        Seq("qid", "did"), "left_anti")
    rankTopK(cand, k)
  }

  /** IVF (inverted-file) ANN: the corpus is coarse-quantized into `nlist`
    * kMeans cells; each query probes only its `nprobe` nearest cells —
    * an `nlist/nprobe`-fold scan reduction with recall controlled by nprobe.
    * The unpersisted case of [[AnnIndex]]: build the index in memory and
    * probe it once; at 100 TB save the index and probe the saved one, so
    * every query batch touches only the probed cells. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      nlist: Int = 8, nprobe: Int = 2, maxIter: Int = 10): DataFrame =
    AnnIndex.probe(AnnIndex.buildIvf(corpus, nlist, maxIter), queries, k, nprobe)

  /** Coarse quantizer: bucket id from the sign bits of the first `bits`
    * dimensions (deterministic, engine-portable). */
  def signBucket(v: Column, bits: Int = 4): Column =
    (0 until bits).map(i =>
      when(element_at(v, i + 1) > 0f, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** ANN top-k restricted to the query's coarse bucket (IVF-style). Recall is
    * traded for a 2^bits scan reduction; increase overlap with multi-probe by
    * unioning neighboring buckets if needed. */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3, bits: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      signBucket(col("embedding"), bits).as("bucket")))
    val c = Par.spread(corpus).select(col("vec_id").as("did"), col("embedding").as("dv"),
      signBucket(col("embedding"), bits).as("bucket"))
    val scored = q.join(c, Seq("bucket")).where(col("qid") =!= col("did"))
      .select(col("qid"), col("did"), Portable.round(cosine(col("qv"), col("dv")), 4).as("sim"))
      .where(!isnan(col("sim"))) // zero-norm vectors: NaN sorts FIRST under desc
    rankTopK(scored, k)
  }

  /** Symmetric int8 scalar quantization of an embedding column: per-vector
    * absmax scaling, qᵢ = ⌊xᵢ·127/absmax + 0.5⌋ (round-half-toward-+∞ —
    * portable, unlike banker's rounding). 4× smaller than float32 — at
    * 100 TB of embeddings that is the difference between a cluster-wide
    * shuffle fitting in memory or spilling. Pure Column `transform`, stays
    * in codegen; every step is a fixed IEEE-double op sequence, so the
    * quantized vectors are bit-identical on any engine. */
  def quantizeInt8(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val absmax = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    emb
      .withColumn("absmax", absmax)
      .withColumn("qvec",
        when(col("absmax") === 0.0,
          transform(col(vecCol), _ => lit(0)))
        .otherwise(transform(col(vecCol), x =>
          floor(((x.cast("double") * lit(127.0)) / col("absmax")) + lit(0.5))
            .cast("int"))))
  }
}
