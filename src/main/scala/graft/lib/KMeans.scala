package graft.lib

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** Lloyd's kMeans over an `array<float>` embedding column (reference
  * emma-lib ml/clustering/kMeans.scala:26-93 — loops over iterations,
  * per-point nearest centroid, groupBy+fold centroid update). Original
  * Spark-first implementation:
  *
  *  - centroids are a driver-side array, broadcast into a Column literal each
  *    iteration (k·dim doubles — tiny), so assignment is a narrow map;
  *  - the centroid update is one map-side-combinable aggregation per
  *    iteration (`posexplode` + groupBy(cluster, dim) → avg);
  *  - deterministic init: the k lowest-id vectors (seedable but reproducible
  *    across engines, unlike random init).
  *
  * At 100 TB: per iteration = one scan + one shuffle of k·dim partial sums
  * per partition. No per-row UDF, no driver collect of points.
  */
object KMeans {

  /** Cap on rows × dim for the driver-side training paths (here and
    * [[graft.ops.Pq.train]]): ~32M doubles ≈ 256 MB unboxed, a safe
    * driver collect even after Row/Seq boxing. Row count alone is the
    * wrong gate — 65k rows of dim-1536 embeddings are GBs. */
  val defaultLocalCellBudget: Long = 32L * 1024 * 1024

  /** Squared euclidean distance from a centroid vector Column to `v`. */
  private[graft] def distToCentroid(c: Column, v: Column): Column =
    aggregate(zip_with(v, c, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (s, x) => s + x)

  /** The `n` nearest centroid ids of `v`, ascending by (distance, cid) —
    * the ONE quantizer-probe expression: the IVF lifecycle
    * ([[graft.ops.IvfCore]]) assigns rows to cells and picks probe cells
    * with it for both index payloads, so assignment and probe can never
    * drift apart. */
  private[graft] def nearestCentroids(cents: Array[(Int, Seq[Double])],
      v: Column, n: Int): Column =
    slice(array_sort(transform(centroidLit(cents), c =>
      struct(distToCentroid(c.getField("cv"), v).as("d"), c.getField("cid").as("cid")))),
      1, n).getField("cid")

  private[graft] def centroidLit(centroids: Array[(Int, Seq[Double])]): Column =
    // ONE Literal node (typedLit of the whole array, tuple fields renamed
    // by a foldable cast) instead of ~k·(dim+2) nested lit/array/struct
    // nodes: every analyzer/optimizer rule walks (and copies) the whole
    // expression tree, so the per-element form made PLANNING — not
    // execution — the dominant cost of every quantizer probe/assign query
    // (r16, guide §7.3; measured ~2 s driver-side per ANN lifecycle gate).
    // Same values, same struct shape (cid, cv), constant-folded identically.
    typedLit(centroids.toSeq)
      .cast("array<struct<cid:int,cv:array<double>>>")

  /** Nearest-centroid id for a double-array column: argmin over the (small)
    * centroid array literal. */
  private def nearestExpr(cLit: Column, v: Column): Column =
    aggregate(cLit,
      struct(lit(Double.MaxValue).as("d"), lit(-1).as("cid")),
      (acc, c) => {
        val d = aggregate(
          zip_with(v, c.getField("cv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (s, x) => s + x)
        when(d < acc.getField("d"), struct(d.as("d"), c.getField("cid").as("cid")))
          .otherwise(acc)
      }).getField("cid")

  /** The Lloyd loop run DRIVER-SIDE over collected points in id order —
    * same init (k lowest ids), same strict-< argmin in cid order, same
    * mean update, same empty-cluster and 1e-9 convergence rules as the
    * distributed loop. Centroid values may differ from the distributed
    * path in the last ulps (FP summation order — the documented
    * `centroids` caveat applies to BOTH paths); each path is
    * deterministic. */
  private[graft] def lloydLocal(ptsSorted: Array[Seq[Double]], k: Int,
      maxIter: Int): Array[(Int, Seq[Double])] = {
    var cents: Array[(Int, Seq[Double])] =
      ptsSorted.take(k).zipWithIndex.map { case (v, i) => (i, v) }
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(cents.length)(Option.empty[(Array[Double], Long)])
      ptsSorted.foreach { v =>
        var best = -1; var bd = Double.MaxValue
        cents.foreach { case (cid, c) =>
          var d = 0.0; var i = 0
          while (i < c.length) { val t = v(i) - c(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = cid }
        }
        val (acc, n) = sums(best).getOrElse((new Array[Double](v.length), 0L))
        var i = 0
        while (i < v.length) { acc(i) += v(i); i += 1 }
        sums(best) = Some((acc, n + 1))
      }
      val merged = cents.map { case (cid, old) =>
        (cid, sums(cid).map { case (acc, n) => acc.map(_ / n).toSeq }.getOrElse(old))
      }
      moved = merged.zip(cents).exists { case ((_, nv), (_, ov)) =>
        nv.zip(ov).map { case (a, b) => math.abs(a - b) }.max > 1e-9
      }
      cents = merged
      iter += 1
    }
    cents
  }

  /** Train the centroids (Lloyd iterations, deterministic init).
    *
    * When the training relation is small (`<= localThreshold` rows — the
    * NORMAL case: quantizer quality saturates at modest sample sizes, and
    * the 100-TB guidance is to train on a `hashSample`), the loop runs
    * driver-side on the collected points: each distributed iteration costs
    * a full job PLUS a fresh whole-stage-codegen compile (the centroid
    * literals change every round, so no generated-code cache hit —
    * measured as the dominant term of every index-build gate). Above the
    * threshold the distributed loop runs as before. */
  def centroids(vectors: DataFrame, k: Int = 4, maxIter: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      localThreshold: Long = 65536,
      localCellBudget: Long = KMeans.defaultLocalCellBudget,
      trainCap: Long = 0): Array[(Int, Seq[Double])] = {
    val pts0 = graft.ops.Par.spread(vectors).select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("v")).persist()

    // gate on rows AND total cells (rows × dim): row count alone would
    // collect wide-embedding corpora (65k × dim-1536 ≈ GBs boxed) onto a
    // driver that never previously materialized the corpus
    val n0 = pts0.count()
    // TRAIN-SET CAP: nobody trains a coarse quantizer on every vector of a
    // 100-TB corpus — quantizer quality saturates at a few hundred points
    // per cell. Above the cap (default max(256·k, 65536)) training runs on
    // a DETERMINISTIC id-keyed hash sample; ASSIGNMENT still covers the
    // full relation (callers assign separately). Sub-cap relations —
    // every sf0.01/sf0.1 gate — are bit-identical to uncapped training.
    val cap = if (trainCap > 0) trainCap else math.max(256L * k, 65536L)
    val (pts, n) =
      if (n0 > cap) {
        val s = graft.ops.Sampling
          .hashSample(pts0, col("id"), cap.toDouble / n0).persist()
        val ns = s.count()
        pts0.unpersist()
        (s, ns)
      } else (pts0, n0)
    val dim =
      if (n == 0) 0L
      else pts.select(org.apache.spark.sql.functions.size(col("v")))
        .head().getInt(0).toLong
    if (n <= localThreshold && n * dim <= localCellBudget) {
      // engine-sorted by id: the seed is the same k lowest ids, and the
      // update's summation order is id order — deterministic across runs
      // AND across input partitionings (stronger than the distributed path)
      val sorted = pts.orderBy("id").collect().map(_.getSeq[Double](1))
      pts.unpersist()
      return lloydLocal(sorted, k, maxIter)
    }

    var cents: Array[(Int, Seq[Double])] = pts
      .orderBy("id").limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }

    // AQE off for the loop only, on a per-call clone (`bridge.isolated`)
    val loopPts = bridge.isolated(pts, bridge.aqeOff)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val assigned = loopPts.select(col("v"),
        nearestExpr(centroidLit(cents), col("v")).as("cluster"))
      // new centroids: mean per (cluster, dim) — ONE shuffled aggregation per
      // iteration; the k·dim result rows assemble into vectors on the driver
      // (collecting k·dim scalars is strictly cheaper than a second shuffle
      // to re-nest them)
      val upd = assigned
        .select(col("cluster"), posexplode(col("v")))
        .groupBy("cluster", "pos").agg(avg("col").as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cid, rows) => (cid, rows.sortBy(_._2).map(_._3).toSeq) }
        .toArray
        .sortBy(_._1)
      // a cluster that loses all points keeps its previous centroid (it may
      // re-acquire points later) — dropping it would silently shrink k and
      // could fake convergence
      val updByCid = upd.toMap
      val merged = cents.map { case (cid, old) => (cid, updByCid.getOrElse(cid, old)) }
      moved = merged.zip(cents).exists { case ((_, v), (_, old)) =>
        v.zip(old).map { case (a, b) => math.abs(a - b) }.max > 1e-9
      }
      cents = merged
      iter += 1
    }
    pts.unpersist()
    cents
  }

  /** Assign each vector to its nearest centroid: (idCol, cluster). */
  def assign(vectors: DataFrame, cents: Array[(Int, Seq[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    graft.ops.Par.spread(vectors).select(col(idCol),
      nearestExpr(centroidLit(cents),
        transform(col(vecCol), _.cast("double"))).as("cluster"))

  /** Train + assign in one call. */
  def fit(vectors: DataFrame, k: Int = 4, maxIter: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assign(vectors, centroids(vectors, k, maxIter, idCol, vecCol), idCol, vecCol)
}
