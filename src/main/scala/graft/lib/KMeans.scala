package graft.lib

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** Lloyd's kMeans over an `array<float>` embedding column (reference
  * emma-lib ml/clustering/kMeans.scala:26-93 — loops over iterations,
  * per-point nearest centroid, groupBy+fold centroid update), and the one
  * quantizer trainer, [[KMeans.train]], behind [[KMeans.centroids]],
  * [[graft.ops.Pq.train]] and [[graft.ops.PqIndex.build]]:
  *
  *  - centroids are a driver-side array, broadcast into a Column literal each
  *    iteration (k·dim doubles — tiny), so assignment is a narrow map with
  *    the shared probe expression [[KMeans.nearestCentroids]];
  *  - the centroid update of every book being trained is ONE
  *    map-side-combinable aggregation per iteration (`posexplode` +
  *    groupBy(book, slice, cluster, pos) → avg);
  *  - deterministic init: the k lowest-id vectors (seedable but reproducible
  *    across engines, unlike random init).
  *
  * At 100 TB: per iteration = one scan + one shuffle of k·dim partial sums
  * per partition. No per-row UDF, no driver collect of points.
  */
object KMeans {

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

  /** The Lloyd loop run DRIVER-SIDE over collected points in id order —
    * same init (k lowest ids), same argmin (ties to the lower cid), same
    * mean update, same empty-cluster and 1e-9 convergence rules as the
    * distributed loop. Centroid values may differ from the distributed
    * path in the last ulps (FP summation order); each path is
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

  /** One quantizer to train: each vector splits into `m` equal slices,
    * each quantized by its own `k` centroids — the coarse quantizer is
    * `Book(1, nlist)`, a product quantizer `Book(m, ksub)`. */
  private[graft] final case class Book(m: Int, k: Int)

  /** THE quantizer trainer: every book trains on one prepared training set,
    * one `(cid, centroid)` array per slice, in cid order.
    *
    * Preparation runs once for all books: spread, project to doubles,
    * persist, count (the dimension comes from the same job), then above the
    * train-set cap — `trainCap`, else the largest `max(256·k, 65536)` of the
    * books; quantizer quality saturates at a few hundred points per cell —
    * a DETERMINISTIC id-keyed hash sample ([[graft.ops.Sampling.hashSample]]).
    * Callers assign or encode the full relation separately; sub-cap
    * relations train on every row.
    *
    * When the training set's doubles (rows × dim × 8 bytes, from the
    * preparation aggregate) fit the driver by the session's broadcast
    * threshold (`bridge.fits`; `-1`: never) — the normal case; a row count
    * alone would collect a wide-embedding corpus — it is collected in id
    * order and each slice runs [[lloydLocal]]: a distributed iteration
    * costs a job plus a fresh codegen compile (the centroid literals change
    * every round), the dominant term of every index-build gate. Otherwise
    * one distributed loop trains every book at once. */
  private[graft] def train(vectors: DataFrame, books: Seq[Book], maxIter: Int,
      idCol: String, vecCol: String,
      trainCap: Long = 0): Seq[Array[Array[(Int, Seq[Double])]]] = {
    val pts0 = graft.ops.Par.spread(vectors).select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("v")).persist()
    var pts = pts0
    try {
      val stats = pts0.agg(count(lit(1)), max(size(col("v")))).head()
      val (n0, d) = (stats.getLong(0), if (stats.isNullAt(1)) 0 else stats.getInt(1))
      books.foreach(b => require(d % b.m == 0, s"dim $d not divisible into ${b.m} subspaces"))
      val cap = if (trainCap > 0) trainCap else books.map(b => math.max(256L * b.k, 65536L)).max
      val n =
        if (n0 > cap) {
          pts = graft.ops.Sampling.hashSample(pts0, col("id"), cap.toDouble / n0).persist()
          val ns = pts.count()
          pts0.unpersist()
          ns
        } else n0
      if (bridge.fits(pts.sparkSession, BigInt(n) * d * 8)) {
        // sorted by id on the driver, in Spark's order for the id's type
        // (the order `orderBy("id")` gives, without its sample and sort
        // jobs): the seed is the k lowest ids, and the update's summation
        // order is id order — deterministic across runs AND across input
        // partitionings (stronger than the distributed path)
        val sorted = bridge.collectRows(pts)
          .sorted(bridge.rowOrdering(Seq(pts.schema("id").dataType)))
          .map(r => r.getArray(1).toDoubleArray().toSeq)
        pts.unpersist()
        books.map { b =>
          val dsub = d / b.m
          Array.tabulate(b.m)(s =>
            lloydLocal(sorted.map(_.slice(s * dsub, s * dsub + dsub)), b.k, maxIter))
        }
      } else lloydDistributed(pts, books, d, maxIter)
    } finally { pts0.unpersist(); pts.unpersist() }
  }

  /** The distributed Lloyd loop over every book at once: each iteration
    * assigns all slices of all still-moving books in one projection and
    * updates all their centroids in ONE map-side-combinable aggregation
    * keyed (book, slice, cluster, pos); the means assemble into vectors on
    * the driver (collecting k·dim scalars is cheaper than a second shuffle
    * to re-nest them). A book stops at the same 1e-9 rule as
    * [[lloydLocal]] and leaves the projection, so each book ends where its
    * own loop would have. */
  private def lloydDistributed(pts: DataFrame, books: Seq[Book], d: Int,
      maxIter: Int): Seq[Array[Array[(Int, Seq[Double])]]] = {
    val seed = pts.orderBy("id").limit(books.map(_.k).max).collect()
      .map(_.getSeq[Double](1))
    val cents = books.map { b =>
      val dsub = d / b.m
      Array.tabulate(b.m)(s => seed.take(b.k).zipWithIndex.map { case (v, i) =>
        (i, v.slice(s * dsub, s * dsub + dsub)) })
    }.toArray
    // AQE off for the loop only, on a per-call clone (`bridge.isolated`)
    val loopPts = bridge.isolated(pts, bridge.aqeOff)
    var moving: Seq[Int] = books.indices
    var iter = 0
    while (iter < maxIter && moving.nonEmpty) {
      val parts = for (bi <- moving; s <- 0 until books(bi).m) yield {
        val dsub = d / books(bi).m
        val sub = slice(col("v"), s * dsub + 1, dsub)
        struct(lit(bi).as("b"), lit(s).as("s"),
          nearestCentroids(cents(bi)(s), sub, 1)(0).as("cluster"), sub.as("sv"))
      }
      val means = loopPts.select(explode(array(parts: _*)).as("e"))
        .select(col("e.b"), col("e.s"), col("e.cluster"), posexplode(col("e.sv")))
        .groupBy("b", "s", "cluster", "pos").agg(avg("col"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
        .map { case (key, rs) => key -> rs.sortBy(_.getInt(3)).map(_.getDouble(4)).toSeq }
      moving = moving.filter { bi =>
        // a cluster that loses all points keeps its previous centroid (it
        // may re-acquire points later) — dropping it would silently shrink
        // k and could fake convergence
        val next = cents(bi).zipWithIndex.map { case (book, s) =>
          book.map { case (cid, old) => (cid, means.getOrElse((bi, s, cid), old)) } }
        val moved = next.zip(cents(bi)).exists { case (nb, ob) =>
          nb.zip(ob).exists { case ((_, nv), (_, ov)) =>
            nv.zip(ov).map { case (a, b) => math.abs(a - b) }.max > 1e-9 } }
        cents(bi) = next
        moved
      }
      iter += 1
    }
    cents.toSeq
  }

  /** Train the centroids: [[train]] with one single-slice book (driver-side
    * when the training set fits the broadcast threshold; `-1`: never). */
  def centroids(vectors: DataFrame, k: Int = 4, maxIter: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainCap: Long = 0): Array[(Int, Seq[Double])] =
    train(vectors, Seq(Book(1, k)), maxIter, idCol, vecCol, trainCap).head.head

  /** Assign each vector to its nearest centroid: (idCol, cluster). */
  def assign(vectors: DataFrame, cents: Array[(Int, Seq[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    graft.ops.Par.spread(vectors).select(col(idCol),
      nearestCentroids(cents, col(vecCol), 1)(0).as("cluster"))

  /** Train + assign in one call. */
  def fit(vectors: DataFrame, k: Int = 4, maxIter: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assign(vectors, centroids(vectors, k, maxIter, idCol, vecCol), idCol, vecCol)
}
