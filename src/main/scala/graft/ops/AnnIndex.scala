package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index — the production shape of
  * [[Similarity.ivfTopK]]: train the coarse quantizer ONCE, materialize the
  * cell-assigned corpus as a table PARTITIONED BY CELL, and serve every
  * later query batch by reading only the probed cells.
  *
  * Scale design: at 100 TB the corpus scan is the cost, so the index IS the
  * layout — `save` writes the assignment relation Hive-partitioned by cell
  * id, and `probe` resolves its (tiny, nprobe×|queries|-bounded) probe-cell
  * set up front so the scan carries a partition filter: only `nprobe/nlist`
  * of the corpus bytes are read, at planning time, with no runtime trick.
  * Centroids are a k×d relation (droplet-sized at any corpus scale); the
  * scoring join broadcasts the query side exactly like the in-memory path.
  *
  * The quantizer is deterministic (kMeans seeded from the smallest ids), so
  * build → save → load → probe reproduces the in-memory probe bit-for-bit.
  */
object AnnIndex {

  /** An IVF index: quantizer centroids + the cell-assigned corpus
    * (`did`, `dv`, `cell`). */
  case class Ivf(centroids: Array[(Int, Seq[Double])], assigned: DataFrame)

  /** Nearest `n` cells of vector `v` — the shared quantizer-probe
    * expression ([[graft.lib.KMeans.nearestCentroids]]), one definition for
    * trainer, ivfTopK, and this index so assignments can never drift. */
  private def nearestCells(cents: Array[(Int, Seq[Double])], v: Column, n: Int): Column =
    graft.lib.KMeans.nearestCentroids(cents, v, n)

  /** Train the quantizer and assign every corpus vector to its cell.
    * `trainCap` (0 = auto, max(256·nlist, 65536)) caps the TRAINING set
    * via a deterministic id-hash sample — assignment always covers the
    * full corpus. */
  def buildIvf(corpus: DataFrame, nlist: Int = 8, maxIter: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainCap: Long = 0): Ivf = {
    val cents = graft.lib.KMeans.centroids(corpus, nlist, maxIter, idCol, vecCol,
      trainCap = trainCap)
    Ivf(cents, assign(cents, corpus, idCol, vecCol))
  }

  /** Persist: centroids as a flat relation, assignments PARTITIONED BY CELL
    * (every probe becomes a planning-time partition-pruned scan). */
  def save(index: Ivf, dir: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    IvfCore.clearRecord(spark, dir)
    index.centroids.toSeq
      .flatMap { case (cid, v) => v.zipWithIndex.map { case (x, i) => (cid, i, x) } }
      .toDF("cid", "dim", "x")
      .coalesce(1) // droplet-sized relation: one file, one commit
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // clustered by cell: one file per (cell, writing task) instead of the
    // tasks × cells fan-out, and AQE coalesces tiny relations to a couple
    // of write tasks — faster save AND faster pruned probes later
    index.assigned.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/assigned")
    IvfCore.writeRecord(spark, dir, "assigned", index.assigned.schema)
  }

  /** Reload a saved index: one scan of the centroids; the assignment
    * table is read with its recorded schema (inferred for an index saved
    * without one). Tombstoned vectors ([[deleteSaved]]) are filtered out
    * with a broadcast anti-join at load — the assignment files themselves
    * are never rewritten. */
  def load(spark: SparkSession, dir: String): Ivf = {
    val cents = IvfCore.readQuantizers(spark, s"$dir/centroids", subspaced = false)
      .getOrElse(-1, Array.empty[(Int, Seq[Double])])
    val assigned = IvfCore.readTable(spark, dir, "assigned")
      .select(col("did"), col("dv"), col("cell").cast("int").as("cell"))
    Ivf(cents, IvfCore.live(spark, dir, assigned))
  }

  /** Tombstone vectors in a SAVED index without rebuilding or rewriting
    * any assignment file: the ids append to a `deleted` relation that
    * [[load]] anti-joins away (broadcast — tombstone sets are tiny next
    * to the corpus). Reclaim the space with [[compactSaved]]; until then
    * deletes are O(|ids|) appends. */
  def deleteSaved(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    IvfCore.deleteIds(spark, dir, ids)

  /** Compaction: physically rewrite the assignment table without the
    * tombstoned rows and clear the `deleted` relation — run when the
    * tombstone set has grown enough that the per-probe anti-join (or the
    * dead bytes on disk) is worth reclaiming. One read + one partitioned
    * write of the LIVE rows; the quantizer is untouched. */
  def compactSaved(spark: SparkSession, dir: String): Unit = {
    val live = load(spark, dir)
    // localCheckpoint breaks the read-from/write-to path dependency
    live.assigned.localCheckpoint(true).repartition(col("cell"))
      .write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/assigned")
    val delPath = new org.apache.hadoop.fs.Path(s"$dir/deleted")
    val fs = delPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(delPath)) fs.delete(delPath, true)
    IvfCore.writeRecord(spark, dir, "assigned", live.assigned.schema)
  }

  /** Assign a new batch against the EXISTING quantizer — the ingest path.
    * Centroids are immutable under extension (retrain only on drift), so
    * extending is ONE narrow map over the batch; nothing of the corpus is
    * re-read or re-assigned. */
  def extend(index: Ivf, newVecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Ivf =
    Ivf(index.centroids, index.assigned.unionByName(
      assign(index.centroids, newVecs, idCol, vecCol)))

  /** Extend a SAVED index in place: assign the batch with the saved
    * centroids and APPEND the new rows to the partitioned assignment table —
    * only the touched cell partitions gain files; existing data is never
    * rewritten. Batch ids take the index's stored id type (a lossless
    * widening is cast; anything else fails before a file is written). */
  def appendSaved(spark: SparkSession, dir: String, newVecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val idx = load(spark, dir)
    IvfCore.conformIds(assign(idx.centroids, newVecs, idCol, vecCol),
        idx.assigned.schema("did").dataType, dir)
      .repartition(col("cell")) // one appended file per touched cell/task
      .write.mode("append").partitionBy("cell").parquet(s"$dir/assigned")
  }

  private def assign(cents: Array[(Int, Seq[Double])], vecs: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    Par.spread(vecs).select(
      col(idCol).as("did"), col(vecCol).cast("array<float>").as("dv"),
      nearestCells(cents, col(vecCol), 1)(0).as("cell"))

  /** Top-k cosine neighbors per query, scanning only each query's `nprobe`
    * nearest cells. The probe-cell union (≤ nprobe × |queries| ints — tiny
    * by construction) is resolved up front so a LOADED index reads only the
    * matching cell partitions. Ranking is deterministic: similarity rounded
    * to 4 decimals, tie-broken by neighbor id. */
  def probe(index: Ivf, queries: DataFrame, k: Int = 3, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // probe cells are computed on the RAW vector — the same arithmetic the
    // corpus assignment used — so quantization is symmetric for any input
    // precision; only the scoring copy is float-cast (cosine's input type)
    val q = queries.select(col(idCol).as("qid"),
        col(vecCol).cast("array<float>").as("qv"),
        explode(nearestCells(index.centroids, col(vecCol), nprobe)).as("cell"))
    val scored = IvfCore.probeJoin(q, index.assigned)
      .select(col("qid"), col("did"),
        Portable.round(Similarity.cosine(col("qv"), col("dv")), 4).as("sim"))
      // zero-norm corpus vectors score NaN, and Spark sorts NaN ABOVE every
      // real double under `desc` — drop them or they steal a top-k slot from
      // a true neighbor for every query probing their cell
      .where(!isnan(col("sim")))
    // bounded-heap per-query top-k (no Window sort of the probed candidates)
    Similarity.rankTopK(scored, k)
  }
}
