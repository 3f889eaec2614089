package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

/** The persisted IVF (inverted-file) index, written once for both payloads
  * ([[AnnIndex]]: raw vectors, [[PqIndex]]: PQ codes): a coarse quantizer
  * plus the corpus as a table PARTITIONED BY CELL, so a probe reads only
  * its `nprobe` cells — a planning-time partition filter, no runtime trick.
  *
  * On disk, under the index directory: the index's [[Record]] (its build
  * id and the table's schema) and the build directory it names, holding
  *  - `quant` — every quantizer as ONE long-form relation `(s, cid, dim, x)`:
  *    the coarse quantizer at `s = -1`, PQ subquantizer `s` at `s >= 0`;
  *  - the cell-partitioned table (`assigned` or `codes`);
  *  - `deleted` — tombstoned ids, dropped from the table at load.
  * A save (and a compaction, which is a save of the loaded index) commits
  * a new build and reaps the old one, so a failed save leaves the previous
  * index readable; appends and tombstones add files inside the published
  * build (one writer per index at a time).
  *
  * Model-sized relations never cost a Spark job: `quant` and `deleted`
  * are written and read on the driver ([[DriverParquet]]), and an append
  * whose batch fits the session's `spark.sql.autoBroadcastJoinThreshold`
  * is encoded and written there too (the same expressions, evaluated over
  * a local relation); the tombstone read at load stays on the driver while
  * `deleted` fits the threshold. The cell-partitioned table is data-sized:
  * it is read with its recorded schema (no footer-inference job) by Spark,
  * and written by Spark on save. The quantizers never change within a
  * build, so `quant` is read only when the driver does not already hold
  * them for the recorded build: [[Lifecycle.save]] writes them through to
  * a per-directory cache, and a re-save by any process publishes a new
  * build that misses it. */
private[ops] object IvfCore {

  /** Quantizers by subspace: `-1` the coarse quantizer, `s >= 0` the PQ
    * books; each a (cid, centroid) array in cid order. */
  type Quantizers = Map[Int, Array[(Int, Seq[Double])]]

  val QuantSchema: StructType = StructType.fromDDL("s INT, cid INT, dim INT, x DOUBLE")
  private val DeletedSchema = StructType.fromDDL("did BIGINT")

  /** The quantizers of each directory's last saved or loaded build:
    * dir → (build id, quantizers), at most one entry per directory. */
  private val quantCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Quantizers)]()

  /** The quantizers of the build `r` of the index at `dir`: from the cache
    * when it holds that build, else one driver read of `quant`. */
  private def quantizersOf(spark: SparkSession, dir: String, r: Record): Quantizers = {
    val hit = quantCache.get(dir)
    if (hit != null && hit._1 == r.build) hit._2
    else {
      val quant = readQuantizers(spark, s"${r.dir(dir)}/quant")
      quantCache.put(dir, (r.build, quant))
      quant
    }
  }

  /** Write quantizers as the long-form `(s, cid, dim, x)` relation at the
    * fresh build path `path` — the one flattener for index and
    * bare-codebook saves: one file, written on the driver. */
  def writeQuantizers(spark: SparkSession, quant: Quantizers, path: String): Unit =
    DriverParquet(spark).write(QuantSchema, quant.toSeq.sortBy(_._1).iterator.flatMap {
      case (s, book) => book.iterator.flatMap { case (cid, v) =>
        v.iterator.zipWithIndex.map { case (x, i) => InternalRow(s, cid, i, x) } } }, path)

  /** Decode the long-form quantizer relation at `path`, read on the
    * driver. */
  def readQuantizers(spark: SparkSession, path: String): Quantizers =
    DriverParquet(spark).readDir(QuantSchema, path)
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).map { case (s, rs) =>
        s -> rs.groupBy(_._2).toArray.sortBy(_._1)
          .map { case (cid, cs) => (cid, cs.sortBy(_._3).map(_._4).toSeq) }
      }

  /** The probe's query-side join. `side` has one row per (query, probe
    * cell) — `qid`, `cell` and the query's scoring payload — and is
    * collected ONCE, as the executors' compact rows: the probed cells are
    * read off them (so the `table` scan carries them as planning-time
    * `PartitionFilters`), and the scoring join broadcasts a local relation
    * over the same rows, so the query side is never computed twice.
    * Candidates exclude the query's own id. */
  private def probeJoin(side: DataFrame, table: DataFrame): DataFrame = {
    val (rows, local) = bridge.collectLocal(side)
    val cellAt = side.schema.fieldIndex("cell")
    val cells = rows.map(_.getInt(cellAt)).distinct.sorted
    val cand = table.where(col("cell").isin(cells.map(Integer.valueOf): _*))
    broadcast(local).join(cand, Seq("cell")).where(col("qid") =!= col("did"))
  }

  /** One IVF index lifecycle — build-side assignment, save, load, append,
    * tombstone, compaction, extension and the probe's front half — over a
    * payload that supplies only its index type, its quantizers, its
    * per-row encoding and (in its `probe`) its scoring.
    *
    * The quantizers are immutable once trained (retrain only on drift), so
    * every write after `save` touches only the table: an append adds files
    * to the touched cell partitions, a delete appends tombstones, and
    * compaction is the one rewrite. */
  abstract class Lifecycle {

    /** The in-memory index: quantizers plus table rows `(did, payload…, cell)`. */
    type Index

    /** Name of the cell-partitioned table in the index's build directory. */
    private[ops] val table: String

    private[ops] def quantizers(idx: Index): Quantizers
    private[ops] def rows(idx: Index): DataFrame
    private[ops] def index(quant: Quantizers, rows: DataFrame): Index

    /** The payload of table rows: from `(did, __v, cell)` — `__v` the raw
      * vector — to `(did, payload…, cell)`. A per-row projection. */
    protected def encode(quant: Quantizers, rows: DataFrame): DataFrame

    /** `(did, __v, cell)` for `vecs` under `quant`: the cell is the shared
      * quantizer-probe expression ([[graft.lib.KMeans.nearestCentroids]]),
      * so trainer, assignment and probe can never drift. */
    private def cells(quant: Quantizers, vecs: DataFrame,
        idCol: String, vecCol: String): DataFrame =
      vecs.select(col(idCol).as("did"), col(vecCol).as("__v"),
        graft.lib.KMeans.nearestCentroids(quant(-1), col(vecCol), 1)(0).as("cell"))

    /** Table rows for `vecs` under `quant`: ONE narrow pass computing the
      * cell and the payload of each row. */
    protected def assign(quant: Quantizers, vecs: DataFrame,
        idCol: String, vecCol: String): DataFrame =
      encode(quant, cells(quant, Par.spread(vecs), idCol, vecCol))

    /** Persist as a new build: the quantizers as one `quant` relation, the
      * table PARTITIONED BY CELL (every probe becomes a planning-time
      * partition-pruned scan). The build of an index previously saved in
      * `dir`, tombstones included, is reaped once the new one is published. */
    def save(idx: Index, dir: String): Unit = {
      val spark = rows(idx).sparkSession
      val quant = quantizers(idx)
      val rec = Record.commit(spark, dir, rows(idx).schema) { build =>
        writeQuantizers(spark, quant, s"$build/quant")
        // clustered by cell: one file per (cell, writing task) instead of
        // the tasks × cells fan-out, and AQE coalesces tiny relations to a
        // couple of write tasks — faster save AND faster pruned probes later
        rows(idx).repartition(col("cell")).write
          .partitionBy("cell").parquet(s"$build/$table")
      }
      // write-through, in the cid order a `quant` scan decodes
      quantCache.put(dir, (rec.build, quant.map { case (s, book) => s -> book.sortBy(_._1) }))
    }

    private def record(spark: SparkSession, dir: String): Record =
      Record.open(spark, dir, "rebuild and re-save the index with " +
        s"${getClass.getSimpleName.stripSuffix("$")}.save")

    /** Reload a saved index: the quantizers of the recorded build (a read
      * of `quant` only when the driver does not hold them), the table read
      * with its recorded schema, and tombstoned ids ([[deleteSaved]])
      * dropped — the table files themselves are never rewritten. When
      * `deleted` fits the broadcast threshold its ids are read on the
      * driver and filtered out with `NOT did IN (ids)` (an `InSet`); above
      * it, a broadcast anti-join drops them. */
    def load(spark: SparkSession, dir: String): Index = {
      val r = record(spark, dir)
      val build = r.dir(dir)
      val t = spark.read.schema(r.schema).parquet(s"$build/$table")
      val io = DriverParquet(spark)
      val tombs = io.files(s"$build/deleted")
      val live =
        if (tombs.isEmpty) t
        else if (bridge.fits(spark, tombs.map(f => BigInt(f.getLen)).sum)) {
          val ids = io.read(DeletedSchema, tombs).map(_.getLong(0)).distinct
          // a null did matches no tombstone and stays, as in the anti-join
          t.where(!coalesce(col("did").isin(ids.toSeq: _*), lit(false)))
        } else
          t.join(broadcast(spark.read.schema(DeletedSchema).parquet(s"$build/deleted")),
            Seq("did"), "left_anti")
      index(quantizersOf(spark, dir, r), live)
    }

    /** Assign a new batch against the EXISTING quantizers — the ingest
      * path. One narrow map over the batch; nothing of the corpus is
      * re-read or re-assigned. */
    def extend(idx: Index, newVecs: DataFrame,
        idCol: String = "vec_id", vecCol: String = "embedding"): Index = {
      val quant = quantizers(idx)
      index(quant, rows(idx).unionByName(assign(quant, newVecs, idCol, vecCol)))
    }

    /** Extend a SAVED index in place: encode the batch with the saved
      * quantizers and APPEND its rows to the table — only the touched cell
      * partitions gain files; existing data is never rewritten. Batch ids
      * take the index's stored id type (a lossless widening is cast;
      * anything else fails before a file is written). A batch whose
      * planned size fits the broadcast threshold is collected once and
      * encoded and written on the driver, one file per touched cell. */
    def appendSaved(spark: SparkSession, dir: String, newVecs: DataFrame,
        idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
      val r = record(spark, dir)
      val quant = quantizersOf(spark, dir, r)
      val path = s"${r.dir(dir)}/$table"
      def typed(batch: DataFrame): DataFrame = Record.conform(cells(quant, batch, idCol, vecCol),
        "did", r.schema("did").dataType, "ids", s"the index at $dir")
      val batch = newVecs.select(col(idCol), col(vecCol))
      val planned = typed(batch) // a lossy id type is refused before anything runs
      val io = DriverParquet(spark)
      if (bridge.fits(spark, batch.queryExecution.optimizedPlan.stats.sizeInBytes)) {
        // the encode folds into the local relation: evaluated on the driver
        val encoded = encode(quant, typed(bridge.collectLocal(batch)._2))
        io.writePartitioned(encoded.schema, bridge.collectRows(encoded).toSeq, "cell", path)
      } else
        // ONE shuffle: each row moves to its cell's write task (one appended
        // file per touched cell/task) and is encoded there, in parallel
        // across the cells — no spreading shuffle ahead of the encode
        encode(quant, planned.repartition(col("cell")))
          .write.mode("append").partitionBy("cell").parquet(path)
    }

    /** Tombstone vectors in a SAVED index: the ids append, as one file
      * written on the driver, to the build's `deleted` relation that
      * [[load]] drops from the table; no table file is rewritten, and
      * probes exclude the ids immediately. Reclaim the space with
      * [[compactSaved]]. */
    def deleteSaved(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
      DriverParquet(spark).write(DeletedSchema, ids.iterator.map(InternalRow(_)),
        s"${record(spark, dir).dir(dir)}/deleted")

    /** Compaction: the live rows (tombstones dropped) saved as a
      * new build — run when the tombstone set has grown enough that the
      * per-probe tombstone filter (or the dead bytes on disk) is worth reclaiming.
      * The new build is written beside the one it reads, and the held
      * quantizers are written through, so the next load runs no job. */
    def compactSaved(spark: SparkSession, dir: String): Unit = save(load(spark, dir), dir)

    /** The probe's front half: each query's scoring columns `side` (`qid`
      * first) exploded over its `nprobe` nearest cells — computed on the
      * RAW query vector, the same arithmetic the assignment used — joined
      * to the rows of the probed cells, and scored by `sim`; the result
      * keeps the `keep` columns and `sim`. */
    protected def scored(idx: Index, queries: DataFrame, nprobe: Int, vecCol: String,
        side: Seq[Column], sim: Column, keep: String*): DataFrame = {
      val q = queries.select(side :+ explode(graft.lib.KMeans.nearestCentroids(
        quantizers(idx)(-1), col(vecCol), nprobe)).as("cell"): _*)
      probeJoin(q, rows(idx)).select(keep.map(col) :+ sim.as("sim"): _*)
        // zero-norm corpus vectors score NaN, and Spark sorts NaN ABOVE
        // every real double under `desc` — drop them or they steal a top-k
        // slot from a true neighbor for every query probing their cell
        .where(!isnan(col("sim")))
    }
  }
}
