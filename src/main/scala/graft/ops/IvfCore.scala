package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *  - `deleted` — tombstoned ids, anti-joined away at load.
  * A save (and a compaction, which is a save of the loaded index) commits
  * a new build and reaps the old one, so a failed save leaves the previous
  * index readable; appends and tombstones add files inside the published
  * build (one writer per index at a time).
  *
  * Every read here is at most ONE planned scan, and a load right after a
  * save costs no Spark job. A `spark.read.parquet(dir)` with no schema runs
  * a footer-inference job first (≈100 ms of job floor for a droplet-sized
  * relation), so `deleted` is read with the schema the code fixes and the
  * table (whose `did` takes the corpus id's type) with the recorded one.
  * The quantizers never change within a build, so `quant` is scanned only
  * when the driver does not already hold them for the recorded build:
  * [[Lifecycle.save]] writes them through to a per-directory cache, and a
  * re-save by any process publishes a new build that misses it. */
private[ops] object IvfCore {

  /** Quantizers by subspace: `-1` the coarse quantizer, `s >= 0` the PQ
    * books; each a (cid, centroid) array in cid order. */
  type Quantizers = Map[Int, Array[(Int, Seq[Double])]]

  val QuantSchema: StructType = StructType.fromDDL("s INT, cid INT, dim INT, x DOUBLE")
  private val DeletedSchema = "did BIGINT"

  /** The quantizers of each directory's last saved or loaded build:
    * dir → (build id, quantizers), at most one entry per directory. */
  private val quantCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Quantizers)]()

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The quantizers of the build `r` of the index at `dir`: from the cache
    * when it holds that build, else one scan of `quant`. */
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
    * bare-codebook saves. */
  def writeQuantizers(spark: SparkSession, quant: Quantizers, path: String): Unit = {
    import spark.implicits._
    quant.toSeq.sortBy(_._1).flatMap { case (s, book) =>
      book.toSeq.flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (x, i) => (s, cid, i, x) } } }
      .toDF("s", "cid", "dim", "x")
      .coalesce(1) // droplet-sized relation: one file, one commit
      .write.parquet(path)
  }

  /** Decode the long-form quantizer relation at `path`, from one
    * known-schema scan. */
  def readQuantizers(spark: SparkSession, path: String): Quantizers =
    spark.read.schema(QuantSchema).parquet(path).collect()
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

    /** The published build directory of the index at `dir` and the index
      * it holds: the quantizers of the recorded build (a scan of `quant`
      * only when the driver does not hold them), the table read with its
      * recorded schema, and tombstoned ids ([[deleteSaved]]) dropped with a
      * broadcast anti-join — the table files themselves are never
      * rewritten. */
    private def opened(spark: SparkSession, dir: String): (String, Index) = {
      val r = record(spark, dir)
      val build = r.dir(dir)
      val t = spark.read.schema(r.schema).parquet(s"$build/$table")
      val live =
        if (exists(spark, s"$build/deleted"))
          t.join(broadcast(spark.read.schema(DeletedSchema).parquet(s"$build/deleted")),
            Seq("did"), "left_anti")
        else t
      (build, index(quantizersOf(spark, dir, r), live))
    }

    /** Reload a saved index: its quantizers and its live rows. */
    def load(spark: SparkSession, dir: String): Index = opened(spark, dir)._2

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
      * anything else fails before a file is written). */
    def appendSaved(spark: SparkSession, dir: String, newVecs: DataFrame,
        idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
      val (build, idx) = opened(spark, dir)
      val quant = quantizers(idx)
      // ONE shuffle: each row moves to its cell's write task (one appended
      // file per touched cell/task) and is encoded there, in parallel
      // across the cells — no spreading shuffle ahead of the encode
      Record.conform(encode(quant, cells(quant, newVecs, idCol, vecCol)
            .repartition(col("cell"))), "did",
          rows(idx).schema("did").dataType, "ids", s"the index at $dir")
        .write.mode("append").partitionBy("cell").parquet(s"$build/$table")
    }

    /** Tombstone vectors in a SAVED index: the ids append to the build's
      * `deleted` relation that [[load]] anti-joins away (broadcast —
      * tombstone sets are tiny next to the corpus); no table file is
      * rewritten, and probes exclude the ids immediately. Reclaim the space
      * with [[compactSaved]]. */
    def deleteSaved(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
      import spark.implicits._
      ids.toDF("did").coalesce(1)
        .write.mode("append").parquet(s"${record(spark, dir).dir(dir)}/deleted")
    }

    /** Compaction: the live rows (tombstones anti-joined away) saved as a
      * new build — run when the tombstone set has grown enough that the
      * per-probe anti-join (or the dead bytes on disk) is worth reclaiming.
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
