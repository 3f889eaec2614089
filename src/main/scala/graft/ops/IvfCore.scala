package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StructType}

/** What the two persisted IVF indexes ([[AnnIndex]], [[PqIndex]]) share
  * below their payloads: the schema record, known-schema reads of the
  * relations they write, the long-form quantizer decoder, tombstones, and
  * the probe's query-side resolution.
  *
  * Every read here is ONE planned scan. A `spark.read.parquet(dir)` with no
  * schema runs a footer-inference job first (≈100 ms of job floor for a
  * droplet-sized relation), so relations whose schema the code fixes are
  * read with that schema, and the one relation whose schema depends on the
  * corpus (the cell-partitioned `assigned`/`codes` table: `did` takes the
  * corpus id's type) is read with the schema recorded at save time.
  * Indexes saved before the record existed fall back to inference. */
private[ops] object IvfCore {

  /** The schema record: a JSON file beside the index relations, written
    * LAST by a save or compaction (and removed first by a save), so it only
    * ever describes relations that are fully written. Layout:
    * `{"version":1,"relations":{"<name>":<Spark StructType JSON>}}`. */
  private val RecordName = "_schema.json"

  private val CentroidSchema = "cid INT, dim INT, x DOUBLE"
  private val QuantSchema = "s INT, cid INT, dim INT, x DOUBLE"
  private val DeletedSchema = "did BIGINT"

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, p).exists(p)
  }

  /** Drop the record before a save overwrites the relations it describes:
    * a save that dies midway leaves no record, and readers infer. */
  def clearRecord(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, RecordName)
    fs(spark, p).delete(p, false)
    ()
  }

  /** Publish the record (temp file + rename: a reader never sees it torn). */
  def writeRecord(spark: SparkSession, dir: String, name: String,
      schema: StructType): Unit = {
    val tmp = new Path(dir, s".$RecordName.tmp")
    val dst = new Path(dir, RecordName)
    val f = fs(spark, dst)
    val out = f.create(tmp, true)
    try out.write(s"""{"version":1,"relations":{"$name":${schema.json}}}""".getBytes("UTF-8"))
    finally out.close()
    f.delete(dst, false)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"could not publish the schema record $dst")
  }

  /** The recorded schema of relation `name`, or None for an index saved
    * without a record. */
  def recordedSchema(spark: SparkSession, dir: String,
      name: String): Option[StructType] = {
    val p = new Path(dir, RecordName)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      import org.json4s._
      import org.json4s.jackson.JsonMethods.{compact, parse, render}
      parse(text) \ "relations" \ name match {
        case JNothing => None
        case s => Some(DataType.fromJson(compact(render(s))).asInstanceOf[StructType])
      }
    }
  }

  /** The cell-partitioned table `dir/name`, read with its recorded schema
    * (no inference job), or inferred when the index has no record. */
  def readTable(spark: SparkSession, dir: String, name: String): DataFrame =
    recordedSchema(spark, dir, name) match {
      case Some(s) => spark.read.schema(s).parquet(s"$dir/$name")
      case None => spark.read.parquet(s"$dir/$name")
    }

  /** Decode a long-form quantizer relation — `(s, cid, dim, x)` rows, or
    * `(cid, dim, x)` for a single quantizer, keyed `s = -1` — into
    * `s → (cid, centroid)*` in cid order, from one known-schema scan. */
  def readQuantizers(spark: SparkSession, path: String,
      subspaced: Boolean): Map[Int, Array[(Int, Seq[Double])]] = {
    val rows =
      if (subspaced) spark.read.schema(QuantSchema).parquet(path)
      else spark.read.schema(CentroidSchema).parquet(path)
        .select(lit(-1), col("cid"), col("dim"), col("x"))
    rows.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).map { case (s, rs) =>
        s -> rs.groupBy(_._2).toArray.sortBy(_._1)
          .map { case (cid, cs) => (cid, cs.sortBy(_._3).map(_._4).toSeq) }
      }
  }

  /** Tombstone ids: append them to `dir/deleted`, which [[live]]
    * anti-joins away — no data file is rewritten. */
  def deleteIds(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("did").coalesce(1)
      .write.mode("append").parquet(s"$dir/deleted")
  }

  /** `table` without the tombstoned ids (a broadcast anti-join — tombstone
    * sets are tiny next to the corpus). */
  def live(spark: SparkSession, dir: String, table: DataFrame): DataFrame =
    if (exists(spark, s"$dir/deleted"))
      table.join(broadcast(spark.read.schema(DeletedSchema).parquet(s"$dir/deleted")),
        Seq("did"), "left_anti")
    else table

  /** Id types in widening order: a batch id type converts to a stored one
    * only when it comes earlier here (every such cast is lossless). */
  private val IdWidening: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)

  /** The batch `rows` with `did` in the index's stored id type: the same
    * type passes, an integral widening (e.g. int → bigint) is cast,
    * anything else fails — one index never holds data files of two id
    * types, and no cast can merge two distinct ids. */
  def conformIds(rows: DataFrame, stored: DataType, dir: String): DataFrame = {
    val t = rows.schema("did").dataType
    val (from, to) = (IdWidening.indexOf(t), IdWidening.indexOf(stored))
    if (t == stored) rows
    else if (from >= 0 && from < to) rows.withColumn("did", col("did").cast(stored))
    else throw new IllegalArgumentException(
      s"cannot append ids of type ${t.sql} to the index at $dir, whose ids " +
        s"are ${stored.sql}; cast the batch's id column to ${stored.sql}")
  }

  /** The probe's front half, shared by both indexes. `side` has one row per
    * (query, probe cell) — `qid`, `cell` and the query's scoring payload —
    * and is collected ONCE, as the executors' compact rows: the probed
    * cells are read off them (so the `table` scan carries them as
    * planning-time `PartitionFilters`), and the scoring join broadcasts a
    * local relation over the same rows, so the query side is never
    * computed twice. Candidates exclude the query's own id. */
  def probeJoin(side: DataFrame, table: DataFrame): DataFrame = {
    val (rows, local) = bridge.collectLocal(side)
    val cellAt = side.schema.fieldIndex("cell")
    val cells = rows.map(_.getInt(cellAt)).distinct.sorted
    val cand = table.where(col("cell").isin(cells.map(Integer.valueOf): _*))
    broadcast(local).join(cand, Seq("cell")).where(col("qid") =!= col("did"))
  }
}
