package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

/** Persisted keyed state with IndexedRDD-class point updates.
  *
  * The reference backs `MutableBag` with AMPLab IndexedRDD precisely so a
  * small update touches only the partitions holding the updated keys
  * (emma-spark SparkMutableBag.scala:22,39-50). Spark Datasets have no
  * in-memory index, so [[graft.api.MutableBag]] keeps IN-FLIGHT loop state
  * hash-partitioned (zero state Exchange per round) but still scans the
  * whole state each round ([[graft.api.PointBag]] closes that IN-FLIGHT
  * half at the RDD tier). This store closes the AT-REST half of the gap:
  * state persists Hive-partitioned by a stable key bucket, and a point
  * update
  *   1. resolves the delta's bucket set and keys on the driver (the tiny
  *      delta is collected once — no job at all for a local one),
  *   2. reads ONLY those bucket partitions — a planning-time
  *      `PartitionFilters` prune, no runtime trick,
  *   3. merges upserts/deletes relationally, and
  *   4. rewrites ONLY the touched bucket directories (dynamic partition
  *      overwrite; untouched buckets' files are never opened or replaced).
  * Work per update is O(|delta| + |state| · touched/nBuckets) instead of
  * O(|state|): at 100 TB with 4096 buckets, a 1000-key delta reads and
  * rewrites ≲ 1000/4096 of the state in the worst case, typically far less.
  *
  * Contract: the state relation is UNIQUE per key, and so is each delta
  * (one decision per key per update). Lookups get the same pruning: a
  * point read opens only the buckets that can hold the probed keys.
  *
  * Size rule: when the touched buckets' files fit the caller's
  * `spark.sql.autoBroadcastJoinThreshold` (the size Spark already moves
  * through the driver for a broadcast), a lookup or an update reads them
  * on the driver ([[DriverParquet]]) and applies the same Catalyst filter
  * to a local relation, and an update writes its merged buckets from the
  * driver: no Spark job at all for a local delta. Such a lookup is EAGER —
  * it returns the rows as of the call. Above the threshold (or at `-1`)
  * the touched buckets are a pruned Spark scan and the merge one Spark
  * write, as described above.
  *
  * On disk: the store's [[Record]] (key column, `nBuckets`, data schema)
  * and its build directory, holding `data/bucket=<b>/`. [[create]]
  * commits a new build (a failed re-create leaves the old store readable);
  * [[upsert]] swaps buckets inside the published build; one writer at a
  * time. Every read and update opens the record (a file open, no job) and
  * scans with its schema, so a re-created store is seen at once.
  */
object StateStore {

  /** Store metadata, from the store's record. */
  case class Meta(keyCol: String, nBuckets: Int)

  /** Stable bucket of a key — engine-portable (first 8 md5 hex chars mod
    * nBuckets), so any writer/reader agrees on placement forever. */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(nBuckets.toLong)).cast("int")

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def record(spark: SparkSession, path: String): Record =
    Record.open(spark, path, "re-create the store with StateStore.create")

  private def dataOf(r: Record, path: String): String = s"${r.dir(path)}/data"

  private def metaOf(r: Record): Meta =
    Meta(r.params("key_col"), r.params("n_buckets").toInt)

  /** The partition column of the data files. */
  private val BucketSchema = StructType.fromDDL("bucket INT")

  /** The schema of the data files' scan: the recorded columns + `bucket`. */
  private def scanSchema(r: Record): StructType = StructType(r.schema ++ BucketSchema)

  /** Materialize a new store at `path`: data Hive-partitioned by bucket
    * in a new build, then the record. Replaces any existing store. */
  def create(state: DataFrame, keyCol: String, nBuckets: Int, path: String): Unit = {
    require(nBuckets >= 1 && nBuckets <= 65536,
      s"nBuckets must be in [1, 65536]: $nBuckets")
    Record.commit(state.sparkSession, path, state.schema,
        Map("key_col" -> keyCol, "n_buckets" -> nBuckets.toString)) { build =>
      // cluster by bucket before the partitioned write: without it every
      // input task writes a file into EVERY bucket it sees (tasks × buckets
      // files — the small-files explosion that slows every later pruned
      // read); clustered, each bucket gets one file per writing task and
      // AQE coalesces the tiny case to a handful of tasks
      state.withColumn("bucket", bucketOf(col(keyCol), nBuckets))
        .repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(s"$build/data")
    }
    ()
  }

  def meta(spark: SparkSession, path: String): Meta = metaOf(record(spark, path))

  /** The full state (no pruning), bucket column dropped. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val r = record(spark, path)
    spark.read.schema(scanSchema(r)).parquet(dataOf(r, path)).drop("bucket")
  }

  /** The touched buckets' rows, `(recorded columns…, bucket)`: ONE listing
    * per named bucket directory, so the listing (and the read) is
    * O(touched), independent of how many buckets the store has grown to.
    * When their files fit the broadcast threshold they are read on the
    * driver into a local relation; otherwise the frame is a Spark scan of
    * ONLY those directories (basePath keeps `bucket` a partition column) —
    * a plain `.where(bucket IN ...)` over the store root would still prune
    * the SCAN but pay an O(nBuckets) listing first. The recorded schema
    * spares the footer-inference job. None when none of the buckets hold
    * files yet (a delta of pure inserts into virgin buckets). */
  private def touched(spark: SparkSession, io: DriverParquet, path: String, r: Record,
      buckets: Seq[Int]): Option[DataFrame] = {
    val root = dataOf(r, path)
    val listed = buckets.sorted.map(b => b -> io.files(s"$root/bucket=$b")).filter(_._2.nonEmpty)
    if (listed.isEmpty) None
    else if (bridge.fits(spark, listed.flatMap(_._2).map(f => BigInt(f.getLen)).sum))
      Some(bridge.localRelation(spark, bridge.asNullable(scanSchema(r)),
        io.read(r.schema, BucketSchema,
          listed.flatMap { case (b, fs) => fs.map(_ -> InternalRow(b)) }).toSeq))
    else
      Some(spark.read.schema(scanSchema(r)).option("basePath", root)
        .parquet(listed.map { case (b, _) => s"$root/bucket=$b" }: _*)
        .where(col("bucket").isin(buckets.map(Integer.valueOf): _*)))
  }

  /** Point lookup: rows for `keys`, reading ONLY the buckets that can hold
    * them. `keys` is a driver-side point set by contract (that is what a
    * point lookup IS); each key buckets through the same portable hash the
    * writer used, so the directory set is exact. When the touched buckets
    * fit the broadcast threshold the result is EAGER: it holds the rows as
    * of the call, read on the driver, and collecting it runs no job. */
  def lookup(spark: SparkSession, path: String, keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "lookup needs at least one key")
    val r = record(spark, path)
    val m = metaOf(r)
    val buckets = keys.map(k => bucketOfLocal(k.toString, m.nBuckets)).distinct
    touched(spark, DriverParquet(spark), path, r, buckets) match {
      case Some(df) =>
        df.where(col(m.keyCol).cast("string").isin(keys.map(_.toString): _*))
          .drop("bucket")
      case None => spark.createDataFrame(java.util.Collections.emptyList[Row](), r.schema)
    }
  }

  /** Driver-side twin of [[bucketOf]] (same md5-prefix arithmetic). */
  private[ops] def bucketOfLocal(key: String, nBuckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % nBuckets).toInt
  }

  /** Point update: apply `delta` (the state's columns, keyed by the
    * store's key column, plus an optional boolean `deleteCol` marking
    * tombstones) touching only the buckets the delta's keys hash to.
    * Non-tombstone delta rows REPLACE the key's state row (or insert it);
    * tombstones remove the key. Delta columns take the recorded types (an
    * integral widening is cast, anything else refused before a file is
    * written). The delta is collected to the driver once (tiny by
    * contract — this is the POINT-update path; bulk rewrites should rebuild
    * with [[create]]), and its rows give the touched buckets and the
    * replaced keys. When the touched buckets fit the broadcast threshold
    * the merge runs on the driver and each non-empty merged bucket is
    * written as one file from there: no job for a local delta. */
  def upsert(spark: SparkSession, path: String, delta: DataFrame,
      deleteCol: Option[String] = None): Unit = {
    val r = record(spark, path)
    val m = metaOf(r)
    val at = s"the store at $path"
    val extra = delta.columns.toSet -- r.schema.fieldNames -- deleteCol
    require(extra.isEmpty, s"cannot upsert columns ${extra.mkString(", ")} into $at")
    val typed = r.schema.fields.foldLeft(delta)((d, f) =>
      Record.conform(d, f.name, f.dataType, s"`${f.name}` values", at))
    // ONE collect (no job for a local delta, one scan for a micro-batch):
    // buckets and keys are read off the rows, and the merged write below
    // unions a local relation over the same rows — no distinct probe, no
    // delta cache and no anti-join build
    val (rows, local) = bridge.collectLocal(typed.select(
      (r.schema.fieldNames.toSeq.map(col) ++
        deleteCol.map(c => coalesce(col(c), lit(false)).as(c)) :+
        bucketOf(col(m.keyCol), m.nBuckets).as("bucket")): _*))
    if (rows.isEmpty) return
    val (keyAt, bucketAt) = (r.schema.fieldIndex(m.keyCol), local.schema.fieldIndex("bucket"))
    require(!rows.exists(_.isNullAt(keyAt)), s"null `${m.keyCol}` in the delta for $at")
    val buckets = rows.map(_.getInt(bucketAt)).distinct.toSeq
    val keyType = r.schema(keyAt).dataType
    val keys = rows.map(_.get(keyAt, keyType)).distinct
      .map(k => bridge.column(Literal(k, keyType))).toSeq

    val upserts = deleteCol match {
      case Some(c) => local.where(!col(c)).drop(c)
      case None    => local
    }
    val io = DriverParquet(spark)
    val old = touched(spark, io, path, r, buckets)
    def kept(o: DataFrame) = o.where(!col(m.keyCol).isin(keys: _*))
    // the merged touched buckets write to a TEMP dir (reading the OLD
    // bucket files — no read-your-own-write, so no materializing
    // checkpoint job), one file per touched bucket (store file population
    // stays O(buckets), not O(buckets × batches)). The driver then swaps
    // the touched bucket DIRECTORIES in: a touched bucket absent from the
    // temp output had every key tombstoned and is simply deleted — which
    // retires the extra "which buckets still have rows" job the previous
    // dynamic-partition-overwrite design needed. Per-bucket dir swap has
    // the same non-atomicity across buckets the dynamic overwrite had; its
    // temp dir lives in the build, so a re-create reaps a crash's leftovers.
    val root = dataOf(r, path)
    val tmp = s"${r.dir(path)}/.upsert_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
    old match {
      case Some(o) if !o.isLocal =>
        // ONE job, AQE off for this write only, on a per-call clone
        // (`bridge.isolated`), clustered by bucket
        bridge.isolated(kept(o).unionByName(upserts), bridge.aqeOff)
          .repartition(buckets.size, col("bucket")).write.mode("overwrite")
          .partitionBy("bucket").parquet(tmp)
      case _ =>
        // both sides fold to local relations: merged on the driver, no job
        val merged = old.fold(Array.empty[InternalRow])(o => bridge.collectRows(kept(o))) ++
          bridge.collectRows(upserts)
        io.writePartitioned(upserts.schema, merged.toSeq, "bucket", tmp)
    }
    val f = fs(spark, new Path(root))
    buckets.foreach { b =>
      val src = new Path(s"$tmp/bucket=$b")
      val dst = new Path(s"$root/bucket=$b")
      if (f.exists(dst)) f.delete(dst, true)
      if (f.exists(src) && !f.rename(src, dst)) // the temp dir keeps the rows
        throw new java.io.IOException(
          s"could not move bucket $b of the store at $path to $dst; its rows are kept in $tmp")
    }
    f.delete(new Path(tmp), true)
    ()
  }
}
