package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StructType}

/** The published record of a persisted store ([[StateStore]], the IVF
  * indexes of [[IvfCore]]): one small JSON file that a save writes LAST
  * (temp file + rename, so a reader never sees it torn) and every read
  * opens first — store metadata is a file open on the driver, never a
  * listing, a footer-inference job or a scan.
  *
  * It names the `build` (a fresh id per save; a rewrite of the same data,
  * such as a compaction, carries it forward), the schema of the store's
  * data relation and the store's parameters. Driver caches of immutable
  * store parts key on the build: a re-save by any process publishes a new
  * one. Layout:
  * `{"version":2,"build":"<id>","schema":<StructType JSON>,"params":{"<k>":"<v>"}}`. */
private[ops] final case class Record(build: String, schema: StructType,
    params: Map[String, String])

private[ops] object Record {

  val FileName = "_schema.json"
  private val Version = 2

  /** A record for a new build. */
  def fresh(schema: StructType, params: Map[String, String] = Map.empty): Record =
    Record(java.util.UUID.randomUUID().toString, schema, params)

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def publish(spark: SparkSession, dir: String, rec: Record): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val json = JObject(
      "version" -> JInt(Version),
      "build" -> JString(rec.build),
      "schema" -> parse(rec.schema.json),
      "params" -> JObject(rec.params.toList.map { case (k, v) => k -> JString(v) }))
    val tmp = new Path(dir, s".$FileName.tmp")
    val dst = new Path(dir, FileName)
    val f = fs(spark, dst)
    val out = f.create(tmp, true)
    try out.write(compact(render(json)).getBytes("UTF-8"))
    finally out.close()
    f.delete(dst, false)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"could not publish the store record $dst")
  }

  /** The record of the store at `dir`, or None when there is none (never
    * published, removed by a save in progress, or of an older layout). */
  def read(spark: SparkSession, dir: String): Option[Record] = {
    val p = new Path(dir, FileName)
    val text =
      try {
        val in = fs(spark, p).open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      } catch { case _: java.io.FileNotFoundException => return None }
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val j = parse(text)
    if (j \ "version" != JInt(Version)) None
    else Some(Record((j \ "build").values.toString,
      DataType.fromJson(compact(render(j \ "schema"))).asInstanceOf[StructType],
      (j \ "params").values.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.toString }))
  }

  /** Unpublish: a save removes the record first, so a crash part-way
    * leaves a store without one rather than a record over torn data. */
  def remove(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, FileName)
    fs(spark, p).delete(p, false)
    ()
  }

  /** Integral types in widening order: a batch type converts to a stored
    * one only when it comes earlier here (every such cast is lossless). */
  private val Widening: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)

  /** The batch `rows` with column `c` in the store's `stored` type — the one
    * widening rule of every store: the same type (up to nullability) passes, an integral
    * widening (e.g. int → bigint) is cast, anything else fails before a file
    * is written. A store never holds data files of two types for one column,
    * and no cast can merge two distinct keys. `what` names the column's
    * values and `at` the store in the message. */
  def conform(rows: DataFrame, c: String, stored: DataType, what: String,
      at: String): DataFrame = {
    val t = rows.schema(c).dataType
    val (from, to) = (Widening.indexOf(t), Widening.indexOf(stored))
    if (bridge.sameType(t, stored)) rows
    else if (from >= 0 && from < to) rows.withColumn(c, col(c).cast(stored))
    else throw new IllegalArgumentException(
      s"cannot append $what of type ${t.sql} to $at, whose $what are " +
        s"${stored.sql}; cast the batch's $what to ${stored.sql}")
  }
}
