package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StructType}

/** The published record of a persisted store ([[StateStore]], the IVF
  * indexes of [[IvfCore]], [[Pq]] codebooks, the [[Bpe]] tokenizer, the
  * [[Unigram]] model, the [[Shuffling]] item index) and the one way they
  * all commit. Under the store directory `<dir>`:
  *  - `build-<id>/` holds the relations one save wrote (a fresh id per save);
  *  - `_schema.json`, the record, names the build, the main relation's
  *    schema and the store's params:
  *    `{"version":3,"build":"<id>","schema":<StructType JSON>,"params":{...}}`.
  * [[commit]] fills a fresh build directory, publishes the record by temp
  * file + rename (never seen torn), then reaps every OTHER `build-` entry;
  * nothing else under `<dir>` is touched. A save that fails before the
  * rename leaves the previous record and build readable, and the next
  * commit reaps its partial build. Every read opens the record first (a
  * file open, never a listing or a job) and works inside its build; driver
  * caches of immutable store parts key on the build id. One writer per
  * store at a time. [[open]] refuses a directory without a version-3
  * record (never saved, or an older layout), naming the save to re-run. */
private[ops] final case class Record(build: String, schema: StructType,
    params: Map[String, String]) {

  /** This build's directory under the store directory `dir`. */
  def dir(store: String): String = s"$store/${Record.Prefix}$build"
}

private[ops] object Record {

  val FileName = "_schema.json"
  private val Prefix = "build-"
  private val Version = 3

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit a new build of the store at `dir`: `write` fills the fresh
    * build directory it is given. Returns the published record. */
  def commit(spark: SparkSession, dir: String, schema: StructType,
      params: Map[String, String] = Map.empty)(write: String => Unit): Record = {
    val rec = Record(java.util.UUID.randomUUID().toString, schema, params)
    write(rec.dir(dir))
    publish(spark, dir, rec)
    val f = fs(spark, new Path(dir))
    f.listStatus(new Path(dir)).map(_.getPath)
      .filter(p => p.getName.startsWith(Prefix) && p.getName != Prefix + rec.build)
      .foreach(f.delete(_, true))
    rec
  }

  private def publish(spark: SparkSession, dir: String, rec: Record): Unit = {
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
    // a POSIX rename replaces the old record atomically; a file system whose
    // rename refuses an existing target gets the delete first
    if (!f.rename(tmp, dst) && !(f.delete(dst, false) && f.rename(tmp, dst)))
      throw new java.io.IOException(s"could not publish the store record $dst")
  }

  /** The record of the store at `dir`; anything else is refused, with
    * `redo`, the save that writes the current layout. */
  def open(spark: SparkSession, dir: String, redo: String): Record = {
    val p = new Path(dir, FileName)
    def refuse = new IllegalStateException(s"no store at $dir in the current layout " +
      s"(a version-$Version $FileName naming its build); $redo")
    val text =
      try {
        val in = fs(spark, p).open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      } catch { case _: java.io.FileNotFoundException => throw refuse }
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val j = parse(text)
    if (j \ "version" != JInt(Version)) throw refuse
    Record((j \ "build").values.toString,
      DataType.fromJson(compact(render(j \ "schema"))).asInstanceOf[StructType],
      (j \ "params").values.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.toString })
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
