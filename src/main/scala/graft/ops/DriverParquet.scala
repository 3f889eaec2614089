package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Parquet relations read and written ON THE DRIVER, through Spark's own
  * `ParquetFileFormat`: no Spark job, no commit protocol. A store
  * operation on a relation that fits the caller's
  * `spark.sql.autoBroadcastJoinThreshold` (`bridge.fits` — the size Spark
  * already moves through the driver for a broadcast; `-1` keeps every
  * operation on Spark) runs here instead of paying a job's fixed latency.
  *
  * The files are the ones a Spark write of the same rows produces: the
  * format's `prepareWrite` sets up the job configuration and its
  * `OutputWriterFactory` writes each file (Spark's footer and schema
  * metadata, `part-00000-<uuid>-c000.<codec>.parquet` names), and reads go
  * through the format's `buildReaderWithPartitionValues`, so both paths
  * read and write each other's files. A file is written under a hidden
  * name and renamed into place, so a reader never sees it torn; what it
  * does not write is the committer's `_temporary` tree and `_SUCCESS`
  * marker. One instance per operation: it holds the session's Hadoop
  * configuration. */
private[ops] final class DriverParquet(spark: SparkSession) {

  private val conf = bridge.hadoopConf(spark)

  /** The data files directly under `dir`, in name order (names starting
    * `_` or `.` are not data, as in Spark's file index); none when `dir`
    * does not exist. One listing. */
  def files(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    try p.getFileSystem(conf).listStatus(p).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Every row of `files`, read with the data schema `schema`. */
  def read(schema: StructType, files: Seq[FileStatus]): Array[InternalRow] =
    read(schema, new StructType(), files.map(_ -> InternalRow.empty))

  /** Every row of the data files directly under `dir`. */
  def readDir(schema: StructType, dir: String): Array[InternalRow] = read(schema, files(dir))

  /** Every row of `files`, each file with its partition values: rows of
    * `schema` followed by `partSchema`, copied out of the reader's
    * buffers. The reader is built once for all the files. */
  def read(schema: StructType, partSchema: StructType,
      files: Seq[(FileStatus, InternalRow)]): Array[InternalRow] =
    if (files.isEmpty) Array.empty
    else {
      val reader = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        partSchema, schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
      val copy = UnsafeProjection.create(StructType(schema.fields ++ partSchema.fields))
      files.iterator.flatMap { case (f, part) =>
        reader(PartitionedFile(part, SparkPath.fromFileStatus(f), 0, f.getLen,
          Array.empty, f.getModificationTime, f.getLen)).map(r => copy(r).copy())
      }.toArray
    }

  /** Write `rows` of `schema` as ONE file in `dir`. */
  def write(schema: StructType, rows: Iterator[InternalRow], dir: String): Unit = {
    val job = Job.getInstance(conf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(dir))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val uuid = java.util.UUID.randomUUID().toString
    val attempt = new TaskAttemptID(new TaskID(new JobID(uuid, 0), TaskType.MAP, 0), 0)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, attempt)
    val name = s"part-00000-$uuid-c000${factory.getFileExtension(ctx)}"
    val (hidden, dst) = (new Path(dir, s".$name"), new Path(dir, name))
    val w = factory.newInstance(hidden.toString, schema, ctx)
    try rows.foreach(w.write) finally w.close()
    val fs = dst.getFileSystem(conf)
    if (!fs.rename(hidden, dst))
      throw new java.io.IOException(s"could not move the written file $hidden to $dst")
  }

  /** Write `rows` of `schema` partitioned by its int column `partCol`:
    * ONE file per value `v` under `dir/partCol=v`, holding the other
    * columns (the layout of `partitionBy(partCol)`). */
  def writePartitioned(schema: StructType, rows: Seq[InternalRow], partCol: String,
      dir: String): Unit = {
    val at = schema.fieldIndex(partCol)
    require(schema(at).dataType == IntegerType, s"partition column $partCol is not INT")
    val data = StructType(schema.fields.filterNot(_.name == partCol))
    val project = UnsafeProjection.create(data.fields.toSeq.map(f =>
      BoundReference(schema.fieldIndex(f.name), f.dataType, f.nullable)))
    rows.groupBy(_.getInt(at)).toSeq.sortBy(_._1).foreach { case (v, part) =>
      write(data, part.iterator.map(project), s"$dir/$partCol=$v")
    }
  }
}

private[ops] object DriverParquet {
  def apply(spark: SparkSession): DriverParquet = new DriverParquet(spark)
}
