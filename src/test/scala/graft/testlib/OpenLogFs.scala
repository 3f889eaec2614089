package graft.testlib

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** A local file system under the `openlog` scheme that records every file
  * it opens for reading, for specs that assert which files an operation
  * reads. `openlog://<local path>` names the same file as `<local path>`. */
class OpenLogFs extends RawLocalFileSystem {
  override def getScheme: String = "openlog"
  override def getUri: java.net.URI = java.net.URI.create("openlog:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenLogFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object OpenLogFs {
  private val opened = new ConcurrentLinkedQueue[String]

  /** Register the scheme with the session's Hadoop configuration. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.openlog.impl", classOf[OpenLogFs].getName)

  /** Run `body` and return its result with the local paths of the files
    * opened through the scheme while it ran. */
  def during[A](body: => A): (A, Set[String]) = {
    opened.clear()
    val out = body
    (out, opened.asScala.toSet)
  }
}
