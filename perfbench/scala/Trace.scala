package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the client made: the module it entered, its latency,
  * and how much of it was spent before the terminal action (`buildMs`; 0
  * when the call has no separate action). */
final case class Span(id: Int, pass: Int, name: String, layer: String,
    kind: String, ms: Double, buildMs: Double)

/** Local file system that counts the Hadoop calls the persisted
  * structures make. Installed only in traced runs (`fs.file.impl`), so
  * end-to-end runs pay nothing for it. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.increment(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.increment()
    if (f.getName.startsWith("part-")) dataFiles.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.increment(); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.increment(); super.listStatus(f)
  }
}

object CountingLocalFs {
  val opens, creates, renames, deletes, lists, dataFiles = new LongAdder
  /** Current counters (`files_written`: data files, `part-*`) plus the
    * Hadoop statistics' bytes written to `file:`. */
  def snapshot(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    val written = Option(st).flatMap(s => Option(s.getLong("bytesWritten")))
      .map(_.longValue).getOrElse(0L)
    Map("fs_open" -> opens.sum, "fs_create" -> creates.sum,
      "fs_rename" -> renames.sum, "fs_delete" -> deletes.sum,
      "fs_list" -> lists.sum, "files_written" -> dataFiles.sum, "bytes_written" -> written)
  }
}

/** Engine-side counters of one span (summed over its jobs and tasks). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputRecords = 0L
  var jobMs = mutable.ArrayBuffer.empty[Long]
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputRecords += o.inputRecords
    jobMs ++= o.jobMs
  }
}

/** The outside-in trace: a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener, attributing engine work to the client's spans.
  * Jobs carry the span id in the local property [[Recorder.SpanKey]]
  * (inherited by stream execution threads); planning phases and stream
  * progress carry no properties, so they attribute by wall-clock time to
  * the traced pass running at the time. Everything is kept in memory and
  * read once at the end of the run. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  val counters = new ConcurrentHashMap[Int, Counters]()
  /** (start, end) wall ms of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (analysis start ms, phase -> ms, action name) per finished query. */
  val plans = mutable.ArrayBuffer.empty[(Long, Map[String, Long], String)]
  /** (wall ms at progress, batch duration ms, input rows) per micro-batch. */
  val batches = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  var cachedPeak = 0L
  val cachedRdds = mutable.HashSet.empty[Int]

  private def c(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.put(_, span))
    c(span).synchronized { c(span).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = jobSpan.getOrDefault(e.jobId, -1)
    val t0 = jobStart.getOrDefault(e.jobId, e.time)
    synchronized { jobIntervals += ((t0, e.time)) }
    c(span).synchronized { c(span).jobMs += e.time - t0 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, -1)
    c(span).synchronized { c(span).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val span = stageSpan.getOrDefault(e.stageId, -1)
    val k = c(span)
    k.synchronized {
      k.tasks += 1
      if (m != null) {
        k.runMs += m.executorRunTime
        k.cpuMs += m.executorCpuTime / 1000000L
        k.gcMs += m.jvmGCTime
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        k.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case org.apache.spark.storage.RDDBlockId(rdd, _) =>
        val size = info.memSize + info.diskSize
        cachedNow += size - blockBytes.getOrElse(info.blockId.name, 0L)
        if (size == 0) blockBytes.remove(info.blockId.name)
        else { blockBytes(info.blockId.name) = size; cachedRdds += rdd }
        cachedPeak = math.max(cachedPeak, cachedNow)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    synchronized { plans += ((start, phases.map { case (k, v) => k -> v.durationMs }, funcName)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Recorder.this.synchronized {
        batches += ((java.time.Instant.parse(p.timestamp).toEpochMilli, ms, p.numInputRows))
      }
    }
  }
}

object Recorder {
  val SpanKey = "perfbench.span"

  /** Wall ms inside [from, to] not covered by any job interval. */
  def gapMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var cursor = from
    intervals.filter(i => i._2 > from && i._1 < to).sortBy(_._1).foreach { case (a, b) =>
      val s = math.max(a, cursor); val e = math.min(b, to)
      if (e > s) { covered += e - s; cursor = e }
    }
    (to - from) - covered
  }

  def counterSum(rec: Recorder, spanIds: Iterable[Int]): Counters = {
    val tot = new Counters
    spanIds.foreach(id => Option(rec.counters.get(id)).foreach(tot.add))
    tot
  }
}
