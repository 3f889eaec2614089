package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One client call: `run` is timed (it calls `built()` when the eager,
  * pre-action part is done), `check` is not. `userBytes` is the payload a
  * write submits, for write amplification. */
final case class Op(name: String, layer: String, kind: String,
    run: (() => Unit) => Any, check: Any => Boolean = _ => true,
    userBytes: Long = 0L, stage: () => Unit = () => ())

trait Workload {
  /** Work done once before the first timed call (part of `setup_s`). */
  def prepare(): Unit = ()
  def pass(p: Int): Seq[Op]
  /** Untimed work after the last pass; returns extra result fields. */
  def finish(traced: Boolean): Map[String, Any] = Map.empty
}

/** The benchmark's JVM side. `perfbench/run.py` builds this file against
  * the repository's classes, generates the inputs and starts it as
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out DIR
  *
  * It runs the workload as a closed loop from one client thread against a
  * `local[4]` session, a warm-up pass and then about `--seconds` of
  * passes, and writes `result.json` (and, for the DuckDB checks, `check/`)
  * to `--out`.
  */
object Main {
  val Setups = 3
  /** Traced runs trace passes 1, 3, ... (TracedPasses of them) and leave
    * the passes between untraced, so the counters cover the same calls in
    * every run with the same seed and the untraced passes beside them give
    * the tracing overhead. */
  val TracedPasses = 2
  def isTraced(traced: Boolean, p: Int): Boolean = traced && p % 2 == 1 && p < 2 * TracedPasses

  /** Seconds one warm pass of each workload takes on a 4-core host. After
    * its warm-up pass a run measures `--seconds / NominalPassS` passes (at
    * least 2), so every run of a workload measures the same passes
    * whatever the host's speed. */
  val NominalPassS = Map("dsl_programs" -> 5.0, "index_maintenance" -> 7.0)

  def session(scratch: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", scratch)
      .config("spark.ui.enabled", "false")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  type Quoted = (SparkSession, String) => DataFrame
  val quoteHeader: String =
    """(s0: org.apache.spark.sql.SparkSession, dir: String) => {
      |  implicit val spark: org.apache.spark.sql.SparkSession = s0
      |  import spark.implicits._
      |  import org.apache.spark.sql.functions.col
      |  import graft.api._
      |  import graft.api.comprehensions.onSpark
      |""".stripMargin

  /** The reference compiler benchmark's WordCount, as a quoted program. */
  val wordCount: String = quoteHeader +
    """  val docs = DataBag.from(spark.read.parquet(dir + "/documents.parquet")
      |    .select(col("text")).as[String])
      |  val counts = onSpark {
      |    for { g <- docs.flatMap(line => line.split(" ").toSeq).groupBy(w => w) }
      |      yield (g.key, g.values.size)
      |  }
      |  counts.ds.toDF("word", "cnt")
      |}""".stripMargin

  /** The set-up quote: a one-generator comprehension, new source each time. */
  def setupProgram(tag: String): String = quoteHeader +
    s"""  val docs = DataBag.from(spark.read.parquet(dir + "/documents.parquet")
       |    .select(col("doc_id")).as[Long])
       |  onSpark { for { d <- docs; if d % 7L == 3L } yield d * 2L }.ds.toDF("v") // set-up $tag
       |}""".stripMargin

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.length).toInt - 1))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def peakRssMb(): Double =
    Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload"); val data = opt("data"); val out = opt("out")
    val seconds = opt("seconds").toDouble; val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val scratch = Files.createDirectories(Paths.get(out, "scratch")).toString
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // production path of the gates, as the repository's own Bench runs them
    graft.BenchMode.witnesses = false

    // set-up, Setups times: session start and, on the workload that
    // quotes, one quote that misses the compile cache (the first one also
    // pays JVM start and the cold compiler); the median is reported
    val quotes = workload == "dsl_programs"
    val setupMs = mutable.ArrayBuffer.empty[Double]
    val setupPhases = mutable.ArrayBuffer.empty[Seq[Long]]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis()
      spark = session(scratch, traced)
      val t1 = System.currentTimeMillis()
      if (quotes) graft.api.RuntimeQuotation.compile[Quoted](setupProgram(s"$seed.$i"))(spark)
        .apply(spark, data).collect()
      setupPhases += Seq(t1 - t0, System.currentTimeMillis() - t1)
      setupMs += (System.currentTimeMillis() - t0).toDouble
      if (i < Setups - 1) spark.stop()
    }
    val wl: Workload = workload match {
      case "dsl_programs" => new DslPrograms(spark, data, out, seed)
      case "index_maintenance" => new IndexMaintenance(spark, data, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val p0 = System.nanoTime()
    wl.prepare()
    val prepareMs = (System.nanoTime() - p0) / 1e6

    val sc = spark.sparkContext
    val rec = new Recorder
    def attach(on: Boolean): Unit = if (on) {
      sc.addSparkListener(rec); spark.listenerManager.register(rec)
      spark.streams.addListener(rec.streams)
    } else {
      org.apache.spark.PerfbenchListenerBus.drain(sc)
      sc.removeSparkListener(rec); spark.listenerManager.unregister(rec)
      spark.streams.removeListener(rec.streams)
    }
    val fs0 = mutable.HashMap.empty[Int, Map[String, Long]]
    val fs1 = mutable.HashMap.empty[Int, Map[String, Long]]
    val spans = mutable.ArrayBuffer.empty[Span]
    val userBytes = mutable.HashMap.empty[Int, Long]
    var failed, wrong = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val passMs = mutable.ArrayBuffer.empty[Double]
    val passWall = mutable.ArrayBuffer.empty[(Long, Long)]

    def call(op: Op, p: Int): Unit = {
      op.stage()
      val id = spans.length
      val tracing = isTraced(traced, p)
      if (tracing) { sc.setLocalProperty(Recorder.SpanKey, id.toString); fs0(id) = CountingLocalFs.snapshot() }
      val n0 = System.nanoTime()
      var builtAt = 0L
      val res = Try(op.run(() => builtAt = System.nanoTime()))
      val n1 = System.nanoTime()
      if (tracing) { sc.setLocalProperty(Recorder.SpanKey, null); fs1(id) = CountingLocalFs.snapshot() }
      val ok = res.isSuccess && Try(op.check(res.get)).getOrElse(false)
      if (res.isFailure) {
        failed += 1; errors += s"${op.name}: ${res.failed.get.toString.take(300)}"
      } else if (!ok) { wrong += 1; errors += s"${op.name}: wrong result (pass $p)" }
      userBytes(id) = op.userBytes
      spans += Span(id, p, op.name, op.layer, op.kind, (n1 - n0) / 1e6,
        if (builtAt > 0) (builtAt - n0) / 1e6 else 0.0)
    }

    // pass 0 is the workload's warm-up and counts as set-up; the passes
    // after it are measured
    val nPasses = 1 + math.max(if (traced) 2 * TracedPasses else 2,
      (seconds / NominalPassS(workload)).toInt)
    var start = System.nanoTime()
    for (p <- 0 until nPasses) {
      if (p == 1) start = System.nanoTime()
      if (isTraced(traced, p)) attach(true)
      val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      wl.pass(p).foreach(call(_, p))
      passMs += (System.nanoTime() - n0) / 1e6
      passWall += ((w0, System.currentTimeMillis()))
      if (isTraced(traced, p)) attach(false)
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    val extra = wl.finish(traced)
    val rssMb = peakRssMb()

    val res = mutable.LinkedHashMap[String, Any]()
    val all = spans.toSeq
    val measured = all.filter(s => s.pass > 0 && !isTraced(traced, s.pass))
    def lat(f: Span => Boolean) = measured.filter(f).map(_.ms)
    res("workload") = workload; res("seed") = seed; res("traced") = traced
    res("attempted") = all.length; res("failed") = failed; res("wrong") = wrong
    res("errors") = errors.take(20).toSeq
    res("setup_runs_s") = setupMs.map(_ / 1000).toSeq
    res("setup_phases_ms") = setupPhases.toSeq
    res("prepare_s") = prepareMs / 1000
    res("measured_s") = measuredS
    res("passes") = passMs.length
    res("pass_runs_s") = passMs.map(_ / 1000).toSeq
    res("call_ms_by_name") = all.groupBy(_.name).map { case (k, v) => k -> v.map(_.ms) }
    val e2e = mutable.LinkedHashMap[String, Double]()
    e2e("setup_s") = (median(setupMs.toSeq) + prepareMs + passMs(0)) / 1000
    val untracedPasses = passMs.indices.filter(p => p > 0 && !isTraced(traced, p))
    e2e("pass_s") = median(untracedPasses.map(passMs)) / 1000
    // call latency, each kind of call weighted alike: the mean over call
    // names of each name's median. A median over all calls falls between
    // two op types of a fixed mix and jumps from one to the other.
    val perName = measured.groupBy(_.name).values.map(v => median(v.map(_.ms)))
    e2e("call_ms.kind_mean") = perName.sum / perName.size
    e2e("peak_rss_mb") = rssMb
    res("end_to_end") = e2e
    // latencies of one kind of call each, reported beside the end-to-end
    // set (not every workload makes every kind of call)
    val byKind = mutable.LinkedHashMap[String, Double]()
    for ((label, f) <- Seq[(String, Span => Boolean)](
        "quote_ms" -> (_.kind == "quote"), "write_ms" -> (_.kind == "write"),
        "read_ms" -> (_.kind == "read")); xs = lat(f) if xs.nonEmpty) {
      byKind(s"$label.p50") = percentile(xs, 0.5); byKind(s"$label.p90") = percentile(xs, 0.9)
      byKind(s"$label.n") = xs.length.toDouble
    }
    res("workload_metrics") = byKind ++ extra.collect { case (k, v: Double) => k -> v }
    res("extra") = extra.filter { case (_, v) => !v.isInstanceOf[Double] }

    if (traced) {
      org.apache.spark.PerfbenchListenerBus.drain(sc)
      res("per_layer") = perLayer(rec, all.filter(s => isTraced(traced, s.pass)),
        fs0.toMap, fs1.toMap, userBytes.toMap,
        passWall.indices.filter(isTraced(traced, _)).map(passWall), passMs.toSeq, extra)
    }
    spark.stop()
    Files.writeString(Paths.get(out, "result.json"), Json.write(res))
  }

  /** Per-layer metrics over the traced passes, per pass where a count. */
  def perLayer(rec: Recorder, spans: Seq[Span],
      fs0: Map[Int, Map[String, Long]], fs1: Map[Int, Map[String, Long]],
      userBytes: Map[Int, Long], wall: Seq[(Long, Long)], passMs: Seq[Double],
      extra: Map[String, Any]): Map[String, Double] = {
    val n = TracedPasses.toDouble
    val m = mutable.LinkedHashMap[String, Double]()
    def lats(f: Span => Boolean) = spans.filter(f).map(_.ms)
    val quotes = spans.filter(_.kind == "quote")
    m("macros.compile_ms.miss") = median(quotes.filter(_.name.endsWith(":miss")).map(_.ms))
    m("macros.compile_ms.hit") = median(quotes.filter(_.name.endsWith(":hit")).map(_.ms))
    m("macros.compiles") = quotes.count(_.name.endsWith(":miss")) / n
    m("macros.quote_ms.p50") = percentile(lats(_.kind == "quote"), 0.5)
    m("macros.quote_ms.p90") = percentile(lats(_.kind == "quote"), 0.9)
    for (layer <- Seq("macros", "api", "lib", "ops", "streaming"))
      m(s"$layer.call_ms") = spans.filter(_.layer == layer).map(_.ms).sum / n
    m("api.build_ms") = spans.map(_.buildMs).sum / n
    val plans = rec.plans.toSeq.filter(pl => wall.exists { case (a, b) => pl._1 >= a && pl._1 <= b })
    m("api.actions") = plans.length / n
    m("api.cached_bytes.peak") = rec.cachedPeak.toDouble
    m("api.persists") = rec.cachedRdds.size / n
    for (ph <- Seq("analysis", "optimization", "planning"))
      m(s"spark.plan.${ph}_ms") = plans.map(_._2.getOrElse(ph, 0L)).sum / n
    val c = Recorder.counterSum(rec, spans.map(_.id))
    val wallMs = wall.map { case (a, b) => b - a }.sum.toDouble
    m("spark.exec.jobs") = c.jobs / n
    m("spark.exec.stages") = c.stages / n
    m("spark.exec.tasks") = c.tasks / n
    m("spark.exec.driver_gap_ms") = wall.map { case (a, b) =>
      Recorder.gapMs(rec.jobIntervals.toSeq, a, b) }.sum / n
    m("spark.exec.job_ms.p50") = median(c.jobMs.map(_.toDouble).toSeq)
    m("spark.exec.run_ms") = c.runMs / n
    m("spark.exec.cpu_ms") = c.cpuMs / n
    m("spark.exec.gc_ms") = c.gcMs / n
    m("spark.exec.util") = if (wallMs > 0) c.runMs / (wallMs * 4) else 0.0
    m("spark.exec.shuffle_write_bytes") = c.shuffleWrite / n
    m("spark.exec.shuffle_read_bytes") = c.shuffleRead / n
    m("spark.exec.spill_bytes") = c.spill / n
    m("spark.exec.input_records") = c.inputRecords / n
    m("spark.exec.unattributed_jobs") = Option(rec.counters.get(-1)).map(_.jobs).getOrElse(0L) / n
    // storage: deltas of the counting file system over the ops-layer spans
    val store = spans.filter(s => s.layer == "ops" || s.layer == "streaming")
    def fsd(k: String, ss: Seq[Span]) = ss.map(s => fs1(s.id)(k) - fs0(s.id)(k)).sum.toDouble
    for (k <- Seq("fs_list", "fs_open", "fs_create", "fs_rename", "fs_delete"))
      m(s"ops.store.$k") = fsd(k, store) / n
    m("ops.store.files_written") = fsd("files_written", store) / n
    m("ops.store.bytes_written") = fsd("bytes_written", store) / n
    val writes = spans.filter(_.kind == "write"); val reads = spans.filter(_.kind == "read")
    val ub = writes.map(s => userBytes(s.id)).sum
    m("ops.store.write_amp") = if (ub > 0) fsd("bytes_written", writes) / ub else 0.0
    m("ops.store.space_amp") = extra.get("space_amp").collect { case d: Double => d }.getOrElse(0.0)
    def jobsPer(ss: Seq[Span]) =
      if (ss.isEmpty) 0.0 else Recorder.counterSum(rec, ss.map(_.id)).jobs.toDouble / ss.length
    m("ops.store.jobs_per_write") = jobsPer(writes)
    m("ops.store.jobs_per_read") = jobsPer(reads)
    m("ops.write_ms.p50") = percentile(lats(_.kind == "write"), 0.5)
    m("ops.write_ms.p90") = percentile(lats(_.kind == "write"), 0.9)
    m("ops.read_ms.p50") = percentile(lats(_.kind == "read"), 0.5)
    m("ops.read_ms.p90") = percentile(lats(_.kind == "read"), 0.9)
    for (op <- Seq("upsert", "lookup", "ann_append", "ann_probe", "ann_delete",
        "ann_compact", "pq_append", "pq_probe", "pq_delete", "tok_save", "tok_load", "stream_maint"))
      m(s"ops.${op}_ms") = median(spans.filter(_.name == op).map(_.ms))
    for (k <- Seq("ann_recall", "pq_recall"))
      m(s"ops.$k") = extra.get(k).collect { case d: Double => d }.getOrElse(0.0)
    val batches = rec.batches.toSeq.filter(b => wall.exists { case (a, e) => b._1 >= a && b._1 <= e })
      .filter(_._3 > 0)
    m("streaming.batch_ms.p50") = median(batches.map(_._2.toDouble))
    m("streaming.batches") = batches.length / n
    val untraced = passMs.indices.filter(p => p > 0 && !isTraced(true, p)).map(passMs)
    val tracedMs = passMs.indices.filter(isTraced(true, _)).map(passMs)
    m("trace.overhead_pct") =
      if (untraced.isEmpty) 0.0 else 100 * (median(tracedMs) / median(untraced) - 1)
    m.toMap
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case o => write(o.toString)
  }
}
