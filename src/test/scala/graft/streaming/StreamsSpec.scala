package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.streaming.Streams.KeyedEvent

/** Drives the streaming operators through MemoryStream batches and asserts
  * on the materialized memory-sink tables. */
class StreamsSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  implicit lazy val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  "tumblingAgg" should "aggregate per 10-minute window and key" in {
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.tumblingAgg(in.toDF.toDF("ts", "k", "v"),
      "ts", "k", "v", "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(11), "a", 4.0), (ts(3), "b", 8.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select("w_start", "k", "cnt", "sum_value").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .sorted
      rows shouldBe Array(
        ("2024-01-01 10:00:00.0", "a", 2L, 3.0),
        ("2024-01-01 10:00:00.0", "b", 1L, 8.0),
        ("2024-01-01 10:10:00.0", "a", 1L, 4.0))
    } finally q.stop()
  }

  "sessionAgg" should "merge events within the gap into one session" in {
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streams.sessionAgg(in.toDF.toDF("ts", "k"), "ts", "k",
      gap = "5 minutes", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete()).start()
    try {
      // two bursts for key a separated by > gap; one event for b
      in.addData((ts(0), "a"), (ts(2), "a"), (ts(20), "a"), (ts(1), "b"))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("k", "n_events").collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted
      rows shouldBe Array(("a", 1L), ("a", 2L), ("b", 1L))
    } finally q.stop()
  }

  "dedupStream" should "drop duplicate keys within the watermark" in {
    val in = MemoryStream[(Timestamp, String)]
    val dd = Streams.dedupStream(in.toDF.toDF("ts", "k"), "ts",
      watermark = "10 minutes", keyCols = Seq("k"))
    val q = dd.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(0), "x"), (ts(0), "x"), (ts(1), "y"))
      q.processAllAvailable()
      spark.table("dedup").select("k").as[String].collect().sorted shouldBe Array("x", "y")
    } finally q.stop()
  }

  "runningAgg" should "carry keyed state across batches (MutableBag analogue)" in {
    val in = MemoryStream[KeyedEvent]
    val out = Streams.runningAgg(in.toDS())
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(KeyedEvent("a", ts(0), 1.0), KeyedEvent("a", ts(1), 3.0))
      q.processAllAvailable()
      in.addData(KeyedEvent("a", ts(2), 5.0), KeyedEvent("b", ts(2), 7.0))
      q.processAllAvailable()
      val last = spark.table("running").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      last("a") shouldBe (("a", 3L, 9.0, 3.0)) // state carried: 2 then +1 events
      last("b") shouldBe (("b", 1L, 7.0, 7.0))
    } finally q.stop()
  }

  "sessionizeCustom" should "close sessions on gap and on watermark timeout" in {
    import graft.streaming.Streams.SessionEvent
    val in = MemoryStream[SessionEvent]
    val out = Streams.sessionizeCustom(in.toDS(), gapMs = 5 * 60 * 1000, watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("csessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // burst 1 (10:00,10:02), then an event at 10:20 in the SAME batch ->
      // first session closes by gap; advancing watermark far closes the rest
      in.addData(SessionEvent("a", ts(0)), SessionEvent("a", ts(2)), SessionEvent("a", ts(20)))
      q.processAllAvailable()
      in.addData(SessionEvent("zz", ts(59))) // push watermark to 10:59
      q.processAllAvailable()
      in.addData(SessionEvent("zzz", ts(59, 30))) // one more batch so timeouts fire
      q.processAllAvailable()
      val rows = spark.table("csessions")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3))).sortBy(x => (x._1, x._2))
      rows.filter(_._1 == "a") shouldBe Array(
        ("a", "2024-01-01 10:00:00.0", "2024-01-01 10:07:00.0", 2L),
        ("a", "2024-01-01 10:20:00.0", "2024-01-01 10:25:00.0", 1L))
    } finally q.stop()
  }

  it should "let an out-of-order straggler bridge or precede an open session, not absorb into it" in {
    import graft.streaming.Streams.SessionEvent
    val in = MemoryStream[SessionEvent]
    // generous watermark so stragglers stay live across batches
    val out = Streams.sessionizeCustom(in.toDS(), gapMs = 5 * 60 * 1000, watermark = "35 minutes")
    val q = out.writeStream.format("memory").queryName("csessions_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(SessionEvent("a", ts(30))) // open session at 10:30
      q.processAllAvailable()
      // straggler at 10:00 — 30 min BEFORE the open session: its own island,
      // NOT a member of the 10:30 session (the old code absorbed it)
      in.addData(SessionEvent("a", ts(0)))
      q.processAllAvailable()
      // straggler at 10:27 — within gap of 10:30: extends that session DOWN
      in.addData(SessionEvent("a", ts(27)))
      q.processAllAvailable()
      // 11:30 pushes the watermark to 10:55, past both sessions' end+gap
      val late = Timestamp.valueOf("2024-01-01 11:30:00")
      in.addData(SessionEvent("zz", late))
      q.processAllAvailable()
      in.addData(SessionEvent("zzz", late)) // one more batch so timeouts fire
      q.processAllAvailable()
      val rows = spark.table("csessions_ooo")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3))).sortBy(x => (x._1, x._2))
      rows.filter(_._1 == "a") shouldBe Array(
        ("a", "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0", 1L),
        ("a", "2024-01-01 10:27:00.0", "2024-01-01 10:35:00.0", 2L))
    } finally q.stop()
  }

  "streaming sessionAgg" should "agree with the batch session_window formulation" in {
    val data = Seq(
      (ts(0), "u1"), (ts(2), "u1"), (ts(20), "u1"),
      (ts(1), "u2"), (ts(30), "u2"), (ts(33), "u2"))
    // batch: session_window groupBy (same operator the gate oracle-checks)
    val batch = Streams.sessionAgg(data.toDF("ts", "k"), "ts", "k",
      gap = "5 minutes", watermark = "0 seconds")
      .collect().map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
        r.getString(2), r.getLong(3))).sorted
    // streaming: same operator over a MemoryStream, Complete mode
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streams.sessionAgg(in.toDF.toDF("ts", "k"), "ts", "k",
      gap = "5 minutes", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("diff_sessions")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      val streaming = spark.table("diff_sessions")
        .collect().map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
          r.getString(2), r.getLong(3))).sorted
      streaming shouldBe batch
    } finally q.stop()
  }

  "enrich" should "broadcast-join a static dimension onto a stream" in {
    val in = MemoryStream[(Timestamp, String)]
    val dim = Seq(("a", "Alpha"), ("b", "Beta")).toDF("k", "name")
    val q = Streams.enrich(in.toDF.toDF("ts", "k"), dim, Seq("k"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(0), "a"), (ts(1), "zz"))
      q.processAllAvailable()
      val rows = spark.table("enriched").select("k", "name").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).sortBy(_._1)
      rows shouldBe Array(("a", Some("Alpha")), ("zz", None))
    } finally q.stop()
  }

  "intervalJoin" should "match stream pairs within the time bound only" in {
    val clicks = MemoryStream[(Timestamp, String)]
    val buys = MemoryStream[(Timestamp, String, Double)]
    // both sides naturally named — the operator renames the right side itself
    val joined = Streams.intervalJoin(
      clicks.toDF.toDF("ts", "k"),
      buys.toDF.toDF("ts", "k", "amount"),
      leftKey = "k", rightKey = "k", tsLeft = "ts", tsRight = "ts",
      watermark = "10 minutes", boundSeconds = 120)
    val q = joined.writeStream.format("memory").queryName("ivjoin")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData((ts(0), "a"), (ts(0), "b"))
      buys.addData((ts(1), "a", 9.0), (ts(9), "b", 5.0)) // b is 9min late: out of bound
      q.processAllAvailable()
      val rows = spark.table("ivjoin").select("k", "amount").collect()
        .map(r => (r.getString(0), r.getDouble(1)))
      rows shouldBe Array(("a", 9.0))
    } finally q.stop()
  }

  "readParquetStream + writeParquetStream" should "process a file drop end-to-end" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val src = s"$dir/in"; val dst = s"$dir/out"; val cp = s"$dir/cp"
    Seq((ts(0), "a", 1.0), (ts(1), "a", 2.0)).toDF("ts", "k", "v")
      .write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = Streams.readParquetStream(spark, src, schema)
    val q = Streams.writeParquetStream(
      Streams.tumblingAgg(stream, "ts", "k", "v", "10 minutes", "0 seconds"),
      dst, cp, OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    // append-mode windows emit once the watermark passes; with a 0s watermark
    // and a finite file the first batch may stay pending — what we assert is
    // the wiring: checkpoint written, query progressed without error
    new java.io.File(cp).exists() shouldBe true
    q.exception shouldBe None
  }

  "runToCompletion" should "drain a file-source aggregation to its batch answer" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val data = Seq((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(2), "b", 5.0))
    data.toDF("ts", "k", "v").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    import org.apache.spark.sql.functions.{count, lit, sum}
    val agg = Streams.readParquetStream(spark, dir, schema)
      .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
    val out = Streams.runToCompletion(agg, s"avnow_${System.nanoTime}")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    out shouldBe Array(("a", 2L, 3.0), ("b", 1L, 5.0))
  }

  it should "drain with the requested state partitions and report to the caller's streaming listeners" in {
    import org.apache.spark.sql.functions.{count, lit}
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_avnow_listen").toString
    (1 to 20).map(i => (s"k${i % 3}", i)).toDF("k", "v").write.mode("overwrite").parquet(dir)
    val agg = Streams.readParquetStream(spark, dir, spark.read.parquet(dir).schema)
      .groupBy("k").agg(count(lit(1)).as("cnt"))
    val name = s"avnow_listen_${System.nanoTime}"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val terminated = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]
    val l = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == name) { started.add(e.id); () }
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name)
          e.progress.stateOperators.foreach(o => parts.add(o.numShufflePartitions))
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        terminated.add(e.id); ()
      }
    }
    spark.streams.addListener(l)
    val out =
      try Streams.runToCompletion(agg, name, statePartitions = Some(8)).collect()
      finally spark.streams.removeListener(l)
    out.map(r => (r.getString(0), r.getLong(1))).sorted shouldBe
      Array(("k0", 6L), ("k1", 7L), ("k2", 7L))
    // every event reached the caller's listener before the call returned
    started.asScala.toSeq should have size 1
    terminated.asScala.toSeq should contain(started.peek())
    parts.asScala.toSet shouldBe Set(8L)
  }

  "checkpointed file-source restart" should "process each input exactly once across runs" in {
    val in = java.nio.file.Files.createTempDirectory("graft_eo_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_eo_out").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_eo_cp").toString
    import org.apache.spark.sql.functions.{col, length => strLength}
    // drop FLAT files into the watched dir (a nested df.write directory
    // would hide the part files from the file-stream source's glob)
    def drop(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_eo_tmp").toString
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(in, name))
    }
    drop("f1.parquet", Seq((1L, "a"), (2L, "b")))
    val schema = spark.read.parquet(in).schema

    def drain(): Unit = {
      val q = Streams.writeParquetStream(
        Streams.readParquetStream(spark, in, schema).select(col("id"), col("v")),
        out, cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    spark.read.parquet(out).count() shouldBe 2
    // drop one more file, restart from the SAME checkpoint: only the new
    // file may be processed — the first file must not be duplicated
    drop("f2.parquet", Seq((3L, "c")))
    drain()
    val rows = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    rows shouldBe Array(1L, 2L, 3L)
  }

  "latestStateUpsert" should "converge to the batch latest-row-per-key" in {
    val in = MemoryStream[(String, Long, Double)]
    // two addData chunks: the argmax-merge must give the same answer no
    // matter how the micro-batches split, including out-of-order arrival
    // (k=a seq 3 arrives before seq 2)
    in.addData(("a", 1L, 10.0), ("b", 1L, 100.0), ("a", 3L, 30.0))
    in.addData(("a", 2L, 20.0), ("b", 2L, 200.0), ("c", 1L, 7.0))
    val state = Streams.latestStateUpsert(
      in.toDF.toDF("k", "seq", "v"), Seq("k"), Seq("seq"))
    val got = state.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    got shouldBe Array(("a", 3L, 30.0), ("b", 2L, 200.0), ("c", 1L, 7.0))
  }

  "incrementalDedupProbe" should "match the batch incremental probe, across multiple micro-batches" in {
    import graft.ops.{Curation, Dedup}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "how vexingly quick daft zebras jump today"),
      (4L, "sphinx of black quartz judge my vow now")
    ).toDF("doc_id", "text")
    val batch1 = Seq((11L, "the quick brown fox jumps over the lazy cat"))
    val batch2 = Seq(
      (12L, "completely unrelated words appear in this sentence"),
      (13L, "pack my box with five dozen liquor kegs"))
    val idx = Dedup.lshBands(corpus).localCheckpoint()
    val corpusSh = Dedup.hashedShingles(corpus).localCheckpoint()
    val in = MemoryStream[(Long, String)]
    in.addData(batch1: _*)
    in.addData(batch2: _*)
    val got = Streams.incrementalDedupProbe(
      in.toDF.toDF("doc_id", "text"), corpusSh, idx, minJaccard = 0.1,
      queryName = s"probe_${System.nanoTime}")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exp = Curation.incrementalNearDups(corpus, idx,
      (batch1 ++ batch2).toDF("doc_id", "text"), minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe exp
    got.map(_._1) should contain allOf (11L, 13L) // both near-dups caught
  }

  it should "maintain a PointBag from micro-batched deltas (streamPointBagMaintenance)" in {
    import graft.api.{DataBag, PointBag}
    val init = (1L to 50L).map(k => (k, k * 10L))
    val pb = PointBag(DataBag.from(spark.createDataset(init)), parts = 8)
    val base = java.nio.file.Files.createTempDirectory("graft_spb").toString
    // three files → three micro-batches; per-key messages are commutative
    // adds (the replay contract); key 99 is an insert
    val deltas = Seq((1L, 5L), (2L, 7L), (99L, 3L), (1L, 5L), (50L, 1L), (99L, 4L))
    deltas.toDF("k", "m").repartition(3).write.parquet(s"$base/src")
    val stream = spark.readStream
      .schema("k LONG, m LONG").option("maxFilesPerTrigger", "1")
      .parquet(s"$base/src")
    Streams.streamPointBagMaintenance[Long, Long, Long](stream, pb,
      df => df.select(org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.col("m")).as[(Long, Long)])(
      (_, old, m) => Some(old.getOrElse(0L) + m))
    val got = pb.bag().collect().toMap
    val exp = deltas.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .foldLeft(init.toMap) { case (st, (k, m)) => st.updated(k, st.getOrElse(k, 0L) + m) }
    got shouldBe exp
  }

  "streamSignalMaintenance" should "leave the store equal to a plain replay of one-file micro-batches, at 2 jobs each" in {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, length => strLength}
    import graft.ops.StateStore
    import graft.testlib.JobCount.countJobs
    val base = java.nio.file.Files.createTempDirectory("graft_streamsig").toString
    def signals(df: DataFrame): DataFrame =
      df.select(col("doc_id"), strLength(col("text")).cast("long").as("n_chars"))
    val docs = (1L to 30L).map(d => (d, "x" * d.toInt))
    StateStore.create(signals(docs.toDF("doc_id", "text")), "doc_id", 8, s"$base/store")
    val replay = scala.collection.mutable.Map(docs.map { case (d, t) => d -> t.length.toLong }: _*)
    // edits, drops and new documents; batch 2 edits a doc batch 1 edited,
    // drops one batch 1 added and re-adds one batch 1 dropped
    val batches = Seq(
      Seq((3L, "abc", false), (4L, "", true), (9L, "", true), (40L, "new doc", false)),
      Seq((3L, "abcdef", false), (40L, "", true), (4L, "back", false), (41L, "y", false)))
    val jobs = batches.zipWithIndex.map { case (rows, i) =>
      val src = s"$base/src$i"
      rows.toDF("doc_id", "text", "del").coalesce(1).write.parquet(src)
      val stream = spark.readStream.schema("doc_id LONG, text STRING, del BOOLEAN")
        .option("maxFilesPerTrigger", "1").parquet(src)
      val (_, n) = countJobs(
        Streams.streamSignalMaintenance(stream, s"$base/store", "del")(signals))
      rows.foreach { case (d, t, drop) =>
        if (drop) replay.remove(d) else replay(d) = t.length.toLong }
      n.jobs
    }
    StateStore.read(spark, s"$base/store").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap shouldBe replay.toMap
    // per one-file micro-batch: the collect of the scored batch; the
    // touched buckets are merged and written on the driver (the merged
    // write was a second job; the second run is warm)
    info(s"jobs per batch: ${jobs.mkString(", ")}")
    jobs(1) should be <= 1
  }
}
