package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-by-stage timing of gate q151 (streaming dedup-on-ingest) at sf0.1
  * — splits the gate's wall time into static-side setup, the streaming
  * drain, and batch post-processing, so the streaming FIXED overhead is
  * measurable in isolation (VERDICT r10 task 3). */
object ProfileQ151 {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .appName("profile-q151").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"TIME $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // warm-up
    spark.read.parquet(s"$sf/nation.parquet").count()

    // stage-level visibility into the drain
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val ms = (for {s <- i.submissionTime; c <- i.completionTime} yield c - s).getOrElse(-1L)
        if (ms >= 300) {
          val tm = i.taskMetrics
          println(f"  STAGE ${i.stageId}%4d ${ms}%6d ms  tasks=${i.numTasks}%4d  " +
            f"run=${tm.executorRunTime}%5d deser=${tm.executorDeserializeTime}%5d " +
            f"gc=${tm.jvmGCTime}%4d shwMs=${tm.shuffleWriteMetrics.writeTime / 1000000}%4d " +
            f"inRec=${tm.inputMetrics.recordsRead}%7d  ${i.name.take(60)}")
        }
      }
    })

    // per-batch progress of the drain, which reaches this session's listeners
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = println("  progress: " + e.progress.json)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })

    for (rep <- 1 to 3) {
      println(s"== rep $rep ==")
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      val idx = time("lshBands+checkpoint")(
        graft.ops.Dedup.lshBands(corpus).localCheckpoint())
      val corpusSh = time("hashedShingles+checkpoint")(
        graft.ops.Dedup.hashedShingles(corpus).localCheckpoint())
      val stream = time("parquetFileStream")(
        graft.streaming.Streams.parquetFileStream(spark, s"$sf/documents.parquet")
          .where(col("doc_id") % 5 === 0))
      val out = time("incrementalDedupProbe total")(
        graft.streaming.Streams.incrementalDedupProbe(
          stream, corpusSh, idx, minJaccard = 0.2,
          queryName = s"prof151_${System.nanoTime}"))
      time("result count")(println("  pairs=" + out.count()))
    }
    spark.stop()
  }
}
