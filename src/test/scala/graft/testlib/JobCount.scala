package org.apache.spark {
  /** The listener bus is package-private to Spark; [[graft.testlib.JobCount]]
    * waits on it so a count never races asynchronous event delivery. */
  object GraftTestListenerBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  }
}

package graft.testlib {

  import org.apache.spark.GraftTestListenerBus
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
    SparkListenerStageSubmitted}
  import org.apache.spark.sql.SparkSession

  /** Job- and task-count assertions for specs: one listener helper instead
    * of a hand-rolled `SparkListener` per spec. */
  object JobCount {

    /** What a measured body started: Spark jobs, and the tasks of the
      * stages it submitted (a partition-pruned read runs fewer). */
    final case class Counts(jobs: Int, tasks: Int)

    /** Run `body` and return its result with the jobs and tasks started
      * while it ran. The bus is drained before the listener is added
      * (earlier jobs' events never leak in) and again before it is read
      * (no sleep-and-hope on asynchronous delivery). */
    def countJobs[A](body: => A)(implicit spark: SparkSession): (A, Counts) = {
      val sc = spark.sparkContext
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
          tasks.addAndGet(ss.stageInfo.numTasks); ()
        }
      }
      GraftTestListenerBus.drain(sc)
      sc.addSparkListener(l)
      try {
        val out = body
        GraftTestListenerBus.drain(sc)
        (out, Counts(jobs.get(), tasks.get()))
      } finally sc.removeSparkListener(l)
    }
  }
}
