package graft

import org.apache.spark.sql.functions._

import graft.api._

/** Ad-hoc timing for MutableBag update strategies (test scope, not shipped):
  * cogroup updates (two shuffles per round) vs broadcast point updates (zero
  * shuffles) on a long-diameter graph whose fixpoint is all small-delta tail
  * — the workload the reference serves with IndexedRDD point updates. */
object ProfileMb {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    spark.read.parquet("/root/testdata/sf0.1/nation.parquet").count()
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"TIME $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // a path graph of `n` vertices plus dense ballast components: diameter
    // n/2, so the label fixpoint runs ~n/2 rounds with a tiny delta each —
    // worst case for full-state rounds, best case for point updates
    val n = 40L
    val path = (0L until n - 1).map(i => (i, i + 1))
    val ballast = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
      .select((col("o_custkey") % 500L + 1000L).as("src"),
        (col("o_orderkey") % 500L + 1000L).as("dst"))
      .where(col("src") =!= col("dst"))
      .as[(Long, Long)]
    val edges = path.toDS().union(ballast)
    // broadcast threshold -1: every round cogroups; 24 MB: every delta of
    // this graph fits, so the tail rounds broadcast
    for (rep <- 1 to 2; bytes <- Seq(-1L, 24L << 20)) {
      val mode = if (bytes < 0) "cogroup" else "broadcast-tail"
      time(s"ccMutable $mode rep=$rep") {
        val e = graft.testlib.Threshold.at(bytes)(edges.toDF()).as[(Long, Long)]
        val cc = graft.lib.Graphs.connectedComponentsMutable(e, e.sparkSession)
        val k = cc.toDF("v", "l").agg(countDistinct("l")).head().getLong(0)
        require(k >= 2, s"expected >=2 components, got $k")
      }
    }
    spark.stop()
  }
}
