package graft.testlib

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.bridge

/** Frames on a session clone with its own broadcast threshold — the one
  * setting that moves every driver fast path of the library (`bridge.fits`):
  * `-1` keeps every choice on the cluster path, a sized value moves the
  * boundary. The caller's session is never written. */
object Threshold {

  /** `df` on a fresh clone of its session whose threshold is `bytes`. */
  def at(bytes: Long)(df: DataFrame): DataFrame = bridge.isolated(df, bridge.driverBytes(bytes))

  /** `a` and `b` on ONE fresh clone whose threshold is `bytes`. */
  def at(bytes: Long, a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    val a1 = at(bytes)(a)
    (a1, bridge.ofRows(a1.sparkSession, bridge.logicalPlan(b)))
  }

  /** `df` on a fresh clone on which at most `n` of its rows fit, by Spark's
    * per-row estimate (`bridge.rowBytes`). */
  def rows(n: Long)(df: DataFrame): DataFrame = at(n * bridge.rowBytes(df).toLong)(df)
}
