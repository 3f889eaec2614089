package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion — the standard
  * technique for libraries that add native Catalyst expressions (the public
  * API only builds Columns from other Columns). */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column to a catalyst Expression. The lazy
    * `ColumnNodeExpression` wrapper `expression` returns holds a
    * non-serializable ColumnNode — fine inside normal planning (the analyzer
    * unwraps it) but fatal when an expression is shipped inside a custom
    * SparkPlan's closure. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Free the blocks held by a localCheckpoint'ed Dataset. `Dataset.unpersist`
    * is a no-op for these (the RDD is persisted directly, not through the
    * CacheManager), so iterative algorithms would otherwise leak one state
    * snapshot per checkpoint until GC. */
  def freeLocalCheckpoint(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Rebuild a localCheckpoint'ed Dataset WITHOUT the origin statistics and
    * constraints Spark attaches to the checkpoint's LogicalRDD (SPARK-39834).
    * In a fixpoint where each round's state AND delta both derive from the
    * previous round's checkpoints, the size-only stats visitor multiplies
    * child sizes, so carried origin stats compound Fibonacci-style — by round
    * ~17 the driver is multiplying million-bit BigIntegers on every planning
    * pass (measured: minutes of stall, GBs of heap). Dropping them resets the
    * leaf to the default size estimate; the checkpointed data, partitioning,
    * and ordering are untouched. No-op for non-checkpoint plans. */
  def dropOriginStats(ds: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.DataFrame =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val spark = ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        ofRows(spark, new org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd, l.outputPartitioning, l.outputOrdering, l.isStreaming,
          l.stream)(spark, None, None))
      case _ => ds.toDF()
    }

  /** [[dropOriginStats]] preserving the Dataset's element type. */
  def dropOriginStatsTyped[A](ds: org.apache.spark.sql.Dataset[A]): org.apache.spark.sql.Dataset[A] =
    dropOriginStats(ds)
      .as(ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[A]].encoder)

  /** Rebuild a localCheckpoint'ed Dataset asserting that its blocks are
    * hash-partitioned by `keyCols` into `parts` partitions (origin stats
    * dropped as in [[dropOriginStats]]). This is the keyed-state seam the
    * reference gets from IndexedRDD: a fixpoint whose per-round transform
    * keeps every key in its partition (narrow cogroup output, in-place
    * value updates) can declare that fact, so the NEXT round's
    * cogroup/join plans ZERO Exchange on the state side — only the small
    * message side shuffles. The caller must guarantee the physical layout
    * really is HashPartitioning(keyCols, parts) (rows produced under a
    * clustered child and never moved); asserting anything else silently
    * corrupts joins. No-op (plain stats-dropped rebuild) if the partition
    * count does not match. */
  def assertHashPartitioned(ds: org.apache.spark.sql.Dataset[_],
      keyCols: Seq[String], parts: Int): org.apache.spark.sql.DataFrame =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val spark = ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val part =
          if (l.rdd.getNumPartitions == parts)
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
              keyCols.map(n => l.output.find(_.name == n).getOrElse(
                throw new IllegalArgumentException(s"no column $n"))), parts)
          else l.outputPartitioning
        ofRows(spark, new org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd, part, l.outputOrdering, l.isStreaming,
          l.stream)(spark, None, None))
      case _ => ds.toDF()
    }

  /** Partition-wise union of two SAME-SCHEMA, SAME-PARTITION-COUNT frames,
    * preserving hash partitioning: partition i of the result is partition i
    * of `a` followed by partition i of `b`. `Dataset.union` concatenates
    * the partition LISTS (2n partitions, partitioning metadata lost); this
    * zip keeps n partitions, so a keyed state can absorb a small set of
    * correctly-routed inserts without re-exchanging itself. */
  def zipUnion(a: org.apache.spark.sql.Dataset[_],
      b: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.DataFrame = {
    val aq = a.toDF().queryExecution
    val bq = b.toDF().queryExecution
    require(aq.analyzed.schema == bq.analyzed.schema,
      "zipUnion requires identical schemas")
    val ardd = aq.toRdd
    val brdd = bq.toRdd
    require(ardd.getNumPartitions == brdd.getNumPartitions,
      s"zipUnion requires equal partition counts: ${ardd.getNumPartitions} vs ${brdd.getNumPartitions}")
    val merged = ardd.zipPartitions(brdd)((x, y) => x ++ y)
    val spark = a.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(aq.analyzed.schema)
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(attrs, merged)(spark))
  }

  /** Build a DataFrame from a custom LogicalPlan (entry point for custom
    * operators planned by injected strategies). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Collect a frame as the physical rows its plan produces and re-plan
    * them as a local relation of the same schema (fresh attributes). The
    * driver keeps only those compact rows — no external `Row` copy with
    * boxed fields. Runs as one SQL execution, as `collect()` does. */
  def collectLocal(df: org.apache.spark.sql.DataFrame)
      : (Array[org.apache.spark.sql.catalyst.InternalRow], org.apache.spark.sql.DataFrame) = {
    val qe = df.queryExecution
    val rows = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(df.schema)
    (rows, ofRows(df.sparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(attrs,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))))
  }

  def logicalPlan(df: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
