package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Column↔Expression conversion — the standard
  * technique for libraries that add native Catalyst expressions (the public
  * API only builds Columns from other Columns). */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Type equality up to nullability (`DataType.sameType`). */
  def sameType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

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

  /** `df` rebound to a fresh clone of its session with `overrides` set on the clone only, so no
    * other query on the caller's session sees them. The clone shares the CacheManager and copies
    * the caller's conf, temp views and query listeners as they are now: one per call, never kept. */
  def isolated(df: org.apache.spark.sql.Dataset[_],
      overrides: Map[String, String]): org.apache.spark.sql.DataFrame = {
    val clone = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    overrides.foreach { case (k, v) => clone.conf.set(k, v) }
    ofRows(clone, df.queryExecution.analyzed)
  }

  /** AQE off: each shuffle runs in its action's job, not in a map-stage job. */
  val aqeOff: Map[String, String] = Map("spark.sql.adaptive.enabled" -> "false")

  /** The broadcast threshold at `bytes`: at most that much goes to the
    * driver, by every driver fast path ([[fits]]) and by the planner's
    * broadcasts; at `-1`, nothing. */
  def driverBytes(bytes: Long): Map[String, String] =
    Map("spark.sql.autoBroadcastJoinThreshold" -> bytes.toString)

  /** Run `body`, which drains streaming queries on `clone` (an [[isolated]]
    * session of `caller`), with the caller's streaming listeners attached.
    * On return they have seen every event of those queries (unless the
    * SparkContext stopped), and the clone's listener bus is off its bus. */
  def withCallerStreamListeners[A](caller: org.apache.spark.sql.SparkSession,
      clone: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.Semaphore(0)
    // added last: the caller's listeners have handled an event before it does
    val marker = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = started.incrementAndGet()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ended.release()
    }
    (caller.streams.listListeners() :+ marker).foreach(clone.streams.addListener)
    try body
    finally {
      clone.streams.active.foreach(_.stop())
      // the stopped queries' events are queued: wait however far behind the listeners are
      while (!ended.tryAcquire(started.get, 10, java.util.concurrent.TimeUnit.SECONDS) &&
        !clone.sparkContext.isStopped) ()
      val bus = clone.sparkContext.listenerBus
      bus.findListenersByClass[StreamingQueryListenerBus]()
        .filter(_.listeners.contains(marker)).foreach(bus.removeListener)
    }
  }

  /** Build a DataFrame from a custom LogicalPlan (entry point for custom
    * operators planned by injected strategies). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Collect a frame as the physical rows its plan produces: the driver
    * keeps only those compact rows — no external `Row` copy with boxed
    * fields. Runs as one SQL execution, as `collect()` does; a plan the
    * optimizer folds into a local relation runs no job. */
  def collectRows(df: org.apache.spark.sql.DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** [[collectRows]], with the rows re-planned as a local relation of the
    * same schema (fresh attributes). */
  def collectLocal(df: org.apache.spark.sql.DataFrame)
      : (Array[InternalRow], org.apache.spark.sql.DataFrame) = {
    val rows = collectRows(df)
    (rows, localRelation(df.sparkSession, df.schema, rows.toSeq))
  }

  /** A frame over driver-held `rows` of `schema`: a local relation, so
    * filters and projections over it fold on the driver
    * (`ConvertToLocalRelation`) and its `collect()` runs no job. */
  def localRelation(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      rows: Seq[InternalRow]): org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** `schema` with every field nullable, as a file scan reads it. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** The session's Hadoop configuration, as its file scans and writes get
    * it: a fresh copy of the context's with every SQL conf entry set. */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes, as the planner reads
    * it: the largest relation it moves through the driver; negative: none.
    * Read here only: by [[fits]] and [[collectIfFits]]. */
  private def broadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold

  /** THE driver-or-cluster rule: whether `bytes` of data belong on the
    * driver — at most the session's broadcast threshold, the size Spark
    * itself moves through the driver for a broadcast. At `-1` nothing does,
    * and `bytes` is never evaluated (it may cost a job). Every local fast
    * path of the library asks this rule, directly or through
    * [[collectIfFits]], so the one Spark setting moves all of them. */
  def fits(spark: org.apache.spark.sql.SparkSession, bytes: => BigInt): Boolean = {
    val t = broadcastThreshold(spark)
    t >= 0 && bytes <= t
  }

  /** Spark's size estimate of one row of `ds` (`EstimationUtils.getSizePerRow`
    * over its output, as `LocalRelation` statistics use): the row overhead
    * plus each column type's default size. */
  def rowBytes(ds: org.apache.spark.sql.Dataset[_]): BigInt =
    org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
      .getSizePerRow(ds.queryExecution.analyzed.output)

  /** The rows of `ds` when they fit the driver by [[fits]], else None — the
    * bounded collect. ONE `limit(cap + 1)` collect, `cap` being the
    * threshold over [[rowBytes]]; the rows are kept only when at most `cap`
    * came back and their bytes fit. A frame whose estimate undercounts its
    * rows (arrays, maps) may bring `cap + 1` rows to the driver before they
    * are refused. At `-1` it runs no job. */
  def collectIfFits[A](ds: org.apache.spark.sql.Dataset[A]): Option[Array[A]] = {
    val t = broadcastThreshold(ds.sparkSession)
    if (t < 0) None
    else {
      val cap = (t / rowBytes(ds)).min(Int.MaxValue - 1).toInt
      val rows = collectRows(ds.limit(cap + 1).toDF())
      def bytes = rows.iterator.map {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => BigInt(u.getSizeInBytes)
        case _ => rowBytes(ds)
      }.sum
      if (rows.length > cap || !fits(ds.sparkSession, bytes)) None
      else {
        val cds = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[A]]
        val fromRow = cds.exprEnc.resolveAndBind(cds.logicalPlan.output,
          cds.sparkSession.sessionState.analyzer).createDeserializer()
        Some(rows.map(fromRow)(scala.reflect.ClassTag(cds.exprEnc.clsTag.runtimeClass)))
      }
    }
  }

  /** Spark's ascending order (nulls first, the order `orderBy` sorts by) of
    * rows on their leading fields, of types `types`. */
  def rowOrdering(types: Seq[org.apache.spark.sql.types.DataType]): Ordering[InternalRow] =
    org.apache.spark.sql.catalyst.expressions.InterpretedOrdering.forSchema(types)

  def logicalPlan(df: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
