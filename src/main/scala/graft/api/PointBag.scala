package graft.api

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.graft.bridge

import scala.reflect.ClassTag

/** In-memory keyed state with TRUE point updates — the in-flight twin of
  * [[graft.ops.StateStore]] (which closes the same gap for state at rest).
  *
  * The reference backs `MutableBag` with AMPLab IndexedRDD precisely so a
  * small update touches only the partitions holding the updated keys
  * (emma-spark SparkMutableBag.scala:22,39-50). [[MutableBag]] reproduces
  * the reference SEMANTICS on Datasets (zero state Exchange per round), but
  * any Dataset pass — even a narrow one — scans the whole state when it
  * materializes. This class drops to the RDD tier (the documented "genuine
  * per-partition imperative logic" exception) to get the missing property:
  *
  *   - state lives hash-partitioned by key ([[HashPartitioner]], whose
  *     `getPartition` is DRIVER-CALLABLE — the index);
  *   - an update/lookup resolves its key set to a partition set on the
  *     driver and runs a [[PartitionPruningRDD]] job over ONLY those
  *     partitions — per-round tasks = |touched partitions|, not |parts|
  *     (PointBagSpec asserts the task counts via a listener);
  *   - untouched partitions chain by PASS-THROUGH iterators (no closure
  *     work, no copy) until the next compaction; every `compactEvery`
  *     updates the chain is cut with a materialized `localCheckpoint`, so
  *     amortized full-scan cost is O(|state| / compactEvery) per round.
  *
  * At 100 TB / 4096 partitions, a 1000-key round reads ≤ 1000/4096 of the
  * state; the scan the Dataset tier cannot avoid happens once per
  * `compactEvery` rounds instead of every round.
  *
  * Contract: UNIQUE key per row (an indexed store, like [[graft.ops.StateStore]];
  * `MutableBag`'s duplicate-key passthrough is not supported), and `K` must
  * have a deterministic `hashCode` (primitives, String, case classes of
  * those — anything `HashPartitioner` routes stably). Messages for one key
  * apply in sequence, each seeing the previous result; `f` returning `None`
  * leaves the current value unchanged (use [[delete]] to remove keys).
  * `localCheckpoint` blocks are executor-local: single-app lifetime, same
  * stance as [[MutableBag]]/[[Iterate]].
  */
final class PointBag[K, V] private (
    @transient private var state: RDD[(K, V)],
    private val parts: Int,
    private val compactEvery: Int,
    spark: SparkSession,
    encK: Encoder[K], encV: Encoder[V]) {

  private implicit val kvTag: ClassTag[(K, V)] =
    ClassTag(classOf[Tuple2[_, _]]).asInstanceOf[ClassTag[(K, V)]]
  private implicit val kvEnc: Encoder[(K, V)] = Encoders.tuple(encK, encV)

  private val partitioner = new HashPartitioner(parts)
  private var sinceCompact = 0
  // the last COMPACTED state — its blocks back the pass-through chain and
  // must stay alive until the next compaction materializes
  private var anchor: RDD[(K, V)] = state
  // broadcasts feeding the (unpersisted, recomputable) pass-through chain:
  // alive until the next compaction materializes past them, then
  // unpersisted deterministically — thousands of point rounds must not
  // wait on driver GC + ContextCleaner to reclaim broadcast BLOCKS.
  // unpersist, NOT destroy: the checkpointed MapPartitionsRDD still holds
  // its closure (and thus the Broadcast object) after markCheckpointed
  // clears the lineage, and task serialization asserts broadcast validity
  // — a destroyed broadcast fails every later job over the cut state.
  // unpersist frees the blocks but keeps the handle serializable; the
  // residual driver-held values are the point-message maps (tiny by the
  // point-update premise) until ContextCleaner collects the chain.
  private val pendingBcs =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.broadcast.Broadcast[_]]

  private def pidOf(k: K): Int = partitioner.getPartition(k)

  /** Apply point upserts. Each `(key, message)` routes to the one partition
    * owning the key; messages for absent keys insert via `f(k, None, m)`.
    * Returns the new value per touched key (one pruned job over the
    * touched partitions — the IndexedRDD `multiput` shape). Call only when
    * the messages fit on the driver (the point-update premise). */
  def update[M](msgs: Seq[(K, M)])(f: (K, Option[V], M) => Option[V]): Map[K, V] = {
    if (msgs.isEmpty) return Map.empty
    val touched = applyMsgs(msgs)(f)
    // the delta read: one job of |touched| tasks, not |parts|
    val keys = msgs.map(_._1).toSet
    PartitionPruningRDD.create(state, touched)
      .mapPartitions(_.filter { case (k, _) => keys(k) }, true)
      .collect().toMap
  }

  /** [[update]] without the result read-back — the state advances (lazily)
    * and NO job runs until something materializes it. This is the right
    * shape for maintenance loops that never consume the per-key results
    * (updateBag's small-delta path, streaming point-state maintenance):
    * each round costs zero jobs beyond its probe. Returns the touched
    * partition ids. */
  private def applyMsgs[M](msgs: Seq[(K, M)])(
      f: (K, Option[V], M) => Option[V]): Set[Int] = {
    // group per partition up front: each task looks up ONLY its own slice
    val byPid: Map[Int, Map[K, Seq[M]]] = msgs.groupBy { case (k, _) => pidOf(k) }
      .view.mapValues(_.groupBy(_._1).view.mapValues(_.map(_._2)).toMap).toMap
    val touched = byPid.keySet
    val bc = spark.sparkContext.broadcast(byPid)
    val next = state.mapPartitionsWithIndex({ (pid, it) =>
      bc.value.get(pid) match {
        case None => it // pass-through: zero closure work for this partition
        case Some(ms) =>
          val seen = scala.collection.mutable.HashSet.empty[K]
          val updated = it.map { case (k, v) =>
            ms.get(k) match {
              case None => (k, v)
              case Some(list) =>
                seen += k
                (k, list.foldLeft(v)((acc, m) => f(k, Some(acc), m).getOrElse(acc)))
            }
          }
          // inserts resolve AFTER the partition's rows are exhausted —
          // Iterator.++'s right operand is BY-NAME, so this def only runs
          // once `updated` is drained and `seen` is complete (an anonymous
          // Iterator subclass here would also capture PointBag.this into
          // the task closure); keys sorted by hashCode for a deterministic
          // row order within the partition
          def inserts = ms.view.filterKeys(!seen(_)).toSeq
            .sortBy(_._1.hashCode).iterator.flatMap { case (k, list) =>
              list.foldLeft(Option.empty[V])((acc, m) => f(k, acc, m).orElse(acc))
                .map(k -> _)
            }
          updated ++ inserts
      }
    }, preservesPartitioning = true)
    advance(next, Some(bc))
    touched
  }

  /** Apply a DISTRIBUTED delta: the messages hash-partition WITH the
    * state's partitioner and each state partition zips its delta slice —
    * the state side never shuffles (its blocks stay put; the ONLY
    * ShuffledRDD in the new state's lineage is the delta's), closing the
    * reference's IndexedRDD `multiputRDD` gap (SparkMutableBag.scala:39-50)
    * for deltas too large for the driver. A delta that fits the driver —
    * the bounded collect `bridge.collectIfFits` under the messages'
    * session's broadcast threshold — short-circuits to the driver-routed
    * [[update]] (one `limit(cap + 1)` job, no count), whose follow-up
    * reads prune to the touched partitions. At `-1` no collect runs and
    * the delta goes straight to the zip-partitions path.
    *
    * Message application order within one key follows the delta's
    * post-shuffle partition order, which is NOT deterministic across runs
    * — pre-aggregate per key upstream or use an order-insensitive `f`
    * (same contract as [[MutableBag.update]]'s grouped messages). */
  def updateBag[M](msgs: DataBag[(K, M)])(f: (K, Option[V], M) => Option[V]): Unit = {
    // the bounded collect evaluates the delta pipeline once; a LARGE delta
    // then re-evaluates it for the shuffle — persist an expensive delta
    // upstream
    bridge.collectIfFits(msgs.ds) match {
      case Some(probe) =>
        // no read-back: updateBag returns Unit, so the small path costs
        // ZERO jobs beyond the collect (the state advances lazily)
        if (probe.nonEmpty) { val _ = applyMsgs(probe.toSeq)(f) }
        return
      case None =>
    }
    implicit val kTag: ClassTag[K] = ClassTag.AnyRef.asInstanceOf[ClassTag[K]]
    implicit val mTag: ClassTag[M] = ClassTag.AnyRef.asInstanceOf[ClassTag[M]]
    val delta: RDD[(K, M)] = msgs.ds.rdd.partitionBy(partitioner)
    val next = state.zipPartitions(delta, preservesPartitioning = true) {
      (stateIt, msgIt) =>
        if (msgIt.isEmpty) stateIt // pass-through for untouched partitions
        else {
          val ms: Map[K, Seq[M]] = msgIt.toSeq.groupBy(_._1)
            .view.mapValues(_.map(_._2)).toMap
          val seen = scala.collection.mutable.HashSet.empty[K]
          val updated = stateIt.map { case (k, v) =>
            ms.get(k) match {
              case None => (k, v)
              case Some(list) =>
                seen += k
                (k, list.foldLeft(v)((acc, m) => f(k, Some(acc), m).getOrElse(acc)))
            }
          }
          def inserts = ms.view.filterKeys(!seen(_)).toSeq
            .sortBy(_._1.hashCode).iterator.flatMap { case (k, list) =>
              list.foldLeft(Option.empty[V])((acc, m) => f(k, acc, m).orElse(acc))
                .map(k -> _)
            }
          updated ++ inserts
        }
    }
    advance(next, None)
  }

  /** Remove keys (touched-partition pass; absent keys are a no-op). */
  def delete(keys: Seq[K]): Unit = {
    if (keys.isEmpty) return
    val byPid = keys.groupBy(pidOf).view.mapValues(_.toSet).toMap
    val bc = spark.sparkContext.broadcast(byPid)
    val next = state.mapPartitionsWithIndex({ (pid, it) =>
      bc.value.get(pid) match {
        case None => it
        case Some(ks) => it.filter { case (k, _) => !ks(k) }
      }
    }, preservesPartitioning = true)
    advance(next, Some(bc))
  }

  /** Point lookup: one pruned job over the partitions owning `keys` —
    * the IndexedRDD `multiget`. */
  def multiget(keys: Seq[K]): Map[K, V] = {
    if (keys.isEmpty) return Map.empty
    val touched = keys.map(pidOf).toSet
    val ks = keys.toSet
    PartitionPruningRDD.create(state, touched)
      .mapPartitions(_.filter { case (k, _) => ks(k) }, true)
      .collect().toMap
  }

  /** Snapshot of the full state as a [[DataBag]] (one full pass, as any
    * whole-bag read must be). */
  def bag(): DataBag[(K, V)] = DataBag.from(spark.createDataset(state))

  /** Cut the pass-through chain NOW: materialize + localCheckpoint, free
    * the previous anchor's blocks. Runs automatically every `compactEvery`
    * updates. */
  def compact(): Unit = {
    val cut = state.localCheckpoint()
    cut.count() // materialize the checkpoint blocks
    if (!(anchor eq cut)) anchor.unpersist(blocking = false)
    anchor = cut
    state = cut
    sinceCompact = 0
    // the checkpoint blocks are materialized — the chain can no longer be
    // recomputed; free the broadcast blocks now (see field comment for
    // why unpersist rather than destroy)
    pendingBcs.foreach(_.unpersist())
    pendingBcs.clear()
  }

  private def advance(next: RDD[(K, V)],
      bc: Option[org.apache.spark.broadcast.Broadcast[_]]): Unit = {
    bc.foreach(pendingBcs += _)
    state = next
    sinceCompact += 1
    if (sinceCompact >= compactEvery) compact()
  }

  private[graft] def currentChainLength: Int = sinceCompact
  private[graft] def pendingBroadcasts: Int = pendingBcs.size
  private[graft] def stateDebugString: String = state.toDebugString
}

object PointBag {
  /** Build from an initial state (one hash Exchange; every later round is
    * pruned to its touched partitions). `parts` defaults to the session's
    * shuffle parallelism; `compactEvery` bounds the pass-through chain —
    * raise it when updates are tiny relative to the state. */
  def apply[K, V](init: DataBag[(K, V)], parts: Int = 0, compactEvery: Int = 8)(
      implicit encK: Encoder[K], encV: Encoder[V]): PointBag[K, V] = {
    val spark = init.ds.sparkSession
    val p = if (parts > 0) parts
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // element ClassTags only parameterize PairRDDFunctions' serializers —
    // AnyRef is safe here (rows are boxed in the tuple); the COLLECT-side
    // tag (the one that must be Tuple2, see the verify-skill gotcha) is the
    // class-level kvTag
    implicit val kTag: ClassTag[K] = ClassTag.AnyRef.asInstanceOf[ClassTag[K]]
    implicit val vTag: ClassTag[V] = ClassTag.AnyRef.asInstanceOf[ClassTag[V]]
    val base = init.ds.rdd.partitionBy(new HashPartitioner(p))
      .localCheckpoint()
    base.count()
    new PointBag(base, p, compactEvery, spark, encK, encV)
  }
}
