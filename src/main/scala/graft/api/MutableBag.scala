package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge

/** Keyed mutable state for iterative algorithms.
  *
  * Semantics follow the reference's `MutableBag[K, V]`
  * (emma-language api/MutableBag.scala:23-51): `update(ms)(f)` applies `f` to
  * every key present in `ms` (right-outer on the update bag), where `f`
  * receives the key, the current value (if any), and the update message, and
  * returns `Some(newValue)` to upsert or `None` to leave the state unchanged;
  * it returns the delta. `bag()` snapshots the state; `copy()` clones it.
  *
  * The reference backs this with AMPLab IndexedRDD point-updates
  * (SparkMutableBag.scala:39-50). IndexedRDD is unmaintained; this
  * implementation keeps state as a `Dataset[(K, V)]` whose checkpoint blocks
  * stay HASH-PARTITIONED BY KEY across rounds ([[bridge.assertHashPartitioned]]):
  * each `update` is a column-keyed cogroup in which ONLY the message side
  * shuffles — the state side reads its asserted partitioning straight from
  * the checkpoint, zero Exchange, and the cogroup's output (new values
  * computed in the partition that held the key) re-asserts the same layout.
  * That closes the IndexedRDD gap for large-delta rounds; small-delta
  * rounds can avoid even the message shuffle via [[updateBroadcast]]
  * (still an O(|state|) narrow scan per round — Datasets have no index).
  * When rounds are genuinely point-sized and unique-keyed, [[PointBag]]
  * closes the remaining gap at the RDD tier: per-round tasks bounded by
  * the TOUCHED partitions, the true IndexedRDD property.
  * Eager localCheckpoint cuts lineage across fixpoint iterations (the role
  * of the reference's auto-cache rule, Caching.scala:74-139).
  */
final class MutableBag[K, V] private (
    private var state: Dataset[(K, V)],
    private val parts: Int,
    encK: Encoder[K],
    encV: Encoder[V]) extends Serializable {

  private implicit val kvEnc: Encoder[(K, V)] = Encoders.tuple(encK, encV)

  def update[M](ms: DataBag[Group[K, M]])(f: (K, Option[V], M) => Option[V])(
      implicit encM: Encoder[M]): DataBag[(K, V)] = {
    val kmEnc: Encoder[(K, M)] = Encoders.tuple(encK, encM)
    val kvdEnc: Encoder[(K, V, Boolean)] =
      Encoders.tuple(encK, encV, Encoders.scalaBoolean)
    val updates: Dataset[(K, M)] = ms.ds.map(g => (g.key, g.values))(kmEnc)

    // column-keyed grouping (no AppendColumns): the grouping expression IS
    // the state's first column, so the state's asserted hash partitioning
    // satisfies the cogroup's clustering requirement — no state Exchange
    val stateK = state.groupBy(col("_1")).as[K, (K, V)](encK, kvEnc)
    val updatesK = updates.groupBy(col("_1")).as[K, (K, M)](encK, kmEnc)

    // ONE pass produces both the new state and the delta (flagged): keys
    // without messages keep their row; keyed messages yield f-results
    // (delta) or, when every f returns None, the old row unchanged
    val combined: Dataset[(K, V, Boolean)] = stateK.cogroup(updatesK) {
      (k, vs, msIt) =>
        if (!msIt.hasNext) vs.map { case (_, v) => (k, v, false) }
        else {
          // f sees the FIRST value (keyed state; original semantics), but
          // when every f declines, ALL existing rows for the key survive —
          // a duplicate-keyed state must pass through update unchanged
          val olds = vs.map(_._2).toList
          val news = msIt.flatMap { case (_, m) => f(k, olds.headOption, m) }.toList
          if (news.nonEmpty) news.iterator.map(v => (k, v, true))
          else olds.iterator.map(v => (k, v, false))
        }
    }(kvdEnc)

    // checkpoint (not just persist) AND drop origin stats: callers feed the
    // returned delta into the NEXT round's messages, so an un-truncated
    // delta chains plans across rounds (measured: 137→2500 MB of driver
    // heap in 13 rounds on a 40-row state), and checkpoint-carried origin
    // stats compound multiplicatively between state and delta (see
    // bridge.dropOriginStats) until round ~17 planning stalls on
    // million-bit BigInt products. The cogroup output is narrow per key —
    // every row stays in the partition that held (or would hold) its key —
    // so the checkpoint re-asserts the state's hash layout.
    val ckpt = bridge.assertHashPartitioned(
      combined.localCheckpoint(true), Seq("_1"), parts)

    val old = state
    state = ckpt.select("_1", "_2").as(kvEnc)
    // NOTE: old's checkpoint blocks are NOT freed eagerly — copy() hands out
    // snapshots sharing the state Dataset, and a truncated-lineage snapshot
    // cannot be recomputed once its blocks are gone. The ContextCleaner frees
    // them when the last reference is collected.
    old.unpersist()
    DataBag.from(ckpt.where(col("_3")).select("_1", "_2").as(kvEnc))
  }

  /** [[update]] for SMALL update bags — the Spark-native stand-in for the
    * reference's IndexedRDD point updates (SparkMutableBag.scala:39-50).
    * Collects the messages to the driver, broadcasts them, and applies them
    * in ONE narrow pass over the state: zero shuffles per round for the
    * state AND the messages (the cogroup form still shuffles messages), no
    * state movement, lineage still truncated. The pass is still O(|state|)
    * scan work — a scan-free point update needs an indexed store Spark's
    * Dataset doesn't have — but at cluster scale the shuffle, not the scan,
    * is what dominates a small-delta round.
    *
    * Same contract as [[update]]; additionally `f` must be PURE — it runs
    * once in the delta pass and once in the state pass. Only call when the
    * messages fit on the driver (the usual tail of a converging fixpoint);
    * absent-key inserts are driver-computed, exchanged alone (rows ∝
    * inserts, not state), and zip-merged into the state's partitions so
    * the asserted hash layout survives.
    */
  def updateBroadcast[M](ms: DataBag[Group[K, M]])(f: (K, Option[V], M) => Option[V])(
      implicit encM: Encoder[M]): DataBag[(K, V)] = {
    val kmEnc: Encoder[(K, M)] = Encoders.tuple(encK, encM)
    val spark = state.sparkSession
    val msgs: Map[K, Seq[M]] = ms.ds.map(g => (g.key, g.values))(kmEnc)
      .collect().toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val bc = spark.sparkContext.broadcast(msgs)

    // keys the state already holds (tiny result: ≤ |msgs| rows move)
    val present: Set[K] =
      state.filter(kv => bc.value.contains(kv._1)).map(_._1)(encK).collect().toSet
    val absentDelta: Seq[(K, V)] = (msgs.keySet -- present).toSeq
      .flatMap(k => msgs(k).flatMap(m => f(k, None, m).map(k -> _)))

    val matchedDelta: Dataset[(K, V)] = state.mapPartitions { it =>
      it.flatMap { case (k, v) =>
        bc.value.get(k).iterator.flatMap(_.flatMap(m => f(k, Some(v), m).map(k -> _)))
      }
    }
    // same lineage + stats hygiene as [[update]]
    val deltaCached = bridge.dropOriginStatsTyped(matchedDelta
      .union(spark.createDataset(absentDelta)(kvEnc)).localCheckpoint(true))

    // new state: updated keys replaced in place by a NARROW pass (rows never
    // leave their partition), inserts routed through their own tiny exchange
    // and zip-merged partition-wise — the asserted layout survives both
    val updatedInPlace: Dataset[(K, V)] = state.mapPartitions { it =>
      it.flatMap { case (k, v) =>
        bc.value.get(k) match {
          case Some(mlist) =>
            val news = mlist.flatMap(m => f(k, Some(v), m).map(k -> _))
            if (news.nonEmpty) news else Seq(k -> v)
          case None => Seq(k -> v)
        }
      }
    }
    val merged: DataFrame =
      if (absentDelta.isEmpty) updatedInPlace.toDF()
      else bridge.zipUnion(updatedInPlace,
        spark.createDataset(absentDelta)(kvEnc).repartition(parts, col("_1")))

    val old = state
    state = bridge.assertHashPartitioned(
        merged.localCheckpoint(true), Seq("_1"), parts)
      .as(kvEnc)
    old.unpersist()
    // NOT bc.destroy(): deltaCached is lazy and still reads the broadcast on
    // first evaluation; the ContextCleaner reclaims it once unreferenced
    DataBag.from(deltaCached)
  }

  /** Snapshot of the current state. */
  def bag(): DataBag[(K, V)] = DataBag.from(state)

  /** Clone with value semantics across loop iterations. */
  def copy(): MutableBag[K, V] = new MutableBag(state, parts, encK, encV)
}

object MutableBag {
  def apply[K, V](init: DataBag[(K, V)])(
      implicit encK: Encoder[K], encV: Encoder[V]): MutableBag[K, V] = {
    val spark = init.ds.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val kvEnc = Encoders.tuple(encK, encV)
    // pay the state's ONE hash exchange here; every later update round
    // reads the asserted layout back from the checkpoint instead
    val state = bridge.assertHashPartitioned(
        init.ds.repartition(parts, col("_1")).localCheckpoint(true),
        Seq("_1"), parts)
      .as(kvEnc)
    new MutableBag(state, parts, encK, encV)
  }
}
