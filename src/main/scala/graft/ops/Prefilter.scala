package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.xxhash64
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.BinaryType

/** Semi-join reduction via a broadcast Bloom filter — the standard 100 TB
  * join-pruning move when the small side is too big to broadcast-join but its
  * KEY SET sketches into a few MB: rows of the big side that cannot possibly
  * match are dropped at the scan, before the shuffle, at the cost of an
  * `fpp` fraction of false survivors (which the real join then discards —
  * the reduction is an over-approximation, never lossy).
  *
  * Build and probe both stay in-plan: the filter is built by Catalyst's
  * `BloomFilterAggregate` (one map-side-combinable aggregation job — the
  * same machinery AQE's runtime bloom filters use) and probed through a
  * native `BloomFilterMightContain` expression over `xxhash64(key)`, which
  * codegens inline — no opaque closure UDF breaking whole-stage codegen on
  * the big side's scan (OpsSpec plan-asserts this).
  *
  * Complements AQE's automatic runtime bloom filters
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) with an explicit,
  * reusable handle: build once, reduce many frames.
  */
object Prefilter {

  /** Build a Bloom filter over `key` of `keys` and return a predicate Column
    * factory usable on any other frame (keys of any hashable type — both
    * sides go through `xxhash64`). */
  def bloomOf(keys: DataFrame, key: Column, expectedItems: Long,
      fpp: Double = 0.01): Column => Column = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1): $fpp")
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      bridge.eagerExpression(xxhash64(key)),
      Literal(expectedItems), Literal(numBits))
    // BloomFilterAggregate SILENTLY clamps its size to the session's
    // runtime-bloom-filter caps (Math.min against maxNumItems = 4M /
    // maxNumBits = 64Mi by default — verified in the 4.1.2 bytecode);
    // at the 100-TB sizes this op exists for, the clamp would quietly
    // blow the fpp contract to ~50%, so the build raises (never lowers) the
    // caps to cover the request, on a per-call clone (`bridge.isolated`).
    val caps = Map("maxNumItems" -> expectedItems, "maxNumBits" -> numBits).map { case (cap, request) =>
      val key = s"spark.sql.optimizer.runtime.bloomFilter.$cap" // conf.get gives the default if unset
      key -> math.max(keys.sparkSession.conf.get(key).toLong, request).toString
    }
    // one aggregation job; the serialized filter (numBits/8 bytes) comes
    // back as a scalar and is re-embedded as a LITERAL in every probe —
    // the driver holds the sketch, never data
    val bin = bridge.isolated(keys, caps)
      .select(bridge.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    (c: Column) => bridge.column(
      BloomFilterMightContain(Literal.create(bin, BinaryType),
        bridge.eagerExpression(xxhash64(c))))
  }

  /** Drop `big` rows whose `bigKey` cannot appear in `small`'s `smallKey`
    * set. Result is a superset of the exact semi-join (false-positive rate
    * `fpp`), produced with no shuffle of `big`. */
  def bloomSemiReduce(big: DataFrame, bigKey: Column,
      small: DataFrame, smallKey: Column,
      expectedItems: Long, fpp: Double = 0.01): DataFrame =
    big.where(bloomOf(small, smallKey, expectedItems, fpp)(bigKey))
}
