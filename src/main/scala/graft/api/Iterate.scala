package graft.api

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graft.bridge
import org.apache.spark.storage.StorageLevel

/** Driver-side fixpoint iteration with automatic persistence management.
  *
  * Plays the role of the reference's auto-cache insertion
  * (compiler/opt/Caching.scala:74-139: cache loop-carried / multiply-used
  * bags) plus Flink's native bulk `iterate` (FlinkNtv.scala:38-44), expressed
  * as an explicit combinator: each iteration's result is persisted, the
  * previous iteration freed, and lineage is truncated with a local
  * checkpoint every `checkpointEvery` steps so long fixpoints (connected
  * components, transitive closure) don't accumulate unbounded plan depth.
  * Checkpointed state is freed through [[bridge.freeLocalCheckpoint]] —
  * plain `unpersist()` is a no-op for localCheckpoint'ed Datasets.
  *
  * `checkpointEvery` defaults to 1 (truncate EVERY round): a fixpoint step is
  * typically ~10 Catalyst operators, and re-analyzing/re-optimizing the
  * accumulated plan costs the driver multiple seconds per action by round 2-3
  * while the jobs themselves take milliseconds — measured on alternating-star
  * CC, per-round truncation cut end-to-end time 2.5x. The storage cost is the
  * same as the persist the loop does anyway; what's given up is lineage-based
  * recovery of lost blocks, which an iterative driver loop can't replay
  * cheaply regardless (any lost round forces a restart from the last
  * materialized state).
  *
  * AQE stays ENABLED in these loops, deliberately: measured at sf0.1
  * (local[32]), disabling it regressed the iterative suite ~10% overall and
  * pageRank ~55% — AQE's partition coalescing on the small state shuffles
  * buys more than its per-round re-planning costs. KMeans/ML.gd reach the
  * opposite conclusion because their per-round aggregate is a single row
  * (nothing to coalesce, so re-planning is pure overhead there).
  */
object Iterate {

  private def free(ds: Dataset[_]): Unit = {
    ds.unpersist()
    bridge.freeLocalCheckpoint(ds)
  }

  /** Eager checkpoint with carried-over origin stats dropped: a step that
    * rendezvouses TWO evolving checkpointed inputs would otherwise compound
    * the size-only stats (product visitor) Fibonacci-style across rounds —
    * see bridge.dropOriginStats and PROFILE.md (MutableBag section). */
  private def truncate[A](ds: Dataset[A]): Dataset[A] =
    bridge.dropOriginStatsTyped(ds.localCheckpoint(true))

  /** `minRounds`: skip the (potentially expensive) convergence check for the
    * first rounds an algorithm is known to need — e.g. alternating-star CC
    * never converges in round 1, so checking there only burns jobs. */
  def fixpoint[A](init: Dataset[A], maxIter: Int = 100, checkpointEvery: Int = 1,
      minRounds: Int = 1)(
      step: Dataset[A] => Dataset[A])(
      converged: (Dataset[A], Dataset[A]) => Boolean): Dataset[A] = {
    // If the caller already persisted init, they own its storage; only a
    // persist WE added may be undone once the loop has moved past init.
    val initSelfPersisted = init.storageLevel == StorageLevel.NONE
    var cur = init.persist(StorageLevel.MEMORY_AND_DISK)
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      var next = step(cur)
      next = if ((i + 1) % checkpointEvery == 0) truncate(next)
             else next.persist(StorageLevel.MEMORY_AND_DISK)
      done = i + 1 >= minRounds && converged(cur, next)
      // Never free the caller's init mid-loop (persist() returned the same
      // object): the caller may still be using it.
      if (!(cur eq init)) free(cur)
      cur = next
      i += 1
    }
    if (!(cur eq init) && initSelfPersisted) init.unpersist()
    cur
  }

  /** Fixpoint converging when a caller-supplied DIGEST of the state stops
    * changing. The digest (e.g. `(count, bit_xor(hash(cols)))`) is ONE small
    * aggregate job per round on the already-persisted state — versus the
    * join/except between consecutive states a structural comparison costs
    * (two extra shuffles per round, which dominates iterative algorithms once
    * the state is small). Digest equality is probabilistic in principle
    * (a 64-bit hash-set collision, ~2⁻⁶⁴ per round) and exact in practice.
    */
  def fixpointDigest[A](init: Dataset[A], maxIter: Int = 100,
      checkpointEvery: Int = 1, minRounds: Int = 1)(
      step: Dataset[A] => Dataset[A])(
      digest: Dataset[A] => Seq[Any]): Dataset[A] = {
    val initSelfPersisted = init.storageLevel == StorageLevel.NONE
    var cur = init.persist(StorageLevel.MEMORY_AND_DISK)
    // Only pay for the init digest if convergence can trigger in round 1.
    var curDig: Seq[Any] = if (minRounds <= 1) digest(cur) else null
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      var next = step(cur)
      next = if ((i + 1) % checkpointEvery == 0) truncate(next)
             else next.persist(StorageLevel.MEMORY_AND_DISK)
      val nextDig = digest(next)
      done = i + 1 >= minRounds && curDig != null && curDig == nextDig
      if (!(cur eq init)) free(cur)
      cur = next
      curDig = nextDig
      i += 1
    }
    if (!(cur eq init) && initSelfPersisted) init.unpersist()
    cur
  }

  /** Fixpoint on bags, converging when the size stops changing (the shape of
    * the reference's transitiveClosure loop, lib/graphs/transitiveClosure.scala:22-44). */
  def fixpointBySize[A](init: DataBag[A], maxIter: Int = 100)(
      step: DataBag[A] => DataBag[A]): DataBag[A] = {
    val initSelfPersisted = init.ds.storageLevel == StorageLevel.NONE
    var cur = init.cache()
    var n = cur.size
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val next = DataBag.from(truncate(step(cur).ds))
      val m = next.size
      done = m == n
      if (!(cur.ds eq init.ds)) free(cur.ds)
      cur = next
      n = m
      i += 1
    }
    if (!(cur.ds eq init.ds) && initSelfPersisted) init.ds.unpersist()
    cur
  }
}
