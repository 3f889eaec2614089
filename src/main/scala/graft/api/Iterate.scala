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

  /** The one fixpoint loop behind the three public forms. Persists `init`
    * and measures it when `measureInit`; each round steps, truncates the
    * result every `checkpointEvery` rounds (else persists it), measures it
    * with `measure` and stops when `converged(previous, next, round)` holds
    * — a previous measure exists only when `init` was measured or from
    * round 2 on. The state a round replaces is freed, except the caller's
    * `init`; a persist the loop put on `init` is undone once it has moved
    * past it. */
  private def loop[A, S](init: Dataset[A], maxIter: Int, checkpointEvery: Int,
      measureInit: Boolean)(step: Dataset[A] => Dataset[A])(measure: Dataset[A] => S)(
      converged: (S, S, Int) => Boolean): Dataset[A] = {
    // If the caller already persisted init, they own its storage; only a
    // persist WE added may be undone once the loop has moved past init.
    val initSelfPersisted = init.storageLevel == StorageLevel.NONE
    var cur = init.persist(StorageLevel.MEMORY_AND_DISK)
    var last: Option[S] = if (measureInit) Some(measure(cur)) else None
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      var next = step(cur)
      next = if ((i + 1) % checkpointEvery == 0) truncate(next)
             else next.persist(StorageLevel.MEMORY_AND_DISK)
      val m = measure(next)
      done = last.exists(converged(_, m, i + 1))
      // Never free the caller's init mid-loop (persist() returned the same
      // object): the caller may still be using it.
      if (!(cur eq init)) free(cur)
      cur = next
      last = Some(m)
      i += 1
    }
    if (!(cur eq init) && initSelfPersisted) init.unpersist()
    cur
  }

  /** `minRounds`: skip the (potentially expensive) convergence check for the
    * first rounds an algorithm is known to need — e.g. alternating-star CC
    * never converges in round 1, so checking there only burns jobs. */
  def fixpoint[A](init: Dataset[A], maxIter: Int = 100, checkpointEvery: Int = 1,
      minRounds: Int = 1)(
      step: Dataset[A] => Dataset[A])(
      converged: (Dataset[A], Dataset[A]) => Boolean): Dataset[A] =
    loop(init, maxIter, checkpointEvery, measureInit = true)(step)(identity)(
      (cur, next, round) => round >= minRounds && converged(cur, next))

  /** Fixpoint converging when a caller-supplied DIGEST of the state stops
    * changing. The digest (e.g. `(count, bit_xor(hash(cols)))`) is ONE small
    * aggregate job per round on the already-persisted state — versus the
    * join/except between consecutive states a structural comparison costs
    * (two extra shuffles per round, which dominates iterative algorithms once
    * the state is small). Digest equality is probabilistic in principle
    * (a 64-bit hash-set collision, ~2⁻⁶⁴ per round) and exact in practice.
    * The digest of `init` is taken only when convergence can trigger in
    * round 1 (`minRounds <= 1`).
    */
  def fixpointDigest[A](init: Dataset[A], maxIter: Int = 100,
      checkpointEvery: Int = 1, minRounds: Int = 1)(
      step: Dataset[A] => Dataset[A])(
      digest: Dataset[A] => Seq[Any]): Dataset[A] =
    loop(init, maxIter, checkpointEvery, measureInit = minRounds <= 1)(step)(digest)(
      (prev, next, round) => round >= minRounds && prev == next)

  /** Fixpoint on bags, converging when the size stops changing (the shape of
    * the reference's transitiveClosure loop, lib/graphs/transitiveClosure.scala:22-44).
    * Truncates every round. */
  def fixpointBySize[A](init: DataBag[A], maxIter: Int = 100)(
      step: DataBag[A] => DataBag[A]): DataBag[A] =
    DataBag.from(loop(init.ds, maxIter, checkpointEvery = 1, measureInit = true)(
      ds => step(DataBag.from(ds)).ds)(ds => DataBag.from(ds).size)(
      (n, m, _) => n == m))
}
