package graft.lib

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.api.{DataBag, Group, Iterate, MutableBag}

/** Graph algorithms over edge bags (reference: `DataBag[Edge[V]]`,
  * emma-lib graphs/transitiveClosure.scala:22-44,
  * emma-examples graphs/ConnectedComponents.scala:27-53,
  * graphs/EnumerateTriangles.scala:27-42). Original Spark-first
  * implementations: edges are Datasets, fixpoints run through
  * [[graft.api.Iterate]] (persist + lineage truncation per step).
  */
object Graphs {

  /** Connected components by min-label propagation over undirected edges.
    * Returns (vertex, label) with label = min vertex id in the component.
    *
    * Scale notes: each iteration is one shuffle (join on vertex) + one
    * aggregation; state is persisted and lineage-truncated per step. At
    * cluster scale, pre-partition both sides by vertex to make the join
    * co-located across iterations.
    */
  def connectedComponents(edges: DataFrame, spark: SparkSession): DataFrame = {
    // undirected closure of the edge set, pre-partitioned by the join key:
    // the per-round join is cur.vertex === und.src, and cur (a groupBy(vertex)
    // output) is already hash-partitioned by vertex — partitioning und by src
    // once means NO exchange of the (large) edge relation in any round; only
    // the small label state moves
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")).persist()
    val init = und.select(col("src").as("vertex")).distinct()
      .withColumn("label", col("vertex"))
    // (vertex, label) is a key→value map: unchanged digest ⇔ no label moved
    // (one tiny agg job per round instead of a join between states)
    val result = Iterate.fixpointDigest[org.apache.spark.sql.Row](init)(
      step = cur => {
        // propagate each vertex's label to its neighbors; keep the min
        val prop = cur.as("c").join(und.as("e"), col("c.vertex") === col("e.src"))
          .select(col("e.dst").as("vertex"), col("c.label").as("label"))
        cur.union(prop).groupBy("vertex").agg(min("label").as("label"))
      })(
      digest = st => st.agg(count(lit(1)),
        // bit_xor is order-insensitive AND overflow-free — summing full-range
        // 64-bit hashes throws ARITHMETIC_OVERFLOW under Spark 4's ANSI default
        expr("bit_xor(xxhash64(vertex, label))")).collect()(0).toSeq)
    und.unpersist()
    result
  }

  /** Transitive closure by path doubling: p ← p ∪ (p ⋈ p), reaching paths of
    * length 2^i after i rounds — O(log diameter) shuffles instead of the
    * reference's O(diameter) edge-join do-while
    * (transitiveClosure.scala:22-44); same fixpoint-by-size convergence. */
  def transitiveClosure(edges: Dataset[(Long, Long)]): Dataset[(Long, Long)] = {
    import edges.sparkSession.implicits._
    val bag = Iterate.fixpointBySize(DataBag.from(edges)) { cur =>
      val next = cur.equiJoin(cur)(_._2, _._1)
        .map { case ((s, _), (_, d)) => (s, d) }
      cur.union(next).distinct
    }
    bag.ds
  }

  /** Triangle enumeration via two joins over ordered edges (src < dst),
    * reference EnumerateTriangles.scala:27-42. Returns (x, y, z) with
    * x < y < z, each triangle once. */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select(
        least(col("src"), col("dst")).as("s"), greatest(col("src"), col("dst")).as("d"))
      .where(col("s") =!= col("d")).distinct().persist()
    val xy = e.as("xy"); val yz = e.as("yz"); val xz = e.as("xz")
    xy.join(yz, col("xy.d") === col("yz.s"))
      .join(xz, col("xz.s") === col("xy.s") && col("xz.d") === col("yz.d"))
      .select(col("xy.s").as("x"), col("xy.d").as("y"), col("yz.d").as("z"))
  }

  /** Connected components by the alternating large-star/small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log n) rounds independent of graph diameter —
    * the scale path when components can be long chains. [[connectedComponents]]
    * (min-label propagation, O(diameter) rounds) stays as the simple variant.
    *
    * Each round is two shuffles (a groupBy-min and a join per star phase);
    * at convergence every non-root points directly at its component minimum.
    */
  def connectedComponentsAlternating(edges: DataFrame, spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.DataFrame

    // large-star: for each center u, m = min(N(u) ∪ {u}); link each LARGER
    // neighbor v > u to m
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy("src")
        .agg(min(least(col("dst"), col("src"))).as("m"))
      // no distinct here: duplicate (dst, m) links only arise from neighbors
      // sharing a minimum, and smallStar's terminal distinct dedups the round
      // anyway — dropping it saves one full shuffle per round
      sym.join(m, "src").where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    }

    // small-star: orient edges downward (u ≥ v); for each center u,
    // m = min of its smaller neighbors; link u and each smaller neighbor to m
    def smallStar(e: DataFrame): DataFrame = {
      val orient = e.where(col("src") =!= col("dst")).select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = orient.groupBy("src").agg(min(col("dst")).as("m"))
      val joined = orient.join(m, "src")
      joined.select(col("dst").as("src"), col("m").as("dst"))
        .union(joined.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    // distinct up front: the rounds operate on edge SETS anyway (smallStar
    // ends in distinct), and raw inputs often repeat edges heavily — dedup
    // once so round 1 doesn't drag the full multiset through 4 shuffles
    val init = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    // States are distinct() relations, so (count, bit_xor of row hashes)
    // equality ⇔ set equality (up to a 2⁻⁶⁴ collision) — ONE small aggregate
    // per round instead of the count+count+except (two extra shuffles) a
    // structural comparison costs. Round 1 never converges (the first star
    // pass always rewrites edges), so skip its digest.
    // checkpointEvery=1: each round is ~10 Catalyst operators deep, so by
    // round 2 the un-truncated plan costs multiple SECONDS of driver-side
    // planning per action while the actual jobs take milliseconds. The state
    // is the (small) edge relation, so an eager per-round localCheckpoint is
    // far cheaper than re-optimizing a growing plan every round.
    val stars = Iterate.fixpointDigest[org.apache.spark.sql.Row](init,
      checkpointEvery = 1, minRounds = 2)(
      step = cur => smallStar(largeStar(cur)))(
      digest = st => st.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))")).collect()(0).toSeq)
    // stars: (non-root vertex -> component min); roots map to themselves
    val roots = stars.select(col("dst").as("vertex")).distinct()
      .join(stars.select(col("src").as("vertex")), Seq("vertex"), "left_anti")
      .select(col("vertex"), col("vertex").as("label"))
    stars.select(col("src").as("vertex"), col("dst").as("label")).union(roots)
  }

  /** PageRank over the DISTINCT directed edge set, in scaled 64-bit integer
    * arithmetic so every engine computes bit-identical ranks (double-sum
    * PageRank is order-sensitive in the last ulp and can never hash-match a
    * foreign oracle). `scale` is the fixed-point unit: rank 1.0 ≡ `scale`;
    * each of the fixed `iterations` rounds computes
    * `r'(v) = (15*scale) div 100 + (85 * Σ_{u→v} (r(u) div outdeg(u))) div 100`
    * — dangling-vertex mass leaks, as in the simplified formulation.
    *
    * Pick `scale` so the heaviest vertex's incoming mass times 85 stays under
    * 2^63 (default 10^9 leaves headroom for ~10^8-vertex components); larger
    * `scale` buys precision, smaller buys overflow headroom — Spark runs ANSI
    * so an overflow throws rather than corrupting ranks silently.
    *
    * One shuffle per round (the contribution aggregation keyed by dst) plus
    * the left join back onto the rank-carrying vertex set; the degree-annotated
    * edge relation is materialized once and reused by every round. */
  def pageRankScaled(edges: DataFrame, iterations: Int = 10,
      scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1 && scale >= 100)
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val withDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("odeg")), "src")
      .localCheckpoint()
    val verts = withDeg.select(col("src").as("vertex"))
      .union(withDeg.select(col("dst").as("vertex"))).distinct()
      .localCheckpoint()
    val base = lit(15L * scale / 100L)
    var rank = verts.withColumn("r", lit(scale)).localCheckpoint()
    for (_ <- 1 to iterations) {
      val contrib = withDeg.join(rank, withDeg("src") === rank("vertex"))
        .select(col("dst").as("vertex"), expr("r div odeg").as("c"))
        .groupBy("vertex").agg(sum("c").as("s"))
      val next = verts.join(contrib, Seq("vertex"), "left")
        .select(col("vertex"),
          (base + expr("(85 * coalesce(s, cast(0 as bigint))) div 100")).as("r"))
        .localCheckpoint(true)
      bridge.freeLocalCheckpoint(rank)
      rank = next
    }
    rank.select(col("vertex"), col("r").as("rank_scaled"))
  }

  /** Connected components via keyed mutable state ([[MutableBag]]) — the
    * reference's formulation (ConnectedComponents.scala:27-53): seed state
    * with vertex→vertex, then push min labels along edges until no update.
    *
    * Adaptive tail: once the per-round delta fits the driver (its counted
    * rows times Spark's per-row estimate, under the session's broadcast
    * threshold: `bridge.fits`; `-1`: never), rounds switch from the cogroup
    * update (two shuffles) to [[MutableBag.updateBroadcast]] point updates
    * (zero shuffles) — on long-diameter graphs most rounds are small-delta
    * tail, so the fixpoint's shuffle count is bounded by the few wide
    * rounds. */
  def connectedComponentsMutable(
      edges: Dataset[(Long, Long)], spark: SparkSession): Dataset[(Long, Long)] = {
    import spark.implicits._
    val und = DataBag.from(edges.union(edges.map(e => (e._2, e._1))).distinct().cache())
    val vertices = und.map(_._1).distinct
    val state = MutableBag(vertices.map(v => (v, v)))
    var delta = state.bag()
    var n = delta.size
    def f(k: Long, vOpt: Option[Long], m: Long): Option[Long] =
      vOpt match {
        case Some(v) if m < v => Some(m)
        case None             => Some(m)
        case _                => None
      }
    while (n > 0) {
      // messages: for each updated vertex, propose its label to neighbors
      val msgs = delta.equiJoin(und)(_._1, _._1)
        .map { case ((_, lbl), (_, dst)) => (dst, lbl) }
        .foldGroup[Long, Long](_._1, graft.api.alg.Fold(Long.MaxValue, _._2, math.min))
      delta =
        if (bridge.fits(spark, BigInt(n) * bridge.rowBytes(delta.ds))) state.updateBroadcast(msgs)(f)
        else state.update(msgs)(f)
      n = delta.size
    }
    state.bag().ds
  }

  /** Bounded Bellman-Ford: minimum path WEIGHT from a source set over at
    * most `maxHops` edges. Returns `(vertex, d)`; unreachable-within-bound
    * vertices are absent. Weights must be non-negative integers — integer
    * min-plus arithmetic is exact and order-insensitive, so results are
    * engine-portable (double path sums are neither).
    *
    * Round i+1 relaxes from the FULL current distance map:
    * `d'(v) = min(d(v), min over edges (d(u) + w(u,v)))` — after k rounds
    * d(v) is exactly the minimum over paths of ≤ k edges (the textbook
    * invariant), which is what the recursive-CTE oracle computes. One
    * shuffle per round (the min-aggregation keyed by vertex); the edge
    * relation is pre-partitioned by src once and never moves again.
    */
  def shortestPathsBounded(edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .repartition(col("src")).persist()
    e.count()
    var dist = sources.select(col("vertex")).distinct()
      .withColumn("d", lit(0L)).localCheckpoint()
    for (_ <- 1 to maxHops) {
      val relaxed = dist.join(e, col("vertex") === col("src"))
        .select(col("dst").as("vertex"), (col("d") + col("w")).as("d"))
      val next = dist.union(relaxed)
        .groupBy("vertex").agg(min("d").as("d"))
        .localCheckpoint()
      bridge.freeLocalCheckpoint(dist)
      dist = next
    }
    e.unpersist()
    dist
  }

  /** Minimum-hop distances from a source vertex set by frontier BFS, bounded
    * at `maxHops` rounds. Returns `(vertex, d)` for every vertex reachable in
    * ≤ maxHops hops (sources at d = 0); min-hop semantics match
    * `min(d)` over all paths of length ≤ maxHops (a vertex is first reached
    * at its true distance, and never revisited).
    *
    * Scale shape: each round joins ONLY the frontier (new vertices) against
    * the edge relation — the visited set never re-joins edges, so total join
    * work is O(Σ frontier_i × avg-degree) = O(|E|) across the whole
    * traversal, the same bound as one full edge pass. The edge relation is
    * pre-partitioned by src once; the frontier (a distinct() output) arrives
    * hash-partitioned on vertex, so rounds after the first exchange only the
    * frontier. State is localCheckpoint'ed per round (plan depth stays O(1)).
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).persist()
    e.count() // materialize once before the loop
    var visited = bridge.dropOriginStats(sources.select(col("vertex")).distinct()
      .withColumn("d", lit(0)).localCheckpoint())
    // the frontier checkpoint of the PREVIOUS round: freed once the round
    // that consumed it has materialized, same hygiene as the visited chain
    var prevFrontier: Option[DataFrame] = None
    var frontier = visited.select("vertex")
    var hop = 0
    var exhausted = frontier.isEmpty
    while (hop < maxHops && !exhausted) {
      hop += 1
      // dropOriginStats on every checkpoint: visited and frontier BOTH evolve
      // and rendezvous each round, the shape where carried checkpoint stats
      // compound Fibonacci-style (bridge.dropOriginStats, PROFILE.md)
      val next = bridge.dropOriginStats(
        frontier.join(e, col("vertex") === col("src"))
          .select(col("dst").as("vertex")).distinct()
          .join(visited.select("vertex"), Seq("vertex"), "left_anti")
          .withColumn("d", lit(hop))
          .localCheckpoint())
      exhausted = next.isEmpty
      prevFrontier.foreach(bridge.freeLocalCheckpoint)
      if (!exhausted) {
        val grown = bridge.dropOriginStats(visited.union(next).localCheckpoint())
        bridge.freeLocalCheckpoint(visited)
        visited = grown
        prevFrontier = Some(next)
        frontier = next.select("vertex")
      } else {
        // the empty final frontier is a checkpoint too — don't leak it
        bridge.freeLocalCheckpoint(next)
        prevFrontier = None
      }
    }
    // loop may also end at the hop bound with the last frontier still live
    prevFrontier.foreach(bridge.freeLocalCheckpoint)
    e.unpersist()
    visited
  }
}
