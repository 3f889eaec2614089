package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic global shuffle for training-order assembly: every row gets
  * a (shard, pos) pair that is a pure function of (seed, row key) — the same
  * corpus with the same seed yields byte-identical training order on any
  * cluster size, any engine, any rerun. That reproducibility is the whole
  * point: a training run must be re-creatable from (corpus version, seed)
  * alone, and an engine-native `rand()` or partition-index scheme is neither
  * portable nor stable under repartitioning.
  *
  * Spark-first scale design: the order key is an md5 prefix (hex strings
  * compare lexicographically = numerically, the same trick as
  * [[Sampling.hashDraw]]), the shard is the first four nibbles mod nShards —
  * so shard assignment needs NO shuffle at all, and the intra-shard position
  * comes from [[groupedRank]]: range-repartition on (shard, order key), rank
  * each bounded (partition, shard) cell in parallel, add the shard's
  * cumulative offset of earlier partitions (one broadcast long per occupied
  * cell). No shard ever funnels through a single task's sort, so per-task
  * sort volume is corpus/partitions regardless of nShards — the alternative
  * global `orderBy` would range-sample and produce sampler-dependent
  * (non-reproducible) shard cuts, and a `Window.partitionBy(shard)` would
  * external-sort an entire shard (≥ hundreds of GB at 100 TB) in one task.
  */
object Shuffling {

  /** Portable pseudorandom order key: md5 over "seed-key". */
  def orderKey(seed: Long, key: Column): Column =
    md5(concat_ws("-", lit(seed), key.cast("string")))

  /** Deterministic shard in [0, nShards) from the key's first four hex
    * nibbles — uniform for nShards dividing 65536 (use such values). */
  def shardOf(key: Column, nShards: Int): Column =
    pmod(conv(substring(key, 1, 4), 16, 10).cast("long"), lit(nShards.toLong))

  /** Dense 0-based rank within each `groupCol` value in `orderCols` order,
    * with NO per-group single-task sort: range-repartition on
    * (group, order) — every group spans a contiguous run of partitions and
    * every partition holds a bounded slice — then rank each
    * (partition, group) cell in parallel and add the group's cumulative
    * count of earlier partitions. Contiguity bounds the offset table at
    * #partitions + #groups entries (one long each, broadcast), so driver
    * traffic stays scalar-class even at 65536 groups. The per-cell window
    * repartitions by (__pid, group) — thousands of balanced cells, never
    * K tasks for K groups. `groupCol` must be integral-valued and non-null;
    * (group ++ orderCols) must be duplicate-free so no cell straddles a
    * range boundary (same contract as [[orderedIndex]]).
    */
  private[graft] def groupedRank(df: DataFrame, groupCol: String,
      orderCols: Seq[String], indexName: String): DataFrame =
    groupedRankWithSizes(df, groupCol, orderCols, indexName)._1

  /** [[groupedRank]] plus the per-group row totals — already on the driver
    * from the offset pass, so callers that need sizes (e.g.
    * [[weightedInterleave]]) don't launch a second corpus-wide count. */
  private[graft] def groupedRankWithSizes(df: DataFrame, groupCol: String,
      orderCols: Seq[String], indexName: String): (DataFrame, Map[Long, Long]) = {
    val pidded = df.repartitionByRange((groupCol +: orderCols).map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val cells = pidded
      .groupBy(col("__pid"), col(groupCol).cast("long").as("__g"))
      .count().collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val offsets = cells.groupBy(_._2).toSeq.flatMap { case (g, rows) =>
      val byPid = rows.sortBy(_._1)
      byPid.map(_._1).zip(byPid.scanLeft(0L)(_ + _._3).init)
        .map { case (pid, off) => (pid, g, off) }
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offDim = offsets.toDF("__pid", "__g", "__off")
    val w = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(orderCols.map(col): _*)
    val ranked = pidded.withColumn("__g", col(groupCol).cast("long"))
      .join(broadcast(offDim), Seq("__pid", "__g"))
      .withColumn(indexName,
        (row_number().over(w) - 1).cast("long") + col("__off"))
      .drop("__pid", "__g", "__off")
    (ranked, cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap)
  }

  /** Adds `shard` and a dense 0-based `pos` within each shard, ordered by
    * the md5 key with the row key as the total-order tie-break.
    *
    * @param key     unique row key (drives both order and shard)
    * @param nShards number of output shards; divisors of 65536 give exactly
    *                uniform shard sizes in expectation
    * @param seed    training-order seed
    */
  def deterministicShuffle(df: DataFrame, key: Column, nShards: Int,
      seed: Long): DataFrame = {
    require(nShards >= 1 && nShards <= 65536, "nShards must be in [1, 65536]")
    val stamped = df
      .withColumn("__ok", orderKey(seed, key))
      .withColumn("__tie", key.cast("string"))
      .withColumn("shard", shardOf(col("__ok"), nShards))
    groupedRank(stamped, "shard", Seq("__ok", "__tie"), "pos")
      .drop("__ok", "__tie")
  }

  /** Curriculum variant of [[deterministicShuffle]]: within each shard,
    * positions order FIRST by a caller-supplied integral curriculum stage
    * (ascending — e.g. a difficulty bucket or quality tier), THEN by the
    * md5 order key, so a trainer consuming a shard in pos order sees the
    * stages in sequence with a deterministic shuffle inside each stage.
    * Same reproducibility contract ((shard, pos) is a pure function of
    * (seed, key, stage)) and the same [[groupedRank]] scale shape — no
    * per-shard or per-stage single-task sort. */
  def curriculumShuffle(df: DataFrame, key: Column, stage: Column,
      nShards: Int, seed: Long): DataFrame = {
    require(nShards >= 1 && nShards <= 65536, "nShards must be in [1, 65536]")
    val stamped = df
      .withColumn("__ok", orderKey(seed, key))
      .withColumn("__tie", key.cast("string"))
      .withColumn("__stage", stage.cast("long"))
      .withColumn("shard", shardOf(col("__ok"), nShards))
    groupedRank(stamped, "shard", Seq("__stage", "__ok", "__tie"), "pos")
      .drop("__ok", "__tie", "__stage")
  }

  /** Materializes the deterministic training order as consumable shard
    * files: Hive directories `shard=<s>`, and within each shard the part
    * files IN FILENAME ORDER hold pos-ascending, non-overlapping ranges
    * (the export is range-partitioned on (shard, pos) and sorted within
    * partitions before the write, and range partition ids ascend with the
    * range). A sequential trainer therefore streams the exact training
    * order with zero sorting — open the shard's files in name order — and
    * a distributed reader gets planning-time shard pruning from the Hive
    * layout. Costs ONE ordered exchange of the output: the unavoidable
    * final materialization pass, sized by shuffle.partitions not nShards.
    */
  def writeShards(df: DataFrame, key: Column, nShards: Int, seed: Long,
      path: String): Unit =
    deterministicShuffle(df, key, nShards, seed)
      .repartitionByRange(col("shard"), col("pos"))
      .sortWithinPartitions("shard", "pos")
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Reads a [[writeShards]] export; `shard` comes back as a partition
    * column (planning-time pruning on `where(col("shard") === s)`). */
  def readShards(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** RESUME read: shard `shard` from position `fromPos` on — the restart
    * path of a training run. Costs planning-time shard pruning (Hive
    * layout: other shards' directories never open) plus parquet row-group
    * pruning on `pos` (files are pos-sorted by [[writeShards]], so their
    * min/max stats cut everything before the resume point); the already-
    * consumed prefix is skipped without scanning it. */
  def readShardFrom(spark: org.apache.spark.sql.SparkSession, path: String,
      shard: Long, fromPos: Long): DataFrame =
    readShards(spark, path)
      .where(col("shard") === shard && col("pos") >= fromPos)

  /** Integrity manifest of a [[writeShards]] export — one row per shard:
    * row count, max position, the dense-positions invariant (pos is
    * exactly 0..n-1), and an ORDER-INSENSITIVE content checksum (sum of
    * each key's 32-bit md5 prefix — commutative, so any read order or
    * partitioning yields the same value, and it is seed-independent:
    * re-sharding the same corpus under a new training order keeps
    * per-corpus total checksums comparable). ONE scan of the export, K
    * rows out; a trainer verifies a shard before consuming it, and two
    * engines must agree on every cell (the gate's oracle recomputes the
    * shard assignment and checksum from scratch). */
  def shardManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      keyCol: String): DataFrame =
    readShards(spark, path).groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        max(col("pos")).as("max_pos"),
        // countDistinct matters: without it a duplicated position plus a
        // lost row (count unchanged, min/max unchanged) would pass
        (count(lit(1)) === max(col("pos")) + 1 && min(col("pos")) === 0 &&
          countDistinct(col("pos")) === count(lit(1))).as("dense"),
        sum(conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
          .cast("long")).as("checksum"))

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Deterministic weighted interleave of K corpora — the data-mixing step
    * that assembles one training stream from several sources at fixed
    * ratios. Every row gets a dense global position `gpos` such that any
    * prefix of the merged order contains the sources in proportion to their
    * weights (stride scheduling: source i's rows occupy virtual times
    * (pos+1)·(W/w_i), W = lcm of weights; ties resolve to the earlier
    * source).
    *
    * The scale point: `gpos` is computed in CLOSED FORM — rank = own pos +
    * Σ_j (rows of source j strictly earlier), where the j-term is
    * min(n_j, vt·w_j/W) in exact integer arithmetic — so there is NO global
    * sort and NO single-partition window, and the per-source position
    * routes through [[groupedRank]] (range-partitioned parallel rank), so
    * no source ever funnels its tens of TB through one task's sort either.
    * A global `orderBy`+`row_number` would funnel 100 TB through one task;
    * a `Window.partitionBy(source)` would funnel one SOURCE per task. Only
    * the K source sizes and the per-cell offsets land on the driver
    * (scalars, same class as k-means centroids).
    *
    * All sources must share the schema of the first (`unionByName`); the
    * result carries the original columns plus `source` and `gpos`.
    *
    * @param sources (name, frame, integer weight > 0) per corpus
    * @param keyName unique key column present in every source
    * @param seed    training-order seed (drives the per-source order)
    */
  def weightedInterleave(sources: Seq[(String, DataFrame, Int)], keyName: String,
      seed: Long): DataFrame = {
    require(sources.nonEmpty, "weightedInterleave needs at least one source")
    require(sources.forall(_._3 > 0), "weights must be positive")
    require(sources.map(_._1).distinct.length == sources.length,
      "source names must be distinct")
    val weights = sources.map(_._3.toLong)
    val big = weights.reduce((a, b) => a / gcd(a, b) * b) // lcm
    val strides = weights.map(big / _)
    val tagged = sources.zipWithIndex.map { case ((name, df, _), i) =>
      df.withColumn("source", lit(name)).withColumn("__src", lit(i))
    }.reduce(_ unionByName _)
    // groupedRank localCheckpoints the union (one union pass total) and
    // already collected the per-source totals for its offset pass
    val (posed0, sizesByG) = groupedRankWithSizes(tagged
        .withColumn("__ok", orderKey(seed, col(keyName)))
        .withColumn("__tie", col(keyName).cast("string")),
      "__src", Seq("__ok", "__tie"), "__pos")
    val posed = posed0.drop("__ok", "__tie")
    val sizes: Map[Int, Long] = sizesByG.map { case (g, c) => g.toInt -> c }
    // per-source rank expression, exact BIGINT arithmetic end to end (DIV,
    // not double division) — vt fits a long for any realistic corpus
    val rankBySrc = sources.indices.map { i =>
      val vt = s"((__pos + 1) * ${strides(i)}L)"
      val terms = sources.indices.filter(_ != i).map { j =>
        val nj = sizes.getOrElse(j, 0L)
        // tie at equal virtual time goes to the smaller source index
        val cnt = if (j < i) s"($vt div ${strides(j)}L)"
                  else s"(($vt - 1L) div ${strides(j)}L)"
        s"least(${nj}L, $cnt)"
      }
      i -> expr(("__pos" +: terms).mkString(" + "))
    }
    val gpos = rankBySrc.tail.foldLeft(
      when(col("__src") === rankBySrc.head._1, rankBySrc.head._2)) {
      case (acc, (i, e)) => acc.when(col("__src") === i, e)
    }.otherwise(lit(null))
    posed.withColumn("gpos", gpos.cast("long")).drop("__src", "__pos")
  }

  /** Dense 0-based global index in `keyCol` order — the distributed
    * ROW_NUMBER() OVER (ORDER BY key) that never funnels data through one
    * partition: range-repartition on the key, rank inside each partition
    * (parallel windows), add the partition's global offset (a broadcast of
    * one long per partition). Keys must be unique — a tie could straddle a
    * range boundary and make the rank partition-dependent.
    *
    * The pid-stamped frame is pinned with `localCheckpoint` so the offset
    * pass and the rank pass see the SAME partitioning (range boundaries
    * come from sampling; pinning makes reuse structural, not assumed).
    */
  def orderedIndex(df: DataFrame, keyCol: String,
      indexName: String = "idx"): DataFrame = {
    val pidded = df.repartitionByRange(col(keyCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val counts = pidded.groupBy("__pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid, acc + c)
    }.tail.zip(counts).map { case ((pid, cum), (_, c)) => (pid, cum - c) }
    val spark = df.sparkSession
    import spark.implicits._
    val offDim = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy("__pid").orderBy(keyCol)
    pidded.join(broadcast(offDim), "__pid")
      .withColumn(indexName,
        (row_number().over(w) - 1).cast("long") + col("__off"))
      .drop("__pid", "__off")
  }

  /** Deterministic negative sampling for contrastive training: for each
    * anchor, k pseudo-random non-positive items, reproducible from (seed,
    * anchor) alone. Draw d of anchor a targets the item with dense index
    * md5(seed-a-d) mod |items| — an EQUI-join against the [[orderedIndex]]
    * relation, never a cross join — then positives are removed by anti-join,
    * duplicate hits collapse to their first draw, and the first k surviving
    * draws win (fewer if nDraws collisions/positives exhaust the budget; size
    * nDraws ≈ 2-3k). At 100 TB: one narrow draw expansion, one shuffle join
    * on the index, one anti-join, one per-anchor top-k — no quadratics.
    *
    * @param positives (anchorCol, itemCol) pairs that must never be emitted
    */
  def negativeSample(anchors: DataFrame, anchorCol: String,
      items: DataFrame, itemCol: String, positives: DataFrame,
      k: Int, nDraws: Int, seed: Long): DataFrame =
    negativeSampleIndexed(anchors, anchorCol, itemIndex(items, itemCol),
      itemCol, positives, k, nDraws, seed)

  /** The dense (item, __idx) relation [[negativeSampleIndexed]] probes —
    * build it ONCE per corpus version (the ranking pass is the expensive
    * part: range repartition + per-partition offsets) and reuse it across
    * every sampling call; [[saveItemIndex]]/[[loadItemIndex]] persist it
    * as a parquet relation, mirroring [[AnnIndex]]'s save/load. */
  def itemIndex(items: DataFrame, itemCol: String): DataFrame =
    orderedIndex(items.select(itemCol), itemCol, "__idx")

  /** Persist an [[itemIndex]] relation at `path` as a new build committed
    * through [[Record.commit]]: a save that fails part-way leaves the
    * previous index loadable. */
  def saveItemIndex(index: DataFrame, path: String): Unit =
    Record.commit(index.sparkSession, path, index.schema) { build =>
      index.write.parquet(s"$build/items")
    }

  /** Reload an index written by [[saveItemIndex]], read with its recorded
    * schema (no footer-inference job). */
  def loadItemIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val r = Record.open(spark, path, "rebuild the index and re-save it with Shuffling.saveItemIndex")
    spark.read.schema(r.schema).parquet(s"${r.dir(path)}/items")
  }

  /** [[negativeSample]] against a PREBUILT [[itemIndex]] relation: no
    * re-ranking per call — the only per-call work on the index side is one
    * max(__idx) aggregate for the modulus. */
  def negativeSampleIndexed(anchors: DataFrame, anchorCol: String,
      indexed: DataFrame, itemCol: String, positives: DataFrame,
      k: Int, nDraws: Int, seed: Long): DataFrame = {
    require(k > 0 && nDraws >= k, s"need nDraws >= k > 0: k=$k nDraws=$nDraws")
    val row = indexed.agg(max("__idx")).head()
    require(!row.isNullAt(0), "items must be non-empty")
    val n = row.getLong(0) + 1
    // draws take the first 8 md5 nibbles — a 32-bit space; more items than
    // that would silently bias the draw toward low indices
    require(n < (1L << 32), s"item count $n exceeds the 32-bit draw space")
    val draws = anchors.select(col(anchorCol))
      .withColumn("__i", explode(sequence(lit(0), lit(nDraws - 1))))
      .withColumn("__idx", pmod(
        conv(substring(md5(concat_ws("-",
          lit(seed), col(anchorCol).cast("string"),
          col("__i").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(n)))
    val w = Window.partitionBy(anchorCol).orderBy("__di")
    draws.join(indexed, "__idx")
      .join(positives.select(col(anchorCol), col(itemCol)),
        Seq(anchorCol, itemCol), "left_anti")
      .groupBy(anchorCol, itemCol).agg(min("__i").as("__di"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .drop("__di")
  }
}
