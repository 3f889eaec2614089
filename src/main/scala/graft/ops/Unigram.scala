package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM tokenizer (the SentencePiece algorithm family) — the other
  * production tokenizer besides [[Bpe]]: pieces carry probabilities, and a
  * word's tokenization is the Viterbi-best segmentation under the piece
  * LM, trained by hard EM over the corpus.
  *
  * Like BPE, everything heavy runs on the DISTINCT-WORD histogram: after
  * one word-count aggregation, per-round cost depends on the word
  * vocabulary, not the corpus — a 100 TB corpus trains at the cost of its
  * histogram. Each EM round is ONE mapPartitions pass (per-word Viterbi
  * under the broadcast piece table) feeding ONE map-side-combinable usage
  * aggregation; the M-step re-derives log-probs on the driver from the
  * vocabulary-sized usage relation. Seeding enumerates all substrings up
  * to `maxPieceLen` distributively (explode + one aggregation).
  *
  * Determinism: piece scores are integer MICRO log-probs; every ordering
  * has a total tie-break (frequency desc, piece asc); Viterbi ties prefer
  * the longer last piece (fixed scan order). Training twice produces the
  * identical model; encode is a pure function of (model, text). Single
  * characters are always retained, so every word segments (unseen
  * characters at encode time take a large fixed penalty as singletons).
  *
  * A saved model is model-sized: [[save]] commits its one `pieces`
  * relation through a [[Record]] (a failed save leaves the previous model
  * loadable), and both [[save]] and [[load]] write and read it on the
  * driver ([[DriverParquet]]) — no Spark job.
  */
object Unigram {

  /** A trained model: pieces in id order with integer micro log-probs. */
  case class Model(pieces: Seq[(String, Int, Long)]) {
    lazy val logp: Map[String, Long] =
      pieces.map { case (p, _, lp) => p -> lp }.toMap
    lazy val maxPieceLen: Int =
      if (pieces.isEmpty) 1 else pieces.map(_._1.length).max
  }

  private val UnkMicro = -100000000L // ~e^-100 per char: never wins naturally

  /** Distinct-word histogram `(w, cnt)` — the one corpus-sized pass. */
  def wordHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    Par.spread(docs)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Viterbi-best segmentation of `w` under integer micro log-probs.
    * DP over end positions; ties prefer the LONGER last piece (ascending
    * start scan with strict improvement), so the result is a pure function
    * of (model, w). Unknown single characters cost [[UnkMicro]]. */
  private[graft] def viterbi(w: String, lp: collection.Map[String, Long],
      maxLen: Int): Array[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Long.MinValue / 4)
    val back = new Array[Int](n + 1)
    best(0) = 0L
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val piece = w.substring(j, i)
        val sc = lp.get(piece) match {
          case Some(x) => x
          case None => if (i - j == 1) UnkMicro else Long.MinValue / 4
        }
        if (sc > Long.MinValue / 8) {
          val cand = best(j) + sc
          if (cand > best(i)) { best(i) = cand; back(i) = j }
        }
        j += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { out += w.substring(back(pos), pos); pos = back(pos) }
    out.reverseIterator.toArray
  }

  /** One hard-EM E-step over the word histogram: Viterbi-segment every
    * distinct word under the broadcast model, aggregate per-piece usage
    * weighted by word count. */
  private def usagePass(hist: DataFrame, lp: Map[String, Long], maxLen: Int)
      : Array[(String, Long)] = {
    val spark = hist.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(lp)
    hist.as[(String, Long)].mapPartitions { it =>
      val m = bc.value
      it.flatMap { case (w, c) => viterbi(w, m, maxLen).iterator.map(p => (p, c)) }
    }.toDF("p", "u")
      .groupBy("p").agg(sum("u").as("u")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
  }

  /** Laplace-smoothed micro log-probs from usage counts. */
  private def toLogp(usage: Seq[(String, Long)]): Map[String, Long] = {
    val total = usage.map(_._2).sum.toDouble + usage.size
    usage.map { case (p, u) =>
      p -> math.floor(math.log((u + 1).toDouble / total) * 1e6).toLong
    }.toMap
  }

  /** Train a `vocabSize`-piece model: distributed substring seeding, hard
    * EM (`emIters` rounds) on the seed, deterministic prune to the target
    * size (single characters always kept), one final EM round on the
    * pruned vocabulary. */
  def train(docs: DataFrame, textCol: String = "text", vocabSize: Int = 1000,
      maxPieceLen: Int = 6, seedSize: Int = 4000, emIters: Int = 2): Model = {
    require(vocabSize > 1 && seedSize >= vocabSize,
      s"need seedSize >= vocabSize > 1: seed=$seedSize vocab=$vocabSize")
    val hist = wordHistogram(docs, textCol).persist()
    try {
      // seed: every substring up to maxPieceLen, weighted by occurrences ×
      // word count — one explode + one aggregation; top seedSize kept
      val cand = hist.select(explode(flatten(
          transform(sequence(lit(0), length(col("w")) - 1), i =>
            transform(sequence(lit(1),
              least(lit(maxPieceLen), length(col("w")) - i)), len =>
              col("w").substr(i + 1, len))))).as("p"), col("cnt"))
        .groupBy("p").agg(sum("cnt").as("freq"))
        .persist() // consumed twice: top-seedSize AND the full alphabet
      val (seeds, chars) =
        try {
          (cand.orderBy(col("freq").desc, col("p").asc)
            .limit(seedSize).collect().map(r => (r.getString(0), r.getLong(1))),
           cand.where(length(col("p")) === 1).collect()
            .map(_.getString(0)).toSet)
        } finally { cand.unpersist(); () }
      val seedUsage = (seeds.toMap ++
        chars.filterNot(c => seeds.exists(_._1 == c)).map(_ -> 1L)).toSeq
      var lp = toLogp(seedUsage)
      var it = 0
      while (it < emIters) {
        val usage = usagePass(hist, lp, maxPieceLen)
        // unused pieces drop out; single chars stay for coverage
        val kept = usage.filter(_._2 > 0).toMap
        val withChars = kept ++ chars.filterNot(kept.contains).map(_ -> 0L)
        lp = toLogp(withChars.toSeq)
        it += 1
      }
      // prune: forced single chars first, then the best multi-char pieces
      // by (usage desc, piece asc); hard EM concentrates usage, so fill any
      // remaining slots from the frequency-ranked seed candidates — the
      // vocabulary always reaches the requested size deterministically
      val usage = usagePass(hist, lp, maxPieceLen)
      val byPiece = usage.toMap
      val charSeq = chars.toSeq.sorted.map(c => (c, byPiece.getOrElse(c, 0L)))
      require(charSeq.size <= vocabSize,
        s"alphabet ${charSeq.size} exceeds vocabSize $vocabSize")
      val multi = usage.filter { case (p, u) => p.length > 1 && u > 0 }
        .sortBy { case (p, u) => (-u, p) }
        .take(vocabSize - charSeq.size)
      val chosen = chars ++ multi.map(_._1)
      val pad = seeds.filter { case (p, _) => p.length > 1 && !chosen(p) }
        .take(vocabSize - charSeq.size - multi.size)
        .map { case (p, _) => (p, 0L) }
      require(charSeq.size + multi.size + pad.size == vocabSize,
        s"only ${charSeq.size + multi.size + pad.size} candidate pieces for vocabSize $vocabSize — raise seedSize")
      val finalPieces = charSeq ++ multi ++ pad
      val finalLp = toLogp(finalPieces)
      // final EM round on the pruned vocabulary re-balances probabilities
      val finalUsage = usagePass(hist, finalLp, maxPieceLen)
      val fu = finalUsage.toMap
      val rebalanced = finalPieces.map { case (p, _) => (p, fu.getOrElse(p, 0L)) }
      val lpFinal = toLogp(rebalanced)
      val ordered = rebalanced.sortBy { case (p, u) => (-u, p) }
      Model(ordered.zipWithIndex.map { case ((p, _), id) =>
        (p, id, lpFinal(p)) })
    } finally { hist.unpersist(); () }
  }

  /** Segment the distinct-word relation: `(w, cnt, pieces)` — ONE
    * mapPartitions pass under the broadcast model. */
  def segmentWords(hist: DataFrame, model: Model): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.logp)
    val maxLen = model.maxPieceLen
    hist.select(col("w"), col("cnt")).as[(String, Long)].mapPartitions { it =>
      val m = bc.value
      it.map { case (w, c) => (w, c, viterbi(w, m, maxLen).toSeq) }
    }.toDF("w", "cnt", "pieces")
  }

  /** Encode documents to pieces: `(doc_id, pos, pieces)` per word —
    * narrow, no shuffle (the [[Bpe.encodeFast]] shape). */
  def encode(docs: DataFrame, model: Model, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.logp)
    val maxLen = model.maxPieceLen
    Par.spread(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(trim(col(textCol)), "\\s+")))
      .where(length(col("col")) > 0)
      .as[(Long, Int, String)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, pos, w) => (id, pos, viterbi(w, m, maxLen).toSeq) }
      }.toDF("doc_id", "pos", "pieces")
  }

  /** The saved relation: pieces in id order with their micro log-probs. */
  private val PiecesSchema = StructType.fromDDL("piece STRING, id INT, logp_micros BIGINT")

  /** Persist the model as a new [[Record]] build under `dir`: one
    * `pieces` relation, one file written on the driver; the previous build
    * is reaped after the record is published. One writer per directory at
    * a time. */
  def save(spark: SparkSession, dir: String, model: Model): Unit = {
    Record.commit(spark, dir, PiecesSchema) { build =>
      DriverParquet(spark).write(PiecesSchema, model.pieces.iterator.map { case (p, id, lp) =>
        InternalRow(UTF8String.fromString(p), id, lp) }, s"$build/pieces")
    }
    ()
  }

  /** Reload a model saved by [[save]]: one driver read with the recorded
    * schema, the pieces ordered on the driver — no Spark job. A directory
    * without a current record (a model saved in the older `pieces/`-only
    * layout) is refused, naming the save to re-run. */
  def load(spark: SparkSession, dir: String): Model = {
    val r = Record.open(spark, dir, "re-save the model with Unigram.save")
    Model(DriverParquet(spark).readDir(r.schema, s"${r.dir(dir)}/pieces")
      .map(r => (r.getUTF8String(0).toString, r.getInt(1), r.getLong(2))).sortBy(_._2).toSeq)
  }
}
