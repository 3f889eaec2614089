package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the CCNet/fastText-classifier step of a
  * training-data pipeline: featurize every document with cheap surface
  * signals, train a logistic-regression quality model on weak labels
  * (known-good vs known-bad corpora), score the whole corpus, and keep
  * what clears a threshold.
  *
  * Features are a fixed 8-dim vector of per-document ratios, every one a
  * narrow codegen'd Column (one corpus scan, no shuffle); training is
  * [[graft.lib.ML.logreg]] — deterministic batch GD whose per-iteration
  * cost is ONE dim-wide aggregate over the (tiny) labeled set; scoring is
  * a broadcast of the 8 learned weights into a sigmoid projection. At
  * 100 TB: the labeled training set is sampled/curated (small by
  * construction), and corpus scoring is a single narrow pass.
  */
object Quality {

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "was", "for", "on", "with", "as", "at", "by", "it", "that")

  /** The fixed feature vector: 8 bounded per-doc ratios.
    * (length saturation, mean word length, stopword ratio, punctuation
    * ratio, digit ratio, uppercase ratio, distinct-token ratio,
    * max-token-repetition share.) */
  def featureVector(text: Column): Column = {
    val t = trim(text)
    val n = greatest(length(t), lit(1)).cast("double")
    val toks = split(t, "\\s+")
    val ntok = greatest(size(toks), lit(1)).cast("double")
    val strip = (pat: String) => (n - length(regexp_replace(t, pat, ""))) / n
    val nonSpace = length(regexp_replace(t, "\\s", "")).cast("double")
    // repetition share over a capped prefix. The max occurrence count is
    // computed as the longest run in the SORTED prefix — O(n log n) per doc
    // versus the distinct×scan formulation's O(n²) (same integer result;
    // measured ~3× on the featurize pass, which every train/score/report
    // pass pays)
    val toksCap = slice(toks, 1, 128)
    val ntokCap = greatest(size(toksCap), lit(1)).cast("double")
    val topTok = aggregate(sort_array(toksCap),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(acc.getField("run") > 0 && x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    array(
      least(lit(1.0), n / lit(1000.0)),
      least(lit(1.0), nonSpace / ntok / lit(10.0)),
      size(filter(toks, x => lower(x).isInCollection(stopwords))).cast("double") / ntok,
      strip("[\\p{Punct}]"),
      strip("[0-9]"),
      strip("[A-Z]"),
      size(array_distinct(toks)).cast("double") / ntok,
      topTok.cast("double") / ntokCap)
  }

  /** Featurize: `(id, x: array<double>)` — one narrow pass. */
  def features(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), featureVector(col(textCol)).as("x"))

  /** Train the quality model on weakly-labeled docs (`labels`: (id, y) with
    * y ∈ {0,1}; 1 = keep-quality). Returns (weights, bias).
    *
    * The labeled set is small by construction (curated/sampled) — 8
    * doubles + a label per row — so when it fits the driver (the bounded
    * collect `bridge.collectIfFits` under the session's broadcast
    * threshold; `-1`: never) it is featurized in ONE Spark job, collected,
    * and trained driver-side with the arithmetic-identical
    * [[graft.lib.ML.gdLocal]] loop: `iters` scheduling round-trips collapse
    * to one (measured ~10× on the q214 gate). Otherwise training falls
    * back to the distributed GD, coalesced to `parts` partitions so each of
    * the `iters` tiny aggregates costs `parts` tasks. */
  def train(docs: DataFrame, labels: DataFrame, idCol: String,
      textCol: String, lr: Double = 0.5, iters: Int = 40,
      l2: Double = 0.0, parts: Int = 8): (Array[Double], Double) = {
    // persist the featurized join: the bounded collect and whichever
    // training path runs share ONE featurize+join execution instead of two
    val data = features(docs, idCol, textCol)
      .join(labels.select(col("id"), col("y").cast("double").as("y")), "id")
      .persist()
    try {
      // path choice WITHOUT a dedicated count job: when the data fits, the
      // bounded collect IS the training set (rows come back in partition
      // order, same as a full collect); one row past its cap proves it
      // doesn't, falling back to distributed GD
      org.apache.spark.sql.graft.bridge.collectIfFits(data.select(col("x"), col("y"))) match {
        case Some(collected) =>
          val rows = collected
            .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))
          val (w, b, _) = graft.lib.ML.gdLocal(rows, dim = 8, lr = lr,
            iters = iters, lossFn = graft.lib.ML.LogisticLoss, l2 = l2)
          (w, b)
        case None =>
          val (w, b, _) = graft.lib.ML.gd(data.coalesce(parts), dim = 8, lr = lr,
            iters = iters, lossFn = graft.lib.ML.LogisticLoss, l2 = l2)
          (w, b)
      }
    } finally { data.unpersist(blocking = false); () }
  }

  /** Score the corpus: sigmoid(w·x + b) as `quality` alongside the id. */
  def score(docs: DataFrame, model: (Array[Double], Double), idCol: String,
      textCol: String): DataFrame = {
    val (w, b) = model
    val margin = aggregate(
      zip_with(featureVector(col(textCol)), array(w.map(lit): _*),
        (xi, wi) => xi * wi), lit(b), (a, x) => a + x)
    docs.withColumn("quality", lit(1.0) / (lit(1.0) + exp(-margin)))
  }

  /** Keep documents whose model score clears `threshold` — composes with
    * [[Filters.filterReport]] as one more cascade stage. */
  def filterByQuality(docs: DataFrame, model: (Array[Double], Double),
      idCol: String, textCol: String, threshold: Double): DataFrame =
    score(docs, model, idCol, textCol)
      .where(col("quality") >= threshold).drop("quality")
}
