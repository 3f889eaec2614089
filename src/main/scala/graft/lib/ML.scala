package graft.lib

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** ML algorithms from the reference's `@emma.lib` layer, re-expressed
  * Spark-first (reference emma-lib ml/classification/naiveBayes.scala,
  * ml/regression/linreg.scala, ml/classification/logreg.scala,
  * ml/optimization/solver/sgd.scala, ml/classification/eval.scala).
  *
  * Scale design: models are tiny (per-label stats, a weight vector) and live
  * on the driver / in broadcasts; training data is only ever scanned and
  * aggregated — one shuffle of k·dim partial sums per pass, no per-row UDF
  * loops, no driver collect of rows.
  */
object ML {

  // ------------------------------------------------------------ naive Bayes

  /** Multinomial naive Bayes model in long form: `cond` = (label, index,
    * log_cond) for OBSERVED pairs, `labelInfo` = (label, log_prior,
    * log_floor) where log_floor is the smoothed probability of any index the
    * label never saw — predict must apply it to unseen terms or labels with
    * sparse coverage get systematically over-scored. */
  case class NBModel(cond: DataFrame, labelInfo: DataFrame)

  /** Fit over long-form features (id, index, tf) + labels (id, label). */
  def naiveBayesFit(features: DataFrame, labels: DataFrame,
      numFeatures: Long, smoothing: Double = 1.0): NBModel = {
    val joined = features.join(labels, "id")
    val perLabelIdx = joined.groupBy("label", "index").agg(sum("tf").as("cnt"))
    val perLabel = perLabelIdx.groupBy("label").agg(sum("cnt").as("total"))
    val cond = perLabelIdx.join(broadcast(perLabel), "label")
      .select(col("label"), col("index"),
        log((col("cnt") + smoothing) / (col("total") + smoothing * numFeatures))
          .as("log_cond"))
    val n = labels.count()
    val labelInfo = labels.groupBy("label")
      .agg(log(count(lit(1)) / n.toDouble).as("log_prior"))
      .join(broadcast(perLabel), "label")
      .select(col("label"), col("log_prior"),
        log(lit(smoothing) / (col("total") + smoothing * numFeatures)).as("log_floor"))
    NBModel(cond, labelInfo)
  }

  /** Score test docs: argmax over labels of
    * log_prior + Σ_seen tf·log_cond + (doc_tf − seen_tf)·log_floor.
    * One index join + one aggregation; the (doc × label) base is built by a
    * broadcast cross join with the tiny label table. */
  def naiveBayesPredict(features: DataFrame, model: NBModel): DataFrame = {
    val obs = features.join(model.cond, "index")
      .groupBy("id", "label")
      .agg(sum(col("tf") * col("log_cond")).as("ll_obs"), sum("tf").as("seen_tf"))
    val docTf = features.groupBy("id").agg(sum("tf").as("doc_tf"))
    val scored = docTf.crossJoin(broadcast(model.labelInfo))
      .join(obs, Seq("id", "label"), "left_outer")
      .select(col("id"), col("label"),
        (coalesce(col("ll_obs"), lit(0.0)) +
          (col("doc_tf") - coalesce(col("seen_tf"), lit(0.0))) * col("log_floor") +
          col("log_prior")).as("score"))
    // argmax per doc via the bounded-heap top-k operator (k = 1): same
    // (score desc, label asc) total order as a row_number window, but each
    // partition reduces to one candidate per doc BEFORE the shuffle — no
    // full sort of the |docs|×|labels| scored relation
    graft.plans.TopK.perKey(scored, Seq("id"),
        Seq(col("score").desc, col("label").asc), 1)
      .select(col("id"), col("label").as("pred"), col("score"))
  }

  // ------------------------------------------- linear models via batch GD

  /** Loss functions for the GD solver (reference ml/optimization/loss/
    * squared.scala, crossentropy.scala, hinge.scala). Labels are y ∈ {0,1}
    * for logistic and hinge (hinge maps them to ±1 internally). */
  sealed trait LossFn
  case object SquaredLoss extends LossFn
  case object LogisticLoss extends LossFn
  case object HingeLoss extends LossFn

  /** One gradient pass: features = (id, x: array<double>), target (id, y).
    * Returns (grad: Array[Double], loss). The per-dimension sums run as a
    * single posexplode + (dim)-keyed aggregation — k·dim partial sums per
    * partition, map-side combined. `err` is ∂loss/∂margin, so the gradient
    * for every loss is the same Σ err·xᵢ shape. */
  private def gradientPass(data: DataFrame, w: Array[Double], bias: Double,
      lossFn: LossFn): (Array[Double], Double, Double) = {
    val spark = data.sparkSession
    val dim = w.length
    // Weight literals do NOT force per-iteration codegen: Spark lifts them
    // into the references array, so the generated source — and the codegen
    // cache entry — is identical across iterations (measured: a broadcast
    // one-row param relation was strictly slower).
    val wLit = array(w.map(lit): _*)
    val margin = aggregate(
      zip_with(col("x"), wLit, (xi, wi) => xi * wi), lit(bias), (a, b) => a + b)
    val sigmoid = lit(1.0) / (lit(1.0) + exp(-margin))
    val y2 = col("y") * 2.0 - 1.0 // {0,1} -> {-1,+1} for hinge
    val err = (lossFn match {
      case SquaredLoss  => margin - col("y")
      case LogisticLoss => sigmoid - col("y")
      case HingeLoss    => when(y2 * margin < 1.0, -y2).otherwise(lit(0.0))
    }).as("err")
    val lossCol = lossFn match {
      case SquaredLoss  => (margin - col("y")) * (margin - col("y")) * 0.5
      case LogisticLoss =>
        -(col("y") * log(greatest(sigmoid, lit(1e-12))) +
          (lit(1.0) - col("y")) * log(greatest(lit(1.0) - sigmoid, lit(1e-12))))
      case HingeLoss    => greatest(lit(0.0), lit(1.0) - y2 * margin)
    }
    val scored = data.select(col("x"), col("y"), err, lossCol.as("loss"))
    if (dim <= 256) {
      // moderate dim: ONE wide global aggregation — dim+3 map-side partial
      // sums per partition, a single-row result, no row expansion and no
      // dim-keyed shuffle at all
      val aggs =
        (0 until dim).map(j => sum(col("err") * element_at(col("x"), j + 1))) ++
          Seq(sum(col("err")), sum(col("loss")), count(lit(1)))
      val r = scored.agg(aggs.head, aggs.tail: _*).head()
      val n = math.max(r.getLong(dim + 2), 1L).toDouble
      val grad = Array.tabulate(dim)(j => r.getDouble(j) / n)
      (grad, r.getDouble(dim) / n, r.getDouble(dim + 1) / n)
    } else {
      // wide models: per-dim sums via posexplode + (dim)-keyed aggregation
      // (a 32-wayish shuffle of dim partials — codegen stays happy where a
      // thousands-column agg row would not). The count rides along, so no
      // separate data.count() pass; rows with an empty x vanish from
      // posexplode and are deliberately excluded from n as well.
      val agg = scored
        .select(col("err"), col("loss"), posexplode(col("x")).as(Seq("dim", "xi")))
        .groupBy("dim")
        .agg(sum(col("err") * col("xi")).as("g"), sum("err").as("eb"), sum("loss").as("l"),
          count(lit(1)).as("n"))
        .collect()
      val n = agg.headOption.map(_.getAs[Long]("n").toDouble).getOrElse(1.0)
      val grad = new Array[Double](dim)
      var gb = 0.0; var loss = 0.0
      agg.foreach { r =>
        grad(r.getInt(0)) = r.getAs[Double]("g") / n
        if (r.getInt(0) == 0) { gb = r.getAs[Double]("eb") / n; loss = r.getAs[Double]("l") / n }
      }
      (grad, gb, loss)
    }
  }

  /** Gradient descent (the reference's sgd.scala solver shape: loop,
    * learning-rate decay, seeded mini-batch sampling). `batchFraction` < 1
    * turns each pass into SGD over a deterministic per-iteration sample —
    * the scale path when one full pass per step is too expensive. `l2` adds
    * ridge regularization (reference ml/optimization/regularization/
    * l2.scala): the penalty touches only the driver-side weight vector, so
    * it costs nothing distributed; the bias is conventionally unpenalized.
    * Returns (weights, bias, losses). */
  def gd(data: DataFrame, dim: Int, lr: Double = 0.5, iters: Int = 50,
      lossFn: LossFn = SquaredLoss, l2: Double = 0.0,
      batchFraction: Double = 1.0,
      seed: Long = 42L): (Array[Double], Double, Seq[Double]) = {
    var w = new Array[Double](dim)
    var b = 0.0
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    // AQE off for the loop only, on a per-call clone (`bridge.isolated`)
    val cached = bridge.isolated(data, bridge.aqeOff).persist()
    var i = 0
    while (i < iters) {
      val rate = lr / math.sqrt(i + 1.0)
      val batch = if (batchFraction >= 1.0) cached
        else cached.sample(withReplacement = false, batchFraction, seed + i)
      val (grad, gb, loss) = gradientPass(batch, w, b, lossFn)
      var reg = 0.0
      var j = 0
      while (j < dim) {
        reg += w(j) * w(j)
        w(j) -= rate * (grad(j) + l2 * w(j))
        j += 1
      }
      b -= rate * gb
      losses += loss + l2 / 2.0 * reg
      i += 1
    }
    cached.unpersist()
    (w, b, losses.toSeq)
  }

  /** Driver-side twin of [[gd]] for a SMALL collected dataset — when the
    * labeled set is a few thousand rows, a 30-50-iteration GD loop costs
    * 30-50 Spark jobs of pure scheduling overhead; running the identical
    * update arithmetic over the collected rows turns that into
    * microseconds. Same rate schedule (lr/√(i+1)), same margin fold order
    * (bias + Σ xⱼwⱼ left-to-right), same err/loss formulas, same
    * n-normalization and L2 handling as the distributed pass; the only
    * difference is gradient summation order (row order here vs Spark's
    * partial-aggregate tree), which can move weights by last-ulp amounts —
    * callers that need robustness to THAT (every contract gate here) are
    * unaffected, and QualitySpec parity-pins the two paths. */
  def gdLocal(rows: Array[(Array[Double], Double)], dim: Int,
      lr: Double = 0.5, iters: Int = 50, lossFn: LossFn = SquaredLoss,
      l2: Double = 0.0): (Array[Double], Double, Seq[Double]) = {
    val w = new Array[Double](dim)
    var b = 0.0
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    val n = math.max(rows.length, 1).toDouble
    var i = 0
    while (i < iters) {
      val rate = lr / math.sqrt(i + 1.0)
      val gs = new Array[Double](dim)
      var gb = 0.0
      var lossSum = 0.0
      rows.foreach { case (x, y) =>
        var m = b
        var j = 0
        while (j < dim) { m += x(j) * w(j); j += 1 }
        val sigmoid = 1.0 / (1.0 + math.exp(-m))
        val y2 = y * 2.0 - 1.0
        val err = lossFn match {
          case SquaredLoss  => m - y
          case LogisticLoss => sigmoid - y
          case HingeLoss    => if (y2 * m < 1.0) -y2 else 0.0
        }
        lossSum += (lossFn match {
          case SquaredLoss  => (m - y) * (m - y) * 0.5
          case LogisticLoss =>
            -(y * math.log(math.max(sigmoid, 1e-12)) +
              (1.0 - y) * math.log(math.max(1.0 - sigmoid, 1e-12)))
          case HingeLoss    => math.max(0.0, 1.0 - y2 * m)
        })
        j = 0
        while (j < dim) { gs(j) += err * x(j); j += 1 }
        gb += err
      }
      var reg = 0.0
      var j = 0
      while (j < dim) {
        reg += w(j) * w(j)
        w(j) -= rate * (gs(j) / n + l2 * w(j))
        j += 1
      }
      b -= rate * (gb / n)
      losses += lossSum / n + l2 / 2.0 * reg
      i += 1
    }
    (w, b, losses.toSeq)
  }

  /** Per-group simple OLS (closed form): slope/intercept of `yCol ~ xCol`
    * within each group, from order-independent decimal power sums — ONE
    * map-side combinable aggregation for any number of groups (no per-group
    * solver loop). The grouped counterpart to the GD-based [[linreg]]; use
    * it for per-segment trend features at corpus scale.
    *
    * Inputs are cast to DECIMAL(28,8) before summing; slope =
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept = (Σy − slope·Σx)/n. Groups
    * where x is constant yield NULL slope/intercept (division by zero).
    *
    * The power sums are EXACT (and therefore engine-portable) only for
    * INTEGRAL x/y: Spark reduces the decimal(28,8)×decimal(28,8) product
    * (precision 57) under its precision-loss rules to ~6 fractional digits,
    * so Σxy/Σx² are rounded for fractional inputs and can drift vs other
    * engines (q129 relies on the integral case). For fractional data,
    * pre-scale to integers (e.g. cents) at the call site.
    */
  def linregByGroup(data: DataFrame, groupCol: String, xCol: String,
      yCol: String, roundDigits: Int = 6): DataFrame = {
    val dec = "decimal(28,8)"
    val x = col(xCol).cast(dec); val y = col(yCol).cast(dec)
    val g = data.groupBy(groupCol).agg(
      count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"))
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double"); val sxx = col("sxx").cast("double")
    val denom = nd * sxx - sx * sx
    val slope = when(denom =!= 0.0, (nd * sxy - sx * sy) / denom)
    g.select(col(groupCol), col("n"),
      graft.ops.Portable.round(slope, roundDigits).as("slope"),
      graft.ops.Portable.round((sy - slope * sx) / nd, roundDigits).as("intercept"))
  }

  /** Linear regression: data (id, x array<double>, y). */
  def linreg(data: DataFrame, dim: Int, lr: Double = 0.5, iters: Int = 50,
      l2: Double = 0.0) =
    gd(data, dim, lr, iters, SquaredLoss, l2)

  /** Logistic regression: y ∈ {0,1}. */
  def logreg(data: DataFrame, dim: Int, lr: Double = 0.5, iters: Int = 50,
      l2: Double = 0.0) =
    gd(data, dim, lr, iters, LogisticLoss, l2)

  /** Linear SVM (hinge loss; y ∈ {0,1}, separating sign on the margin). */
  def svm(data: DataFrame, dim: Int, lr: Double = 0.5, iters: Int = 50,
      l2: Double = 0.01) =
    gd(data, dim, lr, iters, HingeLoss, l2)

  def predictLinear(data: DataFrame, w: Array[Double], bias: Double,
      logistic: Boolean = false): DataFrame = {
    val wLit = array(w.map(lit): _*)
    val margin = aggregate(
      zip_with(col("x"), wLit, (xi, wi) => xi * wi), lit(bias), (a, b) => a + b)
    val pred = if (logistic) lit(1.0) / (lit(1.0) + exp(-margin)) else margin
    data.select(col("id"), pred.as("pred"))
  }

  // -------------------------------------------------------------- metrics

  /** Regression errors from (y, pred) in one aggregation (reference
    * ml/optimization/error/se.scala, mse.scala, rmse.scala). */
  def evalRegression(scored: DataFrame): DataFrame =
    scored.agg(
      sum((col("pred") - col("y")) * (col("pred") - col("y"))).as("se"),
      count(lit(1)).as("n"))
      .select(col("n"), col("se"),
        (col("se") / col("n")).as("mse"),
        sqrt(col("se") / col("n")).as("rmse"))

  /** Classification metrics from (label, pred) — confusion-style folds
    * (reference ml/classification/eval.scala) in one aggregation. */
  def evalBinary(scored: DataFrame): DataFrame =
    scored.agg(
      sum(when(col("label") === 1 && col("pred") === 1, 1).otherwise(0)).as("tp"),
      sum(when(col("label") === 0 && col("pred") === 1, 1).otherwise(0)).as("fp"),
      sum(when(col("label") === 1 && col("pred") === 0, 1).otherwise(0)).as("fn"),
      sum(when(col("label") === 0 && col("pred") === 0, 1).otherwise(0)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        ((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("tn") + col("fp") + col("fn"))).as("accuracy"),
        (col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"),
        (col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0))) // degenerate all-negative/all-wrong case: F1 = 0, not NaN
}
