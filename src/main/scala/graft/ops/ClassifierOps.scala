package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality classification for training-data curation: a
  * DETERMINISTIC distributed perceptron over hashed bag-of-words
  * features — the "train a quality classifier on labeled seed data,
  * score the whole corpus" stage of an LLM data pipeline (the pattern
  * behind fastText-style quality filters), built so the entire training
  * loop is value-exact against an external SQL oracle:
  *
  *  - features: token → md5-prefix hash bucket (`[[SamplingOps.md5Prefix60]]
  *    mod numBuckets` — the engine-portable hash idiom), per-doc term
  *    frequency `count / n_tokens`; the BIAS is bucket −1 with constant
  *    x = 1, so one aggregate per step trains weights AND bias;
  *  - training: full-batch CLASS-BALANCED perceptron — margin `y·(w·x)`,
  *    each misclassified (margin ≤ 0) doc contributes `y·x / n_y` to the
  *    per-bucket gradient with `n_y` its class's misclassified count,
  *    `w += lr·g`. The balance is load-bearing: with raw sums, step 1's
  *    gradient is Σ y·x and any class imbalance puts its excess × the
  *    SHARED vocabulary's tf mass on every bucket (measured: a 259/241
  *    label split collapsed step-1 accuracy from 0.91 to 0.52 — all-one-
  *    class predictions); with per-class means the shared mass cancels
  *    and step 1 is exactly the Rocchio centroid-difference classifier.
  *    NO transcendentals (a logistic loss's exp() is not bit-portable
  *    across engines); every cross-row sum is decimal(38,12), so
  *    margins, gradients, and the whole trajectory replay exactly
  *    anywhere;
  *  - the per-step driver read is the (numBuckets+1)-row gradient — the
  *    model fit, same pattern as the IVF centroid and BPE argmax loops.
  *
  * 100 TB posture: one corpus-sized feature build (persisted across
  * steps, released by the `finally`), `steps` aggregation passes whose
  * shuffle is map-side-combined down to ≤ numBuckets+1 rows, and a
  * model that broadcasts as an expression literal for scoring — no
  * per-row UDF, no driver-side data.
  */
object ClassifierOps {

  /** Trained model: `weights(0)` is the bias (bucket −1), `weights(j+1)`
    * the weight of bucket `j`.
    */
  final case class PerceptronModel(weights: Array[Double], numBuckets: Int,
      steps: Int, learningRate: Double)

  /** Hashed bag-of-words feature rows `(id, y, bucket, x)` — including
    * the bias row (bucket −1, x = 1) per document. `y` is ±1 from the
    * boolean label.
    */
  private def features(docs: DataFrame, labelCol: String, numBuckets: Int,
      idCol: String, textCol: String): DataFrame = {
    val tk = TextOps.tokens(ColNames.quotedCol(textCol))
    val y = when(ColNames.quotedCol(labelCol), lit(1)).otherwise(lit(-1))
    val base = docs.select(ColNames.quotedCol(idCol).as("id"), y.as("y"),
      explode(tk).as("w"), size(tk).as("n"))
    val grouped = base
      .groupBy(col("id"), col("y"), col("n"),
        pmod(SamplingOps.md5Prefix60(col("w")), lit(numBuckets.toLong))
          .cast("int").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("id"), col("y"), col("bucket"),
        (col("cnt").cast("double") / col("n").cast("double")).as("x"))
    val bias = docs.select(ColNames.quotedCol(idCol).as("id"), y.as("y"),
      lit(-1).as("bucket"), lit(1.0).as("x"))
    grouped.unionByName(bias)
  }

  /** `w·x` per doc under `weights`, as an order-independent decimal sum
    * cast back to double (the margin/score determinism contract).
    */
  private def dotCol(weights: Array[Double]): Column =
    sum((col("x") * element_at(typedLit(weights.toSeq), col("bucket") + 2))
      .cast("decimal(38,12)")).cast("double")

  /** Full-batch perceptron training; see the object doc for the exact
    * arithmetic contract. Deterministic: same inputs + parameters →
    * bit-identical model, any partitioning, any engine that replays the
    * decimal/double chain. Converged training (no misclassified rows)
    * stops early — identical to running the remaining no-op steps.
    *
    * Step choice: `steps = 1` from w = 0 is exactly the class-centroid
    * difference (Rocchio-style) classifier — every margin is 0, so the
    * one gradient is Σ y·x — and is the robust default: ONE aggregation
    * pass over the corpus trains it, and it has no cycling failure mode.
    * Larger `steps` runs true full-batch perceptron, which converges on
    * linearly separable data (spec-pinned) but can 2-cycle on
    * non-separable data (measured on the synthetic corpus: step 1 hits
    * 0.918 accuracy, step 2's skewed misclassified-set gradient swamps
    * the shared-vocabulary buckets and predictions collapse to one
    * class) — the classic reason production pipelines run
    * averaged/margin variants or a single Rocchio pass.
    */
  def trainPerceptron(docs: DataFrame, labelCol: String, numBuckets: Int = 64,
      steps: Int = 3, learningRate: Double = 1.0,
      idCol: String = "doc_id", textCol: String = "text"): PerceptronModel = {
    val feat = features(docs, labelCol, numBuckets, idCol, textCol)
    feat.persist()
    try trainOn(feat, numBuckets, steps, learningRate)
    finally feat.unpersist(blocking = false)
  }

  private def trainOn(feat: DataFrame, numBuckets: Int, steps: Int,
      learningRate: Double): PerceptronModel = {
    require(numBuckets >= 1 && numBuckets <= 65536,
      s"numBuckets=$numBuckets outside 1..65536")
    require(steps >= 1 && learningRate > 0)
    val weights = new Array[Double](numBuckets + 1)
    var step = 0
    while (step < steps) {
        // ZERO-WEIGHT SHORTCUT (r21): under an all-zero weight vector
        // (always true at step 0; also after exactly-cancelling
        // gradients) every margin is y·0 = 0 ≤ 0, so EVERY doc is
        // misclassified — the margins aggregation pass is a constant
        // answer. The bias row (bucket −1) is exactly one row per doc,
        // so a narrow filter of the cached feature frame yields the
        // (id, y) set with no aggregation, and the gradient join with
        // the full id set is the identity and is skipped. Arithmetic is
        // unchanged: the gradient sums the same rows with the same
        // decimal(38,12) order-independent sum, so the trajectory —
        // and the external-oracle replay — is bit-identical.
        val allMis = weights.forall(_ == 0.0)
        val mis =
          if (allMis) feat.filter(col("bucket") === -1).select("id", "y")
          else Caching.scopedPersist {
            // Persisted (scope-lifetime): `mis` is consumed twice per
            // step — class counts and the gradient join — and without
            // the persist each consumer re-runs the margins pass over
            // the feature frame.
            feat.groupBy("id", "y").agg(dotCol(weights).as("dot"))
              .filter(col("dot") * col("y") <= 0.0).select("id", "y")
          }
        // Per-class misclassified counts (≤ 2 rows, broadcast) weight
        // the balanced gradient; a contributing doc's own class always
        // counts itself, so ny ≥ 1.
        val classCounts = mis.groupBy("y").agg(count(lit(1)).as("ny"))
        // The one driver read per step: the (numBuckets+1)-row gradient —
        // the model fit (bounded by config, never corpus-sized).
        val grad = (if (allMis) feat else feat.join(mis.select("id"), "id"))
          .join(broadcast(classCounts), "y")
          .groupBy("bucket")
          .agg(sum((col("y") * col("x") / col("ny").cast("double"))
            .cast("decimal(38,12)")).cast("double").as("g"))
          .collect()
        grad.foreach { r =>
          weights(r.getInt(0) + 1) += learningRate * r.getDouble(1)
        }
        // Converged (no misclassified rows → empty gradient): remaining
        // steps would be no-ops; an oracle replaying the full step count
        // computes identical weights.
        step = if (grad.isEmpty) steps else step + 1
    }
    PerceptronModel(weights, numBuckets, steps, learningRate)
  }

  /** Score every document under a trained model: (id, label, score,
    * pred, correct); `score` rounds to 6 dp for presentation, `pred`
    * compares the unrounded score.
    */
  def scorePerceptron(docs: DataFrame, model: PerceptronModel,
      labelCol: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    scoreFeatures(features(docs, labelCol, model.numBuckets, idCol, textCol),
      model, idCol)

  private def scoreFeatures(feat: DataFrame, model: PerceptronModel,
      idCol: String): DataFrame =
    feat.groupBy("id", "y").agg(dotCol(model.weights).as("s"))
      .select(col("id").as(idCol), (col("y") === 1).as("label"),
        round(col("s"), 6).as("score"), (col("s") > 0.0).as("pred"),
        ((col("s") > 0.0) === (col("y") === 1)).as("correct"))
}
