package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Trainable model-based quality classifier — the fastText-recipe linear
  * model (Joulin et al. 2016, "Bag of Tricks for Efficient Text
  * Classification"; the same shape GPT-3/LLaMA-style pipelines use to score
  * "looks like the reference corpus" with a classifier trained on
  * positive = curated pages, negative = random crawl). Features are the
  * hashed uni+bigram bag ([[Dsir.hashedGramBuckets]], shared with DSIR so
  * "feature" means the same thing across the scoring stack), L1-normalized
  * per document; the model is logistic regression trained by full-batch
  * gradient descent as a sequence of Spark aggregates.
  *
  * Scale shape: TRAINING runs on the caller's labeled slice (curation
  * practice: thousands-to-millions of rows, not the corpus) — per iteration
  * one (doc)-keyed aggregate for margins and one (bucket)-keyed aggregate
  * for the gradient, collecting only the B-bounded gradient (B = 4096
  * default). SCORING is corpus-scale and cheap: explode grams, ONE
  * broadcast join against the B-row weight table, one skinny (id, bucket)
  * fold — the corpus never shuffles by anything wider than its id.
  *
  * Determinism: a naive distributed gradient sums doubles in shuffle order
  * and drifts between runs/partitionings, compounding over iterations.
  * Here every cross-row sum (margins, gradients, scoring dots) is cast to
  * DECIMAL(38,18) first — decimal addition is exact, hence
  * order-independent — so training and scoring are bit-reproducible under
  * any partitioning (spec-asserted). Per-row float math (σ, the products)
  * stays IEEE-deterministic given identical inputs.
  *
  * No DuckDB oracle: the training loop is iterative and engine-side by
  * nature (the q91-Excel precedent — spec-pinned where SQL replay is
  * impossible); the driver records the rows-only check for q111.
  */
object Classifier {

  /** A trained linear model over hashed-gram features. `weights(b)` is the
    * coefficient of bucket `b`; the model is a plain value — broadcastable,
    * serializable, reusable across batches/epochs (frozen-scorer posture). */
  final case class LinearModel(weights: Array[Double], bias: Double,
                               buckets: Int, salt: String)

  private val Dec = DecimalType(38, 18)

  /** The bias feature's value. Text features are L1-normalized (each
    * ~1/grams ≈ 0.01–0.1), so a bias feature at 1.0 gets a ~20× larger
    * gradient and full-batch GD spends its first dozens of iterations
    * oscillating on the intercept (observed: at lr=50 the model passes
    * through bias −15 before converging). Scaling the bias into the same
    * range as the other features conditions the problem instead of
    * requiring a tiny global rate. */
  private val BiasX = 0.05

  /** L1-normalized hashed-feature rows of a labeled slice:
    * (__key, __y, bucket, __x) with __x = bucket count / total grams — an
    * exact integer ratio per row — plus one constant row (bucket −1,
    * __x = [[BiasX]]) per document: the BIAS as a feature, so one weight
    * table and one gradient aggregate cover intercept and coefficients
    * alike (the reported intercept is w₋₁·BiasX). */
  private def featureRows(df: DataFrame, idCol: String, textCol: String,
                          y: Double, buckets: Int, salt: String): DataFrame = {
    val keyed = df.select(
      concat(lit(f"$y%.1f:"), col(idCol).cast("string")).as("__key"),
      lit(y).as("__y"),
      TextStats.pinnedCol(
        Dsir.hashedGramBuckets(col(textCol), buckets, salt)).as("__b"))
    keyed
      .select(col("__key"), col("__y"),
        explode(col("__b")).as("bucket"), size(col("__b")).as("__n"))
      .groupBy(col("__key"), col("__y"), col("bucket"), col("__n"))
      .agg(count(lit(1)).as("__c"))
      .select(col("__key"), col("__y"), col("bucket"),
        (col("__c").cast("double") / col("__n").cast("double")).as("__x"))
      .unionAll(keyed.select(col("__key"), col("__y"),
        lit(-1).as("bucket"), lit(BiasX).as("__x")))
  }

  /** Fit a logistic-regression quality model: `pos` = documents of the kind
    * to keep, `neg` = documents of the kind to filter. Full-batch GD,
    * `iters` fixed iterations, learning rate `lr`, optional L2 `l2`.
    * Deterministic: same slices → bit-identical model, any partitioning. */
  def train(pos: DataFrame, neg: DataFrame, idCol: String, textCol: String,
            buckets: Int = 1 << 12, iters: Int = 20, lr: Double = 50.0,
            l2: Double = 0.0, salt: String = "graft:clf"): LinearModel = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0.0, s"lr must be positive, got $lr")
    // the feature table feeds every iteration twice — materialize once,
    // HASH-PARTITIONED BY __key: the per-iteration margin groupBy(__key)
    // and the err⋈feats equi-join on __key then both reuse the checkpoint's
    // partitioning (zero exchanges inside the GD loop; only the ≤ B+1-row
    // bucket gradient aggregate shuffles). Training slices are labeled
    // samples (thousands of rows), so a handful of partitions minimizes
    // per-iteration task-scheduling overhead; at a genuinely large slice,
    // raise spark.sql.shuffle.partitions instead.
    val feats = featureRows(pos, idCol, textCol, 1.0, buckets, salt)
      .unionAll(featureRows(neg, idCol, textCol, 0.0, buckets, salt))
      .repartition(math.max(2, pos.sparkSession.sparkContext.defaultParallelism / 8),
        col("__key"))
      .transform(Checkpoint.materialize)
    val n = feats.select(countDistinct(col("__key"))).head().getLong(0)
    require(n > 0, "training slices produced no feature rows")

    // index 0 is the bias (feature bucket −1); coefficients shift by one
    var w = new Array[Double](buckets + 1)
    for (it <- 1 to iters) {
      // linearly decaying rate (the fastText schedule): high early progress,
      // damped endgame so a large base rate cannot oscillate forever
      val lrT = lr * (1.0 - (it - 1).toDouble / iters)
      // OPT r20: the weights are DRIVER state — ship them as one array
      // literal and look up per row (element_at is codegen'd), instead of
      // parallelize-ing a (B+1)-row DataFrame and broadcast-joining it
      // EVERY iteration (one RDD job + one broadcast build per iteration,
      // pure fixed overhead on the GD loop). Same doubles, same multiply,
      // bit-identical margins. bucket ∈ [−1, B−1] always resolves (index
      // = bucket + 2, 1-based).
      val wLit = lit(w)
      // margins (bias rides as bucket −1): one (doc)-keyed exact aggregate;
      // σ and the residual are per-row math on the exact sum
      val err = feats
        .groupBy(col("__key"), col("__y"))
        .agg(sum((col("__x") *
          element_at(wLit, col("bucket") + 2)).cast(Dec)).as("__m"))
        .select(col("__key"),
          (lit(1.0) / (lit(1.0) + exp(-col("__m").cast("double")))
            - col("__y")).as("__e"))
      // gradient: one (bucket)-keyed exact aggregate, ≤ B+1 rows collected
      // — the bucket −1 row IS the bias gradient
      val grads = feats.join(err, Seq("__key"))
        .groupBy(col("bucket"))
        .agg(sum((col("__e") * col("__x")).cast(Dec)).as("__g"))
        .collect().map(r => r.getInt(0) ->
          r.getDecimal(1).doubleValue()).toMap
      w = Array.tabulate(buckets + 1)(b =>
        // no L2 on the intercept, the standard convention
        w(b) - lrT * (grads.getOrElse(b - 1, 0.0) / n +
          (if (b == 0) 0.0 else l2 * w(b))))
    }
    LinearModel(w.drop(1), w(0) * BiasX, buckets, salt)
  }

  /** Score a batch under a trained model: appends `clf_prob` (σ of the
    * linear score, 6 dp) and `clf_keep` (prob ≥ `threshold`). One broadcast
    * join + one id-keyed exact fold; corpus-scale safe. */
  def score(df: DataFrame, idCol: String, textCol: String, model: LinearModel,
            threshold: Double = 0.5): DataFrame = {
    // OPT r20: the weight table is model state — an array literal +
    // codegen'd element_at replaces the parallelize + broadcast join (the
    // train-loop change, applied to the corpus-scale scoring pass: the
    // per-(doc, bucket) rows never join at all now). Same doubles, same
    // multiply — bit-identical probabilities. bucket ∈ [0, B−1] always
    // resolves (index = bucket + 1).
    val wLit = lit(model.weights)
    val feats = df.select(col(idCol).as("__id"),
        TextStats.pinnedCol(Dsir.hashedGramBuckets(
          col(textCol), model.buckets, model.salt)).as("__b"))
      .select(col("__id"), explode(col("__b")).as("bucket"), size(col("__b")).as("__n"))
      .groupBy(col("__id"), col("bucket"), col("__n"))
      .agg(count(lit(1)).as("__c"))
      .select(col("__id"), col("bucket"),
        (col("__c").cast("double") / col("__n").cast("double")).as("__x"))
    val scored = feats
      .groupBy(col("__id"))
      .agg(sum((col("__x") *
        element_at(wLit, col("bucket") + 1)).cast(Dec)).as("__m"))
      .select(col("__id"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(col("__m").cast("double") + lit(model.bias)))), 6).as("clf_prob"))
    df.join(scored.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .withColumn("clf_keep", col("clf_prob") >= lit(threshold))
  }

  /** CALIBRATION report of a trained model against a labeled held-out
    * slice — the reliability diagram (DeGroot & Fienberg 1983; Guo et al.
    * 2017's ECE input) as one aggregate: scores bin into `bins` equal-width
    * probability buckets and each bin reports volume, mean predicted
    * probability, and the observed positive rate. A well-calibrated
    * quality model has `cal_gap` ≈ 0 everywhere; a sustained gap says the
    * keep-threshold is mis-set for the corpus the model now sees.
    *
    * Determinism: `clf_prob` is 6-dp-rounded, so `round(prob·1e6)` is an
    * exact integer in any engine — mean_prob folds exact integer
    * micro-probs and divides identical doubles (the q90 discipline);
    * frac_pos and cal_gap are ratios/differences of the same exact
    * operands. Scale shape: one scoring pass (broadcast weights) + one
    * bins-sized aggregate. Output: (bin, n, mean_prob, frac_pos, cal_gap),
    * bins without a single scored doc are absent. */
  def calibrationReport(df: DataFrame, idCol: String, textCol: String,
                        labelCol: String, model: LinearModel,
                        bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    score(df, idCol, textCol, model)
      .withColumn("bin",
        least(floor(col("clf_prob") * bins), lit(bins - 1)).cast("int"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("clf_prob") * 1e6).cast("long")).as("__pm"),
        sum(col(labelCol).cast("long")).as("__pos"))
      .select(col("bin"), col("n"),
        (col("__pm").cast("double") / col("n").cast("double") / 1e6)
          .as("mean_prob"),
        (col("__pos").cast("double") / col("n").cast("double")).as("frac_pos"))
      .withColumn("cal_gap", col("mean_prob") - col("frac_pos"))
  }
}
