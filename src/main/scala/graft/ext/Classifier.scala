package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType}
import org.apache.spark.unsafe.types.UTF8String

/** Trainable model-based quality classifier — the fastText-recipe linear
  * model (Joulin et al. 2016, "Bag of Tricks for Efficient Text
  * Classification"; the same shape GPT-3/LLaMA-style pipelines use to score
  * "looks like the reference corpus" with a classifier trained on
  * positive = curated pages, negative = random crawl). Features are the
  * hashed uni+bigram bag ([[Dsir.hashedGramBuckets]], shared with DSIR so
  * "feature" means the same thing across the scoring stack), L1-normalized
  * per document; the model is logistic regression trained by full-batch
  * gradient descent.
  *
  * Scale shape: TRAINING runs on the caller's labeled slice (curation
  * practice: thousands-to-millions of rows, not the corpus) — the feature
  * rows are cut once, hash-partitioned by document, and each iteration is
  * ONE Spark job over that cut: the weights go out as a broadcast, each
  * partition returns its B-bounded gradient sums (B = 4096 default).
  * SCORING is corpus-scale and cheap: explode grams, read each bucket's
  * weight from a broadcast, one skinny (id, bucket) fold — the corpus
  * never shuffles by anything wider than its id. Neither path puts the
  * weight vector into a query plan.
  *
  * Determinism: a naive distributed gradient sums doubles in shuffle order
  * and drifts between runs/partitionings, compounding over iterations.
  * Here every cross-row sum (margins, gradients, scoring dots) is taken
  * over DECIMAL(38,18) terms — decimal addition is exact, hence
  * order-independent — so training and scoring are bit-reproducible under
  * any partitioning (spec-asserted). Per-row float math (σ, the products)
  * stays IEEE-deterministic given identical inputs.
  *
  * Oracle: training is iterative and engine-side by nature, so q111 and
  * q146 freeze the trained weights through `OracleAux` and the DuckDB
  * oracle replays the scoring pass against them; GD determinism and class
  * separation are spec-pinned.
  */
object Classifier {

  /** A trained linear model over hashed-gram features. `weights(b)` is the
    * coefficient of bucket `b`; the model is a plain value — broadcastable,
    * serializable, reusable across batches/epochs (frozen-scorer posture). */
  final case class LinearModel(weights: Array[Double], bias: Double,
                               buckets: Int, salt: String)

  private[graft] val Dec = DecimalType(38, 18)

  /** The bias feature's value. Text features are L1-normalized (each
    * ~1/grams ≈ 0.01–0.1), so a bias feature at 1.0 gets a ~20× larger
    * gradient and full-batch GD spends its first dozens of iterations
    * oscillating on the intercept (observed: at lr=50 the model passes
    * through bias −15 before converging). Scaling the bias into the same
    * range as the other features conditions the problem instead of
    * requiring a tiny global rate. */
  private[graft] val BiasX = 0.05

  /** L1-normalized hashed-feature rows of a labeled slice:
    * (__key, __y, bucket, __x) with __x = bucket count / total grams — an
    * exact integer ratio per row — plus one constant row (bucket −1,
    * __x = [[BiasX]]) per document: the BIAS as a feature, so one weight
    * table and one gradient aggregate cover intercept and coefficients
    * alike (the reported intercept is w₋₁·BiasX). */
  private[graft] def featureRows(df: DataFrame, idCol: String, textCol: String,
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
    // the feature table feeds every iteration — materialize once,
    // HASH-PARTITIONED BY __key: every row of one document then sits in ONE
    // partition, which is what lets each iteration finish a document's
    // margin inside its partition (see partitionGradient). Training slices
    // are labeled samples (thousands of rows), so a handful of partitions
    // (an eighth of the default parallelism, at least 2) minimizes
    // per-iteration task-scheduling overhead.
    val spark = pos.sparkSession
    val feats = featureRows(pos, idCol, textCol, 1.0, buckets, salt)
      .unionAll(featureRows(neg, idCol, textCol, 0.0, buckets, salt))
      .repartition(math.max(2, spark.sparkContext.defaultParallelism / 8),
        col("__key"))
      .transform(Checkpoint.materialize)
    val rows = feats.queryExecution.toRdd
    val ansi = spark.sessionState.conf.ansiEnabled

    // index 0 is the bias (feature bucket −1); coefficients shift by one
    var w = new Array[Double](buckets + 1)
    for (it <- 1 to iters) {
      // linearly decaying rate (the fastText schedule): high early progress,
      // damped endgame so a large base rate cannot oscillate forever
      val lrT = lr * (1.0 - (it - 1).toDouble / iters)
      // ONE job per iteration and no SQL execution: the weights travel as a
      // broadcast, never as a plan literal, and each partition returns its
      // exact per-bucket gradient sums; merging them is exact addition
      val bw = spark.sparkContext.broadcast(w)
      val (n, sums) = try rows.zipPartitions(rows) { (pass1, pass2) =>
          Iterator.single(partitionGradient(pass1, pass2, bw.value, ansi))
        }.reduce { case ((na, ga), (nb, gb)) =>
          (na + nb, Array.tabulate(ga.length)(b => plus(ga(b), gb(b))))
        }
        finally bw.destroy()
      // keys are partition-local, so the per-partition key counts add up
      // to the distinct-document count without a job of their own
      require(n > 0, "training slices produced no feature rows")
      val grads = sums.map(g => Option(exact(g, ansi)).fold(0.0)(_.toDouble))
      w = Array.tabulate(buckets + 1)(b =>
        // no L2 on the intercept, the standard convention
        w(b) - lrT * (grads(b) / n +
          (if (b == 0) 0.0 else l2 * w(b))))
    }
    LinearModel(w.drop(1), w(0) * BiasX, buckets, salt)
  }

  /** One document's running margin, then its residual e = σ(margin) − y. */
  private final class Doc(val y: Double) {
    var margin: Decimal = null
    var e: java.lang.Double = null
  }

  /** One GD iteration over one partition of the `__key`-partitioned
    * feature cut, read twice (columns __key, __y, bucket, __x). The first
    * read sums each document's margin Σ x·w(bucket + 1); that sum is
    * complete inside the partition only because the cut put every row of a
    * key into one partition. The second read sums e·x per bucket. Returns
    * the number of documents and the per-bucket sums indexed bucket + 1
    * (null: no term).
    *
    * This is the DataFrame formulation `groupBy(__key)` → σ →
    * `join(err, __key)` → `groupBy(bucket)`, term for term: each term is
    * the exact DECIMAL(38,18) value of Spark's `CAST(x·w AS
    * DECIMAL(38,18))`, σ uses `StrictMath.exp` like Spark's `exp`, null
    * terms are skipped like SQL's `sum`, and a null key joins nothing. */
  private def partitionGradient(pass1: Iterator[InternalRow],
                                pass2: Iterator[InternalRow], w: Array[Double],
                                ansi: Boolean): (Long, Array[Decimal]) = {
    val docs = new java.util.HashMap[UTF8String, Doc]
    pass1.foreach { r =>
      if (!r.isNullAt(0)) {
        val k = r.getUTF8String(0)
        var d = docs.get(k)
        if (d == null) {
          d = new Doc(r.getDouble(1))
          docs.put(k.clone(), d) // the row's bytes are reused
        }
        d.margin = plus(d.margin, term(r.getDouble(3) * w(r.getInt(2) + 1), ansi))
      }
    }
    docs.values.forEach { d =>
      val m = exact(d.margin, ansi)
      if (m != null) d.e = 1.0 / (1.0 + StrictMath.exp(-m.toDouble)) - d.y
    }
    val grads = new Array[Decimal](w.length)
    pass2.foreach { r =>
      if (!r.isNullAt(0)) {
        val e = docs.get(r.getUTF8String(0)).e
        if (e != null) {
          val b = r.getInt(2) + 1
          grads(b) = plus(grads(b), term(e * r.getDouble(3), ansi))
        }
      }
    }
    (docs.size.toLong, grads)
  }

  /** `CAST(d AS DECIMAL(38,18))` as Spark evaluates it: HALF_UP from the
    * shortest decimal form of `d`; NaN, ±Inf and overflow raise an error
    * under ANSI and give null otherwise. */
  private def term(d: Double, ansi: Boolean): Decimal =
    if (!d.isNaN && !d.isInfinite) exact(Decimal(d), ansi)
    else if (ansi) throw new ArithmeticException(s"cannot cast $d to $Dec")
    else null

  /** `d` set to DECIMAL(38,18) in place, like the result of Spark's cast or
    * `sum`: past its range, an error under ANSI and null otherwise. */
  private def exact(d: Decimal, ansi: Boolean): Decimal =
    if (d == null || d.changePrecision(Dec.precision, Dec.scale)) d
    else if (ansi) throw new ArithmeticException(s"$d does not fit $Dec")
    else null

  /** SQL `sum` of two partial sums: exact, and null only when both are. */
  private def plus(a: Decimal, b: Decimal): Decimal =
    if (a == null) b else if (b == null) a else a + b

  /** Score a batch under a trained model: appends `clf_prob` (σ of the
    * linear score, 6 dp) and `clf_keep` (prob ≥ `threshold`). The weights
    * reach the executors as one broadcast read by bucket, so the plan stays
    * the same size whatever the model; one id-keyed exact fold;
    * corpus-scale safe. */
  def score(df: DataFrame, idCol: String, textCol: String, model: LinearModel,
            threshold: Double = 0.5): DataFrame = {
    // the broadcast lives as long as the returned plan: Spark's
    // ContextCleaner removes it once the plan is unreachable
    val bw = df.sparkSession.sparkContext.broadcast(model.weights)
    val weight = udf((bucket: Int) => bw.value(bucket))
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
      .agg(sum((col("__x") * weight(col("bucket"))).cast(Dec)).as("__m"))
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
