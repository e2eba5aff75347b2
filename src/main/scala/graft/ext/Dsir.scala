package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * NeurIPS, "Data Selection for Language Models via Importance
  * Resampling" — the public recipe behind target-distribution-matched
  * pretraining mixes): featurize every document as a hashed bag of word
  * uni+bigrams, fit bag-of-hashed-ngram unigram models on a TARGET slice
  * (the distribution you want more of) and on the RAW corpus, and score
  * each document by its log importance weight
  * `Σ_gram [ln p_target(bucket) − ln p_raw(bucket)]` — documents that look
  * like the target score high, generic/noisy documents score low. The
  * paper resamples proportional to the weights; [[dsirSelect]] is the
  * deterministic analogue (exact top-K by weight), the same
  * reproducibility trade the quality-sampling operator documents.
  *
  * Scale shape: the two models are ONE map-side-combined aggregate each
  * over hashed buckets — at most `buckets` rows (default 10k, the paper's
  * B), so the joined log-ratio table is model-sized and BROADCAST into
  * scoring. Scoring a 100 TB corpus is: explode grams (linear), one
  * broadcast hash join, one skinny (id, pos, lr) shuffle for the
  * per-document fold. Bounded driver state: the two total-count longs.
  *
  * Float reproducibility (the q90 discipline): bucket probabilities are
  * ratios of exact integers ((c+k)/(T+k·B), integer `k`), each bucket's
  * log-ratio is computed ONCE in the model-sized table, per-document sums
  * fold in DOCUMENT ORDER (pos-sorted sequential fold, not a
  * shuffle-ordered SUM), and the result is rounded to 6 dp — leaving only
  * `ln`'s sub-ulp engine variance under six decimals of headroom. The
  * hash is [[Corpus.hashBucket]]'s md5 arithmetic, which DuckDB replays
  * verbatim. (Beyond the reference surface; required by the build brief.)
  */
object Dsir {

  /** Hashed uni+bigram feature buckets of a document, order-preserving
    * (unigrams first, then bigrams — the fold order both engines replay).
    * The tokenizer is [[TextStats.tokens]], shared with the LM/quality
    * operators so "gram" means the same thing across the scoring stack. */
  def hashedGramBuckets(text: Column, buckets: Int = 10000,
                        salt: String = "graft:dsir"): Column = {
    val toks = TextStats.tokens(coalesce(text, lit("")))
    val grams = concat(toks, TextStats.ngramsOfTokens(toks, 2))
    transform(grams, g => Corpus.hashBucket(g, buckets, salt))
  }

  /** Hashed-bucket counts of a corpus slice: one aggregate → (bucket, c),
    * at most `buckets` rows — the bag-of-hashed-ngrams "model". */
  def bucketCounts(df: DataFrame, textCol: String, buckets: Int = 10000,
                   salt: String = "graft:dsir"): DataFrame =
    // pinned before the explode (TextStats.pinnedCol) so the optimizer
    // cannot inline the gram-array construction into the Generate and
    // rebuild it per exploded row
    df.select(TextStats.pinnedCol(
        hashedGramBuckets(col(textCol), buckets, salt)).as("__b"))
      .select(explode(col("__b")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))

  /** Per-document DSIR log importance weight under models fit on `target`
    * vs `raw`: appends to `df`
    *   - `ds_grams` — number of hashed gram features (≥ 1: the tokenizer
    *     emits one (empty) token even for blank text, both engines)
    *   - `ds_logw` — Σ ln((c_t+k)/(T_t+kB)) − ln((c_r+k)/(T_r+kB)) over
    *     the document's buckets, folded in document order, rounded 6 dp.
    *
    * `raw` defaults to `df` itself — the paper's setting, where the raw
    * model is fit on the corpus being scored. */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
                     target: DataFrame, raw: DataFrame = null,
                     buckets: Int = 10000, k: Long = 1L,
                     salt: String = "graft:dsir"): DataFrame =
    frozenScorer(target, if (raw == null) df else raw, textCol, buckets, k,
      salt)(df, idCol)

  /** The CONTINUOUS-SCORING form: fit the two bucket models ONCE on static
    * slices and return a closure that appends `ds_grams`/`ds_logw` to any
    * batch — a later ingestion epoch, or a `foreachBatch` micro-batch in a
    * streaming pipeline (the scoring itself is one broadcast join plus the
    * per-doc fold, so it runs unchanged on micro-batches; the epoch-loop
    * posture of the streaming dedup operators). The captured log-ratio
    * table is model-sized (≤ `buckets` rows) and localCheckpointed, so
    * re-scoring never re-runs the corpus aggregates. */
  def frozenScorer(target: DataFrame, raw: DataFrame, textCol: String,
                   buckets: Int = 10000, k: Long = 1L,
                   salt: String = "graft:dsir"): (DataFrame, String) => DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(k >= 1L, s"add-k smoothing needs k >= 1, got $k")
    val tc = bucketCounts(target, textCol, buckets, salt)
    val rc = bucketCounts(raw, textCol, buckets, salt)
    // model-sized (≤ buckets rows) with two consumers (totals, broadcast);
    // materialized once so neither side re-runs its corpus aggregate
    val joined = tc.withColumnRenamed("c", "__ct")
      .join(rc.withColumnRenamed("c", "__cr"), Seq("bucket"), "full_outer")
      .transform(Checkpoint.materialize)
    val Array(tt, tr) = joined
      .agg(sum(coalesce(col("__ct"), lit(0L))), sum(coalesce(col("__cr"), lit(0L))))
      .head().toSeq.map(v => if (v == null) 0L else v.asInstanceOf[Long]).toArray
    val denT = (tt + k * buckets).toDouble
    val denR = (tr + k * buckets).toDouble
    // per-bucket log-ratio computed ONCE in the model-sized table (2 `ln`
    // per bucket, not per corpus gram); buckets unseen by BOTH slices get
    // the same formula at c=0 via the coalesce below
    val lrTable = joined.select(col("bucket"),
      (log((coalesce(col("__ct"), lit(0L)) + lit(k)).cast("double") / lit(denT)) -
        log((coalesce(col("__cr"), lit(0L)) + lit(k)).cast("double") / lit(denR)))
        .as("__lr"))
    val unseenLr = math.log(k.toDouble / denT) - math.log(k.toDouble / denR)
    (df: DataFrame, idCol: String) =>
      scoreBatch(df, idCol, textCol, lrTable, unseenLr, buckets, salt)
  }

  private def scoreBatch(df: DataFrame, idCol: String, textCol: String,
                         lrTable: DataFrame, unseenLr: Double,
                         buckets: Int, salt: String): DataFrame = {
    val exploded = df
      .select(col(idCol).as("__id"), TextStats.pinnedCol(
        hashedGramBuckets(col(textCol), buckets, salt)).as("__b"))
      .select(col("__id"), posexplode(col("__b")).as(Seq("pos", "bucket")))
    val agg = exploded
      .join(lrTable, Seq("bucket"), "left")
      .withColumn("__lr", coalesce(col("__lr"), lit(unseenLr)))
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("ds_grams"),
        // DOCUMENT-ORDER fold: collect, sort by pos, sequential sum — a
        // shuffle-ordered SUM(double) would differ between engines/runs
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("__lr").as("lr")))),
            s => s("lr")),
          lit(0.0), (a, x) => a + x).as("__s"))
      .select(col("__id"), col("ds_grams"), round(col("__s"), 6).as("ds_logw"))
    df.join(agg.withColumnRenamed("__id", idCol), Seq(idCol), "left")
  }

  /** Deterministic importance SELECTION: the `ceil(keepFrac · n)` documents
    * with the highest log weight (doc id ascending as tiebreak among the
    * boundary-weight ties) — the reproducible analogue of the paper's
    * Gumbel-top-k resample, chosen for the same reason the quality sampler
    * derives fractions from integer hashes: an auditable,
    * engine-independent keep set.
    *
    * Scale shape — a global top-K of corpus-fraction size must NOT funnel K
    * rows through the driver (`orderBy.limit` / a global `row_number`
    * window both would). Instead: a HISTOGRAM of the rounded weights (one
    * aggregate, one row per distinct 6 dp value — model-sized), a
    * cumulative-count window over that histogram (tiny, single-partition
    * over the histogram only), ONE collected boundary row (the cutoff
    * weight and how many of its ties fill K), then two corpus filters:
    * strictly-above-cutoff (embarrassingly parallel) plus an `orderBy +
    * limit` tie-fill restricted to the single boundary weight — the only
    * funnel, sized by one value's tie set, not by K. The scored corpus
    * feeds three consumers, so it is materialized once
    * ([[Checkpoint.materialize]]). */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
                 target: DataFrame, keepFrac: Double,
                 raw: DataFrame = null, buckets: Int = 10000, k: Long = 1L,
                 salt: String = "graft:dsir"): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val scored = Checkpoint.materialize(
      dsirLogWeights(df, idCol, textCol, target, raw, buckets, k, salt))
    val hist = scored.groupBy(col("ds_logw")).agg(count(lit(1)).as("__c"))
    // descending cumulative counts via the two-phase distributed prefix sum
    // over the NEGATED weight (ascending −w ≡ descending w; the histogram
    // key stays unique) — never a partitionless Window.orderBy, which would
    // sort the whole distinct-value histogram in one task at scale.
    // Histogram-sized; feeds the total AND the boundary row.
    val cum = Corpus.prefixSum(hist.withColumn("__ok", negate(col("ds_logw"))),
        "__ok", "__c", "__cum")
      .drop("__ok").transform(Checkpoint.materialize)
    val (n, values) = Corpus.prefixTotal(cum, "__cum")
    if (values == 0L) return scored // empty corpus: nothing to select
    val keep = math.ceil(keepFrac * n).toLong
    val boundary = cum.filter(col("__cum") >= keep)
      .orderBy(col("ds_logw").desc).limit(1).head()
    val cutoff = boundary.getAs[Double]("ds_logw")
    val tieFill = (keep - (boundary.getAs[Long]("__cum") - boundary.getAs[Long]("__c"))).toInt
    scored.filter(col("ds_logw") > cutoff)
      .unionAll(scored.filter(col("ds_logw") === cutoff)
        .orderBy(col(idCol)).limit(tieFill))
  }
}
