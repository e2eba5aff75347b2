package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style n-gram LM perplexity scoring (Wenzek et al. 2019, "CCNet:
  * Extracting High Quality Monolingual Datasets from Web Crawl Data" — the
  * public recipe behind most "quality by perplexity" filters): train n-gram
  * counts on a trusted reference slice, score every document by mean
  * negative log-likelihood under the smoothed model, and let the caller
  * bucket head/middle/tail from the score histogram. CCNet proper uses a
  * 5-gram Kneser-Ney KenLM over SentencePiece tokens; this is the
  * deterministic, SQL-replayable analogue — word n-grams with add-k
  * smoothing — which preserves the property the filter actually uses
  * (monotone "looks like the reference corpus" ranking) while every count
  * is an exact integer both engines reproduce.
  *
  * Scale shape: training is ONE aggregate over the reference slice (n-gram
  * counts + (n−1)-gram context counts, each capped to `maxVocab` rows by a
  * deterministic top-K); the count tables are model-sized and broadcast
  * into the scoring join, so scoring a 100 TB corpus is: explode grams
  * (linear), two broadcast hash joins (no shuffle of the corpus), one
  * skinny (id, pos, nll) shuffle for the per-document fold. Bounded driver
  * state: only the vocabulary size (one long) is collected.
  *
  * Float reproducibility: probabilities are ratios of exact integers
  * ((c_gram + k) / (c_ctx + k·V)), the per-document sum folds the per-gram
  * NLLs in DOCUMENT ORDER on both engines (sequential fold over the
  * pos-sorted array, not a shuffle-ordered SUM), and the mean is rounded
  * to 6 dp at the end — the same discipline as the cosine oracles, leaving
  * only `ln`'s sub-ulp engine variance under six decimal places of
  * headroom. (Beyond the reference surface; required by the build brief.)
  */
object Perplexity {

  /** Word n-gram counts of a reference slice: one map-side-combined
    * aggregate → (gram, c). The order-n gram table of the LM; n = 1 gives
    * the unigram (context) table. */
  def ngramCounts(ref: DataFrame, textCol: String, n: Int,
                  tokenizer: Column => Column = TextStats.tokens): DataFrame =
    // the array is pinned before the explode (TextStats.pinnedCol) so the
    // optimizer cannot inline its construction into the Generate and
    // rebuild it per exploded gram
    ref.select(TextStats.pinnedCol(
        TextStats.ngramsOfTokens(tokenizer(coalesce(col(textCol), lit(""))), n))
        .as("__g"))
      .select(explode(col("__g")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c"))

  /** Deterministic top-`maxVocab` cap on a count table: highest counts
    * first, ties broken by gram ascending — the bound that keeps the
    * broadcast model-sized no matter how large the reference slice is.
    * Grams cut by the cap score as unseen (count 0), the standard
    * closed-vocabulary treatment. */
  private def capVocab(counts: DataFrame, maxVocab: Int): DataFrame =
    // orderBy+limit is the distributed exact top-K (never a global
    // row_number window, which would funnel the vocabulary through one
    // partition); localCheckpoint because the capped table is MODEL-sized
    // (≤ maxVocab rows) and has two+ consumers — the vocabulary count, the
    // scoring broadcast — which would otherwise each re-run the count
    // aggregate and the sort (measured 2× the whole model build on q90)
    counts.orderBy(col("c").desc, col("gram")).limit(maxVocab)
      .transform(Checkpoint.materialize)

  /** A FROZEN order-`n` add-`k` model: the capped gram/context count
    * tables (already materialized model-sized via [[capVocab]]) plus the
    * vocabulary constants — train once on a static reference slice, then
    * score any frame, or every arriving micro-batch, under the SAME
    * counts (the [[graft.ext.Classifier.LinearModel]] posture for LMs:
    * continuous ingestion reuses the batch scorer unchanged, so stream
    * and batch scores CANNOT drift). Both tables' row counts size the
    * scoring broadcasts, so scoring a micro-batch runs no count. */
  case class BigramModel(gramC: DataFrame, ctxC: DataFrame, vocab: Long,
                         nTotal: Long, n: Int, k: Long,
                         gramRows: Long, ctxRows: Long)

  /** Train the frozen model of [[perplexityScore]] — see there for the
    * probability form and determinism discipline. */
  def trainBigramModel(ref: DataFrame, textCol: String, n: Int = 2,
                       k: Long = 1L, maxVocab: Int = 1 << 20,
                       tokenizer: Column => Column = TextStats.tokens): BigramModel = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(k >= 1L, s"add-k smoothing needs k >= 1, got $k")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val gramC = capVocab(ngramCounts(ref, textCol, n, tokenizer), maxVocab)
    // context table: (n-1)-grams; for a unigram model the context is the
    // whole corpus — one total-token count, carried as a constant
    val ctxC =
      if (n > 1) capVocab(ngramCounts(ref, textCol, n - 1, tokenizer), maxVocab)
      else null
    // V (and a unigram model's N) is one bounded collect over the CAPPED
    // unigram table (cut grams score as unseen, so the capped table IS the
    // vocabulary); a built capped table (and its count) is reused if it can
    val uni =
      if (n == 1) gramC
      else if (n == 2) ctxC
      else capVocab(ngramCounts(ref, textCol, 1, tokenizer), maxVocab)
    val u = uni.agg(count(lit(1)), sum(col("c"))).head()
    val vocab = u.getLong(0) + 1L
    val nTotal: Long = if (n == 1) u.getLong(1) else 0L
    // RDD counts: one job each, where Dataset.count's exchange costs two
    val gramRows = if (n == 1) vocab - 1L else gramC.rdd.count()
    val ctxRows = if (n == 1) 0L else if (n == 2) vocab - 1L else ctxC.rdd.count()
    BigramModel(gramC, ctxC, vocab, nTotal, n, k, gramRows, ctxRows)
  }

  /** Per-document LM score under an order-`n` add-`k` model trained on
    * `ref`: appends to `df`
    *   - `lm_grams` — number of scored n-grams (0 for docs shorter than n)
    *   - `lm_oov`   — how many of them were unseen in the reference
    *   - `nll_mean` — mean negative log-likelihood (natural log, rounded
    *     to 6 dp; null when `lm_grams` = 0). Perplexity = exp(nll_mean);
    *     the monotone NLL is emitted directly so no cross-engine `exp`
    *     enters the compare.
    *
    * P(w | ctx) = (c(ctx·w) + k) / (c(ctx) + k·V) with V = reference
    * unigram vocabulary + 1 (the OOV type). `k` is an INTEGER so both
    * numerator and denominator stay exact integers. `tokenizer` swaps the
    * unit — pass [[TextStats.bpeTokens]] for subword grams, or a
    * char-splitter for CCNet's char-LM flavor. */
  def perplexityScore(df: DataFrame, idCol: String, textCol: String,
                      ref: DataFrame, n: Int = 2, k: Long = 1L,
                      maxVocab: Int = 1 << 20,
                      tokenizer: Column => Column = TextStats.tokens): DataFrame =
    perplexityScoreWithModel(df, idCol, textCol,
      trainBigramModel(ref, textCol, n, k, maxVocab, tokenizer), tokenizer)

  /** [[perplexityScore]] under a FROZEN [[BigramModel]] — the serving /
    * streaming form (score micro-batches under counts trained once). */
  def perplexityScoreWithModel(df: DataFrame, idCol: String, textCol: String,
                               model: BigramModel,
                               tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    val (withCtx, nll) = scoredGramsWithModel(df, idCol, textCol, model, tokenizer)
    // fold the per-gram NLLs in DOCUMENT ORDER: collect, sort by pos,
    // sequential fold — a shuffle-ordered SUM(double) would differ between
    // engines (and between runs) in the last bits
    val agg = withCtx
      .groupBy(col("__id"))
      .agg(
        count(col("gram")).as("lm_grams"),
        sum(when(col("__cg").isNull, 1L).otherwise(0L)).cast("long").as("lm_oov"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), nll.as("nll")))),
            s => s("nll")),
          lit(0.0), (a, x) => a + x).as("__s"))
      .select(col("__id"), col("lm_grams"), col("lm_oov"),
        round(col("__s") / col("lm_grams"), 6).as("nll_mean"))
    df.join(agg.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .withColumn("lm_grams", coalesce(col("lm_grams"), lit(0L)))
      .withColumn("lm_oov", coalesce(col("lm_oov"), lit(0L)))
  }

  /** Shared model-build + per-gram scoring core of [[perplexityScore]] and
    * [[minKProbScore]]: returns the exploded ((__id, pos, gram, __cg,
    * __cc)) gram stream with both broadcast count joins applied, plus the
    * per-gram NLL column over it. */
  private def scoredGrams(df: DataFrame, idCol: String, textCol: String,
                          ref: DataFrame, n: Int, k: Long, maxVocab: Int,
                          tokenizer: Column => Column): (DataFrame, Column) =
    scoredGramsWithModel(df, idCol, textCol,
      trainBigramModel(ref, textCol, n, k, maxVocab, tokenizer), tokenizer)

  /** The scoring half of [[scoredGrams]], under a frozen model. */
  private def scoredGramsWithModel(df: DataFrame, idCol: String,
                                   textCol: String, model: BigramModel,
                                   tokenizer: Column => Column): (DataFrame, Column) =
    (withCounts(gramStream(df, idCol, textCol, model.n, tokenizer), model), nllOf(model))

  /** The exploded (__id, pos, gram, ctx) order-`n` gram stream of `df`. */
  private def gramStream(df: DataFrame, idCol: String, textCol: String, n: Int,
                         tokenizer: Column => Column): DataFrame = {
    val toks = tokenizer(coalesce(col(textCol), lit("")))
    val grams = TextStats.ngramsOfTokens(toks, n)
    val ctxs = if (n > 1) TextStats.ngramsOfTokens(toks, n - 1) else lit(null)
    // gram at pos i spans tokens [i, i+n-1]; its context spans [i, i+n-2] —
    // the SAME position in the (n-1)-gram array, so one posexplode aligns
    // both without a second generator. Both arrays are PINNED
    // (TextStats.pinnedCol): un-pinned, the optimizer inlines them into
    // the Generate and rebuilds the n-gram array per exploded row
    df.select(col(idCol).as("__id"), TextStats.pinnedCol(grams).as("__g"),
        (if (n > 1) TextStats.pinnedCol(ctxs) else lit(null).cast("string")).as("__cx"))
      .select(col("__id"), col("__cx"),
        posexplode(col("__g")).as(Seq("pos", "gram")))
      .select(col("__id"), col("pos"), col("gram"),
        (if (n > 1) element_at(col("__cx"), col("pos") + 1)
         else lit("")).as("ctx"))
  }

  /** A gram stream with model `m`'s counts joined on as `__cg<suf>` and
    * `__cc<suf>` (a unigram model's context count is its token total). */
  private def withCounts(base: DataFrame, m: BigramModel, suf: String = ""): DataFrame = {
    val joined = base.join(Broadcast.small(
      m.gramC.withColumnRenamed("c", s"__cg$suf"), Some(m.gramRows)), Seq("gram"), "left")
    if (m.n > 1)
      joined.join(Broadcast.small(m.ctxC.select(col("gram").as("ctx"),
        col("c").as(s"__cc$suf")), Some(m.ctxRows)), Seq("ctx"), "left")
    else joined.withColumn(s"__cc$suf", lit(m.nTotal))
  }

  /** Per-gram NLL under model `m`, over the columns [[withCounts]] adds. */
  private def nllOf(m: BigramModel, suf: String = ""): Column = -log(
    (coalesce(col(s"__cg$suf"), lit(0L)) + lit(m.k)).cast("double") /
      (coalesce(col(s"__cc$suf"), lit(0L)) + lit(m.k) * lit(m.vocab)).cast("double"))

  /** Min-K% Prob (Shi et al. 2023, "Detecting Pretraining Data from Large
    * Language Models" — the public membership-inference / memorization
    * probe): score each document by the mean NLL of ONLY its `kFrac`
    * LOWEST-probability (highest-NLL) n-grams. A document the model has
    * memorized has no surprising region, so even its worst-k% tokens score
    * near the model's floor — an unusually LOW mink score relative to the
    * corpus flags near-verbatim training-set members; the full-document
    * mean ([[perplexityScore]]) washes that signal out with the easy
    * tokens. Same deterministic n-gram analogue as the rest of this file
    * (the paper probes a neural LM; the statistic is model-agnostic).
    *
    * Appends `lm_grams`, `mk_k` (= max(1, ceil(kFrac·lm_grams)) selected
    * grams) and `mink_nll` (mean NLL of the mk_k highest-NLL grams, 6 dp;
    * null when the doc is shorter than n). Selection is a per-doc
    * descending rank window (hash-partitioned by doc — the window buffer
    * spills, unlike an aggregation buffer, so a book-length outlier with
    * millions of grams cannot blow one multi-MB aggregate buffer) + a
    * rank ≤ mk_k filter + a streaming sum. The sum still replays in SQL:
    * the window emits each doc's rows contiguously in descending-NLL
    * order and the hash aggregate accumulates in arrival order, so the
    * summation order is the same descending prefix the oracle's
    * `list_sum` over the DESC-sorted list walks (ties are interchangeable
    * under a sum; the rank tiebreak on `pos` only picks WHICH equal
    * values cross the cut). `ceil` runs on IEEE doubles in both engines
    * (the oracle CASTs its kFrac literal to DOUBLE, the q95 lesson).
    * Scale shape identical to [[perplexityScore]]. */
  def minKProbScore(df: DataFrame, idCol: String, textCol: String,
                    ref: DataFrame, kFrac: Double = 0.2, n: Int = 2,
                    k: Long = 1L, maxVocab: Int = 1 << 20,
                    tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    require(kFrac > 0.0 && kFrac <= 1.0, s"kFrac must be in (0, 1], got $kFrac")
    val (withCtx, nll) =
      scoredGrams(df, idCol, textCol, ref, n, k, maxVocab, tokenizer)
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))
    val ranked = withCtx
      .select(col("__id"), col("pos"), nll.as("__nll"))
      .withColumn("lm_grams", count(lit(1)).over(byDoc))
      .withColumn("mk_k",
        greatest(lit(1L), ceil(lit(kFrac) * col("lm_grams"))).cast("long"))
      .withColumn("__rk",
        row_number().over(byDoc.orderBy(col("__nll").desc, col("pos"))))
    val agg = ranked
      .where(col("__rk") <= col("mk_k"))
      .groupBy(col("__id"))
      .agg(
        max(col("lm_grams")).as("lm_grams"),
        max(col("mk_k")).as("mk_k"),
        round(sum(col("__nll")) / max(col("mk_k")), 6).as("mink_nll"))
    df.join(agg.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .withColumn("lm_grams", coalesce(col("lm_grams"), lit(0L)))
      .withColumn("mk_k", coalesce(col("mk_k"), lit(0L)))
  }

  /** Stupid Backoff bigram score (Brants et al. 2007, "Large Language
    * Models in Machine Translation" §4 — the smoothing Google built for
    * web-scale counts precisely BECAUSE it needs no discount statistics,
    * only raw counts, making it the natural distributed-aggregate LM):
    *
    *   S(w | w_prev) = c(w_prev w) / c(w_prev)        if the bigram was seen
    *                 = α · (c(w) + 1) / (N + V)        otherwise
    *
    * with α = 0.4 (the paper's value), N = reference token count, V =
    * vocabulary + 1. Brants leaves the unseen-unigram case open; the +1/+V
    * floor keeps the backoff term positive for OOV words so every position
    * scores (documented deviation, same closed-vocabulary convention as
    * [[perplexityScore]]'s cap). Scores are not normalized probabilities —
    * the paper's point — but the ranking is what quality filters use.
    *
    * Appends `sb_grams` (scored bigrams), `sb_hits` (bigrams found in the
    * reference), `sb_logscore` (mean log S in document order, 6 dp; null
    * when the document has no bigram). Same scale shape as
    * [[perplexityScore]]: two capped model aggregates broadcast into three
    * joins on the exploded gram stream; the corpus itself never shuffles.
    */
  def stupidBackoffScore(df: DataFrame, idCol: String, textCol: String,
                         ref: DataFrame, alpha: Double = 0.4,
                         maxVocab: Int = 1 << 20,
                         tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val bgC = capVocab(ngramCounts(ref, textCol, 2, tokenizer), maxVocab)
    val uniC = capVocab(ngramCounts(ref, textCol, 1, tokenizer), maxVocab)
    val u = uniC.agg(count(lit(1)), coalesce(sum(col("c")), lit(0L))).head()
    val (uniRows, nTotal, bgRows) = (u.getLong(0), u.getLong(1), bgC.rdd.count())
    val vocab = uniRows + 1L

    val toks = tokenizer(coalesce(col(textCol), lit("")))
    // bigram at pos i (0-based) spans tokens[i], tokens[i+1]: context and
    // trailing word come straight off the PINNED token array — no second
    // gram explode needed
    val exploded = df
      .select(col(idCol).as("__id"),
        TextStats.pinnedCol(TextStats.ngramsOfTokens(toks, 2)).as("__g"),
        TextStats.pinnedCol(toks).as("__t"))
      .select(col("__id"), col("__t"),
        posexplode(col("__g")).as(Seq("pos", "gram")))
      .select(col("__id"), col("pos"), col("gram"),
        element_at(col("__t"), col("pos") + 1).as("ctx"),
        element_at(col("__t"), col("pos") + 2).as("w"))
    val joined = exploded
      .join(Broadcast.small(bgC.withColumnRenamed("c", "__cbg"), Some(bgRows)),
        Seq("gram"), "left")
      .join(Broadcast.small(
        uniC.select(col("gram").as("ctx"), col("c").as("__ccx")), Some(uniRows)),
        Seq("ctx"), "left")
      .join(Broadcast.small(
        uniC.select(col("gram").as("w"), col("c").as("__cw")), Some(uniRows)),
        Seq("w"), "left")
    // a capped context can orphan a surviving bigram (c_bg without c_ctx):
    // such positions take the backoff branch rather than divide by zero
    val hit = col("__cbg").isNotNull && col("__ccx").isNotNull
    val logS = when(hit,
        log(col("__cbg").cast("double") / col("__ccx").cast("double")))
      .otherwise(log(lit(alpha) *
        ((coalesce(col("__cw"), lit(0L)) + lit(1L)).cast("double") /
          lit(nTotal + vocab).cast("double"))))
    val agg = joined
      .groupBy(col("__id"))
      .agg(
        count(col("gram")).as("sb_grams"),
        sum(when(hit, 1L).otherwise(0L)).cast("long").as("sb_hits"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), logS.as("ls")))),
            s => s("ls")),
          lit(0.0), (a, x) => a + x).as("__s"))
      .select(col("__id"), col("sb_grams"), col("sb_hits"),
        round(col("__s") / col("sb_grams"), 6).as("sb_logscore"))
    df.join(agg.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .withColumn("sb_grams", coalesce(col("sb_grams"), lit(0L)))
      .withColumn("sb_hits", coalesce(col("sb_hits"), lit(0L)))
  }

  /** Moore-Lewis cross-entropy difference selection (Moore & Lewis 2010,
    * ACL, "Intelligent Selection of Language Model Training Data" — the
    * public recipe behind in-domain data selection): score each document
    * by H_in(doc) − H_gen(doc), its per-gram NLL under a model trained on
    * a trusted IN-DOMAIN slice minus its NLL under a model trained on the
    * GENERAL corpus. Subtracting the general score cancels "this document
    * is just easy/hard text" — a document ranks high only if the in-domain
    * model specifically likes it MORE than the general model does, which a
    * plain perplexity filter ([[perplexityScore]]) cannot distinguish.
    * Lower score = more in-domain-like; selection keeps the lowest
    * fraction.
    *
    * Appends `ml_grams` (scored n-grams), `nll_in`, `nll_gen` (each 6 dp,
    * null for docs shorter than n) and `ml_score` = round(nll_in −
    * nll_gen, 6). Scale shape: exactly two [[perplexityScore]] passes —
    * two capped broadcast models over the same exploded gram stream; the
    * corpus never shuffles beyond the two skinny per-doc folds. */
  def crossEntropyDiffScore(df: DataFrame, idCol: String, textCol: String,
                            inDomain: DataFrame, general: DataFrame,
                            n: Int = 2, k: Long = 1L, maxVocab: Int = 1 << 20,
                            tokenizer: Column => Column = TextStats.tokens): DataFrame =
    crossEntropyDiffScoreWithModels(df, idCol, textCol,
      trainBigramModel(inDomain, textCol, n, k, maxVocab, tokenizer),
      trainBigramModel(general, textCol, n, k, maxVocab, tokenizer),
      tokenizer)

  /** [[crossEntropyDiffScore]] under two FROZEN [[BigramModel]]s — the
    * serving / streaming form: both models train once on static slices
    * and every arriving micro-batch scores under the same counts
    * (scoring is per-document, so per-batch results equal the batch
    * operator's on the same rows — spec-pinned).
    *
    * Both models must share the same n-gram order (`inModel.n ==
    * genModel.n`, enforced below): the fused single-stream formulation
    * explodes ONE gram stream and scores it under both count tables, so a
    * mixed-order pair has no shared stream to score. (The pre-r19 two-pass
    * formulation happened to accept mixed orders; no caller used that, and
    * the Moore-Lewis recipe is defined over a common order.) */
  def crossEntropyDiffScoreWithModels(df: DataFrame, idCol: String,
                                      textCol: String, inModel: BigramModel,
                                      genModel: BigramModel,
                                      tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    // OPT r19: ONE exploded gram stream scored under BOTH frozen models.
    // The previous formulation chained two perplexityScoreWithModel passes,
    // and because pass 1's output fed BOTH pass 2's explode and pass 2's
    // final corpus join un-materialized, the whole pass-1 pipeline executed
    // twice — the q151 profile showed the double-scoring dominating. Both
    // models' count tables broadcast onto the same stream; the per-model
    // NLL folds walk the SAME pos-sorted list the sequential passes walked,
    // so every rounded output is bit-identical (spec + oracle re-verified).
    require(inModel.n == genModel.n,
      s"both models must share the n-gram order, got ${inModel.n} vs ${genModel.n}")
    // r20 quiet re-A/B (VERDICT r19 #3): fused 4.94 s vs two-pass 5.09 s on
    // a dedicated single-query subset (and 5.86 vs 5.80 in a paired run) —
    // a wash locally; the fusion stays for its scale shape (one exploded
    // gram stream instead of pass 1 executing twice).
    val scored = withCounts(withCounts(
      gramStream(df, idCol, textCol, inModel.n, tokenizer), inModel, "_in"), genModel, "_gen")
    // identical aggregate expressions share one buffer (Spark dedupes
    // semantically-equal aggregate functions), so the pos-sorted struct
    // list is collected once and folded twice — each fold in the same
    // document order the sequential passes used
    def sortedNll = array_sort(collect_list(struct(col("pos"),
      nllOf(inModel, "_in").as("ni"), nllOf(genModel, "_gen").as("ng"))))
    val agg = scored
      .groupBy(col("__id"))
      .agg(
        count(col("gram")).as("ml_grams"),
        sum(when(col("__cg_in").isNull, 1L).otherwise(0L)).cast("long").as("oov_in"),
        sum(when(col("__cg_gen").isNull, 1L).otherwise(0L)).cast("long").as("oov_gen"),
        aggregate(transform(sortedNll, s => s("ni")), lit(0.0), (a, x) => a + x).as("__si"),
        aggregate(transform(sortedNll, s => s("ng")), lit(0.0), (a, x) => a + x).as("__sg"))
      .select(col("__id"), col("ml_grams"), col("oov_in"), col("oov_gen"),
        round(col("__si") / col("ml_grams"), 6).as("nll_in"),
        round(col("__sg") / col("ml_grams"), 6).as("nll_gen"))
    df.join(agg.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .withColumn("ml_grams", coalesce(col("ml_grams"), lit(0L)))
      .withColumn("oov_in", coalesce(col("oov_in"), lit(0L)))
      .withColumn("oov_gen", coalesce(col("oov_gen"), lit(0L)))
      // column order matches the old two-pass output (df ++ oov_in, nll_in,
      // ml_grams, oov_gen, nll_gen, ml_score) for schema compatibility
      .select(df.columns.map(col) ++ Seq(col("oov_in"), col("nll_in"),
        col("ml_grams"), col("oov_gen"), col("nll_gen")): _*)
      .withColumn("ml_score", round(col("nll_in") - col("nll_gen"), 6))
  }

  /** [[crossEntropyDiffScore]] + the selection terminal: flag the
    * `keepFrac` LOWEST-scoring documents (most in-domain-like) as
    * `selected`. Same histogram-CDF cut as [[graft.ext.Dsir.dsirSelect]]
    * — a score-value histogram, the two-phase distributed prefix sum
    * (never a global-order window), a driver-side cutoff (bounded: one
    * row), and a boundary tie-fill by `idCol` via distributed
    * orderBy/limit — equivalent to rank by (ml_score ASC, id ASC) ≤
    * ceil(keepFrac·n_scored), which is what the oracle replays as one
    * window. Unscorable documents (shorter than the LM order) are never
    * selected and don't count toward n_scored. */
  def crossEntropySelect(df: DataFrame, idCol: String, textCol: String,
                         inDomain: DataFrame, general: DataFrame,
                         keepFrac: Double, n: Int = 2, k: Long = 1L,
                         maxVocab: Int = 1 << 20,
                         tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    // the scored relation feeds the histogram, the tie scan and the final
    // projection — materialized once (the double-model scoring pipeline is
    // the dominant cost; see perplexityBuckets' measurement)
    val scored = Checkpoint.materialize(
      crossEntropyDiffScore(df, idCol, textCol, inDomain, general, n, k,
        maxVocab, tokenizer))
    val hist = scored.filter(col("ml_score").isNotNull)
      .groupBy(col("ml_score")).agg(count(lit(1)).as("__c"))
    val cum = Corpus.prefixSum(hist, "ml_score", "__c", "__cum")
      .transform(Checkpoint.materialize)
    val (nScored, values) = Corpus.prefixTotal(cum, "__cum")
    if (values == 0L) // nothing scorable: nothing selected
      return scored.withColumn("selected", lit(false))
    val keep = math.ceil(keepFrac * nScored).toLong
    val boundary = cum.filter(col("__cum") >= keep)
      .orderBy(col("ml_score")).limit(1).head()
    val cutoff = boundary.getAs[Double]("ml_score")
    val tieFill =
      (keep - (boundary.getAs[Long]("__cum") - boundary.getAs[Long]("__c"))).toInt
    val tieKeep = scored.filter(col("ml_score") === lit(cutoff))
      .select(col(idCol)).orderBy(col(idCol)).limit(tieFill)
      .withColumn("__tie", lit(true))
    scored.join(tieKeep, Seq(idCol), "left")
      .withColumn("selected", col("ml_score").isNotNull &&
        (col("ml_score") < lit(cutoff) || coalesce(col("__tie"), lit(false))))
      .drop("__tie")
  }

  /** CCNet's head/middle/tail corpus partition (Wenzek et al. 2019, §4.3):
    * label each document by which perplexity tercile it falls in — `head`
    * (lowest NLL, most reference-like), `middle`, `tail`. Most public
    * pipelines keep head+middle and drop or down-weight tail.
    *
    * Scale shape — a corpus-fraction split must not rank the corpus through
    * a global window. Instead: a HISTOGRAM of the rounded scores (one
    * aggregate; one row per distinct 6 dp value, model-sized), a cumulative
    * window over the histogram only, labels decided per VALUE from the
    * cumulative counts, then one broadcast join back. Ties (equal rounded
    * scores) land in one bucket as a block: a value straddling a boundary
    * goes wholly to `middle`, so the head/tail fractions are exact up to
    * one value's tie set — the determinism-over-exact-fractions trade every
    * hash-derived sampler in this package makes. Documents with a null
    * score (shorter than the LM order) get a null label.
    *
    * Cutoffs: head = values with cumulative count ≤ floor(n·headFrac);
    * tail = values whose block starts at or after n − floor(n·tailFrac). */
  def perplexityBuckets(scored: DataFrame, scoreCol: String = "nll_mean",
                        headFrac: Double = 1.0 / 3, tailFrac: Double = 1.0 / 3,
                        bucketCol: String = "ppl_bucket"): DataFrame = {
    require(headFrac >= 0.0 && tailFrac >= 0.0 && headFrac + tailFrac <= 1.0,
      s"fractions must be >= 0 and sum <= 1, got head=$headFrac tail=$tailFrac")
    // the scored relation feeds TWO consumers (the histogram aggregate and
    // the label join) — materialized once so an upstream scoring pipeline
    // (q95 feeds perplexityScore straight in) doesn't execute twice
    // (measured 6.5 s → ~4 s at sf0.1)
    val scoredM = Checkpoint.materialize(scored)
    val hist = scoredM.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol)).agg(count(lit(1)).as("__c"))
    // cumulative counts via the two-phase distributed prefix sum
    // ([[Corpus.prefixSum]]) rather than a partitionless Window.orderBy —
    // the histogram is distinct-6dp-value-sized, which at 100 TB can still
    // be tens of millions of rows, and a global-order window would sort
    // them all in ONE task. Histogram-sized; feeds the total AND the label
    // projection, so materialized once.
    val cum = Corpus.prefixSum(hist, scoreCol, "__c", "__cum")
      .transform(Checkpoint.materialize)
    val (n, values) = Corpus.prefixTotal(cum, "__cum")
    if (values == 0L) // no scorable documents: every label is null
      return scoredM.withColumn(bucketCol, lit(null).cast("string"))
    val headN = math.floor(n * headFrac)
    val tailStart = n - math.floor(n * tailFrac)
    val labels = cum.select(col(scoreCol),
      when(col("__cum") <= lit(headN), lit("head"))
        .when(col("__cum") - col("__c") >= lit(tailStart), lit("tail"))
        .otherwise(lit("middle")).as(bucketCol))
    scoredM.join(Broadcast.small(labels, Some(values)), Seq(scoreCol), "left")
  }
}
