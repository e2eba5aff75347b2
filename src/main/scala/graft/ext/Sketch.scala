package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded-state, mergeable, DETERMINISTIC sketches — the audit primitives
  * that survive 100 TB. Exact per-key aggregates (q116's top n-grams, q122's
  * vocabulary report) shuffle one row per distinct key; at corpus scale the
  * distinct-token/n-gram key space is billions of rows and the shuffle IS
  * the job. A sketch caps the state at a constant chosen up front
  * (HyperLogLog: m registers; count-min: d·w cells), is mergeable across
  * shards/epochs by construction (max / sum of cells — associative and
  * commutative), and — unlike library HLL implementations seeded per-run —
  * is built here from the engine's md5 hash arithmetic, so the SAME sketch
  * replays value-for-value in any engine with md5 (the q53/q93 oracle
  * discipline; every register and cell is an exact integer, every estimate a
  * short chain of IEEE ops on exact integers rounded once at 6 dp).
  *
  * (Beyond the reference surface; required by the build brief: "the
  * operations a large-scale training-data pipeline would need".)
  */
object Sketch {

  // ---------------------------------------------------------------------
  // HyperLogLog (Flajolet et al. 2007, AOFA) — distinct counting in m
  // integer registers
  // ---------------------------------------------------------------------

  /** Register index + rank of one item, from ONE md5: hex chars 1-8 are the
    * 32-bit register word, chars 9-16 the 32-bit rank word. The rank (1 +
    * leading zeros of the rank word, 33 when the word is zero) is computed
    * by STRING arithmetic on the hex — position of the first non-zero hex
    * digit (4 leading zero bits per skipped '0') plus the digit's own
    * leading zeros by integer threshold — so no float log is ever taken and
    * any engine's md5 + substring reproduces the registers bit-for-bit. */
  private def regAndRank(item: Column, m: Int, salt: String): (Column, Column) = {
    val h = md5(concat(item.cast("string"), lit(":" + salt)))
    val reg = pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(m.toLong))
    val w = substring(h, 9, 8)
    val z = length(regexp_extract(w, "^0*", 0)) // leading '0' hex digits, 0..8
    val v = conv(substring(w, z + 1, lit(1)), 16, 10).cast("int") // first non-zero digit
    val lz = when(v >= 8, 0).when(v >= 4, 1).when(v >= 2, 2).otherwise(3)
    val rank = when(z === 8, 33).otherwise(z * 4 + lz + 1)
    (reg, rank)
  }

  /** Build the per-group HLL sketch of `itemCol`: (group…, reg, maxr) with
    * at most m rows per group — THE persistable/mergeable artifact (write it
    * per shard/epoch, [[hllMerge]] unions it, [[hllEstimate]] reads it; the
    * registers are exact integers, so a merge of shard sketches equals the
    * sketch of the union EXACTLY, not just approximately).
    *
    * Scale shape: one pass; partial max-per-(group, reg) combines map-side,
    * so the shuffle carries at most groups·m rows per task regardless of
    * item count. */
  def hllSketch(df: DataFrame, groupCols: Seq[String], itemCol: Column,
                m: Int = 256, salt: String = "graft:hll"): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0, s"m must be a power of two >= 16, got $m")
    val (reg, rank) = regAndRank(itemCol, m, salt)
    df.select(groupCols.map(col) :+ reg.as("reg") :+ rank.as("rank"): _*)
      .groupBy(groupCols.map(col) :+ col("reg"): _*)
      .agg(max(col("rank")).as("maxr"))
  }

  /** Merge sketches (same m/salt): max per (group, reg). Associative and
    * commutative — shard/epoch order never matters. */
  def hllMerge(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.groupBy(groupCols.map(col) :+ col("reg"): _*)
      .agg(max(col("maxr")).as("maxr"))

  /** Bias-correction constant α_m (Flajolet et al. 2007 §4), built from the
    * same arithmetic both engines fold identically. */
  private def alpha(m: Int): Column = m match {
    case 16 => lit(0.673)
    case 32 => lit(0.697)
    case 64 => lit(0.709)
    case _  => lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
  }

  /** Estimate distinct counts from a sketch: per group, the harmonic mean of
    * 2^(−maxr) over all m registers (absent registers contribute 2^0 = 1)
    * with the standard small-range (linear counting) and large-range (32-bit
    * hash saturation) corrections, plus the regime that fired.
    *
    * Float reproducibility: each 2^(−maxr) term is an exact dyadic rational
    * (1 / integer shift — no `pow`), and for m ≤ 2^20 the whole harmonic sum
    * fits the 53-bit mantissa EXACTLY (terms span 2^0..2^−33), so `s` is
    * order-independent and bit-identical in any IEEE engine; the estimate is
    * then a handful of identical IEEE ops (one `ln` in the correction
    * regimes, covered by the 6 dp round — the q90 discipline). */
  def hllEstimate(sketch: DataFrame, groupCols: Seq[String], m: Int): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0 && m <= (1 << 20),
      s"m must be a power of two in [16, 2^20], got $m")
    val term = lit(1.0) / expr("shiftleft(1L, maxr)").cast("double")
    val grouped = sketch
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("filled"), sum(term).as("__hs"))
    val s = col("__hs") + (lit(m.toLong) - col("filled")).cast("double")
    val eRaw = alpha(m) * lit(m.toDouble) * lit(m.toDouble) / s
    val zeros = lit(m.toLong) - col("filled")
    val two32 = lit(4294967296.0)
    val regime = when(eRaw <= lit(2.5 * m) && zeros > 0, "linear")
      .when(eRaw > two32 / lit(30.0), "large")
      .otherwise("raw")
    val est = when(regime === "linear",
        lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .when(regime === "large", -two32 * log(lit(1.0) - eRaw / two32))
      .otherwise(eRaw)
    grouped.select(groupCols.map(col) :+ col("filled") :+
      round(est, 6).as("est_distinct") :+ regime.as("regime"): _*)
  }

  /** Exploded (register, rank) rows of `textCol`'s tokens with every other
    * input column carried through — the pre-aggregation projection shared
    * by [[approxDistinctTokens]] and the STREAMING cardinality monitor
    * ([[graft.streaming.Streaming.vocabCardinality]]), where the register
    * max must fold inside the engine's own (windowed, stateful) aggregate.
    * Stateless and generator-safe: the token array is pinned into its own
    * projection before the explode. */
  def explodedTokenRegisters(df: DataFrame, textCol: String, m: Int = 256,
                             salt: String = "graft:hll"): DataFrame = {
    val t = df.withColumn("__toks",
      TextStats.pinnedCol(TextStats.tokens(coalesce(col(textCol), lit("")))))
    val e = t.select(t.columns.filterNot(_ == "__toks").map(col) :+
      explode(col("__toks")).as("__tok"): _*)
    val (reg, rank) = regAndRank(col("__tok"), m, salt)
    e.withColumn("reg", reg).withColumn("rank", rank).drop("__tok")
  }

  /** Per-group approximate distinct TOKENS — q122's `types` column without
    * its distinct-key shuffle: sketch + estimate in one call. Standard
    * error ≈ 1.04/√m (6.5% at the default m = 256). */
  def approxDistinctTokens(df: DataFrame, textCol: String, groupCol: String,
                           m: Int = 256, salt: String = "graft:hll"): DataFrame = {
    val toks = df.select(col(groupCol),
        TextStats.pinnedCol(TextStats.tokens(coalesce(col(textCol), lit("")))).as("__t"))
      .select(col(groupCol), explode(col("__t")).as("tok"))
    hllEstimate(hllSketch(toks, Seq(groupCol), col("tok"), m, salt),
      Seq(groupCol), m)
  }

  /** Pairwise SOURCE-OVERLAP estimates by HLL inclusion-exclusion —
    * q127's exact inter-source vocabulary overlap with m-bounded state per
    * source: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union estimate
    * reads the register-wise max of the two sketches (exact sketch
    * algebra, not an approximation of the merge). One token pass builds
    * all per-group sketches; pair work is (groups² · m)-sized register
    * joins — never a corpus join. Estimates are [[hllEstimate]]'s
    * deterministic 6-dp values; the inclusion-exclusion arithmetic runs on
    * those rounded doubles, so the report replays value-for-value.
    * Output: (src_a, src_b, est_a, est_b, est_union, est_inter,
    * containment = inter/min(a,b)) for src_a < src_b. Negative est_inter
    * is reported raw (small-overlap noise floor — the standard HLL
    * inclusion-exclusion caveat, documented not clamped). */
  def hllPairwiseOverlap(df: DataFrame, textCol: String, groupCol: String,
                         m: Int = 256, salt: String = "graft:hll"): DataFrame = {
    val toks = df.select(col(groupCol).as("g"),
        TextStats.pinnedCol(TextStats.tokens(coalesce(col(textCol), lit("")))).as("__t"))
      .select(col("g"), explode(col("__t")).as("tok"))
    // groups·m rows; feeds per-group estimates AND every pair join
    val sk = hllSketch(toks, Seq("g"), col("tok"), m, salt).transform(Checkpoint.materialize)
    val est = hllEstimate(sk, Seq("g"), m)
      .select(col("g"), col("est_distinct"))
    val pairs = est.select(col("g").as("src_a")).distinct()
      .crossJoin(est.select(col("g").as("src_b")).distinct())
      .filter(col("src_a") < col("src_b"))
    // BOTH sides pair-scoped before the register union: a bare full-outer
    // against the per-group sketch would let one pair absorb another
    // pair's unmatched registers
    val left = pairs.join(sk.select(col("g").as("src_a"), col("reg"),
      col("maxr").as("__ra")), Seq("src_a"))
    val right = pairs.join(sk.select(col("g").as("src_b"), col("reg"),
      col("maxr").as("__rb")), Seq("src_b"))
    val merged = left.join(right, Seq("src_a", "src_b", "reg"), "full_outer")
      .select(col("src_a"), col("src_b"), col("reg"),
        greatest(coalesce(col("__ra"), lit(0)), coalesce(col("__rb"), lit(0)))
          .as("maxr"))
    val estU = hllEstimate(merged, Seq("src_a", "src_b"), m)
      .select(col("src_a"), col("src_b"), col("est_distinct").as("est_union"))
    estU
      .join(est.select(col("g").as("src_a"), col("est_distinct").as("est_a")),
        Seq("src_a"))
      .join(est.select(col("g").as("src_b"), col("est_distinct").as("est_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 6).as("est_inter"))
      .withColumn("containment",
        round(col("est_inter") / least(col("est_a"), col("est_b")), 6))
  }

  // ---------------------------------------------------------------------
  // Count-min sketch (Cormode & Muthukrishnan 2005, J. Algorithms) —
  // frequency estimation in d·w integer cells
  // ---------------------------------------------------------------------

  /** Build the d×w count-min sketch of `itemCol`: (row, cell, c) with at
    * most d·w rows total. Each item increments one cell per hash row
    * (md5 salted `salt:row`); estimates read the MIN over rows, an upper
    * bound on the true count that is exact for keys with no cell collision.
    * Mergeable: cell-wise SUM across shard sketches equals the sketch of
    * the union exactly. Scale shape: one pass, d cells per item pre-combine,
    * partial sums cap the shuffle at d·w rows per task. */
  def cmsSketch(df: DataFrame, itemCol: Column, d: Int = 4, w: Int = 1024,
                salt: String = "graft:cms"): DataFrame = {
    require(d >= 1 && d <= 16, s"d must be in [1,16], got $d")
    require(w >= 16, s"w must be >= 16, got $w")
    cmsSketchOf(df, itemCol, d, w, salt)
  }

  /** Merge count-min sketches (same d/w/salt): cell-wise sum. */
  def cmsMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("row"), col("cell")).agg(sum(col("c")).as("c"))

  /** Point-estimate counts for a candidate column: min over the d rows of
    * the candidate's cell — the sketch (d·w rows, bounded) is broadcast, so
    * the lookup is candidate-sized work with no shuffle of the corpus. */
  def cmsEstimate(candidates: DataFrame, itemCol: String, sketch: DataFrame,
                  d: Int = 4, w: Int = 1024,
                  salt: String = "graft:cms"): DataFrame = {
    val expanded = candidates
      .select(col(itemCol),
        posexplode(cmsCells(col(itemCol), d, w, salt)).as(Seq("row", "cell")))
    expanded.join(sketch, Seq("row", "cell"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
  }

  /** The d cells of one item (row r uses salt `salt:r`). */
  private def cmsCells(item: Column, d: Int, w: Int, salt: String): Column =
    transform(sequence(lit(0), lit(d - 1)),
      r => pmod(conv(substring(md5(concat(item.cast("string"),
        lit(":" + salt + ":"), r.cast("string"))), 1, 8), 16, 10)
        .cast("long"), lit(w.toLong)).cast("int"))

  /** Exploded (row, cell) rows of `textCol`'s tokens with every other input
    * column carried through — [[cmsSketch]]'s pre-aggregation projection,
    * shared with the STREAMING frequency monitor
    * ([[graft.streaming.Streaming.tokenFrequency]]), where the cell count
    * folds inside the engine's windowed stateful aggregate. */
  def explodedTokenCells(df: DataFrame, textCol: String, d: Int = 4,
                         w: Int = 1024, salt: String = "graft:cms"): DataFrame = {
    val t = df.withColumn("__toks",
      TextStats.pinnedCol(TextStats.tokens(coalesce(col(textCol), lit("")))))
    val e = t.select(t.columns.filterNot(_ == "__toks").map(col) :+
      explode(col("__toks")).as("__tok"): _*)
    e.withColumn("__cs", TextStats.pinnedCol(cmsCells(col("__tok"), d, w, salt)))
      .select(e.columns.filterNot(_ == "__tok").map(col) :+
        posexplode(col("__cs")).as(Seq("row", "cell")): _*)
  }

  /** Heavy-hitter TOKENS by the standard two-pass sketch recipe — q116's
    * answer with bounded state instead of a distinct-key shuffle:
    *   1. one corpus pass builds the d×w count-min sketch (bounded);
    *   2. candidates = distinct tokens of a deterministic `sampleFrac`
    *      document sample ([[Corpus.hashBucket]] threshold — any token with
    *      corpus share ≥ ε appears in the sample w.h.p.);
    *   3. candidates are ranked by their sketch estimate (broadcast lookup)
    *      and the top `k` kept;
    *   4. one skinny second pass verifies the winners EXACTLY (semi-join of
    *      corpus tokens against k broadcast candidates → true counts).
    * Output: (rank, tok, est_count, exact_count), est ≥ exact always (CMS
    * one-sided error); rank by (est desc, tok) — fully deterministic. */
  def cmsHeavyHitters(df: DataFrame, textCol: String, k: Int = 20,
                      d: Int = 4, w: Int = 1024, sampleFrac: Double = 0.2,
                      buckets: Int = 10000, idCol: String = "doc_id",
                      salt: String = "graft:cms"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(sampleFrac > 0.0 && sampleFrac <= 1.0,
      s"sampleFrac must be in (0,1], got $sampleFrac")
    val toks = df.select(col(idCol),
        TextStats.pinnedCol(TextStats.tokens(coalesce(col(textCol), lit("")))).as("__t"))
      .select(col(idCol), explode(col("__t")).as("tok"))
    val sketch = cmsSketchOf(toks, col("tok"), d, w, salt)
    val cut = math.round(sampleFrac * buckets)
    val candidates = toks
      .filter(Corpus.hashBucket(col(idCol), buckets, salt + ":sample") < cut)
      .select(col("tok")).distinct()
    val topK = cmsEstimate(candidates, "tok", sketch, d, w, salt)
      .orderBy(col("est_count").desc, col("tok"))
      .limit(k)
    // k rows, but the lineage embeds the sketch + candidate passes and
    // feeds TWO consumers (the exact semi-join and the final join) —
    // materialize so the corpus pipeline runs once
    val winners = topK.select(col("tok"), col("est_count")).transform(Checkpoint.materialize)
    val exact = toks.join(winners.select(col("tok")), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("exact_count"))
    winners.join(exact, Seq("tok"), "left")
      .select(col("tok"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("est_count").desc, col("tok"))))
      .select(col("rank"), col("tok"), col("est_count"), col("exact_count"))
  }

  // ---------------------------------------------------------------------
  // Log-linear histogram sketch (the HdrHistogram bucket design, Gil Tene,
  // github.com/HdrHistogram — public; same posture as DDSketch, Masson et
  // al. 2019 VLDB) — quantiles of a non-negative integer metric in
  // bounded-relative-error buckets
  // ---------------------------------------------------------------------

  /** Bucket of one non-negative long `v` at `subBits` sub-buckets per
    * octave: values below 2^(subBits+1) get unit-width buckets (exact);
    * above, the bucket holding v ∈ [2^e, 2^(e+1)) has width 2^(e−subBits),
    * so the relative error of any in-bucket representative is ≤ 2^−subBits.
    * All INTEGER arithmetic — floor(log2 v) is the binary digit count − 1
    * (string length of `conv(v, 10, 2)`, no float log), the bucket floor a
    * shift-down/shift-up — so any engine with integer shifts reproduces
    * the bucket ids bit-for-bit (the q142 register discipline applied to
    * histograms). Negative inputs clamp to 0 (callers feed counts/lengths;
    * the clamp is documented, not silent: a negative metric is a caller
    * bug, not a value this sketch can represent). Appends `lo` (bucket
    * floor) and `w` (bucket width; hi = lo + w − 1); all other columns are
    * carried through — the pre-aggregation projection shared with the
    * STREAMING quantile monitor
    * ([[graft.streaming.Streaming.lengthQuantiles]]). */
  def logHistBuckets(df: DataFrame, valueCol: Column,
                     subBits: Int = 5): DataFrame = {
    require(subBits >= 0 && subBits <= 16,
      s"subBits must be in [0,16], got $subBits")
    df.withColumn("__v", greatest(valueCol.cast("long"), lit(0L)))
      .withColumn("__sh",
        greatest(length(conv(col("__v"), 10, 2)) - lit(1 + subBits), lit(0)))
      .withColumn("lo", expr("shiftleft(shiftright(__v, __sh), __sh)"))
      .withColumn("w", expr("shiftleft(1L, __sh)"))
      .drop("__v", "__sh")
  }

  /** Build the per-group log-histogram sketch of `valueCol`: (group…, lo,
    * w, c) with at most ~(64 − subBits)·2^subBits rows per group however
    * many values flow — bounded state, map-side-combined shuffle (the
    * HLL/CMS scale shape for quantiles). The counts are exact integers, so
    * a merge of shard sketches equals the sketch of the union EXACTLY. */
  def logHistSketch(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                    subBits: Int = 5): DataFrame =
    logHistBuckets(
        df.select(groupCols.map(col) :+ valueCol.cast("long").as("__m"): _*),
        col("__m"), subBits)
      .groupBy(groupCols.map(col) :+ col("lo") :+ col("w"): _*)
      .agg(count(lit(1)).as("c"))

  /** Merge log-histogram sketches (same subBits): count sum per bucket.
    * Associative and commutative — shard/epoch order never matters. */
  def logHistMerge(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.groupBy(groupCols.map(col) :+ col("lo") :+ col("w"): _*)
      .agg(sum(col("c")).as("c"))

  /** Quantile estimates from a log-histogram sketch: for each group and
    * each q in `qs`, the bucket holding the ceil(q·n)-th smallest value —
    * (group…, q, n, est_lo, est_hi, est_mid), where est_mid = (lo + hi)/2
    * (an exact dyadic half, bit-identical in any IEEE engine) and the true
    * quantile lies in [est_lo, est_hi] with relative width ≤ 2^−subBits.
    *
    * Scale shape: the cumulative window is PARTITIONED by group (bounded
    * rows per group by construction), never a global sort; the q list is a
    * broadcast literal. `groupCols` must be non-empty — for corpus-global
    * quantiles pass a constant group so the window stays partitioned. */
  def logHistQuantiles(sketch: DataFrame, groupCols: Seq[String],
                       qs: Seq[Double]): DataFrame = {
    require(groupCols.nonEmpty,
      "logHistQuantiles needs >= 1 group column (use a constant group for " +
        "global quantiles — keeps the cumulative window partitioned)")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0,1], got $qs")
    val spark = sketch.sparkSession
    import spark.implicits._
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val cum = sketch
      .withColumn("__cum", sum(col("c")).over(wg.orderBy(col("lo"))))
      .withColumn("__n", sum(col("c")).over(wg))
    // ceil(q·n) runs on IEEE doubles in both engines (the q95 lesson: the
    // oracle CASTs its q literal to DOUBLE); exactly one bucket satisfies
    // cum >= target > cum − c
    cum.crossJoin(qs.toDF("q"))
      .withColumn("__t", greatest(lit(1L),
        ceil(col("q") * col("__n").cast("double")).cast("long")))
      .filter(col("__cum") >= col("__t") &&
        col("__cum") - col("c") < col("__t"))
      .select(groupCols.map(col) :+ col("q") :+ col("__n").as("n") :+
        col("lo").as("est_lo") :+ (col("lo") + col("w") - 1).as("est_hi") :+
        ((col("lo") + col("lo") + col("w") - 1).cast("double") / lit(2.0))
          .as("est_mid"): _*)
  }

  /** Length-outlier TRIM terminal — the standard cleaning stage (drop the
    * truncated stubs and the run-on monsters) with per-group cutoffs
    * learned from the data instead of hand-picked constants: keep
    * documents whose token count lies in [est_lo(loQ), est_hi(hiQ)] of
    * their OWN group's length distribution. Cutoffs come from the bounded
    * log-histogram sketch (outer bucket edges, so the kept mass is ≥ the
    * nominal hiQ − loQ — trimming never overshoots by more than one
    * 2^−subBits bucket per side). Appends `n_tokens`, `lo_cut`, `hi_cut`.
    *
    * Scale shape: two linear passes — one (group, count) bucket aggregate
    * (bounded state) to learn the cutoffs, one filter pass with the
    * groups-sized cutoff table broadcast. A single-pass exact version
    * would need a global per-group sort; this is the sketch trade. */
  def trimByLengthQuantiles(df: DataFrame, textCol: String, groupCol: String,
                            loQ: Double = 0.01, hiQ: Double = 0.99,
                            subBits: Int = 5): DataFrame = {
    require(loQ > 0.0 && hiQ <= 1.0 && loQ < hiQ,
      s"need 0 < loQ < hiQ <= 1, got loQ=$loQ hiQ=$hiQ")
    val v = size(TextStats.tokens(coalesce(col(textCol), lit("")))).cast("long")
    val qs = logHistQuantiles(
      logHistSketch(df, Seq(groupCol), v, subBits), Seq(groupCol),
      Seq(loQ, hiQ))
    val cuts = qs.groupBy(col(groupCol)).agg(
      min(when(col("q") === lit(loQ), col("est_lo"))).as("lo_cut"),
      min(when(col("q") === lit(hiQ), col("est_hi"))).as("hi_cut"))
    df.withColumn("n_tokens", v)
      .join(Broadcast.small(cuts), Seq(groupCol))
      .filter(col("n_tokens") >= col("lo_cut") &&
        col("n_tokens") <= col("hi_cut"))
  }

  // ---------------------------------------------------------------------
  // Bottom-k (KMV) resemblance sketch (Broder 1997, SEQUENCES; Beyer et
  // al. 2007, SIGMOD; Cohen & Kaplan 2007) — the k smallest distinct item
  // hashes per group; Jaccard resemblance between groups from sketches
  // alone
  // ---------------------------------------------------------------------

  /** Build the per-group bottom-k sketch of `itemCol`: the k
    * lexicographically smallest DISTINCT md5 values of the group's items —
    * (group…, hv, rk). Because every group hashes items with the SAME
    * salt, the k smallest of a UNION of sketches is the union's true
    * bottom-k, so sketches compose: [[bottomKMerge]] is exact sketch
    * algebra and [[bottomKResemblance]] estimates Jaccard from sketches
    * alone.
    *
    * Scale shape — a naive "distinct then rank" would shuffle one row per
    * distinct item per group (the distinct-key shuffle sketches exist to
    * avoid) and rank it in one window partition per group. Instead, a
    * bounded HLL pass (m = 256) estimates each group's distinct count D̂
    * and sets a per-group hash threshold admitting ≈ 4k/0.8 ≈ 5k expected
    * distinct survivors (f = min(1, 4k / max(0.8·D̂, 1)) of hash space);
    * only survivors are distinct-shuffled and ranked, so per-group window
    * work is O(k), not O(D). Miss bound: survivors ~ Binomial(D, f); with
    * D̂ within the HLL ±3σ ≈ ±20% envelope at m = 256 the mean is ≥ 4k,
    * and P[fewer than k survive] ≤ exp(−k·(3/4)²/2) < 10⁻²⁰ at the default
    * k = 256 (Chernoff) — and a shortfall is DETECTABLE, not silent: the
    * group yields < k rows while est ≥ k. The threshold arithmetic is a
    * short chain of identical IEEE ops on the 6-dp-rounded estimate, so
    * any engine replays the same integer cut (the q142 discipline). */
  def bottomKSketch(df: DataFrame, groupCols: Seq[String], itemCol: Column,
                    k: Int = 256, salt: String = "graft:bk"): DataFrame = {
    require(k >= 16, s"k must be >= 16 for the estimator to be usable, got $k")
    require(groupCols.nonEmpty, "bottomKSketch needs >= 1 group column")
    val est = hllEstimate(
      hllSketch(df, groupCols, itemCol, 256, salt + ":guard"), groupCols, 256)
    val thr = est.select(groupCols.map(col) :+
      ceil(least(lit(1.0),
          lit(4.0 * k) / greatest(col("est_distinct") * lit(0.8), lit(1.0)))
        * lit(4294967296.0)).cast("long").as("__t"): _*)
    val hv = md5(concat(itemCol.cast("string"), lit(":" + salt)))
    val surv = df.select(groupCols.map(col) :+ hv.as("hv"): _*)
      .join(thr, groupCols)
      .filter(conv(substring(col("hv"), 1, 8), 16, 10).cast("long") < col("__t"))
      .select(groupCols.map(col) :+ col("hv"): _*)
      .distinct()
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("hv"))
    surv.withColumn("rk", row_number().over(wk)).filter(col("rk") <= k)
  }

  /** Merge bottom-k sketches (same k/salt): distinct union, re-rank, keep
    * k — EXACTLY the bottom-k of the union (each of the union's k smallest
    * hashes is necessarily in its own group's k smallest). */
  def bottomKMerge(sketches: DataFrame, groupCols: Seq[String],
                   k: Int): DataFrame = {
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("hv"))
    sketches.select(groupCols.map(col) :+ col("hv"): _*).distinct()
      .withColumn("rk", row_number().over(wk)).filter(col("rk") <= k)
  }

  /** Pairwise Jaccard resemblance between groups from their bottom-k
    * sketches alone (Broder's estimator): for each pair, S = the k
    * smallest distinct hashes of the sketch union (= the union's true
    * bottom-k), Ĵ = |S ∩ A_k ∩ B_k| / |S|. Output (src_a, src_b, union_k,
    * shared, est_jaccard) for src_a < src_b; est rounded to 6 dp. Pair
    * work is k-bounded joins over the sketches (never a corpus join), the
    * ranking window is partitioned per pair over ≤ 2k rows. */
  def bottomKResemblance(sk: DataFrame, groupCol: String, k: Int): DataFrame = {
    val gs = sk.select(col(groupCol).as("g")).distinct()
    val pairs = gs.select(col("g").as("src_a"))
      .crossJoin(gs.select(col("g").as("src_b")))
      .filter(col("src_a") < col("src_b"))
    // BOTH sides pair-scoped before the union rank (the q147 discipline)
    val a = pairs.join(
      sk.select(col(groupCol).as("src_a"), col("hv"), lit(1L).as("__ina")),
      Seq("src_a"))
    val b = pairs.join(
      sk.select(col(groupCol).as("src_b"), col("hv"), lit(1L).as("__inb")),
      Seq("src_b"))
    val u = a.join(b, Seq("src_a", "src_b", "hv"), "full_outer")
      .select(col("src_a"), col("src_b"), col("hv"),
        coalesce(col("__ina"), lit(0L)).as("ina"),
        coalesce(col("__inb"), lit(0L)).as("inb"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_a"), col("src_b")).orderBy(col("hv"))
    u.withColumn("__rk", row_number().over(wp)).filter(col("__rk") <= k)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("union_k"),
        sum(col("ina") * col("inb")).as("shared"))
      .withColumn("est_jaccard",
        round(col("shared").cast("double") / col("union_k").cast("double"), 6))
  }

  /** Pairwise SOURCE token-set resemblance — q147's overlap audit restated
    * as Jaccard from k-bounded sketches: one token pass builds every
    * per-source bottom-k, pair work is sketch-sized. Complements the HLL
    * inclusion-exclusion (which estimates |A∩B|) with the resemblance
    * ratio LSH-style dedup scoping actually thresholds on. */
  def tokenResemblance(df: DataFrame, textCol: String, groupCol: String,
                       k: Int = 256, salt: String = "graft:bk"): DataFrame = {
    val toks = df.select(col(groupCol),
        TextStats.pinnedCol(TextStats.tokens(coalesce(col(textCol), lit(""))))
          .as("__t"))
      .select(col(groupCol), explode(col("__t")).as("tok"))
    // OPT r19: the bottom-k sketch is k·|sources| rows, but un-materialized
    // it is recomputed by every one of [[bottomKResemblance]]'s three
    // consumers (group list + both pair-scoped sides) — and EACH recompute
    // re-runs both corpus tokenize passes (HLL guard + survivor rank). The
    // q150 plan audit showed 12 parquet scans; checkpointing the tiny
    // sketch cuts the corpus passes from 6 to 2.
    bottomKResemblance(
      Checkpoint.materialize(
        bottomKSketch(toks, Seq(groupCol), col("tok"), k, salt)),
      groupCol, k)
  }

  // ---------------------------------------------------------------------
  // Persisted sketch store — the shard/epoch lifecycle
  // ---------------------------------------------------------------------

  /** Persist a sketch under a catalog name with its parameters frozen in a
    * `<name>_meta` table (kind = "hll" | "cms" | "loghist" | "bottomk";
    * m/salt, d/w/salt, subBits, or k/salt respectively) — the
    * q63/q137 index posture applied to sketches: parameters are part of
    * the artifact, so a reader can never probe a sketch with the wrong
    * hash setup. The sketch tables are tiny (groups·m or d·w rows);
    * `append` [[hllMerge]]s/[[cmsMerge]]s new shard sketches INTO the
    * store — exact by sketch algebra, so "build from everything" and
    * "append shard by shard" are indistinguishable. */
  def writeSketchStore(sketch: DataFrame, name: String, kind: String,
                       params: Map[String, String],
                       groupCols: Seq[String] = Nil): Unit = {
    require(Set("hll", "cms", "loghist", "bottomk")(kind),
      s"kind must be hll|cms|loghist|bottomk, got $kind")
    require(groupCols.forall(c => !c.contains(",")),
      s"group column names may not contain ',': $groupCols")
    require(!params.contains("kind") && !params.contains("groupCols"),
      "'kind' and 'groupCols' are reserved meta keys")
    val spark = sketch.sparkSession
    import spark.implicits._
    graft.sources.IO.dropOrphanedLocation(spark, s"${name}_meta")
    graft.sources.IO.dropOrphanedLocation(spark, s"${name}_sketch")
    (Seq("kind" -> kind, "groupCols" -> groupCols.mkString(",")) ++
        params.toSeq.sortBy(_._1)).toDF("key", "value")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_meta")
    // OPT r19: sketch tables are model-sized by construction (groups·m or
    // d·w rows) but inherited the session's shuffle partitioning — each
    // write committed ~32 near-empty files (guide §6 small-files). One
    // file per store; repartition (not coalesce) so the upstream sketch
    // aggregate keeps its parallelism.
    sketch.repartition(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_sketch")
  }

  /** Read back (kind, params, sketch rows). */
  def readSketchStore(spark: org.apache.spark.sql.SparkSession,
                      name: String): (String, Map[String, String], DataFrame) = {
    val meta = spark.table(s"${name}_meta").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (meta("kind"), meta - "kind", spark.table(s"${name}_sketch"))
  }

  /** Fold a new shard's sketch into the store (register max / cell sum per
    * the stored kind). The merged result replaces the sketch table; meta
    * is untouched (parameters are frozen at build). Exactness: the merge
    * IS the sketch of the union, so repeated appends never drift.
    *
    * `shardParams` are the parameters the SHARD sketch was built with
    * (same map shape as [[writeSketchStore]]'s `params` — m/salt for HLL,
    * d/w/salt for CMS); they must equal the frozen store meta exactly, or
    * the merge would silently mix incompatible register/cell spaces. HLL
    * group columns come from the store meta, never the caller — a grouped
    * store can't be collapsed by an append that forgot them.
    *
    * Crash posture: the merged table is written under `<name>_sketch_tmp`
    * first and then swapped in (drop + rename). The swap itself is not
    * atomic — a failure between the drop and the rename leaves the store
    * without `<name>_sketch`, but the FULL merged result survives in
    * `<name>_sketch_tmp`; recovery is one `ALTER TABLE … RENAME`, never a
    * rebuild (mirrors `buildIvfPqIndex`'s documented non-atomicity). */
  def appendToSketchStore(shard: DataFrame, name: String,
                          shardParams: Map[String, String]): Unit = {
    val spark = shard.sparkSession
    val (kind, stored, existing) = readSketchStore(spark, name)
    val frozen = stored - "groupCols"
    require(shardParams == frozen,
      s"shard sketch params $shardParams != frozen store meta $frozen for " +
        s"'$name' — a sketch built with a different hash setup cannot be merged")
    val groupCols = stored.get("groupCols").filter(_.nonEmpty)
      .map(_.split(",").toSeq).getOrElse(Seq.empty[String])
    val merged = kind match {
      case "hll"     => hllMerge(existing.unionByName(shard), groupCols)
      case "loghist" => logHistMerge(existing.unionByName(shard), groupCols)
      case "bottomk" => bottomKMerge(existing.unionByName(shard), groupCols,
        stored("k").toInt)
      case _         => cmsMerge(existing.unionByName(shard))
    }
    // materialize BEFORE touching the catalog: the merged plan reads the
    // table it is about to replace
    val out = Checkpoint.materialize(merged)
    graft.sources.IO.dropOrphanedLocation(spark, s"${name}_sketch_tmp")
    out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_sketch_tmp")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_sketch")
    spark.sql(s"ALTER TABLE ${name}_sketch_tmp RENAME TO ${name}_sketch")
  }

  /** Source-ONBOARDING audit — "what is this new feed, relative to every
    * source we already hold?" answered from the persisted sketch stores
    * plus ONE pass over the incoming batch; the existing corpus is never
    * rescanned (the serving posture the store exists for: per-source HLL /
    * bottom-k / log-histogram sketches are built or appended as shards
    * land, and priced here). For each stored source:
    *   - `est_vocab_src`, `est_vocab_new`, `est_inter` — HLL vocabulary
    *     sizes and the inclusion-exclusion intersection against the
    *     incoming batch (q147's pair algebra with the store as one side);
    *   - `est_jaccard` — bottom-k resemblance (q150's estimator);
    *   - `p50_src`/`p90_src`/`p50_new`/`p90_new` — token-count quantile
    *     midpoints then vs now (q149's buckets).
    * All three probes are sketch-sized joins; the incoming side costs one
    * tokenize pass + bounded aggregates. Store parameters come from the
    * frozen meta — a probe can never use the wrong hash setup. */
  def onboardingReport(spark: org.apache.spark.sql.SparkSession,
                       hllStore: String, bkStore: String, lhStore: String,
                       incoming: DataFrame, textCol: String): DataFrame = {
    val (_, hp, hllSk) = readSketchStore(spark, hllStore)
    val (_, bp, bkSk) = readSketchStore(spark, bkStore)
    val (_, lp, lhSk) = readSketchStore(spark, lhStore)
    val m = hp("m").toInt
    val k = bp("k").toInt
    val subBits = lp("subBits").toInt
    val srcCol = hp("groupCols") // single group column on all three stores
    require(srcCol.nonEmpty && srcCol == bp("groupCols") &&
      srcCol == lp("groupCols"),
      s"stores must share one group column, got '$srcCol'/" +
        s"'${bp("groupCols")}'/'${lp("groupCols")}'")

    val toks = incoming.select(
        TextStats.pinnedCol(TextStats.tokens(coalesce(col(textCol), lit(""))))
          .as("__t"))
      .select(explode(col("__t")).as("tok"))
      .transform(Checkpoint.materialize) // feeds the HLL, guard and bottom-k passes

    // ---- HLL vocabulary: store registers vs one incoming sketch --------
    val newHll = hllSketch(toks.withColumn("__g", lit("new")), Seq("__g"),
      col("tok"), m, hp("salt")).drop("__g").transform(Checkpoint.materialize)
    val estSrc = hllEstimate(hllSk, Seq(srcCol), m)
      .select(col(srcCol), col("est_distinct").as("est_vocab_src"))
      .transform(Checkpoint.materialize) // sources-sized; feeds scoping joins below
    val estNew = hllEstimate(newHll.withColumn("__g", lit("new")), Seq("__g"), m)
      .select(col("est_distinct").as("est_vocab_new"))
    val srcs = estSrc.select(col(srcCol))
    val uni = srcs
      .crossJoin(Broadcast.small(newHll.select(col("reg"), col("maxr").as("__mn"))))
      .join(hllSk.withColumnRenamed("maxr", "__ms"), Seq(srcCol, "reg"),
        "full_outer")
      .select(col(srcCol), col("reg"),
        greatest(coalesce(col("__ms"), lit(0)), coalesce(col("__mn"), lit(0)))
          .as("maxr"))
    val estUni = hllEstimate(uni, Seq(srcCol), m)
      .select(col(srcCol), col("est_distinct").as("__eu"))
    val vocab = estSrc.join(estUni, Seq(srcCol))
      .crossJoin(Broadcast.small(estNew))
      .select(col(srcCol), col("est_vocab_src"), col("est_vocab_new"),
        round(col("est_vocab_src") + col("est_vocab_new") - col("__eu"), 6)
          .as("est_inter"))

    // ---- bottom-k resemblance: store sketches vs one incoming sketch ---
    // single-group bottom-k: a constant-group rank window would fold to a
    // partitionless WindowExec, so the incoming sketch uses the guarded
    // threshold + distributed orderBy/limit (TakeOrdered) instead — same
    // result as bottomKSketch, no global window. The guard estimate and
    // threshold are ONE collected row (bounded driver state), the same
    // IEEE chain as bottomKSketch's column arithmetic.
    val gEst = hllEstimate(
        hllSketch(toks.withColumn("__g", lit("new")), Seq("__g"), col("tok"),
          256, bp("salt") + ":guard"), Seq("__g"), 256)
      .select(col("est_distinct")).head().getDouble(0)
    val thr = math.ceil(math.min(1.0,
      4.0 * k / math.max(gEst * 0.8, 1.0)) * 4294967296.0).toLong
    val newBk = toks
      .select(md5(concat(col("tok"), lit(":" + bp("salt")))).as("hv"))
      .filter(conv(substring(col("hv"), 1, 8), 16, 10).cast("long") < thr)
      .distinct().orderBy(col("hv")).limit(k)
      .transform(Checkpoint.materialize)
    val pairU = srcs
      .crossJoin(Broadcast.small(newBk.select(col("hv"), lit(1L).as("__inb"))))
      .join(bkSk.select(col(srcCol), col("hv"), lit(1L).as("__ina")),
        Seq(srcCol, "hv"), "full_outer")
      .select(col(srcCol), col("hv"),
        coalesce(col("__ina"), lit(0L)).as("ina"),
        coalesce(col("__inb"), lit(0L)).as("inb"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol)).orderBy(col("hv"))
    val jac = pairU.withColumn("__rk", row_number().over(wp))
      .filter(col("__rk") <= k)
      .groupBy(col(srcCol))
      .agg(round(sum(col("ina") * col("inb")).cast("double") /
        count(lit(1)).cast("double"), 6).as("est_jaccard"))

    // ---- token-count quantiles: store buckets vs one incoming sketch ---
    val qSrc = logHistQuantiles(lhSk, Seq(srcCol), Seq(0.5, 0.9))
      .groupBy(col(srcCol))
      .agg(min(when(col("q") === lit(0.5), col("est_mid"))).as("p50_src"),
        min(when(col("q") === lit(0.9), col("est_mid"))).as("p90_src"))
    // single-group quantiles: the incoming bucket table is bounded BY
    // CONSTRUCTION (≤ ~(64−subBits)·2^subBits rows), so the cumulative
    // pick runs driver-side on the collected buckets — no constant-group
    // window (which would fold partitionless); same arithmetic as
    // logHistQuantiles, so the oracle's SQL replay is unchanged
    val newBuckets = logHistSketch(
        incoming.withColumn("__g", lit("new")), Seq("__g"),
        size(TextStats.tokens(coalesce(col(textCol), lit("")))), subBits)
      .collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("w"), r.getAs[Long]("c")))
      .sortBy(_._1)
    require(newBuckets.nonEmpty, "onboardingReport: incoming batch is empty")
    val nNew = newBuckets.map(_._3).sum
    def midAt(q: Double): Double = {
      val t = math.max(1L, math.ceil(q * nNew.toDouble).toLong)
      var cum = 0L
      val b = newBuckets.find { case (_, _, c) => cum += c; cum >= t }.get
      (b._1 + b._1 + b._2 - 1).toDouble / 2.0
    }

    vocab.join(jac, Seq(srcCol))
      .join(qSrc, Seq(srcCol))
      .withColumn("p50_new", lit(midAt(0.5)))
      .withColumn("p90_new", lit(midAt(0.9)))
  }

  /** [[cmsSketch]] over an already-exploded item frame (shared tokenization
    * with the candidate/verify passes). */
  def cmsSketchOf(items: DataFrame, itemCol: Column, d: Int, w: Int,
                  salt: String): DataFrame =
    items.select(itemCol.cast("string").as("__i"))
      .select(TextStats.pinnedCol(cmsCells(col("__i"), d, w, salt)).as("__cs"))
      .select(posexplode(col("__cs")).as(Seq("row", "cell")))
      .groupBy(col("row"), col("cell"))
      .agg(count(lit(1)).as("c"))
}
