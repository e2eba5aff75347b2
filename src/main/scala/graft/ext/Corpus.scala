package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level curation operators for training-data pipelines: benchmark
  * contamination checking, deterministic hash-based splits/sampling, and
  * source-level quality gating. (Beyond the reference surface; required by
  * the build brief.)
  *
  * Scale design: splits and samples are pure per-row projections (zero
  * shuffle — the assignment is a hash of the row's own key, so it needs no
  * coordination and is stable under re-partitioning, retries, and incremental
  * corpus growth). Contamination is one inverted-index semi-join on n-grams
  * (shuffle on the gram key; the benchmark side is tiny relative to the
  * corpus and AQE broadcasts it when it fits — not forced, the same posture
  * as the dedup joins). Source gating is one aggregate over the source key
  * plus a join back that AQE broadcasts (the per-source stats table has one
  * row per source — millions at worst, never O(corpus)).
  */
object Corpus {

  /** Operators below ADD columns (`bucket`/`split`, the prefix-sum output,
    * `cum_tokens`/`chunk`) and use `__pid`/`__off` internally; a pre-existing
    * column with one of those names would be silently overwritten (or, for
    * `__pid`, silently dropped) by `withColumn`. Fail loudly instead — the
    * caller renames, we never guess. */
  private def requireFresh(df: DataFrame, op: String, names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op reserves column name(s) ${clash.mkString(", ")} (would overwrite " +
        s"or drop the existing column); rename the input column(s) first")
  }

  /** Deterministic bucket in [0, buckets) from the md5 of the row key — the
    * primitive under [[hashSplit]] and [[stratifiedSample]]. Salted so
    * independent uses (e.g. a split and a downstream sample) decorrelate —
    * which is why the two operators carry DISTINCT default salts
    * ("graft:split" / "graft:sample"): under a shared salt a default sample
    * of a default split would select a bucket prefix of it, not an
    * independent draw.
    * First 8 md5 hex chars → 32-bit integer → mod. Pure column expression
    * (no RNG state), so assignment is reproducible across runs, engines, and
    * cluster layouts — the property that makes train/test splits auditable. */
  def hashBucket(key: Column, buckets: Int = 10000, salt: String = "graft"): Column =
    pmod(conv(substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 8), 16, 10)
      .cast("long"), lit(buckets.toLong)).cast("int")

  /** Deterministic train/val/test (any number of named parts) split: each row
    * is assigned the first part whose cumulative weight covers its hash
    * bucket. Weights must sum to 1. Adds `bucket` and `split` columns.
    * Zero-shuffle projection; membership depends only on (key, salt), so a
    * document keeps its split as the corpus grows — no train/test leakage
    * from re-splitting. */
  def hashSplit(df: DataFrame, keyCol: String,
                weights: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                buckets: Int = 10000, salt: String = "graft:split"): DataFrame = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got $weights")
    require(weights.forall { case (_, w) => w >= 0.0 && w <= 1.0 },
      s"each split weight must be in [0,1], got $weights")
    requireFresh(df, "hashSplit", "bucket", "split")
    val b = hashBucket(col(keyCol), buckets, salt)
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail.map(w => math.round(w * buckets))
    val assign = weights.init.zip(cuts.init).foldRight(lit(weights.last._1): Column) {
      case (((name, _), cut), rest) => when(b < cut, name).otherwise(rest)
    }
    df.withColumn("bucket", b).withColumn("split", assign)
  }

  /** Cluster-integral train/val/test split — the FIX for the leakage
    * [[splitLeakReport]] (q125) audits: every document is assigned the
    * split of its near-dup cluster REPRESENTATIVE (the connected
    * component's smallest id), so a near-dup group can never straddle
    * train and test. `pairs` is any (id1, id2) near-dup pair list —
    * n-gram Jaccard, MinHash, SimHash, semantic — whichever notion of
    * "same document" the eval hygiene policy uses; documents in no pair
    * split by their own id, which reduces to plain [[hashSplit]].
    *
    * Adds `cluster` (the representative id) plus hashSplit's
    * `bucket`/`split`. Membership depends only on (representative, salt):
    * stable as the corpus grows, and adding a NEW near-dup of an existing
    * document routes it to the existing document's split (min-id reps are
    * stable under growth as long as ids grow monotonically).
    *
    * Scale shape: connected components run over the PAIR GRAPH only
    * ([[Dedup.nearDupClusters]], O(log diameter) rounds of host-keyed
    * joins), one LEFT join of the corpus against the pairs-sized cluster
    * table, then the zero-shuffle hash-split projection on the
    * representative key. */
  def leakFreeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                    weights: Seq[(String, Double)] =
                      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                    buckets: Int = 10000, salt: String = "graft:split"): DataFrame = {
    requireFresh(df, "leakFreeSplit", "cluster", "bucket", "split")
    val clusters = Dedup.nearDupClusters(pairs)
      .withColumnRenamed("id", idCol)
    val withRep = df.join(clusters, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    hashSplit(withRep, "cluster", weights, buckets, salt)
  }

  /** Deterministic per-stratum sampling: keep a row iff its hash bucket falls
    * under its stratum's fraction (strata not in `fractions` use `default`).
    * The hash-threshold form of stratified sampling — zero shuffle, exactly
    * reproducible (unlike `DataFrame.sampleBy`, which draws from per-task RNG
    * streams and changes with partitioning), and composable: a 10% sample of
    * a 50% sample under different salts behaves like independent draws. */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       fractions: Map[String, Double], default: Double = 0.0,
                       buckets: Int = 10000, salt: String = "graft:sample"): DataFrame = {
    require((fractions.values ++ Seq(default)).forall(f => f >= 0.0 && f <= 1.0),
      s"sampling fractions must be in [0,1]: $fractions, default $default")
    val b = hashBucket(col(keyCol), buckets, salt)
    val cut = fractions.foldRight(lit(math.round(default * buckets)): Column) {
      case ((stratum, f), rest) =>
        when(col(strataCol) === stratum, math.round(f * buckets)).otherwise(rest)
    }
    df.filter(b < cut)
  }

  /** Split-leakage report — the train/test-contamination integrity check a
    * hash split alone cannot give: a near-duplicate PAIR straddling the
    * split boundary leaks training content into evaluation even though
    * every individual document was assigned consistently. Runs
    * [[hashSplit]], finds near-dup pairs with
    * [[Dedup.minhashDedupPairs]] (band equi-join + exact candidate
    * Jaccard, never a cross join), and keeps the pairs whose endpoints
    * landed in DIFFERENT splits. Returns (id1, id2, jaccard, split1,
    * split2) — empty means the split is leak-free at the threshold;
    * non-empty is the worklist to requarantine (move BOTH endpoints to one
    * side, or drop one).
    *
    * Scale shape: the split is a zero-shuffle projection; everything else
    * is the near-dup pair machinery's documented shape, plus two
    * broadcast-eligible id joins to attach split labels. */
  def splitLeakReport(df: DataFrame, keyCol: String, textCol: String,
                      weights: Seq[(String, Double)] = Seq(
                        "train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                      minJaccard: Double = 0.8,
                      buckets: Int = 10000,
                      salt: String = "graft:split"): DataFrame = {
    val split = hashSplit(df, keyCol, weights, buckets, salt)
    val assign = split.select(col(keyCol).as("__sid"), col("split"))
    val pairs = Dedup.minhashDedupPairs(df, keyCol, textCol, minJaccard)
    pairs
      .join(assign.withColumnRenamed("__sid", "id1")
        .withColumnRenamed("split", "split1"), Seq("id1"))
      .join(assign.withColumnRenamed("__sid", "id2")
        .withColumnRenamed("split", "split2"), Seq("id2"))
      .filter(col("split1") =!= col("split2"))
      .select(col("id1"), col("id2"), col("jaccard"),
        col("split1"), col("split2"))
  }

  /** Frequency capping: keep at most `cap` documents per key (URL, domain,
    * template hash, …) — the standard guard against a single hot source
    * drowning the mixture. Selection is deterministic: within a key, rows
    * are ranked by the salted md5 of their id (id as tiebreak), so the same
    * `cap` over the same corpus keeps the same rows on any cluster layout,
    * and raising `cap` only ever ADDS rows (the ranking is stable) — the
    * property that makes a re-run auditable.
    *
    * Scale shape: one shuffle on the key, and Spark plans the rank filter
    * as a `WindowGroupLimit` pushed BELOW the exchange — each upstream
    * partition ships at most `cap` rows per key, so a degenerate hot key
    * moves O(cap · partitions) rows, never its full population, and the
    * final per-key task is bounded by the same. (Verified in the q74
    * physical plan: Partial WindowGroupLimit → Exchange → Final.) */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, cap: Int,
                salt: String = "graft:cap"): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    requireFresh(df, "capPerKey", "__rank")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(md5(concat(col(idCol).cast("string"), lit(":" + salt))),
        col(idCol))
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= cap).drop("__rank")
  }

  /** Mixture targeting: sample the corpus DOWN to a target source mixture
    * (`target` = source → weight, normalized internally), keeping as much
    * data as possible — the data-mixing step that turns "whatever the crawl
    * yielded" into the proportions the training run wants. The limiting
    * source (smallest count/weight ratio) is kept whole; every other
    * target source is thinned to match; sources absent from `target` are
    * dropped. Sampling is [[stratifiedSample]]'s deterministic hash
    * threshold, so membership is reproducible and composable.
    *
    * Scale shape: one count aggregate (one row per source — bounded driver
    * state, the k-means-centroid posture) to derive the per-source rates,
    * then a zero-shuffle filter. The realized mixture converges to
    * `target` with the usual hash-binomial noise (O(1/√n) per source);
    * exact-count mixtures would need a per-source rank — that is
    * [[capPerKey]] with per-source caps of `round(t · weight)`. */
  def targetMixture(df: DataFrame, keyCol: String, sourceCol: String,
                    target: Map[String, Double], buckets: Int = 10000,
                    salt: String = "graft:mix"): DataFrame = {
    require(target.nonEmpty && target.values.forall(_ > 0.0),
      s"target weights must be positive, got $target")
    val z = target.values.sum
    val tgt = target.map { case (s, wt) => s -> wt / z }
    val counts = df.filter(col(sourceCol).isin(tgt.keys.toSeq: _*))
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = tgt.keySet -- counts.keySet
    require(missing.isEmpty,
      s"target source(s) with no rows: ${missing.mkString(", ")} — a zero " +
        "count forces every other source to an empty sample; drop them " +
        "from the target instead")
    // the achievable total: the limiting source fills its share exactly
    val t = tgt.map { case (s, wt) => counts(s) / wt }.min
    val fractions = tgt.map { case (s, wt) =>
      s -> math.min(1.0, t * wt / counts(s)) }
    stratifiedSample(df.filter(col(sourceCol).isin(tgt.keys.toSeq: _*)),
      keyCol, sourceCol, fractions, default = 0.0, buckets, salt)
  }

  /** Per-ROW-fraction deterministic sampling: keep a row iff its hash
    * bucket falls under its OWN fraction column — [[stratifiedSample]]
    * generalized from per-stratum constants to a computed per-row rate.
    * This is the quality-weighted-retention primitive (keep probability ∝
    * quality score, the soft alternative to a hard quality cutoff), and
    * composes with any joined-in rate (per-domain, per-cluster, per-epoch).
    * Fractions are clamped to [0, 1]; null or NaN fraction keeps nothing
    * (NaN sorts ABOVE all doubles in Spark, so without an explicit guard a
    * 0/0-derived rate would clamp to 1.0 and silently keep everything).
    * Determinism, composability-across-salts and stability under corpus
    * growth are [[hashBucket]]'s. Zero shuffle — the rate compare is one
    * codegen projection. Prefer fraction columns derived from INTEGER
    * scores (e.g. `qualityPoints / 10.0`): both engines then divide the
    * same exact integers, so the per-row cut replays bit-for-bit in the
    * oracle, the same reasoning as [[temperatureMixture]]'s sqrt. */
  def sampleByFraction(df: DataFrame, keyCol: String, fracCol: String,
                       buckets: Int = 10000,
                       salt: String = "graft:byfrac"): DataFrame = {
    val raw = col(fracCol).cast("double")
    val f = least(greatest(when(isnan(raw), lit(0.0)).otherwise(raw), lit(0.0)), lit(1.0))
    df.filter(hashBucket(col(keyCol), buckets, salt) <
      floor(f * buckets + 0.5).cast("int"))
  }

  /** Weighted EXACT-SIZE sample without replacement, per group (Efraimidis
    * & Spirakis 2006, IPL, "Weighted random sampling with a reservoir" —
    * algorithm A-ES): each row draws u ∈ (0, 1] and is keyed u^(1/w); the
    * k largest keys per group ARE a weighted sample without replacement.
    * This is the exact-k complement of [[sampleByFraction]] (per-row
    * Bernoulli → binomial sample size): curation budgets are usually "5 000
    * docs per source", not "roughly score/10 of each".
    *
    * Determinism: u is an md5 draw, not an RNG — 13 hex digits give a
    * 52-bit integer, u = (x+1)/(2^52+1) ∈ (0, 1] exactly representable —
    * so membership is reproducible and stable per (id, salt), the
    * [[hashBucket]] discipline. The key compares in log form ln(u)/w
    * (monotone in u^(1/w)), ROUNDED to 6 dp before ranking with an id
    * tiebreak — the suite's cross-engine float rule (`ln` differs sub-ulp
    * between engines; a rank can only flip inside the rounding quantum,
    * where the id tiebreak decides identically everywhere). Rows with
    * null or non-positive weight are never sampled (excluded, not
    * zero-keyed). Appends `ws_key`.
    *
    * Scale shape: one codegen key projection + one rank window
    * PARTITIONED by group (the distributed per-group top-k — never a
    * global sort); groups with fewer than k positive-weight rows return
    * them all. */
  def weightedSample(df: DataFrame, keyCol: String, groupCol: String,
                     weightCol: Column, k: Int,
                     salt: String = "graft:wsample"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (conv(substring(md5(concat(col(keyCol).cast("string"),
        lit(":" + salt))), 1, 13), 16, 10).cast("long") + lit(1L))
      .cast("double") / lit(4503599627370497.0) // 2^52 + 1
    val w = weightCol.cast("double")
    val keyed = df.filter(w.isNotNull && w > 0.0)
      .withColumn("ws_key", round(log(u) / w, 6))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("ws_key").desc, col(keyCol))
    keyed.withColumn("__rk", row_number().over(rk))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** Temperature-based mixture (the multilingual α-sampling of mT5 / XLM-R:
    * sample sources toward p(s) ∝ n(s)^α): downsample so realized per-source
    * counts are EXACTLY proportional to `count^alpha`, keeping as much data
    * as possible — the limiting source is kept whole and every other source
    * thins to match. `alpha = 1` keeps the natural distribution (no-op
    * fractions); `alpha → 0` equalizes all sources down to the smallest.
    * The standard dial between "big sources drown the mixture" and "tiny
    * sources get no signal".
    *
    * The per-source math never normalizes the weights: fractions are
    * invariant to the normalizer (`frac(s) = t·w(s)/n(s)` with
    * `t = min n/w`), and skipping it keeps every step per-source — no
    * data-ordered floating-point SUM anywhere — so the DuckDB oracle
    * replays the arithmetic bit-for-bit. `alpha = 0.5` (the default, and
    * mT5's most-used setting) routes through `sqrt`, which IEEE 754
    * correctly rounds on every engine; other alphas use `pow`, which is
    * engine-faithful but not cross-engine-reproducible in the last ulp.
    * Membership is [[stratifiedSample]]'s hash threshold: deterministic,
    * zero-shuffle, stable under corpus growth. Null-source rows are
    * dropped (they are no stratum). Scale shape: one count aggregate
    * (bounded driver state, one row per source) + a codegen filter. */
  def temperatureMixture(df: DataFrame, keyCol: String, sourceCol: String,
                         alpha: Double = 0.5, buckets: Int = 10000,
                         salt: String = "graft:temp"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val counts = df.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "temperatureMixture on an empty corpus")
    def w(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
    val t = counts.map { case (_, n) => n / w(n) }.min
    val fractions = counts.map { case (s, n) => s -> math.min(1.0, t * w(n) / n) }
    stratifiedSample(df.filter(col(sourceCol).isNotNull), keyCol, sourceCol,
      fractions, default = 0.0, buckets, salt)
  }

  /** Epoch-repeat mixture: per-source REAL repeat factor (the up-sampling
    * half of data mixing — "Wikipedia 2.5 epochs, web 0.3" in the
    * LLaMA/Pile recipes). A row from a source with factor `f` is emitted
    * `floor(f)` times, plus once more iff its hash bucket falls under the
    * fractional part — so realized counts are `n·floor(f)` exactly plus a
    * hash-binomial `frac(f)` draw, deterministic per (key, salt) and
    * stable as the corpus grows. Each copy carries `copy_idx` (0-based):
    * feed it into [[graft.ext.Audit.epochShuffle]]'s epoch to decorrelate
    * copies across the training order. Factor 0 drops the source (the
    * down-sampling degenerate case is [[stratifiedSample]]).
    *
    * Scale shape: zero shuffle — a broadcast-free when-chain resolves the
    * factor, the copy count is pure hash arithmetic, and one generator
    * projection emits the copies. Output size is Σ n_s·f_s by design. */
  def repeatMixture(df: DataFrame, keyCol: String, sourceCol: String,
                    factors: Map[String, Double], default: Double = 1.0,
                    buckets: Int = 10000,
                    salt: String = "graft:repeat"): DataFrame = {
    require((factors.values ++ Seq(default)).forall(f => f >= 0.0),
      s"repeat factors must be >= 0: $factors, default $default")
    requireFresh(df, "repeatMixture", "copy_idx")
    def copiesOf(f: Double): Column = {
      val base = math.floor(f).toLong
      val cut = math.round((f - base) * buckets)
      lit(base) + when(hashBucket(col(keyCol), buckets, salt) < cut, 1L)
        .otherwise(0L)
    }
    val copies = factors.foldRight(copiesOf(default)) {
      case ((source, f), rest) =>
        when(col(sourceCol) === source, copiesOf(f)).otherwise(rest)
    }
    // sequence(0, n-1) with n = 0 would yield [0, -1] (Spark sequences run
    // DOWNWARD when start > stop) — the unguarded when leaves NULL for
    // zero copies and explode emits nothing for a NULL array; the copy
    // count is materialized first (generators have no CSE)
    df.withColumn("__copies", copies)
      .withColumn("copy_idx",
        explode(when(col("__copies") > 0,
          sequence(lit(0L), col("__copies") - 1))))
      .drop("__copies")
  }

  /** Epoch WATER-FILLING — the budgeted mixture planner that sits above
    * [[temperatureMixture]]/[[repeatMixture]]: given per-source token
    * supplies, target mixture WEIGHTS, a total token BUDGET, and a
    * per-source repeat cap `maxEpochs`, allocate the budget so realized
    * tokens are proportional to the weights wherever possible, while no
    * source repeats beyond its cap — the allocation rule behind the
    * published LLM data recipes ("weights are targets; small sources
    * saturate at N epochs and the excess redistributes"). Formally it
    * solves  Σ_s min(w_s·λ, supply_s) = B  for the water level λ (with
    * `supply_s = n_s · maxEpochs`): sources whose saturation price
    * `supply_s / w_s` sits below λ are used WHOLE (they "fill up"), and
    * everyone else gets exactly `w_s·λ` tokens.
    *
    * Closed form, no iteration: sort sources by price ascending — the
    * saturated set is always a PREFIX of that order — and test each row
    * with running sums: source k saturates iff
    * `supply_k·(W − w_prev) ≤ w_k·(B_m − s_prev)` (the cross-multiplied
    * `price_k ≤ level-if-everything-cheaper-already-saturated`). The final
    * level then reads off the saturated totals, which are recovered
    * order-independently as `max` over the running sums — so the whole
    * computation is integer prefix sums plus one-IEEE-op-at-a-time double
    * arithmetic, and the DuckDB oracle (q197) replays it bit-for-bit.
    *
    * Exactness: token counts and weights are LONGs; `maxEpochs` is held as
    * round(maxEpochs·1000) milli-epochs so supplies and prefix sums stay
    * integer (exact under any summation tree). Only the ORDER key (price)
    * and the final level/allocation divisions are doubles — each a single
    * correctly-rounded IEEE op on identical integer inputs, reproducible
    * across engines. Overflow bound: `n_s·(1000·maxEpochs)` and
    * `budget·1000` must fit in int64 — ~9·10¹⁵ tokens per source / budget
    * at the default cap, beyond which the arithmetic moves to DECIMAL(38)
    * (not needed below ~quadrillion-token corpora).
    *
    * Scale shape: ONE count aggregate over the corpus (bounded state, one
    * row per source), then a single-partition window over the K-row
    * source table — K = #sources, never O(corpus) (PlansSpec allowlists
    * the presentation-sized window). Sources absent from `weights` are
    * excluded from the plan (no silent default share); weighted sources
    * absent from the corpus contribute nothing. If the budget exceeds
    * total supply, everything saturates and `level` is exhausted — the
    * caller reads `alloc_tokens < budget` as "corpus too small".
    * Output: one row per source — `source, n_tokens, weight, saturated,
    * alloc_tokens, epochs` (epochs = alloc/n, ≤ maxEpochs by
    * construction). Feed `epochs` into [[repeatMixture]] to realize the
    * plan row-level. */
  def epochWaterfill(df: DataFrame, sourceCol: String, tokensCol: String,
                     weights: Map[String, Long], budgetTokens: Long,
                     maxEpochs: Double = 4.0): DataFrame = {
    require(budgetTokens >= 0L, s"budgetTokens must be >= 0, got $budgetTokens")
    require(maxEpochs > 0.0, s"maxEpochs must be > 0, got $maxEpochs")
    require(weights.nonEmpty, "epochWaterfill needs at least one weight")
    require(weights.values.forall(_ > 0L),
      s"weights must be positive shares, got $weights")
    val emilli = math.round(maxEpochs * 1000.0)
    require(emilli > 0L, s"maxEpochs rounds to 0 milli-epochs: $maxEpochs")
    val counts = df.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).cast("string").as("source"))
      .agg(sum(col(tokensCol).cast("long")).as("n_tokens"))
    // weight lookup as a when-chain (K literals — no join, no broadcast);
    // foldRight over the sorted entries keeps the chain deterministic
    val wcol = weights.toSeq.sortBy(_._1).foldRight(lit(null).cast("long")) {
      case ((s, w), rest) => when(col("source") === s, lit(w)).otherwise(rest)
    }
    val base = counts.withColumn("weight", wcol)
      .filter(col("weight").isNotNull && col("n_tokens") > 0L)
      .withColumn("supply_m", col("n_tokens") * lit(emilli))
      .withColumn("price",
        col("supply_m").cast("double") / col("weight").cast("double"))
    import org.apache.spark.sql.expressions.Window
    // single-partition windows over the K-row source table (K = #sources)
    val ord = Window.orderBy(col("price"), col("source"))
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val bm = math.multiplyExact(budgetTokens, 1000L) // budget, milli units
    val staged = base
      .withColumn("s_prev", coalesce(sum(col("supply_m")).over(prev), lit(0L)))
      .withColumn("w_prev", coalesce(sum(col("weight")).over(prev), lit(0L)))
      .withColumn("w_tot", sum(col("weight")).over(all))
      // cross-multiplied saturation test: each side is ONE double multiply
      // of exactly-represented longs — no accumulation, engine-identical
      .withColumn("saturated",
        col("supply_m").cast("double") *
          (col("w_tot") - col("w_prev")).cast("double") <=
          col("weight").cast("double") * (lit(bm) - col("s_prev")).cast("double"))
      .withColumn("s_run", sum(col("supply_m")).over(run))
      .withColumn("w_run", sum(col("weight")).over(run))
      // saturated totals = the LAST saturated row's running sums (the set is
      // a prefix); max over longs is order-independent
      .withColumn("s_cap",
        coalesce(max(when(col("saturated"), col("s_run"))).over(all), lit(0L)))
      .withColumn("w_cap",
        coalesce(max(when(col("saturated"), col("w_run"))).over(all), lit(0L)))
    val denom = col("w_tot") - col("w_cap")
    val level = when(denom > 0L,
      (lit(bm) - col("s_cap")).cast("double") / denom.cast("double"))
    val allocM = when(col("saturated"), col("supply_m").cast("double"))
      .otherwise(col("weight").cast("double") * level)
    staged
      .withColumn("alloc_tokens", allocM / lit(1000.0))
      .withColumn("epochs",
        col("alloc_tokens") / col("n_tokens").cast("double"))
      .select(col("source"), col("n_tokens"), col("weight"), col("saturated"),
        col("alloc_tokens"), col("epochs"))
  }

  /** Sliding-window document chunking: one output row per (document,
    * chunk), where chunk `i` is the `chunkTokens`-token window starting at
    * token `i · stride` — `stride = chunkTokens` (default) tiles the
    * document disjointly (the long-document splitter in front of
    * [[packSequences]]); `stride < chunkTokens` overlaps adjacent chunks by
    * `chunkTokens - stride` tokens (the retrieval-index shape, where
    * boundary-spanning passages must exist in some chunk). Chunk starts
    * run over every multiple of `stride` below the token count, so final
    * chunks may be shorter than `chunkTokens` — they carry the document
    * tail; consumers wanting full windows only filter on `n_tokens`.
    *
    * Output: (idCol, chunk_idx, n_tokens, chunk_text). Zero shuffle — one
    * generator projection; the token array is materialized into its own
    * column first (generators rebuild their input per output row, the
    * HOF-no-CSE trap), so tokenization runs once per document, not once
    * per chunk. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, stride: Int = 0): DataFrame = {
    // only 0 is the documented tiling sentinel — a negative stride is a
    // caller bug and must fail like the stride > chunkTokens case, not
    // silently tile
    require(stride >= 0, s"stride must be >= 0 (0 = tile disjointly), got $stride")
    val st = if (stride == 0) chunkTokens else stride
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(st <= chunkTokens,
      s"stride must be <= chunkTokens ($chunkTokens), got $st (gaps would drop tokens)")
    val withT = df.select(col(idCol),
      graft.ext.TextStats.tokens(coalesce(col(textCol), lit(""))).as("__t"))
    val n = size(col("__t"))
    val starts = sequence(lit(0), greatest(n - 1, lit(0)), lit(st))
    withT
      .select(col(idCol), col("__t"),
        posexplode(starts).as(Seq("chunk_idx", "__s")))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__t"), col("__s") + 1, lit(chunkTokens)).as("__c"))
      .select(col(idCol), col("chunk_idx").cast("int").as("chunk_idx"),
        size(col("__c")).cast("int").as("n_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Per-document n-gram overlap against a benchmark/eval corpus — the
    * decontamination check a training pipeline runs before anything ships:
    * a document sharing a large fraction of its n-grams with an evaluation
    * set is contaminated and must be dropped. Returns one row per corpus
    * document: (id, n_grams, n_hit, overlap) where overlap = n_hit/n_grams
    * over the document's DISTINCT n-grams.
    *
    * Shape at scale: the benchmark's distinct grams are one small relation;
    * the corpus posting list semi-joins it on the gram key (shuffle on gram —
    * or a broadcast when the benchmark fits, AQE's call) and the per-doc
    * counts are map-side-combinable aggregates. Nothing is O(corpus²) and no
    * broadcast is forced.
    *
    * `k` defaults to 8: common English 4-grams ("on the other hand") collide
    * so heavily that a 4-gram check flags clean documents at corpus scale —
    * production decontamination pipelines run 8–13-gram windows (GPT-3 used
    * 13; lower k = stricter). Pass k explicitly to tighten or loosen.
    *
    * Degenerate inputs (inherited from [[Dedup.shinglesOfTokens]]): a
    * document SHORTER than k tokens collapses to a single whole-document
    * shingle — it scores overlap 1.0 only against an exact whole-text match
    * in the benchmark (0 otherwise); an empty/whitespace document reduces to
    * the "" gram, so empty docs on BOTH sides mutually flag as fully
    * contaminated. Filter empty rows upstream if the corpus can contain
    * them. */
  def benchmarkContamination(corpus: DataFrame, bench: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 8): DataFrame = {
    def grams(df: DataFrame, withId: Boolean) = {
      val id = if (withId) Seq(col(idCol).as("id")) else Seq.empty
      val idOut = if (withId) Seq(col("id")) else Seq.empty
      df.select(id :+ TextStats.tokens(col(textCol)).as("__t"): _*)
        .select(idOut :+ explode(Dedup.shinglesOfTokens(col("__t"), k)).as("g"): _*)
    }
    // ONE pass over the corpus postings: a left join against the marked
    // benchmark grams yields total and hit counts in the same aggregate
    // (a separate sizes/hits pair would re-run the tokenize→shingle→explode
    // pipeline — the dominant per-row cost — once per consumer)
    val docGrams = grams(corpus, withId = true)
    val benchGrams = grams(bench, withId = false).distinct()
      .withColumn("__hit", lit(1))
    docGrams.join(benchGrams, Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hit"))
      .withColumn("overlap", col("n_hit").cast("double") / col("n_grams"))
  }

  /** The decontaminated corpus — [[benchmarkContamination]]'s terminal:
    * documents whose benchmark n-gram overlap reaches `maxOverlap` are
    * dropped, the rest pass through unchanged. One LEFT ANTI join against the
    * id-only drop set (skinny side, left to AQE — same posture as
    * [[Dedup.removeNearDups]]). `k` defaults to 8 — see
    * [[benchmarkContamination]] for why (and for short/empty-doc behavior). */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, maxOverlap: Double = 0.5,
                    k: Int = 8): DataFrame = {
    val bad = benchmarkContamination(corpus, bench, idCol, textCol, k)
      .filter(col("overlap") >= maxOverlap).select(col("id"))
    corpus.join(bad, corpus(idCol) === bad("id"), "left_anti")
  }

  /** NEAR-DUP (fuzzy) benchmark contamination — the check the exact
    * n-gram family ([[benchmarkContamination]]/[[contaminationByBenchmark]])
    * cannot make: an eval item paraphrased or lightly edited into the
    * corpus shares almost no exact 8-gram but sits at high shingle
    * Jaccard. Candidates come from a band equi-join of MinHash signatures
    * (the [[Dedup.incrementalMinhash]] machinery: the corpus NEVER
    * self-joins, and the benchmark side is banded once), candidates are
    * confirmed by EXACT shingle Jaccard, and the report is one row per
    * (document, benchmark item) pair at `minJaccard` or above —
    * (id, bench_id, jaccard), the ratio of exact integers. LSH settings
    * give recall ≈ 1 at J ≥ 0.8 (miss probability (1−(1−J^rows)^bands)
    * complement ≈ 5e-8 — the q119 contract), so the SQL oracle replays
    * ground-truth all-pairs Jaccard and any missed pair fails the compare.
    *
    * Scale shape: per-row signatures on both sides, one band-key equi-join
    * (bucket-capped), confirm joins are candidate-sized; benchmark tables
    * are eval-sized but nothing here requires broadcasting them. */
  def contaminationNear(corpus: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, benchIdCol: String,
                        benchTextCol: String, minJaccard: Double = 0.8,
                        numPerm: Int = 128, bands: Int = 32, k: Int = 4,
                        maxBucketSize: Option[Int] = Some(Dedup.DefaultMaxBandBucket)): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0,1], got $minJaccard")
    val corpusBk = Checkpoint.materialize(Dedup.capBuckets(
      Dedup.bandedSignatures(
        Dedup.minhashSignatures(corpus, idCol, textCol, numPerm, k),
        numPerm, bands),
      maxBucketSize)
      .select(col("id"), col("bk")))
    val benchBk = Checkpoint.materialize(Dedup.capBuckets(
      Dedup.bandedSignatures(
        Dedup.minhashSignatures(
          bench.select(col(benchIdCol).as("__bid"), col(benchTextCol).as("__bt")),
          "__bid", "__bt", numPerm, k),
        numPerm, bands),
      maxBucketSize)
      .select(col("id").as("bench_id"), col("bk")))
    val pairs = corpusBk.join(benchBk, Seq("bk"))
      .select(col("id"), col("bench_id")).distinct()
    val corpusSets = corpus
      .select(col(idCol).as("id"),
        TextStats.tokens(coalesce(col(textCol), lit(""))).as("__t"))
      .select(col("id"), Dedup.shinglesOfTokens(col("__t"), k).as("g1"))
      .join(pairs.select("id").distinct(), Seq("id"))
    val benchSets = bench
      .select(col(benchIdCol).as("bench_id"),
        TextStats.tokens(coalesce(col(benchTextCol), lit(""))).as("__t"))
      .select(col("bench_id"), Dedup.shinglesOfTokens(col("__t"), k).as("g2"))
      .join(pairs.select("bench_id").distinct(), Seq("bench_id"))
    pairs.join(corpusSets, Seq("id")).join(benchSets, Seq("bench_id"))
      .withColumn("__c", size(array_intersect(col("g1"), col("g2"))))
      .withColumn("jaccard", col("__c").cast("double") /
        (size(col("g1")) + size(col("g2")) - col("__c")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id"), col("bench_id"), col("jaccard"))
  }

  /** [[contaminationNear]]'s terminal: the corpus minus every document
    * with a near-dup benchmark match — one LEFT ANTI join against the
    * skinny contaminated-id set. */
  def dropContaminatedNear(corpus: DataFrame, bench: DataFrame, idCol: String,
                           textCol: String, benchIdCol: String,
                           benchTextCol: String, minJaccard: Double = 0.8,
                           numPerm: Int = 128, bands: Int = 32, k: Int = 4): DataFrame = {
    val bad = contaminationNear(corpus, bench, idCol, textCol, benchIdCol,
      benchTextCol, minJaccard, numPerm, bands, k)
      .select(col("id")).distinct()
    corpus.join(bad, corpus(idCol) === bad("id"), "left_anti")
  }

  /** [[benchmarkContamination]] resolved PER BENCHMARK: the bench table
    * carries a `benchCol` name and the report answers "which benchmark
    * leaked into which document, and how badly" — one row per contaminated
    * (document, benchmark) pair with the doc's total shingle count, the
    * per-benchmark hit count, and their ratio. Clean documents emit
    * nothing (inner join — the report is benchmark-hits-sized, not
    * corpus-sized). The corpus gram table feeds two consumers (sizes,
    * hits), so it is materialized once ([[Checkpoint.materialize]]) instead of running
    * the tokenize→shingle pipeline twice. */
  def contaminationByBenchmark(corpus: DataFrame, bench: DataFrame,
                               idCol: String, textCol: String,
                               benchCol: String, k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val docGrams = Checkpoint.materialize(
      corpus.select(col(idCol).as("id"), TextStats.tokens(col(textCol)).as("__t"))
        .select(col("id"), explode(Dedup.shinglesOfTokens(col("__t"), k)).as("g")))
    val benchGrams = bench
      .select(col(benchCol).as("bench"), TextStats.tokens(col(textCol)).as("__t"))
      .select(col("bench"), explode(Dedup.shinglesOfTokens(col("__t"), k)).as("g"))
      .distinct()
    val sizes = docGrams.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val hits = docGrams.join(benchGrams, Seq("g"))
      .groupBy(col("id"), col("bench")).agg(count(lit(1)).as("n_hit"))
    hits.join(sizes, Seq("id"))
      .withColumn("overlap", col("n_hit").cast("double") / col("n_grams"))
      .select(col("id"), col("bench"), col("n_grams"), col("n_hit"),
        col("overlap"))
  }

  /** SPAN-LEVEL decontamination (Brown et al. 2020 appendix C's published
    * recipe, token-margin variant: GPT-3 removed each colliding 13-gram
    * plus a window on either side rather than the whole document):
    * instead of [[decontaminate]]'s drop-the-document policy, remove only
    * the token spans covered by a benchmark k-gram collision, widened by
    * `margin` tokens on each side — the high-recall cleanup that keeps the
    * rest of an otherwise-good document. Appends
    *   - `outCol`        — surviving tokens rejoined (whitespace-normalized
    *     lowercase, [[graft.ext.Spans]]'s rebuilt-text caveat)
    *   - `spans_hit`     — number of colliding k-gram positions
    *   - `tokens_total` / `tokens_masked` — audit counts.
    *
    * Scale shape: corpus explodes to positioned k-grams once (pinned
    * array), the collision check is a semi-join against the DISTINCT
    * benchmark grams (skinny side, AQE-broadcast like [[decontaminate]]),
    * the hit positions fold to one bounded array per contaminated doc
    * (skinny (id, pos) shuffle), and the mask itself is a per-row HOF over
    * the token array — O(tokens · hits) per doc, hits being the (typically
    * tiny) collision count. Benchmark docs shorter than k contribute no
    * grams here (no whole-doc fallback — a sub-k bench doc has no k-gram
    * to collide with; [[benchmarkContamination]]'s overlap SCORE keeps its
    * fallback because there a short doc still needs a denominator). */
  def maskContamination(corpus: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, k: Int = 8, margin: Int = 0,
                        outCol: String = "text_clean"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(margin >= 0, s"margin must be >= 0, got $margin")
    def toks(c: Column) = TextStats.tokens(coalesce(c, lit("")))
    val posGrams = corpus
      .select(col(idCol).as("__id"), TextStats.pinnedCol(
        TextStats.ngramsOfTokens(toks(col(textCol)), k)).as("__g"))
      .select(col("__id"), posexplode(col("__g")).as(Seq("pos", "g")))
    val benchGrams = bench
      .select(TextStats.pinnedCol(
        TextStats.ngramsOfTokens(toks(col(textCol)), k)).as("__g"))
      .select(explode(col("__g")).as("g")).distinct()
    val hits = posGrams.join(benchGrams, Seq("g"), "left_semi")
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("pos"))).as("__hits"))
    val joined = corpus
      .join(hits.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col("*"), TextStats.pinnedCol(toks(col(textCol))).as("__t"),
        coalesce(col("__hits"), array().cast("array<int>")).as("__h"))
    // token i survives iff NO hit position p covers it: a hit at p masks
    // tokens [p - margin, p + k - 1 + margin]
    val kept = filter(
      zip_with(col("__t"), sequence(lit(0), size(col("__t")) - 1),
        (t, i) => struct(t.as("t"), i.as("i"))),
      s => !exists(col("__h"),
        p => s("i") >= p - lit(margin) && s("i") <= p + lit(k - 1 + margin)))
    joined
      // pinned: `kept` feeds two expressions (rebuild + count) and HOF
      // lambdas get no CSE — un-pinned, the O(tokens·hits) filter runs twice
      .withColumn("__kept", TextStats.pinnedCol(kept))
      .withColumn(outCol, concat_ws(" ", transform(col("__kept"), s => s("t"))))
      .withColumn("spans_hit", size(col("__h")))
      .withColumn("tokens_total", size(col("__t")))
      .withColumn("tokens_masked", size(col("__t")) - size(col("__kept")))
      .drop("__hits", "__t", "__h", "__kept")
  }

  /** Distributed prefix sum: `outCol` = running total of `valueCol` in
    * `orderCol` order (rows BEFORE and including this one). The scale-shaped
    * form of `sum().over(Window.orderBy(...))` — a global-order window
    * collapses to ONE partition, the classic scale killer this operator
    * exists to avoid. Classic two-phase formulation instead:
    * range-repartition on the order key, cumsum WITHIN each partition
    * (window partitioned by the range id — parallel), and add per-partition
    * offsets computed from the partition totals (collected to the driver:
    * one row per partition, bounded state like the k-means statistics).
    *
    * `orderCol` must be unique (ties spanning two range partitions would
    * make the split arbitrary). Values are order-independent integer/double
    * sums per prefix, so the output does not depend on where the sampled
    * range boundaries land. The ranged input feeds two consumers (totals +
    * cumsum), so it is materialized once ([[Checkpoint.materialize]]). */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
                outCol: String = "cumsum"): DataFrame = {
    import org.apache.spark.sql.types._
    require(df.schema(valueCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }, s"prefixSum needs an integral value column (exact, fold-order-free " +
      s"sums); got ${df.schema(valueCol).dataType} for '$valueCol'")
    requireFresh(df, "prefixSum", outCol, "__pid", "__off")
    val n = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    // nulls count as 0 in BOTH the totals and the running sum, so the two
    // phases agree and an all-null partition cannot NPE the driver collect
    val v = coalesce(col(valueCol).cast("long"), lit(0L))
    val ranged = Checkpoint.materialize(
      df.repartitionByRange(n, col(orderCol))
        .withColumn("__pid", spark_partition_id()))
    // one row per partition: (pid, total) -> cumulative offset of everything
    // in EARLIER partitions; driver state is O(parallelism), never O(rows)
    val totals = ranged.groupBy(col("__pid"))
      .agg(sum(v).as("__tot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft(0L)(_ + _._2).init
      .zip(totals).map { case (off, (pid, _)) => (pid, off) }
    val offDf = df.sparkSession.createDataFrame(offsets.toSeq)
      .toDF("__pid", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    ranged.join(offDf, Seq("__pid"))
      .withColumn(outCol, sum(v).over(w) + col("__off"))
      .drop("__pid", "__off")
  }

  /** (largest running sum or 0, row count) of a [[prefixSum]] output. */
  private[graft] def prefixTotal(cum: DataFrame, outCol: String): (Long, Long) = {
    val r = cum.agg(coalesce(max(col(outCol)), lit(0L)), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Per-group quantile normalization of a score column: `q_norm` =
    * CUME_DIST of the 6 dp-rounded score within its own group (fraction of
    * the group's rows with score ≤ this row's, in (0, 1]) — the
    * cross-source calibration step before any global threshold touches
    * per-source quality scores. A 0.7 from a lenient scorer and a 0.7 from
    * a strict one are not the same signal; their within-source quantiles
    * are. `kept` marks q_norm > 1 − keepTopFrac — keeping the top
    * `keepTopFrac` of every source by its OWN distribution, so no source
    * is starved by another's score scale (ties at the boundary keep
    * everything at that exact quantile; both engines agree because
    * CUME_DIST is tie-invariant).
    *
    * Scale shape: NOT a per-document window — a window partitioned by
    * source still sorts one source's billions of rows in one task. The
    * histogram-CDF form instead (the q94/q95 discipline): one (group,
    * score6) count aggregate (map-side combined; rows per group = distinct
    * 6 dp score values, orders of magnitude below the row count), the
    * cumulative window over THAT bounded histogram, and one join back on
    * (group, score6). Integer counts make the CDF exact and fold-order
    * free; the single double division (cum/n) is identical in any IEEE
    * engine. NULL scores form their own histogram bucket (the join back
    * is null-safe, so the rows survive with that bucket's q_norm) — but
    * the bucket's ORDER position is engine-specific (Spark sorts nulls
    * first, most SQL engines last), so coalesce the score upstream if
    * the input can be null and cross-engine q_norm parity matters. */
  def quantileNormalizeScores(df: DataFrame, groupCol: String,
                              scoreCol: Column, keepTopFrac: Double = 0.5): DataFrame = {
    require(keepTopFrac > 0.0 && keepTopFrac <= 1.0,
      s"keepTopFrac must be in (0,1], got $keepTopFrac")
    requireFresh(df, "quantileNormalizeScores", "__s6", "q_norm", "kept")
    // the rounded score feeds the histogram AND the join back — one
    // materialization
    val scored = Checkpoint.materialize(
      df.withColumn("__s6", round(scoreCol, 6)))
    val hist = scored.groupBy(col(groupCol), col("__s6"))
      .agg(count(lit(1)).as("__c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__s6"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val cdf = hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .select(col(groupCol), col("__s6"),
        (col("__cum").cast("double") / col("__n").cast("double")).as("q_norm"))
    // null-safe keys: a NULL score (or NULL group) row must find its own
    // histogram bucket, not silently vanish from an equi-join
    val cdfR = cdf.withColumnRenamed(groupCol, "__g2")
      .withColumnRenamed("__s6", "__s6b")
    scored.join(cdfR,
        col(groupCol) <=> col("__g2") && col("__s6") <=> col("__s6b"))
      .withColumn("kept", col("q_norm") > lit(1.0) - lit(keepTopFrac))
      .drop("__g2", "__s6b", "__s6")
  }

  /** Sequence packing for training: concatenate documents in `orderCol`
    * order and cut every `capacity` tokens — each document is assigned the
    * chunk its FIRST token lands in: `chunk = floor((cumsum − tokens) /
    * capacity)`. Pure arithmetic over [[prefixSum]], so it inherits the
    * distributed two-phase shape. Adds `cum_tokens` and `chunk`. */
  def packSequences(df: DataFrame, orderCol: String, tokenCol: String,
                    capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    requireFresh(df, "packSequences", "cum_tokens", "chunk")
    prefixSum(df, orderCol, tokenCol, "cum_tokens")
      .withColumn("chunk",
        floor((col("cum_tokens") - col(tokenCol)) / capacity).cast("long"))
  }

  /** TOKENIZE-AND-PACK terminal — the sequence layout a trainer actually
    * consumes: concatenate every document's token array in `orderCol`
    * order and cut the global stream every `capacity` tokens, emitting
    * one row per chunk with its tokens in order (every chunk exactly
    * `capacity` long except the final partial; documents SPAN chunk
    * boundaries — this is the packed-stream sibling of [[packSequences]],
    * which only labels each document with its starting chunk).
    *
    * Scale shape: per-document global offsets come from [[prefixSum]]
    * (two-phase, no global-order window); each document then slices its
    * own array across the ≤ len/capacity + 1 chunks it touches (pure
    * per-row arithmetic), and chunks reassemble with one groupBy(chunk)
    * + offset-sorted flatten — the one shuffle is the corpus token
    * stream itself, which IS the output being materialized. Empty
    * documents contribute nothing (and an all-empty tail creates no
    * phantom chunk). Document-separator tokens (the GPT-2 <|endoftext|>
    * convention) are the caller's one-liner: append the separator to each
    * document's array upstream (`concat(ids, array(lit(sep)))`) and it
    * packs like any other token.
    *
    * Output: (chunk, ids, n_ids, doc_spans). `doc_spans` is the
    * document-boundary metadata every packed-sequence trainer needs to
    * mask cross-document attention/loss: one `(doc, off, len)` struct per
    * document SEGMENT in the chunk, ordered by `off` — `doc` is the
    * document's `orderCol` value, `off` its segment's 0-based start
    * offset inside the chunk's `ids`, `len` the segment length; segments
    * tile the chunk exactly (offs/lens are contiguous and sum to
    * `n_ids`). A boundary-spanning document appears in every chunk it
    * touches, once per chunk. The spans ride the same slice rows the ids
    * reassemble from (the offsets already exist in the slicing stage), so
    * the column costs no extra shuffle. `docCol` overrides the span `doc`
    * identity when the ORDER key is synthetic (the streaming packer
    * orders by a (remainder, batch-key) struct but spans must name the
    * original document). */
  def packTokenArrays(df: DataFrame, orderCol: String, idsCol: String,
                      capacity: Long,
                      docCol: Option[String] = None): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    requireFresh(df, "packTokenArrays", "chunk", "ids", "n_ids", "doc_spans")
    val withLen = df.withColumn("__n", size(col(idsCol)).cast("long"))
    val off = prefixSum(withLen, orderCol, "__n", "__cum")
      .withColumn("__start", col("__cum") - col("__n"))
      .withColumn("__ids", col(idsCol))
    val sliced = off.select(col("__start"),
        col(docCol.getOrElse(orderCol)).as("__doc"),
        explode(expr(
          s"""transform(
             |  sequence(CAST(__start DIV ${capacity}L AS BIGINT),
             |    CAST((__start + greatest(size(__ids) - 1, 0)) DIV ${capacity}L AS BIGINT)),
             |  c -> struct(c AS chunk,
             |    slice(__ids,
             |      CAST(greatest(c * ${capacity}L - __start, 0) + 1 AS INT),
             |      CAST(least((c + 1) * ${capacity}L - __start, size(__ids))
             |        - greatest(c * ${capacity}L - __start, 0) AS INT)) AS part))"""
            .stripMargin)).as("__e"))
      .select(col("__e.chunk").as("chunk"), col("__start"), col("__doc"),
        col("__e.part").as("part"))
      .filter(size(col("part")) > 0)
    // __start is unique per document (strict prefix-sum offsets) and a
    // document contributes at most one segment per chunk, so the struct
    // sort never reaches the later fields — both aggregates read the SAME
    // collect_list (Catalyst collapses the equal aggregate expressions)
    def sorted = array_sort(collect_list(
      struct(col("__start"), col("__doc"), col("part"))))
    sliced.groupBy(col("chunk"))
      .agg(
        flatten(transform(sorted, x => x.getField("part"))).as("ids"),
        transform(sorted, x => struct(
          x.getField("__doc").as("doc"),
          greatest(x.getField("__start") - col("chunk") * lit(capacity),
            lit(0L)).as("off"),
          size(x.getField("part")).cast("long").as("len"))).as("doc_spans"))
      .withColumn("n_ids", size(col("ids")))
      .select(col("chunk"), col("ids"), col("n_ids"), col("doc_spans"))
  }

  /** T5-style SPAN CORRUPTION (Raffel et al. 2020 — the denoising
    * objective's data prep): mask one token span per full `window`-token
    * window, replacing it with an ordinal sentinel (`<extra_id_k>`), and
    * emit the training pair — `corrupted` (the input sequence with
    * sentinels in place of spans) and `targets` (each sentinel followed
    * by its masked tokens, closed by one final sentinel, the T5 target
    * format). Corruption rate = `spanLen`/`window` (the paper's 15% at
    * the 3/20 default) with mean span length `spanLen`.
    *
    * Deterministic variant, deliberately: T5 samples span positions with
    * an RNG; here each full window masks exactly one span whose start is
    * an md5 draw keyed (id, window ordinal, salt) — the
    * [[fimTransform]]/[[hashBucket]] discipline — so the corruption
    * replays row-by-row in SQL and across reruns (data determinism is
    * what makes corpus hashes, resume, and the oracle possible; the
    * within-window draw keeps placement varied). The trailing partial
    * window is left unmasked; a document shorter than one window passes
    * through with empty `targets`. Zero shuffle — pure higher-order
    * projections over the token array.
    * Output: `corrupted`, `targets`, `n_masked`. */
  def spanCorrupt(df: DataFrame, idCol: String, tokensCol: String,
                  window: Int = 20, spanLen: Int = 3,
                  sentinelPrefix: String = "<extra_id_",
                  sentinelSuffix: String = ">",
                  salt: String = "graft:span"): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1, got $spanLen")
    require(window > spanLen,
      s"window must exceed spanLen, got window=$window spanLen=$spanLen")
    requireFresh(df, "spanCorrupt", "corrupted", "targets", "n_masked")
    val toks = col(tokensCol)
    val n = size(toks)
    val nw = (n.cast("long") / window).cast("int") // full windows
    def sentinel(k: Column): Column =
      concat(lit(sentinelPrefix), k.cast("string"), lit(sentinelSuffix))
    def startOf(w: Column): Column =
      (conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
        w.cast("string"), lit(s":$salt"))), 1, 13), 16, 10).cast("long")
        % lit((window - spanLen + 1).toLong)).cast("int")
    val emptyArr = array().cast("array<string>")
    // sequence(0, nw-1) auto-descends when nw = 0 (the Spark gotcha) —
    // guard every windowed expression behind nw >= 1
    def overWindows(frag: (Column, Column) => Column): Column =
      when(nw >= 1, flatten(transform(sequence(lit(0), nw - 1),
        w => frag(w, startOf(w))))).otherwise(emptyArr)
    val corrupted = concat(
      overWindows { (w, s) =>
        val base = w * window
        concat(slice(toks, base + 1, s),
          array(sentinel(w)),
          slice(toks, base + s + spanLen + 1, lit(window) - s - spanLen))
      },
      slice(toks, nw * window + 1, n - nw * window))
    val targets = when(nw >= 1, concat(
        overWindows { (w, s) =>
          concat(array(sentinel(w)),
            slice(toks, w * window + s + 1, lit(spanLen)))
        },
        array(sentinel(nw))))
      .otherwise(emptyArr)
    df.withColumn("corrupted", corrupted)
      .withColumn("targets", targets)
      .withColumn("n_masked", (nw * spanLen).cast("int"))
  }

  /** UNCORRUPT — the INVERSE of [[spanCorrupt]] (the q190 integrity-law
    * pattern applied to the denoising objective): rebuild the original
    * token stream from the `(corrupted, targets)` training pair by
    * splicing each sentinel's masked span back in place. What a T5-style
    * decoder is TRAINED to do, run as column algebra — the audit that
    * proves the corruption pair still carries the whole document
    * (`uncorrupt(corrupt(X)) == X`, q192's externally-hashed law), and
    * the recovery path when all that survives of a corpus is its
    * denoising pairs.
    *
    * Sentinels sit in `targets` as their own elements in ordinal order
    * (`⟨extra_id_0⟩ span₀ ⟨extra_id_1⟩ span₁ … ⟨extra_id_nw⟩` — the
    * final sentinel closes the last span), so span k is the slice
    * between sentinel positions k and k+1; each `⟨extra_id_k⟩` element
    * of `corrupted` expands to span k, every other element passes
    * through. Assumes sentinel-shaped strings do not occur as corpus
    * tokens (the q176 convention). Zero shuffle — two HOFs per row; the
    * sentinel-position array is PINNED into its own projection before
    * the expanding transform (HOF lambdas re-evaluate free subtrees per
    * element, the documented no-CSE rule). */
  def uncorruptSpans(df: DataFrame, corruptedCol: String,
                     targetsCol: String,
                     sentinelPrefix: String = "<extra_id_",
                     sentinelSuffix: String = ">"): DataFrame = {
    requireFresh(df, "uncorruptSpans", "rebuilt", "n_rebuilt", "__si")
    val sentRe = "^" + java.util.regex.Pattern.quote(sentinelPrefix) +
      "([0-9]+)" + java.util.regex.Pattern.quote(sentinelSuffix) + "$"
    val tgt = col(targetsCol)
    // sequence(0, n-1) DESCENDS when n = 0 (the Spark gotcha): an empty
    // targets array (no full window masked) must short-circuit before
    // element_at ever probes it
    val pinned = df.withColumn("__si",
      when(size(tgt) < 1, array().cast("array<int>"))
        .otherwise(filter(sequence(lit(0), size(tgt) - 1),
          i => element_at(tgt, i + 1).rlike(sentRe))))
    val rebuilt = flatten(transform(col(corruptedCol), x => {
      val k = regexp_extract(x, sentRe, 1)
      val a = element_at(col("__si"), k.cast("int") + 1)
      val b = element_at(col("__si"), k.cast("int") + 2)
      when(x.rlike(sentRe),
        slice(tgt, (a + 2).cast("int"), (b - a - 1).cast("int")))
        .otherwise(array(x))
    }))
    pinned.withColumn("rebuilt", rebuilt)
      .withColumn("n_rebuilt", size(col("rebuilt")))
      .drop("__si")
  }

  /** FILL-IN-THE-MIDDLE transformation (Bavarian et al. 2022 — the
    * code-model training prep): for a deterministic `fimFrac` share of
    * documents, pick two deterministic CHARACTER positions, split the
    * text into (prefix, middle, suffix), and re-serialize with sentinel
    * tokens — PSM `⟨pre⟩P⟨suf⟩S⟨mid⟩M` (default) or the suffix-first SPM
    * ordering `⟨suf⟩S⟨pre⟩P⟨mid⟩M`. Training on the mix teaches
    * infilling without hurting left-to-right modeling (the paper's
    * FIM-for-free result); sentinel defaults are the published
    * StarCoder-style names and should each be ONE token in the target
    * tokenizer (compose with the BPE/WordPiece vocab upstream).
    *
    * Determinism: the gate and both cut points are md5 draws keyed by
    * (id, salt) — the [[hashBucket]]/[[weightedSample]] discipline — so
    * membership and cuts are reproducible row-by-row and replay exactly
    * in SQL. The gate compares the raw 52-bit draw against
    * round(fimFrac·2⁵²) — granularity 2⁻⁵², so even a 1e-8 share
    * transforms its slice; the cut draws are mod (len+1), whose modulo
    * bias at document lengths is ≤ len/2⁵², irrelevant next to exact
    * replayability.
    * Positions are code-point offsets (both engines' substring/length
    * semantics); cut points may coincide or sit at the ends, so empty
    * prefix/middle/suffix all occur — the paper keeps them. NULL text
    * passes through untransformed. Zero shuffle: pure codegen
    * projections, rides any scan at 100 TB.
    * Output: `fim_text`, `fim_applied`. */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
                   fimFrac: Double = 0.5, spm: Boolean = false,
                   preTok: String = "<fim_prefix>",
                   midTok: String = "<fim_middle>",
                   sufTok: String = "<fim_suffix>",
                   salt: String = "graft:fim"): DataFrame = {
    require(fimFrac >= 0.0 && fimFrac <= 1.0,
      s"fimFrac must be in [0,1], got $fimFrac")
    requireFresh(df, "fimTransform", "fim_text", "fim_applied")
    def draw(tag: String): Column =
      conv(substring(md5(concat(col(idCol).cast("string"),
        lit(s":$salt:$tag"))), 1, 13), 16, 10).cast("long")
    val t = col(textCol)
    val len = length(t).cast("long")
    // 2^52 = the draw's exclusive upper bound (13 hex digits)
    val gate = draw("gate") < lit(math.round(fimFrac * 4503599627370496.0))
    val p1 = draw("p1") % (len + 1L)
    val p2 = draw("p2") % (len + 1L)
    val lo = least(p1, p2)
    val hi = greatest(p1, p2)
    val prefix = t.substr(lit(1), lo.cast("int"))
    val middle = t.substr((lo + 1L).cast("int"), (hi - lo).cast("int"))
    val suffix = t.substr((hi + 1L).cast("int"), (len - hi).cast("int"))
    val fim =
      if (spm) concat(lit(sufTok), suffix, lit(preTok), prefix,
        lit(midTok), middle)
      else concat(lit(preTok), prefix, lit(sufTok), suffix,
        lit(midTok), middle)
    val applied = t.isNotNull && gate
    df.withColumn("fim_applied", applied)
      .withColumn("fim_text", when(applied, fim).otherwise(t))
  }

  /** INSTRUCTION-TUNING (SFT) chat-template serializer — the supervised
    * analogue of [[packTokenArrays]]'s `doc_spans`: turn a conversation
    * column (`array<struct<role, content>>`, in turn order) into ONE
    * templated training string plus the LOSS-MASK SPANS a trainer needs
    * to compute loss only on the model's own turns. Template per turn is
    * the ChatML-shaped `startTok + role + "\n" + content + endTok + "\n"`;
    * `chat_text` is the turns' concatenation, and `loss_spans`
    * (`array<struct<off, len>>`, 0-based CHARACTER offsets into
    * `chat_text`) covers, for every turn whose role equals `lossRole`,
    * the turn's content PLUS the closing `endTok` — the model must learn
    * to emit the stop sentinel, never the header (the standard SFT
    * masking convention). `substring(chat_text, off+1, len)` reassembles
    * `content + endTok` exactly (the ExtSpec law); spans never overlap
    * and sit in turn order.
    *
    * Offsets are code-point arithmetic on both engines (`length` counts
    * characters in Spark and DuckDB), so the q177 oracle replays them
    * with window prefix-sums over per-turn piece lengths. NULL roles /
    * contents serialize as '' (a NULL would annihilate the whole concat);
    * a NULL turns array yields '' + no spans. Zero shuffle — one
    * `aggregate` HOF per row, codegen projections around it; rides any
    * scan at 100 TB exactly like [[fimTransform]].
    * Output: `chat_text`, `loss_spans`, `n_turns`. */
  // ---- chat-template internals, shared by [[chatTemplate]] and
  // [[preferencePairs]] ------------------------------------------------

  private def turnRole(t: Column): Column =
    coalesce(t.getField("role").cast("string"), lit(""))
  private def turnContent(t: Column): Column =
    coalesce(t.getField("content").cast("string"), lit(""))

  /** CODE-POINT length of a literal sentinel (ADVICE r18): Spark's
    * `length()` counts code points for role/content, so a non-BMP sentinel
    * (emoji delimiter) measured in UTF-16 units via `String.length` would
    * shift every span; default ASCII sentinels are unaffected. */
  private def cpLen(s: String): Long = s.codePointCount(0, s.length).toLong

  /** The serialized text of a turns array — per turn
    * `startTok + role + "\n" + content + endTok + "\n"`, concatenated in
    * turn order. `transform` + `array_join` is O(total chars). */
  private def turnsText(turns: Column, startTok: String,
                        endTok: String): Column =
    array_join(transform(turns, t =>
      concat(lit(startTok), turnRole(t), lit("\n"), turnContent(t),
        lit(endTok), lit("\n"))), "")

  /** The LENGTH-ONLY span fold over a turns array: returns
    * `struct(len, spans)` where `len` = `base` + the serialized length of
    * every turn, and `spans` are the loss spans (content + closing endTok
    * for each `lossRole` turn) with offsets measured from `base` — so a
    * caller serializing the turns AFTER a known prefix (the DPO shared
    * prompt) passes the prefix length as `base` and gets full-text
    * coordinates for free. An acc that carried the accumulated STRING
    * would copy it per turn, O(n²) chars on a many-turn conversation; the
    * length is the only thing the span offsets need. */
  private def turnsSpanFold(turns: Column, base: Column, lossRole: String,
                            startTok: String, endTok: String): Column = {
    val spanType = "array<struct<off:bigint,len:bigint>>"
    val startLen = cpLen(startTok)
    val endLen = cpLen(endTok)
    val zero = struct(base.cast("long").as("len"),
      array().cast(spanType).as("spans"))
    aggregate(turns, zero, (a, t) => {
      // 0-based content start = every char before it: the accumulated
      // length, then this turn's startTok + role + "\n" header; the span
      // keeps the closing endTok but not the trailing newline
      val off = a.getField("len") + lit(startLen) +
        length(turnRole(t)) + 1L
      val span = struct(off.as("off"),
        (length(turnContent(t)) + lit(endLen)).cast("long").as("len"))
      val plen = lit(startLen + endLen + 2L) +
        length(turnRole(t)) + length(turnContent(t))
      struct((a.getField("len") + plen).as("len"),
        when(turnRole(t) === lit(lossRole),
            concat(a.getField("spans"), array(span)))
          .otherwise(a.getField("spans")).as("spans"))
    })
  }

  def chatTemplate(df: DataFrame, turnsCol: String,
                   lossRole: String = "assistant",
                   startTok: String = "<|im_start|>",
                   endTok: String = "<|im_end|>"): DataFrame = {
    requireFresh(df, "chatTemplate", "chat_text", "loss_spans", "n_turns",
      "__turns")
    val turns = col("__turns")
    df.withColumn("__turns", coalesce(col(turnsCol),
        expr(s"CAST(array() AS ${df.schema(turnsCol).dataType.sql})")))
      .withColumn("chat_text", turnsText(turns, startTok, endTok))
      .withColumn("loss_spans",
        turnsSpanFold(turns, lit(0L), lossRole, startTok, endTok)
          .getField("spans"))
      .withColumn("n_turns", size(turns).cast("int"))
      .drop("__turns")
  }

  /** PREFERENCE-PAIR (DPO / RLHF reward-model) prep — the pairwise sibling
    * of [[chatTemplate]] (VERDICT r18 #1): serialize (prompt turns, chosen
    * turns, rejected turns) into the TWO full training sequences a
    * preference objective scores, each through the same ChatML-shaped
    * template, sharing the prompt prefix verbatim:
    *   - `prompt_text`     — the serialized prompt turns
    *   - `prefix_len`      — its code-point length; the first `prefix_len`
    *     characters of `chosen_text` and `rejected_text` are IDENTICAL
    *     (the ExtSpec law), which is what lets a trainer fold the shared
    *     prompt forward pass across the two branches
    *   - `chosen_text` / `rejected_text` — `prompt_text` + the serialized
    *     response branch
    *   - `chosen_spans` / `rejected_spans` — per-branch loss spans
    *     (`array<struct<off, len>>`, 0-based char offsets into the FULL
    *     branch text): each `lossRole` turn's content + closing `endTok`,
    *     on the RESPONSE branch only — prompt turns never contribute a
    *     span regardless of role (the standard DPO masking: loss is
    *     computed on the model's candidate responses, never the shared
    *     context).
    *
    * `substring(chosen_text, off+1, len)` reassembles `content + endTok`
    * exactly, same as [[chatTemplate]]'s law. NULL turn arrays serialize
    * as empty branches (chosen/rejected degenerate to the bare prompt, no
    * spans). Zero shuffle — three `aggregate` HOF folds (length-only, the
    * q177 discipline) and codegen projections; rides any scan at 100 TB
    * exactly like [[chatTemplate]]. */
  def preferencePairs(df: DataFrame, promptCol: String, chosenCol: String,
                      rejectedCol: String, lossRole: String = "assistant",
                      startTok: String = "<|im_start|>",
                      endTok: String = "<|im_end|>"): DataFrame = {
    requireFresh(df, "preferencePairs", "prompt_text", "prefix_len",
      "chosen_text", "chosen_spans", "rejected_text", "rejected_spans",
      "__pp", "__pc", "__pr")
    def arr(c: String): Column = coalesce(col(c),
      expr(s"CAST(array() AS ${df.schema(c).dataType.sql})"))
    df.withColumn("__pp", arr(promptCol))
      .withColumn("__pc", arr(chosenCol))
      .withColumn("__pr", arr(rejectedCol))
      .withColumn("prompt_text", turnsText(col("__pp"), startTok, endTok))
      // the fold's len field IS the serialized length — no second pass
      // over the prompt text, and the arithmetic is the same the span
      // offsets use (code points on both engines)
      .withColumn("prefix_len",
        turnsSpanFold(col("__pp"), lit(0L), lossRole, startTok, endTok)
          .getField("len"))
      .withColumn("chosen_text",
        concat(col("prompt_text"), turnsText(col("__pc"), startTok, endTok)))
      .withColumn("chosen_spans",
        turnsSpanFold(col("__pc"), col("prefix_len"), lossRole, startTok,
          endTok).getField("spans"))
      .withColumn("rejected_text",
        concat(col("prompt_text"), turnsText(col("__pr"), startTok, endTok)))
      .withColumn("rejected_spans",
        turnsSpanFold(col("__pr"), col("prefix_len"), lossRole, startTok,
          endTok).getField("spans"))
      .drop("__pp", "__pc", "__pr")
  }

  /** BEST-OF-N candidate serialization — the reward-scoring batch behind
    * rejection sampling / best-of-n RLHF (the n-way sibling of
    * [[preferencePairs]]): a prompt turn array plus an `array<string>` of
    * n sampled completions becomes ONE ROW PER CANDIDATE, each the full
    * sequence a reward model scores:
    *   - `cand_id`    — 0-based position in the candidates array (the
    *     sampler's draw index; ties downstream break on it)
    *   - `cand_text`  — serialized prompt + this candidate as a single
    *     `candRole` turn through the same ChatML template
    *   - `cand_spans` — the candidate's loss span (content + closing
    *     endTok) when `candRole == lossRole`, else empty — so the
    *     selected winner is SFT-ready without re-serialization
    *   - `prompt_text` / `prefix_len` — every candidate of a document
    *     shares the prompt prefix verbatim (the [[preferencePairs]] law,
    *     n-way).
    *
    * The prompt serialization and prefix length are PROJECTED BEFORE the
    * explode — generators rebuild their row per emitted element with no
    * CSE, so folding the prompt HOF inside the generator would re-run it
    * n times per document. Documents with a NULL or empty candidates
    * array contribute no rows (there is nothing to score) — via
    * `posexplode_outer` + a filter on the EMITTED `cand_id`, not plain
    * `posexplode`: the inner generator makes Catalyst synthesize a
    * `size(candidates) > 0` guard and push it below any upstream
    * exchange, re-running the full candidate construction per row in
    * the pre-repartition task (the one-file documents.parquet pitfall);
    * filtering the generator's own output costs one null check and
    * pushes nothing. Scale shape: one generate over the candidate
    * array — the output stream itself — and codegen projections; no
    * shuffle. */
  def bestOfNCandidates(df: DataFrame, promptCol: String,
                        candidatesCol: String,
                        lossRole: String = "assistant",
                        candRole: String = "assistant",
                        startTok: String = "<|im_start|>",
                        endTok: String = "<|im_end|>"): DataFrame = {
    requireFresh(df, "bestOfNCandidates", "prompt_text", "prefix_len",
      "cand_id", "cand_text", "cand_spans", "n_cands", "__pp", "__cands",
      "__c")
    val headerLen = cpLen(startTok) + cpLen(candRole) + 1L
    val others = df.columns.filterNot(c => c == promptCol ||
      c == candidatesCol).map(col).toSeq
    df.withColumn("__pp", coalesce(col(promptCol),
        expr(s"CAST(array() AS ${df.schema(promptCol).dataType.sql})")))
      .withColumn("__cands", coalesce(col(candidatesCol),
        array().cast("array<string>")))
      .withColumn("prompt_text", turnsText(col("__pp"), startTok, endTok))
      .withColumn("prefix_len",
        turnsSpanFold(col("__pp"), lit(0L), lossRole, startTok, endTok)
          .getField("len"))
      .withColumn("n_cands", size(col("__cands")).cast("int"))
      .select(others ++ Seq(col("prompt_text"), col("prefix_len"),
        col("n_cands"),
        posexplode_outer(col("__cands")).as(Seq("cand_id", "__c"))): _*)
      .filter(col("cand_id").isNotNull)
      .withColumn("__c", coalesce(col("__c"), lit("")))
      .withColumn("cand_text", concat(col("prompt_text"), lit(startTok),
        lit(candRole), lit("\n"), col("__c"), lit(endTok), lit("\n")))
      .withColumn("cand_spans",
        if (candRole == lossRole)
          array(struct(
            (col("prefix_len") + lit(headerLen)).as("off"),
            (length(col("__c")) + lit(cpLen(endTok))).cast("long")
              .as("len")))
        else array().cast("array<struct<off:bigint,len:bigint>>"))
      .drop("__c")
  }

  /** KEEP-BEST candidate selection — the rejection-sampling (RFT) step
    * after an external reward model scored [[bestOfNCandidates]]'s rows:
    * per document, keep the candidate with the HIGHEST score, ties broken
    * by the SMALLEST `cand_id` (the sampler's earliest draw — the
    * deterministic convention, since a reward model emitting float scores
    * can and does tie on identical candidate texts). The winner's
    * `cand_text`/`cand_spans` are SFT-ready as emitted.
    *
    * One doc-keyed `max(struct(score, -cand_id, payload...))` aggregate —
    * struct comparison is lexicographic and `(score, -cand_id)` is unique
    * per document, so the payload never participates in the comparison
    * and partial (map-side) aggregation applies; the only shuffle moves
    * one candidate row per document per map partition. */
  def keepBestCandidate(scored: DataFrame, idCol: String, scoreCol: String,
                        candIdCol: String = "cand_id"): DataFrame = {
    val payload = scored.columns.filterNot(c => c == idCol).toSeq
    val key = struct(Seq(col(scoreCol).as("__s"),
      (-col(candIdCol)).as("__nc")) ++ payload.map(col): _*)
    val best = scored.groupBy(col(idCol)).agg(max(key).as("__best"))
    payload.foldLeft(best)((d, c) =>
      d.withColumn(c, col("__best").getField(c))).drop("__best")
  }

  /** GROUP-RELATIVE ADVANTAGE — the GRPO normalization (Shao et al.
    * 2024, DeepSeekMath: group-relative policy optimization drops the
    * value network and baselines each sampled candidate against its OWN
    * prompt's group): per group (= prompt), `advantage =
    * (score - mean(group)) / std(group)` with population std and the
    * zero-variance group convention `advantage = 0` (every candidate
    * tied — no gradient signal). The natural consumer of
    * [[bestOfNCandidates]]'s scored rows.
    *
    * Bit-reproducible across partitionings AND engines, the q111
    * discipline: the two cross-row moments are DECIMAL(38,18) sums
    * (exact, order-free — a double sum would drift with the fold order),
    * and every floating-point step after them is a fixed expression over
    * identical operands — mean = s1/n, var = s2/n − mean², clamped at 0,
    * std = sqrt — so any engine replays it bit for bit. Scores must be
    * non-NULL (a NULL would skew count vs sum) and |score| < ~1e9 for
    * the squared decimal cast. Scale shape: one group-keyed partial
    * aggregate (3 narrow sums) + one equi-join back — group-count-sized
    * state, the corpus never shuffles wider than its group key. The
    * input feeds BOTH the aggregate and the join (a diamond), so it is
    * materialized once ([[Checkpoint.materialize]]) — without it Catalyst re-derives
    * the whole upstream chain (an exploded candidate serialization, say)
    * on each branch. */
  def groupAdvantage(df: DataFrame, groupCol: String,
                     scoreCol: String): DataFrame = {
    requireFresh(df, "groupAdvantage", "group_n", "group_mean",
      "group_std", "advantage", "__s1", "__s2")
    val mat = Checkpoint.materialize(df)
    val sc = col(scoreCol).cast("double")
    val stats = mat.groupBy(col(groupCol)).agg(
      count(lit(1)).as("group_n"),
      sum(sc.cast("decimal(38,18)")).as("__s1"),
      sum((sc * sc).cast("decimal(38,18)")).as("__s2"))
    mat.join(stats, Seq(groupCol))
      .withColumn("group_mean",
        col("__s1").cast("double") / col("group_n").cast("double"))
      .withColumn("group_std", sqrt(greatest(
        col("__s2").cast("double") / col("group_n").cast("double") -
          col("group_mean") * col("group_mean"), lit(0.0))))
      .withColumn("advantage", when(col("group_std") === 0.0, lit(0.0))
        .otherwise((sc - col("group_mean")) / col("group_std")))
      .drop("__s1", "__s2")
  }

  /** GENERALIZED ADVANTAGE ESTIMATION (Schulman et al. 2016) — the PPO
    * prep that [[groupAdvantage]]'s value-free GRPO replaces when a value
    * network IS trained: per trajectory ordered by step, TD residual
    * `δ_t = r_t + γ·V_{t+1} − V_t` (bootstrap `V_{T+1} = 0` — the
    * episode-terminal convention; pad a final zero-reward step carrying
    * the bootstrap value to use a non-zero one), then the exponentially
    * weighted backward recursion `A_t = δ_t + γλ·A_{t+1}` and returns
    * `R_t = A_t + V_t` (the value-function regression target).
    *
    * The recursion is computed EXACTLY as written — a reverse fold whose
    * every step is one multiply-add on the previous accumulator — so the
    * q198 oracle replays it bit for bit with a recursive CTE descending
    * from the terminal step (same operand order, no power-series
    * reformulation: `Σ (γλ)^k δ` associates differently and `pow` is not
    * cross-engine-reproducible; the fold is). γ and γλ appear only as
    * single IEEE products of the literal parameters.
    *
    * Scale shape: one trajectory-keyed `collect_list` shuffle (the
    * trajectory is the parallelism unit — state per task is one episode),
    * then per-row HOF folds and one posexplode back to steps. The fold
    * appends each advantage to its accumulator array, O(T²) element
    * copies per trajectory in the limit — fine to episode lengths in the
    * thousands; split longer trajectories upstream ([[chunkDocuments]]'s
    * discipline). Steps must be unique per trajectory (the sort key) and
    * rewards/values non-NULL (a NULL would contaminate the whole fold —
    * the [[chatTemplate]] coalesce convention does not apply to
    * numerics). Output: one row per input step — `(trajCol, step,
    * reward, value, delta, advantage, ret)`. */
  def gaeAdvantage(df: DataFrame, trajCol: String, stepCol: String,
                   rewardCol: String, valueCol: String,
                   gamma: Double = 0.99, lam: Double = 0.95): DataFrame = {
    require(gamma >= 0.0 && gamma <= 1.0, s"gamma must be in [0,1]: $gamma")
    require(lam >= 0.0 && lam <= 1.0, s"lambda must be in [0,1]: $lam")
    requireFresh(df, "gaeAdvantage", "step", "reward", "value", "delta",
      "advantage", "ret", "__st", "__d", "__a", "__i", "__x")
    val gl = lit(gamma) * lit(lam) // constant-folded: ONE IEEE multiply
    val packed = df.groupBy(col(trajCol)).agg(
      sort_array(collect_list(struct(col(stepCol).cast("long").as("s"),
        col(rewardCol).cast("double").as("r"),
        col(valueCol).cast("double").as("v")))).as("__st"))
    val st = col("__st")
    val n = size(st)
    // δ_i = r_i + γ·v_{i+1} − v_i with v_n = 0 (element_at is 1-based)
    val deltas = transform(st, (x, i) =>
      x.getField("r") + lit(gamma) * when(i < n - 1,
        element_at(st, i + 2).getField("v")).otherwise(lit(0.0)) -
        x.getField("v"))
    // reverse fold A = δ + γλ·A_next, accumulating the advantage list
    // (appended in reverse, un-reversed after); acc starts at 0.0 so the
    // terminal step computes δ + γλ·0 — the same multiply-add shape as
    // every other step, which the oracle's recursion base mirrors
    val foldT = "struct<a:double,l:array<double>>"
    val aList = reverse(aggregate(reverse(col("__d")),
      expr(s"CAST(struct(0.0D, array()) AS $foldT)"),
      (acc, x) => {
        val aN = x + gl * acc.getField("a")
        struct(aN.as("a"), concat(acc.getField("l"), array(aN)).as("l"))
      }).getField("l"))
    packed
      .withColumn("__d", deltas)
      .withColumn("__a", aList)
      .select(col(trajCol), col("__d"), col("__a"),
        posexplode(col("__st")).as(Seq("__i", "__x")))
      .withColumn("step", col("__x").getField("s"))
      .withColumn("reward", col("__x").getField("r"))
      .withColumn("value", col("__x").getField("v"))
      .withColumn("delta", element_at(col("__d"), col("__i") + 1))
      .withColumn("advantage", element_at(col("__a"), col("__i") + 1))
      .withColumn("ret", col("advantage") + col("value"))
      .drop("__d", "__a", "__i", "__x")
  }

  /** MASKED TOKEN PACKING — the SFT analogue of [[packTokenArrays]]:
    * pack per-document token streams AND their aligned
    * [[tokenLossMask]]-style 0/1 loss masks into fixed-`capacity`
    * training chunks, keeping the two streams aligned position by
    * position and the `doc_spans` bookkeeping intact (a packed-SFT
    * trainer needs all three: tokens, mask, and the document boundaries
    * its block-diagonal attention resets on). Token and mask arrays must
    * be equal-length per row — exactly what [[tokenLossMask]] emits.
    *
    * Implementation is [[packTokenArrays]] run over the `zip_with`'d
    * struct stream and unzipped after — the packing arithmetic (strict
    * prefix-sum offsets, chunk slicing, span reassembly) is shared, not
    * re-derived, so every law q174 pins (chunk hashes, span coverage,
    * crash-replay determinism) holds here by
    * construction. Output: `chunk`, `toks`, `mask`, `n_toks`,
    * `doc_spans`. Same scale shape as q174: tokenize-stream-sized
    * prefix sum + ONE chunk-keyed reassembly shuffle. */
  def packMaskedTokens(df: DataFrame, orderCol: String, toksCol: String,
                       maskCol: String, capacity: Long): DataFrame = {
    // the consumed token/mask columns are dropped before packing, so
    // their names (often literally "toks"/"mask") may coincide with the
    // output's — freshness applies to the carried-through columns only
    requireFresh(df.drop(toksCol, maskCol), "packMaskedTokens", "chunk",
      "toks", "mask", "n_toks", "doc_spans", "__zip")
    val zipped = df
      .withColumn("__zip", zip_with(col(toksCol), col(maskCol),
        (t, m) => struct(t.as("t"), m.as("m"))))
      .drop(toksCol, maskCol)
    packTokenArrays(zipped, orderCol, "__zip", capacity)
      .select(col("chunk"),
        transform(col("ids"), x => x.getField("t")).as("toks"),
        transform(col("ids"), x => x.getField("m")).as("mask"),
        col("n_ids").as("n_toks"), col("doc_spans"))
  }

  /** DATA-PARALLEL BATCH SCHEDULE — the deterministic map from a packed
    * corpus to WHO trains on WHAT and WHEN: every (row, epoch) pair gets
    * `(epoch, step, device_rank)` such that each step holds exactly
    * `worldSize` rows (one per device, the DDP contract), rows are
    * pseudo-randomly shuffled per epoch with [[graft.ext.Audit.epochShuffle]]'s
    * md5 key (`id:epoch:salt` — epochs decorrelate, no RNG state, the
    * determinism-over-RNG trade), and each epoch's trailing `n %
    * worldSize` rows are DROPPED (drop-last, the standard DDP semantic —
    * a ragged final step would deadlock collective ops). Resume is a pure
    * predicate: to restart at (E, S) filter `epoch > E OR (epoch = E AND
    * step >= S)` — no sampler state to checkpoint.
    *
    * Scale shape: the per-epoch rank is ONE [[prefixSum]] over the
    * composite (epoch, key, id) order — the two-phase range-repartition
    * discipline, no global-order window; since every epoch has exactly
    * `n` rows, the per-epoch rank is `global_rank − epoch·n` — one rank
    * pass for ALL epochs. Driver state: the O(parallelism) offset table
    * plus one `count()` (n — the schedule arithmetic needs it; for a
    * chunk manifest this scan is chunk-count-sized). */
  def batchSchedule(df: DataFrame, idCol: String, worldSize: Int,
                    epochs: Int, salt: String = "graft:shuffle"): DataFrame = {
    require(worldSize >= 1, s"worldSize must be >= 1, got $worldSize")
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    requireFresh(df, "batchSchedule", "epoch", "step", "device_rank",
      "__sk", "__so", "__s1", "__sc")
    val n = df.count()
    val stepsPerEpoch = n / worldSize
    val exploded = df
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("__sk", md5(concat(col(idCol).cast("string"), lit(":"),
        col("epoch").cast("string"), lit(":" + salt))))
      .withColumn("__so", struct(col("epoch"), col("__sk"), col(idCol)))
      .withColumn("__s1", lit(1L))
    prefixSum(exploded, "__so", "__s1", "__sc")
      .withColumn("step",
        expr(s"CAST((__sc - 1 - epoch * ${n}L) DIV ${worldSize}L AS BIGINT)"))
      .withColumn("device_rank",
        expr(s"CAST((__sc - 1 - epoch * ${n}L) % ${worldSize}L AS INT)"))
      .filter(col("step") < lit(stepsPerEpoch))
      .drop("__sk", "__so", "__s1", "__sc")
  }

  /** QUALITY-ANNEALED curriculum order (the published end-of-training
    * annealing recipe: train the bulk of steps on the full shuffled mix,
    * then finish on the highest-quality slice — MiniCPM's two-phase
    * schedule, OLMo's late-stage re-weighting, Llama 3's annealing data):
    * emit a deterministic `train_order` where the TOP `annealFrac` of the
    * corpus by `scoreCol` (ties to the smaller id) forms the shuffled
    * TAIL of the order and everything else the shuffled main phase.
    * `phase` ('main'/'anneal') and `quality_rank` (1 = best) come along
    * so a resume predicate or a phase-specific LR schedule can key on
    * them. Shuffles are [[graft.ext.Audit.epochShuffle]]'s md5 keys —
    * deterministic, RNG-free, decorrelated from the quality sort.
    *
    * Scale shape: two [[prefixSum]] passes (quality rank over
    * (−score, id), then order rank over (phase, md5 key, id)) — the
    * two-phase range-repartition discipline both times, no global-order
    * window, driver state O(parallelism) per pass plus one `count()`.
    * Scores must be non-NULL (they are a sort key). The anneal size is
    * `floor(n · annealFrac)` — one double multiply + floor, which the
    * q207 oracle replays exactly. */
  def annealOrder(df: DataFrame, idCol: String, scoreCol: String,
                  annealFrac: Double, salt: String = "graft:anneal"): DataFrame = {
    require(annealFrac >= 0.0 && annealFrac <= 1.0,
      s"annealFrac must be in [0,1], got $annealFrac")
    requireFresh(df, "annealOrder", "phase", "quality_rank", "train_order",
      "__qo", "__sk", "__one", "__to")
    val n = df.count()
    val nAnneal = math.floor(n.toDouble * annealFrac).toLong
    val ranked = prefixSum(
      df.withColumn("__qo",
          struct((col(scoreCol) * -1).as("s"), col(idCol).as("i")))
        .withColumn("__one", lit(1L)),
      "__qo", "__one", "quality_rank")
    val flagged = ranked
      .withColumn("phase", when(col("quality_rank") <= nAnneal,
        lit("anneal")).otherwise(lit("main")))
      .withColumn("__sk", md5(concat(col(idCol).cast("string"),
        lit(":" + salt))))
      .withColumn("__to", struct(
        when(col("phase") === "anneal", 1).otherwise(0).as("ph"),
        col("__sk").as("k"), col(idCol).as("i")))
    prefixSum(flagged, "__to", "__one", "train_order")
      .withColumn("train_order", col("train_order") - 1L)
      .drop("__qo", "__sk", "__one", "__to")
  }

  /** UNPACK — the INVERSE of [[packTokenArrays]]: rebuild every
    * document's token stream from delivered chunks using the `doc_spans`
    * bookkeeping. The recovery/audit path a training stack needs when all
    * it has is the delivered shards — re-shard to a different capacity
    * (unpack → re-pack), recover a corpus after the upstream is gone, or
    * PROVE delivery integrity: `unpack(pack(X)) == X` for every document
    * is the round-trip law q190 pins against an oracle that hashes the
    * ORIGINAL stream (the reconstruction must match bytes it never saw).
    *
    * Each chunk's spans tile its ids exactly (the packer's law), so the
    * rebuild is: explode spans → slice the chunk's ids at (off, len) →
    * regroup by document, segments ordered by chunk id (a document's
    * segments occupy CONSECUTIVE chunks, and it has at most one segment
    * per chunk, so the (chunk, part) struct sort never reaches the later
    * field). One doc-keyed reassembly shuffle moving the token stream
    * itself — exactly the packer's cost, run backward. */
  def unpackTokenChunks(packed: DataFrame, chunkCol: String = "chunk",
                        idsCol: String = "ids",
                        spansCol: String = "doc_spans"): DataFrame = {
    val seg = packed
      .select(col(chunkCol).as("__ck"), col(idsCol).as("__ids"),
        explode(col(spansCol)).as("__sp"))
      .select(col("__sp").getField("doc").as("doc"), col("__ck"),
        slice(col("__ids"),
          (col("__sp").getField("off") + 1L).cast("int"),
          col("__sp").getField("len").cast("int")).as("__part"))
    def sorted = array_sort(collect_list(struct(col("__ck"), col("__part"))))
    seg.groupBy(col("doc"))
      .agg(flatten(transform(sorted, x => x.getField("__part"))).as("ids"))
      .withColumn("n_ids", size(col("ids")))
  }

  /** SLIDING-WINDOW CHUNKING — the retrieval-side counterpart of
    * [[packTokenArrays]]: instead of CONCATENATING documents into fixed
    * chunks, SPLIT each long document into overlapping `window`-token
    * views at `stride`-token steps (the HF `return_overflowing_tokens`
    * convention embedding models and long-doc indexers consume —
    * overlap = window − stride keeps boundary context in both views).
    * Window k starts at `k·stride` for k = 0 … K with
    * `K = ceil((n − window)/stride)` when n > window else 0, so the
    * final window always reaches the last token (it may be shorter than
    * `window`; every token is covered; `stride = window` degenerates to
    * an exact partition). Documents with an empty or NULL token array
    * emit no windows. Output: input + `win_id` (0-based), `win_start`
    * (0-based token offset — `win_id · stride`, carried so a consumer
    * maps window hits back to document positions), `win_toks`,
    * `n_win_toks`.
    *
    * Zero shuffle — the window starts are a per-row `sequence` and the
    * explode IS the output stream; the generator guard follows the
    * `posexplode_outer` + emitted-column filter discipline (an inner
    * explode's synthesized size-guard would be pushed below upstream
    * exchanges and re-run the tokenization in the pre-repartition
    * task). */
  def slidingWindows(df: DataFrame, idCol: String, toksCol: String,
                     window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window], got $stride")
    requireFresh(df, "slidingWindows", "win_id", "win_start", "win_toks",
      "n_win_toks", "__wt", "__wk")
    val toks = coalesce(col(toksCol),
      expr(s"CAST(array() AS ${df.schema(toksCol).dataType.sql})"))
    val others = df.columns.filterNot(_ == toksCol).map(col).toSeq
    df.withColumn("__wt", toks)
      .withColumn("__wk",
        when(size(col("__wt")) < 1, array().cast("array<int>"))
          .otherwise(sequence(lit(0), when(size(col("__wt")) <= window, 0)
            .otherwise(expr(
              s"CAST((size(__wt) - $window + $stride - 1) DIV $stride AS INT)")))))
      .select(others ++ Seq(col("__wt"),
        posexplode_outer(col("__wk")).as(Seq("win_id", "__k"))): _*)
      .filter(col("win_id").isNotNull)
      .withColumn("win_start", (col("__k") * stride).cast("long"))
      .withColumn("win_toks",
        slice(col("__wt"), (col("win_start") + 1L).cast("int"), lit(window)))
      .withColumn("n_win_toks", size(col("win_toks")))
      .drop("__wt", "__wk", "__k")
  }

  /** SPAN-PRESERVING TRUNCATION — fit a serialized chat sequence into a
    * context window WITHOUT losing the loss-mask bookkeeping:
    * `side = "left"` keeps the LAST `maxLen` code points (the chat
    * convention — recent turns matter, the oldest context is dropped),
    * `side = "right"` the first `maxLen` (the document convention). Loss
    * spans are intersected with the kept window `[s, e)` and re-based to
    * the truncated text: a span fully outside drops, a span straddling
    * the cut keeps its surviving suffix/prefix, and
    * `substring(trunc_text, off+1, len)` still reassembles EXACTLY the
    * surviving slice of the original span text (the [[chatTemplate]] law
    * restated over the window). `maxLen >= length(text)` is the identity
    * (text and spans unchanged). Output: `trunc_text`, `trunc_spans`,
    * `orig_len`, `kept_from` (= s, so a caller can map truncated offsets
    * back to the original). All code-point arithmetic, matching the span
    * coordinates. Pure codegen projections + two HOFs per row — zero
    * shuffle, rides any scan. */
  def truncateChat(df: DataFrame, textCol: String, spansCol: String,
                   maxLen: Long, side: String = "left"): DataFrame = {
    require(maxLen >= 0L, s"maxLen must be >= 0, got $maxLen")
    require(side == "left" || side == "right",
      s"side must be left|right, got $side")
    requireFresh(df, "truncateChat", "trunc_text", "trunc_spans",
      "orig_len", "kept_from", "__s", "__e")
    val txt = coalesce(col(textCol), lit(""))
    val len = length(txt).cast("long")
    val s0 = if (side == "left") greatest(lit(0L), len - maxLen) else lit(0L)
    val e0 = if (side == "left") len else least(len, lit(maxLen))
    df.withColumn("orig_len", len)
      .withColumn("__s", s0)
      .withColumn("__e", e0)
      .withColumn("kept_from", col("__s"))
      .withColumn("trunc_text",
        txt.substr((col("__s") + 1L).cast("int"),
          (col("__e") - col("__s")).cast("int")))
      .withColumn("trunc_spans",
        filter(
          transform(coalesce(col(spansCol),
            array().cast("array<struct<off:bigint,len:bigint>>")), sp => {
            val a = greatest(sp.getField("off"), col("__s"))
            val b = least(sp.getField("off") + sp.getField("len"), col("__e"))
            struct((a - col("__s")).as("off"), (b - a).as("len"))
          }),
          sp => sp.getField("len") > 0L))
      .drop("__s", "__e")
  }

  /** TOKEN-ALIGNED LOSS MASK — the bridge from [[chatTemplate]]'s
    * character spans to what a trainer actually feeds the loss: tokenize
    * the serialized text and mark each token 1 iff its character range
    * overlaps any loss span (0 otherwise). Whole-token granularity means
    * a token straddling a span boundary (the template glues `endTok`
    * onto the last content token under whitespace tokenization) masks as
    * 1 — the standard resolution; every span character lands inside a
    * masked token.
    *
    * Tokenization is a SINGLE-CHARACTER separator class (`sepClass`,
    * default `[\n ]` — exactly the two separators [[chatTemplate]]
    * emits), which is what makes per-token offsets exact arithmetic on
    * both engines: token k starts at sum(len(tok_j) + 1 for j < k).
    * A text ENDING in a separator yields one trailing empty token on
    * both engines; an empty token can never mask (its range is empty).
    *
    * Scale shape: one per-document window (offsets; partitioned by
    * `idCol`, no global order), one reassembly groupBy, one id join back
    * — token-stream-sized shuffles, the q174 discipline; the span
    * overlap test is a per-row `exists` over the (small) spans array.
    * Output: input + `mask_tokens` (array<string>) and `loss_mask`
    * (array<int>, same length). */
  def tokenLossMask(df: DataFrame, idCol: String, textCol: String,
                    spansCol: String, sepClass: String = "[\\n ]"): DataFrame = {
    requireFresh(df, "tokenLossMask", "mask_tokens", "loss_mask",
      "__tok", "__pos", "__toff", "__m", "__arr")
    val toks = split(coalesce(col(textCol), lit("")), sepClass)
    val exploded = df
      .select(col(idCol), col(spansCol).as("__spans"),
        posexplode(toks).as(Seq("__pos", "__tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val masked = exploded
      .withColumn("__toff",
        coalesce(sum(length(col("__tok")) + 1).over(w), lit(0L)))
      .withColumn("__m", when(exists(col("__spans"), sp =>
          col("__toff") < sp.getField("off") + sp.getField("len") &&
            col("__toff") + length(col("__tok")) > sp.getField("off")),
        lit(1)).otherwise(lit(0)))
    val agg = masked.groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("__pos"), col("__tok"), col("__m")))).as("__arr"))
      .select(col(idCol),
        transform(col("__arr"), x => x.getField("__tok")).as("mask_tokens"),
        transform(col("__arr"), x => x.getField("__m")).as("loss_mask"))
    df.join(agg, Seq(idCol))
  }

  /** SEQUENCE-LENGTH BUCKETING for non-packed (padded) SFT batches — the
    * companion to [[packTokenArrays]] for trainers that keep documents
    * whole: group documents into buckets of similar token length, pad
    * each to its bucket's upper edge, and fill fixed token-capacity
    * batches bucket-by-bucket so padding waste is bounded by the bucket
    * width instead of the longest document in a random batch.
    *
    * Semantics (all exact integer arithmetic, replayable in SQL):
    * `bucket = max(ceil(len / bucketWidth), 1)` (length-0 rows ride the
    * first bucket), `padded_len = bucket * bucketWidth`, per-batch seat
    * count `max(capacity div padded_len, 1)` — a document longer than
    * `capacity` gets a batch of its own (truncation is the trainer's
    * call, not silent data loss here). Within a bucket, documents fill
    * batches in `orderCol` order (make it unique — corpus order), so
    * `batch_in_bucket = rank div seats`, `seq_in_batch = rank mod seats`;
    * `(bucket, batch_in_bucket)` is the global batch key. Every batch
    * except a bucket's last is exactly full, and
    * `padded_len - len` is the per-row padding waste the width bounds.
    *
    * Scale shape — [[prefixSum]]'s two-phase discipline, per bucket: one
    * range repartition on (bucket, order), per-(partition, bucket) counts
    * to the driver (O(parallelism + buckets) rows — buckets are bounded
    * by maxLen/bucketWidth, never by corpus size), broadcast offsets
    * back, and a per-partition window. No global-order window, no
    * per-bucket single-partition sort — the skewed short-doc bucket
    * spreads over as many partitions as the range split gives it.
    * Output: input + `bucket`, `padded_len`, `batch_in_bucket`,
    * `seq_in_batch`. */
  def lengthBucketBatches(df: DataFrame, orderCol: String, lenCol: String,
                          bucketWidth: Int, capacity: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    requireFresh(df, "lengthBucketBatches", "bucket", "padded_len",
      "batch_in_bucket", "seq_in_batch", "__pid", "__boff", "__rk", "__perb",
      "__lenw")
    val len = coalesce(col(lenCol).cast("long"), lit(0L))
    // ceil-div in INTEGER arithmetic (Column./ is double division): bucket
    // = max((len + w - 1) div w, 1)
    val withB = df
      .withColumn("__lenw", len + (bucketWidth - 1L))
      .withColumn("bucket",
        greatest(expr(s"__lenw DIV ${bucketWidth}L"), lit(1L)).cast("int"))
      .drop("__lenw")
      .withColumn("padded_len", col("bucket").cast("long") * bucketWidth)
      .withColumn("__perb",
        greatest(expr(s"${capacity}L DIV padded_len"), lit(1L)))
    val n = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    val ranged = Checkpoint.materialize(
      withB.repartitionByRange(n, col("bucket"), col(orderCol))
        .withColumn("__pid", spark_partition_id()))
    // one row per (partition, bucket): count -> cumulative offset of the
    // bucket's rows in EARLIER partitions; driver state O(parallelism +
    // buckets), never O(rows) — the prefixSum discipline
    val totals = ranged.groupBy(col("__pid"), col("bucket"))
      .agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val offsets = totals.groupBy(_._2).iterator.flatMap { case (b, rows) =>
      val sorted = rows.sortBy(_._1)
      sorted.map(_._3).scanLeft(0L)(_ + _).init.zip(sorted).map {
        case (off, (pid, _, _)) => (pid, b, off)
      }
    }.toSeq
    val offDf = df.sparkSession.createDataFrame(offsets)
      .toDF("__pid", "bucket", "__boff")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid"), col("bucket")).orderBy(col(orderCol))
    ranged.join(offDf, Seq("__pid", "bucket"))
      .withColumn("__rk",
        row_number().over(w).cast("long") - 1L + col("__boff"))
      .withColumn("batch_in_bucket", expr("__rk DIV __perb"))
      .withColumn("seq_in_batch", (col("__rk") % col("__perb")).cast("int"))
      .drop("__pid", "__boff", "__rk", "__perb")
  }

  /** FIRST-FIT-DECREASING batch layout (the Multipack sampler's published
    * packing, VERDICT r18 #4) — the density step past
    * [[lengthBucketBatches]]: instead of padding every document to its
    * bucket edge, documents are sorted by (length desc, id) and greedily
    * first-fit into token-capacity batches, mixing lengths so a batch's
    * unused budget is whatever no remaining document could fill — never
    * the bucket-width rounding. No truncation: a document LONGER than
    * `capacity` opens its own batch, and since nothing else can ever fit
    * beside it, oversize isolation emerges from first-fit itself.
    *
    * Deterministic, replayable variant: exact FFD is a sequential scan, so
    * the greedy runs GROUP-LOCALLY — global rank by (len desc, id) via the
    * [[prefixSum]] two-phase discipline (range repartition + O(parallelism)
    * driver offsets + per-partition window, NO global-order window), then
    * `group = rank div groupDocs` and an EXACT first-fit-decreasing fold
    * inside each bounded group (`groupDocs` ≤ a few hundred). Because the
    * rank order is length-sorted, a group's documents are mutually
    * similar-length — exactly the regime where FFD's 11/9·OPT+1 bound is
    * tight — and the group boundary costs at most one underfull batch per
    * group. Every seat assignment is pure integer/array algebra
    * (an `aggregate` HOF fold carrying per-batch fills, O(groupDocs²)
    * worst case per group), so a SQL engine replays it step for step.
    *
    * Output: input + `pack_group`, `batch_in_group` (0-based within the
    * group; `(pack_group, batch_in_group)` is the global batch key).
    * Scale shape: the groupBy moves (rank, id, len) triples only — the
    * corpus text never rides the packing shuffle — and the final
    * assignment joins back on the id (the q174/tokenLossMask discipline).
    * ExtSpec pins: no batch over capacity except a lone oversize doc,
    * every doc seated exactly once, and batch count ≤
    * [[lengthBucketBatches]]'s on the same fixture. */
  def binPackBatches(df: DataFrame, idCol: String, lenCol: String,
                     capacity: Long, groupDocs: Int = 64): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    require(groupDocs >= 1, s"groupDocs must be >= 1, got $groupDocs")
    requireFresh(df, "binPackBatches", "pack_group", "batch_in_group",
      "__ord", "__pid", "__rk", "__g", "__len", "__items", "__a")
    val idType = df.schema(idCol).dataType.sql
    val len = coalesce(col(lenCol).cast("long"), lit(0L))
    val n = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    // phase 1: global (len desc, id) rank, two-phase — the struct key makes
    // the range split unique so ties cannot straddle partitions
    val keyed = df.select(col(idCol), len.as("__len"))
      .withColumn("__ord", struct((-col("__len")).as("s"),
        col(idCol).as("i")))
    val ranged = Checkpoint.materialize(
      keyed.repartitionByRange(n, col("__ord"))
        .withColumn("__pid", spark_partition_id()))
    val totals = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft(0L)(_ + _._2).init
      .zip(totals).map { case (off, (pid, _)) => (pid, off) }
    val offDf = df.sparkSession.createDataFrame(offsets.toSeq)
      .toDF("__pid", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("__ord"))
    val ranked = ranged.join(offDf, Seq("__pid"))
      .withColumn("__rk", row_number().over(w).cast("long") - 1L + col("__off"))
      .withColumn("__g", expr(s"CAST(__rk DIV ${groupDocs}L AS INT)"))
      .select(col("__g"), col("__rk"), col(idCol), col("__len"))
    // phase 2: exact FFD inside each bounded group — the fold state is
    // (per-batch fills, seat assignments); first fit = the first batch
    // index whose fill still accommodates the document
    val zero = struct(
      array().cast("array<bigint>").as("fills"),
      array().cast(s"array<struct<id:$idType,b:int>>").as("asg"))
    def ffd(items: Column): Column = aggregate(items, zero, (a, it) => {
      val fills = a.getField("fills")
      val l = it.getField("__len")
      // indexes of batches with room (transform's index lambda — never
      // sequence(0, size-1), which DESCENDS on an empty array)
      val fits = filter(transform(fills, (f, j) =>
        when(f + l <= lit(capacity), j).otherwise(lit(-1))), x => x >= 0)
      val b = when(size(fits) > 0, element_at(fits, 1))
        .otherwise(size(fills))
      val newFills = when(size(fits) > 0,
          transform(fills, (f, j) =>
            when(j === element_at(fits, 1), f + l).otherwise(f)))
        .otherwise(concat(fills, array(l)))
      struct(newFills.as("fills"),
        concat(a.getField("asg"),
          array(struct(it.getField(idCol).as("id"),
            b.cast("int").as("b")))).as("asg"))
    })
    val seated = ranked
      .groupBy(col("__g"))
      .agg(sort_array(collect_list(
        struct(col("__rk"), col(idCol), col("__len")))).as("__items"))
      .select(col("__g").as("pack_group"),
        explode(ffd(col("__items")).getField("asg")).as("__a"))
      .select(col("__a.id").as(idCol), col("pack_group"),
        col("__a.b").as("batch_in_group"))
    df.join(seated, Seq(idCol))
  }

  /** Per-chunk `position_ids` for a packed sequence — the standard
    * companion to [[packTokenArrays]]'s `doc_spans`: positions restart at
    * 0 for every document segment (0..len−1 per span, concatenated in
    * span order), which is what packed-attention trainers feed RoPE /
    * learned position embeddings so a document's positions don't depend
    * on where in the chunk it landed. Pure per-row arithmetic over the
    * spans column (the spans tile the chunk), no shuffle. */
  def packedPositionIds(spansCol: Column): Column =
    flatten(transform(spansCol,
      // guard len = 0: sequence(0, -1) auto-descends to [0, -1] (the
      // Spark gotcha) — packTokenArrays never emits empty segments, but
      // hand-built spans must degrade to an empty segment, not corrupt
      // positions
      sp => when(sp.getField("len") >= 1L,
          sequence(lit(0L), sp.getField("len") - 1))
        .otherwise(array().cast("array<bigint>"))))

  /** Greedy token-budget selection: fill a training budget with the
    * best-scored documents first — order by (`scoreCol` desc, `idCol` asc),
    * keep the maximal prefix whose cumulative `tokenCol` stays within
    * `budget`. The standard "top up to N tokens by quality" curation step
    * (budget-constrained pretraining mixes); PREFIX semantics, not
    * knapsack: the first overflowing document and everything after it are
    * dropped, which is what makes the keep set deterministic and
    * order-replayable. Appends `cum_tokens` to the survivors.
    *
    * Scale shape: inherits [[prefixSum]]'s two-phase form on a synthesized
    * unique (−score, id) range key — range repartition, per-partition
    * window, O(parallelism) driver offsets. No global-order window, no
    * driver-side keep set. */
  def selectUnderTokenBudget(df: DataFrame, idCol: String, tokenCol: String,
                             scoreCol: String, budget: Long): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    requireFresh(df, "selectUnderTokenBudget", "cum_tokens", "__ord")
    val ordered = df.withColumn("__ord",
      struct((-col(scoreCol)).as("s"), col(idCol).as("i")))
    prefixSum(ordered, "__ord", tokenCol, "cum_tokens")
      .filter(col("cum_tokens") <= budget)
      .drop("__ord")
  }

  /** Source-level quality gate ("drop spammy domains"): aggregate integer
    * quality points per source, keep documents whose source's mean is at or
    * above the bar. Returns the gated corpus with `avg_points` and
    * `src_docs` attached. The mean is `sum(int)/count` — fold-order-exact,
    * see [[TextStats.qualityPoints]] — so the threshold comparison is
    * reproducible across engines and partitionings. One aggregate shuffle on
    * the source key (map-side combine applies) plus a join back against the
    * one-row-per-source stats table (AQE broadcasts it when it fits). */
  def sourceQualityGate(df: DataFrame, srcCol: String, textCol: String,
                        minAvgPoints: Double): DataFrame = {
    val stats = df
      .select(col(srcCol), TextStats.qualityPoints(col(textCol)).as("__pts"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("src_docs"), sum(col("__pts")).as("__sum"))
      .withColumn("avg_points", col("__sum").cast("double") / col("src_docs"))
      .filter(col("avg_points") >= minAvgPoints)
      .select(col(srcCol).as("__src"), col("src_docs"), col("avg_points"))
    // null-safe join: sourceless documents form their own group and are
    // gated on that group's mean like any other — a null-unsafe key would
    // silently drop them all regardless of quality
    df.join(stats, col(srcCol) <=> col("__src")).drop("__src")
  }

  /** PII patterns for [[redactPii]]. Deliberately RE2-compatible (no
    * lookarounds, no backreferences): they compile identically under
    * Spark's java.util.regex and RE2-family engines, and on these
    * character-class shapes leftmost-greedy matching agrees across both —
    * which is what lets the q69 oracle replay the redaction verbatim in
    * another engine. Patterns are applied in declaration order; counts are
    * measured on the ORIGINAL text per pattern, so a string matched by two
    * patterns counts once in each. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("n_emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("n_ips", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("n_phones", "\\+?[0-9]{3}-[0-9]{3,4}-[0-9]{4}", "<PHONE>"))

  /** PII redaction — the scrub every shipped training corpus runs: emails,
    * IPv4 addresses and dashed phone numbers are replaced with typed
    * placeholder tokens, and a per-pattern match count is attached (the
    * count is the audit signal: "how much PII did this source carry" feeds
    * source gating and compliance reporting). Pure per-row projection —
    * codegen'd `regexp_replace`/`regexp_extract_all`, no shuffle, no UDF —
    * so it rides any scan at 100 TB. IPv4 is replaced before phones so the
    * dashed-phone pattern can never bridge a replaced token; email first so
    * its local part (which may contain dots and digits) is consumed before
    * the IP pattern looks at the text. */
  def redactPii(df: DataFrame, textCol: String,
                outCol: String = "text_redacted"): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (_, re, token)) => regexp_replace(c, re, token)
    }
    PiiPatterns.foldLeft(df.withColumn(outCol, redacted)) {
      case (d, (cnt, re, _)) =>
        d.withColumn(cnt, size(regexp_extract_all(col(textCol), lit(re), lit(0))))
    }
  }

  /** C4-style boilerplate LINE removal: a line whose normalized form occurs
    * in at least `minDocs` DISTINCT documents is boilerplate (headers,
    * footers, cookie banners, nav chrome) and is dropped from every
    * document; the survivors are reassembled in original line order.
    * Returns (id, `outCol` cleaned text, n_lines_kept, n_lines_dropped) —
    * a doc that was ALL boilerplate survives with an empty string (the
    * caller decides whether zero-line docs live; silently deleting rows
    * would make this operator change corpus membership, which belongs to
    * the dedup/gating terminals).
    *
    * Scale shape: explode to (doc, idx, line) → ONE aggregate on the line
    * hash (map-side combine; count DISTINCT docs approximated exactly by
    * first collapsing (line, doc) — two skinny shuffles of hashes, never
    * text) → broadcast-or-shuffle semi-join of the small boilerplate set
    * back onto the exploded lines → one groupBy(doc) to reassemble.
    * Line identity is the xxhash64 of the trimmed line, so the wide text
    * column never shuffles — only at reassembly do kept lines move, and
    * they move exactly once. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             minDocs: Int, outCol: String = "text_clean",
                             delim: String = "\n"): DataFrame = {
    // posexplode_outer: a null-text doc (split → null array) still emits one
    // (null idx, null line) row, so the doc SURVIVES the final groupBy as
    // ("", 0 kept, 0 dropped) instead of silently vanishing — membership
    // changes belong to the dedup/gating terminals, not here. The null line
    // gets a null hash (not xxhash64's seed constant, which would alias all
    // null-text docs onto one countable "line") so it can never be flagged.
    val lines = df
      .select(col(idCol), posexplode_outer(split(col(textCol), java.util.regex.Pattern.quote(delim))))
      .withColumnRenamed("pos", "__idx").withColumnRenamed("col", "__line")
      .withColumn("__lh", when(col("__line").isNotNull, xxhash64(trim(col("__line")))))
    // distinct docs per line value: collapse (line, doc) first — both
    // aggregates get map-side combine and carry only (hash, id) pairs
    val boiler = lines.select(col("__lh"), col(idCol))
      .filter(col("__lh").isNotNull).distinct()
      .groupBy(col("__lh")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__lh").as("__boiler_lh"))
    val flagged = lines.join(boiler, col("__lh") === col("__boiler_lh"),
        "left").withColumn("__drop", col("__boiler_lh").isNotNull)
    flagged.groupBy(col(idCol))
      .agg(
        // sort by line index, keep survivors in order; array_sort on the
        // (idx, line) struct orders by idx first — deterministic reassembly
        concat_ws(delim,
          expr("transform(array_sort(collect_list(CASE WHEN __line IS NOT NULL AND NOT __drop THEN struct(__idx, __line) END)), s -> s.__line)"))
          .as(outCol),
        sum(when(col("__line").isNotNull && !col("__drop"), 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(col("__line").isNotNull && col("__drop"), 1L).otherwise(0L)).as("n_lines_dropped"))
  }

  /** CCNet-normalized paragraph identity (Wenzek et al. 2019 §4.1: lowercase,
    * strip everything but letters and whitespace — their digit/punctuation
    * removal — collapse runs): md5 so the key is fixed-width and replays in
    * SQL like [[TextStats.fingerprint]]. Note the digit strip is aggressive
    * by design: "chapter 1" and "chapter 2" are the same paragraph to CCNet. */
  def paragraphKey(p: Column): Column =
    md5(regexp_replace(
      regexp_replace(lower(trim(p)), "[^\\p{L}\\s]+", ""), "\\s+", " "))

  // 1:1 codepoint accent-fold table for [[ccnetNormalize]]: the Latin-1/
  // Latin-Extended lowercase forms (input is lowercased first, so only
  // lowercase forms are needed). Multi-char expansions (œ→oe, æ→ae, ß→ss)
  // are deliberately excluded — translate is strictly 1:1, and keeping the
  // mapping 1:1 is what lets any ANSI engine replay it verbatim.
  private val AccentFrom = "àáâãäåèéêëìíîïòóôõöøùúûüçñýÿ"
  private val AccentTo   = "aaaaaaeeeeiiiioooooouuuucnyy"

  /** CCNet's text normalization (Wenzek et al. 2019 — the `text_normalizer`
    * step applied before both its paragraph hashing and its LM scoring):
    * lowercase → 1:1 accent fold → every digit to `0` → strip everything
    * that is not a letter, digit, or whitespace → collapse whitespace runs.
    * One deterministic scalar expression — no UDF, fully codegen'd, and
    * replayable in ANSI SQL (`translate` + three `regexp_replace`) so
    * normalized-identity dedup keys compare bit-identically across engines.
    * Use it as the pre-hash key transform wherever "same text up to
    * case/accents/digits/punctuation" is the identity you want — e.g.
    * `Dedup.exact` on a pre-normalized column, or [[paragraphKey]]'s
    * stricter letters-only cousin. */
  /** HTML → text extraction — the crawl FRONT-END stage ahead of
    * [[removeBoilerplateLines]]/[[ccnetNormalize]]: drop `<script>`/`<style>`
    * subtrees and HTML comments, strip every remaining tag, decode the
    * seven entities that dominate web text (`&amp;` LAST, the one-pass
    * convention: `&amp;lt;` decodes to the literal `&lt;`, not `<`),
    * collapse whitespace. A regex-chain extractor in the C4 lineage — NOT
    * a DOM parser: malformed markup degrades to extra whitespace, never an
    * exception, and a plain-text `<...>` run is treated as a tag (the
    * documented trade of tag-blind extraction). Pure codegen'd column
    * expression (four `regexp_replace` + literal `replace`s, zero shuffle,
    * no UDF); every pattern is RE2-safe (inline `(?is)` + non-greedy, no
    * lookahead) so an ANSI-SQL engine replays it verbatim. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(coalesce(html, lit("")),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def ccnetNormalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          translate(lower(trim(coalesce(text, lit("")))), AccentFrom, AccentTo),
          "[0-9]", "0"),
        "[^\\p{L}\\p{N}\\s]", ""),
      "\\s+", " "))

  /** CCNet-style corpus-wide paragraph dedup: every repeated paragraph
    * (under [[paragraphKey]] identity) is dropped except its FIRST
    * occurrence — first in global (id, position) order, deterministic and
    * SQL-replayable. Returns one row per input document (membership is
    * preserved, matching [[removeBoilerplateLines]]'s contract — a doc
    * whose every paragraph was a repeat survives with `outCol` empty and
    * `para_kept` 0; corpus-membership decisions belong to the caller):
    * (original columns, `outCol` deduped text, `para_total`, `para_kept`).
    * Blank/whitespace-only segments are dropped from the reassembly and
    * not counted — the same blank-structure collapse C4/CCNet apply.
    *
    * Scale shape: explode to (id, idx, paragraph) → row_number window on
    * the paragraph key (ONE hash shuffle; blank segments are salted onto
    * per-doc keys so a blank-heavy corpus cannot funnel them into one
    * null-key partition) → groupBy(id) reassembly in original order. The
    * paragraph text rides both shuffles — unlike
    * [[removeBoilerplateLines]]'s hash-only aggregate this op must move
    * text to its winner decision — but each row moves exactly twice and
    * nothing is ever O(corpus²). */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      outCol: String = "text_dedup",
                      delim: String = "\n"): DataFrame = {
    val paras = df
      .select(col(idCol),
        posexplode_outer(split(col(textCol), java.util.regex.Pattern.quote(delim))))
      .withColumnRenamed("pos", "__idx").withColumnRenamed("col", "__para")
      .withColumn("__live",
        col("__para").isNotNull && length(trim(col("__para"))) > 0)
      // non-live rows get a per-doc salt key: they take no part in dedup,
      // and must not all land in one null-key window partition
      .withColumn("__pk", when(col("__live"), paragraphKey(col("__para")))
        .otherwise(concat(lit("\u0000"), col(idCol).cast("string"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pk")).orderBy(col(idCol), col("__idx"))
    val kept = paras
      .withColumn("__keep", col("__live") && row_number().over(w) === 1)
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        concat_ws(delim,
          expr("transform(array_sort(collect_list(CASE WHEN __keep THEN struct(__idx, __para) END)), s -> s.__para)"))
          .as(outCol),
        sum(when(col("__live"), 1L).otherwise(0L)).as("para_total"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("para_kept"))
    df.join(rebuilt, Seq(idCol), "left")
  }
}
