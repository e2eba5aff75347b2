package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, and fingerprinting. All are pure
  * codegen'd column expressions — no UDFs — so they stay inside whole-stage
  * codegen and scale linearly over a 100 TB corpus scan. (Beyond the
  * reference surface; required by the build brief.)
  */
object TextStats {

  /** Whitespace tokens of the lowercased, trimmed text. `\x0B` (vertical
    * tab) is normalized to ' ' first: it is the ONE character where Java's
    * ASCII `\s` (this split) and RE2's `\s` (the DuckDB oracles'
    * `string_split_regex`) disagree, so without the normalization a corpus
    * document containing a vertical tab would tokenize differently on the
    * two sides — a false oracle failure, not silent wrongness. Oracle-side
    * coverage (ADVICE r18): the shared helpers (ExtQueries' `docToks` /
    * `docToksC`) AND every query-local replay that tokenizes raw document
    * text apply the same `replace(text, chr(11), ' ')` before the split;
    * replays tokenizing fixture-SYNTHESIZED text (token lines re-joined
    * with spaces/newlines) need no replace because the synthesis itself
    * runs on normalized tokens. [[fingerprint]]'s whitespace COLLAPSE is
    * a separate surface: it mirrors Java `\s+` semantics as closely as
    * RE2 allows and is exact on corpora free of `\x0B` (the oracle
    * replays it without the replace — trim-edge semantics differ between
    * the engines either way). */
  def tokens(text: Column): Column =
    split(lower(trim(translate(text, "\u000B", " "))), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pre-tokenization pattern (the GPT-2 family's splitter, minus
    * lookahead so the same pattern runs on RE2-based engines too): English
    * contractions, optionally-space-prefixed letter runs, digit runs,
    * punctuation runs, and residual whitespace. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish subword-boundary tokens (pre-tokenizer granularity — the unit a
    * byte-pair encoder would merge within). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Token count at BPE pre-tokenizer granularity, excluding pure-whitespace
    * matches — the cheap corpus-scale proxy for "how many tokens will this
    * document cost" ahead of real BPE merging. */
  def bpeTokenCount(text: Column): Column =
    size(filter(bpeTokens(text), t => !t.rlike("^\\s+$")))

  /** Count of tokens that appear in `words`. */
  def wordHits(text: Column, words: Seq[String]): Column = {
    val dict = array(words.map(lit): _*)
    size(filter(tokens(text), t => array_contains(dict, t)))
  }

  val enStop = Seq("the", "and", "of", "to", "a", "is", "in", "for", "on", "with")
  val deStop = Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit")
  val frStop = Seq("le", "la", "les", "et", "est", "un", "une", "pour")
  val esStop = Seq("el", "los", "las", "y", "es", "un", "una", "por")

  def punctCount(text: Column): Column = regexp_count(text, lit("[.,!?;:]"))

  /** Heuristic quality score in [0,1]: length band + stopword presence +
    * punctuation sanity. Pure integer comparisons and constant additions, so
    * bit-reproducible everywhere. */
  def qualityScore(text: Column): Column = {
    val tc = tokenCount(text)
    val sw = wordHits(text, enStop).cast("double") / tc
    val pr = punctCount(text).cast("double") / length(text)
    (when(tc.between(30, 500), 0.5).otherwise(0.0)
      + when(sw >= 0.05, 0.3).otherwise(0.0)
      + when(pr <= 0.1, 0.2).otherwise(0.0))
  }

  /** [[qualityScore]] ×10 as an INTEGER (0..10) — the form to aggregate at
    * corpus scale: integer sums are associative, so per-source means
    * (`sum(points)/count`) are bit-identical regardless of partition fold
    * order, where a double `avg(quality)` would drift in the last bit and
    * make cross-engine threshold comparisons flaky. */
  def qualityPoints(text: Column): Column = {
    val tc = tokenCount(text)
    val sw = wordHits(text, enStop).cast("double") / tc
    val pr = punctCount(text).cast("double") / length(text)
    (when(tc.between(30, 500), 5).otherwise(0)
      + when(sw >= 0.05, 3).otherwise(0)
      + when(pr <= 0.1, 2).otherwise(0)).cast("int")
  }

  /** Word n-grams of a token array — NON-distinct and order-preserving
    * (contrast [[Dedup.shinglesOfTokens]], which is the distinct SET form):
    * repetition metrics need the multiset. Empty array when the document is
    * shorter than n. */
  def ngramsOfTokens(t: Column, n: Int): Column =
    bound(t) { ts =>
      when(size(ts) >= n,
        transform(sequence(lit(0), size(ts) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(ts, i + j + 1)): _*)))
        .otherwise(slice(ts, 1, 0)) }

  /** Evaluate `c` exactly ONCE per row and hand the result to `f` as a
    * lambda-BOUND variable. Higher-order-function lambdas are interpreted
    * with no common-subexpression elimination, so a plain Column reference
    * inside one is re-evaluated on every element access — an inline
    * `split(text)` under an n-gram transform is O(tokens²) regex work per
    * document (intractable for a book-length outlier). Wrapping in a
    * 1-element array and transforming binds the materialized value once;
    * callers that pass an already-projected attribute pay only a trivial
    * per-row array wrap. */
  private[graft] def bound(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Gopher-style repetition metrics, per document:
    *   - `dup_word_frac`     — fraction of tokens that are repeats of an
    *     earlier token: (n − n_distinct) / n
    *   - `top_bigram_frac`   — fraction of word bigrams covered by the single
    *     most frequent bigram (boilerplate/chant detector)
    *   - `dup_trigram_frac`  — fraction of word trigrams that are repeats
    *
    * All ratios divide integers derived from the same arrays, so values are
    * bit-identical across engines. Pure per-row column expressions — no
    * shuffle, no UDF; the nested count inside `top_bigram_frac` is
    * O(distinct·n) per document, bounded by document length (rows are
    * independent, so a 100 TB scan stays embarrassingly parallel).
    * Documents shorter than the n-gram order yield null for that metric. */
  def repetitionStats(df: DataFrame, textCol: String): DataFrame = {
    // max frequency = longest equal run of the SORTED array: one O(n log n)
    // sort + one linear fold, vs the naive O(distinct·n) count-per-distinct
    // nest (HOF lambdas are interpreted, so the quadratic form costs real
    // time on long documents — measured 2.5× on the 5k-doc bench corpus).
    // prev starts NULL so the first element's comparison is null → run 1
    // (an empty-string gram would false-match a "" sentinel).
    val topFrac = (g: Column) => when(size(g) > 0, {
      val best = aggregate(array_sort(g),
        struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
          lit(0).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(lit(1))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      best.cast("double") / size(g)
    })
    val dupFrac = (g: Column) => when(size(g) > 0,
      (size(g) - size(array_distinct(g))).cast("double") / size(g))
    // each projection materializes the array the next one consumes, so the
    // regex split / n-gram build run once per row (CollapseProject keeps
    // non-cheap expressions referenced many times in their own projection)
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("__bg", ngramsOfTokens(col("__toks"), 2))
      .withColumn("__tg", ngramsOfTokens(col("__toks"), 3))
      .withColumn("dup_word_frac", dupFrac(col("__toks")))
      .withColumn("top_bigram_frac", topFrac(col("__bg")))
      .withColumn("dup_trigram_frac", dupFrac(col("__tg")))
      .drop("__toks", "__bg", "__tg")
  }

  /** [[repetitionStats]] as a terminal — the Gopher-style repetition gates
    * (Rae et al. 2021 filter on duplicate/top-n-gram fractions; thresholds
    * here apply to THIS engine's three metrics, defaults in the paper's
    * spirit): keep documents whose duplicate-word, top-bigram and
    * duplicate-trigram fractions are all at or under their thresholds.
    * A NULL metric (document too short to have that n-gram) PASSES its rule
    * — absence of evidence is not repetition; the short-doc gate is
    * [[gopherStats]]'s word-count rule, not this one. Original columns
    * only; zero shuffles. */
  def repetitionFilter(df: DataFrame, textCol: String,
                       maxDupWord: Double = 0.5,
                       maxTopBigram: Double = 0.2,
                       maxDupTrigram: Double = 0.3): DataFrame =
    pinnedFilter(repetitionStats(df, textCol),
      coalesce(col("dup_word_frac") <= maxDupWord, lit(true)) &&
        coalesce(col("top_bigram_frac") <= maxTopBigram, lit(true)) &&
        coalesce(col("dup_trigram_frac") <= maxDupTrigram, lit(true)))
      .select(df.columns.map(col): _*)

  /** N-gram-heuristic language ID: stopword hit counts per language, argmax
    * with deterministic tie-break (en > de > fr > es). */
  def langId(text: Column): Column = {
    val en = wordHits(text, enStop)
    val de = wordHits(text, deStop)
    val fr = wordHits(text, frStop)
    val es = wordHits(text, esStop)
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Sentence-level language segmentation — the polyglot-page detector.
    * Whole-document language ID (q33) mislabels pages that interleave
    * languages (boilerplate in one, content in another — the case CCNet
    * handles by scoring at paragraph granularity, Wenzek et al. 2019 §3).
    * Splits on sentence punctuation (`[.!?]+` + following whitespace),
    * runs [[langId]] per segment, and appends
    *   - `n_segments` — non-blank sentence count
    *   - `seg_en`/`seg_de`/`seg_fr`/`seg_es` — segments claimed per language
    *   - `lang_major` — modal language ([[langId]]'s en>de>fr>es tie-break;
    *     null when the document has no segments)
    *   - `lang_major_frac` — modal share, an exact ratio of the integer
    *     counts (1.0 = monolingual; low = polyglot page)
    * Pure per-row column algebra, zero shuffles. Each projection pins the
    * array the next consumes (the repetitionStats HOF-no-CSE discipline),
    * so the sentence split and the per-segment langid run once per row. */
  def segmentLangStats(df: DataFrame, textCol: String): DataFrame = {
    val raw = split(coalesce(col(textCol), lit("")), "[.!?]+\\s*")
    val segs = filter(transform(raw, s => trim(s)), s => length(s) > 0)
    val n = col("n_segments")
    df.withColumn("__segs", segs)
      .withColumn("__langs", transform(col("__segs"), s => langId(s)))
      .withColumn("n_segments", size(col("__langs")).cast("long"))
      .withColumn("seg_en",
        size(filter(col("__langs"), l => l === "en")).cast("long"))
      .withColumn("seg_de",
        size(filter(col("__langs"), l => l === "de")).cast("long"))
      .withColumn("seg_fr",
        size(filter(col("__langs"), l => l === "fr")).cast("long"))
      .withColumn("seg_es",
        size(filter(col("__langs"), l => l === "es")).cast("long"))
      .withColumn("lang_major",
        when(n === 0, lit(null).cast("string"))
          .when(col("seg_en") >= col("seg_de") && col("seg_en") >= col("seg_fr") &&
            col("seg_en") >= col("seg_es"), "en")
          .when(col("seg_de") >= col("seg_fr") && col("seg_de") >= col("seg_es"), "de")
          .when(col("seg_fr") >= col("seg_es"), "fr")
          .otherwise("es"))
      .withColumn("lang_major_frac",
        when(n > 0,
          greatest(col("seg_en"), col("seg_de"), col("seg_fr"), col("seg_es"))
            .cast("double") / n.cast("double")))
      .drop("__segs", "__langs")
  }

  /** Canonical-form content fingerprint: md5 of whitespace-normalized
    * lowercase text. Stable across engines; the key for exact dedup. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling polynomial hash (Rabin-Karp style) over the normalized text —
    * an alternative cheap fingerprint with incremental-update structure.
    * One codegen'd character loop per row ([[graft.funcs.RollingHash]]:
    * `h = (h·131 + c) mod 2^31−1`), no per-character array materialization,
    * and the identical fold runs in ANSI SQL for the DuckDB oracle (q30). */
  def rollingHash(text: Column): Column = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    graft.funcs.VectorFunctions.rollingHash(norm)
  }

  /** REAL byte-pair encoding under a caller-supplied merges ranking
    * ([[graft.funcs.BpeCodec]] — GPT-2 `merges.txt` line format), closing
    * the gap [[bpeTokenCount]]'s pre-tokenizer estimate leaves: appends
    *   - `bpe_tokens` — the exact merged tokens (`array<string>`)
    *   - `bpe_count`  — their number (the true token cost)
    *   - `bpe_ids`    — vocabulary ids when `vocab` is non-empty
    *     (id = index in `vocab`, unknown → -1)
    * One codegen'd expression call per row, zero shuffles; the merges
    * table ships once per executor inside the expression, never per row.
    *
    * `byteLevel = true` runs a PRODUCTION byte-level tokenizer verbatim
    * from its released artifacts — load `(merges, vocab)` with
    * [[graft.funcs.BpeFiles]] from the public GPT-2-format `merges.txt` /
    * `vocab.json` pair; see [[graft.funcs.BpeCodec]] for the exact
    * discipline (GPT-2 pre-tokenizer regex, whitespace runs kept,
    * bytes→unicode base symbols). */
  def bpeStats(df: DataFrame, textCol: String,
               merges: Seq[String], vocab: Seq[String] = Nil,
               byteLevel: Boolean = false): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val base = df
      .withColumn("bpe_tokens",
        graft.funcs.BpeFunctions.bpeEncode(t, merges, byteLevel))
      .withColumn("bpe_count", size(col("bpe_tokens")))
    if (vocab.isEmpty) base
    else base.withColumn("bpe_ids",
      graft.funcs.BpeFunctions.bpeIds(t, merges, vocab, byteLevel))
  }

  /** WORDPIECE tokenization terminal (Devlin et al. 2019, BERT) — the
    * greedy longest-match sibling of [[bpeStats]]: appends
    *   - `wp_tokens` — the WordPiece tokens (`array<string>`, `##`
    *     continuations; a word with any unmatched position is WHOLLY the
    *     `unk` token, BERT's is_bad rule)
    *   - `wp_count`  — their number
    *   - `wp_ids`    — vocabulary ids (id = index in `vocab`)
    * One codegen'd expression call per row, zero shuffles; the vocabulary
    * ships once per executor inside the expression
    * ([[graft.funcs.WordPieceCodec]] — uncased lowercase + BERT's
    * per-char punctuation split; compose with
    * [[graft.funcs.TextFunctions.stripAccents]] for accent-stripped
    * vocabularies). */
  def wordPieceStats(df: DataFrame, textCol: String, vocab: Seq[String],
                     unk: String = "[UNK]", maxWordLen: Int = 100,
                     lower: Boolean = true): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    df.withColumn("wp_tokens",
        graft.funcs.WordPieceFunctions.wordPieceEncode(t, vocab, unk,
          maxWordLen, lower))
      .withColumn("wp_count", size(col("wp_tokens")))
      .withColumn("wp_ids",
        graft.funcs.WordPieceFunctions.wordPieceIds(t, vocab, unk,
          maxWordLen, lower))
  }

  /** The WordPiece pre-tokenizer as a Column (lowercased letter runs /
    * digit runs / single punctuation chars — BERT's split; must mirror
    * [[graft.funcs.WordPieceCodec]]'s `preTok` exactly so training and
    * tokenization share one word space). */
  private[graft] def wordPiecePreTokens(text: Column): Column =
    regexp_extract_all(lower(coalesce(text, lit(""))),
      lit("\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]"), lit(0))

  /** WORDPIECE TRAINING — the likelihood-scored merge induction behind
    * BERT's vocabulary (Schuster & Nakajima 2012; the HF `tokenizers`
    * WordPiece trainer): like [[bpeTrain]]'s Sennrich loop, but each
    * iteration selects the admissible pair maximizing
    * `count(pair) / (count(a) · count(b))` — the exact pair-vs-parts
    * likelihood-gain ratio — instead of the raw pair count, and the
    * merged symbol keeps WordPiece's word-internal `##` marking
    * (`a + strip##(b)`, so `un + ##af → unaf`, `##a + ##b → ##ab`).
    *
    * Distribution shape is [[bpeTrain]]'s verbatim: ONE word-frequency
    * aggregate capped to the `maxWords` most frequent under the
    * deterministic (freq desc, word) order, one UNCAPPED distinct-chars
    * aggregate (so out-of-cap characters still get vocabulary entries —
    * the r12 discipline), and a driver merge loop over the bounded table
    * with incremental pair/symbol counts and pair→word postings — O(words
    * containing the pair) per merge. Scores compare EXACTLY via BigInt
    * cross-multiplication (`c₁·a₂·b₂ vs c₂·a₁·b₁` — no double division,
    * so training is bit-reproducible and the DuckDB oracle can replay
    * every selection with HUGEINT arithmetic), ties break on (a, b)
    * lexicographic; only pairs with `count >= minPairCount` are
    * candidates, and training stops early when none remain.
    *
    * Returns the vocabulary [[wordPieceStats]] consumes directly:
    * `unk` +: base chars (sorted, word-initial forms) ++ their `##`
    * continuation forms ++ merge outputs in selection order —
    * `wordPieceStats(df, c, wordPieceTrain(df, c, k))` is the full
    * train→tokenize pipeline. Note the WordPiece design splits here:
    * training is merge-based, tokenization is greedy longest-match over
    * the resulting vocabulary (not a merge replay). */
  def wordPieceTrain(df: DataFrame, textCol: String, numMerges: Int,
                     maxWords: Int = 100000, minPairCount: Long = 2L,
                     unk: String = "[UNK]"): Seq[String] =
    wordPieceTrainFull(df, textCol, numMerges, maxWords, minPairCount, unk)._2

  /** [[wordPieceTrain]] returning BOTH artifacts: (merge pairs in
    * selection order, vocabulary) — the pairs feed the oracle's inductive
    * selection replay and training audits. */
  def wordPieceTrainFull(df: DataFrame, textCol: String, numMerges: Int,
                         maxWords: Int = 100000, minPairCount: Long = 2L,
                         unk: String = "[UNK]"): (Seq[(String, String)], Seq[String]) = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val wordsDf = df.select(explode(wordPiecePreTokens(col(textCol))).as("w"))
    val words = wordsDf
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val baseChars = wordsDf
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("c"))
      .distinct().collect().map(_.getString(0)).sorted
    def strip(s: String) = if (s.startsWith("##")) s.substring(2) else s
    // reps split by CODE POINTS: [c1, ##c2, ##c3, ...]
    def repOf(w: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var ci = 0
      while (ci < w.length) {
        val cc = Character.charCount(w.codePointAt(ci))
        val c = w.substring(ci, ci + cc)
        out += (if (ci == 0) c else "##" + c)
        ci += cc
      }
      out.toArray
    }
    def mergeAll(syms: Array[String], a: String, b: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += a + strip(b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }
    val reps = words.map { case (w, n) => (repOf(w), n) }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def bump[K](m: scala.collection.mutable.HashMap[K, Long], k: K, d: Long): Unit = {
      val nv = m.getOrElse(k, 0L) + d
      if (nv == 0L) m.remove(k) else m.update(k, nv)
      ()
    }
    def add(idx: Int, syms: Array[String], n: Long, sign: Long): Unit = {
      var i = 0
      while (i < syms.length) {
        bump(symCounts, syms(i), sign * n)
        if (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          bump(counts, k, sign * n)
          // postings track CONTAINMENT: the subtract pass strips every old
          // pair of this word, the re-add pass restores the current ones
          if (sign > 0)
            where.getOrElseUpdate(k, scala.collection.mutable.Set.empty) += idx
          else where.get(k).foreach(_.remove(idx))
        }
        i += 1
      }
    }
    reps.zipWithIndex.foreach { case ((syms, n), i) => add(i, syms, n, 1L) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var stop = false
    while (merges.length < numMerges && !stop) {
      // argmax of c/(ca·cb) over pairs with c >= minPairCount — exact
      // BigInt cross-multiplication, (a, b) lexicographic tie-break
      val cands = counts.iterator.filter(_._2 >= minPairCount)
      var best: ((String, String), Long, BigInt) = null
      cands.foreach { case (k @ (a, b), c) =>
        val denom = BigInt(symCounts(a)) * BigInt(symCounts(b))
        if (best == null) best = (k, c, denom)
        else {
          val l = BigInt(c) * best._3
          val r = BigInt(best._2) * denom
          if (l > r || (l == r &&
              (a < best._1._1 || (a == best._1._1 && b < best._1._2))))
            best = (k, c, denom)
        }
      }
      if (best == null) stop = true
      else {
        val (a, b) = best._1
        merges += ((a, b))
        val affected = where.getOrElse((a, b), Nil).toArray
        affected.foreach { i =>
          val (syms, n) = reps(i)
          add(i, syms, n, -1L)
          val merged = mergeAll(syms, a, b)
          reps(i) = (merged, n)
          add(i, merged, n, 1L)
        }
      }
    }
    (merges.toSeq,
      (unk +: (baseChars ++ baseChars.map("##" + _))) ++
        merges.map { case (a, b) => a + strip(b) })
  }

  /** BPE TRAINING (Sennrich et al. 2016) — induce the merges ranking
    * [[bpeStats]] applies, from the corpus itself. The corpus-scale step is
    * distributed: one pre-token frequency aggregate (the same
    * [[BpePattern]] splitter and whitespace-run drop the apply side uses),
    * capped to the `maxWords` most frequent words under a deterministic
    * (freq desc, word) order — the word-table reduction every production
    * BPE trainer performs (HF tokenizers, fastText). The merge loop then
    * runs over that BOUNDED table on the driver (the k-means-centroid /
    * classifier-GD bounded-collect posture): per iteration, count adjacent
    * symbol pairs weighted by word frequency, take the most frequent pair
    * (ties broken lexicographically, so training is bit-reproducible), and
    * merge all its occurrences.
    *
    * Two deliberate deviations from the textbook loop, both documented
    * limits of the character-level codec rather than training choices:
    * pairs touching a whitespace-bearing symbol are never merged (a
    * space-containing merge line is unparseable in the `"left right"`
    * format — byte-level GPT-2 sidesteps this with the byte→unicode remap,
    * which [[graft.funcs.BpeCodec]] already declares the caller's job),
    * and training stops early when the best pair's corpus count drops
    * below `minPairCount` (merging hapax pairs only memorizes words).
    *
    * Returns (merges in GPT-2 rank order, vocab = sorted base symbols ++
    * merge outputs in rank order) — exactly the shapes [[bpeStats]]
    * consumes, so `bpeStats(df, c, m, v)` with `(m, v) = bpeTrain(...)`
    * is the full train→tokenize pipeline. */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
               maxWords: Int = 100000,
               minPairCount: Long = 2L): (Seq[String], Seq[String]) = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val words = df
      .select(explode(filter(bpeTokens(coalesce(col(textCol), lit(""))),
        t => !t.rlike("^\\s+$"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def mergeable(s: String) = !s.exists(_.isWhitespace)
    def mergeAll(syms: Array[String], a: String, b: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }
    val reps = words.map { case (w, n) => (w.map(_.toString).toArray, n) }
      .toArray
    // INCREMENTAL pair counts (the standard Sennrich trainer optimization):
    // maintain the weighted mergeable-pair counts and a pair → word-index
    // posting list, so each merge touches only the words CONTAINING the
    // merged pair instead of recounting the whole table — O(affected words)
    // per merge instead of O(merges × table), which is what lets numMerges
    // reach real vocabulary sizes (32k). The maintained map is additively
    // identical to a from-scratch recount (exact long arithmetic, entries
    // dropped at zero), so the selected merges are bit-identical to the
    // naive loop's (spec-asserted at numMerges = 200).
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def pairCountsOf(syms: Array[String]): scala.collection.mutable.HashMap[(String, String), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < syms.length - 1) {
        if (mergeable(syms(i)) && mergeable(syms(i + 1))) {
          val k = (syms(i), syms(i + 1))
          m.update(k, m.getOrElse(k, 0L) + 1L)
        }
        i += 1
      }
      m
    }
    def add(idx: Int, syms: Array[String], n: Long, sign: Long): Unit =
      pairCountsOf(syms).foreach { case (k, c) =>
        val nv = counts.getOrElse(k, 0L) + sign * c * n
        if (nv == 0L) { counts.remove(k); where.get(k).foreach(_.remove(idx)) }
        else {
          counts.update(k, nv)
          if (sign > 0)
            where.getOrElseUpdate(k, scala.collection.mutable.Set.empty) += idx
          else where.get(k).foreach(_.remove(idx))
        }
      }
    reps.zipWithIndex.foreach { case ((syms, n), i) => add(i, syms, n, 1L) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var stop = false
    while (merges.length < numMerges && !stop) {
      if (counts.isEmpty) stop = true
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), m) => (-m, x, y) }
        if (c < minPairCount) stop = true
        else {
          merges += s"$a $b"
          // only the posting list's words change; updates are additive, so
          // iteration order over the set cannot affect the final counts
          val affected = where.getOrElse((a, b), Nil).toArray
          affected.foreach { i =>
            val (syms, n) = reps(i)
            add(i, syms, n, -1L)
            val merged = mergeAll(syms, a, b)
            reps(i) = (merged, n)
            add(i, merged, n, 1L)
          }
        }
      }
    }
    // base symbols from the UNCAPPED corpus (one distinct-chars aggregate —
    // alphabet-sized, not vocabulary-sized), not from the maxWords-capped
    // word table: a character appearing only in words beyond the cap must
    // still get a vocabulary id at apply time instead of mapping to -1.
    // (Char granularity here is the regex engine's codepoint split; the
    // merge loop itself runs on UTF-16 units — identical for BMP text, and
    // the byte-level remap for anything wider is the caller's job per the
    // BpeCodec contract.)
    val baseSyms = df
      .select(explode(filter(bpeTokens(coalesce(col(textCol), lit(""))),
        t => !t.rlike("^\\s+$"))).as("w"))
      .select(explode(split(col("w"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val vocab = (baseSyms ++ merges.map(_.replace(" ", ""))).distinct
    (merges.toSeq, vocab.toSeq)
  }

  /** HTML → text extraction (the WET-style step in front of every crawl
    * pipeline — C4 and RefinedWeb start from extracted text, not markup):
    * drop `<script>`/`<style>` blocks and comments, strip remaining tags,
    * decode the common entities, collapse whitespace. Pure codegen'd
    * regexp/replace chain — zero shuffles, embarrassingly parallel — built
    * from RE2-SAFE constructs only (no backreferences, no \\Q\\E), so the
    * DuckDB oracle replays the identical chain. Entity decoding order is
    * load-bearing: `&amp;` is decoded LAST, otherwise `&amp;lt;` would
    * double-decode to `<`. This is a heuristic extractor (no DOM, no
    * boilerplate model — that is [[Corpus.removeBoilerplateLines]]'s job
    * downstream), which is exactly the WET/CC-extraction contract. */
  def extractHtmlText(html: Column): Column = {
    val noScript = regexp_replace(coalesce(html, lit("")),
      "(?is)<script[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Gopher-style quality-rule columns (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", table A1) —
    * the standard pre-training document filter, as per-rule AUDIT columns
    * plus one `gopher_pass` conjunction. Emitting every rule verdict (not
    * just the filter bit) is the corpus-curation posture: at 100 TB you tune
    * thresholds from the rule histogram, not by re-running the scan per
    * candidate threshold.
    *
    * Rules (thresholds are the paper's):
    *   - `r_word_count`    — 50 ≤ words ≤ 100 000
    *   - `r_mean_word_len` — mean word length in [3, 10]
    *   - `r_symbol_ratio`  — (# of `#` or `...`) / words ≤ 0.1
    *   - `r_bullet_lines`  — ≤ 90% of lines start with a bullet
    *   - `r_ellipsis_lines`— ≤ 30% of lines end with `...`/`…`
    *   - `r_alpha_words`   — ≥ 80% of words contain a letter
    *   - `r_stop_hits`     — ≥ 2 DISTINCT hits from the 8-word required list
    *
    * Every rule is a pure per-row column expression over the token/line
    * arrays (integer counts and one division each, so bit-reproducible and
    * SQL-replayable — the q82 DuckDB oracle recomputes all seven); the scan
    * stays embarrassingly parallel with zero shuffles. Null/empty text fails
    * `r_word_count` and passes nothing. */
  val gopherRequiredStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherStats(df: DataFrame, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val toks = tokens(t)
    val nWords = size(filter(toks, w => length(w) > 0))
    val charSum = aggregate(toks, lit(0L), (a, w) => a + length(w))
    val meanLen = when(nWords > 0, charSum.cast("double") / nWords)
    val nSymbols = regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines)
    val bulletFrac = when(nLines > 0,
      size(filter(lines, l => trim(l).rlike("^[-*•‣▪]")))
        .cast("double") / nLines)
    val ellipsisFrac = when(nLines > 0,
      size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$")))
        .cast("double") / nLines)
    val alphaFrac = when(nWords > 0,
      size(filter(toks, w => w.rlike("\\p{L}"))).cast("double") / nWords)
    val dict = array(gopherRequiredStop.map(lit): _*)
    val stopHits = size(filter(dict, s => array_contains(toks, s)))
    val out = df
      .withColumn("r_word_count", nWords.between(50, 100000))
      .withColumn("r_mean_word_len", coalesce(meanLen.between(3.0, 10.0), lit(false)))
      .withColumn("r_symbol_ratio",
        when(nWords > 0, nSymbols.cast("double") / nWords <= 0.1).otherwise(false))
      .withColumn("r_bullet_lines", coalesce(bulletFrac <= 0.9, lit(false)))
      .withColumn("r_ellipsis_lines", coalesce(ellipsisFrac <= 0.3, lit(false)))
      .withColumn("r_alpha_words", coalesce(alphaFrac >= 0.8, lit(false)))
      .withColumn("r_stop_hits", stopHits >= 2)
    out.withColumn("gopher_pass",
      Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio", "r_bullet_lines",
        "r_ellipsis_lines", "r_alpha_words", "r_stop_hits")
        .map(col).reduce(_ && _))
  }

  /** Filter `df` on `cond` WITHOUT letting the predicate be pushed below
    * the projections that computed `cond`'s inputs. `PushDownPredicates`
    * substitutes project aliases into the predicate with NO cost model
    * (unlike `CollapseProject`), so a filter over verdict columns built
    * from HOF expressions gets its whole token-array lineage inlined —
    * re-evaluated once per reference, interpreted, with no CSE — and then
    * pushed below any repartition onto the raw (often single-file) scan.
    * Measured on q89: 10.5 s vs 0.6 s for the same work. The always-true
    * nondeterministic conjunct makes the predicate non-pushable, pinning
    * it right above the materialized verdict projection: each metric
    * evaluates once, after the parallelizing exchange. A nondeterministic
    * CONJUNCT is not enough — the optimizer splits conjunctions and pushes
    * the deterministic conjuncts regardless of order — so the whole
    * predicate is wrapped under the nondeterministic guard (`CASE WHEN
    * partition_id >= 0 THEN cond ELSE false`): one un-splittable,
    * nondeterministic expression with `cond`'s exact semantics. */
  private[ext] def pinnedFilter(df: DataFrame, cond: Column): DataFrame =
    df.filter(when(spark_partition_id() >= 0, cond).otherwise(lit(false)))

  /** Pin an expensive column so the optimizer cannot inline it past its
    * projection — the PROJECTION-side twin of [[pinnedFilter]]. The case
    * that motivates it: a generator input. `posexplode(col("__g"))` with
    * `__g` a deterministic alias gets `__g`'s whole expression substituted
    * into the Generate, where it is re-evaluated per OUTPUT row — an
    * O(len²)-per-document blow-up when `__g` is an n-gram array (measured
    * on q90: 7.2 s → 0.7 s at sf0.1 for the explode stage alone). The
    * always-true nondeterministic guard makes the alias non-inlinable
    * while evaluating to exactly `c`. */
  private[graft] def pinnedCol(c: Column): Column =
    when(spark_partition_id() >= 0, c)

  /** [[gopherStats]] as a terminal filter: rows passing all seven rules,
    * original columns only. */
  def gopherFilter(df: DataFrame, textCol: String): DataFrame =
    pinnedFilter(gopherStats(df, textCol), col("gopher_pass"))
      .select(df.columns.map(col): _*)

  /** C4-style page cleaning (Raffel et al. 2020, §2.2): the line- and
    * page-level heuristics that built C4, as audit columns over the input.
    * Line level — a line survives into `clean_text` iff it ends in terminal
    * punctuation (`. ! ? "`), has ≥ 5 whitespace words, and does not contain
    * "javascript" (case-insensitive). Page level — `c4_keep` requires ≥ 3
    * sentences in the CLEANED text (sentence ≈ one `. ! ?` occurrence, the
    * deterministic stand-in for C4's sentence splitter), no "lorem ipsum",
    * no `{`, and zero hits from `blockWords` (C4's badword list is an
    * external artifact — callers supply their own; empty = rule off).
    *
    * Same posture as [[gopherStats]]: every verdict is a pure per-row
    * expression (the line arrays are materialized into their own projection
    * first — higher-order-function lambdas get no common-subexpression
    * elimination, so sharing `__lines`/`__kept` via columns is what keeps
    * the scan single-pass), zero shuffles, thresholds tunable from one
    * scan's histogram. Null text: zero lines, nothing kept, page dropped. */
  def c4Stats(df: DataFrame, textCol: String,
              blockWords: Seq[String] = Nil): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val toks = tokens(t)
    val blocked =
      if (blockWords.isEmpty) lit(0)
      else size(filter(array(blockWords.map(w => lit(w.toLowerCase)): _*),
        w => array_contains(toks, w)))
    df
      .withColumn("__lines", filter(split(t, "\n"), l => length(trim(l)) > 0))
      .withColumn("__kept", filter(col("__lines"), l =>
        trim(l).rlike("[.!?\"]$") &&
          size(filter(split(trim(l), "\\s+"), w => length(w) > 0)) >= 5 &&
          !lower(l).contains("javascript")))
      .withColumn("clean_text", array_join(col("__kept"), "\n"))
      .withColumn("n_lines", size(col("__lines")))
      .withColumn("n_lines_kept", size(col("__kept")))
      .withColumn("n_sentences", regexp_count(col("clean_text"), lit("[.!?]")))
      .withColumn("has_lorem", lower(t).contains("lorem ipsum"))
      .withColumn("has_brace", t.contains("{"))
      .withColumn("blocked_hits", blocked)
      .withColumn("c4_keep",
        col("n_sentences") >= 3 && !col("has_lorem") && !col("has_brace") &&
          col("blocked_hits") === 0)
      .drop("__lines", "__kept")
  }

  /** [[c4Stats]] as a terminal: pages passing every rule, with `textCol`
    * replaced by the line-filtered `clean_text` (that substitution — not
    * just row filtering — is what C4 is). */
  def c4Filter(df: DataFrame, textCol: String,
               blockWords: Seq[String] = Nil): DataFrame =
    pinnedFilter(c4Stats(df, textCol, blockWords), col("c4_keep"))
      .select(df.columns.map(c =>
        if (c == textCol) col("clean_text").as(textCol) else col(c)): _*)

  /** All per-document stats in one projection. */
  def analyze(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("token_count", tokenCount(t))
      .withColumn("n_chars_calc", length(t))
      .withColumn("punct_ratio", punctCount(t).cast("double") / length(t))
      .withColumn("stop_ratio", wordHits(t, enStop).cast("double") / tokenCount(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
