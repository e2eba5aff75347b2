package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Substring-level (token-window) exact dedup — the span-granular sibling of
  * [[Dedup.exact]] (whole documents) and
  * [[Corpus.removeBoilerplateLines]] (whole lines): find every w-token
  * window that recurs across documents, and optionally rewrite documents
  * with the recurring spans cut out. This is the "exact substring
  * deduplication" of Lee et al., *Deduplicating Training Data Makes
  * Language Models Better* (2022) — the suffix-array formulation there is a
  * single-machine algorithm; the Spark-native shape is posting lists:
  * explode windows, aggregate on the window key, join the small duplicate
  * set back. Reference scope: flatbread has no text operators at all —
  * this belongs to the training-data-pipeline surface the port adds on top.
  *
  * Tokenization is [[TextStats.tokens]] (lowercase, trim, split on
  * whitespace), so spans — and the rebuilt text of
  * [[dropDuplicateSpans]] — are whitespace-normalized lowercase. Documents
  * shorter than `w` tokens contribute no windows (nothing to report, never
  * rewritten); a null text is an empty document.
  */
object Spans {

  /** Per-document w-token windows with their 0-based start position:
    * (id, pos, span). The token array is materialized into its own
    * projection first — higher-order-function lambdas are interpreted with
    * no common-subexpression elimination, so an inline `split` would re-run
    * once per window element. */
  private[ext] def spanWindows(df: DataFrame, idCol: String, textCol: String,
                               w: Int): DataFrame = {
    require(w >= 2, s"a span is a multi-token window, got w=$w")
    df.select(col(idCol),
        TextStats.tokens(coalesce(col(textCol), lit(""))).as("__t"))
      .filter(size(col("__t")) >= w)
      .select(col(idCol),
        TextStats.pinnedCol(transform(sequence(lit(0), size(col("__t")) - w),
          i => concat_ws(" ", slice(col("__t"), i + 1, lit(w))))).as("__w"))
      .select(col(idCol), posexplode(col("__w")).as(Seq("pos", "span")))
  }

  /** Every w-token span that occurs in at least `minDocs` DISTINCT
    * documents: (span, n_docs, n_occurrences). `minDocs = 2` (default) is
    * cross-document duplication — repetition WITHIN one document is
    * [[TextStats.repetitionStats]]'s job and deliberately not counted here.
    *
    * Scale shape: one shuffle, keyed by the span itself (the report has to
    * carry the span text anyway; map-side partial aggregation collapses
    * within-partition repeats before anything moves). The distinct-doc
    * count rides the same aggregate via Expand — 2× skinny pre-aggregated
    * rows, not a second pass. Output size is the duplicate-span vocabulary,
    * a corpus-dependent report — at 100 TB feed it straight into
    * [[dropDuplicateSpans]]'s hash-keyed form rather than collecting it. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     w: Int = 8, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs < 2 would report every window, got $minDocs")
    spanWindows(df, idCol, textCol, w)
      .groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** The removal TERMINAL: rewrite each document with every token that is
    * covered by a cross-document duplicate span (per [[duplicateSpans]]'s
    * definition) removed. Returns (id, `outCol`, n_tokens_removed); the
    * rebuilt text is whitespace-normalized lowercase (see the class note),
    * and a document whose every token is covered comes back as the empty
    * string, not a dropped row.
    *
    * Scale shape, mirroring [[Corpus.removeBoilerplateLines]]'s hash
    * discipline: windows carry only (id, pos, xxhash64(span)) — the span
    * text itself never shuffles. Duplicate detection is (hash, id) distinct
    * → count ≥ minDocs (two skinny map-side-combined aggregates); covered
    * positions come from a semi-join of the windows against that small
    * hash set, exploded to positions and collapsed per document; the one
    * wide shuffle is the final reassembly join of the per-doc covered set
    * onto the token arrays, paid exactly once. A hash collision could
    * over-delete a span (never corrupt one) — the 64-bit space makes that
    * a non-event at any plausible vocabulary. */
  def dropDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                         w: Int = 8, minDocs: Int = 2,
                         outCol: String = "text_clean"): DataFrame = {
    require(minDocs >= 2, s"minDocs < 2 would delete every window, got $minDocs")
    val toks = df.select(col(idCol),
      TextStats.tokens(coalesce(col(textCol), lit(""))).as("__t"))
    val wins = toks
      .filter(size(col("__t")) >= w)
      .select(col(idCol),
        TextStats.pinnedCol(transform(sequence(lit(0), size(col("__t")) - w),
          i => xxhash64(concat_ws(" ", slice(col("__t"), i + 1, lit(w))))))
          .as("__wh"))
      .select(col(idCol), posexplode(col("__wh")).as(Seq("pos", "__sh")))
    val dup = wins.select(col("__sh"), col(idCol)).distinct()
      .groupBy(col("__sh")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__sh"))
    val covered = wins.join(dup, Seq("__sh"), "left_semi")
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (w - 1))).as("__p"))
      .groupBy(col(idCol)).agg(collect_set(col("__p")).as("__cov"))
    toks.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(" ", filter(col("__t"),
          (_, i) => !coalesce(array_contains(col("__cov"), i), lit(false))))
          .as(outCol),
        coalesce(size(col("__cov")), lit(0)).as("n_tokens_removed"))
  }

  /** Max tokens per document the winnowing key packing supports (pos and
    * hash share one BIGINT so a single `min` window selects the
    * rightmost-minimum — see [[winnowFingerprints]]). 4M tokens is far
    * beyond any training document; longer ones should be chunked first
    * ([[Corpus]] chunking). */
  val WinnowMaxPos: Int = 1 << 22

  /** WINNOWING fingerprints (Schleimer, Wilkerson & Aiken 2003, SIGMOD —
    * the MOSS algorithm): hash every k-token gram, then in each window of
    * `w` consecutive gram positions keep the MINIMUM hash, rightmost
    * occurrence on ties (the paper's robust rule — reselecting the same
    * occurrence across overlapping windows keeps density low). Guarantees
    * (the paper's): any substring match of at least t = w + k − 1 tokens
    * between two documents yields at least one SHARED fingerprint, and
    * the expected fingerprint density is 2/(w+1) of positions — this is
    * [[duplicateSpans]]'s scale path: the posting-list shuffle carries
    * ~2/(w+1) skinny (id, pos, hash) rows instead of every window.
    *
    * Determinism/replayability: the gram hash is the md5 32-bit word (the
    * q142 register discipline); rightmost-minimum selection packs
    * (hash, reversed pos) into ONE long — hash·2^22 + (2^22−1−pos) — so a
    * plain `min` over a (doc-PARTITIONED, pos-ordered, w-row) frame picks
    * it with no nested windows, in any engine with frames. Only FULL
    * windows select (pos ≥ w−1 after the frame), matching the paper.
    * Output: (id, pos, fp) — the distinct selected fingerprints. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 2, s"a gram is multi-token, got k=$k")
    require(w >= 2, s"a window is multiple positions, got w=$w")
    val grams = spanWindows(df, idCol, textCol, k)
      .filter(col("pos") < WinnowMaxPos)
      .select(col(idCol), col("pos"),
        conv(substring(md5(col("span")), 1, 8), 16, 10).cast("long").as("__hv"))
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    // pack/unpack with shifts only — a long `/` would run as double
    // division and a 54-bit quotient can round across the integer boundary
    val key = expr("shiftleft(__hv, 22)") +
      (lit((WinnowMaxPos - 1).toLong) - col("pos"))
    grams.withColumn("__sel", min(key).over(frame))
      .filter(col("pos") >= w - 1) // full windows only
      .select(col(idCol),
        (lit((WinnowMaxPos - 1).toLong) -
          col("__sel").bitwiseAND(lit((WinnowMaxPos - 1).toLong))).as("pos"),
        expr("shiftright(__sel, 22)").as("fp"))
      .distinct()
  }

  /** Cross-document MATCH report from winnowing fingerprints: pairs of
    * documents sharing at least `minShared` distinct fingerprints, with
    * the shared count — the plagiarism/near-verbatim-overlap audit at
    * fingerprint (not full posting) cost. Fingerprints present in more
    * than `maxDocFreq` documents are dropped first (boilerplate grams —
    * the [[Dedup]] stop-gram discipline; a hot fingerprint would square
    * the pair join). Scale shape: one fingerprint equi-join over the
    * density-bounded sets; candidates are genuine near-verbatim overlaps
    * by the t-guarantee, never an all-pairs comparison. */
  def winnowMatches(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 4, w: Int = 4, minShared: Int = 2,
                    maxDocFreq: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()
      .transform(Checkpoint.materialize) // feeds the df cap AND both join sides
    val keep = fp.groupBy(col("fp")).agg(count(lit(1)).as("__d"))
      .filter(col("__d") <= maxDocFreq).select(col("fp"))
    val kept = fp.join(keep, Seq("fp"), "left_semi")
    kept.select(col("fp"), col(idCol).as("id_a"))
      .join(kept.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }
}
