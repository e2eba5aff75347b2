package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slope evidence for the ext operator block (VERDICT r2 #8): runs the
  * dedup/similarity queries on sf0.1 and on a generated corpus `factor`×
  * larger, and reports the per-query slope
  * `t(big) / (t(small) · factor)` — ≈1 means linear scaling.
  *
  * The big corpus is `factor` copies of the sf0.1 tables, each copy
  * DECORRELATED from the others so the near-dup structure grows linearly
  * (the honest "more data of the same kind" shape — naive duplication would
  * make every copy a near-dup of every other and grow pairs quadratically):
  *  - documents: a copy-specific marker token is spliced in every 6 tokens,
  *    pushing cross-copy Jaccard far below the 0.8 threshold while keeping
  *    within-copy structure;
  *  - embeddings: components perturbed by a large (scale 0.5) deterministic
  *    LCG noise — cross-copy cosines land well under the near-dup regime.
  *
  * Env-gated: run via `runMain graft.tools.ScaleSlope [factor]`; writes the
  * generated corpus under /tmp/graft_scale<factor>/ and reuses it if present.
  */
object ScaleSlope {

  def scaledDocuments(docs: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { c =>
      if (c == 0) docs
      else {
        val marked = zip_with(
          split(col("text"), " "),
          sequence(lit(0), size(split(col("text"), " ")) - 1),
          (t, i) => when(i % 6 === 0, concat(t, lit(s" zq${c}x"))).otherwise(t))
        docs.select(docs.columns.toSeq.map {
          case "doc_id" => (col("doc_id") + c * 10000000L).as("doc_id")
          case "text"   => concat_ws(" ", marked).as("text")
          case other    => col(other)
        }: _*)
      }
    }.reduce(_ unionByName _)

  def scaledEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    // copy offset = table size, NOT a fixed 10^7: the scaled id space stays
    // CONTIGUOUS [0, factor·n) so modular-key fixtures (q138's embedding
    // identity) keep full coverage; originals keep their ids, so
    // smallest-id pivot sets and `vec_id < K` query slices are unchanged
    val n = emb.count()
    (0 until factor).map { c =>
      if (c == 0) emb
      else {
        val pert = zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, d) => (x.cast("double") +
            lit(0.5) * ((col("vec_id") * 131L + d * 7919L + c * 104729L) % 1000003L *
              2654435761L % 2000003L - 1000001L).cast("double") / 1000001.0
          ).cast("float"))
        emb.select(emb.columns.toSeq.map {
          case "vec_id"    => (col("vec_id") + c * n).as("vec_id")
          case "embedding" => pert.as("embedding")
          case other       => col(other)
        }: _*)
      }
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigDir = s"/tmp/graft_scale$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the sweep calls ext/ operators directly, not through SparkEntry
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (!new java.io.File(s"$bigDir/documents.parquet").exists()) {
      println(s"generating $bigDir (factor $factor) ...")
      scaledDocuments(spark.read.parquet(s"$small/documents.parquet"), factor)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$bigDir/documents.parquet")
      scaledEmbeddings(spark.read.parquet(s"$small/embeddings.parquet"), factor)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$bigDir/embeddings.parquet")
    }

    // optional comma-separated substring filter (local iteration / targeted
    // re-measurement of a query whose sweep run was polluted)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val allNames = Seq("q31_dedup_exact", "q34_ngram_jaccard", "q35_minhash_lsh",
      "q36_simhash", "q37_embed_cosine", "q41_cosine_lsh", "q44_dedup_clusters",
      "q46_media_embed_dedup", "q49_embed_dedup_clusters", "q50_dedup_corpus",
      "q51_dedup_corpus_terminal", "q52_contamination", "q56_ann_quantized",
      "q58_decontaminated", "q59_pack_sequences", "q61_image_decode",
      "q62_audio_decode", "q63_ann_ivf_indexed", "q64_incremental_neardup",
      "q65_incremental_neardup_h3", "q67_ann_ivf_kmeans", "q68_video_frames",
      // the span windows of the 10x copies each contain >= 1 spliced marker
      // token (markers every 6 tokens < w = 8), so copies never collide
      // with their originals and duplicate-span structure grows linearly
      "q72_duplicate_spans", "q73_drop_duplicate_spans",
      // r10 additions: the codec queries (q76-q78) synthesize media from
      // doc ids — strictly per-row, slope is a pure codec-throughput rail.
      // q79 pins nCells=16, so its intra-cell pair term is quadratic BY
      // CONSTRUCTION at fixed K — expect slope ~= factor, the documented
      // fixed-K caveat the auto-sqrt(n) default exists for (COVERAGE
      // runbook); q80's band joins are the linear path.
      "q76_avi_frames", "q77_ulaw_audio", "q78_alaw_audio",
      "q79_semantic_dedup", "q80_incremental_cosine",
      // q81 rebuilds its persisted index per invocation (self-contained),
      // so its slope prices build+serve like q63
      "q81_semantic_dedup_indexed",
      // r10 quality/pruning additions: q82/q84 are pure per-row rule scans
      // (linear by construction); q83 pins nCells=16 like q79 but has NO
      // intra-cell pair term — assignment is O(n·K) and the per-cell windows
      // are sort-based, so slope stays ~1 even at fixed K
      "q82_gopher_quality", "q83_proto_prune", "q84_c4_filters",
      // q85: one bounded count aggregate + hash filter; q86: per-row regex;
      // q87: per-row scoring + hash cut; q88: generator fan-out (rows grow
      // ~14x: 10x docs x per-doc chunk count)
      "q85_temperature_mixture", "q86_url_filters",
      "q87_quality_sampling", "q88_chunk_documents",
      // q89: per-row n-gram fractions + threshold filter
      "q89_repetition_filter",
      // r11 additions: q90 = two ref aggregates + broadcast joins + one
      // skinny per-doc fold (ref slice grows with the corpus, so the model
      // build scales too); q91 = pure codegen'd per-row merge loop; q92 =
      // one key window + one reassembly groupBy, text moves twice
      "q90_perplexity", "q91_bpe_apply", "q92_dedup_paragraphs",
      // r11 continued: q93/q94 = two bucket-count aggregates (B-bounded
      // broadcast) + one skinny per-doc fold — linear, model fixed at 10k
      // buckets; q94 adds the histogram cutoff + two filters over the
      // materialized scored corpus; q95 = q90's build+score + a value
      // histogram + broadcast label join; q96 = pure per-row regex chain;
      // q97 = one fingerprint shuffle (exact-dedup shape)
      "q93_dsir_weights", "q94_dsir_select", "q95_perplexity_buckets",
      "q96_ccnet_normalize", "q97_dedup_keep_best",
      // q98 = capped-broadcast df table + one (id, term) shuffle + per-doc
      // rank window — linear in corpus tokens
      "q98_tfidf_topterms",
      // q99 = positioned-gram explode + semi-join + per-row HOF mask —
      // linear; bench side grows with the corpus in this fixture
      "q99_mask_contamination",
      // q100 = two-phase prefix sum (range repartition + per-partition
      // window); the FIXED 10k budget keeps output constant while the
      // cumsum machinery prices the full corpus
      "q100_token_budget",
      // q101 = one groupBy(source) aggregate (+ partial-distinct expand);
      // q102 = one hash repartition + per-partition sort
      "q101_corpus_report", "q102_epoch_shuffle",
      // q103 = fixed-size codebook broadcast + per-row encode/ADC folds +
      // per-query rank window — linear in corpus vectors; q104 adds the
      // coarse cells, candidates via the cell equi-join
      "q103_pq_topk", "q104_ivfpq_topk",
      // q105 = two fingerprint projections + one full-outer id join;
      // q106 = shingle explode + gram equi-join (hits-sized output)
      "q105_corpus_diff", "q106_contamination_by_bench",
      // r11 continued: q114 = one norm-cardinality histogram aggregate +
      // codegen filter; q115/q117/q122 = groupBy-scan reports
      // (histogram/domain/vocabulary-sized outputs); q116 = two map-side-
      // combined gram shuffles + TakeOrdered; q118 = zero-shuffle
      // generator (output grows ~1.36x input); q119 = band-Bloom probe +
      // band equi-join + candidate-sized exact Jaccard; q120/q121 =
      // per-row codec chains (no shuffle)
      "q114_norm_filter", "q115_length_histogram", "q116_top_ngrams",
      "q117_domain_report", "q118_repeat_mixture",
      "q119_incremental_minhash", "q120_image_dhash",
      "q121_audio_fingerprint", "q122_vocab_report",
      // q123 = one word-count aggregate + bounded driver merge loop +
      // codegen'd apply scan; q124 = postings + gram doc-freq + equi-join
      "q123_bpe_train", "q124_novelty_score",
      // q125 = q35's pair machinery + two label joins; q126 = per-row
      // multi-frame GIF decode + majority fold (codec rail, no shuffle)
      "q125_split_leak", "q126_video_dhash",
      // q127 = gram self-join bounded by source cardinality per gram
      "q127_source_overlap",
      // q128 = pure per-row regexp/replace chain (no shuffle)
      "q128_html_extract",
      // q129 = two WAV-decode fingerprint scans + Bloom probe + confirm
      "q129_incremental_audio_dedup",
      // q130 (r12) = q104's shape + broadcast pivot residual joins — the
      // extra work per row is one zip_with, candidates still cell-bounded
      "q130_residual_ivfpq",
      // q131 (r12) = linear pivot assignment + one id join + two df
      // aggregates with a broadcast vocab; q132 (r12) = q50's machinery +
      // two histogram-sized aggregates
      "q131_semantic_atlas", "q132_dup_histogram",
      // q133 (r12) = q34's banded pair machinery + two id equi-joins
      "q133_dup_source_matrix",
      // q134 (r12) = per-row regex chain + one canonical-key aggregate
      "q134_url_dedup",
      // q135 (r12) = q90's model build + per-doc sort/prefix fold
      "q135_mink_prob",
      // q136 (r13) = q103 + one train-slice variance aggregate and a
      // per-row permute projection; q137 (r13) = q104's build + bucketed
      // append write + indexed serve (prices build+append+serve like q71)
      "q136_opq_pq_topk", "q137_ivfpq_append",
      // q138 (r13) = the composed crawl terminal: per-row synthesis +
      // url-key aggregate + rule scans + fingerprint shuffle + banded
      // pairs over survivors + cell-bounded cosine pairs + skinny fate
      // joins — every stage linear or survivor-bounded
      "q138_crawl_pipeline",
      // q139 (r13) = per-row formula projection + broadcast-query rank +
      // candidate-sized exact re-rank (q112's shape, k-dim scan);
      // q140 (r13) = one d² covariance aggregate (train slice) + per-row
      // literal-matrix projection — both linear by construction
      "q139_jl_ann", "q140_pca_project",
      // q141 (r13) = two linear pivot assignments (broadcast pivots) +
      // (cell, dim)-keyed aggregates — model-sized state on both sides
      "q141_embedding_drift",
      // q142 (r13) = one token pass into m-bounded registers; q143 (r13) =
      // one token pass into d·w cells + sample-candidate lookup + skinny
      // exact verify — both sketch-state-bounded by construction
      "q142_hll_vocab", "q143_cms_heavy_hitters",
      // q144 (r13) = capped-table train + distinct-word DP (bounded per
      // word) + broadcast piece join + two skinny shuffles
      "q144_unigram_tokenize",
      // q145 (r13) = two signature scans + band equi-join + candidate-sized
      // exact confirm (the q119 shape, bench side eval-sized)
      "q145_fuzzy_contamination",
      // q146 (r13) = bounded train (capped feature table, B-bounded
      // iterations) + one broadcast scoring pass + bins-sized aggregate
      "q146_clf_calibration",
      // q147 (r13) = one token pass into per-source registers + register-
      // table pair joins (sources^2 x m rows, corpus-independent)
      "q147_hll_source_overlap",
      // q148 (r13) = q144's train + distinct-word DP + q91's codegen BPE
      // expression + one source aggregate
      "q148_tokenizer_fertility",
      // q149 (r14) = one map-side-combined bucket aggregate (bounded per
      // source) + partitioned cumulative window over bucket rows only
      "q149_length_quantiles",
      // q150 (r14) = one token pass into guard registers + thresholded
      // distinct (≈5k survivors/source however big the vocabulary) +
      // k-bounded pair joins
      "q150_bottomk_resemblance",
      // q151 (r14) = two q90-shaped model builds + broadcast-scored folds
      // + histogram-CDF cut (joins the median[min] protocol: model-heavy)
      "q151_crossentropy_select",
      // q152 (r14) = q149's bounded bucket pass + one broadcast-cutoff
      // filter pass — two linear scans by design
      "q152_length_trim",
      // q153 (r14) = three store builds over the held corpus (linear,
      // bounded state) + one incoming tokenize pass + sketch-sized joins
      "q153_onboarding_report",
      // q154 (r14) = gram hash pass + per-doc frame window + df-capped
      // fingerprint equi-join at 2/(w+1) density
      "q154_winnow_matches",
      // q155 (r14) = one codegen key projection + per-group rank window
      "q155_weighted_sample",
      // r14: q158 = one (source, score6) count aggregate + a window over
      // that bounded histogram + one join back — linear by construction
      "q158_qnorm_by_source",
      // r14 retrieval rows (custom runners below): measured at the
      // PRODUCTION stopword cap (0.5). The oracle fixture must disable the
      // cap — the fixture vocabulary is closed (31 words, every df >
      // 0.5·N) so capped scoring is empty — but at cap = 1.0 on a closed
      // vocabulary every query matches every document: quadratic BY
      // CONSTRUCTION, the regime the cap exists to prevent. On this 10×
      // corpus the cap prunes the global common terms and each copy's
      // spliced marker tokens (df ≈ n/10) keep every probe scoped to its
      // own copy — the production linear path. q159's dense side is NOT
      // swept: brute-force cosine is quadratic by definition (the scale
      // path is the q63 IVF row), and rrfFuse itself is top-k-sized.
      "q156_bm25_prodcap", "q157_bm25_store_prodcap",
      // r14: q160 = q44's pair graph + connected components + one left
      // join + the zero-shuffle split projection (the CC rounds dominate,
      // exactly like q44); q161 = one per-row edge projection + distinct,
      // then 3 host-keyed join rounds over the FIXED 40-host fixture graph
      // (the rank table is constant-sized — the slope prices the edge
      // distinct over 10× documents)
      "q160_leakfree_split", "q161_host_rank",
      // r14: q162 = pure per-row codegen regex chain (shell synthesis +
      // extraction) — a CPU throughput rail like the codec rows
      "q162_html_extract",
      // r14: q163 = q44's pair graph + CC + a pairs-sized count + two
      // joins back — the CC rounds dominate, like q44/q160
      "q163_softdedup_weights",
      // r15: q164 = two shard writes (parquet + JSONL) + footer/line-count
      // manifest passes — IO-bound, linear in rows; the single-writer sort
      // is the presentation-sized manifest discipline, not a corpus sort
      "q164_write_shards",
      // r15: q165 = one token aggregate + a count-value-histogram rollup
      // (O(√tokens) rows) + two prefixSums over it + a broadcast k join —
      // the token aggregate is the only corpus-sized stage
      "q165_vocab_coverage",
      // r15: q166 = pure per-row codegen normalize + md5 projections (a
      // CPU throughput rail like q162); rows double by the twin synthesis
      "q166_nfc_dedup",
      // r15: q167 = per-row NFD + mark-strip regex + md5 — same rail
      "q167_accent_fold",
      // r15: q168 = len+1-way variant explode (skinny postings) + capped
      // variant equi-join + per-candidate DP confirm; titles are
      // id-salted, so candidates are the planted twins — linear
      "q168_typo_pairs",
      // r15: q169 = Bloom over catalog variant keys + candidate-only
      // variant equi-join + DP confirm (the q60 incremental shape in the
      // SymSpell key space) — both sides' variant generators are linear
      "q169_incremental_typo",
      // r16: q170 = pure per-row codegen byte-level BPE (a CPU throughput
      // rail like q91/q162 — no shuffle)
      "q170_byte_bpe",
      // r16: q171 = two linear variant generators + a variant equi-join +
      // DP confirm across tables (q168's shape without the self-pair
      // mask); id-salted keys keep candidates = the planted twins
      "q171_typo_join",
      // r16: q172 = pure per-row codegen WordPiece (the q91/q170 rail)
      "q172_wordpiece",
      // r16: q173 = one capped word-count aggregate + bounded driver merge
      // loop + codegen greedy apply scan — the q123 trainer shape
      "q173_wordpiece_train",
      // r16: q174 = tokenize scan + prefix-sum offsets + slice explode +
      // one chunk-key shuffle (the output stream itself) — linear
      "q174_pack_token_ids",
      // r17: q175 = pure per-row md5-draw + substring/concat projections
      // (a codegen rail like q162/q170 — no shuffle)
      "q175_fim",
      // r17: q176 = per-row windowed HOF projections over the token array
      // (md5 draws + slices + flatten — no shuffle)
      "q176_span_corrupt",
      // r18: q177 = tokenize + one aggregate HOF per row (template concat
      // + span arithmetic — the q175/q176 codegen rail, no shuffle)
      "q177_chat_sft",
      // r18: q178 = token-count scan + the two-phase per-bucket rank
      // (range repartition + (pid,bucket)-sized driver offsets + window)
      // — prefixSum's shape with a bucket key
      "q178_length_buckets",
      // r18: q179 = per-row synthetic-MP3 encode + frame-header walk (a
      // codec throughput rail like q121/q126 — no shuffle)
      "q179_mp3_meta",
      // r18: q180 = q177's serialization + posexplode + per-DOC offset
      // window + reassembly groupBy + id join — token-stream-sized
      // shuffles partitioned by doc (the q174 discipline)
      "q180_sft_token_mask",
      // r19: q181 = q177's serialization rail over three turn arrays
      // (zero shuffle, pure HOF folds); q182 = two-phase (len desc, id)
      // rank + bounded group-local FFD fold + one id join back —
      // prefixSum's shape plus O(G²) per-group work at fixed G = 64
      "q181_preference_pairs", "q182_ffd_binpack",
      // r19: q183 = broadcast-pivot assignment + per-cell greedy chain;
      // the chain is O(m²·dim) per cell, so even at the √n-cells scale
      // configuration (custom runner below — the operator's documented
      // balance) total chain work is O(n^1.5): expect slope ≈ √factor
      // (≈3.2 at 10×) — the algorithm's law, not a shuffle pathology
      "q183_semantic_order",
      // r19b: q185 = the q177 serialization rail exploded per candidate
      // + ONE doc-keyed max(struct) aggregate (partial map-side combine —
      // one row per doc per partition crosses the wire); q186 = pure
      // interval-algebra projections + two HOFs per row, zero shuffle
      "q185_best_of_n", "q186_chat_truncate",
      // r19b: q187 = the q185 rail + one group-keyed 3-sum aggregate and
      // an equi-join back (group-count-sized state); q188 = the q180
      // token/mask rail + packTokenArrays' prefix-sum + ONE chunk-keyed
      // reassembly shuffle (q174's shape over the zipped stream)
      "q187_grpo_advantage", "q188_sft_pack",
      // r19b: q189 = epochs-explode + ONE two-phase prefix-sum rank over
      // (epoch, md5 key, id) — range shuffle + O(parallelism) driver
      // offsets, no global window; output = the schedule stream itself
      "q189_ddp_schedule",
      // r19b: q190 = q174's pack (prefix-sum + chunk shuffle) run FORWARD
      // then BACKWARD (explode spans + slice + doc-keyed reassembly) —
      // two token-stream shuffles, the round-trip integrity audit
      "q190_unpack_roundtrip",
      // r19b: q191 = tokenize + per-row window sequence + the explode
      // (the output stream itself) — zero shuffle, the outer-generator
      // discipline keeps the size-guard above the repartition
      "q191_sliding_windows",
      // r19b: q192 = the q176 corruption rail forward then its HOF
      // inverse — both pure per-row column algebra, zero shuffle
      "q192_uncorrupt_roundtrip",
      // r19c: q193 = per-row chained block hashes, then chain-keyed
      // count + join + doc-keyed deepest-shared argmax — every shuffle
      // is the (id, k, chain) stream, tokens/blockSize-sized
      "q193_prefix_cache",
      // r19c: q194 = tagged-gram explodes both sides + (id, n, gram)
      // counting aggregates + the clipping join — gram-stream-sized
      // (4x tokens) shuffles, the heaviest of the eval trio
      "q194_bleu_eval",
      // r19c: q195 = vote synthesis explode + two id-keyed aggregates
      // + the struct-argmax — candidate-stream-sized, near-flat
      "q195_majority_vote",
      // r19c: q196 = pivot-broadcast assignment + grid-blocked in-cell
      // pairs (fixed 16 cells here, so the pair term grows n²/16 — the
      // auto-√n sizing is the scale path) + two anchor-keyed argmaxes
      "q196_contrastive_triplets",
      // r19d: q197 = ONE per-source count aggregate (bounded state) +
      // K-row windows — the slope prices the corpus scan alone
      "q197_epoch_waterfill",
      // r19d: q198 = trajectory-keyed collect_list shuffle + per-row HOF
      // folds + posexplode — episode-stream-sized, nothing global
      "q198_gae_advantage",
      // r19d: q199 = bigram explodes both sides + (id, gram) counts +
      // the clipping join — q194's shape at one order instead of four
      "q199_rouge_eval",
      // r19d: q200 = per-row synthetic-JPEG encode + marker walk (the
      // q179 codec rail for images — no shuffle)
      "q200_jpeg_meta",
      // r19d: q201 = per-row synthetic-FLAC encode + STREAMINFO bit
      // unpack (codec rail — no shuffle)
      "q201_flac_meta",
      // r19d: q202 = tokenize + one zip_with prefix scan per row — pure
      // column algebra, zero shuffle
      "q202_spec_accept",
      // r19d: q203 = tokenize + fixed-grid depth explode + two slices and
      // a hash per output row — the explode IS the output stream
      "q203_needle_prep",
      // r19e: q204 = samples explode + ONE problem-keyed count aggregate
      // + fixed-grid k explode with per-row integer folds
      "q204_pass_at_k",
      // r19e: q205 = ONE undirected-pair count aggregate (map-side
      // combine) + the K²-bounded driver MM loop — the q197 posture
      "q205_bt_arena",
      // r19e: q206 = per-row gram build + array_distinct — zero shuffle
      "q206_distinct_ngrams",
      // r19e: q207 = TWO prefixSum passes (quality rank, then the
      // phase-keyed order) — batchSchedule's two-phase discipline twice
      "q207_anneal_order",
      // r19e: q208 = byte-BPE encode + the vocab-free detok per row —
      // a codegen rail both directions, zero shuffle
      "q208_detok_roundtrip",
      // r19: q184 = the full pretrain capstone (crawl fate + keep-best
      // dedup + mixture + wordpiece + pack + shards) — q138's machinery
      // plus survivor-bounded downstream stages; stage-heavy, median[min]
      "q184_pretrain_e2e",
      // r16 (VERDICT r15 #3): the logistic-regression terminal joins the
      // sweep — per-iteration cost is ONE pass over the key-partitioned
      // feature checkpoint plus a ≤ buckets+1-row gradient collect, and
      // the iteration count is fixed, so the slope prices the feature
      // build + 20 broadcast-scored passes; model-heavy, so median[min]
      "q111_quality_classifier")
    val customRunners: Map[String, (SparkSession, String) => DataFrame] = {
      def docs(s: SparkSession, dir: String) =
        s.read.parquet(s"$dir/documents.parquet")
          .repartition(s.sparkContext.defaultParallelism)
      Map(
        "q156_bm25_prodcap" -> ((s, dir) => {
          val d = docs(s, dir)
          graft.ext.Retrieval.bm25TopK(d,
            d.filter(col("doc_id") % 37 === 0),
            "doc_id", "text", "doc_id", "text", topK = 10, maxDfFrac = 0.5)
        }),
        // prices build + append + serve each run (the q81 posture)
        "q157_bm25_store_prodcap" -> ((s, dir) => {
          val d = docs(s, dir)
          graft.ext.Retrieval.buildPostingsStore(
            d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
            "graft_slope_bm25")
          graft.ext.Retrieval.appendToPostingsStore(
            d.filter(col("doc_id") % 3 === 0), "doc_id", "text",
            "graft_slope_bm25")
          graft.ext.Retrieval.bm25Serve(s, "graft_slope_bm25",
            d.filter(col("doc_id") % 41 === 0),
            "doc_id", "text", topK = 10, maxDfFrac = 0.5)
        }),
        // the operator's documented scale balance (≈√n cells of √n docs):
        // the fixed-16-cell oracle fixture would make the per-cell O(m²)
        // chain quadratic by construction, the q79 fixed-K caveat
        "q183_semantic_order" -> ((s, dir) => {
          val e = s.read.parquet(s"$dir/embeddings.parquet")
          val n = e.count()
          graft.ext.Similarity.semanticOrder(e, "vec_id", "embedding",
            nCells = math.max(16, math.sqrt(n.toDouble).toInt))
        }),
        // same √n-cell override as q183: the fixed-16-cell oracle
        // fixture makes the in-cell pair join grow n²/16 by
        // construction; the operator's documented scale path
        // (nCells = 0) auto-sizes to √n cells of √n members
        "q196_contrastive_triplets" -> ((s, dir) => {
          val e = s.read.parquet(s"$dir/embeddings.parquet")
          graft.ext.Similarity.contrastiveTriplets(
            graft.ext.Similarity.plantNearDups(e, "vec_id", "embedding",
              offset = 1000000L, scale = 0.01),
            "vec_id", "embedding", posMin = 0.95, negMax = 0.5, nCells = 0)
        }))
    }
    val names = allNames.filter(n => only.forall(_.exists(n.contains)))
    // single-sample 10x slopes wobble ±70% (COVERAGE noise appendix), too
    // loose to catch a real 2x asymptote drift on the heavy terminals —
    // those are sampled 3x and summarized by the MEDIAN (min also reported);
    // the cheap per-row queries stay single-sample, their slopes are only
    // sanity rails
    val multiSample = Set("q41_cosine_lsh", "q50_dedup_corpus",
      "q51_dedup_corpus_terminal",
      // r11 (VERDICT r10 #7): the heavy r10 rows join the median[min]
      // protocol — their single-sample rows sat inside the ±70% wobble
      "q79_semantic_dedup", "q80_incremental_cosine",
      "q81_semantic_dedup_indexed", "q89_repetition_filter",
      // r11 heavies: model build + broadcast-scored folds
      "q93_dsir_weights", "q94_dsir_select", "q95_perplexity_buckets",
      // r13: the composed crawl terminal stacks three dedup machineries
      "q138_crawl_pipeline",
      // r14: double-model scoring terminal; q150's guard+distinct pass
      // showed single-sample wobble (t_big < t_small) — median it
      "q150_bottomk_resemblance", "q151_crossentropy_select",
      // r16: GD-loop terminal — driver-loop latency is constant in corpus
      // size but large relative to the per-pass work at sf0.1
      "q111_quality_classifier",
      // r19: the capstone stacks the crawl + dedup machineries (q138's
      // median[min] reasoning) and the semantic chain's n^1.5 law needs
      // the median to beat single-sample wobble
      "q183_semantic_order", "q184_pretrain_e2e",
      // r19d: the gram-join eval pair is SPILL-sensitive (the (id, gram)
      // string stream sorts through the join at 10×): back-to-back
      // single samples swung 0.07 ↔ 1.37 on the SAME binary depending on
      // JVM/page-cache state — only the median is meaningful
      "q194_bleu_eval", "q199_rouge_eval")
    def run1(dir: String, name: String): (Double, Long) = {
      System.gc()
      val t0 = System.nanoTime()
      val df = customRunners.getOrElse(name, graft.SparkEntry.queries(name))(spark, dir)
      // row count via an observed metric on the SAME noop write — a second
      // action (df.count()) would re-execute the whole pipeline outside the
      // timed region and double the harness's wall-clock
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      (dt, obs.get("rows").asInstanceOf[Long])
    }
    def run(dir: String, name: String): (Seq[Double], Long) = {
      val n = if (multiSample(name)) 3 else 1
      val rs = (1 to n).map(_ => run1(dir, name))
      (rs.map(_._1).sorted, rs.head._2)
    }
    def med(s: Seq[Double]): Double = s(s.size / 2)
    // warmup on the small corpus
    names.foreach(n => run1(small, n))
    println(f"${"query"}%-20s ${"t_s_med"}%8s ${"t_s_min"}%8s ${"t_b_med"}%8s ${"t_b_min"}%8s ${"rows_s"}%8s ${"rows_b"}%8s ${"slope"}%6s")
    val slopes = names.map { n =>
      val (ts, rs) = run(small, n)
      val (tb, rb) = run(bigDir, n)
      val slope = med(tb) / (med(ts) * factor)
      println(f"$n%-20s ${med(ts)}%8.2f ${ts.head}%8.2f ${med(tb)}%8.2f ${tb.head}%8.2f $rs%8d $rb%8d $slope%6.2f")
      n -> (ts, tb, rs, rb, slope)
    }
    val qs = slopes.map { case (n, (ts, tb, rs, rb, sl)) =>
      s""""$n":{"t_small":${med(ts)},"t_small_min":${ts.head},"t_big":${med(tb)},"t_big_min":${tb.head},"samples":${ts.size},"rows_small":$rs,"rows_big":$rb,"slope":$sl}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_slope","factor":$factor,"queries":$qs}""")
    spark.stop()
  }
}
