package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus auditing and deterministic training-order operators.
  * (Beyond the reference surface; required by the build brief.) */
object Audit {

  /** Per-source corpus audit in ONE scan: the report every curation run
    * wants before and after a pipeline stage — volume, duplication, and
    * quality per source, comparable across runs because every number is an
    * exact integer or a ratio of exact integers. Columns per source:
    *   - `docs`, `tokens_sum`, `chars_sum` — volume
    *   - `distinct_docs` — exact distinct content fingerprints; `dup_rate`
    *     = 1 − distinct/docs
    *   - `short_docs` — documents under `shortTokens` tokens
    *   - `quality_sum` (integer points) and `avg_quality`, `avg_tokens`
    *
    * Scale shape: one groupBy(source) aggregate; the exact distinct count
    * adds Spark's standard partial-distinct expansion (still one logical
    * pass, map-side combined). Output is source-cardinality-sized. */
  def corpusReport(df: DataFrame, textCol: String, sourceCol: String,
                   shortTokens: Int = 30): DataFrame = {
    require(shortTokens >= 0, s"shortTokens must be >= 0, got $shortTokens")
    val t = coalesce(col(textCol), lit(""))
    df.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("docs"),
        sum(TextStats.tokenCount(t).cast("long")).as("tokens_sum"),
        sum(length(t).cast("long")).as("chars_sum"),
        countDistinct(TextStats.fingerprint(t)).as("distinct_docs"),
        sum(when(TextStats.tokenCount(t) < shortTokens, 1L).otherwise(0L))
          .as("short_docs"),
        sum(TextStats.qualityPoints(t).cast("long")).as("quality_sum"))
      .withColumn("dup_rate",
        lit(1.0) - col("distinct_docs").cast("double") / col("docs").cast("double"))
      .withColumn("avg_quality",
        col("quality_sum").cast("double") / col("docs").cast("double"))
      .withColumn("avg_tokens",
        col("tokens_sum").cast("double") / col("docs").cast("double"))
  }

  /** Snapshot diff between two corpus versions — the audit of what a
    * curation run actually did: per id, `added` (only in `newDf`),
    * `removed` (only in `oldDf`), `changed` (both, content fingerprint
    * differs), `unchanged`. One full-outer join on the id; content
    * identity is [[TextStats.fingerprint]] (whitespace-normalized
    * lowercase), so a reformatted doc counts as unchanged — pass a
    * stricter key column yourself if byte identity matters. Null text
    * fingerprints as the empty document (a present row never reads as
    * absent). Returns (idCol, status, fp_old, fp_new). */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    def fp(df: DataFrame, out: String) = df.select(col(idCol).as("id"),
      TextStats.fingerprint(coalesce(col(textCol), lit(""))).as(out))
    fp(oldDf, "fp_old").join(fp(newDf, "fp_new"), Seq("id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged"))
      .withColumnRenamed("id", idCol)
  }

  /** Deterministic global training-order shuffle: every (document, epoch)
    * pair gets a reproducible pseudo-random placement — `shuffle_part` (a
    * stable partition in [0, numParts)) and `shuffle_key` (the md5 sort key
    * within the partition) — and the returned frame IS laid out that way
    * (repartitioned on the part, sorted within partitions by the key), so
    * writing it out and reading shards in (part, key) order replays the
    * exact epoch order on any cluster. Different epochs decorrelate (the
    * epoch is folded into the hash), which is the epoch-reshuffle training
    * loops expect; no RNG state anywhere, so the order is auditable and
    * engine-independent — the same determinism-over-RNG trade as
    * [[Corpus.hashSplit]].
    *
    * Scale shape: one hash repartition + per-partition sort (no global
    * sort, no driver state). At 100 TB pick `numParts` to match the
    * target shard count. */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   numParts: Int, salt: String = "graft:shuffle"): DataFrame = {
    require(numParts >= 1, s"numParts must be >= 1, got $numParts")
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    val key = md5(concat(col(idCol).cast("string"),
      lit(s":$epoch:" + salt)))
    // part from the SAME digest's leading 32 bits — one hash per row
    val part = pmod(conv(substring(key, 1, 8), 16, 10).cast("long"),
      lit(numParts.toLong)).cast("int")
    // repartition HASHES the part value, so a physical partition may hold
    // several logical parts — the sort leads with the part so every
    // logical shard is still one contiguous, key-sorted run
    df.withColumn("shuffle_key", key)
      .withColumn("shuffle_part", part)
      .repartition(numParts, col("shuffle_part"))
      .sortWithinPartitions(col("shuffle_part"), col("shuffle_key"))
  }

  /** Per-source token-length histogram: one row per (source, bucket) with
    * the document count and exact token sum — the length-distribution audit
    * every mixture decision reads (truncation risk at the context limit,
    * short-doc mass per source) without ever ranking the corpus. One
    * groupBy scan, histogram-sized output; buckets are
    * `floor(tokens / bucketWidth)` so the report is integer-exact in both
    * engines. */
  def lengthHistogram(df: DataFrame, textCol: String, sourceCol: String,
                      bucketWidth: Int = 50): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val toks = TextStats.tokenCount(coalesce(col(textCol), lit("")))
    df.select(col(sourceCol).as("source"), toks.as("__tc"))
      .groupBy(col("source"),
        floor(col("__tc") / lit(bucketWidth)).as("len_bucket"))
      .agg(count(lit(1)).as("docs"), sum(col("__tc")).as("tokens"))
      .withColumn("bucket_lo", col("len_bucket") * bucketWidth)
  }

  /** Per-source vocabulary report — the Heaps/Zipf corpus-health audit
    * (a healthy natural-language slice grows types ~ tokens^β with a fat
    * hapax tail; templated/machine text collapses both): one row per
    * source with exact `tokens_sum`, `types` (distinct tokens), `hapax`
    * (types occurring once in the source), `top_token_count` (the Zipf
    * head), and the derived ratios `ttr` = types/tokens and `hapax_frac`
    * = hapax/types (doubles of the same exact integers).
    *
    * Scale shape: [[topNgrams]]'s two map-side-combined shuffles — explode
    * feeds groupBy(source, token) (raw occurrences never cross the wire),
    * then the per-source rollup is vocabulary-sized. */
  def vocabularyReport(df: DataFrame, textCol: String,
                       sourceCol: String): DataFrame = {
    // pinned before the explode (topNgrams' InferFiltersFromGenerate note)
    val toks = df.select(col(sourceCol).as("source"),
        TextStats.pinnedCol(
          TextStats.tokens(coalesce(col(textCol), lit("")))).as("__t"))
      .select(col("source"), explode(col("__t")).as("tok"))
    toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col("source"))
      .agg(sum(col("__c")).as("tokens_sum"),
        count(lit(1)).as("types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("hapax"),
        max(col("__c")).as("top_token_count"))
      .withColumn("ttr",
        col("types").cast("double") / col("tokens_sum").cast("double"))
      .withColumn("hapax_frac",
        col("hapax").cast("double") / col("types").cast("double"))
  }

  /** Token-coverage curve — the vocabulary-sizing audit: for each k in
    * `ks`, what fraction of corpus token OCCURRENCES the k most frequent
    * types cover ("is a 32k or a 64k vocabulary enough for this
    * corpus?"). Boundary ties are deterministic by construction: all
    * types sharing one count are interchangeable mass, so the curve needs
    * no tiebreak at all. Output per k: `types_used` (= min(k, distinct
    * types)), `cum_tokens`, `tokens_total`, `coverage` = round(cum/total,
    * 6) — exact integers everywhere but the final division.
    *
    * Scale shape — coverage needs NO per-term rank and NO vocabulary
    * sort: it is computed from the COUNT-VALUE histogram (distinct count
    * values — O(√total-tokens) rows however large the vocabulary, since
    * distinct positive integers summing to N number at most ~√(2N)): one
    * term-count aggregate, one (count → n_types) rollup, two
    * [[Corpus.prefixSum]] passes over that bounded table (two-phase, no
    * global-order window), and one broadcast join of the k list against
    * the block straddling rank k: cum_tokens(k) = tokens_above +
    * (k − types_above)·count. */
  def vocabCoverage(df: DataFrame, textCol: String, ks: Seq[Long],
                    tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1L),
      s"ks must be non-empty and >= 1, got $ks")
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df.select(TextStats.pinnedCol(
        tokenizer(coalesce(col(textCol), lit("")))).as("__t"))
      .select(explode(col("__t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__c"))
    val blocks = hist.groupBy(col("__c"))
      .agg(count(lit(1)).as("n_types"))
      .withColumn("toks_in", col("__c") * col("n_types"))
      // unique descending-count order key for the two-phase cumsum
      .withColumn("__ord", struct((-col("__c")).as("c")))
    val cum = Corpus.prefixSum(
        Corpus.prefixSum(blocks, "__ord", "n_types", "cum_types"),
        "__ord", "toks_in", "cum_toks")
      .withColumn("types_above", col("cum_types") - col("n_types"))
      .withColumn("tokens_above", col("cum_toks") - col("toks_in"))
    // two consumers (totals + the k join) — one materialization
    val cumM = Checkpoint.materialize(cum)
    val tot = cumM.agg(max(col("cum_types")).as("types_total"),
      max(col("cum_toks")).as("tokens_total"))
    val kj = ks.toDF("k").crossJoin(tot)
      .withColumn("types_used", least(col("k"), col("types_total")))
    // tiny broadcast side + a range predicate: each k matches exactly the
    // one block whose type-rank interval contains it
    cumM.join(kj,
        col("types_above") < col("types_used") &&
          col("types_used") <= col("cum_types"))
      .withColumn("cum_tokens",
        col("tokens_above") +
          (col("types_used") - col("types_above")) * col("__c"))
      .select(col("k"), col("types_used"), col("cum_tokens"),
        col("tokens_total"),
        round(col("cum_tokens").cast("double") /
          col("tokens_total").cast("double"), 6).as("coverage"))
  }

  /** Per-document novelty score — the memorization-risk audit: what
    * fraction of a document's distinct k-shingles appear in NO other
    * document. Low-novelty documents are recombinations of corpus-common
    * text (template spam, quote farms); high-novelty ones carry unique
    * content a dedup pass must not lose. Output per doc: `n_grams`
    * (distinct shingles), `novel_grams` (corpus doc-freq 1), `novelty` =
    * novel/n (a ratio of the same exact integers).
    *
    * Scale shape (r20): one tokenize pass materializes per-doc distinct
    * shingle arrays; `n_grams` is a projection off them; novelty comes
    * from a map-side-combined per-gram (count, owning-doc) aggregate whose
    * df-1 rows roll up per doc — no gram-keyed window or postings
    * re-shuffle, so a hot boilerplate gram never lands on one task.
    * Documents shorter than `k` tokens contribute their whole text as one
    * shingle. `idCol` must identify documents uniquely (the operator's
    * one-row-per-document contract). */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // token array materialized first (HOF-no-CSE: the shingle transform's
    // element_at calls would each re-run the split). OPT r20: ONE corpus
    // tokenize pass materializes the per-doc DISTINCT shingle arrays
    // (doc-sized rows — fewer bytes than the exploded postings), from which
    // `n_grams` is a FREE projection (the array is distinct by
    // construction) and the postings a plain explode. The old per-posting
    // `.distinct()` shuffle was a no-op for unique document ids — which
    // `idCol` must be (one novelty row per document is the contract; a
    // duplicated id would double-count its own shingles as corpus-shared).
    val docGrams = Checkpoint.materialize(df
      .select(col(idCol).as("id"),
        TextStats.tokens(coalesce(col(textCol), lit(""))).as("__t"))
      .select(col("id"),
        Dedup.shinglesOfTokens(col("__t"), k).as("__g")))
    // OPT r20 (guide §2.5, VERDICT r19 #4): the r19 windowed doc-freq count
    // put every posting row of a hot gram on ONE window task. Replaced by
    // map-side-combinable aggregates: a per-gram (count, min-id) — a df-1
    // gram's single posting row IS its owning document, so min(id) recovers
    // the owner without ever colocating a hot gram's rows — then a per-doc
    // rollup of the df-1 winners. Both partial-aggregate (the two-level
    // salted count with the map task as the salt), so no single task ever
    // holds a hot gram's full posting list; the final join is doc-keyed
    // and skew-free.
    val sizes = docGrams.select(col("id"), size(col("__g")).as("n_grams"))
    val novel = docGrams.select(col("id"), explode(col("__g")).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("__df"), min(col("id")).as("id"))
      .filter(col("__df") === 1L)
      .groupBy(col("id")).agg(count(lit(1)).as("novel_grams"))
    sizes.join(novel, Seq("id"), "left")
      .select(col("id"), col("n_grams").cast("long").as("n_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"))
      .withColumn("novelty",
        col("novel_grams").cast("double") / col("n_grams").cast("double"))
      .withColumnRenamed("id", idCol)
  }

  /** Inter-source overlap matrix — the cross-corpus duplication audit
    * behind mixture design (how much of source B is already in source A
    * decides whether B adds data or epochs): one row per source pair that
    * shares at least one distinct k-shingle, with `shared_grams` (exact)
    * and `overlap` = shared / min(|A|, |B|) (the overlap coefficient —
    * robust to very different source sizes, unlike Jaccard).
    *
    * Scale shape: distinct (source, gram) postings, then a gram-keyed
    * self-join — each gram contributes C(s_g, 2) pairs where s_g ≤ the
    * SOURCE CARDINALITY (tens, not documents), and the post-join aggregate
    * partial-combines to source² rows per task before the final tiny
    * shuffle. Two corpus-sized shuffles total (the join's two sides). */
  def sourceOverlapMatrix(df: DataFrame, textCol: String, sourceCol: String,
                          k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // OPT r19: the distinct (source, gram) posting table feeds three
    // consumers (sizes + both self-join sides) that each re-ran the
    // tokenize+shingle+distinct pipeline; it is vocabulary-bounded (one
    // row per distinct gram per source), so one materialization replaces
    // two full corpus passes.
    val d = Checkpoint.materialize(df
      .select(col(sourceCol).as("source"),
        TextStats.tokens(coalesce(col(textCol), lit(""))).as("__t"))
      .select(col("source"),
        TextStats.pinnedCol(Dedup.shinglesOfTokens(col("__t"), k)).as("__g"))
      .select(col("source"), explode(col("__g")).as("g"))
      .distinct())
    val sizes = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
    d.as("a").join(d.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source1"), col("b.source").as("source2"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(sizes.withColumnRenamed("source", "source1")
        .withColumnRenamed("n", "n1"), Seq("source1"))
      .join(sizes.withColumnRenamed("source", "source2")
        .withColumnRenamed("n", "n2"), Seq("source2"))
      .withColumn("overlap", col("shared_grams").cast("double") /
        least(col("n1"), col("n2")).cast("double"))
      .select(col("source1"), col("source2"), col("shared_grams"),
        col("n1"), col("n2"), col("overlap"))
  }

  /** Corpus-wide most-frequent token n-grams: the boilerplate radar — the
    * report behind "what 13-gram is suspiciously common" (Gopher's
    * repeated-passage analysis), stop-gram lists for the Jaccard indexes,
    * and template detection. One row per surviving gram with
    *   - `occurrences` — total occurrence count across the corpus
    *   - `doc_freq` — number of distinct documents containing the gram
    *   - `rank` — dense position under (occurrences desc, gram asc)
    * restricted to grams appearing in at least `minDocFreq` documents,
    * top `topK` overall.
    *
    * Scale shape: explode feeds a groupBy(id, gram) — partial-agg combines
    * map-side, so raw occurrences never cross the wire — then the per-doc
    * (gram, count) rows aggregate by gram (second, much smaller shuffle);
    * no exact-distinct expansion needed because doc_freq is just a row
    * count at that point. The top-K is `orderBy(...).limit(topK)` —
    * Spark's TakeOrdered, partial per partition, never a global sort.
    * The rank window runs on topK rows (output-sized single partition,
    * the documented presentation-layer contract). */
  def topNgrams(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
                topK: Int = 100, minDocFreq: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(minDocFreq >= 1, s"minDocFreq must be >= 1, got $minDocFreq")
    // token array materialized before the generator (HOF-no-CSE), and the
    // gram array PINNED (TextStats.pinnedCol): InferFiltersFromGenerate
    // adds `size(grams) > 0` above the scan, and pushdown would otherwise
    // inline the whole tokenize+transform tree into a pre-repartition
    // filter on the one-file scan — measured 12.5 s -> ~1 s at sf0.1
    val toks = df.select(col(idCol).as("id"),
      TextStats.tokens(coalesce(col(textCol), lit(""))).as("__t"))
    val grams = toks
      .select(col("id"),
        TextStats.pinnedCol(TextStats.ngramsOfTokens(col("__t"), n)).as("__g"))
      .select(col("id"), explode(col("__g")).as("gram"))
    val perDoc = grams.groupBy(col("id"), col("gram"))
      .agg(count(lit(1)).as("__c"))
    val global = perDoc.groupBy(col("gram"))
      .agg(sum(col("__c")).as("occurrences"), count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocFreq)
      .orderBy(col("occurrences").desc, col("gram"))
      .limit(topK)
    // NOTE (r11 advice): this re-sorts the already-TakeOrdered topK rows in
    // one output-sized partition to attach ranks — deliberate: topK is
    // dozens-to-hundreds of rows, and deriving the rank from the limit's
    // order would couple the operator to the sink's row order guarantee.
    global.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("occurrences").desc, col("gram"))).cast("int"))
  }

  /** Duplication-STRUCTURE histogram: the one-table answer to "how much
    * duplication, and in what shapes?" — exact-duplicate groups collapse
    * to min-id representatives (one fingerprint shuffle), near-dup pairs
    * over the representatives feed connected components
    * ([[Dedup.nearDupClusters]]), and each final cluster's TRUE size is
    * the sum of its members' exact-group sizes. Output: one row per
    * distinct cluster size — (`cluster_size`, `n_clusters`, `docs_total`),
    * ascending; `cluster_size = 1` counts the unique documents. The curve
    * every dedup paper plots (Lee et al. 2022 fig. 1), and the artifact
    * that prices a dedup pass BEFORE running the terminal: expected
    * removals = Σ (cluster_size − 1)·n_clusters.
    *
    * Scale shape: inherits the q50/q51 machinery — fingerprint shuffle,
    * banded candidate join over representatives only, CC over the
    * pair-sized graph — plus two histogram-sized aggregates. */
  def dupClusterHistogram(docs: DataFrame, idCol: String, textCol: String,
                          minJaccard: Double = 0.8): DataFrame = {
    val fp = docs.select(col(idCol).as("id"),
      TextStats.fingerprint(coalesce(col(textCol), lit(""))).as("__fp"))
    // exact groups: representative = min id, carry the group size
    val groups = fp.groupBy(col("__fp"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("gsize"))
      .transform(Checkpoint.materialize) // feeds the rep anti-join AND the size weighting
    val reps = docs.join(groups.select(col("rep").as(idCol)),
      Seq(idCol), "left_semi")
    val clusters = Dedup.nearDupClusters(
      Dedup.ngramJaccardPairs(reps, idCol, textCol, minJaccard))
    // every representative lands in a cluster (itself when untouched by
    // the pair graph); cluster size sums the exact-group sizes
    val sizes = groups.select(col("rep"), col("gsize"))
      .join(clusters.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("rep")))
      .groupBy(col("cluster")).agg(sum(col("gsize")).as("__cs"))
    sizes.groupBy(col("__cs").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("docs_total", col("cluster_size") * col("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  /** Near-dup SOURCE matrix: near-duplicate pair counts bucketed by the
    * (unordered) source pair — the "where is my duplication coming from"
    * audit that separates within-source boilerplate from cross-source
    * overlap (two crawl dumps covering the same sites), steering which
    * dedup scope to run and which source to drop. Complements
    * [[dupClusterHistogram]] (shape) and `sourceOverlapMatrix` (content
    * overlap without a similarity threshold).
    *
    * Scale shape: the pair graph is [[Dedup.ngramJaccardPairs]]' banded
    * candidate machinery (never all-pairs); the source labels join back on
    * the id (two skinny equi-joins); output is source²-sized. */
  def nearDupSourceMatrix(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String,
                          minJaccard: Double = 0.8): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs, idCol, textCol, minJaccard)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("id1"), col(sourceCol).as("__s1")), Seq("id1"))
      .join(src.select(col(idCol).as("id2"), col(sourceCol).as("__s2")), Seq("id2"))
      .select(least(col("__s1"), col("__s2")).as("source1"),
        greatest(col("__s1"), col("__s2")).as("source2"))
      .groupBy(col("source1"), col("source2"))
      .agg(count(lit(1)).as("dup_pairs"))
      .orderBy(col("source1"), col("source2"))
  }

  /** Semantic corpus ATLAS: the corpus-cartography report — cluster the
    * embedding space into `nCells` semantic cells (the IVF/SemDeDup cell
    * machinery: deterministic smallest-id pivots, 6-dp cosine assignment,
    * pid tiebreak — SQL-replayable), then describe each cell with exact
    * per-cell statistics and its `topTerms` most DISCRIMINATIVE terms
    * (cell document-frequency × corpus idf — a term common here and rare
    * elsewhere names the cell; plain frequency would label every cell
    * "the"). The map a curation run reads to see WHAT is in a corpus
    * before deciding mixtures/filters — cluster-size balance, per-topic
    * quality, and topic labels from one report.
    *
    * Output: one row per (cell, rank 1..topTerms): `cell`, `n_docs`,
    * `tokens_sum`, `quality_sum` (exact integers), `mean_quality`, `term`,
    * `term_score` (6 dp), `rank`.
    *
    * Scale shape: one pivot broadcast + linear assignment pass (never a
    * pairwise join), one id equi-join docs↔vectors, one groupBy(cell)
    * stats aggregate, one (cell, term) shuffle for cell document
    * frequencies with the corpus df table BROADCAST (capped `maxVocab`
    * deterministic top-K like [[Keywords.tfidfTopTerms]]), and a per-cell
    * rank window (hash-partitioned by cell). Bounded driver state: the
    * document and term counts. Float discipline: idf = ln((N+1)/(df+1))
    * over exact integers, score rounded to 6 dp BEFORE the rank decision, term
    * tiebreak — deterministic and replayed in full by the q131 oracle. */
  def semanticAtlas(docs: DataFrame, emb: DataFrame, docIdCol: String,
                    textCol: String, vecIdCol: String, vecCol: String,
                    nCells: Int = 16, topTerms: Int = 5,
                    maxVocab: Int = 1 << 20): DataFrame = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(topTerms >= 1, s"topTerms must be >= 1, got $topTerms")
    val c = Similarity.prepared(emb, vecIdCol, vecCol)
    val pv = c.orderBy(col("id")).limit(nCells)
      .select(col("id").as("pid"), col("v").as("pv"), col("nrm").as("pnrm"))
    val assigned = Similarity.assignCells(c, pv).select(col("id"), col("cell"))
    val d = docs
      .select(col(docIdCol).as("id"), coalesce(col(textCol), lit("")).as("__tx"))
      .join(assigned, Seq("id"))
      .transform(Checkpoint.materialize) // feeds stats, cell-df, corpus-df and the count
    val stats = d.groupBy(col("cell")).agg(
      count(lit(1)).as("n_docs"),
      sum(TextStats.tokenCount(col("__tx")).cast("long")).as("tokens_sum"),
      sum(TextStats.qualityPoints(col("__tx")).cast("long")).as("quality_sum"))
    val n = d.count()
    // model-sized (<= maxVocab rows); counted once to size its broadcast
    val corpusDf = Keywords.docFreq(d, "__tx")
      .orderBy(col("df").desc, col("term")).limit(maxVocab)
      .transform(Checkpoint.materialize)
    val terms = corpusDf.rdd.count() // one job; Dataset.count costs two under AQE
    val cellDf = d.select(col("cell"), TextStats.pinnedCol(
        array_distinct(TextStats.tokens(col("__tx")))).as("__t"))
      .select(col("cell"), explode(col("__t")).as("term"))
      .groupBy(col("cell"), col("term")).agg(count(lit(1)).as("cdf"))
    val idf = log((lit(n) + lit(1L)).cast("double") /
      (coalesce(col("df"), lit(1L)) + lit(1L)).cast("double"))
    val scored = cellDf.join(Broadcast.small(corpusDf, Some(terms)), Seq("term"), "left")
      .select(col("cell"), col("term"),
        round(col("cdf").cast("double") * idf, 6).as("term_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(col("term_score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topTerms)
      .join(stats, Seq("cell"))
      .withColumn("mean_quality",
        col("quality_sum").cast("double") / col("n_docs").cast("double"))
      .select(col("cell"), col("n_docs"), col("tokens_sum"),
        col("quality_sum"), col("mean_quality"), col("term"),
        col("term_score"), col("rank"))
  }

  /** TOKENIZER-FERTILITY audit: per source, how hard each tokenizer works
    * on this corpus — pre-token word volume, character volume, and the
    * token counts of BOTH trained tokenizer families (BPE merges, unigram
    * pieces), with the standard fertility/compression ratios
    * (tokens-per-word, chars-per-token). The tokenizer-selection report: a
    * source whose fertility spikes under one tokenizer is a source that
    * tokenizer fragments (cost and context-length both follow).
    *
    * Scale shape: the BPE side is a zero-shuffle codegen expression per
    * row ([[TextStats.bpeStats]]); the unigram side is
    * [[Unigram.unigramEncode]]'s distinct-word DP; one id join + one
    * groupBy(source) aggregate of exact longs — every ratio divides
    * identical exact integers. */
  def tokenizerFertility(df: DataFrame, textCol: String, sourceCol: String,
                         merges: Seq[String], uniModel: Seq[(String, Long)],
                         maxPieceLen: Int = 4,
                         idCol: String = "doc_id"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val withB = TextStats.bpeStats(df, textCol, merges)
      .withColumn("__words",
        size(filter(TextStats.bpeTokens(t), x => !x.rlike("^\\s+$"))))
      .withColumn("__chars", length(t).cast("long"))
    val uni = Unigram.unigramEncode(df, idCol, textCol, uniModel, maxPieceLen)
      .select(col(idCol), col("uni_count"))
    withB.join(uni, Seq(idCol))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("docs"),
        sum(col("__words").cast("long")).as("words"),
        sum(col("__chars")).as("chars"),
        sum(col("bpe_count").cast("long")).as("bpe_tokens"),
        sum(col("uni_count").cast("long")).as("uni_pieces"))
      .select(col(sourceCol), col("docs"), col("words"), col("chars"),
        col("bpe_tokens"), col("uni_pieces"),
        (col("bpe_tokens").cast("double") / col("words").cast("double"))
          .as("bpe_per_word"),
        (col("uni_pieces").cast("double") / col("words").cast("double"))
          .as("uni_per_word"),
        (col("chars").cast("double") / col("bpe_tokens").cast("double"))
          .as("chars_per_bpe"),
        (col("chars").cast("double") / col("uni_pieces").cast("double"))
          .as("chars_per_uni"))
  }

  /** Embedding-space DRIFT report between two corpus snapshots — the
    * rebuild-trigger signal for every persisted vector index
    * ([[Similarity.buildIvfIndex]], [[Quantize.buildIvfPqIndex]]): route
    * BOTH snapshots through the OLD snapshot\u0027s coarse geometry
    * (smallest-id pivots — the frozen pivots a serving index actually
    * holds) and report, per cell, the occupancy then and now plus the L2
    * shift of the cell\u0027s mean vector. A cell whose share collapsed,
    * exploded, or whose centroid moved is a cell the frozen pivots no
    * longer describe — rebuild under a new name when the drifted mass
    * matters.
    *
    * Determinism: assignment is the rounded-L2 argmin (pid tiebreak, the
    * IVF-PQ contract); per-(cell, dim) sums are exact 1e-6-grid integers;
    * each cell\u0027s mean arrays assemble in dimension order (sorted
    * collect over exactly dim rows) and the shift folds in order before
    * one 6-dp round, so the report replays value-for-value in SQL (q141).
    *
    * Scale shape: one pivot broadcast + one linear assignment pass per
    * snapshot, then (cell, dim)-keyed aggregates — model-sized state, no
    * corpus self-join; shares come from a broadcast 1-row totals join,
    * never a partitionless window. Output: (cell, n_old, n_new,
    * share_old, share_new, l2_shift) — l2_shift null where either side
    * left the cell empty. */
  def embeddingDrift(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                     vecCol: String, nCells: Int = 16): DataFrame = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    def prep(df: DataFrame) = df.select(col(idCol).as("id"),
      Similarity.toDouble(col(vecCol)).as("v"))
    val o = prep(oldDf); val nw = prep(newDf)
    val piv = o.orderBy(col("id")).limit(nCells)
      .select(col("id").as("pid"), col("v").as("pv"))
      .transform(Checkpoint.materialize)
    def d2c(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    def cellsOf(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("__dd"), col("pid"))
      df.crossJoin(piv)
        .select(col("id"), col("v"), col("pid"),
          round(d2c(col("v"), col("pv")), 6).as("__dd"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("id"), col("v"), col("pid").as("cell"))
    }
    // per-(cell, dim) exact integer sums + per-cell counts -> a
    // dimension-ordered mean array per cell (bounded: nCells x dim rows)
    def meansOf(df: DataFrame): DataFrame = cellsOf(df)
      .select(col("cell"),
        posexplode(transform(col("v"),
          x => floor(x * 1000000.0).cast("long"))).as(Seq("d", "q")))
      .groupBy(col("cell"), col("d"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(max(col("n")).as("n"),
        array_sort(collect_list(struct(col("d"), col("s")))).as("__ss"))
      .select(col("cell"), col("n"),
        transform(col("__ss"),
          e => e("s").cast("double") / 1000000.0 / col("n")).as("mean"))
    val om = meansOf(o).select(col("cell"), col("n").as("n_old"),
      col("mean").as("__mo"))
    val nm = meansOf(nw).select(col("cell"), col("n").as("n_new"),
      col("mean").as("__mn"))
    // nCells rows, but the lineage embeds both corpus assignment passes
    // and feeds TWO consumers (the totals aggregate and the final select)
    // — materialize so each snapshot is scanned once
    val joined = om.join(nm, Seq("cell"), "full_outer").transform(Checkpoint.materialize)
    val totals = joined.agg(
      sum(coalesce(col("n_old"), lit(0L))).as("__to"),
      sum(coalesce(col("n_new"), lit(0L))).as("__tn"))
    joined.crossJoin(totals)
      .select(col("cell"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (coalesce(col("n_old"), lit(0L)).cast("double") /
          col("__to").cast("double")).as("share_old"),
        (coalesce(col("n_new"), lit(0L)).cast("double") /
          col("__tn").cast("double")).as("share_new"),
        when(col("__mo").isNotNull && col("__mn").isNotNull,
          round(sqrt(d2c(col("__mo"), col("__mn"))), 6)).as("l2_shift"))
  }
}
