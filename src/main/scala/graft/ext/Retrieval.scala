package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval: Okapi BM25 (Robertson & Zaragoza 2009, "The
  * Probabilistic Relevance Framework") with Lucene's non-negative idf
  * variant ln(1 + (N − df + 0.5)/(df + 0.5)) — per-query top-k search,
  * "more-like-this" lexical lookup, and the sparse half of hybrid
  * (BM25 + dense ANN) retrieval via reciprocal-rank fusion
  * ([[rrfFuse]], Cormack/Clarke/Buettcher SIGIR 2009).
  *
  * Where it sits in a training-data pipeline: lexical retrieval is the
  * standard tool for targeted decontamination probes ("which training
  * documents does this benchmark question retrieve?"), duplicate triage
  * beyond fingerprint equality, and retrieval-based data selection. The
  * postings store below is the serving posture — build once over the
  * corpus, append shards as they land ([[appendToPostingsStore]]), probe
  * with small query batches ([[bm25Serve]]); the corpus is never rescanned
  * per probe.
  *
  * Scale shape: the corpus pays ONE (id, term) shuffle to build postings
  * (map-side-combined counts). Queries are the SMALL side by serving
  * reality: their distinct terms BROADCAST into the postings as the
  * inverted-index probe, so only postings rows whose term occurs in some
  * query ever flow. Document frequencies for exactly those terms fall out
  * of the probed rows themselves (postings hold one row per (id, term)) —
  * no corpus-wide vocabulary table is built, shipped, or capped. Ultra-
  * common probe terms are dropped by `maxDfFrac` ([[Dedup]]'s stop-gram
  * cap, the retrieval edition) BEFORE their postings fan into scoring —
  * the skew guard: without it one stopword query term drags O(N) rows into
  * the per-pair aggregate for a term whose idf is ~0 anyway.
  *
  * Float discipline: idf and the tf normalization are fixed-order double
  * expressions over exact integers and the two frozen corpus statistics;
  * each per-term contribution is then QUANTIZED to the 1e-6 integer grid
  * (floor(contrib·10⁶) — the q39/q67 integer-grid discipline), so the
  * per-(query, doc) score is an exact integer SUM: fold-order-free,
  * bit-identical in any engine, and a plain codegen'd aggregate — no
  * per-group array materialization (an ordered collect-sort-fold measured
  * ~4× the whole query on the closed-vocabulary bench corpus). The score
  * surfaces as sum/10⁶ (exactly 6 dp by construction); ties break
  * (score desc, id asc). Deterministic and replayable in ANSI SQL.
  * (Beyond the reference surface; required by the build brief.) */
object Retrieval {

  /** Inverted postings of a corpus: one row per (id, term) — (id, len,
    * term, tf). `len` is the document's token count; it is functionally
    * dependent on id and carried in the grouping key, so the postings
    * build stays ONE map-side-combined aggregate. */
  def postings(corpus: DataFrame, idCol: String, textCol: String,
               tokenizer: Column => Column = TextStats.tokens): DataFrame =
    corpus.select(col(idCol).as("id"),
        TextStats.pinnedCol(tokenizer(coalesce(col(textCol), lit("")))).as("__t"))
      .select(col("id"), size(col("__t")).cast("long").as("len"),
        explode(col("__t")).as("term"))
      .groupBy(col("id"), col("len"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k from prebuilt postings + frozen corpus statistics:
    * (qid, doc_id, n_terms, score, rank), rank 1..topK per query by
    * (score desc, doc_id asc). See the object doc for the plan shape;
    * `queries` must be the small side (its distinct terms broadcast). */
  def bm25FromPostings(post: DataFrame, nDocs: Long, sumLen: Long,
                       queries: DataFrame, qidCol: String, qtextCol: String,
                       topK: Int, k1: Double = 1.2, b: Double = 0.75,
                       maxDfFrac: Double = 0.5,
                       tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(nDocs >= 1, s"BM25 needs a non-empty corpus, got nDocs=$nDocs")
    require(k1 >= 0.0 && b >= 0.0 && b <= 1.0,
      s"need k1 >= 0 and b in [0,1], got k1=$k1 b=$b")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0,1], got $maxDfFrac")
    // distinct (qid, term): queries-sized; feeds the probe-term set AND
    // the scoring join — one materialization
    val qt = queries.select(col(qidCol).as("qid"),
        explode(TextStats.pinnedCol(
          tokenizer(coalesce(col(qtextCol), lit(""))))).as("term"))
      .distinct()
    val qtM = Checkpoint.materialize(qt)
    val qterms = qtM.select(col("term")).distinct()
    // the inverted-index probe: only postings rows for query terms survive;
    // feeds the df aggregate AND the scoring join — one materialization
    // (sized by the probed postings, the operator's true working set — the
    // bulk-probe regime can make this corpus-scale)
    val hit = Checkpoint.materialize(post.join(qterms, Seq("term")))
    // stopword pruning: a term in more than maxDfFrac of the corpus scores
    // ~0 idf but costs O(N) postings rows — drop it before the fan-out
    val dfCap = math.max(1L, (maxDfFrac * nDocs.toDouble).toLong)
    val dfT = hit.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val avgLen = sumLen.toDouble / nDocs.toDouble
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfn = col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("len").cast("double") / lit(avgLen)))
    // 1e-6-grid quantization: the per-pair sum is an exact long — order-
    // independent, so the shuffle-ordered SUM is safe AND stays inside
    // whole-stage codegen (no per-group array). Magnitudes are tiny:
    // idf ≤ ln(1 + 2N), tfn < k1 + 1 → contrib·10⁶ ≪ 2^63.
    val scored = hit.join(dfT, Seq("term"))
      .join(qtM, Seq("term"))
      .select(col("qid"), col("id"),
        floor(idf * tfn * lit(1000000.0)).cast("long").as("__c6"))
    val agg = scored.groupBy(col("qid"), col("id"))
      .agg(count(lit(1)).as("n_terms"),
        (sum(col("__c6")).cast("double") / lit(1000000.0)).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    agg.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("id").as("doc_id"), col("n_terms"),
        col("score"), col("rank"))
  }

  /** End-to-end BM25 top-k: build postings + statistics from `corpus`,
    * then probe with `queries`. For repeated probes over a frozen corpus
    * use the postings store ([[buildPostingsStore]]/[[bm25Serve]]).
    *
    * Contract: `idCol` is unique in `corpus`. Postings and the two corpus
    * statistics come out of ONE tokenize pass keyed by id, so rows sharing
    * an id are not separate documents: their term counts add up, and
    * nDocs/sumLen count each distinct (id, token count) pair once. The
    * exploded aggregate uses `explode_outer`, so a zero-token document
    * still yields one (id, len=0, null-term) row and counts toward nDocs;
    * the null-term rows are filtered before scoring, leaving the postings
    * row set identical to [[postings]]'. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               textCol: String, qidCol: String, qtextCol: String,
               topK: Int, k1: Double = 1.2, b: Double = 0.75,
               maxDfFrac: Double = 0.5,
               tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    val (post, n, sl) = postingsWithStats(corpus, idCol, textCol, tokenizer)
    bm25FromPostings(post, n, sl,
      queries, qidCol, qtextCol, topK, k1, b, maxDfFrac, tokenizer)
  }

  /** The one-pass core shared by [[bm25TopK]] / [[buildPostingsStore]] /
    * [[appendToPostingsStore]]: the exploded (id, len, term, tf) aggregate
    * with one null-term sentinel row per zero-token document, materialized
    * once; (nDocs, sumLen) read off the materialized rows with one cheap
    * aggregate; the returned postings have the sentinels filtered out, so
    * their row set is exactly [[postings]]'. */
  private def postingsWithStats(corpus: DataFrame, idCol: String,
                                textCol: String,
                                tokenizer: Column => Column): (DataFrame, Long, Long) = {
    val withSentinels = Checkpoint.materialize(corpus
      .select(col(idCol).as("id"),
        TextStats.pinnedCol(tokenizer(coalesce(col(textCol), lit("")))).as("__t"))
      .select(col("id"), size(col("__t")).cast("long").as("len"),
        explode_outer(col("__t")).as("term"))
      .groupBy(col("id"), col("len"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val r = withSentinels.select(col("id"), col("len")).distinct()
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("len")), lit(0L)).as("sl"))
      .head()
    (withSentinels.filter(col("term").isNotNull), r.getLong(0), r.getLong(1))
  }

  // ---------------------------------------------------------------------
  // Persisted postings store — the shard/epoch lifecycle
  // ---------------------------------------------------------------------

  private def readPostingsMeta(spark: SparkSession,
                               name: String): Map[String, String] =
    spark.table(s"${name}_meta").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private[graft] def writePostingsMeta(spark: SparkSession, name: String,
                                analyzer: String, nDocs: Long,
                                sumLen: Long): Unit = {
    import spark.implicits._
    Seq("analyzer" -> analyzer, "n_docs" -> nDocs.toString,
        "sum_len" -> sumLen.toString)
      .toDF("key", "value").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_meta")
  }

  /** Persist the inverted postings of `corpus` as `<name>_postings` with
    * the BM25 corpus statistics and the analyzer tag frozen in
    * `<name>_meta` — the q66/q137/sketch-store posture applied to lexical
    * retrieval: build once, append shards as they land, probe query
    * batches without rescanning the corpus.
    *
    * `analyzer` is a caller-chosen tag naming the tokenizer. Appends and
    * serves must present the same tag: the postings rows cannot reveal
    * which analyzer produced them, so the tag is the guard against mixing
    * token spaces (the sketch store's frozen-params rule).
    *
    * Same unique-id contract as [[bm25TopK]]: the frozen statistics count
    * each distinct id once. */
  def buildPostingsStore(corpus: DataFrame, idCol: String, textCol: String,
                         name: String, analyzer: String = "ws-lower",
                         tokenizer: Column => Column = TextStats.tokens): Unit = {
    val spark = corpus.sparkSession
    // one tokenize pass feeds both the stored postings and the frozen
    // statistics (see postingsWithStats)
    val (post, n, sl) = postingsWithStats(corpus, idCol, textCol, tokenizer)
    graft.sources.IO.dropOrphanedLocation(spark, s"${name}_meta")
    graft.sources.IO.dropOrphanedLocation(spark, s"${name}_postings")
    post
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_postings")
    writePostingsMeta(spark, name, analyzer, n, sl)
  }

  /** Append a NEW shard's documents to the store. Contract: shard ids are
    * disjoint from every id already stored (the ingestion reality — shards
    * are new arrivals; re-sending a shard double-counts its terms, exactly
    * like re-folding a batch into an exact-count sketch). New ids mean the
    * shard's postings rows are disjoint from the stored ones, so the
    * append is a pure INSERT — no merge pass, no store rewrite: O(shard),
    * not O(corpus). "Build from everything" and "append shard by shard"
    * produce the same row set, so serving is indistinguishable from a
    * from-scratch build (oracle-checked by q157).
    *
    * Crash posture: the insert commits through Spark's file-commit
    * protocol (task files surface only at job commit); meta is rewritten
    * AFTER the insert, so a crash between the two leaves the postings
    * complete but the statistics stale by one shard — scores skew
    * slightly, no posting is lost or duplicated. Recovery is
    * [[repairPostingsStoreMeta]] (one aggregate over the postings), never
    * a rebuild.
    *
    * Concurrency contract: appends are SINGLE-WRITER, like the
    * disjoint-ids rule above. The meta rewrite is a read-modify-write; two
    * concurrent appends would both read the old stats and the second
    * overwrite silently drops the first shard's n_docs/sum_len (postings
    * rows are fine — only the BM25 statistics skew). Serialize appends in
    * the ingestion driver; if a race did happen,
    * [[repairPostingsStoreMeta]] recovers this case too, since it
    * recomputes the stats from the postings themselves. */
  def appendToPostingsStore(shard: DataFrame, idCol: String, textCol: String,
                            name: String, analyzer: String = "ws-lower",
                            tokenizer: Column => Column = TextStats.tokens): Unit = {
    val spark = shard.sparkSession
    val meta = readPostingsMeta(spark, name)
    require(meta("analyzer") == analyzer,
      s"shard analyzer '$analyzer' != frozen store analyzer " +
        s"'${meta("analyzer")}' for '$name' — postings built with a " +
        "different tokenizer cannot share a term space")
    // OPT r20: one tokenize pass over the shard (see postingsWithStats)
    val (post, n2, sl2) = postingsWithStats(shard, idCol, textCol, tokenizer)
    post
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(s"${name}_postings")
    writePostingsMeta(spark, name, meta("analyzer"),
      meta("n_docs").toLong + n2, meta("sum_len").toLong + sl2)
  }

  /** Recompute `<name>_meta`'s n_docs/sum_len from the postings themselves
    * (one distinct-(id, len) aggregate) — the recovery tool for a crash
    * that landed between an append's insert and its meta rewrite. */
  def repairPostingsStoreMeta(spark: SparkSession, name: String): Unit = {
    val meta = readPostingsMeta(spark, name)
    val r = spark.table(s"${name}_postings")
      .select(col("id"), col("len")).distinct()
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("len")), lit(0L)).as("sl"))
      .head()
    writePostingsMeta(spark, name, meta("analyzer"),
      r.getLong(0), r.getLong(1))
  }

  /** Probe the persisted store: BM25 top-k for `queries` without touching
    * the corpus — the postings table plus two frozen longs are the whole
    * serving state. */
  def bm25Serve(spark: SparkSession, name: String, queries: DataFrame,
                qidCol: String, qtextCol: String, topK: Int,
                k1: Double = 1.2, b: Double = 0.75, maxDfFrac: Double = 0.5,
                analyzer: String = "ws-lower",
                tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    val meta = readPostingsMeta(spark, name)
    require(meta("analyzer") == analyzer,
      s"probe analyzer '$analyzer' != frozen store analyzer " +
        s"'${meta("analyzer")}' for '$name'")
    bm25FromPostings(spark.table(s"${name}_postings"),
      meta("n_docs").toLong, meta("sum_len").toLong,
      queries, qidCol, qtextCol, topK, k1, b, maxDfFrac, tokenizer)
  }

  // ---------------------------------------------------------------------
  // Hybrid fusion
  // ---------------------------------------------------------------------

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of ranked
    * lists sharing columns (qid, doc_id, rank): score(q, d) =
    * Σ_lists 1/(c + rank_list(d)), each addend quantized to the 1e-6 grid
    * (the BM25 discipline above) so the sum is an exact integer — fold-
    * order-free. Hybrid retrieval's standard merge: purely rank-based, so
    * BM25 scores and cosine similarities need no calibration against each
    * other. Output (qid, doc_id, n_lists, rrf_score, rank), rank 1..topK
    * per query by (score desc, doc_id asc).
    *
    * Scale shape: inputs are already top-k-sized (queries × k rows); the
    * union shuffles once on (qid, doc_id); the rank window is per-query. */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs >= 1 ranking")
    require(topK >= 1 && c >= 0, s"need topK >= 1 and c >= 0, got $topK, $c")
    val tagged = rankings.map(
      _.select(col("qid"), col("doc_id"), col("rank")))
      .reduce(_.unionByName(_))
    val contrib = floor(lit(1.0) / (lit(c.toDouble) + col("rank").cast("double"))
      * lit(1000000.0)).cast("long")
    val agg = tagged
      .select(col("qid"), col("doc_id"), contrib.as("__c6"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_lists"),
        (sum(col("__c6")).cast("double") / lit(1000000.0)).as("rrf_score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    agg.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }
}
