package graft.ext

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Corpus keyword extraction: per-document top-k terms by tf-idf — the
  * classic Salton/Sparck-Jones statistic, used in curation pipelines for
  * topic tagging, cluster labeling, and per-source vocabulary audits.
  *
  * Scale shape: the corpus is TOKENIZED ONCE into the (id, term, tf)
  * postings table (one shuffle), materialized and reused by both
  * consumers — the document-frequency table is a postings-sized
  * `groupBy(term)` (df = distinct docs per term ≡ postings rows per term,
  * ids being unique), and scoring joins the BROADCAST df table back onto
  * the same postings. The `maxVocab` cap sorts the VOCABULARY only when
  * it actually binds (vocab > maxVocab, checked with one count on the
  * already-materialized table); the common uncapped case pays no global
  * sort at all. One per-document window (hash-partitioned by id, never
  * global) for the rank cut. Bounded driver state: two counts.
  *
  * Float discipline (the q90 rules): idf = ln((N+1)/(df+1)) is a ratio of
  * exact integers, the score rounds to 6 dp BEFORE the rank decision, and
  * ties break on the term string — so the emitted top-k is deterministic
  * and SQL-replayable. Terms cut by the vocabulary cap (necessarily rare)
  * score with df = 1, the closed-vocabulary treatment matching
  * [[Perplexity]]'s unseen-gram convention.
  * (Beyond the reference surface; required by the build brief.) */
object Keywords {

  /** Document-frequency table of a corpus: (term, df) — in how many
    * documents each distinct token appears. One map-side-combined
    * aggregate over per-doc distinct tokens. */
  def docFreq(df: DataFrame, textCol: String,
              tokenizer: Column => Column = TextStats.tokens): DataFrame =
    df.select(TextStats.pinnedCol(
        array_distinct(tokenizer(coalesce(col(textCol), lit(""))))).as("__t"))
      .select(explode(col("__t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Per-document top-`k` terms by tf-idf: returns (idCol, term, tf,
    * tfidf, rank) — one row per kept term, rank 1..k by (tfidf desc, term
    * asc). Documents whose every token ties at zero still emit their k
    * lexicographically-first terms (idf is never zero under the +1
    * smoothing), and empty documents emit the empty-string token row the
    * tokenizer produces — callers filter on `term != ""` if they care. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, maxVocab: Int = 1 << 20,
                    tokenizer: Column => Column = TextStats.tokens): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    // term-frequency postings: the corpus's ONE tokenize + (id, term)
    // shuffle, materialized for its two consumers (df table, scoring)
    val tf = df
      .select(col(idCol).as("__id"), TextStats.pinnedCol(
        tokenizer(coalesce(col(textCol), lit("")))).as("__t"))
      .select(col("__id"), explode(col("__t")).as("term"))
      .groupBy(col("__id"), col("term")).agg(count(lit(1)).as("tf"))
      .transform(Checkpoint.materialize)
    // df ≡ docFreq: postings rows are distinct (id, term), so rows-per-term
    // IS the distinct-document count (assumes unique ids, the [[docFreq]]
    // contract either way)
    val dfAll = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .transform(Checkpoint.materialize)
    // cap: sort the vocabulary only when it binds — the deterministic
    // top-K (df desc, term asc) is unchanged, the common uncapped case
    // skips the global sort
    val dfT =
      if (dfAll.count() <= maxVocab) dfAll
      else dfAll.orderBy(col("df").desc, col("term")).limit(maxVocab)
        .transform(Checkpoint.materialize)
    // column-pruned: the row count never needs the text
    val n = df.select(col(idCol)).count()
    val idf = log((lit(n) + lit(1L)).cast("double") /
      (coalesce(col("df"), lit(1L)) + lit(1L)).cast("double"))
    val scored = tf.join(dfT, Seq("term"), "left")
      .select(col("__id"), col("term"), col("tf"),
        round(col("tf").cast("double") * idf, 6).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__id").as(idCol), col("term"), col("tf"), col("tfidf"),
        col("rank"))
  }
}
