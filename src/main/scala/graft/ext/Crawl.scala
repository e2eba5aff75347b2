package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The full crawl-curation pipeline COMPOSED, in the published RefinedWeb
  * order (Penedo et al. 2023, "The RefinedWeb Dataset for Falcon LLM":
  * URL-level filtering first — it needs no tokenization — then line/
  * document quality, then deduplication, cheapest to most expensive:
  * exact → fuzzy → semantic). Every stage is an existing oracled operator
  * of this library; what this terminal adds (and q138 pins) is their
  * COMPOSITION — each stage consumes exactly the prior stage's survivors
  * through one materialization boundary, no stage re-scans the corpus,
  * and the per-document verdict is auditable.
  *
  * Scale shape: 7 stage boundaries, each a [[Checkpoint.materialize]]
  * cut of the shrinking survivor set; the only corpus-keyed
  * shuffles are the ones the member operators already make (url-key
  * aggregate, fingerprint aggregate, band buckets, cell pairs). The fate
  * labeling at the end is a chain of skinny id-only left joins. */
object Crawl {

  /** Pipeline stages in drop-precedence order (a document's `fate` is the
    * FIRST stage that dropped it). */
  val Stages: Seq[String] = Seq("url_dedup", "url_rules", "c4", "gopher",
    "exact", "neardup", "semantic")

  /** Run the composed pipeline and label every INPUT row with its `fate`:
    * `kept`, or the first stage that dropped it.
    *
    *   1. `url_dedup`  — canonical-URL keep-best ([[Urls.dedupByUrl]],
    *                     score = `scoreCol`)
    *   2. `url_rules`  — URL hygiene ([[Urls.filterUrls]]: host present,
    *                     blocklist, length, digit fraction)
    *   3. `c4`         — C4 line corrections + page gates
    *                     ([[TextStats.c4Filter]]); survivors' text is the
    *                     CLEANED text downstream, the RefinedWeb posture
    *   4. `gopher`     — Gopher document-quality gates over the cleaned
    *                     text ([[TextStats.gopherFilter]])
    *   5. `exact`      — fingerprint dedup, min-id representative
    *                     ([[Dedup.exact]])
    *   6. `neardup`    — MinHash-LSH near-dup components, min-id winner
    *                     ([[Dedup.minhashDedupPairs]] +
    *                     [[Dedup.nearDupClusters]])
    *   7. `semantic`   — embedding-cosine dedup over `embCol`
    *                     ([[Similarity.semanticDedup]])
    *
    * Returns (idCol, fate). The input must carry an embedding per row
    * (the real pipeline embeds before the semantic stage). */
  def refinedWebFate(docs: DataFrame, idCol: String, urlCol: String,
                     textCol: String, scoreCol: String, embCol: String,
                     blockedDomains: Seq[String] = Nil,
                     maxUrlLen: Int = 2048, maxDigitFrac: Double = 0.5,
                     minJaccard: Double = 0.8, minCos: Double = 0.95,
                     nCells: Int = 16,
                     materializeInput: Boolean = true)
      : DataFrame = {
    // OPT r20: `base` fans out to three consumers (url stage, the emb
    // re-attach, the fate labeling) and CARRIES the embedding payload, so
    // it is the pipeline's heaviest materialization. A caller whose input
    // is ALREADY materialized (q184 checkpoints its fixture) passes
    // materializeInput = false and the three consumers re-read the
    // caller's blocks through a free projection instead of paying a second
    // full corpus+embedding copy.
    val baseProj = docs.select(col(idCol).as("id"), col(urlCol).as("url"),
      col(textCol).as("text"), col(scoreCol).as("score"),
      col(embCol).as("emb"))
    val base = if (materializeInput) Checkpoint.materialize(baseProj) else baseProj
    // OPT r19 — two restructurings, same fates (oracle-verified):
    //  1. Stages 2–4 (URL rules, C4, Gopher) are ROW-LOCAL rule flags
    //     ([[Urls.urlStats]]/[[TextStats.c4Stats]]/[[TextStats.gopherStats]]
    //     emit per-rule verdict columns), so one fused projection pass
    //     replaces three full stage materializations AND three of the
    //     seven fate-labeling joins — the per-stage filters composed
    //     exactly this conjunction, just with a barrier per rule set.
    //  2. The heavy `emb` payload no longer rides the stage chain: only
    //     the semantic stage reads it, so the chain materializes skinny
    //     (id, text[, flags]) rows and the survivor ids re-attach the
    //     vectors with ONE id equi-join against the base checkpoint
    //     (guide §8: decide on lightweight proxies, move heavy bytes
    //     once).
    val s1 = Urls.dedupByUrl(
      base.select(col("id"), col("url"), col("text"), col("score")),
      "id", "url", "score")
    val withUrl = Urls.urlStats(
      s1.select(col("id"), col("url"), col("text")),
      "url", blockedDomains, maxUrlLen, maxDigitFrac)
    val withC4 = TextStats.c4Stats(withUrl, "text")
    val withGopher = TextStats.gopherStats(
      withC4.withColumn("__gt", col("clean_text")), "__gt")
    // gopher flags are computed for EVERY url-dedup survivor (row-local,
    // don't-care for rows an earlier rule already dropped — the fate
    // precedence below shadows them); `text` becomes C4's cleaned text,
    // exactly what the old per-stage substitution produced for survivors
    val flags = Checkpoint.materialize(withGopher.select(col("id"), col("url_ok"),
      col("c4_keep"), col("gopher_pass"), col("clean_text").as("text")))
    // a plain filter: `flags` is materialized, so there is no verdict
    // lineage for PushDownPredicates to inline below it
    val s4 = flags.filter(col("url_ok") && col("c4_keep") && col("gopher_pass"))
      .select(col("id"), col("text"))
    val s5 = Checkpoint.materialize(s4.join(Dedup.exact(s4, "id", "text").select(col("id")),
      Seq("id"), "left_semi"))
    val ndDrops = Dedup.nearDupClusters(
        Dedup.minhashDedupPairs(s5, "id", "text", minJaccard))
      .filter(col("id") =!= col("cluster")).select(col("id"))
    val s6 = Checkpoint.materialize(s5.join(ndDrops, Seq("id"), "left_anti"))
    val s6e = s6.select(col("id"))
      .join(base.select(col("id"), col("emb")), Seq("id"))
    val s7 = Similarity.semanticDedup(s6e, "id", "emb", minCos, nCells).select(col("id"))
    val marked = base.select(col("id"))
      .join(flags.select(col("id"), col("url_ok"), col("c4_keep"),
        col("gopher_pass")).withColumn("__s1", lit(1)), Seq("id"), "left")
      .join(s5.select(col("id")).withColumn("__s5", lit(1)), Seq("id"), "left")
      .join(s6.select(col("id")).withColumn("__s6", lit(1)), Seq("id"), "left")
      .join(s7.withColumn("__s7", lit(1)), Seq("id"), "left")
    // coalesce: a NULL rule verdict (e.g. url_ok over a null URL) dropped
    // the row in the old filter formulation — `filter(null)` is false —
    // so the fate must charge the same stage, not fall through
    val fate = when(col("__s1").isNull, lit("url_dedup"))
      .when(!coalesce(col("url_ok"), lit(false)), lit("url_rules"))
      .when(!coalesce(col("c4_keep"), lit(false)), lit("c4"))
      .when(!coalesce(col("gopher_pass"), lit(false)), lit("gopher"))
      .when(col("__s5").isNull, lit("exact"))
      .when(col("__s6").isNull, lit("neardup"))
      .when(col("__s7").isNull, lit("semantic"))
      .otherwise(lit("kept"))
    marked.select(col("id").as(idCol), fate.as("fate"))
  }
}
