package graft

import org.apache.spark.CheckpointDirs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext._

/** BM25 retrieval, the persisted postings store, RRF fusion, and per-source
  * quantile normalization — the checks the DuckDB oracle can't express:
  * hand-computed scores, the stopword cap's pruning (the fixture corpora in
  * ExtQueries have a closed vocabulary so the cap is a no-op there), the
  * append==rebuild store law, crash-recovery meta repair, and
  * partitioning-invariance of the histogram-CDF. */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 4 docs: "rare" appears only in doc 0; "common" in all; lengths differ
  private def corpus = Seq(
    (0L, "rare common alpha beta"),
    (1L, "common alpha alpha beta beta gamma"),
    (2L, "common gamma delta"),
    (3L, "common delta epsilon zeta eta theta")
  ).toDF("doc_id", "text")

  test("bm25: hand-computed score for a single-term query") {
    val q = Seq((100L, "rare")).toDF("qid", "qtext")
    val out = Retrieval.bm25TopK(corpus, q, "doc_id", "text", "qid", "qtext",
        topK = 5, maxDfFrac = 1.0)
      .collect()
    // "rare" occurs only in doc 0: one result row
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("qid") == 100L && r.getAs[Long]("doc_id") == 0L &&
      r.getAs[Int]("rank") == 1 && r.getAs[Long]("n_terms") == 1L)
    // N=4, df=1, idf = ln(1 + 3.5/1.5); tf=1, len=4, avg=(4+6+3+6)/4=4.75
    val idf = math.log(1.0 + (4.0 - 1.0 + 0.5) / 1.5)
    val tfn = 1.0 * 2.2 / (1.0 + 1.2 * (0.25 + 0.75 * 4.0 / 4.75))
    // contribution floored onto the 1e-6 grid, score = grid-sum / 10^6
    assert(r.getAs[Double]("score") == math.floor(idf * tfn * 1e6) / 1e6)
  }

  test("bm25: the maxDfFrac stopword cap prunes the universal term only") {
    val q = Seq((100L, "rare common")).toDF("qid", "qtext")
    // cap at 0.5: "common" (df=4 of 4) is pruned, "rare" (df=1) survives
    val capped = Retrieval.bm25TopK(corpus, q, "doc_id", "text", "qid",
        "qtext", topK = 5, maxDfFrac = 0.5).collect()
    assert(capped.length == 1 && capped.head.getAs[Long]("doc_id") == 0L)
    // cap off: every doc matches via "common"
    val open = Retrieval.bm25TopK(corpus, q, "doc_id", "text", "qid",
        "qtext", topK = 5, maxDfFrac = 1.0).collect()
    assert(open.length == 4)
    // doc 0 still ranks first — it alone adds the high-idf "rare" term
    assert(open.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("doc_id") == 0L)
  }

  test("bm25 ranking is invariant to input partitioning") {
    val q = corpus.filter(col("doc_id") < 2)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    def run(c: org.apache.spark.sql.DataFrame) =
      Retrieval.bm25TopK(c, q, "doc_id", "text", "qid", "qtext",
          topK = 4, maxDfFrac = 1.0)
        .orderBy("qid", "rank").collect().toSeq
    assert(run(corpus) == run(corpus.repartition(7)))
  }

  test("postings store: build + append serves exactly like from-scratch") {
    val spark2 = spark
    val a = corpus.filter(col("doc_id") < 2)
    val b = corpus.filter(col("doc_id") >= 2)
    Retrieval.buildPostingsStore(a, "doc_id", "text", "rtest_store")
    Retrieval.appendToPostingsStore(b, "doc_id", "text", "rtest_store")
    val q = Seq((100L, "rare common gamma")).toDF("qid", "qtext")
    val served = Retrieval.bm25Serve(spark2, "rtest_store", q, "qid", "qtext",
        topK = 5, maxDfFrac = 1.0)
      .orderBy("qid", "rank").collect().toSeq
    val scratch = Retrieval.bm25TopK(corpus, q, "doc_id", "text", "qid",
        "qtext", topK = 5, maxDfFrac = 1.0)
      .orderBy("qid", "rank").collect().toSeq
    assert(served == scratch)
    // analyzer mismatch is rejected before any postings are touched
    val ex = intercept[IllegalArgumentException] {
      Retrieval.appendToPostingsStore(b, "doc_id", "text", "rtest_store",
        analyzer = "bpe")
    }
    assert(ex.getMessage.contains("analyzer"))
  }

  test("postings store: append cuts lineage through the session's checkpoint dir") {
    Retrieval.buildPostingsStore(corpus.filter(col("doc_id") < 2), "doc_id",
      "text", "rtest_ckpt")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-append").toString
    CheckpointDirs.withCheckpointDir(dir) {
      Retrieval.appendToPostingsStore(corpus.filter(col("doc_id") >= 2),
        "doc_id", "text", "rtest_ckpt")
    }
    assert(CheckpointDirs.files(dir).nonEmpty, "no checkpoint files under the dir")
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "checkpoint dir leaked")
    // same store as a from-scratch build
    Retrieval.buildPostingsStore(corpus, "doc_id", "text", "rtest_ckpt_full")
    def postings(n: String) =
      spark.table(s"${n}_postings").orderBy("id", "term").collect().toSeq
    def meta(n: String) = spark.table(s"${n}_meta").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(postings("rtest_ckpt") == postings("rtest_ckpt_full"))
    assert(meta("rtest_ckpt") == meta("rtest_ckpt_full"))
  }

  test("postings store: meta repair recomputes the frozen statistics") {
    Retrieval.buildPostingsStore(corpus, "doc_id", "text", "rtest_repair")
    // simulate the crash window: stats stale by one shard
    Retrieval.writePostingsMeta(spark, "rtest_repair", "ws-lower", 1L, 1L)
    Retrieval.repairPostingsStoreMeta(spark, "rtest_repair")
    val meta = spark.table("rtest_repair_meta").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(meta("n_docs") == "4" && meta("sum_len") == "19")
  }

  test("rrfFuse: hand-computed fusion of two rankings") {
    val sparse = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("qid", "doc_id", "rank")
    val dense = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("qid", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(sparse, dense), topK = 3)
      .orderBy("rank").collect()
    def g6(xs: Double*) = xs.map(x => math.floor(x * 1e6)).sum / 1e6
    // doc 11: 1/62 + 1/61 (both lists); doc 10: 1/61; doc 12: 1/62 —
    // each addend floored onto the 1e-6 grid before the exact sum
    val got = out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_lists"),
      r.getAs[Double]("rrf_score"), r.getAs[Int]("rank"))).toSeq
    assert(got == Seq(
      (11L, 2L, g6(1.0 / 62, 1.0 / 61), 1),
      (10L, 1L, g6(1.0 / 61), 2),
      (12L, 1L, g6(1.0 / 62), 3)))
  }

  test("quantileNormalizeScores: CUME_DIST semantics incl. ties; partitioning-invariant") {
    val df = Seq(
      ("s1", 1L, 0.1), ("s1", 2L, 0.2), ("s1", 3L, 0.2), ("s1", 4L, 0.9),
      ("s2", 5L, 0.5), ("s2", 6L, 0.7)
    ).toDF("source", "id", "score")
    def run(d: org.apache.spark.sql.DataFrame) =
      Corpus.quantileNormalizeScores(d, "source", col("score"),
          keepTopFrac = 0.5)
        .select("id", "q_norm", "kept").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    val got = run(df)
    // s1: 0.1 -> 1/4; the tied 0.2s both -> 3/4; 0.9 -> 1. kept = q > 0.5
    // s2: 0.5 -> 1/2 (NOT kept: strictly-greater cut), 0.7 -> 1
    assert(got == Seq(
      (1L, 0.25, false), (2L, 0.75, true), (3L, 0.75, true), (4L, 1.0, true),
      (5L, 0.5, false), (6L, 1.0, true)))
    assert(got == run(df.repartition(5)))
  }
}
