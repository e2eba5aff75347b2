package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Quantize, Retrieval, Similarity}
import graft.perfbench.Trace.span

/** `retrieval_serve`: three stores are built once over the base slice of
  * the corpus (an IVF index, a residual IVF-PQ index and a BM25 postings
  * store, with the registry's q71/q137/q157 parameters), then a seeded
  * stream of hybrid query batches is served from them. Every
  * [[BlockLen]]-th op appends the next shard of vectors and documents to
  * all three stores instead.
  *
  * Every query op keeps its rows; the DuckDB oracle replays the registry's
  * q71/q137/q157 SQL over the store contents at that point of the stream
  * (build on a prefix + append equals build on the union), and the RRF
  * fusion is recomputed from the oracle's lists. */
class RetrievalWorkload(spark: SparkSession, a: Args) extends Workload {
  import RetrievalWorkload._

  private val emb = spark.read.parquet(s"${a.data}/embeddings.parquet")
  private val docs = spark.read.parquet(s"${a.data}/documents.parquet")
  private val nVec = emb.count()
  private val nDoc = docs.count()
  private val baseVec = (nVec * BaseShare).toLong
  private val baseDoc = (nDoc * BaseShare).toLong
  private val shardVec = ((nVec - baseVec) / MaxAppends).max(1L)
  private val shardDoc = ((nDoc - baseDoc) / MaxAppends).max(1L)
  private var vecEnd = baseVec
  private var docEnd = baseDoc
  private var state = 0
  private val rng = new scala.util.Random(a.seed)
  private val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def docsPar(df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)

  /** Collects `df` and returns its rows plus a local copy to fuse over. */
  private def served(df: DataFrame): (Seq[Seq[Any]], DataFrame) = {
    val rows = df.collect()
    (rows.map(_.toSeq).toSeq,
      spark.createDataFrame(rows.toList.asJava, df.schema))
  }

  private def query(record: Boolean): String = {
    val qids = rng.shuffle((0L until math.min(baseVec, baseDoc)).toVector)
      .take(BatchSize).sorted
    val qv = emb.filter(col("vec_id").isin(qids: _*))
    val qd = docs.filter(col("doc_id").isin(qids: _*))
    val (ivf, ivfL) = span("ext.ivf_topk")(served(Similarity.annIvfTopKIndexed(
      spark, IvfName, qv, "vec_id", "embedding", topK = 5, nProbe = 4)))
    val (pq, pqL) = span("ext.ivfpq_topk")(served(Quantize.ivfPqTopKIndexed(
      spark, PqName, qv, "vec_id", "embedding", topK = 5, nProbe = 4)))
    val (bm, bmL) = span("ext.bm25_serve")(served(Retrieval.bm25Serve(
      spark, Bm25Name, qd, "doc_id", "text", topK = 10, maxDfFrac = 1.0)))
    val fused = span("sink")(Retrieval.rrfFuse(Seq(
        ivfL.select(col("qid"), col("neighbor_id").as("doc_id"), col("rank")),
        pqL.select(col("qid"), col("neighbor_id").as("doc_id"), col("rank")),
        bmL.select(col("qid"), col("doc_id"), col("rank"))), topK = 10)
      .select("qid", "doc_id", "n_lists", "rrf_score", "rank")
      .collect().map(_.toSeq).toSeq)
    if (record) outputs += Map("state" -> state, "vec_end" -> vecEnd,
      "doc_end" -> docEnd, "qids" -> qids,
      "ivf_cols" -> ivfL.columns.toSeq, "ivf" -> ivf,
      "pq_cols" -> pqL.columns.toSeq, "pq" -> pq,
      "bm25_cols" -> bmL.columns.toSeq, "bm25" -> bm, "rrf" -> fused)
    s"q${outputs.size}:${fused.size}"
  }

  private def append(): String = {
    val v = emb.filter(col("vec_id") >= vecEnd && col("vec_id") < vecEnd + shardVec)
    val d = docs.filter(col("doc_id") >= docEnd && col("doc_id") < docEnd + shardDoc)
    span("ext.ivf_append")(
      Similarity.appendToIvfIndex(spark, IvfName, v, "vec_id", "embedding"))
    span("ext.ivfpq_append")(
      Quantize.appendToIvfPqIndex(spark, PqName, v, "vec_id", "embedding"))
    span("ext.postings_append")(
      Retrieval.appendToPostingsStore(docsPar(d), "doc_id", "text", Bm25Name))
    vecEnd += shardVec
    docEnd += shardDoc
    state += 1
    s"a$state"
  }

  def setup(): Unit = {
    val baseV = emb.filter(col("vec_id") < baseVec)
    Similarity.buildIvfIndex(baseV, "vec_id", "embedding", IvfName,
      nCells = 16, buckets = 8)
    Quantize.buildIvfPqIndex(baseV, "vec_id", "embedding", PqName,
      nCells = 16, buckets = 8, m = 8, ksub = 16,
      train = emb.filter(col("vec_id") < 64), kmeansIters = 2, residual = true)
    Retrieval.buildPostingsStore(docsPar(docs.filter(col("doc_id") < baseDoc)),
      "doc_id", "text", Bm25Name)
    // warm both op kinds; the warm append is a real one, so the oracle
    // replays the stores from state 1 on
    query(record = false)
    append()
    Clock.exclude {
      val oracle = graft.SparkEntry.oracleSql
      Json.write(s"${a.out}/oracle.json", Map(
        "ivf" -> oracle("q71_ann_ivf_append"),
        "pq" -> oracle("q137_ivfpq_append"),
        "bm25" -> oracle("q157_bm25_indexed")))
    }
  }

  def passSeconds: Double = 8.0

  /** One block: [[BlockLen]] - 1 query batches against one store state,
    * then one append. */
  def pass(n: Int): Seq[Op] = {
    require(vecEnd + shardVec <= nVec && docEnd + shardDoc <= nDoc,
      "more blocks than reserved shards")
    Seq.fill(BlockLen - 1)(Op("query", "read", () => query(record = true))) :+
      Op("append", "write", () => append())
  }

  def check(op: Op, digest: String): Boolean = true

  override def artifact: Map[String, Any] = Map(
    "retrieval" -> outputs.toSeq,
    "batch_size" -> BatchSize, "base_vectors" -> baseVec,
    "base_docs" -> baseDoc, "shard_vectors" -> shardVec,
    "shard_docs" -> shardDoc)
}

object RetrievalWorkload {
  val IvfName = "pb_ivf"
  val PqName = "pb_ivfpq"
  val Bm25Name = "pb_bm25"
  val BatchSize = 64
  val BlockLen = 5
  val BaseShare = 0.7
  val MaxAppends = 12
}
