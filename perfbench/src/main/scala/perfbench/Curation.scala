package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.PresentBy
import graft.ext.{Classifier, Corpus, Crawl, Dedup, TextStats}
import graft.perfbench.Trace.span

/** `curation_pipeline`: the bodies of two registry curation queries,
  * `q184_pretrain_e2e` (quality fate, keep-best dedup, mixture, WordPiece,
  * packing, sharded write) and `q111_quality_classifier` (classifier
  * training and scoring), rebuilt from the library's public functions with
  * one span per `ext` stage. Each returns the frame its registry entry
  * returns, so the registry's oracle SQL checks it. */
object Curation {

  /** The registry's q184 fixture constants (the oracle SQL embeds the
    * same strings, so any drift here fails the output check). */
  private val q184Templates: Seq[String] =
    Seq("alpha", "bravo", "charlie", "delta").map { s =>
      Seq(
        s"the $s corpus begins with clean rows here.",
        "every line holds eight plain words that count.",
        "we keep the data neat and very tidy.",
        "tables join rows and columns with care today.",
        "scans read pages while filters prune them fast.",
        s"the $s pipeline packs tokens into batches now.",
        "that is all we have with the data."
      ).mkString("\n")
    }
  private val q184Variant = "a small extra tail line follows here now."

  /** The registry's q172 WordPiece vocabulary. */
  private val q172Vocab: Seq[String] = {
    val singles = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    Seq("[UNK]", "the", "th", "end", "##ing", "don", "do", "re", "an",
      "##nd", "##en") ++ singles ++ singles.map("##" + _) ++
      Seq(".", ",", "'", "-")
  }

  private def read(s: SparkSession, dir: String, t: String): DataFrame =
    span("sources.read")(graft.Tables.read(s, dir, t))

  private def docsPar(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** The token-line page body q184 builds from each document. */
  private def lines: org.apache.spark.sql.Column = {
    val toks = TextStats.tokens(coalesce(col("text"), lit("")))
    TextStats.bound(toks) { t =>
      transform(sequence(lit(0), greatest(ceil(size(t) / 8.0).cast("int"),
          lit(1)) - 1),
        i => concat(array_join(slice(t, i * 8 + 1, lit(8)), " "), lit(".")))
    }
  }

  def q111(s: SparkSession, dir: String, scratch: String): DataFrame = {
    val docs = docsPar(s, dir)
    val slice = docs.filter(col("doc_id") % 4 === 0)
      .withColumn("__pts", TextStats.qualityPoints(col("text")))
    val model = span("ext.clf_train")(Classifier.train(
      pos = slice.filter(col("__pts") === 10).drop("__pts"),
      neg = slice.filter(col("__pts") < 10).drop("__pts"),
      idCol = "doc_id", textCol = "text", iters = 12, lr = 300.0))
    // the oracle replays scoring against this frozen model
    graft.OracleAux.writeModel("q111_model", model)
    span("ext.clf_score")(Classifier.score(docs, "doc_id", "text", model))
      .select(col("doc_id"), col("lang"), col("clf_prob"), col("clf_keep"))
      .presentBy(col("doc_id"))
  }

  def q184(s: SparkSession, dir: String, scratch: String): DataFrame = {
    val docs = read(s, dir, "documents")
    val emb = read(s, dir, "embeddings")
    val nDocs = docs.count()
    val np = math.max(2L * nDocs / 5L, 1L)
    val embK = math.max(math.min(nDocs / 2L, emb.count()), 1L)
    val ownBody = concat(array_join(lines, "\n"),
      lit("\nthat is all we have with the data."),
      when(col("doc_id") % 13 === 0, "\nlorem ipsum boilerplate tail.")
        .otherwise(""))
    val tmpl = element_at(array(q184Templates.map(lit): _*),
      (col("doc_id") % 4).cast("int") + 1)
    val body = when(col("doc_id") % 9 === 0, tmpl)
      .when(col("doc_id") % 9 === 1, concat(tmpl, lit("\n" + q184Variant)))
      .otherwise(ownBody)
    val url = concat(lit("http://example"),
      ((col("doc_id") % np) % 4).cast("string"),
      lit(".com/page/"), (col("doc_id") % np).cast("string"))
    val fixture = docs
      .select(col("doc_id"), col("n_chars"), col("lang"), url.as("url"),
        body.as("text2"))
      .join(emb.filter(col("vec_id") < embK)
        .select(col("vec_id"), col("embedding")),
        col("doc_id") % embK === col("vec_id"))
      .drop("vec_id")
      .repartition(s.sparkContext.defaultParallelism)
      .localCheckpoint()
    val fate = span("ext.fate")(Crawl.refinedWebFate(fixture, "doc_id", "url",
      "text2", "n_chars", "embedding", blockedDomains = Seq("example3.com"),
      materializeInput = false))
    val quality = fixture
      .join(fate.filter(col("fate").isin("kept", "exact", "neardup",
          "semantic")).select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text2"), col("n_chars"), col("lang"))
      .localCheckpoint()
    val dd = span("ext.dedup_keep_best")(Dedup.dedupCorpusKeepBest(quality,
      "doc_id", "text2", "n_chars")).localCheckpoint()
    val mixed = span("ext.mixture")(
      Corpus.temperatureMixture(dd, "doc_id", "lang", alpha = 0.5))
    val wp = span("ext.wordpiece")(
      TextStats.wordPieceStats(mixed, "text2", q172Vocab))
      .select(col("doc_id"), col("wp_tokens"))
    val packed = span("ext.pack")(Corpus.packTokenArrays(wp, "doc_id",
        "wp_tokens", capacity = 512))
      .select(col("chunk"), col("n_ids"),
        md5(array_join(col("ids"), "\u001f")).as("ids_hash"),
        array_join(transform(col("doc_spans"), x =>
          concat_ws(":", x.getField("doc"), x.getField("off"),
            x.getField("len"))), " ").as("spans_str"))
      .repartition(1).sortWithinPartitions(col("chunk"))
      .localCheckpoint()
    val path = s"$scratch/q184_shards_${System.nanoTime()}"
    val manifest = span("sources.write")(graft.sources.IO.writeShards(packed, path, 8))
    val back = s.read.parquet(path)
      .select(col("chunk"),
        element_at(split(input_file_name(), "/"), -1).as("file"))
    val perFile = back.groupBy(col("file")).agg(count(lit(1)).as("rows_read"))
    val withIdx = manifest.join(perFile, Seq("file"))
      .withColumn("shard_idx",
        (row_number().over(Window.orderBy(col("file"))) - 1).cast("long"))
    packed.join(back, Seq("chunk")).join(withIdx, Seq("file"))
      .select(col("chunk"), col("n_ids"), col("ids_hash"), col("spans_str"),
        col("shard_idx"), col("rows").as("shard_rows"), col("rows_read"),
        (col("bytes") > 0).as("bytes_pos"))
      .presentBy(col("chunk"))
  }

  val pipelines: Seq[(String, (SparkSession, String, String) => DataFrame)] = Seq(
    "q184_pretrain_e2e" -> q184,
    "q111_quality_classifier" -> q111)
}

/** Runs the pipelines in seeded order. The warm pass runs each pipeline
  * once on a small corpus of the same shape; each timed op ends in the
  * registry's own sink, a parquet write, and every written output is
  * checked against DuckDB after the run. */
class CurationWorkload(spark: SparkSession, a: Args) extends Workload {
  private val scratch = new java.io.File("scratch").getAbsolutePath
  private val names = Curation.pipelines.map(_._1)
  private val fns = Curation.pipelines.toMap
  private val rng = new scala.util.Random(a.seed)
  private val dumps = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private lazy val nDocs = spark.read.parquet(s"${a.data}/documents.parquet").count()

  private def run(n: String, dir: String, path: String): String = {
    val out = fns(n)(spark, dir, scratch)
    span("sink")(out.write.parquet(path))
    path
  }

  def setup(): Unit =
    names.foreach(n => run(n, a.warm, s"$scratch/warm_$n"))

  def passSeconds: Double = 16.0

  def pass(n: Int): Seq[Op] =
    rng.shuffle(names).map { p =>
      Op(p, "read", () => {
        val dump = s"op${dumps.size}_$p"
        dumps(dump) = p
        run(p, a.data, s"${a.out}/check/$dump")
      })
    }

  def check(op: Op, digest: String): Boolean = true

  override def artifact: Map[String, Any] = {
    val oracle = graft.SparkEntry.oracleSql
    // q111's oracle replays scoring with the model its last run froze
    Json.write(s"${a.out}/oracle.json", names.map(n => n -> oracle(n)).toMap)
    Map("checks" -> dumps, "docs" -> nDocs)
  }
}
