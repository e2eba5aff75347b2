package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.funcs.{BpeFunctions, TextFunctions, VectorFunctions, WordPieceFunctions}

/** Per-layer metrics of a traced run, as per-op means over the timed ops
  * (set-up spans and jobs are left out). */
object Layers {
  val ExtStages: Seq[String] = Seq("fate", "dedup_keep_best", "mixture",
    "wordpiece", "pack", "clf_train", "clf_score", "ivf_topk", "ivfpq_topk",
    "bm25_serve", "ivf_append", "ivfpq_append", "postings_append")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length of the union of closed intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0L)
  }

  def summarize(jobs: Seq[JobListener#Job], spans: Seq[Trace.Span],
                selfNs: Map[Int, Long], records: Seq[Map[String, Any]],
                spark: SparkSession): Map[String, Double] = {
    val nOps = math.max(records.size, 1).toDouble
    val opSpans = spans.filter(s => s.op >= 0)
    val spanName = spans.map(s => s.id -> s.name).toMap
    val opJobs = jobs.filter(_.op >= 0)
    val out = mutable.LinkedHashMap.empty[String, Double]

    def selfOf(p: String => Boolean): Double =
      opSpans.filter(s => p(s.name)).map(s => selfNs(s.id)).sum / 1e9 / nOps
    def durOf(p: String => Boolean): Double =
      opSpans.filter(s => p(s.name)).map(s => s.endNs - s.startNs).sum / 1e9 / nOps
    def jobsOf(p: String => Boolean): Double =
      opJobs.count(j => spanName.get(j.span).exists(p)) / nOps

    out("pivot.self_s") = selfOf(_ == "pivot")
    out("pivot.jobs") = jobsOf(_ == "pivot")
    out("transforms.self_s") = selfOf(_ == "transforms")
    out("transforms.jobs") = jobsOf(_ == "transforms")
    out("output.render_s") = durOf(_.startsWith("output."))
    out("output.jobs") = jobsOf(_.startsWith("output."))
    out("sources.write_s") = durOf(_ == "sources.write")
    out("sources.read_s") = durOf(_ == "sources.read")
    ExtStages.foreach { st =>
      out(s"ext.$st.self_s") = selfOf(_ == s"ext.$st")
      out(s"ext.$st.jobs") = jobsOf(_ == s"ext.$st")
    }
    // the op's terminal actions: the render of a finished table, the row
    // hash collect of any other frame, a pipeline's output write
    val terminal = (n: String) => n == "sink" || n.startsWith("output.")
    out("sink.exec_s") = durOf(terminal)
    // all library calls before the sink, whatever their module: the eager
    // share of an op's work
    val builder = (n: String) => n != "op" && !terminal(n)
    out("lib.self_s") = selfOf(builder)
    out("lib.jobs") = jobsOf(builder)

    val wallMs = records.map(_("lat_s").asInstanceOf[Double] * 1000).sum
    // a job whose end event the listener bus has not delivered yet counts
    // as busy until its op's last recorded job end
    val byOp = opJobs.groupBy(_.op)
    val busyMs = byOp.values.map { js =>
      val last = js.map(_.endMs).max
      unionMs(js.map(j => (j.startMs, if (j.endMs >= j.startMs) j.endMs else last)))
    }.sum
    out("driver.gap_s") = (wallMs - busyMs) / 1000 / nOps
    out("driver.gap_share") = if (wallMs > 0) (wallMs - busyMs) / wallMs else 0.0
    out("scheduler.jobs") = opJobs.size / nOps
    out("scheduler.stages") = opJobs.map(_.stages).sum / nOps
    out("scheduler.tasks") = opJobs.map(_.tasks).sum / nOps
    out("executor.task_cpu_s") = opJobs.map(_.cpuNs).sum / 1e9 / nOps
    out("executor.task_run_s") = opJobs.map(_.runMs).sum / 1e3 / nOps
    out("executor.gc_s") = opJobs.map(_.gcMs).sum / 1e3 / nOps
    out("executor.busy_cores") =
      if (wallMs > 0) opJobs.map(_.runMs).sum / wallMs else 0.0
    val mb = 1048576.0
    out("data.input_mb") = opJobs.map(_.inputBytes).sum / mb / nOps
    out("data.shuffle_write_mb") = opJobs.map(_.shuffleWrite).sum / mb / nOps
    out("data.shuffle_read_mb") = opJobs.map(_.shuffleRead).sum / mb / nOps
    out("data.spill_mb") = opJobs.map(_.spill).sum / mb / nOps
    out("data.cached_mb") = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / mb
    out("trace.op_p50_s") = median(records.map(_("lat_s").asInstanceOf[Double]))
    out.toMap
  }
}

/** Rows/s of every function `graft.GraftExtensions` injects, each timed on
  * the same fixed in-memory batch, apart from any workload's scheduling. */
object Funcs {
  private val Rows = 200000

  def measure(spark: SparkSession): Map[String, Double] = {
    val rng = new scala.util.Random(7)
    val words = typedlit(Seq.fill(500)(
      rng.alphanumeric.filter(_.isLetter).take(3 + rng.nextInt(6)).mkString.toLowerCase))
    // deterministic pseudo-random columns from the row id
    def u(salt: Int, i: org.apache.spark.sql.Column) = pmod(hash(col("id"), i, lit(salt)), lit(1000003))
    val toks = transform(sequence(lit(1), lit(24)), i => element_at(words, (u(1, i) % 500 + 1).cast("int")))
    val batch = spark.range(Rows)
      .select(col("id"), array_join(toks, " ").as("text"),
        array_distinct(toks).as("shingles"),
        transform(sequence(lit(1), lit(64)), i => ((u(2, i) - 500001) / 500001.0).cast("float")).as("vec"),
        transform(sequence(lit(1), lit(8)), i => (u(3, i) % 16).cast("int")).as("codes"))
      .repartition(4).persist()
    batch.count()

    val vocab = Seq("[UNK]", "the", "th", "an", "##ing", "##en") ++
      ('a' to 'z').map(_.toString) ++ ('a' to 'z').map("##" + _)
    val merges = Seq("t h", "th e", "a n", "i n", "e r", "o n", "r e", "a t")
    val bpeVocab = (('a' to 'z').map(_.toString) ++ Seq("th", "the", "an",
      "in", "er", "on", "re", "at"))
    val cb = Array.fill(8, 16, 8)(rng.nextGaussian())
    val pvs = Array.fill(16, 64)(rng.nextGaussian())
    val bloom = {
      val f = org.apache.spark.util.sketch.BloomFilter.create(Rows.toLong, 0.01)
      (0 until Rows by 2).foreach(i => f.putLong(i.toLong))
      val bos = new java.io.ByteArrayOutputStream()
      f.writeTo(bos)
      bos.toByteArray
    }
    val qtab = typedlit(Array.fill(8)(Array.fill(16)(rng.nextDouble()).toSeq).toSeq)
    val wpIds = WordPieceFunctions.wordPieceIds(col("text"), vocab)
    val bpeIdsC = BpeFunctions.bpeIds(col("text"), merges, bpeVocab)
    val fns: Seq[(String, Column)] = Seq(
      "graft_dot_f" -> VectorFunctions.dotF(col("vec"), col("vec")),
      "graft_lsh_sig" -> VectorFunctions.lshSig(col("vec"), 64),
      "graft_minhash_sig" -> VectorFunctions.minhashSig(col("shingles"),
        Array.tabulate(16)(i => 2L * i + 1), Array.tabulate(16)(i => 7L * i + 3)),
      "graft_simhash_sig" -> VectorFunctions.simhashSig(col("shingles"), useMd5 = false),
      "graft_rolling_hash" -> VectorFunctions.rollingHash(col("text")),
      "graft_bloom_might_contain" -> VectorFunctions.bloomMightContain(col("id"), bloom),
      "graft_pq_encode" -> VectorFunctions.pqEncodeCodes(col("vec"), cb),
      "graft_adc_sum" -> VectorFunctions.adcSum(qtab, col("codes")),
      "graft_nearest_pivot" -> VectorFunctions.nearestPivot(col("vec"), pvs),
      "graft_bpe_encode" -> BpeFunctions.bpeEncode(col("text"), merges),
      "graft_bpe_ids" -> bpeIdsC,
      "graft_bpe_decode" -> BpeFunctions.bpeDecode(bpeIdsC, bpeVocab),
      "graft_bpe_detok" -> BpeFunctions.bpeDetok(BpeFunctions.bpeEncode(col("text"), merges)),
      "graft_wordpiece_encode" -> WordPieceFunctions.wordPieceEncode(col("text"), vocab),
      "graft_wordpiece_ids" -> wpIds,
      "graft_wordpiece_decode" -> WordPieceFunctions.wordPieceDecode(wpIds, vocab),
      "graft_unicode_normalize" -> TextFunctions.unicodeNormalize(col("text"), "NFD"))
    // decode rows feed on ids made in a prior projection, so only the
    // decode itself is timed
    def input(name: String): DataFrame = name match {
      case "graft_bpe_decode" =>
        batch.select(bpeIdsC.as("ids")).persist()
      case "graft_wordpiece_decode" =>
        batch.select(wpIds.as("ids")).persist()
      case _ => batch
    }
    val res = fns.map { case (name, c) =>
      val in = input(name)
      val expr = name match {
        case "graft_bpe_decode" => BpeFunctions.bpeDecode(col("ids"), bpeVocab)
        case "graft_wordpiece_decode" => WordPieceFunctions.wordPieceDecode(col("ids"), vocab)
        case _ => c
      }
      in.count()
      val q = in.select(max(xxhash64(expr)))
      q.collect()
      val best = (0 until 2).map { _ =>
        val t = System.nanoTime(); q.collect(); (System.nanoTime() - t) / 1e9
      }.min
      if (in ne batch) in.unpersist()
      s"funcs.$name.rows_per_s" -> Rows / best
    }
    batch.unpersist()
    res.toMap
  }
}

/** Writes the traced run's spans and jobs, one JSON object a line. */
object Spans {
  def write(path: String, spans: Seq[Trace.Span], jobs: Seq[JobListener#Job]): Unit = {
    val self = Trace.selfNs
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(Json.line(Map("type" -> "span", "id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "self_ns" -> self(s.id))))
      }
      jobs.foreach { j =>
        w.println(Json.line(Map("type" -> "job", "id" -> j.id, "span" -> j.span,
          "op" -> j.op, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stages, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
          "run_ms" -> j.runMs, "gc_ms" -> j.gcMs, "input_bytes" -> j.inputBytes,
          "shuffle_write_bytes" -> j.shuffleWrite,
          "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill)))
      }
    } finally w.close()
  }
}
