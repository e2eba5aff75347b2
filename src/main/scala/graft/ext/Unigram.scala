package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (Kudo 2018, ACL — the SentencePiece unigram
  * model), the likelihood-based sibling of the BPE family
  * ([[TextStats.bpeTrain]]/[[TextStats.bpeStats]]): pieces carry log-prob
  * SCORES and a word's tokenization is the Viterbi-best segmentation, not a
  * greedy merge replay.
  *
  * Determinism discipline: scores are INTEGER micro-nats
  * (`round(ln(c/T)·1e6)` — `ln` is taken once per piece per M-step inside
  * one JVM, then the model is FROZEN), Viterbi folds exact integer sums,
  * and ties break on the smallest start position (the longest final
  * piece), so a frozen model segments identically in the driver trainer,
  * the distributed encoder, and the SQL oracle's recursive-CTE replay
  * (q144). Unknown single characters cost [[UnkScore]] — far below any
  * trained piece, so known pieces always win, but every word stays
  * segmentable.
  *
  * Scale shape: training collects one capped word-frequency table (the
  * [[TextStats.bpeTrain]] posture — `maxWords` rows, driver EM is
  * model-sized work); encoding tokenizes the corpus with ONE distinct-word
  * table, a candidate-substring explode (≤ len·maxPieceLen per word)
  * joined against the BROADCAST piece table, a per-word bounded DP fold,
  * and an ordered per-document reassembly — two skinny shuffles (word key,
  * doc key), nothing all-pairs, model-sized broadcast only. */
object Unigram {

  /** Score of an out-of-vocabulary single character, in micro-nats. Below
    * any trainable piece score (ln(1/2^63)·1e6 ≈ −43.7e6 is the absolute
    * floor; real corpora sit far above −25e6), so UNK never beats a known
    * segmentation, while keeping every character reachable. */
  val UnkScore: Long = -30000000L

  /** Train a unigram-LM piece vocabulary of (piece, scoreMicroNats).
    *
    * Seed = every substring (length ≤ `maxPieceLen`) of the capped
    * word-frequency table, occurrence-weighted; all single characters are
    * always kept (segmentability), multi-char pieces compete for the
    * `vocabSize` slots by (count desc, piece). `iters` EM rounds follow:
    * E re-segments every word by Viterbi under the current scores
    * (frequency-weighted usage counts), M re-scores with add-one smoothing
    * (`ln((use+1)/T)`) and re-prunes multi-char pieces by usage. All state
    * is the capped word table + the piece table — driver work is
    * model-sized, exactly [[TextStats.bpeTrain]]'s contract. Output sorted
    * by piece for a deterministic artifact. */
  def unigramTrain(df: DataFrame, textCol: String, vocabSize: Int = 64,
                   maxPieceLen: Int = 4, maxWords: Int = 10000,
                   iters: Int = 2): Seq[(String, Long)] = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val words = df
      .select(explode(filter(TextStats.bpeTokens(coalesce(col(textCol), lit(""))),
        t => !t.rlike("^\\s+$"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    def scoresOf(counts: Map[String, Long]): Map[String, Long] = {
      val total = counts.valuesIterator.sum.toDouble
      counts.map { case (p, c) =>
        p -> math.round(math.log(c / total) * 1e6)
      }
    }
    def prune(counts: scala.collection.Map[String, Long]): Map[String, Long] = {
      val chars = counts.filter(_._1.length == 1)
      val multi = counts.filter(_._1.length > 1).toSeq
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - chars.size))
      (chars ++ multi).toMap
    }

    // occurrence-weighted substring seed
    val seed = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, n) <- words; st <- 0 until w.length;
         ln <- 1 to math.min(maxPieceLen, w.length - st)) {
      val p = w.substring(st, st + ln)
      seed.update(p, seed.getOrElse(p, 0L) + n)
    }
    var model = scoresOf(prune(seed))
    for (_ <- 0 until iters) {
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, n) <- words; p <- viterbi(w, model, maxPieceLen))
        usage.update(p, usage.getOrElse(p, 0L) + n)
      // add-one smoothing keeps every surviving piece (and every char)
      // scoreable; pruning is by raw usage
      val kept = prune(usage.toMap.view
        .filterKeys(k => k.length == 1 || usage.getOrElse(k, 0L) > 0).toMap
        .map { case (p, c) => p -> c })
      val chars = model.keySet.filter(_.length == 1) // chars never drop
      val withChars = chars.foldLeft(kept) { (m, c) =>
        if (m.contains(c)) m else m + (c -> 0L)
      }
      model = scoresOf(withChars.map { case (p, c) => p -> (c + 1L) })
    }
    model.toSeq.sortBy(_._1)
  }

  /** Viterbi-best segmentation of one word under integer piece scores:
    * best(pos) = max over starts j (smallest j on ties — the longest last
    * piece) of best(j) + score(word[j, pos)); unknown single chars score
    * [[UnkScore]]. The reference implementation the distributed encoder
    * and the SQL replay must match bit-for-bit. */
  def viterbi(w: String, scores: Map[String, Long], maxPieceLen: Int): Seq[String] = {
    val L = w.length
    if (L == 0) return Nil
    val best = Array.fill(L + 1)(Long.MinValue)
    val back = Array.fill(L + 1)(-1)
    best(0) = 0L
    for (pos <- 1 to L) {
      var j = math.max(0, pos - maxPieceLen)
      while (j < pos) {
        if (best(j) != Long.MinValue) {
          val piece = w.substring(j, pos)
          val sc = scores.get(piece) match {
            case Some(s) => Some(s)
            case None if pos - j == 1 => Some(UnkScore)
            case None => None
          }
          sc.foreach { s =>
            val cand = best(j) + s
            if (cand > best(pos)) { best(pos) = cand; back(pos) = j }
          }
        }
        j += 1
      }
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var pos = L
    while (pos > 0) { val j = back(pos); out.prepend(w.substring(j, pos)); pos = j }
    out.toList
  }

  /** Distributed Viterbi ENCODE of a corpus under a frozen model:
    * (idCol, uni_count, uni_str) with pieces joined by U+001F in document
    * order. Pre-tokenization is [[TextStats.bpeTokens]] (whitespace
    * dropped) — the BPE family's unit, so the two tokenizers are
    * comparable on the same corpus.
    *
    * Plan: token explode (order kept by pos) → DISTINCT words → candidate
    * substrings (≤ len·maxPieceLen rows per word) LEFT-joined against the
    * broadcast piece table (UNK single chars coalesce to [[UnkScore]]) →
    * per-word edge list → one bounded DP fold + backtrace per distinct
    * word → word-keyed join back + ordered per-document reassembly. The
    * DP runs once per DISTINCT word, not per token — the corpus pays one
    * skinny (id, pos, word) shuffle and one word-keyed join. */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
                    model: Seq[(String, Long)],
                    maxPieceLen: Int = 4): DataFrame = {
    require(model.nonEmpty, "unigramEncode needs a non-empty model")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val spark = df.sparkSession
    import spark.implicits._

    // the exploded token table feeds TWO consumers (the distinct-word DP
    // pipeline and the per-doc reassembly join) -- materialize it so the
    // text column is scanned and pre-tokenized once
    val toks = Checkpoint.materialize(df
      .select(col(idCol).as("__id"),
        posexplode(filter(TextStats.bpeTokens(coalesce(col(textCol), lit(""))),
          t => !t.rlike("^\\s+$"))).as(Seq("__pos", "__w"))))
    val words = toks.select(col("__w").as("w")).distinct()
      .withColumn("__len", length(col("w")))

    // candidate substrings: (w, st, en, piece)
    val cands = words
      .select(col("w"), col("__len"),
        explode(flatten(transform(sequence(lit(0), col("__len") - 1),
          st => transform(
            sequence(lit(1), least(lit(maxPieceLen), col("__len") - st)),
            ln => struct(st.cast("int").as("st"),
              (st + ln).cast("int").as("en")))))).as("__c"))
      .select(col("w"), col("__c.st").as("st"), col("__c.en").as("en"),
        expr("substring(w, st + 1, en - st)").as("piece"))
    val pieces = model.toDF("piece", "s")
    val edges = cands.join(pieces, Seq("piece"), "left")
      .filter(col("s").isNotNull || col("en") - col("st") === 1)
      .select(col("w"), col("en"), col("st"),
        coalesce(col("s"), lit(UnkScore)).as("sc"))
    // per-word edge list sorted (en, st) so the fold's strict > keeps the
    // smallest start on score ties — the viterbi() tie-break
    val elist = edges.groupBy(col("w"))
      .agg(array_sort(collect_list(struct(col("en"), col("st"), col("sc"))))
        .as("edges"))
      .withColumn("__len", length(col("w")))

    val initDp = array(struct(lit(0L).as("c"), lit(-1).as("b")))
    val nullBest = struct(lit(null).cast("long").as("c"), lit(-1).as("b"))
    val dp = elist.withColumn("__dp",
      aggregate(sequence(lit(1), col("__len")), initDp, (acc, pos) =>
        concat(acc, array(
          aggregate(col("edges"), nullBest, (bst, e) => {
            val prev = element_at(acc, e("st") + 1)("c")
            val cand = prev + e("sc")
            when(e("en") === pos && prev.isNotNull &&
              (bst("c").isNull || cand > bst("c")),
              struct(cand.as("c"), e("st").cast("int").as("b")))
              .otherwise(bst)
          })))))
    val enc = dp.withColumn("__seg",
      aggregate(sequence(lit(1), col("__len")),
        struct(col("__len").cast("int").as("p"),
          array().cast("array<string>").as("ps")),
        (s2, _) => {
          val j = element_at(col("__dp"), s2("p") + 1)("b")
          when(s2("p") > 0,
            struct(j.cast("int").as("p"),
              concat(array(substring(col("w"), j + 1, s2("p") - j)),
                s2("ps")).as("ps")))
            .otherwise(s2)
        }))
      .select(col("w"), col("__seg.ps").as("pieces"))

    val byWord = enc
    val perDoc = toks.join(byWord, toks("__w") === byWord("w"))
      .groupBy(col("__id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("pieces")))),
        x => x("pieces"))).as("__toks"))
    df.select(col(idCol))
      .join(perDoc, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(size(col("__toks")), lit(0)).cast("int").as("uni_count"),
        coalesce(array_join(col("__toks"), "\u001f"), lit("")).as("uni_str"))
      .orderBy(col(idCol))
  }

  // ---- persisted model artifact (VERDICT r16 #8) -------------------------
  // The unigram family's artifact round trip, completing the triad next to
  // BPE's merges.txt/vocab.json and WordPiece's vocab.txt: SentencePiece's
  // PLAIN-TEXT model shape — one `piece<TAB>score` line per piece — except
  // the score is the engine's INTEGER micro-nat (round(ln(p)·1e6)), not a
  // float logprob, so write→load→encode is bit-identical to encoding under
  // the in-memory model (float formatting can't drift what it never
  // touches). Lines are ordered by piece (the trainer's deterministic
  // artifact order); the piece is escaped only where the line format
  // demands it (backslash, tab, newline, CR — GPT-2-pattern pieces can
  // carry a leading space, which stays raw and unambiguous before the
  // single tab separator).

  /** Serialize a model to the plain-text artifact (ends with a newline). */
  def renderModelTxt(model: Seq[(String, Long)]): String = {
    def esc(p: String): String = {
      val sb = new java.lang.StringBuilder(p.length + 4)
      p.foreach {
        case '\\' => sb.append("\\\\")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case c => sb.append(c)
      }
      sb.toString
    }
    model.sortBy(_._1).map { case (p, s) => esc(p) + "\t" + s + "\n" }.mkString
  }

  /** Parse the plain-text artifact back to (piece, scoreMicroNats) — the
    * exact inverse of [[renderModelTxt]]; malformed lines (no tab, or a
    * non-integer score) fail loudly rather than load a corrupt model. */
  def parseModelTxt(content: String): Seq[(String, Long)] = {
    def unesc(p: String): String = {
      val sb = new java.lang.StringBuilder(p.length)
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        if (c == '\\' && i + 1 < p.length) {
          p.charAt(i + 1) match {
            case '\\' => sb.append('\\'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case other =>
              throw new IllegalArgumentException(
                "bad escape '\\" + other + "' in unigram model line: " + p)
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    content.linesIterator.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      require(i >= 0, s"unigram model line has no tab separator: $l")
      (unesc(l.substring(0, i)), l.substring(i + 1).toLong)
    }.toSeq
  }

  def writeModel(path: String, model: Seq[(String, Long)]): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      renderModelTxt(model))
    ()
  }

  def loadModel(path: String): Seq[(String, Long)] =
    parseModelTxt(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}
