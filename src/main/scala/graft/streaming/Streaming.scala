package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.core.FlatTable

/** Structured-Streaming layer (SURVEY.md §7 M5 extension): windowed
  * aggregation with watermarks feeding the same tabulation operators, either
  * incrementally (append/update modes) or via `foreachBatch` re-tabulation
  * when margins must stay globally consistent within each emitted batch.
  */
object Streaming {

  /** Tumbling/sliding windowed aggregation with a watermark for state
    * cleanup and late-data handling. Pass `watermark = None` to INHERIT an
    * upstream watermark instead of defining one — required when composing
    * after another stateful stage (e.g. [[dedupExact]]): Spark disallows
    * redefining the watermark downstream of the one already set. */
  def windowedAgg(events: DataFrame, tsCol: String, watermark: Option[String],
                  win: String, slide: Option[String] = None,
                  keys: Seq[String] = Nil, aggs: Seq[Column] = Seq(count(lit(1)).as("n"))
                 ): DataFrame = {
    val w = slide match {
      case Some(s) => window(col(tsCol), win, s)
      case None    => window(col(tsCol), win)
    }
    val marked = watermark match {
      case Some(w) => events.withWatermark(tsCol, w)
      case None =>
        // None means INHERIT — fail fast if there is nothing to inherit
        // (an unwatermarked stateful aggregation would start fine and then
        // grow window state without bound on an endless feed)
        require(events.queryExecution.analyzed.collectFirst {
          case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => e
        }.isDefined,
          "watermark = None inherits an upstream watermark, but none is set on the input")
        events
    }
    marked
      .groupBy((w.as("window") +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Corpus-quality drift monitor: per event-time window (optionally per
    * source), the integer quality-point sum, document count, the exact
    * mean, and `drift` = mean − `baselineMean` (fit the baseline on a
    * trusted static slice: `avg(qualityPoints)` there). The alerting
    * primitive of a continuously-ingesting pipeline — a souring source
    * shows up as a sustained negative drift in its windows. Sums are
    * INTEGER points ([[graft.ext.TextStats.qualityPoints]]), so the means
    * are fold-order-exact and batch/stream parity is bit-for-bit;
    * [[windowedAgg]] supplies the watermark/state semantics. */
  def qualityDrift(events: DataFrame, tsCol: String, textCol: String,
                   watermark: Option[String], win: String,
                   baselineMean: Double, keys: Seq[String] = Nil): DataFrame =
    windowedAgg(
      events.withColumn("__pts", graft.ext.TextStats.qualityPoints(col(textCol))),
      tsCol, watermark, win, keys = keys,
      aggs = Seq(
        sum(col("__pts").cast("long")).as("points_sum"),
        count(lit(1)).as("docs")))
      .withColumn("mean_quality",
        col("points_sum").cast("double") / col("docs").cast("double"))
      .withColumn("drift", col("mean_quality") - lit(baselineMean))

  /** Streaming VOCABULARY-CARDINALITY monitor: per event-time window
    * (optionally per source), the HyperLogLog register sketch of the
    * distinct tokens — [[graft.ext.Sketch.hllSketch]]'s streaming form.
    * The register max IS the windowed stateful aggregate, so state is
    * capped at windows·keys·m rows no matter how many distinct tokens
    * flow (an exact windowed `approx`-free distinct would grow state with
    * the vocabulary); output rows are the same (reg, maxr) artifact the
    * batch layer produces, so [[graft.ext.Sketch.hllEstimate]] turns the
    * sink table into per-window estimates and [[graft.ext.Sketch.hllMerge]]
    * unions stream windows with batch shard sketches EXACTLY — the
    * vocabulary-collapse alarm (a souring scrape shows up as a falling
    * per-window distinct count) with batch/stream parity bit-for-bit. */
  def vocabCardinality(events: DataFrame, tsCol: String, textCol: String,
                       watermark: Option[String], win: String,
                       keys: Seq[String] = Nil, m: Int = 256,
                       salt: String = "graft:hll"): DataFrame =
    windowedAgg(
      graft.ext.Sketch.explodedTokenRegisters(events, textCol, m, salt),
      tsCol, watermark, win, keys = keys :+ "reg",
      aggs = Seq(max(col("rank")).as("maxr")))

  /** Streaming TOKEN-FREQUENCY monitor: per event-time window (optionally
    * per source), the count-min cell counts of the token stream —
    * [[graft.ext.Sketch.cmsSketch]]'s streaming form. State caps at
    * windows·keys·d·w cells however many distinct tokens flow; sink rows
    * are the batch (row, cell, c) artifact, so
    * [[graft.ext.Sketch.cmsEstimate]] prices any candidate set per window
    * and [[graft.ext.Sketch.cmsMerge]] folds stream windows into batch
    * shard sketches EXACTLY — the heavy-hitter drift alarm (a template
    * flood or boilerplate burst shows up as a cell group spiking across
    * windows) with bit-for-bit batch/stream parity. */
  def tokenFrequency(events: DataFrame, tsCol: String, textCol: String,
                     watermark: Option[String], win: String,
                     keys: Seq[String] = Nil, d: Int = 4, w: Int = 1024,
                     salt: String = "graft:cms"): DataFrame =
    windowedAgg(
      graft.ext.Sketch.explodedTokenCells(events, textCol, d, w, salt),
      tsCol, watermark, win, keys = keys ++ Seq("row", "cell"),
      aggs = Seq(count(lit(1)).as("c")))

  /** Streaming LENGTH-QUANTILE monitor: per event-time window (optionally
    * per source), the log-histogram bucket counts of the document
    * token-count distribution — [[graft.ext.Sketch.logHistSketch]]'s
    * streaming form. State caps at windows·keys·buckets rows (each bucket
    * set is ≤ ~(64−subBits)·2^subBits) however many documents flow; sink
    * rows are the batch (lo, w, c) artifact, so
    * [[graft.ext.Sketch.logHistQuantiles]] prices p50/p90/p99 per window
    * and [[graft.ext.Sketch.logHistMerge]] folds stream windows into batch
    * shard sketches EXACTLY — the length-drift alarm (a boilerplate flood
    * or truncation bug moves the tail quantiles window-over-window) with
    * bit-for-bit batch/stream parity. */
  def lengthQuantiles(events: DataFrame, tsCol: String, textCol: String,
                      watermark: Option[String], win: String,
                      keys: Seq[String] = Nil, subBits: Int = 5): DataFrame =
    windowedAgg(
      graft.ext.Sketch.logHistBuckets(
        events.withColumn("__len", size(graft.ext.TextStats.tokens(
          coalesce(col(textCol), lit(""))))),
        col("__len"), subBits).drop("__len"),
      tsCol, watermark, win, keys = keys ++ Seq("lo", "w"),
      aggs = Seq(count(lit(1)).as("c")))

  /** Streaming DECONTAMINATION against a FROZEN benchmark — the online
    * form of [[graft.ext.Corpus.dropContaminatedNear]] (q145): each
    * micro-batch drops every document at shingle Jaccard ≥ `minJaccard`
    * with any benchmark item, via the same banded-MinHash candidates +
    * exact-confirm machinery. The bench side is STATIC and eval-sized, so
    * this is a stateless per-batch composition — `foreachBatch` is the
    * honest posture (same reasoning as [[crawlIngest]]'s content-dedup
    * split: nothing here needs watermarked state, and the pair machinery
    * reuses the oracled batch operator verbatim, so stream and batch
    * CANNOT drift). The bench frame is materialized once up front, not
    * re-banded per batch on the driver's clock: pass a cached/checkpointed
    * frame for long-running streams. `onClean` receives each batch's
    * surviving rows with the batch id (at-most-once per batch). */
  def decontaminateNear(events: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        benchIdCol: String, benchTextCol: String,
                        onClean: (DataFrame, Long) => Unit,
                        minJaccard: Double = 0.8,
                        numPerm: Int = 128, bands: Int = 32, k: Int = 4,
                        trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          onClean(graft.ext.Corpus.dropContaminatedNear(batch, bench,
            idCol, textCol, benchIdCol, benchTextCol, minJaccard,
            numPerm, bands, k), id)
        ()
      }

  /** Streaming Moore-Lewis gate — the online form of
    * [[graft.ext.Perplexity.crossEntropySelect]] (q151): score each
    * micro-batch under two FROZEN [[graft.ext.Perplexity.BigramModel]]s
    * and keep rows with `ml_score` ≤ `cutoff`. The selection FRACTION is
    * corpus-global, so the online gate applies a cutoff learned by a
    * batch run (or set by policy) — it never re-derives one per batch;
    * rows tied exactly AT the cutoff are all admitted (the batch
    * terminal's id-tie-fill needs global state a stateless gate doesn't
    * have — documented semantics, spec-pinned). Stateless foreachBatch
    * composition of the oracled batch scorer, so stream and batch scores
    * cannot drift. `onKept` receives each batch's admitted rows (scored)
    * with the batch id, at-most-once per batch. */
  def crossEntropyGate(events: DataFrame, idCol: String, textCol: String,
                       inModel: graft.ext.Perplexity.BigramModel,
                       genModel: graft.ext.Perplexity.BigramModel,
                       cutoff: Double,
                       onKept: (DataFrame, Long) => Unit,
                       trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          onKept(graft.ext.Perplexity.crossEntropyDiffScoreWithModels(
              batch, idCol, textCol, inModel, genModel)
            .filter(col("ml_score").isNotNull &&
              col("ml_score") <= lit(cutoff)), id)
        ()
      }

  /** Streaming RETRIEVAL probe — each micro-batch of incoming documents
    * queries the persisted BM25 postings store ([[graft.ext.Retrieval]])
    * for its top-k lexical matches in the held corpus: the online
    * near-verbatim triage / decontamination gate ("does this arrival
    * retrieve something we already hold, and how hard?"). The store is
    * static within a run (appends happen on the batch side), so this is a
    * stateless foreachBatch composition of the oracled batch operator
    * verbatim — per-batch hit tables equal [[graft.ext.Retrieval.bm25Serve]]
    * on the same rows (StreamingSpec pins the parity). `onHits` receives
    * each batch's (qid, doc_id, n_terms, score, rank) hits with the batch
    * id, at-most-once per batch; arrivals whose every term is df-capped
    * (or that match nothing) simply emit no rows. */
  def retrievalProbe(events: DataFrame, storeName: String, idCol: String,
                     textCol: String, topK: Int,
                     onHits: (DataFrame, Long) => Unit,
                     k1: Double = 1.2, b: Double = 0.75,
                     maxDfFrac: Double = 0.5, analyzer: String = "ws-lower",
                     trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          onHits(graft.ext.Retrieval.bm25Serve(batch.sparkSession, storeName,
            batch, idCol, textCol, topK, k1, b, maxDfFrac, analyzer), id)
        ()
      }

  /** Streaming SHORT-FIELD typo dedup against a FROZEN catalog — q169's
    * operator run on every micro-batch: arrivals whose `strCol` sits
    * within Levenshtein `cat.maxDist` of a catalog title drop; survivors
    * go to `onFresh` with the batch id. The catalog state
    * ([[graft.ext.Dedup.prepareTypoCatalog]]: materialized delete-variant
    * postings + their Bloom) is built ONCE before the stream starts and
    * probed by every batch — the frozen-model discipline
    * ([[retrievalProbe]], [[onboardingMonitor]]); per-batch survivors
    * equal [[graft.ext.Dedup.incrementalTypo]] on the same rows
    * (StreamingSpec pins the parity). Catalog growth happens on the batch
    * side between runs — append the epoch's survivors to the PERSISTED
    * catalog ([[graft.ext.Dedup.appendToTypoCatalog]]) and restart the
    * stream from [[graft.ext.Dedup.readTypoCatalog]], the q60 epoch
    * pattern; with a file-source checkpoint the restart resumes past
    * every processed batch (StreamingSpec runs the two-cycle
    * kill-and-restart). */
  def typoDedupProbe(events: DataFrame, cat: graft.ext.Dedup.TypoCatalog,
                     idCol: String, strCol: String,
                     onFresh: (DataFrame, Long) => Unit,
                     trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          // identity materializer: the micro-batch source is already
          // materialized, and per-batch checkpoint blocks would linger
          onFresh(graft.ext.Dedup.dropSeenTypos(batch, idCol, strCol, cat,
            identity), id)
        ()
      }

  /** Streaming ONBOARDING monitor — q153's store-served audit run on
    * every micro-batch of a candidate feed before any pipeline spend:
    * vocabulary overlap, bottom-k resemblance, and length-quantile shift
    * against every held source, from the persisted sketch stores alone.
    * The stores are static within a run (appends happen on the batch
    * side), so this is a stateless foreachBatch composition of the
    * oracled batch operator verbatim — per-batch reports equal the batch
    * operator on the same rows. `onReport` gets each batch's report with
    * the batch id, at-most-once per batch. */
  def onboardingMonitor(events: DataFrame, hllStore: String, bkStore: String,
                        lhStore: String, textCol: String,
                        onReport: (DataFrame, Long) => Unit,
                        trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          onReport(graft.ext.Sketch.onboardingReport(batch.sparkSession,
            hllStore, bkStore, lhStore, batch, textCol), id)
        ()
      }

  /** Streaming TOKENIZE-AND-PACK — [[graft.ext.Corpus.packTokenArrays]]'s
    * continuous sibling (VERDICT r16 #4), completing the terminal-family
    * pattern (dedup/quality/retrieval/typo all have streaming forms): each
    * micro-batch's token arrays are appended to the global packed stream,
    * FULL `capacity`-sized chunks are delivered to `onChunks` (with
    * `doc_spans` boundary metadata, globally-numbered `chunk` ids;
    * consume the frame INSIDE the callback — its checkpoint blocks are
    * released when the batch returns), and
    * the partial last chunk is carried as a REMAINDER BUFFER into the next
    * batch — so the concatenation of every delivered chunk plus the final
    * remainder equals the batch operator on the concatenated input,
    * bit-for-bit (StreamingSpec pins the parity and runs the two-cycle
    * kill-and-restart).
    *
    * State (at `stateDir`, tiny AND bounded): per applied batch, the
    * remainder's per-document segments (< `capacity` tokens total, with
    * their original doc keys so spans stay truthful across the boundary)
    * as `rem_<batchId>` parquet plus a `meta_<batchId>` file carrying the
    * emitted-chunk count — meta written LAST (tmp + rename), the
    * write-last discipline of the epoch stores; after every write all
    * but the two NEWEST applied states are pruned (by rank, not id
    * arithmetic — applied ids are not contiguous when empty batches are
    * skipped), so a continuous stream holds at most two state pairs
    * however long it runs. Crash semantics: a batch
    * REPLAYED by the checkpoint after a crash reloads the state of batch
    * N−1 and reproduces byte-identical chunks (at-least-once delivery of
    * idempotent content); a crash between delivery and the state write
    * re-delivers, never skips or corrupts. Chunk ids and packing are
    * deterministic because order is (batch arrival, `orderCol` within the
    * batch) — the stream's definition of corpus order.
    *
    * Scale shape per batch: the batch operator's verbatim (prefix-sum
    * offsets, per-row slicing, one chunk-key shuffle of the output
    * stream); the remainder read is one < capacity-token parquet scan,
    * and the prefix-sum checkpoint's blocks are released before the batch
    * returns ([[checkpointReleasable]]'s unpersist-by-leaf discipline).
    * Use [[packStreamRemainder]] after the stream stops to flush the tail
    * partial chunk. */
  def tokenPackStream(events: DataFrame, orderCol: String, idsCol: String,
                      capacity: Long, stateDir: String,
                      onChunks: (DataFrame, Long) => Unit,
                      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    events.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) packOneBatch(batch, id, orderCol, idsCol,
          capacity, stateDir, onChunks)
        ()
      }
  }

  /** [[tokenPackStream]] with DELIVERY TO A PATH instead of a callback —
    * the form a trainer consumes directly, with no `onChunks`
    * frame-validity rules to honor. Each micro-batch's FULL chunks are
    * written as `outPath/batch_id=<id>/` (parquet by default, `"json"`
    * for JSONL shards), so `spark.read.parquet(outPath)` sees the whole
    * packed corpus with `batch_id` as a partition column and partition
    * pruning picks up incremental consumption.
    *
    * Idempotent under crash-replay BY CONSTRUCTION: a replayed batch
    * reloads the previous state and reproduces byte-identical chunks with
    * the SAME batch id (see [[packOneBatch]]'s state machine), and the
    * write is `mode(Overwrite)` into that batch's own directory — the
    * replay overwrites its first attempt instead of duplicating it, and
    * never touches another batch's shards. Chunk ids are globally
    * numbered across batches, so the union of all shards equals the batch
    * operator's output on the concatenated input (StreamingSpec pins the
    * two-cycle kill-and-restart parity).
    *
    * Scale shape: adds zero shuffle on top of the packer — the chunk
    * frame is written as partitioned at delivery. An empty batch (no full
    * chunks yet) still writes its (empty) directory, which reads back as
    * zero rows. Use [[packStreamRemainder]] after the stream stops for
    * the final partial chunk. */
  def tokenPackStreamToPath(events: DataFrame, orderCol: String,
                            idsCol: String, capacity: Long,
                            stateDir: String, outPath: String,
                            format: String = "parquet",
                            trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    require(format == "parquet" || format == "json",
      s"format must be parquet or json, got $format")
    tokenPackStream(events, orderCol, idsCol, capacity, stateDir,
      (chunks, batchId) => {
        val w = chunks.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        val dir = s"$outPath/batch_id=$batchId"
        format match {
          case "json" => w.json(dir)
          case _ => w.parquet(dir)
        }
      }, trigger)
  }

  /** The remainder segments after the last applied batch at `stateDir`:
    * (seg, doc, part) rows in stream order — concatenate the parts for
    * the final partial chunk's ids, or feed them to a follow-up run.
    * None when no batch has applied yet: the segment schema (doc key
    * type, token element type) comes from the stream, so a cold state
    * has no honest schema to fabricate — a placeholder frame would union
    * or cast incompatibly exactly when stateDir is empty. */
  def packStreamRemainder(spark: org.apache.spark.sql.SparkSession,
                          stateDir: String): Option[DataFrame] =
    loadPackState(spark, stateDir, Long.MaxValue).map(_._2)

  /** Emitted-chunk count after the last applied batch (0 when none). */
  def packStreamChunkCount(spark: org.apache.spark.sql.SparkSession,
                           stateDir: String): Long =
    loadPackState(spark, stateDir, Long.MaxValue).map(_._1).getOrElse(0L)

  /** Flush the FINAL PARTIAL CHUNK of a stopped [[tokenPackStreamToPath]]
    * stream to the same delivery tree (VERDICT r18 #8) — the one-call
    * replacement for the packStreamRemainder → hand-pack dance: the
    * remainder segments reassemble into one chunk (global id = the
    * emitted-chunk count, `doc_spans` rebuilt from the carried per-doc
    * segments) written `mode(Overwrite)` to `outPath/batch_id=final/`,
    * same format and schema as the streamed shards — so shards ∪ flush
    * equals the BATCH operator's output on the concatenated input
    * including its partial tail (StreamingSpec pins the parity).
    * Idempotent like the per-batch shards: a re-run overwrites its own
    * directory. Returns the number of chunks written (1, or 0 when the
    * state is cold or the stream ended chunk-aligned — an empty `final`
    * directory is still written when state EXISTS, so a reader never
    * distinguishes "flushed empty" from "not flushed" by error).
    *
    * NOTE on the partition column: the streamed shards' `batch_id=<n>`
    * values parse numeric; adding `batch_id=final` makes partition
    * inference type the column STRING for whole-tree reads — filter on
    * the string value (`batch_id = 'final'`) or read shard dirs directly
    * if the numeric type matters downstream. */
  def flushPackRemainderToPath(spark: org.apache.spark.sql.SparkSession,
                               stateDir: String, outPath: String,
                               format: String = "parquet"): Long = {
    require(format == "parquet" || format == "json",
      s"format must be parquet or json, got $format")
    loadPackState(spark, stateDir, Long.MaxValue) match {
      case None => 0L // cold state: no schema to write honestly
      case Some((chunksEmitted, rem)) =>
        val keyType = rem.schema("doc").dataType.sql
        // one chunk from all segments in seg order; spans via the
        // length-only fold (the chatTemplate discipline — offsets need
        // only the running length, never the accumulated ids)
        val zero = struct(lit(0L).as("off"),
          array().cast(s"array<struct<doc:$keyType,off:bigint,len:bigint>>")
            .as("spans"))
        val spansOf = (segs: org.apache.spark.sql.Column) =>
          aggregate(segs, zero, (a, x) => struct(
            (a.getField("off") + size(x.getField("part")).cast("long"))
              .as("off"),
            concat(a.getField("spans"), array(struct(
              x.getField("doc").as("doc"),
              a.getField("off").as("off"),
              size(x.getField("part")).cast("long").as("len"))))
              .as("spans"))).getField("spans")
        val one = rem
          .groupBy()
          .agg(sort_array(collect_list(struct(col("seg"), col("doc"),
            col("part")))).as("__segs"))
          .select(lit(chunksEmitted).as("chunk"),
            flatten(transform(col("__segs"), x => x.getField("part")))
              .as("ids"),
            spansOf(col("__segs")).as("doc_spans"))
          .withColumn("n_ids", size(col("ids")))
          .select(col("chunk"), col("ids"), col("n_ids"), col("doc_spans"))
          .filter(col("n_ids") > 0)
        val w = one.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        val dir = s"$outPath/batch_id=final"
        format match {
          case "json" => w.json(dir)
          case _ => w.parquet(dir)
        }
        spark.read.format(if (format == "json") "json" else "parquet")
          .schema(one.schema).load(dir).count()
    }
  }

  private def packFs(spark: org.apache.spark.sql.SparkSession, stateDir: String) =
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(stateDir),
      spark.sparkContext.hadoopConfiguration)

  /** Latest applied state with batch id ≤ `upTo`: (chunksEmitted,
    * remainder segments). None = cold start. The meta file is written
    * last, so a listed meta always has a readable remainder next to it. */
  private def loadPackState(spark: org.apache.spark.sql.SparkSession,
                            stateDir: String,
                            upTo: Long): Option[(Long, DataFrame)] = {
    val fs = packFs(spark, stateDir)
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    if (!fs.exists(dir)) return None
    val ids = fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith("meta_"))
      .flatMap(n => scala.util.Try(n.stripPrefix("meta_").toLong).toOption)
      .filter(_ <= upTo).toSeq
    if (ids.isEmpty) return None
    val id = ids.max
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$stateDir/meta_$id"))
    val chunks = try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    Some((chunks, spark.read.parquet(s"$stateDir/rem_$id")))
  }

  /** One micro-batch of the packer. The write sequence per batch N is
    * `deliver → retract meta_N → overwrite rem_N → write meta_N (tmp +
    * rename) → prune to the two newest states`; the crash-recovery proof
    * is the state machine below, where P = the newest meta id BEFORE this
    * batch (the previous applied state; P is absent on a cold start) and
    * "recovered" is what `loadPackState(upTo N−1)` finds when the
    * checkpoint replays batch N after the crash:
    *
    * | crash point (during batch N)     | state on disk                | recovered |
    * |----------------------------------|------------------------------|-----------|
    * | after deliver, before retract    | meta_P + rem_P (and, on a    | P — replay re-delivers N byte-identically (at-least-once of idempotent content) |
    * |                                  | replay, stale meta_N+rem_N — | (a stale meta_N is > N−1, so loadPackState skips it) |
    * |                                  | both ignored)                |           |
    * | after retract, mid rem_N rewrite | meta_P + rem_P intact;       | P — the retract is WHY: a surviving meta_N would point at the half-written rem_N |
    * |                                  | rem_N partial, NO meta_N     |           |
    * | after rem_N, before meta rename  | meta_P + rem_P + rem_N (no   | P — an unreferenced rem_N is dead weight, overwritten on replay |
    * |                                  | meta_N)                      |           |
    * | after meta rename, before prune  | meta_P+rem_P and meta_N+rem_N| P (replay) or N (next batch) — both valid; N's meta was renamed atomically |
    * | after prune                      | two newest states only       | same — prune never deletes P or N (rank-based, see below) |
    *
    * Invariants that make every row safe: the meta file is written LAST
    * and renamed atomically, so a listed meta always names a complete
    * rem; the retract runs FIRST on a replay, so no meta ever points at
    * a mid-rewrite rem; recovery reads the NEWEST meta ≤ N−1, so stale
    * future state from a crashed replay is invisible; and the prune
    * keeps the two newest applied ids, so the recovery target survives
    * until a newer batch commits past it.
    *
    * private[graft] so the spec can drive a crash REPLAY directly (same
    * batchId applied twice must reproduce byte-identical chunks and
    * state). */
  private[graft] def packOneBatch(batch: DataFrame, batchId: Long,
                           orderCol: String, idsCol: String, capacity: Long,
                           stateDir: String,
                           onChunks: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    val keyType = batch.schema(orderCol).dataType
    val prior = loadPackState(spark, stateDir, batchId - 1)
    val chunksEmitted = prior.map(_._1).getOrElse(0L)
    // feed = remainder segments (order key (0, seg, -)) then the batch
    // (order key (1, -, orderCol)): the struct's first field decides
    // across the boundary, so the null filler key is never compared
    val batchFeed = batch.select(
      struct(lit(1).as("b"), lit(0L).as("r"), col(orderCol).as("k"))
        .as("__ford"),
      col(orderCol).as("__doc"), col(idsCol).as("__ids"))
    val feed = prior match {
      case Some((_, rem)) => rem.select(
          struct(lit(0).as("b"), col("seg").as("r"),
            lit(null).cast(keyType).as("k")).as("__ford"),
          col("doc").as("__doc"), col("part").as("__ids"))
        .unionByName(batchFeed)
      case None => batchFeed
    }
    val packed = graft.ext.Corpus.packTokenArrays(feed, "__ford", "__ids",
        capacity, docCol = Some("__doc"))
      .withColumn("chunk", col("chunk") + lit(chunksEmitted))
    // one materialization, three consumers (deliver, count, remainder);
    // blocks released before the batch returns
    val (mat, release) = checkpointReleasable(packed)
    try {
      val fullCount = mat.filter(col("n_ids") === capacity).count()
      onChunks(mat.filter(col("n_ids") === capacity), batchId)
      // the partial tail (≤ 1 row, < capacity tokens) becomes the next
      // batch's remainder, split back into per-document segments via its
      // own doc_spans so boundary metadata survives the carry
      val partial = mat.filter(col("n_ids") < capacity)
        .select(col("ids"), col("doc_spans")).collect()
      val segRows: Seq[Row] = partial.toSeq.flatMap { r =>
        val ids = r.getSeq[Any](0)
        r.getSeq[Row](1).zipWithIndex.map { case (sp, i) =>
          val off = sp.getLong(1).toInt
          val len = sp.getLong(2).toInt
          Row(i.toLong, sp.get(0), ids.slice(off, off + len))
        }
      }
      import org.apache.spark.sql.types._
      val partType = batch.schema(idsCol).dataType
      val segSchema = StructType(Seq(StructField("seg", LongType),
        StructField("doc", keyType), StructField("part", partType)))
      val segDf = spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(segRows).asJava, segSchema)
      val fs = packFs(spark, stateDir)
      val dst = new org.apache.hadoop.fs.Path(s"$stateDir/meta_$batchId")
      // on a REPLAY of this batch, retract meta_batchId BEFORE the rem
      // overwrite deletes its parquet: a crash mid-rewrite must leave the
      // newest meta pointing at batch N-1's intact remainder (the
      // meta-written-last invariant), never at a missing/partial rem
      fs.delete(dst, false)
      segDf.coalesce(1).write.mode("overwrite")
        .parquet(s"$stateDir/rem_$batchId")
      // meta LAST: a crash before this line leaves batch N-1's state as
      // the newest meta, and the checkpoint replays this batch verbatim
      val tmp = new org.apache.hadoop.fs.Path(s"$stateDir/meta_$batchId.tmp")
      val out = fs.create(tmp, true)
      try out.write((chunksEmitted + fullCount).toString.getBytes("UTF-8"))
      finally out.close()
      fs.rename(tmp, dst)
      // prune states older than the replay window: Structured Streaming
      // can only replay the last uncommitted batch, so the PREVIOUS
      // APPLIED state is the oldest a restart can ask for — older pairs
      // would otherwise accumulate one parquet dir + meta per micro-batch
      // forever (and loadPackState lists the whole directory every batch).
      // Prune by RANK, not id arithmetic: applied ids are NOT contiguous
      // (empty micro-batches are skipped while batchId advances), so
      // "id <= batchId - 2" could delete the previous applied state when
      // it was batch N-k (k >= 2) — a replay of batch N would then
      // cold-start, renumbering chunks and dropping the carried remainder.
      // Keeping the two NEWEST applied ids (this batch + its predecessor,
      // whatever its id) preserves the replay window exactly. Meta
      // deleted FIRST so no listing ever sees a meta without its rem.
      val appliedIds = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
        .iterator
        .map(_.getPath.getName)
        .filter(_.startsWith("meta_"))
        .flatMap(n => scala.util.Try(n.stripPrefix("meta_").toLong).toOption)
        .toSeq.sorted
      appliedIds.dropRight(2).foreach { id =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/meta_$id"), false)
        fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/rem_$id"), true)
      }
      ()
    } finally release()
  }

  /** Per-batch tabulation: run the (margin-producing) tabulation pipeline on
    * every micro-batch output. Margins over an unbounded stream are only
    * consistent within a batch snapshot, so `foreachBatch` is the correct
    * place to compute them — state stays in the upstream windowed agg, and the
    * tabulation layer re-runs on the (small) aggregated result.
    */
  def tabulateForeachBatch(aggregated: DataFrame,
                           tabulate: DataFrame => FlatTable,
                           onBatch: (FlatTable, Long) => Unit,
                           trigger: Trigger = Trigger.AvailableNow()
                          ): DataStreamWriter[Row] =
    aggregated.writeStream
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) onBatch(tabulate(batch), id)
        ()
      }

  /** Convenience: run a windowed count stream into an in-memory table (used
    * by tests and notebook smoke checks). */
  def toMemorySink(df: DataFrame, name: String, outputMode: String = "complete"
                  ): StreamingQuery =
    df.writeStream.outputMode(outputMode).format("memory").queryName(name).start()

  /** Streaming exact dedup: keep the FIRST event per content fingerprint,
    * with dedup state bounded by the watermark horizon (an unbounded
    * `dropDuplicates` would grow state forever on an endless stream —
    * `dropDuplicatesWithinWatermark` is the formulation that survives a
    * perpetual 100 TB/day feed). */
  def dedupExact(events: DataFrame, textCol: String, tsCol: String,
                 watermark: String): DataFrame =
    events
      .withColumn("__fb_fp", graft.ext.TextStats.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fb_fp")
      .drop("__fb_fp")

  /** Streaming CRAWL INGESTION first pass — the online slice of
    * [[graft.ext.Crawl.refinedWebFate]]'s batch pipeline, same
    * cheap-first order: canonical-URL dedup within the watermark horizon
    * (the one STATEFUL step — crawl frontiers re-emit the same page under
    * cosmetic URL variants within hours, exactly the regime a watermark
    * bounds), then the STATELESS per-document gates — URL rules, C4
    * clean+gate (the surviving text IS the cleaned text, the batch
    * posture), Gopher — as pure projections/filters, streaming-compatible
    * by construction. The content-dedup stages stay online-first-pass +
    * periodic batch: [[dedupExact]]/[[dedupNear]] for the stream,
    * [[graft.ext.Dedup.dedupCorpus]]/[[graft.ext.Similarity.semanticDedup]]
    * for the scheduled terminal — a pair self-join has no bounded-state
    * streaming form. State: one row per canonical URL inside the
    * watermark. */
  def crawlIngest(events: DataFrame, urlCol: String, textCol: String,
                  tsCol: String, watermark: String,
                  blockedDomains: Seq[String] = Nil,
                  maxUrlLen: Int = 2048,
                  maxDigitFrac: Double = 0.5): DataFrame = {
    val urlDeduped = events
      .withColumn("__fb_uc", graft.ext.Urls.canonicalUrl(col(urlCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fb_uc")
      .drop("__fb_uc")
    val ruled = graft.ext.Urls.filterUrls(urlDeduped, urlCol,
      blockedDomains, maxUrlLen, maxDigitFrac)
    graft.ext.TextStats.gopherFilter(
      graft.ext.TextStats.c4Filter(ruled, textCol), textCol)
  }

  /** Streaming NEAR-dup suppression: keep the first event per content
    * SIGNATURE within the watermark horizon. The batch layer's signature
    * operators are per-document zero-shuffle codegen'd scalars
    * ([[graft.funcs.SimHashSignature]] / [[graft.funcs.MinHashSignature]]) —
    * already streaming-compatible — so online near-dup dedup is their
    * composition with `dropDuplicatesWithinWatermark` on the signature.
    * State is bounded by the watermark, like [[dedupExact]].
    *
    * Semantics: the streaming state store keys on EQUALITY, so this collapses
    * signature-IDENTICAL documents — for the default 64-bit SimHash that is
    * Hamming distance 0, where the near-identical mass of a crawl lands
    * (boilerplate, templated pages, small-whitespace edits; token-level
    * rewrites usually flip a few bits and pass). The full Hamming ≤ 3 /
    * banded-Jaccard pair graphs stay batch operators
    * ([[graft.ext.Dedup.simhashPairs]],
    * [[graft.ext.Dedup.minhashDedupPairs]]): they need a candidate self-join,
    * which has no bounded-state streaming formulation. Use this as the online
    * first-pass filter feeding the periodic batch dedup terminal
    * ([[graft.ext.Dedup.removeNearDups]]).
    *
    * The token/shingle arrays are materialized in their own projections (not
    * inlined) for the same CSE reason as the batch signature operators —
    * see [[graft.ext.Dedup.minhashSignatures]]. */
  def dedupNear(events: DataFrame, textCol: String, tsCol: String,
                watermark: String, k: Int = 4,
                hasher: graft.ext.Dedup.Hasher = graft.ext.Dedup.Hasher.Xx): DataFrame = {
    events
      .withColumn("__fb_t",
        graft.ext.TextStats.tokens(coalesce(col(textCol), lit(""))))
      .withColumn("__fb_g", graft.ext.Dedup.shinglesOfTokens(col("__fb_t"), k))
      .withColumn("__fb_sig", graft.funcs.VectorFunctions.simhashSig(
        col("__fb_g"), useMd5 = hasher == graft.ext.Dedup.Hasher.Md5))
      .drop("__fb_t", "__fb_g")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fb_sig")
      .drop("__fb_sig")
  }

  /** Continuous-ingestion dedup — the epoch-loop composition of
    * [[graft.ext.Dedup.incrementalExact]]: every micro-batch is probed
    * against a driver-held Bloom filter over the seen-document fingerprints
    * (codegen'd prefilter; only the might-be-seen fraction pays the exact
    * confirm join against the live history), surviving rows go to `onFresh`
    * (typically: append to the history store). The filter is REBUILT from
    * the full history every `refreshEveryBatches` batches — one
    * tree-aggregated history scan per epoch, amortized over the epoch's
    * batches — and auto-sized from the measured history count plus
    * `headroom` (size headroom to the docs you expect to ingest per epoch;
    * the achieved fpp degrades gradually past capacity and resets at the
    * next refresh — a perf dial, never correctness).
    *
    * BETWEEN refreshes the epoch state would go stale as `onFresh` grows
    * the history — a stale Bloom filter is not conservative (a fingerprint
    * missing from it takes the definitely-fresh shortcut past the confirm
    * join) — so after each batch the accepted fingerprints are folded into
    * BOTH halves of the state: a small BATCH-SIZED Bloom filter appended to
    * the probe list (the epoch filter itself stays frozen; probing the
    * epoch filter plus k small filters is one ORed codegen expression —
    * see [[graft.ext.Dedup.probeAndConfirmMulti]]), and a materialized
    * delta block for the confirm join. Cross-batch duplicates therefore
    * drop even mid-epoch, and — critically for the amortization claim —
    * non-refresh batches touch NO history and build NO epoch-sized state:
    * the per-batch filter build is sized to that batch's accepted rows
    * (bytes proportional to the batch), never to the epoch capacity — at a
    * 1B-doc epoch the frozen filter is built once (~1.2 GB of bits for the
    * epoch) while each batch adds only its own few KB. The confirm join
    * reads the epoch-start checkpointed fingerprint set plus the small
    * accepted deltas, so the full history is scanned exactly once per
    * epoch. `history()` only needs to reflect `onFresh`'s writes by the
    * next refresh, not per batch. Duplicates WITHIN one micro-batch are
    * [[graft.ext.Dedup.exact]]'s job, same contract as the batch operator.
    *
    * State is bounded AND reclaimed: the driver holds the frozen epoch
    * filter (~1.2 MB per million docs at 1% fpp) plus at most ~16
    * batch-sized filters (the periodic delta compaction collapses the list
    * back to one delta-sized filter); executor-side fingerprint blocks —
    * the epoch-start set, the per-batch accepted deltas, and each batch's
    * probe result — are explicitly unpersisted the moment their last
    * consumer is done (batch blocks at batch end, delta blocks at
    * compaction, epoch blocks at the next refresh), rather than waiting on
    * the ContextCleaner to GC them out of executor storage.
    *
    * DELIVERY SEMANTICS: `onFresh` is at-most-once across query restarts
    * and must be idempotent with respect to the history store. A batch
    * replayed after a failure that already appended to history re-probes
    * against that history (the restart forces a refresh), so its rows are
    * dropped and NOT re-delivered to `onFresh` — correct for the history
    * store itself (the rows are already there), but any OTHER downstream
    * sink wired into `onFresh` silently misses them. Wire secondary sinks
    * to read the history store (or key their writes on the delivered rows'
    * fingerprints) rather than relying on exactly-once delivery here.
    *
    * RESTARTS: by default a restarted query pays one full history scan to
    * rebuild the epoch state (correct, just not cheap). Pass `stateDir` (a
    * distributed-FS path next to the history table) to persist the epoch
    * state — frozen filter bytes, skinny epoch/delta fingerprint parquet,
    * per-batch filters, and a covered-row-count metadata file — and reload
    * it on start instead, when (and only when) the live history's row
    * count still matches the metadata; any divergence (interrupted persist,
    * un-folded append, external writer) falls back to the cold refresh.
    * See [[IngestEpochState]] for the crash-ordering argument.
    *
    * This loop dedups on EXACT content fingerprints. For near-dup
    * ingestion (drop arrivals whose SimHash signature is within Hamming
    * distance ≤ 3 of history), use [[dedupIncrementalNear]] — the same
    * epoch state machine over signature keys (q64/q65's oracles pin the
    * batch semantics it replays). */
  def dedupIncremental(events: DataFrame, history: () => DataFrame,
                       idCol: String, textCol: String,
                       onFresh: (DataFrame, Long) => Unit,
                       refreshEveryBatches: Int = 10,
                       headroom: Long = 100000L,
                       fpp: Double = 0.01,
                       stateDir: Option[String] = None,
                       trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    require(refreshEveryBatches > 0,
      s"refreshEveryBatches must be positive, got $refreshEveryBatches")
    epochLoop(events, history, idCol, textCol, onFresh, refreshEveryBatches,
      trigger, new IngestEpochState(fpp, headroom, stateDir))
  }

  /** [[dedupIncremental]]'s NEAR-dup sibling — the streaming epoch-loop
    * composition of [[graft.ext.Dedup.incrementalNear]]: drop from each
    * micro-batch every document whose 64-bit SimHash signature is within
    * Hamming distance `maxDist` (0–3) of the full history OR of anything
    * accepted earlier this epoch, WITHOUT rescanning history per batch.
    * Identical state machine and guarantees to the exact loop (one history
    * scan per epoch, frozen epoch filter + batch-sized delta filters,
    * explicit block release, optional durable `stateDir`, at-most-once
    * `onFresh`); only the key domain changes — covering keys are the
    * distinct signatures, the filters cover signatures (maxDist 0) or
    * their pigeonhole block keys (maxDist 1–3), and the confirm is the
    * popcount-Hamming join. The filter-list false-positive SUM and block
    * collisions cost confirm-join rows, never correctness — q64/q65 pin
    * the underlying batch semantics against the DuckDB oracle, and the
    * spec drives two epochs against a batch-by-batch `incrementalNear`
    * replay with planted 1–3-bit-flip arrivals. Near-dups WITHIN one
    * micro-batch are [[dedupNear]]'s / the batch terminal's job, matching
    * `incrementalNear`'s arrivals-vs-history contract. */
  def dedupIncrementalNear(events: DataFrame, history: () => DataFrame,
                           idCol: String, textCol: String,
                           onFresh: (DataFrame, Long) => Unit,
                           k: Int = 4,
                           hasher: graft.ext.Dedup.Hasher = graft.ext.Dedup.Hasher.Xx,
                           maxDist: Int = 0,
                           refreshEveryBatches: Int = 10,
                           headroom: Long = 100000L,
                           fpp: Double = 0.01,
                           stateDir: Option[String] = None,
                           trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    require(refreshEveryBatches > 0,
      s"refreshEveryBatches must be positive, got $refreshEveryBatches")
    epochLoop(events, history, idCol, textCol, onFresh, refreshEveryBatches,
      trigger, new IngestEpochState(fpp, headroom, stateDir,
        NearKeying(k, hasher, maxDist)))
  }

  /** [[dedupIncremental]]'s EMBEDDING-modality sibling — the streaming
    * epoch-loop composition of [[graft.ext.Similarity.incrementalCosine]]:
    * drop from each micro-batch every row whose vector has cosine ≥
    * `minCos` with the full history OR with anything accepted earlier this
    * epoch, WITHOUT rescanning history per batch. Identical state machine
    * and guarantees to the exact and SimHash loops (one history scan per
    * epoch, frozen epoch filter + batch-sized delta filters, explicit
    * block release, optional durable `stateDir`, at-most-once `onFresh`);
    * the key domain is LSH BAND KEYS over the vector column — covering
    * keys are `bands` band-key rows per vector (so `headroom` counts
    * band rows, n·bands per n history rows), the filters cover their
    * hashes, and the confirm is the band equi-join + exact 6-dp cosine.
    * Candidacy requires a shared band: recall follows [[graft.ext.
    * Similarity.cosineLshPairs]]'s 1 − (1 − p^r)^b curve (q80 pins the
    * batch semantics this loop replays; the spec drives two epochs against
    * a batch-by-batch `incrementalCosine` replay with planted near-dups).
    * Near-dups WITHIN one micro-batch are the batch terminal's job,
    * matching `incrementalCosine`'s arrivals-vs-history contract. */
  def dedupIncrementalCosine(events: DataFrame, history: () => DataFrame,
                             idCol: String, vecCol: String,
                             onFresh: (DataFrame, Long) => Unit,
                             minCos: Double = 0.95,
                             bits: Int = 64, bands: Int = 8,
                             refreshEveryBatches: Int = 10,
                             headroom: Long = 100000L,
                             fpp: Double = 0.01,
                             stateDir: Option[String] = None,
                             trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    require(refreshEveryBatches > 0,
      s"refreshEveryBatches must be positive, got $refreshEveryBatches")
    epochLoop(events, history, idCol, vecCol, onFresh, refreshEveryBatches,
      trigger, new IngestEpochState(fpp, headroom, stateDir,
        CosineKeying(minCos, bits, bands)))
  }

  /** The shared epoch-loop driver: reload-or-refresh, probe, deliver,
    * fold — identical for every key domain. Driver-held state is touched
    * only inside foreachBatch (micro-batch execution is serial per query,
    * so no synchronization is needed). */
  private def epochLoop(events: DataFrame, history: () => DataFrame,
                        idCol: String, textCol: String,
                        onFresh: (DataFrame, Long) => Unit,
                        refreshEveryBatches: Int, trigger: Trigger,
                        state: IngestEpochState): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val reloaded = state.epochBytes == null && state.tryReload(history())
        if (!reloaded && state.needsRefresh(refreshEveryBatches))
          state.refresh(history(), textCol)
        val fresh = state.probe(batch, idCol, textCol)
        onFresh(fresh, id)
        state.fold(fresh, textCol)
        ()
      }

  /** Localcheckpoint `df` eagerly and return the materialized frame plus a
    * release handle that unpersists exactly the checkpoint's pinned RDD
    * blocks (collected from the resulting LogicalRDD leaves — never a
    * keyset diff, so concurrent foreign persists cannot be misattributed).
    * Releasing is for storage hygiene on long-running queries; a released
    * localCheckpoint must simply never be read again (the epoch state
    * machine guarantees that by construction). */
  private[graft] def checkpointReleasable(df: DataFrame): (DataFrame, () => Unit) = {
    val out = df.localCheckpoint(eager = true)
    val rdds = out.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    (out, () => rdds.foreach(_.unpersist(blocking = false)))
  }

  private val noopRelease: () => Unit = () => ()

  /** The epoch loop's pluggable KEY DOMAIN — what "seen" means. The state
    * machine ([[IngestEpochState]]) is domain-agnostic: it scans history
    * once per epoch into a covering key set, freezes one Bloom filter over
    * it, folds per-batch accepted keys into batch-sized filters + delta
    * blocks, compacts, persists, reloads. The keying decides what the keys
    * ARE and how a batch probes them. */
  private[graft] sealed trait EpochKeying {
    /** Distinct one-column (`__fp`) covering-key set of a frame. */
    def keys(df: DataFrame, textCol: String): DataFrame
    /** Serialized Bloom filter covering a key set (capacity = `expected`
      * or the measured key count). */
    def bloom(keys: DataFrame, expected: Option[Long], fpp: Double): Array[Byte]
    /** Fresh rows of `batch`: not covered by the key set (prefiltered by
      * the filter list, whose union covers it). */
    def probeConfirm(batch: DataFrame, seenKeys: DataFrame,
                     filters: Seq[Array[Byte]], idCol: String,
                     textCol: String): DataFrame
  }

  /** Exact content fingerprints — [[dedupIncremental]]'s domain. */
  private[graft] case object ExactKeying extends EpochKeying {
    import graft.ext.{Dedup, TextStats}
    def keys(df: DataFrame, textCol: String): DataFrame =
      df.select(TextStats.fingerprint(col(textCol)).as("__fp")).distinct()
    def bloom(keys: DataFrame, expected: Option[Long], fpp: Double): Array[Byte] =
      Dedup.serializedBloom(Dedup.buildSeenBloom(keys, expected, fpp))
    def probeConfirm(batch: DataFrame, seenKeys: DataFrame,
                     filters: Seq[Array[Byte]], idCol: String,
                     textCol: String): DataFrame =
      Dedup.probeAndConfirmMulti(batch, seenKeys, filters, idCol, textCol)
  }

  /** 64-bit SimHash signatures at Hamming ≤ `maxDist` —
    * [[dedupIncrementalNear]]'s domain ([[graft.ext.Dedup.incrementalNear]]
    * batch-for-batch: signature equality at 0, pigeonhole block keys +
    * popcount-Hamming confirm at 1–3). */
  private[graft] final case class NearKeying(k: Int,
      hasher: graft.ext.Dedup.Hasher, maxDist: Int) extends EpochKeying {
    import graft.ext.Dedup
    require(maxDist >= 0 && maxDist <= 3,
      s"pigeonhole blocking assumes maxDist <= 3 (4 blocks), got $maxDist")
    def keys(df: DataFrame, textCol: String): DataFrame =
      Dedup.signatureKeys(df, textCol, k, hasher)
    def bloom(keys: DataFrame, expected: Option[Long], fpp: Double): Array[Byte] =
      Dedup.signatureBloom(keys, expected, fpp, maxDist)
    def probeConfirm(batch: DataFrame, seenKeys: DataFrame,
                     filters: Seq[Array[Byte]], idCol: String,
                     textCol: String): DataFrame =
      Dedup.nearProbeConfirmMulti(batch, seenKeys, filters, idCol, textCol,
        k, hasher, maxDist)
  }

  /** LSH band keys over an embedding column at cosine ≥ `minCos` —
    * [[dedupIncrementalCosine]]'s domain
    * ([[graft.ext.Similarity.incrementalCosine]] batch-for-batch). The
    * covering "key set" is the [[graft.ext.Similarity.vectorBandKeys]]
    * table — band key + vector + norm, because the exact confirm re-ranks
    * with the true cosine, not key equality alone; the Bloom filters cover
    * the 64-bit band-key hashes. `bits`/`bands` are fixed for the life of
    * the query, so epoch and delta filters share one key domain. */
  private[graft] final case class CosineKeying(minCos: Double, bits: Int,
      bands: Int) extends EpochKeying {
    import graft.ext.{Dedup, Similarity}
    def keys(df: DataFrame, vecCol: String): DataFrame =
      Similarity.vectorBandKeys(df, vecCol, bits, bands)
    def bloom(keys: DataFrame, expected: Option[Long], fpp: Double): Array[Byte] =
      Dedup.serializedBloom(
        Dedup.buildLongBloom(keys.select(col("__fp")), "__fp", expected, fpp))
    def probeConfirm(batch: DataFrame, seenKeys: DataFrame,
                     filters: Seq[Array[Byte]], idCol: String,
                     vecCol: String): DataFrame =
      Similarity.cosineProbeConfirmMulti(batch, seenKeys, filters, idCol,
        vecCol, minCos, bits, bands)
  }

  /** Driver-held epoch state for [[dedupIncremental]]: the FROZEN epoch
    * Bloom filter + epoch-start fingerprint set (one history scan per
    * epoch), small batch-sized filters + delta blocks for fingerprints
    * accepted since the epoch started, and the release handles that return
    * executor storage as each piece retires. Package-visible so specs can
    * assert the sizing contract directly — per-batch filters sized to
    * their batch, never to the epoch — and drive restart scenarios without
    * a streaming harness.
    *
    * With `stateDir` set, the state is additionally made DURABLE so a
    * driver restart mid-epoch does not repay the full history scan: each
    * refresh writes the epoch fingerprint set (skinny parquet), the frozen
    * filter bytes, and a metadata file; each fold appends the batch's
    * accepted fingerprints + its batch-sized filter and then (LAST —
    * ordering is the crash-safety argument) rewrites the metadata. The
    * metadata records the history row count the persisted state covers:
    * [[tryReload]] accepts the state only when the live history's row
    * count equals it (for a parquet history this count is
    * footer-metadata-cheap — no data scan), so ANY interrupted persist
    * sequence, un-folded `onFresh` append, or external history write
    * makes the count diverge and falls back to the plain cold refresh.
    * The check therefore assumes `onFresh` appends exactly the delivered
    * rows to the history and nothing else rewrites it in place
    * count-neutrally — if your history can change without changing its
    * row count, don't pass `stateDir`. */
  private[graft] final class IngestEpochState(fpp: Double, headroom: Long,
                                              stateDir: Option[String] = None,
                                              keying: EpochKeying = ExactKeying) {
    import graft.ext.Dedup
    private[graft] var epochBytes: Array[Byte] = null // frozen for the epoch
    private[graft] var batchBytes: List[Array[Byte]] = Nil // batch-sized
    private var epochFp: DataFrame = null
    private var deltaFp: DataFrame = null
    private var batchesSinceRefresh = 0
    private var filterSeq = 0 // next batch-filter FILE index; monotonic
    // across reloads (never reset to an index with a live file), so a
    // post-restart fold can never overwrite a pre-crash filter file and
    // silently drop coverage of that batch's keys
    private var expectedRaw = 0L // history rows the persisted state covers
    private var releaseEpoch: () => Unit = noopRelease
    private var releaseDelta: () => Unit = noopRelease
    private var releaseFresh: () => Unit = noopRelease

    def needsRefresh(every: Int): Boolean =
      epochBytes == null || batchesSinceRefresh >= every

    /** Epoch boundary: the ONE history scan of the epoch builds both the
      * frozen filter (capacity = measured count + headroom) and the confirm
      * join's materialized fingerprint set; the PREVIOUS epoch's pinned
      * blocks are explicitly released. */
    def refresh(history: DataFrame, textCol: String): Unit = {
      releaseEpoch(); releaseDelta()
      val (fp, rel) = checkpointReleasable(keying.keys(history, textCol))
      epochFp = fp; releaseEpoch = rel
      deltaFp = null; releaseDelta = noopRelease
      val capacity = math.max(1L, epochFp.count()) + math.max(0L, headroom)
      epochBytes = keying.bloom(epochFp, Some(capacity), fpp)
      batchBytes = Nil
      batchesSinceRefresh = 0
      filterSeq = 0 // safe: the persist below clears batch_filters/
      stateDir.foreach { dir =>
        expectedRaw = history.count()
        epochFp.write.mode("overwrite").parquet(s"$dir/epoch_fp")
        val fs = fsOf(history)
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/delta_fp"), true)
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch_filters"), true)
        writeBytes(fs, s"$dir/epoch.bloom", epochBytes)
        writeMeta(fs)
      }
    }

    /** Load persisted epoch state instead of rescanning history — taken
      * only when the metadata's covered-row-count matches the LIVE
      * history's row count exactly (see the class doc for why that check
      * is sufficient). Returns false (caller cold-refreshes) on any
      * mismatch, missing file, or read error. */
    def tryReload(history: DataFrame): Boolean = stateDir.exists { dir =>
      try {
        val fs = fsOf(history)
        val meta = readMeta(fs)
        meta.exists { covered =>
          history.count() == covered && {
            val spark = history.sparkSession
            val (fp, rel) = checkpointReleasable(
              spark.read.parquet(s"$dir/epoch_fp"))
            epochFp = fp; releaseEpoch = rel
            epochBytes = readBytes(fs, s"$dir/epoch.bloom")
            val deltaPath = new org.apache.hadoop.fs.Path(s"$dir/delta_fp")
            if (fs.exists(deltaPath)) {
              val (d, dr) = checkpointReleasable(
                spark.read.parquet(s"$dir/delta_fp"))
              deltaFp = d; releaseDelta = dr
            } else { deltaFp = null; releaseDelta = noopRelease }
            val bfPath = new org.apache.hadoop.fs.Path(s"$dir/batch_filters")
            val bfStatuses =
              if (fs.exists(bfPath)) fs.listStatus(bfPath).toList else Nil
            batchBytes = bfStatuses.map(st => readBytes(fs, st.getPath.toString))
            // resume the filter-file sequence PAST every live file: the
            // pre-crash f0..fN must keep covering their batches' keys, so
            // post-reload folds write fresh indices instead of overwriting
            val FilterName = """f(\d+)\.bloom""".r
            filterSeq = bfStatuses.map(_.getPath.getName).foldLeft(0) {
              case (acc, FilterName(i)) => math.max(acc, i.toInt + 1)
              case (acc, _)             => acc
            }
            // a long pre-crash epoch can leave many small filter files;
            // collapse the probe list to one delta-sized filter (the
            // persisted covering set stays untouched)
            if (batchBytes.size > 16 && deltaFp != null)
              batchBytes = List(keying.bloom(deltaFp, None, fpp))
            expectedRaw = covered
            batchesSinceRefresh = 0
            true
          }
        }
      } catch { case scala.util.control.NonFatal(_) => false }
    }

    private def fsOf(df: DataFrame) =
      org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(stateDir.get),
        df.sparkSession.sparkContext.hadoopConfiguration)

    private def writeBytes(fs: org.apache.hadoop.fs.FileSystem, path: String,
                           bytes: Array[Byte]): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
      try out.write(bytes) finally out.close()
    }

    private def readBytes(fs: org.apache.hadoop.fs.FileSystem,
                          path: String): Array[Byte] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(path))
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    }

    /** Metadata = the covered history row count. Written LAST in every
      * persist sequence (write tmp, delete, rename), so a crash anywhere
      * mid-sequence leaves the OLD count in place → the next start's count
      * check fails → cold refresh. Never partially-trusted state. */
    private def writeMeta(fs: org.apache.hadoop.fs.FileSystem): Unit = {
      val dir = stateDir.get
      writeBytes(fs, s"$dir/meta.tmp",
        expectedRaw.toString.getBytes("UTF-8"))
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta"), false)
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir/meta.tmp"),
        new org.apache.hadoop.fs.Path(s"$dir/meta"))
    }

    private def readMeta(fs: org.apache.hadoop.fs.FileSystem): Option[Long] = {
      val p = new org.apache.hadoop.fs.Path(s"${stateDir.get}/meta")
      if (!fs.exists(p)) None
      else scala.util.Try(
        new String(readBytes(fs, p.toString), "UTF-8").trim.toLong).toOption
    }

    /** Probe a batch against the frozen epoch filter + the per-batch
      * accepted filters, confirm against epoch set + deltas. The result is
      * materialized (it has multiple consumers: `onFresh` and [[fold]]) and
      * is valid only until [[fold]] releases it at the end of the batch. */
    def probe(batch: DataFrame, idCol: String, textCol: String): DataFrame = {
      val seenFp =
        if (deltaFp == null) epochFp else epochFp.unionByName(deltaFp)
      val (fresh, rel) = checkpointReleasable(keying.probeConfirm(
        batch, seenFp, epochBytes :: batchBytes, idCol, textCol))
      releaseFresh = rel
      fresh
    }

    /** Fold the batch's accepted fingerprints into the epoch state so later
      * batches this epoch can't duplicate them: one BATCH-sized Bloom
      * filter appended to the probe list (auto-sized from the accepted
      * count — never the epoch capacity) and one materialized delta block
      * for the confirm join. The delta union is compacted every 16 batches
      * so neither the plan's leaf count, the pinned block count, nor the
      * probe-filter list grows with refreshEveryBatches — compaction
      * rewrites only the small accepted rows (and collapses the filter
      * list to one delta-sized filter), never the epoch set. */
    def fold(fresh: DataFrame, textCol: String): Unit = {
      val (acceptedFp, relAccepted) = checkpointReleasable(
        keying.keys(fresh, textCol))
      releaseDelta = { val r = releaseDelta; () => { r(); relAccepted() } }
      batchBytes ::= keying.bloom(acceptedFp, None, fpp)
      deltaFp =
        if (deltaFp == null) acceptedFp else deltaFp.unionByName(acceptedFp)
      // durable path: accepted rows + this batch's filter land BEFORE the
      // metadata rewrite (see writeMeta's crash argument). The per-batch
      // filter files simply accumulate until the next refresh clears the
      // directory — a redundant-but-covering set is always safe to reload,
      // unlike an in-place rewrite that could crash half-done.
      stateDir.foreach { dir =>
        val fs = fsOf(fresh)
        acceptedFp.write.mode("append").parquet(s"$dir/delta_fp")
        writeBytes(fs, s"$dir/batch_filters/f$filterSeq.bloom",
          batchBytes.head)
        filterSeq += 1
        expectedRaw += fresh.count()
        writeMeta(fs)
      }
      if (batchesSinceRefresh % 16 == 15) {
        val (compacted, relCompacted) = checkpointReleasable(deltaFp)
        releaseDelta()
        deltaFp = compacted; releaseDelta = relCompacted
        batchBytes = List(keying.bloom(deltaFp, None, fpp))
      }
      // the batch's probe result has now had its last read (onFresh ran
      // before fold; acceptedFp is materialized) — return its blocks
      releaseFresh(); releaseFresh = noopRelease
      batchesSinceRefresh += 1
    }
  }

  // ---- custom state: gap-based sessionization ---------------------------

  case class SessionEvent(key: String, ts: java.sql.Timestamp)

  /** Per-key open-session state kept by the state store between batches. */
  case class SessionState(start: Long, last: Long, n: Long)

  /** One closed session, emitted when the inactivity gap elapses (within a
    * batch, or via event-time timeout once the watermark passes). */
  case class Session(key: String, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long)

  /** Gap-based sessionization with CUSTOM state via `flatMapGroupsWithState`
    * (the brief's mapGroupsWithState surface): events group by key, each
    * group folds its (batch-sorted) events into an open-session state, a
    * session closes when the gap between consecutive events exceeds
    * `gapMs` or when the event-time timeout fires after the watermark moves
    * past `last + gap`. State is per-key and bounded (one open session), so
    * the state store scales with distinct active keys, not event volume —
    * the streaming analogue of the batch lag-based q24 sessionization.
    */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gapMs: Long, watermark: String): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    events
      .select(col(keyCol).cast("string").as("key"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[SessionEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, batch, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(key, ts(s.start), ts(s.last), s.n))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
                case Some(s) =>
                  closed ::= Session(key, ts(s.start), ts(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // a batch containing only events older than the watermark would
              // otherwise set a timeout before the watermark, which Spark
              // rejects (IllegalArgumentException fails the whole query)
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverse.iterator
          }
      }
  }
}
