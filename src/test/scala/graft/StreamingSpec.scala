package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.FlatTable
import graft.streaming.Streaming

case class Ev(ts: Timestamp, event_type: String, value: Double)

/** Structured-Streaming tabulation: the streaming windowed aggregation must
  * agree with the equivalent batch computation, and foreachBatch must deliver
  * tabulated (margin-bearing) FlatTables per micro-batch.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def eventRows(n: Int): Seq[Ev] = {
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts"), col("event_type"), col("value")).limit(n).collect()
    batch.map(r => Ev(r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq
  }

  test("streaming tumbling-window counts equal the batch computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows(500)
    val stream = MemoryStream[Ev]
    stream.addData(rows)
    val agg = Streaming.windowedAgg(stream.toDF(), "ts", watermark = Some("1 hour"),
      win = "1 hour", keys = Seq("event_type"))
    val q = Streaming.toMemorySink(agg, "stream_counts")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_counts")
        .select(col("window.start").as("w"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = rows.toDF()
        .groupBy(window(col("ts"), "1 hour").as("window"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful sessionization (flatMapGroupsWithState) closes sessions on gap and watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // keep clear of epoch 0: the initial watermark is 0 and rows at or below
    // it are dropped as late
    def t(sec: Long) = new Timestamp((86400 + sec) * 1000L)
    val stream = MemoryStream[(String, Timestamp)]
    // user a: two sessions (0-10s, then 100-105s); user b: one session
    stream.addData(Seq(
      ("a", t(0)), ("a", t(10)), ("a", t(100)), ("a", t(105)),
      ("b", t(50))))
    val sessions = Streaming.sessionize(
      stream.toDF().toDF("user", "ts"), "user", "ts",
      gapMs = 30000L, watermark = "10 seconds")
    val q = sessions.toDF().writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      // push the watermark far past every open session's timeout
      stream.addData(Seq(("z", t(100000))))
      q.processAllAvailable()
      stream.addData(Seq(("z", t(200000)))) // second advance flushes timeouts
      q.processAllAvailable()
      val out = spark.table("sessions_out")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000 - 86400,
          r.getTimestamp(2).getTime / 1000 - 86400, r.getLong(3))).toSet
      assert(out.contains(("a", 0L, 10L, 2L)))   // closed by in-batch gap
      assert(out.contains(("a", 100L, 105L, 2L))) // closed by event-time timeout
      assert(out.contains(("b", 50L, 50L, 1L)))
    } finally q.stop()
  }

  test("streaming exact dedup keeps the first event per fingerprint (watermark-bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp((86400 + sec) * 1000L)
    val stream = MemoryStream[(Long, String, Timestamp)]
    stream.addData(Seq(
      (1L, "Hello  World", t(0)),   // same fingerprint as 2 (whitespace-normalized)
      (2L, "hello world", t(5)),
      (3L, "different text", t(6))))
    val deduped = Streaming.dedupExact(
      stream.toDF().toDF("id", "text", "ts"), "text", "ts", watermark = "10 seconds")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L)) // 2 dropped as an in-horizon duplicate
    } finally q.stop()
  }

  test("streaming near-dup dedup collapses signature-equal docs within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp((86400 + sec) * 1000L)
    // doc 2 is a word-level REORDER + REPEAT of doc 1: a different exact
    // fingerprint (dedupExact would keep both) but the same distinct token
    // set, hence the same k=1 SimHash — the near-dup regime this operator
    // suppresses online
    val a1 = "the quick brown fox jumps over the lazy dog"
    val a2 = "quick the brown fox dog jumps over the lazy fox quick"
    val b = "an entirely different document about spark streaming state"
    val stream = MemoryStream[(Long, String, Timestamp)]
    stream.addData(Seq((1L, a1, t(0)), (2L, a2, t(2)), (3L, b, t(4))))
    val deduped = Streaming.dedupNear(stream.toDF().toDF("id", "text", "ts"),
      "text", "ts", watermark = "10 seconds", k = 1)
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("neardup_out").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L)) // 2 suppressed as an in-horizon NEAR-dup
      // agreement with the batch signature operator: the streamed survivors
      // are exactly one representative per batch simhash group
      val sigs = graft.ext.Dedup.simhash(
        Seq((1L, a1), (2L, a2), (3L, b)).toDF("id", "text"), "id", "text", k = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigs(1L) == sigs(2L) && sigs(1L) != sigs(3L))
      // and the exact fingerprints differ — this is not exact dedup
      val fps = Seq((1L, a1), (2L, a2)).toDF("id", "text")
        .select(graft.ext.TextStats.fingerprint(col("text"))).collect()
        .map(_.getString(0)).toSet
      assert(fps.size == 2)
    } finally q.stop()
  }

  test("streaming pipeline composes: quality filter -> exact dedup -> windowed counts") {
    // the streaming shape of the training-data pipeline: every stage is
    // either stateless (TextStats scoring/filtering) or watermark-bounded
    // (dedup state, window state), so the composition runs on an endless feed
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp((86400 + sec) * 1000L)
    val good = ("the quick brown fox jumps over a lazy dog and runs far " +
      "away to the old stone house where the cat is sleeping on a warm mat " +
      "by the door tonight")
    val junk = "!!! ??? *** !!!" // punct-heavy, no stopwords -> quality 0
    val stream = MemoryStream[(Long, String, Timestamp)]
    stream.addData(Seq(
      (1L, good, t(0)),
      (2L, good + " ", t(3)),      // same fingerprint as 1 (trailing ws)
      (3L, junk, t(4)),            // filtered by quality
      (4L, good + " extra words", t(6))))
    val src = stream.toDF().toDF("id", "text", "ts")
    val scored = graft.ext.TextStats.analyze(src, "text") // stateless stage
    val filtered = scored.filter(col("quality") >= 0.5)
    val deduped = Streaming.dedupExact(filtered, "text", "ts", watermark = "10 seconds")
    // watermark = None inherits dedupExact's watermark (Spark disallows
    // redefining it downstream of a stateful operator)
    val counts = Streaming.windowedAgg(deduped, "ts", watermark = None,
      win = "10 seconds")
    val q = Streaming.toMemorySink(counts, "pipe_counts")
    try {
      q.processAllAvailable()
      val byWindow = spark.table("pipe_counts")
        .select(col("window.start").as("w"), col("n"))
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      // junk filtered, duplicate dropped: 2 survivors in the first window
      assert(byWindow == Map(t(0) -> 2L))
    } finally q.stop()
  }

  test("hash split and quality gate compose into a stream unchanged (stateless ops)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // per-row hash assignment and quality scoring are pure projections, so
    // the SAME operators run on a stream with no state and no watermark —
    // and must assign exactly what the batch path assigns
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).limit(200)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs)
    val streamed = graft.ext.Corpus.hashSplit(
        stream.toDF().toDF("doc_id", "text"), "doc_id")
      .filter(graft.ext.TextStats.qualityPoints(col("text")) >= 5)
      .select(col("doc_id"), col("split"))
    val q = Streaming.toMemorySink(streamed, "stream_split", outputMode = "append")
    try {
      q.processAllAvailable()
      val got = spark.table("stream_split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = graft.ext.Corpus.hashSplit(
          docs.toDF("doc_id", "text"), "doc_id")
        .filter(graft.ext.TextStats.qualityPoints(col("text")) >= 5)
        .select(col("doc_id"), col("split")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("gopher and C4 rule columns stream unchanged (stateless projections)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the r10 quality operators are pure per-row expressions, so the same
    // calls must score a stream exactly as they score the batch
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).limit(200)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def score(df: org.apache.spark.sql.DataFrame) =
      graft.ext.TextStats.c4Stats(
          graft.ext.TextStats.gopherStats(df, "text"), "text",
          blockWords = Seq("customer"))
        .select(col("doc_id"), col("gopher_pass"), col("c4_keep"),
          col("blocked_hits"))
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs)
    val q = Streaming.toMemorySink(score(stream.toDF().toDF("doc_id", "text")),
      "stream_rules", outputMode = "append")
    try {
      q.processAllAvailable()
      val got = spark.table("stream_rules").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getInt(3))).toMap
      val want = score(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getInt(3))).toMap
      assert(got == want && got.size == 200)
      // the gate actually differentiates on fixture prose (not all-true/false)
      assert(got.values.map(_._3).toSet.size > 1)
    } finally q.stop()
  }

  test("qualityDrift windows match the batch means exactly; drift offsets the baseline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).limit(200)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // deterministic event times: 4 hourly windows
    val rows = docs.zipWithIndex.map { case ((id, tx), i) =>
      (id, tx, java.sql.Timestamp.valueOf(s"2026-01-01 0${i % 4}:15:00")) }
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    stream.addData(rows)
    val baseline = 5.0
    val agg = Streaming.qualityDrift(
      stream.toDF().toDF("doc_id", "text", "ts"), "ts", "text",
      watermark = Some("1 hour"), win = "1 hour", baselineMean = baseline)
    val q = Streaming.toMemorySink(agg, "stream_drift")
    try {
      q.processAllAvailable()
      val got = spark.table("stream_drift")
        .select(col("window.start").as("w"), col("points_sum"), col("docs"),
          col("mean_quality"), col("drift"))
        .collect().map(r => r.getTimestamp(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
      val want = rows.toSeq.toDF("doc_id", "text", "ts")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(sum(graft.ext.TextStats.qualityPoints(col("text")).cast("long"))
          .as("points_sum"), count(lit(1)).as("docs"))
        .select(col("window.start"), col("points_sum"), col("docs"))
        .collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(got.size == 4 && got.keySet == want.keySet)
      got.foreach { case (w, (ps, n, mean, drift)) =>
        assert((ps, n) == want(w))
        assert(mean == ps.toDouble / n)
        assert(drift == mean - baseline)
      }
    } finally q.stop()
  }

  test("qualityDrift incorporates in-watermark late data (corrected alert) and drops expired") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the one streaming behavior batch parity cannot cover: out-of-order
    // arrivals. A late batch INSIDE the watermark must re-emit the window
    // with the corrected mean (the drift alert fires on the corrected
    // numbers); a straggler BEYOND the watermark must be dropped without
    // reviving the expired window.
    val good = ("the and of to a is in for on with " * 4).trim // 40 toks, 10 pts
    val bad = "x"                                              // 2 pts
    def ev(id: Long, tx: String, t: String) =
      (id, tx, java.sql.Timestamp.valueOf(t))
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val agg = Streaming.qualityDrift(
      stream.toDF().toDF("doc_id", "text", "ts"), "ts", "text",
      watermark = Some("1 hour"), win = "1 hour", baselineMean = 9.0)
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("stream_drift_late").start()
    def w1Rows() = spark.table("stream_drift_late")
      .filter(col("window.start") === lit("2026-01-01 01:00:00").cast("timestamp"))
      .select(col("docs"), col("mean_quality"), col("drift"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    try {
      // batch 1: 4 good docs in W1 [01:00, 02:00) + one W2 doc; watermark
      // advances to 01:15, W1 stays open
      stream.addData(Seq(ev(0, good, "2026-01-01 01:05:00"),
        ev(1, good, "2026-01-01 01:10:00"), ev(2, good, "2026-01-01 01:12:00"),
        ev(3, good, "2026-01-01 01:14:00"), ev(4, good, "2026-01-01 02:15:00")))
      q.processAllAvailable()
      assert(w1Rows().contains((4L, 10.0, 1.0)), s"pre-correction: ${w1Rows().toSeq}")
      // batch 2: 4 LATE low-quality docs, out of order but within the
      // watermark — W1 re-emits corrected: mean (4*10+4*2)/8 = 6, drift -3
      stream.addData(Seq(ev(10, bad, "2026-01-01 01:20:00"),
        ev(11, bad, "2026-01-01 01:21:00"), ev(12, bad, "2026-01-01 01:22:00"),
        ev(13, bad, "2026-01-01 01:23:00")))
      q.processAllAvailable()
      assert(w1Rows().contains((8L, 6.0, -3.0)),
        s"late-data correction missing: ${w1Rows().toSeq}")
      // batch 3: advance event time to 05:00 -> watermark 04:00, W1 expires
      stream.addData(Seq(ev(20, good, "2026-01-01 05:00:00")))
      q.processAllAvailable()
      // batch 4: a straggler beyond the watermark — dropped, W1 not revived
      stream.addData(Seq(ev(30, bad, "2026-01-01 01:30:00")))
      q.processAllAvailable()
      assert(!w1Rows().exists(_._1 == 9L),
        s"expired-window straggler leaked in: ${w1Rows().toSeq}")
    } finally q.stop()
  }

  test("frozen DSIR scorer scores micro-batches exactly like the batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the models are fit ONCE on static slices; the returned closure is a
    // broadcast join + per-doc fold, so inside foreachBatch it must assign
    // every arriving document the exact weight the batch path assigns
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("lang")).limit(120)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val staticDf = docs.toDF("doc_id", "text", "lang")
    val scorer = graft.ext.Dsir.frozenScorer(
      target = staticDf.filter(col("lang") === "en"), raw = staticDf, "text")
    val want = scorer(staticDf, "doc_id")
      .select(col("doc_id"), col("ds_grams"), col("ds_logw")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap[Long, (Long, Double)]()
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        scorer(b, "doc_id")
          .select(col("doc_id"), col("ds_grams"), col("ds_logw")).collect()
          .foreach(r => got += r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        ()
      }.start()
    try {
      stream.addData(docs.take(60).map(d => (d._1, d._2)))
      q.processAllAvailable()
      stream.addData(docs.drop(60).map(d => (d._1, d._2)))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == want && got.size == 120)
  }

  test("epoch state: per-batch filters are batch-sized and the epoch filter stays frozen") {
    import spark.implicits._
    val state = new Streaming.IngestEpochState(fpp = 0.01, headroom = 100000L)
    val history = (0L until 200L).map(i => (i, s"history doc body number $i"))
      .toDF("doc_id", "text")
    state.refresh(history, "text")
    val epochLen = state.epochBytes.length
    val epochCopy = state.epochBytes.clone()
    // the epoch filter carries capacity = count + headroom (~100k → ~120 KB)
    assert(epochLen > 50000, s"epoch filter unexpectedly small: $epochLen B")
    val batch = (1000L until 1020L).map(i => (i, s"fresh arrival $i"))
      .toDF("doc_id", "text")
    val fresh = state.probe(batch, "doc_id", "text")
    assert(fresh.count() == 20)
    state.fold(fresh, "text")
    // the fold appended ONE filter sized to the batch's 20 accepted rows —
    // not a rebuild at epoch capacity (r6 shipped epoch-sized bits to the
    // driver on every batch; at a 1B-doc epoch that is ~1.2 GB per batch)
    assert(state.batchBytes.size == 1)
    assert(state.batchBytes.head.length < epochLen / 100,
      s"per-batch filter ${state.batchBytes.head.length} B is epoch-scale ($epochLen B)")
    // and the frozen epoch filter was not touched
    assert(java.util.Arrays.equals(state.epochBytes, epochCopy))
    // mid-epoch cross-batch dedup still holds through the small filter: a
    // second batch duplicating an accepted row drops it with NO refresh
    val batch2 = Seq((2000L, "fresh arrival 1005"), (2001L, "wholly new body"))
      .toDF("doc_id", "text")
    val fresh2 = state.probe(batch2, "doc_id", "text")
    val kept = fresh2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2001L), s"kept $kept")
    state.fold(fresh2, "text")
    assert(state.batchBytes.size == 2 &&
      state.batchBytes.forall(_.length < epochLen / 100))
  }

  test("checkpointReleasable pins blocks on build and returns them on release") {
    import spark.implicits._
    val (df, release) = Streaming.checkpointReleasable(
      (0L until 50L).map(i => (i, s"row $i")).toDF("id", "s"))
    assert(df.count() == 50)
    val rdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    // the release handle must actually have found the pinned RDDs — an
    // empty collect here would make every release in the epoch loop a
    // silent no-op (exactly the storage leak the handle exists to close)
    assert(rdds.nonEmpty)
    assert(rdds.forall(_.getStorageLevel.useMemory))
    release()
    assert(rdds.forall(_.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE))
  }

  test("dedupIncremental: epoch bloom loop matches batch-by-batch incrementalExact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_stream")
      .resolve("hist").toString
    val initial = Seq((0L, "alpha beta gamma delta"),
      (1L, "epsilon zeta eta theta"))
    initial.toDF("doc_id", "text").write.parquet(dir)
    def history() = spark.read.parquet(dir)
    // three micro-batches across a 2-batch epoch: batch 0 refreshes the
    // filter, batch 1 exercises the STALE-filter path (doc 12 duplicates a
    // doc accepted in batch 0 — only the post-batch merge keeps it out of
    // the definitely-fresh shortcut), batch 2 refreshes again
    val batches = Seq(
      Seq((10L, "ALPHA  beta gamma delta"),   // dup of history 0 (normalized)
          (11L, "a genuinely new arrival")),
      Seq((12L, "a genuinely new arrival"),   // dup of 11, same epoch
          (13L, "another novel document")),
      Seq((14L, "epsilon zeta eta theta"),    // dup of history 1
          (15L, "a genuinely new arrival"),   // dup of 11, after refresh
          (16L, "a third distinct body")))
    val stream = MemoryStream[(Long, String)]
    @volatile var got = Vector.empty[Set[Long]]
    val q = Streaming.dedupIncremental(
      stream.toDF().toDF("doc_id", "text"), () => history(), "doc_id", "text",
      onFresh = (fresh, _) => {
        got :+= fresh.select("doc_id").collect().map(_.getLong(0)).toSet
        fresh.select(col("doc_id"), col("text"))
          .write.mode("append").parquet(dir)
      },
      refreshEveryBatches = 2, headroom = 100L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
    ).start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // parity oracle: the batch operator applied batch-by-batch with the
    // history grown by each batch's survivors
    var hist = initial
    val want = batches.map { b =>
      val fresh = graft.ext.Dedup.incrementalExact(
          b.toDF("doc_id", "text"), hist.toDF("doc_id", "text"),
          "doc_id", "text")
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      hist ++= fresh
      fresh.map(_._1).toSet
    }
    assert(got.toSeq == want,
      s"streamed fresh sets $got != batch-replay $want")
    assert(got == Vector(Set(11L), Set(13L), Set(16L)))
  }

  test("dedupIncrementalCosine: epoch loop matches batch-by-batch incrementalCosine") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_inccos_stream")
      .resolve("hist").toString
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    e.filter(col("vec_id") < 20).select(col("vec_id"), col("embedding"))
      .write.parquet(dir)
    def history() = spark.read.parquet(dir)
    // planted near-dup (cos ~0.999) of any original, keyed by seed + 1e6;
    // bits=256/bands=16 is the recall-1.0 regime (q41), so drop decisions
    // are deterministic on this fixture
    val dup = graft.ext.Similarity.plantNearDups(e, "vec_id", "embedding",
        offset = 1000000L, scale = 0.01)
      .filter(col("vec_id") >= 1000000L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val orig = e.filter(col("vec_id").isin(50L, 51L, 52L, 53L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // three micro-batches over a 2-batch epoch: batch 0 refreshes (dup of
    // history 3 drops, two fresh originals accepted), batch 1 rides the
    // STALE epoch filter (dup of batch-0-accepted 50 must drop via the
    // delta, not the epoch set), batch 2 refreshes (dups of history 7 and
    // of the now-folded-into-history 51 both drop)
    val batches = Seq(
      Seq(1000003L -> dup(1000003L), 50L -> orig(50L), 51L -> orig(51L)),
      Seq(1000050L -> dup(1000050L), 52L -> orig(52L)),
      Seq(1000007L -> dup(1000007L), 1000051L -> dup(1000051L),
        53L -> orig(53L)))
    val stream = MemoryStream[(Long, Array[Float])]
    @volatile var got = Vector.empty[Set[Long]]
    val q = Streaming.dedupIncrementalCosine(
      stream.toDF().toDF("vec_id", "embedding"), () => history(),
      "vec_id", "embedding",
      onFresh = (fresh, _) => {
        got :+= fresh.select("vec_id").collect().map(_.getLong(0)).toSet
        fresh.select(col("vec_id"), col("embedding"))
          .write.mode("append").parquet(dir)
      },
      minCos = 0.95, bits = 256, bands = 16,
      refreshEveryBatches = 2, headroom = 100L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
    ).start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // parity oracle: the batch operator applied batch-by-batch with the
    // history grown by each batch's survivors
    var hist = e.filter(col("vec_id") < 20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val want = batches.map { b =>
      val fresh = graft.ext.Similarity.incrementalCosine(
          b.toDF("vec_id", "embedding"), hist.toDF("vec_id", "embedding"),
          "vec_id", "embedding", minCos = 0.95, bits = 256, bands = 16)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      hist ++= fresh
      fresh.map(_._1).toSet
    }
    assert(got.toSeq == want, s"streamed fresh sets $got != batch-replay $want")
    assert(got == Vector(Set(50L, 51L), Set(52L), Set(53L)))
  }

  test("dedupIncrementalNear: epoch loop matches batch-by-batch incrementalNear at Hamming <= 2") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_incnear_stream")
      .resolve("hist").toString
    // ~30 tokens per doc: a one-token append flips only the zero-balance
    // signature bits, and the count of those shrinks with doc length — at
    // 10 tokens a random append lands at Hamming ~8 (outside any maxDist
    // we support); at 30, Hamming 1-2 shows up every ~11 candidates
    val base0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lima mike november oscar papa quebec romeo sierra tango uniform " +
      "victor whiskey xray yankee zulu apex bravo castle dome ember"
    val base1 = "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "anchor basin cedar delta2 errand fjord grove harbor inlet juniper " +
      "kestrel lagoon meadow nectar orchard prairie quarry ridge summit thicket"
    val initial = Seq((0L, base0), (1L, base1))
    initial.toDF("doc_id", "text").write.parquet(dir)
    def history() = spark.read.parquet(dir)
    // plant REAL EDITS inside the 1-2 window by SEARCH, not by guessing:
    // one Spark job signs both bases plus 300 candidate one-token appends
    // each, and we take the first candidate per doc whose signature lands
    // at Hamming 1-2 (a hard-coded token broke the moment the hash basis
    // produced Hamming 7 — the search is robust to any basis)
    val candTexts = Seq((9000L, base0), (9001L, base1)) ++
      (for (d <- 0 to 1; i <- 0 until 300)
        yield (d * 1000L + i, (if (d == 0) base0 else base1) + s" zq$i"))
    val sigs = graft.ext.Dedup.simhash(
        candTexts.toDF("doc_id", "text"), "doc_id", "text",
        k = 1, hasher = graft.ext.Dedup.Hasher.Md5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def plantEdit(d: Int): String = {
      val b = sigs(9000L + d)
      val i = (0 until 300).find { i =>
        val dist = java.lang.Long.bitCount(b ^ sigs(d * 1000L + i))
        dist >= 1 && dist <= 2
      }.getOrElse(fail(s"no candidate append within Hamming 1-2 of base$d"))
      (if (d == 0) base0 else base1) + s" zq$i"
    }
    val edited0 = plantEdit(0)
    val edited1 = plantEdit(1)
    // arrivals: a token REORDER of history 0 (k=1 signature equal — the
    // Hamming-0 scope), the planted 1-2-bit edits of both history docs
    // (the scope the block probes exist for), and genuinely fresh docs
    val reorder0 = base0.split(' ').reverse.mkString(" ")
    val batches = Seq(
      Seq((10L, reorder0),
          (11L, edited0),
          (12L, "one wholly novel arrival body here today friend indeed")),
      Seq((13L, edited1),
          (14L, "one wholly novel arrival body here today friend indeed zq3"),
          (15L, "second entirely different novel document text body words")))
    val stream = MemoryStream[(Long, String)]
    @volatile var got = Vector.empty[Set[Long]]
    val q = Streaming.dedupIncrementalNear(
      stream.toDF().toDF("doc_id", "text"), () => history(), "doc_id", "text",
      onFresh = (fresh, _) => {
        got :+= fresh.select("doc_id").collect().map(_.getLong(0)).toSet
        fresh.select(col("doc_id"), col("text"))
          .write.mode("append").parquet(dir)
      },
      k = 1, hasher = graft.ext.Dedup.Hasher.Md5, maxDist = 2,
      refreshEveryBatches = 2, headroom = 100L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
    ).start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // parity oracle: the batch operator applied batch-by-batch with the
    // history grown by each batch's survivors
    var hist = initial
    val want = batches.map { b =>
      val fresh = graft.ext.Dedup.incrementalNear(
          b.toDF("doc_id", "text"), hist.toDF("doc_id", "text"),
          "doc_id", "text", k = 1, hasher = graft.ext.Dedup.Hasher.Md5,
          maxDist = 2)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      hist ++= fresh
      fresh.map(_._1).toSet
    }
    assert(got.toSeq == want,
      s"streamed fresh sets $got != batch-replay $want")
    // the near scope must be doing real work: both planted edits sit inside
    // the window by construction (plantEdit searched for Hamming 1-2), so
    // they are dropped here but would be KEPT by the exact epoch loop
    assert(got.flatten.toSet.intersect(Set(11L, 13L)).isEmpty,
      s"edits 11/13 inside the Hamming window should have been dropped: $got")
    // and the reorder (signature-equal) arrival never survives
    assert(!got.flatten.toSet.contains(10L))
  }

  test("dedupIncremental: persisted state survives a restart with no rescan and no dup emissions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_durable")
    val histDir = root.resolve("hist").toString
    val stateDir = root.resolve("state").toString
    Seq((0L, "alpha beta gamma delta"), (1L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.parquet(histDir)
    def history() = spark.read.parquet(histDir)
    def run(batch: Seq[(Long, String)]): Set[Long] = {
      val stream = MemoryStream[(Long, String)]
      @volatile var got = Set.empty[Long]
      val q = Streaming.dedupIncremental(
        stream.toDF().toDF("doc_id", "text"), () => history(),
        "doc_id", "text",
        onFresh = (fresh, _) => {
          got = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
          fresh.select(col("doc_id"), col("text"))
            .write.mode("append").parquet(histDir)
        },
        refreshEveryBatches = 10, headroom = 100L,
        stateDir = Some(stateDir),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
      ).start()
      try { stream.addData(batch); q.processAllAvailable() } finally q.stop()
      got
    }
    // first writer: accepts 11, persists epoch + delta state, dies
    // "mid-epoch" (1 of 10 batches into the epoch)
    assert(run(Seq((10L, "ALPHA  beta gamma delta"),
      (11L, "a brand new arrival"))) == Set(11L))
    // PROOF the restart must not rescan: garble every history text (same
    // row count — the freshness check still passes). A cold refresh would
    // fingerprint the garbage and treat the duplicates below as fresh;
    // only the PERSISTED state still knows the real fingerprints.
    val garbled = spark.read.parquet(histDir)
      .select(col("doc_id"), concat(lit("garbled "), col("doc_id")).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    garbled.toDF("doc_id", "text").write.mode("overwrite").parquet(histDir)
    // the reload path itself is taken on restart: the persisted covering
    // count equals the live history count (the metadata check), so a fresh
    // state object accepts the state directly — the positive twin of the
    // divergence refusal asserted below
    val reloadable = new Streaming.IngestEpochState(0.01, 100L, Some(stateDir))
    assert(reloadable.tryReload(history()),
      "mid-epoch persisted state should reload when the covering count matches")
    // restarted writer: dup of original history (12), dup of the mid-epoch
    // accept (13), genuinely new (14) — no duplicate emissions, no rescan
    assert(run(Seq((12L, "alpha beta gamma delta"),
      (13L, "a brand new arrival"),
      (14L, "wholly novel content"))) == Set(14L))
    // and a history whose count diverged (external append) forces the
    // safe cold refresh: the reload path must refuse the stale state
    Seq((99L, "external write")).toDF("doc_id", "text")
      .write.mode("append").parquet(histDir)
    val st = new Streaming.IngestEpochState(0.01, 100L, Some(stateDir))
    assert(!st.tryReload(history()))
  }

  test("IngestEpochState: batch-filter files survive reload cycles (no index reuse)") {
    // Regression: fold used to name filter files f<batchesSinceRefresh>,
    // and tryReload reset that counter to 0 while pre-crash f0..fN stayed
    // on disk — the first post-restart fold OVERWROTE f0.bloom, so after a
    // SECOND restart the reloaded filter list no longer covered batch-0's
    // keys and probeConfirm admitted their duplicates as definitely-fresh.
    // The file index is now monotonic across reloads.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_filterseq")
    val histDir = root.resolve("hist").toString
    val stateDir = root.resolve("state").toString
    Seq((0L, "the original history document"))
      .toDF("doc_id", "text").write.parquet(histDir)
    def history() = spark.read.parquet(histDir)
    def appendHist(df: org.apache.spark.sql.DataFrame): Unit =
      df.select(col("doc_id"), col("text"))
        .write.mode("append").parquet(histDir)

    val s1 = new Streaming.IngestEpochState(0.01, 100L, Some(stateDir))
    s1.refresh(history(), "text")
    val b0 = Seq((10L, "first epoch batch zero keys")).toDF("doc_id", "text")
    val f0 = s1.probe(b0, "doc_id", "text")
    appendHist(f0); s1.fold(f0, "text")

    // crash #1 → reload; the new state must resume PAST the live f0.bloom
    val s2 = new Streaming.IngestEpochState(0.01, 100L, Some(stateDir))
    assert(s2.tryReload(history()), "first reload should accept the state")
    val b1 = Seq((11L, "second batch after the restart")).toDF("doc_id", "text")
    val f1 = s2.probe(b1, "doc_id", "text")
    appendHist(f1); s2.fold(f1, "text")
    val bfDir = root.resolve("state").resolve("batch_filters").toFile
    val bloomFiles = bfDir.listFiles().map(_.getName)
      .filter(_.endsWith(".bloom")).filterNot(_.startsWith(".")).toSet
    assert(bloomFiles == Set("f0.bloom", "f1.bloom"),
      "post-restart fold must write a fresh index, not overwrite f0")

    // crash #2 → reload; batch-0's keys must STILL be covered: a dup of
    // the pre-crash batch-0 doc may not come back as fresh
    val s3 = new Streaming.IngestEpochState(0.01, 100L, Some(stateDir))
    assert(s3.tryReload(history()), "second reload should accept the state")
    val dupes = Seq((20L, "first epoch batch zero keys"),
      (21L, "second batch after the restart"),
      (22L, "a genuinely new arrival")).toDF("doc_id", "text")
    val fresh = s3.probe(dupes, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fresh == Set(22L),
      s"duplicates of pre-crash batches must be rejected, got fresh=$fresh")
  }

  test("dedupIncrementalNear: persisted near state survives a restart without rescan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_durable_near")
    val histDir = root.resolve("hist").toString
    val stateDir = root.resolve("state").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lima mike november oscar papa quebec romeo sierra tango uniform " +
      "victor whiskey xray yankee zulu apex bravo castle dome ember"
    Seq((0L, base)).toDF("doc_id", "text").write.parquet(histDir)
    def history() = spark.read.parquet(histDir)
    // search a one-token append landing at Hamming 1-2 of base (k=1, Md5) —
    // same robust-to-the-hash-basis planting as the two-epoch near test
    val candTexts = Seq((9000L, base)) ++
      (0 until 300).map(i => (i.toLong, base + s" zq$i"))
    val sigs = graft.ext.Dedup.simhash(candTexts.toDF("doc_id", "text"),
        "doc_id", "text", k = 1, hasher = graft.ext.Dedup.Hasher.Md5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val editIdx = (0 until 300).find { i =>
      val d = java.lang.Long.bitCount(sigs(9000L) ^ sigs(i.toLong))
      d >= 1 && d <= 2
    }.getOrElse(fail("no candidate append within Hamming 1-2 of base"))
    val edited = base + s" zq$editIdx"
    def run(batch: Seq[(Long, String)]): Set[Long] = {
      val stream = MemoryStream[(Long, String)]
      @volatile var got = Set.empty[Long]
      val q = Streaming.dedupIncrementalNear(
        stream.toDF().toDF("doc_id", "text"), () => history(),
        "doc_id", "text",
        onFresh = (fresh, _) => {
          got = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
          fresh.select(col("doc_id"), col("text"))
            .write.mode("append").parquet(histDir)
        },
        k = 1, hasher = graft.ext.Dedup.Hasher.Md5, maxDist = 2,
        refreshEveryBatches = 10, headroom = 100L,
        stateDir = Some(stateDir),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
      ).start()
      try { stream.addData(batch); q.processAllAvailable() } finally q.stop()
      got
    }
    // writer 1: accepts a novel doc mid-epoch, persists state, dies
    assert(run(Seq((10L,
      "one wholly novel arrival body here today friend indeed"))) == Set(10L))
    // garble every history text count-neutrally: a cold refresh would sign
    // the garbage and wrongly ACCEPT both near-dups below — only the
    // persisted signature set and block-keyed filter still know the truth
    val garbled = spark.read.parquet(histDir)
      .select(col("doc_id"), concat(lit("garbled "), col("doc_id")).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    garbled.toDF("doc_id", "text").write.mode("overwrite").parquet(histDir)
    // restarted writer: the 1-2-bit edit of the ORIGINAL history doc drops
    // via the reloaded block probes + Hamming confirm; a signature-equal
    // dup of the mid-epoch accept drops via the reloaded delta; new passes
    assert(run(Seq(
      (12L, edited),
      (13L, "one wholly novel arrival body here today friend indeed"),
      (14L, "second entirely different novel document text body words"))) ==
      Set(14L))
  }

  test("foreachBatch re-tabulates each micro-batch with margins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(eventRows(300))
    val agg = Streaming.windowedAgg(stream.toDF(), "ts", watermark = Some("1 hour"),
      win = "6 hours", keys = Seq("event_type"))
    @volatile var captured: Option[Array[org.apache.spark.sql.Row]] = None
    val writer = Streaming.tabulateForeachBatch(
      agg.select(col("event_type"), col("n")),
      batch => FlatTable(batch, Seq("event_type"))
        .addTotals(graft.core.Axis.Rows),
      (ft, _) => captured = Some(ft.ordered.collect())
    )
    val q = writer.start()
    try {
      q.processAllAvailable()
      val rows = captured.get
      val tot = rows.last
      assert(tot.getString(0) == "Totals")
      assert(tot.getLong(1) == rows.dropRight(1).map(_.getLong(1)).sum)
    } finally q.stop()
  }

  test("frozen quality classifier scores micro-batches exactly like the batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the LinearModel is a plain value: train once on static slices, then
    // score each arriving micro-batch under the SAME weights — continuous
    // ingestion reuses the batch scorer unchanged
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).limit(80)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val staticDf = docs.toDF("doc_id", "text")
    val pts = graft.ext.TextStats.qualityPoints(col("text"))
    val model = graft.ext.Classifier.train(
      pos = staticDf.filter(pts === 10), neg = staticDf.filter(pts < 10),
      "doc_id", "text", iters = 5, lr = 50.0)
    val want = graft.ext.Classifier.score(staticDf, "doc_id", "text", model)
      .select(col("doc_id"), col("clf_prob")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap[Long, Double]()
    // every batch's scoring plan stays small: the weights are a broadcast,
    // not a plan literal
    val executions = TestSpark.executionsOf {
      val q = stream.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.ext.Classifier.score(b, "doc_id", "text", model)
            .select(col("doc_id"), col("clf_prob")).collect()
            .foreach(r => got += r.getLong(0) -> r.getDouble(1))
          ()
        }.start()
      try {
        stream.addData(docs.take(40))
        q.processAllAvailable()
        stream.addData(docs.drop(40))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(got.toMap == want && got.size == 80)
    assert(executions.nonEmpty)
    for (e <- executions)
      assert(e.physicalPlanDescription.length <= 64 * 1024,
        s"execution ${e.executionId} plans ${e.physicalPlanDescription.length} chars")
  }

  test("crossEntropyGate: frozen two-model scoring admits the batch-selected set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // hash-scrambled tokens and varying lengths so every score is distinct
    // (the gate admits all boundary ties; a tied fixture would compare
    // apples to the batch terminal's id-tie-fill oranges)
    def tok(i: Int, j: Int, m: Int, pfx: String) = {
      val h = scala.util.hashing.MurmurHash3.stringHash(s"$pfx:$i:$j")
      s"$pfx${math.floorMod(h, m)}"
    }
    def inDoc(i: Int) =
      (0 until (24 + i % 7)).map(j => tok(i, j, 8, "in")).mkString(" ")
    def outDoc(i: Int) =
      (0 until (24 + i % 7)).map(j => tok(i, j, 40, "out")).mkString(" ")
    val docs = (0 until 20).map(i => (i.toLong, inDoc(i))) ++
      (20 until 40).map(i => (i.toLong, outDoc(i)))
    val staticDf = docs.toDF("id", "text")
    val inModel = graft.ext.Perplexity.trainBigramModel(
      staticDf.filter(col("id") < 10), "text")
    val genModel = graft.ext.Perplexity.trainBigramModel(staticDf, "text")
    // batch run: the selection terminal; its boundary score is the frozen
    // cutoff the online gate applies
    val batchSel = graft.ext.Perplexity.crossEntropySelect(staticDf, "id",
        "text", inDomain = staticDf.filter(col("id") < 10),
        general = staticDf, keepFrac = 0.25)
      .select(col("id"), col("ml_score"), col("selected")).collect()
    val selected = batchSel.filter(_.getAs[Boolean]("selected"))
    val cutoff = selected.map(_.getAs[Double]("ml_score")).max
    // fixture sanity: no unselected doc ties the boundary score (the gate
    // admits all ties — with a tie this test would be comparing apples
    // to the tie-fill's oranges)
    assert(!batchSel.exists(r => !r.getAs[Boolean]("selected") &&
      !r.isNullAt(r.fieldIndex("ml_score")) &&
      r.getAs[Double]("ml_score") == cutoff),
      batchSel.sortBy(r => Option(r.getAs[java.lang.Double]("ml_score"))
          .map(_.doubleValue).getOrElse(99.0))
        .map(r => s"${r.getAs[Long]("id")}:${r.getAs[Any]("ml_score")}:" +
          s"${r.getAs[Boolean]("selected")}").mkString(" "))
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap[Long, Double]()
    val q = Streaming.crossEntropyGate(
      stream.toDF().toDF("id", "text"), "id", "text", inModel, genModel,
      cutoff,
      onKept = (kept, _) => kept.select(col("id"), col("ml_score")).collect()
        .foreach(r => got += r.getLong(0) -> r.getDouble(1)),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      stream.addData(docs.take(25)); q.processAllAvailable()
      stream.addData(docs.drop(25)); q.processAllAvailable()
    } finally q.stop()
    // the gate admits exactly the batch-selected set, with identical scores
    val want = selected.map(r => r.getAs[Long]("id") -> r.getAs[Double]("ml_score")).toMap
    assert(got.toMap == want, s"got ${got.keySet.toSeq.sorted} want ${want.keySet.toSeq.sorted}")
  }

  test("onboardingMonitor: per-batch store-served reports equal the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def doc(pfx: String, i: Int) =
      (0 until 40).map(j => s"$pfx${(i * 17 + j) % 300}").mkString(" ")
    val existing = ((0 until 20).map(i => ("sA", doc("a", i))) ++
      (0 until 20).map(i => ("sB", doc("b", i)))).toDF("source", "text")
    val toks = existing.select(col("source"),
        explode(graft.ext.TextStats.tokens(col("text"))).as("tok"))
      .localCheckpoint()
    Seq("fb_test_onbm_hll", "fb_test_onbm_bk", "fb_test_onbm_lh").foreach { n =>
      graft.sources.IO.dropOrphanedLocation(spark, s"${n}_meta")
      graft.sources.IO.dropOrphanedLocation(spark, s"${n}_sketch")
    }
    graft.ext.Sketch.writeSketchStore(
      graft.ext.Sketch.hllSketch(toks, Seq("source"), col("tok")),
      "fb_test_onbm_hll", "hll", Map("m" -> "256", "salt" -> "graft:hll"),
      Seq("source"))
    graft.ext.Sketch.writeSketchStore(
      graft.ext.Sketch.bottomKSketch(toks, Seq("source"), col("tok"), 256),
      "fb_test_onbm_bk", "bottomk", Map("k" -> "256", "salt" -> "graft:bk"),
      Seq("source"))
    graft.ext.Sketch.writeSketchStore(
      graft.ext.Sketch.logHistSketch(existing, Seq("source"),
        size(graft.ext.TextStats.tokens(col("text"))), 5),
      "fb_test_onbm_lh", "loghist", Map("subBits" -> "5"), Seq("source"))
    // two feed batches with different profiles (sA-flavored, then alien)
    val b1 = (0 until 6).map(i => (doc("a", i), i))
    val b2 = (0 until 6).map(i => (doc("z", i), 100 + i))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("source"), r.getAs[Double]("est_jaccard"),
        r.getAs[Double]("est_inter"), r.getAs[Double]("p50_new"))
    def batchReport(rows: Seq[(String, Int)]) =
      graft.ext.Sketch.onboardingReport(spark, "fb_test_onbm_hll",
          "fb_test_onbm_bk", "fb_test_onbm_lh",
          rows.toDF("text", "seq"), "text")
        .collect().map(key).toSet
    val got = scala.collection.mutable.Map[Long, Set[(String, Double, Double, Double)]]()
    val stream = MemoryStream[(String, Int)]
    val q = Streaming.onboardingMonitor(
      stream.toDF().toDF("text", "seq"),
      "fb_test_onbm_hll", "fb_test_onbm_bk", "fb_test_onbm_lh", "text",
      onReport = (rep, id) => got(id) = rep.collect().map(key).toSet,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2)
    val Seq(id1, id2) = got.keys.toSeq.sorted
    assert(got(id1) == batchReport(b1), "batch-1 report drifted")
    assert(got(id2) == batchReport(b2), "batch-2 report drifted")
    // and the alarm points the right way: the sA-flavored batch resembles
    // sA, the alien batch resembles nothing
    val jA1 = got(id1).find(_._1 == "sA").get._2
    assert(jA1 > 0.2, s"sA-flavored batch: $jA1")
    assert(got(id2).forall(_._2 < 0.05), got(id2).toString)
  }

  test("retrievalProbe: per-batch store-served BM25 hits equal the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // held corpus: doc 0 contains the rare term; all docs share "common"
    val corpus = Seq(
      (0L, "rare common alpha beta"),
      (1L, "common alpha alpha beta beta gamma"),
      (2L, "common gamma delta"),
      (3L, "common delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    graft.ext.Retrieval.buildPostingsStore(corpus, "doc_id", "text",
      "rtest_stream_store")
    // two arrival batches: one retrieves doc 0 hard ("rare"), one matches
    // nothing under the production df cap (every term universal)
    val b1 = Seq((100L, "rare alpha"))
    val b2 = Seq((200L, "common"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))
    def batchHits(rows: Seq[(Long, String)]) =
      graft.ext.Retrieval.bm25Serve(spark, "rtest_stream_store",
          rows.toDF("id", "text"), "id", "text", topK = 3)
        .collect().map(key).toSet
    val got = scala.collection.mutable.Map[Long, Set[(Long, Long, Double, Int)]]()
    val stream = MemoryStream[(Long, String)]
    val q = Streaming.retrievalProbe(
      stream.toDF().toDF("id", "text"), "rtest_stream_store", "id", "text",
      topK = 3,
      onHits = (hits, id) => got(id) = hits.collect().map(key).toSet,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2)
    val Seq(id1, id2) = got.keys.toSeq.sorted
    assert(got(id1) == batchHits(b1), "batch-1 hits drifted")
    assert(got(id2) == batchHits(b2), "batch-2 hits drifted")
    // the alarm points the right way: the near-verbatim arrival retrieves
    // doc 0 at rank 1; the all-stopword arrival emits nothing
    assert(got(id1).exists(h => h._2 == 0L && h._4 == 1))
    assert(got(id2).isEmpty)
  }

  test("typoDedupProbe: per-batch survivors equal incrementalTypo; twins drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val catalogDf = Seq((1L, "kitten"), (2L, "orange")).toDF("id", "s")
    val cat = graft.ext.Dedup.prepareTypoCatalog(catalogDf, "s", maxDist = 1)
    // batch 1: a deletion twin (drop) + fresh; batch 2: a substitution
    // twin (drop) + a lev-2 transposition (SURVIVES at d=1)
    val b1 = Seq((10L, "kitte"), (11L, "banana"))
    val b2 = Seq((20L, "zitten"), (21L, "iktten"))
    def batchIds(rows: Seq[(Long, String)]) =
      graft.ext.Dedup.incrementalTypo(rows.toDF("id", "s"), catalogDf,
        "id", "s", maxDist = 1).select("id").as[Long].collect().toSet
    val got = scala.collection.mutable.Map[Long, Set[Long]]()
    val stream = MemoryStream[(Long, String)]
    val q = Streaming.typoDedupProbe(
      stream.toDF().toDF("id", "s"), cat, "id", "s",
      onFresh = (fresh, id) =>
        got(id) = fresh.select("id").as[Long](
          org.apache.spark.sql.Encoders.scalaLong).collect().toSet,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2)
    val Seq(id1, id2) = got.keys.toSeq.sorted
    assert(got(id1) == batchIds(b1) && got(id1) == Set(11L))
    assert(got(id2) == batchIds(b2) && got(id2) == Set(21L))
  }

  test("typoDedupProbe: two kill-and-restart cycles over the persisted catalog") {
    // VERDICT r15 #5 + #8: the frozen-catalog probe must survive a
    // kill-and-restart with the catalog reloaded from the persisted store
    // (no rebuild scan of the admitted corpus), and the file-source
    // checkpoint must resume PAST every processed batch. Each cycle is a
    // full stream lifecycle: readTypoCatalog -> AvailableNow run ->
    // terminate ("crash"); survivors join the store via
    // appendToTypoCatalog between batches — the q60 epoch pattern.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_typo_crash")
    val inDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    val store = "graft_spec_typocrash"
    graft.ext.Dedup.writeTypoCatalog(
      graft.ext.Dedup.prepareTypoCatalog(
        Seq("kitten", "orange").toDF("s"), "s", maxDist = 1,
        expectedSeen = Some(1000L)), store)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("s", "string")
    @volatile var got = Vector.empty[Set[Long]]
    def addFile(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "s").coalesce(1).write.mode("append").json(inDir)
    def runCycle(): Unit = {
      val cat = graft.ext.Dedup.readTypoCatalog(spark, store)
      val q = Streaming.typoDedupProbe(
        spark.readStream.schema(schema).json(inDir), cat, "id", "s",
        onFresh = (fresh, _) => {
          got :+= fresh.select("id").collect().map(_.getLong(0)).toSet
          val survivors = fresh.select(col("s")).collect().map(_.getString(0))
          if (survivors.nonEmpty)
            graft.ext.Dedup.appendToTypoCatalog(
              survivors.toSeq.toDF("s"), "s", store)
          ()
        })
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    // cycle 1: a deletion twin of a seed title drops, one fresh survivor
    addFile(Seq((10L, "kitte"), (11L, "banana")))
    runCycle()
    // cycle 2 (after "crash"): "banan" twins the ADMITTED survivor — only
    // a catalog reloaded from the persisted store can know it; "zitten"
    // twins a seed; "cherry" is fresh. Batch 1's file must NOT reprocess.
    addFile(Seq((20L, "banan"), (21L, "zitten"), (22L, "cherry")))
    runCycle()
    // cycle 3: a twin of cycle 2's survivor drops across the SECOND restart
    addFile(Seq((30L, "cherr"), (31L, "mango")))
    runCycle()
    assert(got == Vector(Set(11L), Set(22L), Set(31L)),
      s"per-cycle survivors $got != Vector(Set(11), Set(22), Set(31)) — " +
        "either a processed batch replayed or a persisted append was lost")
  }

  test("vocabCardinality: windowed HLL registers match batch, estimate tracks vocab") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp((86400 + sec) * 1000L)
    // window 1: rich vocab (120 distinct tokens); window 2: collapsed vocab
    // (the alarm case — same doc volume, 12 distinct tokens)
    val rich = (0 until 6).map(i =>
      ((0 until 20).map(j => s"w${i * 20 + j}").mkString(" "), t(i)))
    val poor = (0 until 6).map(i =>
      ((0 until 20).map(j => s"p${j % 12}").mkString(" "), t(60 + i)))
    val stream = MemoryStream[(String, Timestamp)]
    stream.addData(rich ++ poor)
    val sk = Streaming.vocabCardinality(
      stream.toDF().toDF("text", "ts"), "ts", "text",
      watermark = Some("1 minute"), win = "1 minute")
    val q = Streaming.toMemorySink(sk, "vocab_sketch")
    try {
      q.processAllAvailable()
      val streamed = spark.table("vocab_sketch")
        .select(col("window.start").as("w"), col("reg"), col("maxr"))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getInt(2))).toSet
      // batch parity: the SAME register artifact, bit-for-bit
      val batch = graft.ext.Sketch.hllSketch(
          (rich ++ poor).toDF("text", "ts")
            .withColumn("w", window(col("ts"), "1 minute")("start"))
            .withColumn("__toks", graft.ext.TextStats.tokens(col("text")))
            .select(col("w"), explode(col("__toks")).as("tok")),
          Seq("w"), col("tok"))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
      // the estimate over the sink table sees the collapse
      val est = graft.ext.Sketch.hllEstimate(
          spark.table("vocab_sketch").withColumn("w", col("window.start")),
          Seq("w"), 256)
        .collect().map(r => r.getTimestamp(0) -> r.getDouble(2)).toMap
      val Seq(w1, w2) = est.keys.toSeq.sortBy(_.getTime)
      assert(math.abs(est(w1) - 120) / 120 < 0.25, s"rich window: ${est(w1)}")
      assert(math.abs(est(w2) - 12) < 3, s"collapsed window: ${est(w2)}")
      assert(est(w2) < est(w1) / 3)
    } finally q.stop()
  }

  test("tokenFrequency: windowed CMS cells match batch, estimate sees the flood") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp((86400 + sec) * 1000L)
    // window 1: varied text; window 2: a boilerplate flood of 'spamtok'
    val varied = (0 until 5).map(i =>
      ((0 until 12).map(j => s"v${i * 12 + j}").mkString(" "), t(i)))
    val flood = (0 until 5).map(i =>
      (Seq.fill(12)("spamtok").mkString(" "), t(60 + i)))
    val stream = MemoryStream[(String, Timestamp)]
    stream.addData(varied ++ flood)
    val sk = Streaming.tokenFrequency(
      stream.toDF().toDF("text", "ts"), "ts", "text",
      watermark = Some("1 minute"), win = "1 minute")
    val q = Streaming.toMemorySink(sk, "freq_sketch")
    try {
      q.processAllAvailable()
      val streamed = spark.table("freq_sketch")
        .select(col("window.start").as("w"), col("row"), col("cell"), col("c"))
        .collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
      // batch parity: per window slice, the batch cmsSketch artifact must
      // equal the streamed cell rows bit-for-bit
      val batch = Seq(varied, flood).flatMap { slice =>
        val w0 = spark.table("freq_sketch")
          .filter(col("window.start") <= lit(slice.head._2) &&
            lit(slice.head._2) < col("window.end"))
          .select(col("window.start")).head().getTimestamp(0)
        graft.ext.Sketch.cmsSketch(
            slice.toDF("text", "ts")
              .select(explode(graft.ext.TextStats.tokens(col("text"))).as("tok")),
            col("tok"))
          .collect().map(r => (w0, r.getInt(0), r.getInt(1), r.getLong(2)))
      }.toSet
      assert(streamed == batch && streamed.nonEmpty)
      // the estimate over the flood window prices spamtok at its true count
      val Seq(w1, w2) = spark.table("freq_sketch")
        .select(col("window.start")).distinct()
        .collect().map(_.getTimestamp(0)).sortBy(_.getTime).toSeq
      val est = graft.ext.Sketch.cmsEstimate(
          Seq("spamtok").toDF("tok"), "tok",
          spark.table("freq_sketch").filter(col("window.start") === w2)
            .select(col("row"), col("cell"), col("c")))
        .collect().head.getLong(1)
      assert(est >= 60L, s"flood under-counted: $est") // 5 docs x 12 tokens
    } finally q.stop()
  }

  test("lengthQuantiles: windowed buckets match batch, tail shift surfaces") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp((86400 + sec) * 1000L)
    def doc(pfx: String, len: Int) = (0 until len).map(j => s"$pfx$j").mkString(" ")
    // window 1: uniform 16-token docs; window 2: same median but a heavy
    // tail (two 600-token outliers — the truncation-bug alarm case)
    val even = (0 until 8).map(i => (doc("a", 16), t(i)))
    val tail = (0 until 6).map(i => (doc("b", 16), t(60 + i))) ++
      (0 until 2).map(i => (doc("c", 600), t(70 + i)))
    val stream = MemoryStream[(String, Timestamp)]
    stream.addData(even ++ tail)
    val sk = Streaming.lengthQuantiles(
      stream.toDF().toDF("text", "ts"), "ts", "text",
      watermark = Some("1 minute"), win = "1 minute")
    val q = Streaming.toMemorySink(sk, "len_sketch")
    try {
      q.processAllAvailable()
      val streamed = spark.table("len_sketch")
        .select(col("window.start").as("win"), col("lo"), col("w"), col("c"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // batch parity: the SAME bucket artifact, bit-for-bit
      val batch = graft.ext.Sketch.logHistSketch(
          (even ++ tail).toDF("text", "ts")
            .withColumn("win", window(col("ts"), "1 minute")("start")),
          Seq("win"),
          size(graft.ext.TextStats.tokens(coalesce(col("text"), lit("")))))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batch && streamed.nonEmpty)
      // quantiles off the sink rows: p50 steady, p99 jumps with the tail
      val est = graft.ext.Sketch.logHistQuantiles(
          spark.table("len_sketch").withColumn("win", col("window.start")),
          Seq("win"), Seq(0.5, 0.99))
        .collect()
        .map(r => (r.getTimestamp(0), r.getDouble(1)) -> r.getAs[Long]("est_hi"))
        .toMap
      val Seq(w1, w2) = est.keys.map(_._1).toSeq.distinct.sortBy(_.getTime)
      assert(est((w1, 0.5)) == est((w2, 0.5)),
        s"median moved: ${est((w1, 0.5))} vs ${est((w2, 0.5))}")
      assert(est((w1, 0.99)) < 32 && est((w2, 0.99)) >= 600,
        s"tail not surfaced: ${est((w1, 0.99))} vs ${est((w2, 0.99))}")
    } finally q.stop()
  }

  test("sketch store: streamed windows append as shards, equal the batch build") {
    // the operational loop the store exists for: a streaming monitor's
    // per-window sink rows are real sketch shards — fold each window into
    // the persisted store and the store equals one batch build over
    // everything the stream saw (exact sketch algebra, no drift)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp((86400 + sec) * 1000L)
    val w1 = (0 until 5).map(i =>
      ((0 until 15).map(j => s"a${i * 15 + j}").mkString(" "), t(i)))
    val w2 = (0 until 5).map(i =>
      ((0 until 15).map(j => s"b${i * 15 + j}").mkString(" "), t(60 + i)))
    val stream = MemoryStream[(String, Timestamp)]
    stream.addData(w1 ++ w2)
    val sk = Streaming.vocabCardinality(
      stream.toDF().toDF("text", "ts"), "ts", "text",
      watermark = Some("1 minute"), win = "1 minute")
    val q = Streaming.toMemorySink(sk, "store_feed")
    try {
      q.processAllAvailable()
      val sink = spark.table("store_feed")
        .select(col("window.start").as("ws"), col("reg"), col("maxr"))
        .localCheckpoint()
      val Seq(ws1, ws2) = sink.select(col("ws")).distinct()
        .collect().map(_.getTimestamp(0)).sortBy(_.getTime).toSeq
      def shard(ws: Timestamp) =
        sink.filter(col("ws") === ws).select(col("reg"), col("maxr"))
      val params = Map("m" -> "256", "salt" -> "graft:hll")
      graft.sources.IO.dropOrphanedLocation(spark, "fb_test_streamstore_meta")
      graft.sources.IO.dropOrphanedLocation(spark, "fb_test_streamstore_sketch")
      graft.ext.Sketch.writeSketchStore(shard(ws1), "fb_test_streamstore",
        "hll", params) // global vocab: no group columns
      graft.ext.Sketch.appendToSketchStore(shard(ws2), "fb_test_streamstore",
        params)
      val (_, _, stored) = graft.ext.Sketch.readSketchStore(spark,
        "fb_test_streamstore")
      val batch = graft.ext.Sketch.hllSketch(
        (w1 ++ w2).toDF("text", "ts")
          .select(explode(graft.ext.TextStats.tokens(col("text"))).as("tok")),
        Nil, col("tok"))
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getAs[Long]("reg"), r.getAs[Int]("maxr"))).toSet
      assert(rows(stored) == rows(batch) && rows(stored).nonEmpty)
    } finally q.stop()
  }

  test("decontaminateNear: per-batch survivors equal the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base =
      "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val bench = Seq((100L, base + " tail"),
      (101L, "entirely different benchmark question probing arithmetic skills today")
    ).toDF("bid", "btext")
    // batch 1: doc 0 leaks (near-dup of bench 100), doc 3 clean;
    // batch 2: doc 1 leaks (variant of base), doc 4 clean
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((0L, base), (3L, "completely different words describing a data processing engine built on spark")))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val q = Streaming.decontaminateNear(
      stream.toDF().toDF("doc_id", "text"), bench,
      "doc_id", "text", "bid", "btext",
      onClean = (clean, id) => {
        got += ((id, clean.select("doc_id").collect().map(_.getLong(0)).toSet)); ()
      },
      minJaccard = 0.5,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      stream.addData(Seq((1L, base + " extra"), (4L, "yet another unrelated document about window functions and aggregation plans")))
      q.processAllAvailable()
    } finally q.stop()
    val survivors = got.flatMap(_._2).toSet
    // parity with the batch operator over the union of both batches
    val batchKept = graft.ext.Corpus.dropContaminatedNear(
        Seq((0L, base),
          (3L, "completely different words describing a data processing engine built on spark"),
          (1L, base + " extra"),
          (4L, "yet another unrelated document about window functions and aggregation plans"))
          .toDF("doc_id", "text"),
        bench, "doc_id", "text", "bid", "btext", minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == batchKept, s"stream $survivors vs batch $batchKept")
    assert(survivors.contains(3L) && survivors.contains(4L))
    assert(!survivors.contains(0L))
  }

  test("crawlIngest: watermark URL dedup + stateless quality gates online") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp((86400 + sec) * 1000L)
    // same corpus recipe as the batch refinedWebFate spec: 8-word '.'
    // lines + a stop-word-bearing closing sentence pass C4 and Gopher
    def good(seed: Int): String = {
      val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
        "eta", "theta", "iota", "kappa", "lambda", "mu", "omega", "sigma",
        "tau", "phi")
      val toks = (0 until 64).map(w => vocab((seed * 7 + w * 3) % vocab.size))
      toks.grouped(8).map(_.mkString(" ") + ".").mkString("\n") +
        "\nthat is all we have with the data."
    }
    val stream = MemoryStream[(Long, String, String, Timestamp)]
    stream.addData(Seq(
      (1L, "http://ok.com/p1", good(1), t(0)),
      (2L, "https://www.ok.com/p1/", good(2), t(1)), // same canonical page
      (3L, "http://bad.com/x", good(3), t(2)),       // blocked domain
      (4L, "http://ok.com/p4", "too short to pass.", t(3)), // fails C4
      (5L, "http://ok.com/p5", good(5), t(4))))
    val out = Streaming.crawlIngest(
      stream.toDF().toDF("id", "url", "text", "ts"),
      "url", "text", "ts", watermark = "10 seconds",
      blockedDomains = Seq("bad.com"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("crawl_out").start()
    try {
      q.processAllAvailable()
      stream.addData(Seq(
        // canonical repeat of p1 (case + fragment variant) inside the
        // watermark horizon -> suppressed by streaming state
        (6L, "HTTP://OK.com/p1#frag", good(6), t(6)),
        (7L, "http://ok.com/p7", good(7), t(7))))
      q.processAllAvailable()
      val rows = spark.table("crawl_out").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(1L, 5L, 7L))
      // survivors carry C4's CLEANED text (the batch posture): every
      // surviving line ends in terminal punctuation
      assert(rows.forall(_.getString(2).split("\n").forall(_.endsWith("."))))
    } finally q.stop()
  }

  test("tokenPackStream: chunk/span parity with packTokenArrays across two kill-and-restart cycles") {
    // VERDICT r16 #4 — the tokenize-and-pack terminal's streaming sibling:
    // full chunks stream out with globally-numbered ids and doc_spans, the
    // partial tail carries as a remainder buffer, and the concatenation of
    // everything emitted plus the final remainder equals the batch
    // operator on the concatenated input bit-for-bit. Each cycle is a full
    // stream lifecycle (start -> AvailableNow -> terminate = "crash"); the
    // file-source checkpoint must resume past processed batches and the
    // persisted remainder state must survive the restart.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pack_stream")
    val inDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    val state = root.resolve("state").toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long")
      .add("toks", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    @volatile var emitted =
      Vector.empty[(Long, Seq[String], Int, Seq[(Long, Long, Long)])]
    def addFile(rows: Seq[(Long, Seq[String])]): Unit =
      rows.toDF("doc_id", "toks").coalesce(1).write.mode("append").json(inDir)
    def runCycle(): Unit = {
      val q = Streaming.tokenPackStream(
        spark.readStream.schema(schema).json(inDir), "doc_id", "toks",
        capacity = 4, stateDir = state,
        onChunks = (chunks, _) => {
          emitted ++= chunks.orderBy("chunk").collect().map { r =>
            (r.getAs[Long]("chunk"), r.getSeq[String](r.fieldIndex("ids")),
              r.getAs[Int]("n_ids"),
              r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("doc_spans"))
                .map(sp => (sp.getLong(0), sp.getLong(1), sp.getLong(2))))
          }
          ()
        })
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    // cycle 1: 6 tokens -> one full chunk, remainder (doc 2: e f)
    val b1 = Seq((1L, Seq("a", "b", "c")), (2L, Seq("d", "e", "f")))
    addFile(b1); runCycle()
    assert(emitted.map(_._1) == Vector(0L))
    // cycle 2 (after "crash"): remainder + empty doc + 3 tokens -> one
    // full chunk SPANNING the restart (doc 2's tail + doc 4), remainder
    // (doc 5: i). Batch 1's file must not reprocess.
    val b2 = Seq((3L, Seq.empty[String]), (4L, Seq("g", "h")), (5L, Seq("i")))
    addFile(b2); runCycle()
    // cycle 3: remainder + 3 tokens -> an exact-fit full chunk, empty tail
    val b3 = Seq((6L, Seq("j", "k", "l")))
    addFile(b3); runCycle()
    // parity: the batch operator on the concatenated input
    val batch = graft.ext.Corpus.packTokenArrays(
        (b1 ++ b2 ++ b3).toDF("doc_id", "toks"), "doc_id", "toks",
        capacity = 4)
      .orderBy("chunk").collect().map { r =>
        (r.getAs[Long]("chunk"), r.getSeq[String](r.fieldIndex("ids")),
          r.getAs[Int]("n_ids"),
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("doc_spans"))
            .map(sp => (sp.getLong(0), sp.getLong(1), sp.getLong(2))))
      }.toVector
    assert(emitted == batch,
      s"streamed chunks/spans drifted from the batch layout:\n$emitted\n$batch")
    assert(emitted.map(_._4) == Vector(
      Seq((1L, 0L, 3L), (2L, 3L, 1L)),
      Seq((2L, 0L, 2L), (4L, 2L, 2L)),   // doc 2's tail crossed the restart
      Seq((5L, 0L, 1L), (6L, 1L, 3L))))
    // the final remainder is EMPTY (12 tokens = 3 exact chunks) and the
    // chunk counter survived both restarts
    assert(Streaming.packStreamRemainder(spark, state).get.count() == 0L)
    assert(Streaming.packStreamChunkCount(spark, state) == 3L)
  }

  test("tokenPackStream: non-exact tail stays in the remainder, never emits early") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pack_tail")
    val inDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    val state = root.resolve("state").toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long")
      .add("toks", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    @volatile var n = 0
    // cold start: no batch applied yet -> no state, not a fabricated schema
    assert(Streaming.packStreamRemainder(spark, state).isEmpty)
    Seq((1L, Seq("a", "b", "c", "d", "e", "f", "g")))
      .toDF("doc_id", "toks").coalesce(1).write.mode("append").json(inDir)
    val q = Streaming.tokenPackStream(
      spark.readStream.schema(schema).json(inDir), "doc_id", "toks",
      capacity = 4, stateDir = state,
      onChunks = (chunks, _) => { n += chunks.collect().length; () })
      .option("checkpointLocation", ckpt).start()
    q.awaitTermination()
    assert(n == 1) // 7 tokens -> one full chunk; 3 carried, not emitted
    val rem = Streaming.packStreamRemainder(spark, state).get
      .orderBy("seg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2))).toSeq
    assert(rem == Seq((0L, 1L, Seq("e", "f", "g"))))
    assert(Streaming.packStreamChunkCount(spark, state) == 1L)
  }

  test("tokenPackStream: replaying a batch id reproduces byte-identical chunks and state") {
    // the crash window the design documents: a batch delivered but whose
    // state write was lost is REPLAYED by the checkpoint with the same
    // batchId — it must reload state N-1 and reproduce the identical
    // output (at-least-once delivery of idempotent content), and the
    // state rewrite must be a no-op overwrite
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft_pack_replay")
      .resolve("st").toString
    def chunksOf(rows: Seq[(Long, Seq[String])], id: Long) = {
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Seq[String], Seq[(Long, Long, Long)])]
      Streaming.packOneBatch(rows.toDF("doc_id", "toks"), id, "doc_id",
        "toks", capacity = 4, state,
        onChunks = (c, _) => {
          got ++= c.orderBy("chunk").collect().map { r =>
            (r.getAs[Long]("chunk"), r.getSeq[String](r.fieldIndex("ids")),
              r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("doc_spans"))
                .map(sp => (sp.getLong(0), sp.getLong(1), sp.getLong(2))))
          }
          ()
        })
      got.toVector
    }
    def remState() = (Streaming.packStreamChunkCount(spark, state),
      Streaming.packStreamRemainder(spark, state).get.orderBy("seg").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2))).toSeq)
    val b0 = Seq((1L, Seq("a", "b", "c")), (2L, Seq("d", "e")))
    val b1 = Seq((3L, Seq("f", "g", "h", "i", "j")))
    val first0 = chunksOf(b0, 0L)
    val st0 = remState()
    // batch 1 applies, then REPLAYS with the same id (post-crash rerun)
    val first1 = chunksOf(b1, 1L)
    val st1 = remState()
    val replay1 = chunksOf(b1, 1L)
    assert(replay1 == first1,
      "a replayed batch must reproduce byte-identical chunks")
    assert(remState() == st1, "replay must leave the state unchanged")
    // and a replay of batch 0 AFTER batch 1 applied (out-of-order rerun
    // can't happen under Structured Streaming, but the state files must
    // still resolve by id, not by recency): loads the cold state
    val replay0 = chunksOf(b0, 0L)
    assert(replay0 == first0)
    val _ = st0
  }

  test("packOneBatch: non-contiguous batch ids keep the previous applied state (ADVICE r17)") {
    // empty micro-batches are SKIPPED while batchId advances, so the
    // previous applied state can be batch N-k (k >= 2). The old
    // "id <= batchId - 2" prune deleted it as batch N committed; a
    // replay of N then cold-started — chunk ids renumbered from 0 and
    // the carried remainder vanished. Rank-based pruning (keep the two
    // newest applied ids) must make the replay byte-identical instead.
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft_pack_gap")
      .resolve("st").toString
    def apply(rows: Seq[(Long, Seq[String])], id: Long) = {
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Seq[String])]
      Streaming.packOneBatch(rows.toDF("doc_id", "toks"), id, "doc_id",
        "toks", capacity = 4, state,
        onChunks = (c, _) => {
          got ++= c.orderBy("chunk").collect().map { r =>
            (r.getAs[Long]("chunk"), r.getSeq[String](r.fieldIndex("ids")))
          }
          ()
        })
      got.toVector
    }
    // batch 0 applies (1 full chunk + remainder), then batches 1-4 are
    // empty (skipped by the foreachBatch guard — never applied), then
    // batch 5 applies and prunes
    val b0 = Seq((1L, Seq("a", "b", "c", "d", "e")))
    val b5 = Seq((2L, Seq("f", "g", "h")))
    apply(b0, 0L)
    val first5 = apply(b5, 5L)
    // the previous applied state (batch 0) must SURVIVE batch 5's prune
    // so a crash-replay of batch 5 reloads it instead of cold-starting
    val replay5 = apply(b5, 5L)
    assert(replay5 == first5,
      s"replay after a batch-id gap cold-started: $replay5 vs $first5")
    assert(replay5.head._1 == 1L,
      "chunk numbering must continue from batch 0's count, not restart at 0")
    assert(Streaming.packStreamChunkCount(spark, state) == 2L)
  }

  test("tokenPackStreamToPath: on-disk shards equal the batch operator across two kill-and-restart cycles, no dupes (VERDICT r17 #2)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pack_sink")
    val inDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    val state = root.resolve("state").toString
    val outPath = root.resolve("shards").toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long")
      .add("toks", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    def addFile(rows: Seq[(Long, Seq[String])]): Unit =
      rows.toDF("doc_id", "toks").coalesce(1).write.mode("append").json(inDir)
    def runCycle(): Unit = {
      val q = Streaming.tokenPackStreamToPath(
        spark.readStream.schema(schema).json(inDir), "doc_id", "toks",
        capacity = 4, stateDir = state, outPath = outPath)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    val b1 = Seq((1L, Seq("a", "b", "c")), (2L, Seq("d", "e", "f")))
    val b2 = Seq((3L, Seq("g", "h")), (4L, Seq("i", "j", "k", "l")))
    addFile(b1); runCycle() // cycle 1, then "crash"
    addFile(b2); runCycle() // cycle 2 resumes past batch 0
    def readShards() = spark.read.parquet(outPath)
      .orderBy("chunk").collect().map { r =>
        (r.getAs[Long]("chunk"), r.getSeq[String](r.fieldIndex("ids")),
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("doc_spans"))
            .map(sp => (sp.getLong(0), sp.getLong(1), sp.getLong(2))))
      }.toVector
    val batch = graft.ext.Corpus.packTokenArrays(
        (b1 ++ b2).toDF("doc_id", "toks"), "doc_id", "toks", capacity = 4)
      .filter(col("n_ids") === 4)
      .orderBy("chunk").collect().map { r =>
        (r.getAs[Long]("chunk"), r.getSeq[String](r.fieldIndex("ids")),
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("doc_spans"))
            .map(sp => (sp.getLong(0), sp.getLong(1), sp.getLong(2))))
      }.toVector
    val got = readShards()
    assert(got == batch,
      s"shards on disk drifted from the batch operator:\n$got\n$batch")
    assert(got.map(_._1).distinct.size == got.size, "duplicate chunk ids")
    // a crash-REPLAY of the last batch overwrites its own shard dir
    // idempotently: same chunk ids, same bytes, still no dupes
    Streaming.packOneBatch(b2.toDF("doc_id", "toks"), 1L, "doc_id", "toks",
      capacity = 4, state,
      onChunks = (chunks, batchId) => chunks.write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$outPath/batch_id=$batchId"))
    assert(readShards() == batch, "replayed shard write was not idempotent")
  }

  test("flushPackRemainderToPath: shards plus flush equal the batch operator including the partial tail (VERDICT r18 #8)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pack_flush")
    val inDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    val state = root.resolve("state").toString
    val outPath = root.resolve("shards").toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long")
      .add("toks", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    def addFile(rows: Seq[(Long, Seq[String])]): Unit =
      rows.toDF("doc_id", "toks").coalesce(1).write.mode("append").json(inDir)
    def runCycle(): Unit = {
      val q = Streaming.tokenPackStreamToPath(
        spark.readStream.schema(schema).json(inDir), "doc_id", "toks",
        capacity = 4, stateDir = state, outPath = outPath)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    // 7 tokens at capacity 4: one full chunk, then a 3-token tail that
    // SPANS docs 3 and 4 — the flush must rebuild the multi-doc spans
    val b1 = Seq((1L, Seq("a", "b", "c")))
    val b2 = Seq((3L, Seq("g", "h")), (4L, Seq("i", "j")))
    addFile(b1); runCycle()
    addFile(b2); runCycle()
    // cold-state flush on a fresh dir: nothing to write, no crash
    assert(Streaming.flushPackRemainderToPath(spark,
      root.resolve("nostate").toString, outPath + "_none") == 0L)
    assert(Streaming.flushPackRemainderToPath(spark, state, outPath) == 1L)
    def readAll() = spark.read.parquet(outPath)
      .orderBy("chunk").collect().map { r =>
        (r.getAs[Long]("chunk"), r.getSeq[String](r.fieldIndex("ids")),
          r.getAs[Int]("n_ids"),
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("doc_spans"))
            .map(sp => (sp.getLong(0), sp.getLong(1), sp.getLong(2))))
      }.toVector
    val batch = graft.ext.Corpus.packTokenArrays(
        (b1 ++ b2).toDF("doc_id", "toks"), "doc_id", "toks", capacity = 4)
      .orderBy("chunk").collect().map { r =>
        (r.getAs[Long]("chunk"), r.getSeq[String](r.fieldIndex("ids")),
          r.getAs[Int]("n_ids"),
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("doc_spans"))
            .map(sp => (sp.getLong(0), sp.getLong(1), sp.getLong(2))))
      }.toVector
    val got = readAll()
    assert(got == batch,
      s"shards ∪ flush drifted from the batch operator:\n$got\n$batch")
    // the tail chunk spans both docs with contiguous offsets
    assert(got.last._4.map(_._1) == Seq(3L, 4L))
    // idempotent: a re-flush overwrites its own directory, no dupes
    assert(Streaming.flushPackRemainderToPath(spark, state, outPath) == 1L)
    assert(readAll() == batch, "re-flush was not idempotent")
  }
}

