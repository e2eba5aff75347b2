package graft

import org.apache.spark.CheckpointDirs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext._

/** Extension operators: dedup recall/precision, similarity search, text
  * analysis, multimodal plumbing. Signature-based ops (MinHash, SimHash,
  * hyperplane LSH) are validated against exact ground truth computed on the
  * same data — the check the DuckDB oracle cannot express.
  */
class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  private def corpus = Seq(
    (0L, base),
    (1L, base + " extra"), // near-dup of 0
    (2L, base.replace("quick", "slow")), // near-dup of 0
    (3L, "completely different words describing a data processing engine built on spark"),
    (4L, "yet another unrelated document about window functions and aggregation plans")
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace variants and keeps the min id") {
    val df = Seq(
      (10L, "Hello  World"), (11L, "hello world"), (12L, "HELLO\tWORLD"),
      (13L, "something else")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
    val m = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(10L -> 3L, 13L -> 1L))
  }

  test("incrementalExact equals the plain anti-join at any fpp (bloom is perf-only)") {
    val seen = Seq(
      (0L, "alpha beta gamma delta"), (1L, "epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "ALPHA  BETA gamma delta"), // seen modulo normalization
      (11L, "iota kappa lambda mu"),    // seen verbatim
      (12L, "nu xi omicron pi")         // fresh
    ).toDF("doc_id", "text")
    // a deliberately terrible fpp floods the confirm join with false
    // positives; the result must not change
    for (fpp <- Seq(0.01, 0.5)) {
      val kept = Dedup.incrementalExact(arrivals, seen, "doc_id", "text",
          expectedSeen = Some(100L), fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(12L), s"fpp=$fpp kept $kept")
    }
    // with a checkpoint dir set (the cluster-mode path) the cuts are
    // reliable checkpoints under it, and the result is the same
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-inc").toString
    val rel = CheckpointDirs.withCheckpointDir(ckptDir) {
      Dedup.incrementalExact(arrivals, seen, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(rel == Set(12L), s"reliable checkpoints kept $rel")
    assert(CheckpointDirs.files(ckptDir).nonEmpty, "no checkpoint files under the dir")
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "checkpoint dir leaked")
    // empty history: everything is fresh
    val all = Dedup.incrementalExact(arrivals, seen.limit(0), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(all == Set(10L, 11L, 12L))
  }

  test("incrementalNear drops signature-equal arrivals that exact dedup keeps") {
    val seen = Seq(
      (0L, "alpha beta gamma delta"), (1L, "epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "alpha beta gamma delta alpha"), // token repeat: same k=1 set
      (11L, "beta alpha delta gamma"),       // reorder: same k=1 set
      (12L, "nu xi omicron pi")              // fresh token set
    ).toDF("doc_id", "text")
    // bloom is perf-only here too: a terrible fpp must not change the result
    for (fpp <- Seq(0.01, 0.5)) {
      val kept = Dedup.incrementalNear(arrivals, seen, "doc_id", "text",
          k = 1, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(12L), s"fpp=$fpp kept $kept")
    }
    // the same arrivals pass EXACT ingestion dedup untouched — their
    // fingerprints all differ; this operator exists for exactly that gap
    val exactKept = Dedup.incrementalExact(arrivals, seen, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactKept == Set(10L, 11L, 12L))
    // empty history: everything is fresh (exercises the sentinel-only
    // filter and the max(1, count) capacity clamp)
    val all = Dedup.incrementalNear(arrivals, seen.limit(0), "doc_id", "text",
        k = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(all == Set(10L, 11L, 12L))
  }

  test("incrementalNear maxDist=3 drops planted 1-3-bit-flip signatures at any fpp") {
    // plant EXACT bit flips by driving the signature-space core directly:
    // seen signatures are fixed longs; arrivals flip 1, 2, 3 bits (must
    // drop at maxDist=3), 4 bits spread across all four 16-bit blocks
    // (must survive — also defeats the pigeonhole candidate join), and one
    // is wholly unrelated
    val sig0 = 0x123456789ABCDEF0L
    val sig1 = 0x0F0F0F0F0F0F0F0FL
    val seenSig = Seq(sig0, sig1).toDF("__sig")
    def flip(s: Long, bits: Int*) = bits.foldLeft(s)((a, b) => a ^ (1L << b))
    val arrivals = Seq(
      (1L, flip(sig0, 5)),              // Hamming 1
      (2L, flip(sig0, 3, 40)),          // Hamming 2
      (3L, flip(sig1, 0, 17, 63)),      // Hamming 3, one flip per block but one
      (4L, flip(sig0, 2, 18, 34, 50)),  // Hamming 4, every block differs
      (5L, 0x7777777777777777L ^ sig1)  // far away
    ).toDF("id", "simhash")
    for (fpp <- Seq(0.01, 0.5)) {
      val dropped = Dedup.nearSeenIds(arrivals, seenSig, maxDist = 3,
          expectedSeen = None, fpp = fpp)
        .collect().map(_.getLong(0)).toSet
      assert(dropped == Set(1L, 2L, 3L), s"fpp=$fpp dropped $dropped")
    }
    // at maxDist=2 the 3-flip arrival survives too
    val d2 = Dedup.nearSeenIds(arrivals, seenSig, maxDist = 2, None, 0.01)
      .collect().map(_.getLong(0)).toSet
    assert(d2 == Set(1L, 2L))
  }

  test("incrementalNear maxDist=3 end-to-end matches the brute Hamming join") {
    // small real edits: one appended novel token flips the k=1 bit balances
    // sitting at 0/1 — the scope q64's equality path misses
    val seen = (0L until 40L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i common words here")
    ).toDF("doc_id", "text")
    val arrivals = (0L until 40L).map(i =>
      (100L + i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i common words here zedit")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalNear(arrivals, seen, "doc_id", "text",
        k = 1, maxDist = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // ground truth: brute-force min Hamming distance over all (arrival,
    // seen) signature pairs — the cross join the operator must never run
    val aSig = Dedup.simhash(arrivals, "doc_id", "text", k = 1)
    val sSig = Dedup.simhash(seen, "doc_id", "text", k = 1)
    val expectKept = aSig.as("a").crossJoin(sSig.as("b"))
      .groupBy(col("a.id"))
      .agg(min(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))).as("d"))
      .filter(col("d") > 3).collect().map(_.getLong(0)).toSet
    assert(kept == expectKept)
    // the fixture must actually exercise the 1-3 band (not all 0 / all >3),
    // or this test would pass vacuously
    assert(kept.size < 40, "no arrival landed within Hamming 3")
    val h0 = aSig.as("a").crossJoin(sSig.as("b"))
      .filter(col("a.simhash") === col("b.simhash")).count()
    assert(h0 == 0, "edits collapsed to Hamming 0 — fixture too weak")
  }

  test("incrementalExact bloom capacity auto-sizes from the history count") {
    // a history 50× larger than an undersized explicit capacity: the
    // auto-sized filter must stay near the requested fpp, while the
    // undersized one saturates (its achieved fpp is the prefilter benefit
    // silently disappearing — the confirm join degenerating to a full
    // history join at scale)
    val seenFp = spark.range(50000)
      .select(concat(lit("fp_"), col("id")).as("__fp"))
    val auto = Dedup.buildSeenBloom(seenFp, None, fpp = 0.01)
    assert(auto.expectedFpp() < 0.02,
      s"auto-sized filter saturated: achieved fpp ${auto.expectedFpp()}")
    val undersized = Dedup.buildSeenBloom(seenFp, Some(1000L), fpp = 0.01)
    assert(undersized.expectedFpp() > 0.5,
      s"expected the 50×-overfull filter to saturate, got ${undersized.expectedFpp()}")
  }

  test("ngram Jaccard finds the planted near-dups and nothing else") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("MinHash-LSH recalls exactly the pairs the exact Jaccard join finds") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDedupPairs(corpus, "doc_id", "text", minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("ngram Jaccard: active default cap is a no-op when every df is below it") {
    val none = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", minJaccard = 0.3,
        maxDocFreq = None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == none) // fixture dfs are all < DefaultMaxDocFreq
  }

  test("ngram Jaccard: a binding cap drops stop-grams from the similarity space") {
    // repeat one shingle across every doc: with cap=1 those postings vanish
    val noisy = corpus.withColumn("text",
      concat(col("text"), lit(" common boiler plate text")))
    val capped = Dedup.ngramJaccardPairs(noisy, "doc_id", "text", minJaccard = 0.95,
      maxDocFreq = Some(1))
    // shared boilerplate alone can no longer make unrelated docs similar
    assert(!capped.collect().exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("binding cap: J is computed over the FILTERED shingle space (documented asymmetric-J semantics)") {
    import spark.implicits._
    // "alpha beta gamma delta" occurs in all 3 docs (df=3); with cap=2 it is
    // dropped from intersection AND set sizes, so J(0,1) = 1/2 over the
    // filtered space, vs 2/3 unfiltered — the value itself must bind.
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta other words entirely")
    ).toDF("doc_id", "text")
    def j(maxDf: Option[Int]): Map[(Long, Long), Double] =
      Dedup.ngramJaccardPairs(df, "doc_id", "text", minJaccard = 0.4, maxDocFreq = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(j(None)((0L, 1L)) - 2.0 / 3.0) < 1e-12)
    assert(j(Some(2))((0L, 1L)) == 0.5)
  }

  test("MinHash band-bucket cap binds: degenerate buckets dropped, small buckets survive") {
    // 60 identical docs collapse to one signature (every band bucket holds
    // all 60 — the F² degenerate case); one near-dup pair on unrelated text
    // keeps buckets of size 2
    val clones = (100L until 160L).map(i => (i, "all these documents carry the very same boilerplate text"))
    val pair = Seq(
      (0L, base + " trailing marker one two three"),
      (1L, base + " trailing marker one two four"))
    val df = (clones ++ pair).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = ids(Dedup.lshCandidates(sigs, maxBucketSize = None))
    val capped = ids(Dedup.lshCandidates(sigs, maxBucketSize = Some(30)))
    assert(uncapped.contains((0L, 1L)) && uncapped.exists(_._1 >= 100L))
    assert(capped.contains((0L, 1L)) && !capped.exists(_._1 >= 100L))
  }

  test("nearDupClusters: chains collapse to one component labeled by the min id") {
    import spark.implicits._
    // two components: a chain 1-2-3-4 (tests label propagation over >1 hop)
    // and an isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // with a checkpoint dir set, the per-round cuts are reliable
    // (fault-tolerant) checkpoints under it and the clusters are identical
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val reliable = CheckpointDirs.withCheckpointDir(dir) {
      Dedup.nearDupClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(reliable == got)
    assert(CheckpointDirs.files(dir).nonEmpty, "no checkpoint files under the dir")
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "checkpoint dir leaked")
  }

  test("removeNearDups keeps one representative per cluster and all singletons") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", minJaccard = 0.3)
    val kept = Dedup.removeNearDups(corpus, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 0/1/2 are a near-dup cluster -> only min id 0 survives; 3 and 4
    // are singletons and pass through
    assert(kept == Set(0L, 3L, 4L))
  }

  test("MinHash signatures come back as one 128-slot array per doc") {
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text").collect()
    assert(sigs.length == 5)
    assert(sigs.forall(_.getSeq[Long](1).length == 128))
    // deterministic: same input, same signature
    val again = Dedup.minhashSignatures(corpus, "doc_id", "text").collect()
    assert(sigs.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap ==
      again.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap)
  }

  test("SimHash md5 hasher: identical docs collide, near-dups stay near") {
    val df = Seq((0L, base), (1L, base), (2L, base + " extra"),
      (3L, "completely different words about benchmark suites and shuffle io"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, "doc_id", "text", hasher = Dedup.Hasher.Md5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) > 10)
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3,
        hasher = Dedup.Hasher.Md5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((0L, 1L)) == 0)
  }

  test("SimHash: identical docs at distance 0, near-dups within 3, unrelated far") {
    val df = Seq((0L, base), (1L, base), (2L, base + " extra"),
      (3L, "completely different words about benchmark suites and shuffle io"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) > 10)
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((0L, 1L)) == 0)
  }

  test("language ID picks the language with the most stopword hits") {
    val df = Seq(
      (0L, "the cat is on the mat and the dog is in the house"),
      (1L, "der hund ist ein tier und die katze ist nicht gross"),
      (2L, "le chat est dans la maison et les enfants sont pour une promenade")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextStats.langId(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(0L -> "en", 1L -> "de", 2L -> "fr"))
  }

  test("quality score components and token stats") {
    val short = "tiny text"
    val good = ("the data " * 20).trim // 40 tokens, has stopwords, no punct
    val out = TextStats.analyze(Seq((0L, short), (1L, good)).toDF("doc_id", "text"), "text")
      .select("doc_id", "token_count", "quality").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(out(0L)._1 == 2)
    assert(out(1L)._1 == 40)
    assert(out(1L)._2 == 1.0) // all three components
    assert(out(0L)._2 == 0.2) // only punct-sanity (no stopword 'the'? 'tiny text' has none, too short)
  }

  test("rolling hash is deterministic and whitespace-normalizing") {
    val df = Seq((0L, "a  b\tc"), (1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextStats.rollingHash(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == out(1L))
    assert(out(1L) != out(2L))
    // pin the exact fold so the DuckDB oracle mirror (q30) stays bindable:
    // left fold of (h*131 + codepoint) mod 2^31-1 over "hello world"
    val hw = Seq((0L, "hello world")).toDF("doc_id", "text")
      .select(TextStats.rollingHash(col("text"))).head().getLong(0)
    assert(hw == 1031902938L)
  }

  test("brute-force ANN ranks an identical vector first") {
    val vs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 0.01f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)), (3L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.annTopK(vs, vs.filter(col("vec_id") === 0), "vec_id",
      "embedding", topK = 2).collect()
    assert(out.head.getLong(1) == 1L && out.head.getInt(3) == 1)
  }

  test("hyperplane-LSH ANN achieves reasonable recall@5 vs brute force on real embeddings") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.annTopK(e, q, "vec_id", "embedding", 5))
    val lsh = pairs(Similarity.annLshTopK(e, q, "vec_id", "embedding", 5))
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall@5 = $recall") // buckets prune hard; sanity floor
    assert(lsh.nonEmpty)
  }

  test("blocked exact cosine join equals the brute-force join on real embeddings") {
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = set(Similarity.cosinePairs(e, "vec_id", "embedding", 0.4))
    val blocked = set(Similarity.cosinePairsBlocked(e, "vec_id", "embedding", 0.4))
    assert(blocked == brute)
    assert(brute.nonEmpty)
  }

  test("LSH cosine pairs: recall-mode params match brute force at a permissive threshold") {
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = set(Similarity.cosinePairs(e, "vec_id", "embedding", 0.4))
    val lsh = set(Similarity.cosineLshPairs(e, "vec_id", "embedding", 0.4,
      bits = 48, bands = 24))
    assert(lsh == brute) // r=2, b=24: per-pair miss < 6e-6 at cos 0.4
  }

  /** Declarative (higher-order-function) formulation of
    * [[Similarity.lshSignature]], bit-identical by construction: the
    * executable specification of the codegen'd expression. Vectors are
    * quantized to floor(x * 10^6) per component and plane (p, d) has the
    * integer component `(p * 1000003 + d) * 2654435761 % 2000003 - 1000001`
    * (a multiplicative-hash LCG, computable in ANSI SQL), so every
    * projection is an exact integer sum, order-independent across engines;
    * magnitudes stay far below 2^63 (|x|·10^6 ≲ 10^7, times 10^6, times 64
    * dims ≈ 10^15). */
  private def lshSignatureDeclarative(v: org.apache.spark.sql.Column,
                                      bits: Int): org.apache.spark.sql.Column = {
    val qv = transform(v, x => floor(x.cast("double") * 1000000.0))
    def planeComponent(p: Int, d: org.apache.spark.sql.Column) =
      (lit(p.toLong) * 1000003L + d) * 2654435761L % 2000003L - 1000001L
    val proj = (p: Int) =>
      aggregate(zip_with(qv, sequence(lit(0), size(v) - 1),
          (x, i) => x * planeComponent(p, i)),
        lit(0L), (acc, x) => acc + x)
    (0 until bits).map(p => when(proj(p) >= 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  test("codegen'd LSH signature equals its declarative specification") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    for (bits <- Seq(16, 48, 64)) {
      val mismatches = e.select(
          Similarity.lshSignature(col("embedding"), bits).as("fast"),
          lshSignatureDeclarative(col("embedding"), bits).as("spec"))
        .filter(col("fast") =!= col("spec")).count()
      assert(mismatches == 0, s"bits=$bits")
    }
    // multi-word composition: word w of a wide signature uses plane indexes
    // [64w, 64w+64), so word 0 IS the 64-bit signature and word 1 equals a
    // fresh signature offset by 64 planes (distinct from word 0)
    val words = e.select(
      graft.funcs.VectorFunctions.lshSig(col("embedding"), 64).as("w0"),
      graft.funcs.VectorFunctions.lshSig(col("embedding"), 64, 0).as("w0b"),
      graft.funcs.VectorFunctions.lshSig(col("embedding"), 64, 64).as("w1"))
    assert(words.filter(col("w0") =!= col("w0b")).count() == 0)
    assert(words.filter(col("w0") === col("w1")).count() < words.count())
  }

  test("LSH cosine pairs: auto-sized default recovers every planted pair at two corpus sizes") {
    // the bare-default call now AUTO-sizes the signature from the corpus
    // count; recall vs brute force must hold at both tested sizes
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = Tables.read(spark, s"/root/testdata/$sf", "embeddings")
      val corpus = Similarity.plantNearDups(e, "vec_id", "embedding",
        offset = 1000000L, scale = 0.01)
      def set(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = set(Similarity.cosinePairs(corpus, "vec_id", "embedding", 0.95))
      val lsh = set(Similarity.cosineLshPairs(corpus, "vec_id", "embedding", 0.95))
      assert(lsh == brute, s"$sf")
      val n = e.count()
      assert(brute.size == n) // exactly one planted pair per original vector
      assert(brute.forall { case (id1, id2, cos) =>
        id2 == id1 + 1000000L && cos > 0.99
      })
    }
  }

  test("auto signature width grows with corpus size and bounds the collision term") {
    val w10 = Similarity.autoSignatureBits(10)
    val w1k = Similarity.autoSignatureBits(1000)
    val w1m = Similarity.autoSignatureBits(1000000)
    assert(w10 < w1k && w1k < w1m, s"widths $w10/$w1k/$w1m must grow with n")
    // floor step: tiny corpora keep the narrow default
    assert(w10 == 8 * 8)
    // ceiling step: r never exceeds 32 (recall has to survive too; r must
    // also divide 64 so bands never straddle signature words)
    assert(Similarity.autoSignatureBits(Long.MaxValue / 4) == 32 * 8)
    // the chosen r satisfies the budget: n²·b·2⁻ʳ ≤ n (within the steps)
    for (n <- Seq(10000L, 1000000L)) {
      val r = Similarity.autoSignatureBits(n) / 8
      assert(n.toDouble * n * 8 * math.pow(2, -r) <= n.toDouble)
    }
  }

  test("centered LSH pairs on correlated embeddings match brute force end-to-end") {
    // byte-bigram embeddings of same-corpus text are heavily correlated
    // (median background cosine ≈ 0.78) — the regime center=true exists for;
    // same pipeline and parameters as q46
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val media = Multimodal.withFakeMedia(docs, "doc_id", "text")
      .as[Multimodal.MediaRow]
    val emb = Multimodal.embed(media).toDF()
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = set(Similarity.cosinePairs(emb, "id", "embedding", 0.99))
    val lsh = set(Similarity.cosineLshPairs(emb, "id", "embedding", 0.99,
      bits = 512, bands = 32, center = true))
    assert(brute.nonEmpty)
    assert(lsh == brute) // recall 1.0 AND identical cosines (raw-vector re-rank)
  }

  test("centered LSH ANN finds the same near-dup top-1 as brute force on correlated embeddings") {
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val media = Multimodal.withFakeMedia(docs, "doc_id", "text")
      .as[Multimodal.MediaRow]
    val emb = Multimodal.embed(media).toDF()
    val queries = emb.filter(col("id") < 100)
    def top1(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rank") === 1).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val brute = top1(Similarity.annTopK(emb, queries, "id", "embedding", topK = 1))
    val lsh = top1(Similarity.annLshTopK(emb, queries, "id", "embedding",
      topK = 1, bits = 512, bands = 32, center = true))
    // queries with a genuine near-dup (cos >= 0.99): the centered banding
    // must surface it — identical (neighbor, cosine) to brute force
    val nearDupQueries = brute.filter { case (_, (_, cos)) => cos >= 0.99 }
    assert(nearDupQueries.nonEmpty)
    nearDupQueries.foreach { case (qid, expected) =>
      assert(lsh.get(qid).contains(expected), s"query $qid")
    }
  }

  test("plan shape: signature words are projected once per side, never re-evaluated per band") {
    // regression guard for the r4 q46 fix: with 32 bands referencing 8
    // signature words, inlining the expression into the generator's array
    // evaluates it 32x per row (generators have no CSE). The optimized plan
    // must contain exactly nWords occurrences per plan branch that computes
    // signatures — NOT bands-many.
    // target annLshTopK: same banding machinery as cosineLshPairs, but its
    // plan is end-to-end lazy — the pair terminal now materializes its
    // banded rows (OPT r19), which hides the signature expressions from a
    // post-hoc plan scrape without weakening the property this test guards
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val df = Similarity.annLshTopK(e, e.filter(col("vec_id") < 3),
      "vec_id", "embedding", topK = 3, bits = 512, bands = 32, center = true)
    val plan = df.queryExecution.optimizedPlan.toString
    val sigCount = "lshsignaturefloat".r.findAllIn(plan.toLowerCase).length
    // 8 words x 2 self-join sides = 16 today; an UPPER bound (not exact
    // equality) so optimizer-rule changes that legitimately merge projections
    // don't break the guard — it exists to catch the 64-evaluation
    // (per-band re-evaluation) regression, which any >16 count reveals
    assert(sigCount > 0 && sigCount <= 16,
      s"expected 1..16 signature evaluations in plan (64 = per-band regression), found $sigCount")
  }

  test("plan shape: cosineLshPairs band rows keep the once-per-word signature projection") {
    // cosineLshPairs materializes its band rows, which hides them from a
    // post-hoc plan scrape of the operator's output; scrape the lazy plan
    // it materializes instead — same 1..16 bound as the annLshTopK guard
    // (8 words once each; 32 would be the per-band re-evaluation regression)
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val df = Similarity.bandedIds(Similarity.prepared(e, "vec_id", "embedding"),
      "id", "v", bits = 512, bands = 32, mix = true, thresholds = Nil)
    val plan = df.queryExecution.optimizedPlan.toString
    val sigCount = "lshsignaturefloat".r.findAllIn(plan.toLowerCase).length
    assert(sigCount > 0 && sigCount <= 16,
      s"expected 1..16 signature evaluations in cosineLshPairs's lazy plan, found $sigCount")
  }

  test("single-word band layouts need no 64-alignment (bits=48, bands=4 -> rows=12)") {
    // regression guard: the multi-word alignment constraint (64 % rows == 0)
    // must not reject single-word layouts the original top-k path accepted
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val out = Similarity.annLshTopK(e, q, "vec_id", "embedding", topK = 3,
      bits = 48, bands = 4)
    assert(out.collect().nonEmpty)
    intercept[IllegalArgumentException] { // multi-word still enforces alignment
      Similarity.cosineLshPairs(e, "vec_id", "embedding", 0.9,
        bits = 96, bands = 8) // rows=12 straddles the 64-bit word boundary
    }
  }

  test("LSH bucket cap binds: degenerate buckets are dropped, small buckets survive") {
    // 60 identical vectors (every band bucket holds all 60 — degenerate) plus
    // one near-dup pair on an unrelated direction (buckets of size 2)
    val dims = 8
    val clone = Array.tabulate(dims)(d => if (d == 0) 1f else 0f)
    val a = Array.tabulate(dims)(d => if (d == dims - 1) 1f else 0.01f * d)
    val b = a.clone(); b(1) = a(1) + 0.001f
    val rows = (100L until 160L).map(i => (i, clone)) ++ Seq((0L, a), (1L, b))
    val df = rows.toDF("id", "v")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = ids(Similarity.cosineLshPairs(df, "id", "v", 0.99,
      maxBucketSize = None))
    val capped = ids(Similarity.cosineLshPairs(df, "id", "v", 0.99,
      maxBucketSize = Some(30)))
    assert(uncapped.contains((0L, 1L)) && uncapped.exists(_._1 >= 100L))
    assert(capped == Set((0L, 1L))) // clone pairs pruned, true pair survives
  }

  test("IVF ANN: probing all cells equals brute force; fewer cells trade recall") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.annTopK(e, q, "vec_id", "embedding", 5))
    // nProbe == nCells probes every cell -> exhaustive -> identical to brute
    val full = pairs(Similarity.annIvfTopK(e, q, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 8))
    assert(full == brute)
    val probed = pairs(Similarity.annIvfTopK(e, q, "vec_id", "embedding", 5,
      nCells = 16, nProbe = 4))
    val recall = (brute & probed).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall@5 = $recall")
    assert(probed.nonEmpty)
  }

  test("persisted IVF index: served results equal in-memory; no exchange above the bucketed scan") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    Similarity.buildIvfIndex(e, "vec_id", "embedding", "ivf_idx_spec",
      nCells = 16, buckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val served = Similarity.annIvfTopKIndexed(spark, "ivf_idx_spec", q,
      "vec_id", "embedding", topK = 5, nProbe = 4)
    val inMem = Similarity.annIvfTopK(e, q, "vec_id", "embedding", 5,
      nCells = 16, nProbe = 4)
    assert(rows(served) == rows(inMem) && rows(served).nonEmpty)
    // the index-once/query-many payoff: with broadcast disabled (forcing the
    // large-query-batch sort-merge path) the cell-bucketed corpus scan must
    // reach the probe join with NO ShuffleExchange above it — the shuffle
    // was paid once at build time
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Similarity.annIvfTopKIndexed(spark, "ivf_idx_spec", q,
        "vec_id", "embedding", topK = 5, nProbe = 4).queryExecution.sparkPlan
      val shuffledScans = plan.collect {
        case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if ex.collectLeaves().exists {
              case s: org.apache.spark.sql.execution.FileSourceScanExec =>
                s.tableIdentifier.exists(_.table == "ivf_idx_spec_vectors")
              case _ => false
            } => ex
      }
      assert(shuffledScans.isEmpty,
        s"bucketed index scan was re-shuffled:\n$plan")
      // and the scan itself reports its buckets
      val bucketed = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.tableIdentifier.exists(_.table == "ivf_idx_spec_vectors") => s
      }
      assert(bucketed.nonEmpty && bucketed.head.bucketedScan,
        "expected a bucketed scan of the persisted index")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("IVF append: build-on-prefix + append serves the full-build results") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val n = e.count()
    val cut = n / 2 // prefix holds ids 0..15, so the pivot set is the full build's
    Similarity.buildIvfIndex(e.filter(col("vec_id") < cut), "vec_id",
      "embedding", "ivf_append_spec", nCells = 16, buckets = 8)
    // two appends: growth happens in batches, not one shot
    Similarity.appendToIvfIndex(spark, "ivf_append_spec",
      e.filter(col("vec_id") >= cut && col("vec_id") < cut + 10),
      "vec_id", "embedding")
    Similarity.appendToIvfIndex(spark, "ivf_append_spec",
      e.filter(col("vec_id") >= cut + 10), "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val served = Similarity.annIvfTopKIndexed(spark, "ivf_append_spec", q,
      "vec_id", "embedding", topK = 5, nProbe = 4)
    val full = Similarity.annIvfTopK(e, q, "vec_id", "embedding", 5,
      nCells = 16, nProbe = 4)
    assert(rows(served) == rows(full) && rows(served).nonEmpty)
    // every vector is in the index exactly once; cell stats see them all
    val stats = Similarity.ivfCellStats(spark, "ivf_append_spec")
    assert(stats.agg(sum("n_vectors")).collect().head.getLong(0) == n)
    // appending to a non-bucketed table is refused, not silently unbucketed
    spark.range(3).toDF("x").write.mode("overwrite")
      .saveAsTable("ivf_append_flat_vectors")
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, "ivf_append_flat",
        e.limit(1), "vec_id", "embedding")
    }
  }

  test("k-means IVF: full probe equals brute force; planted near-dups found at partial probe") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // probing every cell covers the whole corpus for ANY centroid set
    val brute = rows(Similarity.annTopK(e, q, "vec_id", "embedding", topK = 3))
    val full = rows(Similarity.annIvfKMeansTopK(e, q, "vec_id", "embedding",
      topK = 3, nCells = 8, nProbe = 8, iters = 3))
    assert(full == brute)
    // a planted near-dup (cos ~0.999) lands in its seed's cell, so partial
    // probing of the query's nearest cells must surface it as top-1
    val corpus = Similarity.plantNearDups(e, "vec_id", "embedding",
      offset = 1000000L, scale = 0.01)
    val top1 = Similarity.annIvfKMeansTopK(corpus,
        corpus.filter(col("vec_id") < 20), "vec_id", "embedding",
        topK = 1, nCells = 8, nProbe = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 20L).foreach { qid =>
      assert(top1.get(qid).contains(qid + 1000000L), s"query $qid")
    }
    val cent = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 8, iters = 2)
    assert(cent.size == 8 && cent.forall(_._2.length == 64))
  }

  test("multimodal: decodeMeta runs the stub through real partition batches") {
    val media = Multimodal.withFakeMedia(
      Seq((0L, "abcdef"), (1L, "x" * 100)).toDF("doc_id", "text"), "doc_id", "text")
      .as[Multimodal.MediaRow]
    val out = Multimodal.decodeMeta(media).collect().map(d => d.id -> d).toMap
    assert(out(0L).width == 6 % 640 + 16 && out(0L).n_bytes == 6)
    assert(out(1L).height == (100 * 7) % 480 + 16)
  }

  test("multimodal embeddings compose into the similarity search operators") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup payload
      (2L, "completely different byte content for the third media object"))
      .toDF("doc_id", "text")
    val media = Multimodal.withFakeMedia(docs, "doc_id", "text")
      .as[Multimodal.MediaRow]
    val emb = Multimodal.embed(media).toDF()
    // unit-norm output
    val norms = emb.select(Similarity.l2Norm(Similarity.toDouble(col("embedding"))))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
    // near-dup media rank each other first under brute-force ANN
    val top = Similarity.annTopK(emb, emb.filter(col("id") === 0), "id",
      "embedding", topK = 1).collect().head
    assert(top.getLong(1) == 1L)
    assert(top.getDouble(2) > 0.9)
  }

  test("real PNG decode: ImageIO returns the exact synthetic pixels") {
    val (id, w, h) = (7L, 20, 18)
    val bytes = Multimodal.syntheticPng(id, w, h)
    // a real PNG container, not a stub payload
    assert(bytes.take(4).map(_ & 0xFF).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val Some((dw, dh, px)) = Multimodal.decodeImage(bytes)
    assert((dw, dh) == (w, h))
    for (y <- 0 until h; x <- 0 until w) {
      val p = px(y * w + x)
      assert(((p >> 16) & 0xFF) == ((id + 3 * x + 5 * y) % 256).toInt, s"r($x,$y)")
      assert(((p >> 8) & 0xFF) == ((2 * id + 7 * x + y) % 256).toInt, s"g($x,$y)")
      assert((p & 0xFF) == ((id + x.toLong * y) % 256).toInt, s"b($x,$y)")
    }
    // JPEG decodes through the same path (lossy, so dims only)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val jos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jos)
    val Some((jw, jh, _)) = Multimodal.decodeImage(jos.toByteArray)
    assert((jw, jh) == (w, h))
    // corrupt payloads drop the row, never the executor
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImage(bytes.take(10)).isEmpty)
  }

  test("imageStats over a distributed fixture matches the analytic means") {
    val ids = spark.range(50).toDF("doc_id")
    val out = Multimodal.imageStats(Multimodal.syntheticImages(ids, "doc_id"))
      .collect().map(s => s.id -> s).toMap
    assert(out.size == 50)
    (0L until 50L).foreach { id =>
      val (w, h) = ((16 + id % 8).toInt, (16 + id * 3 % 8).toInt)
      val s = out(id)
      assert((s.width, s.height) == (w, h), s"dims of $id")
      val sr = (for (y <- 0 until h; x <- 0 until w)
        yield (id + 3 * x + 5 * y) % 256).sum
      assert(s.avg_r == sr.toDouble / (w * h), s"avg_r of $id")
    }
  }

  test("real WAV decode: sampled-sound stack returns the exact synthetic PCM") {
    val (id, n) = (11L, 1234)
    val bytes = Multimodal.syntheticWav(id, n)
    assert(new String(bytes.take(4)) == "RIFF") // a real WAV container
    val Some((rate, channels, samples)) = Multimodal.decodeAudio(bytes)
    assert(rate == 8000 && channels == 1 && samples.length == n)
    (0 until n).foreach { i =>
      val want = (((id * 7 + i.toLong * 31) % 65536) - 32768).toInt
      assert(samples(i) == want, s"sample $i")
    }
    // corrupt payloads drop the row, never the executor
    assert(Multimodal.decodeAudio("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeAudio(bytes.take(12)).isEmpty)
    // the direct RIFF parser and the AudioSystem fallback agree bit-for-bit
    // on the same container bytes (the fast path must be a pure
    // optimization, never a different decoder) — including the JDK reading
    // our hand-written header
    for (probe <- Seq(1L, 7L, 42L)) {
      val b = Multimodal.syntheticWav(probe, 777 + probe.toInt)
      val direct = Multimodal.decodeAudio(b)
      val jdk = Multimodal.decodeAudioJdk(b)
      assert(jdk.isDefined, s"JDK reader rejected the hand-written WAV of $probe")
      assert(direct.map { case (r, c, s) => (r, c, s.toSeq) } ==
        jdk.map { case (r, c, s) => (r, c, s.toSeq) }, s"parity on clip $probe")
    }
    // truncated data chunk (header claims more bytes than present): the
    // direct parser rejects it, so whatever comes out is exactly the JDK
    // fallback's reading of the same bytes — never a third behavior
    val trunc = bytes.dropRight(100)
    assert(Multimodal.decodeAudio(trunc).map { case (r, c, s) => (r, c, s.toSeq) } ==
      Multimodal.decodeAudioJdk(trunc).map { case (r, c, s) => (r, c, s.toSeq) })
    // distributed stats fixture matches the analytic loudness
    val out = Multimodal.audioStats(
        Multimodal.syntheticAudio(spark.range(20).toDF("doc_id"), "doc_id"))
      .collect().map(s => s.id -> s).toMap
    assert(out.size == 20)
    (0L until 20L).foreach { id =>
      val len = (1000 + id % 500).toInt
      val ss = (0 until len).map(i => ((id * 7 + i.toLong * 31) % 65536) - 32768)
      val s = out(id)
      assert(s.n_samples == len && s.sample_rate == 8000)
      assert(s.avg_abs == ss.map(math.abs).sum.toDouble / len, s"avg_abs of $id")
      assert(s.rms == math.sqrt(ss.map(x => x * x).sum.toDouble / len), s"rms of $id")
    }
  }

  test("real-pixel pipeline: decode -> grid embed -> LSH pairs -> clusters") {
    import spark.implicits._
    // 40 diverse block-pattern images + a tweaked NEAR-duplicate of each
    // (2 of 16 cells repainted with a shifted color): the planted pair is
    // close but not identical, random pattern pairs are far — the regime
    // the embedding dedup pipeline exists for, now over REAL decoded pixels
    val media = spark.range(40).as[Long].mapPartitions(_.flatMap { id =>
      Iterator(
        Multimodal.MediaRow(id, Multimodal.patternPng(id)),
        Multimodal.MediaRow(id + 1000L,
          Multimodal.patternPng(id, tweakCells = 2)))
    })
    val emb = Multimodal.embedImages(media).toDF()
    val pairs = Similarity.cosineLshPairs(emb, "id", "embedding",
        minCos = 0.99, bits = 256, bands = 16, center = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 40L).map(i => (i, i + 1000L)).toSet
    assert(pairs == planted,
      s"missed ${planted -- pairs}, spurious ${pairs -- planted}")
    // and the terminal composes: one representative per planted pair
    val deduped = Dedup.removeNearDups(emb, "id",
        Similarity.cosineLshPairs(emb, "id", "embedding", minCos = 0.99,
          bits = 256, bands = 16, center = true))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(deduped == (0L until 40L).toSet)
  }

  test("multimodal: frame sampling emits every stride-th block") {
    val media = Multimodal.withFakeMedia(
      Seq((0L, "0123456789abcdef" * 8)).toDF("doc_id", "text"), "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, stride = 4, frameSize = 16).collect()
    assert(frames.length == 2) // blocks 0 and 4 of 8
    assert(frames.forall(_.getAs[Array[Byte]]("frame_bytes").length == 16))
  }

  test("real GIF decode: sequence reader returns every exact synthetic frame") {
    val (id, w, h, nf) = (9L, 17, 13, 4)
    val bytes = Multimodal.syntheticGif(id, w, h, nf)
    assert(new String(bytes.take(3)) == "GIF") // a real GIF container
    val Some(frames) = Multimodal.decodeFrames(bytes)
    assert(frames.length == nf, "frame count")
    for (f <- 0 until nf) {
      val (dw, dh, px) = frames(f)
      assert((dw, dh) == (w, h), s"dims of frame $f")
      for (y <- 0 until h; x <- 0 until w) {
        val p = px(y * w + x)
        val want = ((id + 11L * f + 3 * x + 5 * y) % 256).toInt
        // the explicit gray palette round-trips losslessly: r == g == b == v
        assert(((p >> 16) & 0xFF) == want, s"v($x,$y) frame $f")
        assert(((p >> 8) & 0xFF) == want && (p & 0xFF) == want,
          s"gray($x,$y) frame $f")
      }
    }
    // a single-image PNG decodes through the same path as one frame
    assert(Multimodal.decodeFrames(
      Multimodal.syntheticPng(3L, 8, 8)).get.length == 1)
    // corrupt payloads drop the row, never the executor
    assert(Multimodal.decodeFrames("not a video".getBytes).isEmpty)
    assert(Multimodal.decodeFrames(bytes.take(10)).isEmpty)
  }

  test("real AVI decode: DIB frames round-trip exactly through the RIFF walker") {
    val (id, w, h, nf) = (7L, 15, 11, 3)
    val bytes = Multimodal.syntheticAvi(id, w, h, nf)
    // a real RIFF/AVI container
    assert(new String(bytes.take(4)) == "RIFF" &&
      new String(bytes.slice(8, 12)) == "AVI ")
    val Some(frames) = Multimodal.decodeFrames(bytes)
    assert(frames.length == nf, "frame count")
    for (f <- 0 until nf) {
      val (dw, dh, px) = frames(f)
      assert((dw, dh) == (w, h), s"dims of frame $f")
      for (y <- 0 until h; x <- 0 until w) {
        val p = px(y * w + x)
        // BI_RGB DIB is raw bytes: the round-trip is lossless (this also
        // pins the bottom-up row order and 4-byte row padding — w = 15
        // makes rowStride 48 != w*3, so a padding bug shifts every row)
        val want = ((id + 11L * f + 3 * x + 5 * y) % 256).toInt
        assert(((p >> 16) & 0xFF) == want, s"v($x,$y) frame $f")
        assert(((p >> 8) & 0xFF) == want && (p & 0xFF) == want,
          s"gray($x,$y) frame $f")
      }
    }
    // the whole frame pipeline composes over the AVI container unchanged
    val stats = Multimodal.frameStats(
        Multimodal.syntheticAviVideos(spark.range(12).toDF("doc_id"), "doc_id"),
        stride = 2)
      .collect().map(s => (s.id, s.frame_idx) -> s).toMap
    (0L until 12L).foreach { id =>
      val (vw, vh, vn) = ((14 + id % 6).toInt, (10 + id * 5 % 7).toInt,
        (2 + id % 4).toInt)
      val want = (0 until vn).filter(_ % 2 == 0)
      assert(stats.keys.filter(_._1 == id).map(_._2).toSet == want.toSet,
        s"sampled frames of $id")
      want.foreach { f =>
        val s = stats((id, f))
        assert((s.width, s.height) == (vw, vh), s"dims of $id/$f")
        val sv = (for (y <- 0 until vh; x <- 0 until vw)
          yield (id + 11 * f + 3 * x + 5 * y) % 256).sum
        assert(s.avg_v == sv.toDouble / (vw * vh), s"avg_v of $id/$f")
      }
    }
  }

  test("real MJPEG-AVI decode: JPEG frames through ImageIO, corrupt containers drop") {
    val mb = Multimodal.syntheticMjpegAvi(3L, 32, 32, nFrames = 4)
    val Some(mf) = Multimodal.decodeFrames(mb)
    // dims and frame count are exact even though JPEG is lossy
    assert(mf.length == 4 && mf.forall { case (w, h, _) => w == 32 && h == 32 })
    // flat-cell pattern keeps coding error bounded: per-frame means within
    // a few gray levels of the analytic block pattern
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    for (f <- 0 until 4) {
      val (w, h, px) = mf(f)
      val got = px.map(p => (p >> 16) & 0xFF).map(_.toDouble).sum / (w * h)
      val want = (for (y <- 0 until h; x <- 0 until w) yield {
        val cell = (y * 4 / h) * 4 + (x * 4 / w)
        (mix(3L * 8192L + f * 1024L + cell) & 0xFF).toDouble
      }).sum / (w * h)
      assert(math.abs(got - want) < 3.0, s"frame $f mean $got vs $want")
    }
    // corrupt / crafted containers: drop the row, never the task
    val dib = Multimodal.syntheticAvi(7L, 15, 11, 3)
    assert(Multimodal.decodeFrames(dib.take(30)).isEmpty) // truncated header
    val evil = dib.clone()
    // clobber the first frame chunk's u32 size to ~2^31: Int math would
    // wrap the bounds guard (the parseWavPcm16 lesson, applied from birth)
    val idx = dib.indices.find(i => i + 4 < dib.length && dib(i) == '0' &&
      dib(i + 1) == '0' && dib(i + 2) == 'd' && dib(i + 3) == 'b').get
    evil(idx + 4) = 0xF8.toByte; evil(idx + 5) = 0xFF.toByte
    evil(idx + 6) = 0xFF.toByte; evil(idx + 7) = 0x7F.toByte
    assert(Multimodal.parseAviFrames(evil).isEmpty)
    assert(Multimodal.decodeFrames(evil).isEmpty)
    // a WAV is RIFF too: the form type keeps it out of the video path
    assert(!Multimodal.isAvi(Multimodal.syntheticWav(1L, 10)))
  }

  test("two-video-stream AVI: only the bound DIB stream's chunks decode") {
    // stream 0 is XVID (skipped for format binding — compression is neither
    // BI_RGB nor MJPG) with junk 00dc chunks; stream 1 is the DIB stream.
    // The parser must decode exactly stream 1's frames: a stream-blind walk
    // would feed the junk to the DIB/MJPEG decoder — garbage stats or a
    // thrown decode dropping the container including its valid stream.
    val (w, h, nf) = (15, 11, 3)
    val Some(frames) = Multimodal.decodeFrames(Multimodal.twoStreamAvi(7L, w, h, nf))
    val Some(ref) = Multimodal.decodeFrames(Multimodal.syntheticAvi(7L, w, h, nf))
    assert(frames.size == nf)
    frames.zip(ref).foreach { case ((fw, fh, px), (rw, rh, rpx)) =>
      assert(fw == rw && fh == rh && px.sameElements(rpx))
    }
  }

  test("crafted GIF declaring a huge logical screen drops the row, never the task") {
    // the logical screen descriptor is attacker bytes (u16 width at offset
    // 6, height at 8): a 40000x40000 declaration around tiny frames would
    // otherwise allocate a multi-GB canvas — and OutOfMemoryError is an
    // Error, invisible to decodeFrames' NonFatal catch. The 64 MP canvas
    // guard must turn this into a dropped row.
    val gif = Multimodal.syntheticGif(3L, 8, 6, 2).clone()
    assert(gif(0) == 'G' && gif(1) == 'I' && gif(2) == 'F')
    gif(6) = (40000 & 0xFF).toByte; gif(7) = ((40000 >> 8) & 0xFF).toByte
    gif(8) = (40000 & 0xFF).toByte; gif(9) = ((40000 >> 8) & 0xFF).toByte
    assert(Multimodal.decodeFrames(gif).isEmpty)
    // the unpatched original still decodes — the guard is not a blanket drop
    assert(Multimodal.decodeFrames(Multimodal.syntheticGif(3L, 8, 6, 2)).nonEmpty)
  }

  test("an image header declaring more than the pixel budget drops the row undecoded") {
    // an 8-bit gray PNG of side x side zero pixels, its rows deflated as a
    // stream so the test never holds the image: 8200 x 8200 is ~70 KB of
    // bytes declaring 67 M pixels, just over the budget
    def grayPng(side: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      def chunk(kind: String, data: Array[Byte]): Unit = {
        val crc = new java.util.zip.CRC32
        crc.update(kind.getBytes("US-ASCII")); crc.update(data)
        out.writeInt(data.length); out.writeBytes(kind); out.write(data)
        out.writeInt(crc.getValue.toInt)
      }
      val idat = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.DeflaterOutputStream(idat)
      val row = new Array[Byte](side + 1) // filter type 0, then the samples
      (0 until side).foreach(_ => z.write(row))
      z.close()
      out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(side).putInt(side)
        .put(Array[Byte](8, 0, 0, 0, 0)).array()) // 8-bit gray, no interlace
      chunk("IDAT", idat.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      bos.toByteArray
    }
    val huge = grayPng(8200)
    assert(8200L * 8200 > Multimodal.MaxImagePixels && huge.length < 200000)
    assert(Multimodal.decodeImage(huge).isEmpty)
    assert(Multimodal.decodeFrames(huge).isEmpty)
    // the same builder under the budget decodes: the drop is the budget's
    val Some((w, h, px)) = Multimodal.decodeImage(grayPng(4))
    assert(w == 4 && h == 4 && px.forall(_ == 0xFF000000))
    assert(Multimodal.decodeFrames(grayPng(4)).map(_.size).contains(1))
  }

  test("frames that each fit but together pass the container budget drop the row undecoded") {
    // each frame header below declares 8000 x 8000 = 64 M pixels, under the
    // per-frame budget; five of them declare 320 M, over the container's
    val (side, n) = (8000, 5)
    assert(side.toLong * side <= Multimodal.MaxImagePixels &&
      n.toLong * side * side > Multimodal.MaxContainerPixels)
    def u16be(b: Array[Byte], o: Int) = ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
    // MJPEG AVI: rewrite every frame's JPEG SOF0 height and width
    val avi = Multimodal.syntheticMjpegAvi(1L, 16, 16, nFrames = n)
    val patched = avi.clone()
    var frames = 0
    for (i <- 0 until avi.length - 3
         if u16be(avi, i) == 0xFFD8 && (avi(i + 2) & 0xFF) == 0xFF) {
      var o = i + 2 // segment markers up to the frame header
      while (u16be(avi, o) != 0xFFC0) o += 2 + u16be(avi, o + 2)
      Seq(o + 5, o + 7).foreach { f =>
        patched(f) = (side >> 8).toByte; patched(f + 1) = side.toByte }
      frames += 1
    }
    assert(frames == n)
    // multi-page TIFF (ImageIO's non-GIF sequence branch): rewrite every
    // IFD's ImageWidth (256) and ImageLength (257) entries
    val tiff = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      (0 until n).foreach(_ => wr.writeToSequence(new javax.imageio.IIOImage(
        new java.awt.image.BufferedImage(16, 16,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY), null, null), null))
      wr.endWriteSequence(); ios.close(); wr.dispose()
      val b = java.nio.ByteBuffer.wrap(bos.toByteArray)
      if (b.get(0) == 'I') b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var ifd = b.getInt(4)
      while (ifd != 0) {
        val entries = b.getShort(ifd) & 0xFFFF
        for (e <- 0 until entries; at = ifd + 2 + 12 * e
             if b.getShort(at) == 256 || b.getShort(at) == 257)
          if (b.getShort(at + 2) == 3) b.putShort(at + 8, side.toShort)
          else b.putInt(at + 8, side)
        ifd = b.getInt(ifd + 2 + 12 * entries)
      }
      b.array()
    }
    // nothing is decoded: one 64 M-pixel frame alone allocates >= 256 MB
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val me = Thread.currentThread.getId
    for (container <- Seq(patched, tiff)) {
      val before = threads.getThreadAllocatedBytes(me)
      val dropped = Multimodal.decodeFrames(container).isEmpty
      val allocated = threads.getThreadAllocatedBytes(me) - before
      assert(dropped && allocated < 32L * 1024 * 1024,
        s"decoding allocated $allocated bytes")
    }
    // the unpatched AVI decodes every frame: the drop is the budget's
    assert(Multimodal.decodeFrames(avi).map(_.size).contains(n))
  }

  test("cross-container: the same clip as GIF and MJPEG-AVI embeds near-identically") {
    import spark.implicits._
    // patternGif and syntheticMjpegAvi share the analytic flat-cell frame
    // formula, so each id yields the SAME logical video in two different
    // containers AND codecs (lossless palette GIF vs lossy JPEG-in-AVI);
    // the whole decode → frame-embed → video-embed pipeline must agree up
    // to JPEG coding noise — a codec-robustness property the format-blind
    // dispatch in decodeFrames is supposed to buy
    val media = spark.range(8).as[Long].mapPartitions(_.flatMap { id =>
      Iterator(
        Multimodal.MediaRow(id, Multimodal.patternGif(id, nFrames = 3)),
        Multimodal.MediaRow(id + 1000L, Multimodal.syntheticMjpegAvi(id, 32, 32, 3)))
    })
    val emb = Multimodal.videoEmbeddings(media).collect()
      .map(e => e.id -> e.embedding).toMap
    assert(emb.size == 16)
    (0L until 8L).foreach { id =>
      val (a, b) = (emb(id), emb(id + 1000L))
      val cos = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      assert(cos > 0.9999, s"clip $id: GIF-vs-AVI cosine $cos")
    }
  }

  test("real G.711 mu-law decode: JDK expander is bit-exact to the CCITT formula") {
    // one WAV carrying every possible mu-law code byte, in order: the JDK's
    // ULAW -> PCM16 transcode must match the published expansion exactly
    // (this is what makes q77's arithmetic oracle sound)
    val codes = Array.tabulate[Byte](256)(_.toByte)
    val wav = {
      val b = Multimodal.syntheticUlawWav(0L, 256)
      // splice the exhaustive code ramp over the synthetic payload
      System.arraycopy(codes, 0, b, 44, 256); b
    }
    val Some((rate, channels, samples)) = Multimodal.decodeAudio(wav)
    assert(rate == 8000 && channels == 1 && samples.length == 256)
    for (c <- 0 until 256)
      assert(samples(c) == Multimodal.g711Ulaw(c),
        s"code $c: decoded ${samples(c)} != g711 ${Multimodal.g711Ulaw(c)}")
    // the lock-free direct parser and the AudioSystem expander agree
    // bit-for-bit on every code (the fast path must be a pure optimization,
    // never a different decoder — same contract as the PCM16 parity test)
    val Some((_, _, jdk)) = Multimodal.decodeAudioJdk(wav)
    assert(jdk.toSeq == samples.toSeq, "direct parser != JDK expander")
    // the synthetic fixture decodes to the formula's samples end-to-end
    val (id, n) = (5L, 100)
    val Some((_, _, syn)) = Multimodal.decodeAudio(Multimodal.syntheticUlawWav(id, n))
    (0 until n).foreach { i =>
      val code = ((id * 13 + i.toLong * 17) % 256).toInt
      assert(syn(i) == Multimodal.g711Ulaw(code), s"sample $i")
    }
    // corrupt / truncated compressed payloads drop the row
    assert(Multimodal.decodeAudio(wav.take(40)).isEmpty)
  }

  test("real G.711 A-law decode: JDK expander is bit-exact to the CCITT formula") {
    // A-law is the OTHER G.711 half: even-bits-inverted companding with the
    // OPPOSITE sign convention (bit 7 set = positive) — the exhaustive
    // 256-code ramp pins formula, JDK expander, and direct parser to each
    // other (this is what makes q78's arithmetic oracle sound)
    val codes = Array.tabulate[Byte](256)(_.toByte)
    val wav = {
      val b = Multimodal.syntheticAlawWav(0L, 256)
      System.arraycopy(codes, 0, b, 44, 256); b
    }
    val Some((rate, channels, samples)) = Multimodal.parseWavPcm16(wav)
    assert(rate == 8000 && channels == 1 && samples.length == 256)
    for (c <- 0 until 256)
      assert(samples(c) == Multimodal.g711Alaw(c),
        s"code $c: parsed ${samples(c)} != g711 ${Multimodal.g711Alaw(c)}")
    val Some((_, _, jdk)) = Multimodal.decodeAudioJdk(wav)
    assert(jdk.toSeq == samples.toSeq, "direct parser != JDK expander")
    // the synthetic fixture decodes to the formula's samples end-to-end
    val (id, n) = (7L, 100)
    val Some((_, _, syn)) = Multimodal.decodeAudio(Multimodal.syntheticAlawWav(id, n))
    (0 until n).foreach { i =>
      val code = ((id * 11 + i.toLong * 19) % 256).toInt
      assert(syn(i) == Multimodal.g711Alaw(code), s"sample $i")
    }
    assert(Multimodal.decodeAudio(wav.take(40)).isEmpty)
  }

  test("8-bit unsigned PCM WAV decodes on both paths, centered at -128") {
    // 8-bit WAV is UNSIGNED by spec (silence = 0x80) — formerly dropped by
    // BOTH paths (the JDK path rejected PCM_UNSIGNED, the direct parser had
    // no bits=8 case); the two paths must agree on the centered samples
    val n = 256
    val wav = {
      // reuse the A-law fixture's container and flip the format code to
      // PCM (1): same 44-byte layout, one code byte per sample
      val b = Multimodal.syntheticAlawWav(3L, n)
      b(20) = 1; b
    }
    val Some((rate, channels, direct)) = Multimodal.parseWavPcm16(wav)
    assert(rate == 8000 && channels == 1 && direct.length == n)
    (0 until n).foreach { i =>
      val raw = ((3L * 11 + i.toLong * 19) % 256).toInt
      assert(direct(i) == raw - 128, s"sample $i")
    }
    val Some((_, _, jdk)) = Multimodal.decodeAudioJdk(wav)
    assert(jdk.toSeq == direct.toSeq, "direct parser != JDK unsigned-8 path")
  }

  test("GIF compositing: delta frames at offsets + disposal methods replay the canvas") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    // a wild-style delta GIF: full first frame, then small patches drawn at
    // offsets, exercising every disposal method — the size optimization
    // real animated GIFs use and the old independent-frame decode got wrong
    val ramp = Array.tabulate(256)(_.toByte)
    val pal = new IndexColorModel(8, 256, ramp, ramp, ramp)
    def patch(w: Int, h: Int, v: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, pal)
      val r = img.getRaster
      for (y <- 0 until h; x <- 0 until w) r.setSample(x, y, 0, v)
      img
    }
    def writeGif(frames: Seq[(BufferedImage, Int, Int, String)]): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      // the JDK writer interlaces by default, and the JDK's interlace
      // ROUND-TRIP loses the last row of frames with tiny heights (the
      // LZW data is provably complete — hand-decoded; the reader drops
      // it). Wild delta GIFs are non-interlaced; write what they write.
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
      frames.foreach { case (img, l, t, disp) =>
        val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), null)
        val fmt = "javax_imageio_gif_image_1.0"
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        def node(name: String): IIOMetadataNode = {
          val kids = root.getElementsByTagName(name)
          if (kids.getLength > 0) kids.item(0).asInstanceOf[IIOMetadataNode]
          else {
            val nn = new IIOMetadataNode(name)
            // DTD order: ImageDescriptor, LocalColorTable, GCE, ...
            // GCE must come after the descriptor nodes
            root.appendChild(nn); nn
          }
        }
        val desc = node("ImageDescriptor")
        desc.setAttribute("imageLeftPosition", l.toString)
        desc.setAttribute("imageTopPosition", t.toString)
        val gce = node("GraphicControlExtension")
        gce.setAttribute("disposalMethod", disp)
        if (!gce.hasAttribute("userInputFlag")) gce.setAttribute("userInputFlag", "FALSE")
        if (!gce.hasAttribute("transparentColorFlag")) gce.setAttribute("transparentColorFlag", "FALSE")
        if (!gce.hasAttribute("delayTime") || gce.getAttribute("delayTime").isEmpty)
          gce.setAttribute("delayTime", "10")
        if (!gce.hasAttribute("transparentColorIndex") || gce.getAttribute("transparentColorIndex").isEmpty)
          gce.setAttribute("transparentColorIndex", "0")
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new IIOImage(img, null, meta), param)
      }
      writer.endWriteSequence(); ios.close(); writer.dispose()
      bos.toByteArray
    }
    val gif = writeGif(Seq(
      (patch(8, 8, 100), 0, 0, "doNotDispose"),             // f0: full canvas
      (patch(2, 2, 200), 3, 2, "restoreToBackgroundColor"), // f1: patch; clears after
      (patch(2, 2, 50), 6, 6, "doNotDispose"),              // f2: corner patch
      (patch(2, 2, 250), 0, 0, "restoreToPrevious"),        // f3: reverted after
      (patch(2, 2, 75), 4, 4, "none")))                     // f4
    val Some(frames) = Multimodal.decodeFrames(gif)
    assert(frames.length == 5)
    // every composited frame is the 8x8 logical screen, not the patch dims
    frames.foreach { case (w, h, px) => assert(w == 8 && h == 8 && px.length == 64) }
    def at(f: Int, x: Int, y: Int): Int = frames(f)._3(y * 8 + x)
    def gray(v: Int): Int = 0xFF000000 | (v * 0x010101)
    assert(at(0, 0, 0) == gray(100) && at(0, 7, 7) == gray(100))
    // f1: patch over the full frame
    assert(at(1, 3, 2) == gray(200) && at(1, 4, 3) == gray(200))
    assert(at(1, 0, 0) == gray(100) && at(1, 5, 2) == gray(100))
    // f2: f1's restoreToBackgroundColor cleared ITS rect to transparent
    assert(at(2, 3, 2) == 0 && at(2, 4, 3) == 0, "disposed rect must be cleared")
    assert(at(2, 0, 0) == gray(100) && at(2, 6, 6) == gray(50))
    // f3: draws at origin over the doNotDispose'd f2 state
    assert(at(3, 0, 0) == gray(250) && at(3, 6, 6) == gray(50))
    // f4: f3's restoreToPrevious restored the pre-f3 canvas before drawing
    assert(at(4, 0, 0) == gray(100), "restoreToPrevious must revert f3's draw")
    assert(at(4, 4, 4) == gray(75) && at(4, 6, 6) == gray(50) && at(4, 3, 2) == 0)
    // full-frame GIFs are unchanged by compositing: frame-for-frame equal to
    // the analytic formula (the q68 oracle's losslessness argument survives)
    val Some(full) = Multimodal.decodeFrames(Multimodal.syntheticGif(9L, 7, 5, 3))
    full.zipWithIndex.foreach { case ((w, h, px), f) =>
      assert(w == 7 && h == 5)
      for (y <- 0 until h; x <- 0 until w)
        assert((px(y * w + x) & 0xFF) == ((9L + 11 * f + 3 * x + 5 * y) % 256).toInt)
    }
  }

  test("decoder fuzz: arbitrary and truncated-valid bytes drop the row, never throw") {
    // the poison-input contract, pinned broadly: every decoder entry point
    // must return None (or a valid decode) on ANY byte string — crawl-scale
    // corpora contain every possible corruption. Deterministic LCG fuzz:
    // 400 random buffers + every prefix of each valid container format
    // (truncation is the most common real corruption and exercises every
    // bounds check in the chunk walkers).
    var seed = 0x9e3779b97f4a7c15L
    def nextBytes(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var i = 0
      while (i < n) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        b(i) = (seed >>> 56).toByte
        i += 1
      }
      b
    }
    def check(bytes: Array[Byte], what: String): Unit =
      try {
        Multimodal.decodeImage(bytes)
        Multimodal.decodeAudio(bytes)
        Multimodal.decodeFrames(bytes)
        ()
      } catch {
        case scala.util.control.NonFatal(e) =>
          fail(s"decoder threw on $what (${bytes.length} bytes): $e")
      }
    (0 until 400).foreach { i => check(nextBytes(i % 97 + 1), s"random#$i") }
    // RIFF/GIF/PNG magic with garbage bodies — reach past the magic checks
    for (magic <- Seq("RIFF????WAVE", "RIFF????AVI ", "GIF89a", "PNG")) {
      val b = magic.getBytes("ISO-8859-1") ++ nextBytes(64)
      check(b, s"magic:$magic")
    }
    // every prefix of each VALID container: truncation mid-chunk
    val valid = Seq(
      Multimodal.syntheticWav(1L, 30),
      Multimodal.syntheticUlawWav(2L, 30),
      Multimodal.syntheticAlawWav(3L, 30),
      Multimodal.patternGif(4L, nFrames = 2),
      Multimodal.syntheticMjpegAvi(5L, 16, 16, 2))
    valid.foreach { v =>
      (0 until v.length).foreach(k => check(v.take(k), s"prefix@$k"))
    }
  }

  test("semanticDedup keeps one representative per intra-cell component") {
    import spark.implicits._
    // 3 orthogonal pivot directions (ids 0..2 = the pivots at nCells=3) and
    // near-copies of each: cells form around the pivots, every near-copy
    // joins its seed's component, and exactly the min id of each component
    // survives. A chain (14 ~ 13 ~ 0 with 14 !~ 0 at the threshold) pins
    // the connected-components semantics — pairwise drop-id2 would
    // over-delete.
    def unit(d: Int, eps: Double, d2: Int = 1): Array[Float] = {
      val v = new Array[Float](8)
      v(d) = 1f; v((d + d2) % 8) = eps.toFloat
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = Seq(
      0L  -> unit(0, 0.0),   // pivot A, survives
      1L  -> unit(3, 0.0),   // pivot B, survives
      2L  -> unit(6, 0.0),   // pivot C, survives
      10L -> unit(0, 0.05),  // ~0 (cos .999)
      11L -> unit(3, 0.04),  // ~1
      12L -> unit(6, 0.03),  // ~2
      13L -> unit(0, 0.20),  // chain mid: cos(13,0)=.981, cos(13,14)=.995
      14L -> unit(0, 0.30),  // chain end: cos(14,0)=.958 < .97 but linked via 13
      20L -> unit(6, 0.9, 1) // same cell as C but far (cos ~ .74): survives
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(rows, "vec_id", "embedding",
        minCos = 0.97, nCells = 3, blocks = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 20L), s"kept $kept")
    // the pair graph really is intra-cell: pairs never straddle cells
    val pairs = Similarity.semanticPairs(rows, "vec_id", "embedding",
      minCos = 0.97, nCells = 3, blocks = 2).collect()
    assert(pairs.nonEmpty)
    // blocked and unblocked sub-join shapes agree (the grid is a pure
    // distribution choice)
    val p1 = Similarity.semanticPairs(rows, "vec_id", "embedding",
      minCos = 0.97, nCells = 3, blocks = 1)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val p2 = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == p2, s"blocked $p2 != unblocked $p1")
    // k-means pivots (the paper's clustering): the three direction groups
    // are orthogonal, so Lloyd keeps them in separate cells and the same
    // representatives survive
    val keptKm = Similarity.semanticDedup(rows, "vec_id", "embedding",
        minCos = 0.97, nCells = 3, blocks = 2, kmeansIters = Some(2))
      .select("vec_id").as[Long].collect().toSet
    assert(keptKm == Set(0L, 1L, 2L, 20L), s"kmeans variant kept $keptKm")
  }

  test("semanticDedupIndexed serves the in-memory semanticDedup result from the persisted index") {
    // build-once / dedup-many: the persisted assignment must reproduce the
    // in-memory pipeline exactly (bit-stable assignCells), and a second
    // serve without a rebuild must too
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = Similarity.plantNearDups(e, "vec_id", "embedding",
      offset = 1000000L, scale = 0.01)
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      "sem_idx_spec", nCells = 16, buckets = 8)
    def kept(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").as[Long].collect().toSet
    val inMem = kept(Similarity.semanticDedup(corpus, "vec_id", "embedding",
      minCos = 0.95, nCells = 16))
    val served = kept(Similarity.semanticDedupIndexed(spark, "sem_idx_spec",
      corpus, "vec_id", minCos = 0.95))
    assert(served == inMem && served.nonEmpty)
    assert(served.size < corpus.count()) // it actually dropped dups
    // serve again (no rebuild) — the index is the only state needed
    val again = kept(Similarity.semanticDedupIndexed(spark, "sem_idx_spec",
      corpus, "vec_id", minCos = 0.95))
    assert(again == inMem)
    // pair graphs agree too (the shared pairsWithinCells body)
    val p1 = Similarity.semanticPairs(corpus, "vec_id", "embedding",
        minCos = 0.95, nCells = 16)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val p2 = Similarity.semanticPairsIndexed(spark, "sem_idx_spec",
        minCos = 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(p1 == p2)
  }

  test("incrementalCosine drops arrivals near seen embeddings and matches the brute-force drop set") {
    // history = even-id originals; arrivals = odd-id originals (fresh at
    // 0.95 — the fixture has no original-original pair that high) + one
    // planted near-dup (cos ~0.999) per original. Dups of even seeds must
    // drop, dups of odd seeds (seed not in history) and odd originals must
    // survive. bits=256/bands=16 is q41's recall-1.0 regime, so the brute
    // cosine join over the same constructed sets is the exact reference.
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val seen = e.filter(col("vec_id") % 2 === 0)
    val planted = Similarity.plantNearDups(e, "vec_id", "embedding",
      offset = 1000000L, scale = 0.01).filter(col("vec_id") >= 1000000L)
    val arrivals = e.filter(col("vec_id") % 2 === 1).unionByName(planted)
    val kept = Similarity.incrementalCosine(arrivals, seen, "vec_id",
        "embedding", minCos = 0.95, bits = 256, bands = 16)
      .select("vec_id").as[Long].collect().toSet
    // brute-force reference: pairs >= 0.95 across the arrival/seen split
    val arrIds = arrivals.select("vec_id").as[Long].collect().toSet
    val seenIds = seen.select("vec_id").as[Long].collect().toSet
    val droppedRef = Similarity.cosinePairs(arrivals.unionByName(seen),
        "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .collect { case (a, s) if arrIds(a) && seenIds(s) => a }.toSet
    assert(droppedRef.nonEmpty && kept.nonEmpty)
    assert(kept == arrIds -- droppedRef)
    // every even seed's dup dropped; odd originals and odd-seed dups kept
    assert(droppedRef.forall(id => id >= 1000000L && (id - 1000000L) % 2 == 0))
    // empty history: everything is fresh
    assert(Similarity.incrementalCosine(arrivals, seen.limit(0), "vec_id",
      "embedding", 0.95).count() == arrIds.size)
  }

  test("semanticCellStats observes the dedup's own assignment; nCells auto-sizes to ~sqrt(n)") {
    // the histogram must describe the SAME cells semanticPairs compares
    // within — it is the observability surface for the one quadratic risk
    // in the SemDeDup path (a dominant cell)
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val n = e.count()
    val stats = Similarity.semanticCellStats(e, "vec_id", "embedding", nCells = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.values.sum == n)          // every vector in exactly one cell
    assert(stats.keySet.subsetOf((0L until 16L).toSet)) // cells = the 16 smallest ids
    // fixture sanity: no degenerate single-cell collapse on real embeddings
    assert(stats.values.max < n, s"one cell swallowed the corpus: $stats")
    // auto-sizing: ~sqrt(n) cells, clamped
    assert(Similarity.autoNCells(0L) == 1 && Similarity.autoNCells(1L) == 1)
    assert(Similarity.autoNCells(10000L) == 100)
    assert(Similarity.autoNCells(Long.MaxValue) == 65536)
    val auto = Similarity.semanticCellStats(e, "vec_id", "embedding")
      .collect().map(r => r.getLong(1))
    assert(auto.sum == n)
    // the auto default flows through the terminal: planted near-dups still
    // collapse with no nCells argument at all
    val planted = Similarity.plantNearDups(e, "vec_id", "embedding",
      offset = 1000000L, scale = 0.01)
    val kept = Similarity.semanticDedup(planted, "vec_id", "embedding",
        minCos = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.size < 2 * n) // at least some planted dups dropped
    assert(kept.count(_ < 1000000L) == n) // originals (min ids) all survive
  }

  test("IVF and semantic dedup are id-domain-agnostic: offset ids (1e9+) give shifted-identical results") {
    // regression for the pivot-selection defect: `filter(id < nCells)`
    // selected ZERO pivots on sparse/large id domains (xxhash64-derived
    // fingerprints, offset partitions), silently emptying annIvfTopK and
    // turning semanticDedup into a no-op. The contract is now the nCells
    // SMALLEST ids, so shifting every id by a constant must shift every
    // result by the same constant — nothing more.
    val off = 1000000000L
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val eOff = e.withColumn("vec_id", col("vec_id") + off)
    val q = e.filter(col("vec_id") < 5)
    val qOff = eOff.filter(col("vec_id") < off + 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // partial probe: pivot set = 16 smallest ids = the same 16 rows either
    // way, so the offset run is the dense run shifted by `off`
    val dense = pairs(Similarity.annIvfTopK(e, q, "vec_id", "embedding", 5,
      nCells = 16, nProbe = 4))
    val sparse = pairs(Similarity.annIvfTopK(eOff, qOff, "vec_id", "embedding", 5,
      nCells = 16, nProbe = 4))
    assert(sparse.nonEmpty)
    assert(sparse == dense.map { case (a, b, c, r) => (a + off, b + off, c, r) })
    // and full probe on the offset corpus still equals brute force
    val brute = pairs(Similarity.annTopK(eOff, qOff, "vec_id", "embedding", 5))
    val full = pairs(Similarity.annIvfTopK(eOff, qOff, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 8))
    assert(full == brute)
    // semanticDedup: the intra-cell component structure is id-label-blind
    def unit(d: Int, eps: Double): Array[Float] = {
      val v = new Array[Float](8)
      v(d) = 1f; v((d + 1) % 8) = eps.toFloat
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = Seq(
      off + 0L  -> unit(0, 0.0), off + 1L -> unit(3, 0.0),
      off + 2L  -> unit(6, 0.0),
      off + 10L -> unit(0, 0.05), off + 11L -> unit(3, 0.04),
      off + 12L -> unit(6, 0.03)
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(rows, "vec_id", "embedding",
        minCos = 0.97, nCells = 3, blocks = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(off + 0L, off + 1L, off + 2L), s"kept $kept")
  }

  test("ext layer sparse-id guard: planted-dup fixtures with 1e9-offset ids behave identically") {
    // insurance against further dense-id assumptions: the planted-dup
    // fixtures re-run with every id offset by 1e9 through the other
    // id-keyed families — text dedup terminal, LSH cosine pairs,
    // incremental near-dup, quantized ANN — and must produce the dense
    // results shifted by the offset.
    val off = 1000000000L
    // dedupCorpus: near-dup group {0,1,2} collapses to its min id either way
    val docsOff = corpus.withColumn("doc_id", col("doc_id") + off)
    val keptDense = Dedup.dedupCorpus(corpus, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val keptOff = Dedup.dedupCorpus(docsOff, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptOff == keptDense.map(_ + off) && keptOff.size < 5)
    // cosineLshPairs (auto-sized default): every planted pair recovered on
    // the offset id domain, matching brute force
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
      .withColumn("vec_id", col("vec_id") + off)
    val planted = Similarity.plantNearDups(e, "vec_id", "embedding",
      offset = 2000000000L, scale = 0.01)
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = set(Similarity.cosinePairs(planted, "vec_id", "embedding", 0.95))
    val lsh = set(Similarity.cosineLshPairs(planted, "vec_id", "embedding", 0.95))
    assert(lsh == brute && brute.nonEmpty)
    // incrementalNear: same drop decisions on offset arrival/history ids
    val seen = Seq((off + 0L, "alpha beta gamma delta"),
      (off + 1L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val arrivals = Seq(
      (off + 10L, "beta alpha delta gamma"), (off + 12L, "nu xi omicron pi")
    ).toDF("doc_id", "text")
    val keptInc = Dedup.incrementalNear(arrivals, seen, "doc_id", "text", k = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(keptInc == Set(off + 12L))
    // quantized ANN: identical-vector query still ranks its twin first
    val vs = Seq(
      (off + 0L, Array(1f, 0f, 0f, 0f)), (off + 1L, Array(1f, 0.01f, 0f, 0f)),
      (off + 2L, Array(0f, 1f, 0f, 0f)), (off + 3L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Quantize.annTopKQuantized(vs, vs.filter(col("vec_id") === off),
      "vec_id", "embedding", topK = 2).collect()
    assert(top.head.getLong(1) == off + 1L)
  }

  test("crafted WAV with a 2^31-adjacent chunk size drops the row, never the task") {
    // a declared u32 chunk size near Int.MaxValue used to wrap
    // `off + 8 + size` negative in Int arithmetic, bypassing the bounds
    // guard — the header reads / sample-array allocation then threw
    // (AIOOBE or OOM) inside the executor task. The bounds math is now
    // Long and any residual parse failure maps to None: drop the row,
    // honoring the poison-input contract at crawl scale.
    def patched(off: Int, sz: Long): Array[Byte] = {
      val b = Multimodal.syntheticWav(1L, 100).clone()
      b(off) = (sz & 0xFF).toByte; b(off + 1) = ((sz >> 8) & 0xFF).toByte
      b(off + 2) = ((sz >> 16) & 0xFF).toByte
      b(off + 3) = ((sz >> 24) & 0xFF).toByte
      b
    }
    // offsets 16 / 40 are the fmt / data chunk size fields of the
    // canonical 44-byte header syntheticWav writes
    for (off <- Seq(16, 40); sz <- Seq(0x7FFFFFF8L, 0x7FFFFFFFL, 0xFFFFFFF0L)) {
      val evil = patched(off, sz)
      // the direct parser must reject, not crash
      assert(Multimodal.parseWavPcm16(evil).isEmpty, s"parser off=$off sz=$sz")
      // and the public path must agree with the AudioSystem fallback on the
      // same bytes (never throw, never a third behavior)
      assert(Multimodal.decodeAudio(evil).map { case (r, c, s) => (r, c, s.toSeq) } ==
        Multimodal.decodeAudioJdk(evil).map { case (r, c, s) => (r, c, s.toSeq) },
        s"parity off=$off sz=$sz")
    }
    // the 44-byte header-only variant of the same attack (huge declared
    // data size, zero actual payload) — previously a multi-GB allocation
    val evil44 = patched(40, 0x7FFFFFF8L).take(44)
    assert(Multimodal.parseWavPcm16(evil44).isEmpty)
    assert(Multimodal.decodeAudio(evil44).map { case (r, c, s) => (r, c, s.toSeq) } ==
      Multimodal.decodeAudioJdk(evil44).map { case (r, c, s) => (r, c, s.toSeq) })
    // sanity: the patch helper itself didn't break well-formed decode
    assert(Multimodal.parseWavPcm16(Multimodal.syntheticWav(1L, 100)).isDefined)
  }

  test("frame-sampling entry points reject stride < 1 on the driver") {
    val media = Multimodal.syntheticVideos(spark.range(2).toDF("doc_id"), "doc_id")
    for (bad <- Seq(0, -1)) {
      intercept[IllegalArgumentException](Multimodal.frameStats(media, stride = bad))
      intercept[IllegalArgumentException](Multimodal.embedFrames(media, stride = bad))
      intercept[IllegalArgumentException](Multimodal.videoEmbeddings(media, stride = bad))
    }
  }

  test("frameStats samples every 2nd real frame with analytic means") {
    val ids = spark.range(30).toDF("doc_id")
    val out = Multimodal.frameStats(
        Multimodal.syntheticVideos(ids, "doc_id"), stride = 2)
      .collect().map(s => (s.id, s.frame_idx) -> s).toMap
    (0L until 30L).foreach { id =>
      val (w, h, nf) = ((16 + id % 5).toInt, (12 + id * 3 % 5).toInt,
        (2 + id % 3).toInt)
      val want = (0 until nf).filter(_ % 2 == 0)
      assert(out.keys.filter(_._1 == id).map(_._2).toSet == want.toSet,
        s"sampled frames of $id")
      want.foreach { f =>
        val s = out((id, f))
        assert((s.width, s.height) == (w, h), s"dims of $id/$f")
        val sv = (for (y <- 0 until h; x <- 0 until w)
          yield (id + 11 * f + 3 * x + 5 * y) % 256).sum
        assert(s.avg_v == sv.toDouble / (w * h), s"avg_v of $id/$f")
      }
    }
  }

  test("video near-dup by frame-set similarity finds planted tweaked clips") {
    import spark.implicits._
    // 25 diverse block-pattern clips + a tweaked NEAR-duplicate of each
    // (2 of 16 cells repainted per frame): the q61-pipeline regime over
    // real multi-frame decode
    val media = spark.range(25).as[Long].mapPartitions(_.flatMap { id =>
      Iterator(
        Multimodal.MediaRow(id, Multimodal.patternGif(id)),
        Multimodal.MediaRow(id + 1000L,
          Multimodal.patternGif(id, tweakCells = 2)))
    })
    val pairs = Multimodal.videoNearDupPairs(media, minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 25L).map(i => (i, i + 1000L)).toSet
    assert(pairs == planted,
      s"missed ${planted -- pairs}, spurious ${pairs -- planted}")
    // per-frame embeddings carry the frame index and stay unit-norm
    val fe = Multimodal.embedFrames(media).toDF()
    val norms = fe.select(Similarity.l2Norm(Similarity.toDouble(col("embedding"))))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
    assert(fe.filter(col("id") === 0).count() == 3) // patternGif default frames
  }

  test("bucket-cap drops surface as an observed metric (single-consumer plan)") {
    // 60 identical docs collapse to one signature, so every band bucket they
    // fill exceeds the cap and is dropped. The guard reports dropped mass via
    // Dataset.observe; driven on a single-consumer plan because Spark does
    // not surface CollectMetrics from inside AQE stages feeding a self-join
    // (the BucketCapMetric scaladoc documents the limitation — the semantic
    // risk itself is closed structurally by dedupCorpus, tested below)
    val many = (0 until 60).map(i => (i.toLong,
      "identical degenerate boilerplate text repeated across the corpus body"))
    val df = (many :+ (1000L, "one genuinely unique document with its own words"))
      .toDF("doc_id", "text")
    @volatile var metrics = Map.empty[String, (Long, Long)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith(Dedup.BucketCapMetric))
            metrics += name ->
              ((row.getAs[Long]("dropped_rows"), row.getAs[Long]("max_bucket")))
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.capBuckets(
        Dedup.bandedSignatures(Dedup.minhashSignatures(df, "doc_id", "text")),
        Some(30)).collect()
      val deadline = System.currentTimeMillis() + 15000
      while (metrics.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100) // QueryExecutionListener delivery is async
      assert(metrics.nonEmpty, "no bucket-cap metric observed within 15s")
      val (dropped, maxBucket) = metrics.values.head
      assert(dropped == 60L * 32, s"60 docs x 32 bands should drop, got $dropped")
      assert(maxBucket == 60L, s"expected the degenerate bucket size, got $maxBucket")
    } finally spark.listenerManager.unregister(listener)
  }

  test("dedupCorpus: identical groups larger than the band-bucket cap still collapse (exact pass first)") {
    val boiler = (0 until 50).map(i => (i.toLong,
      "exact same boilerplate body repeated verbatim in every copy of this document"))
    val near = Seq((100L, base), (101L, base + " extra"))
    val df = (boiler ++ near).toDF("doc_id", "text")
    // the advisor scenario: a bare cap-guarded near-dup pass emits NO pairs
    // for the oversized identical group (every band bucket it fills is
    // dropped), so the most-duplicated content would survive removeNearDups
    val rawPairs = Dedup.minhashDedupPairs(df, "doc_id", "text",
      minJaccard = 0.3, maxBucketSize = Some(10))
    assert(rawPairs.filter(col("id1") < 50 && col("id2") < 50).isEmpty)
    // the terminal collapses exact duplicates BEFORE banding, so the group
    // reduces to its min-id representative regardless of the cap
    val out = Dedup.dedupCorpus(df, "doc_id", "text", minJaccard = 0.3,
        maxBucketSize = Some(10))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 100L))
  }

  test("bucketCapReport returns dropped mass programmatically (Observation, no listener)") {
    // 12 identical docs share one signature: every one of the 32 band
    // buckets they fill holds 12 rows, all over a cap of 5
    val df = (0 until 12).map(i => (i.toLong,
      "identical degenerate boilerplate text repeated across the corpus body"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text")
    val r = Dedup.bucketCapReport(sigs, cap = Some(5))
    assert(r.droppedRows == 12L * 32, s"expected 384 dropped (id,band) rows, got $r")
    assert(r.maxBucket == 12L, s"expected max bucket 12, got $r")
    // a corpus of distinct docs under the same cap drops nothing
    val clean = Dedup.bucketCapReport(
      Dedup.minhashSignatures(corpus, "doc_id", "text"), cap = Some(5))
    assert(clean.droppedRows == 0L, s"clean corpus must drop nothing, got $clean")
    assert(clean.maxBucket >= 1L && clean.maxBucket <= 5L, s"got $clean")
    // uncapped: nothing dropped by construction, cap honestly reported None
    val uncapped = Dedup.bucketCapReport(sigs, cap = None)
    assert(uncapped.droppedRows == 0L && uncapped.maxBucket == 12L &&
      uncapped.cap.isEmpty, s"got $uncapped")
  }

  test("dedupCorpusDiagnostic: same corpus as dedupCorpus, plus the cap report") {
    val boiler = (0 until 50).map(i => (i.toLong,
      "exact same boilerplate body repeated verbatim in every copy of this document"))
    val df = (boiler ++ Seq((100L, base), (101L, base + " extra")))
      .toDF("doc_id", "text")
    val (deduped, report) = Dedup.dedupCorpusDiagnostic(df, "doc_id", "text",
      minJaccard = 0.3, maxBucketSize = Some(10))
    val out = deduped.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 100L)) // identical to dedupCorpus (tested above)
    // the exact collapse runs BEFORE banding, so the 50-copy group is one
    // representative and nothing exceeds the cap — the report proves the
    // terminal's structural fix rather than merely asserting it
    assert(report.droppedRows == 0L, s"post-collapse banding must be under cap: $report")
    assert(report.maxBucket <= 10L && report.cap.contains(10), s"got $report")
  }

  test("cosineLshPairs executes the upstream exactly once") {
    // the prepared projection fans out to ~5 subplans; with an expensive
    // decode/embed upstream its materialization must make it run once
    val counter = spark.sparkContext.longAccumulator("graft_upstream_rows")
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val n = e.count()
    val tick = udf { (id: Long) => counter.add(1L); id }.asNondeterministic()
    val up = e.select(tick(col("vec_id")).as("vec_id"), col("embedding"))
    Similarity.cosineLshPairs(up, "vec_id", "embedding", minCos = 0.95,
        bits = 256, bands = 16)
      .write.format("noop").mode("overwrite").save()
    assert(counter.value == n,
      s"upstream evaluated ${counter.value} rows for an $n-row corpus — not once")
  }

  test("k-means centroids ignore zero-norm vectors (no divisor bias, no arbitrary cell)") {
    val dims = 8
    def vec(seed: Int) =
      Array.tabulate(dims)(d => (((seed * 31 + d * 17) % 13) - 6).toFloat / 7f)
    val rows = (0 until 20).map(i => (i.toLong, vec(i)))
    val withZero = (rows :+ (999L, Array.fill(dims)(0f))).toDF("id", "v")
    val without = rows.toDF("id", "v")
    val a = Similarity.kmeansCentroids(withZero, "id", "v", k = 3, iters = 3)
    val b = Similarity.kmeansCentroids(without, "id", "v", k = 3, iters = 3)
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((_, ca), (_, cb)) =>
      // epsilon compare, not bit-exact: centroid means fold doubles over
      // partitions whose slicing differs between the 20- and 21-row inputs
      // (Similarity scaladoc documents the nondeterminism)
      assert(ca.zip(cb).forall { case (x, y) => math.abs(x - y) < 1e-5f },
        "zero-norm row changed a centroid")
      val nrm = math.sqrt(ca.map(x => x.toDouble * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-4)
    }
  }

  // ---- corpus curation (contamination / splits / gating) -----------------

  test("benchmarkContamination: full, partial, and zero overlap") {
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, base),                       // identical to the benchmark doc
      (1L, base + " extra trailing words here"), // shares most k-grams (8/12 at the default k=8)
      (2L, "entirely disjoint content about catalyst expression codegen plans")
    ).toDF("doc_id", "text")
    val out = Corpus.benchmarkContamination(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L)._3 == 1.0, s"identical doc must be fully contaminated: ${out(0L)}")
    assert(out(1L)._3 > 0.5 && out(1L)._3 < 1.0, s"extended doc partial: ${out(1L)}")
    assert(out(2L) == ((out(2L)._1, 0L, 0.0)), s"disjoint doc clean: ${out(2L)}")
  }

  test("decontaminate drops only the docs at/above the overlap bar") {
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, base), // fully contaminated
      (1L, "entirely disjoint content about catalyst expression codegen plans"),
      (2L, "another unrelated body of text concerning shuffle partitions")
    ).toDF("doc_id", "text")
    val kept = Corpus.decontaminate(corpus, bench, "doc_id", "text", maxOverlap = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  test("hashSplit: deterministic, exhaustive, proportions near weights") {
    val ids = spark.range(1000).select(col("id").as("doc_id"))
    val a = Corpus.hashSplit(ids, "doc_id")
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000L)
    assert(counts("train") > 760 && counts("train") < 840, s"train: $counts")
    assert(counts("val") > 60 && counts("val") < 140, s"val: $counts")
    assert(counts("test") > 60 && counts("test") < 140, s"test: $counts")
    // same key -> same split, independent of invocation or row order
    val b = Corpus.hashSplit(ids.orderBy(col("doc_id").desc), "doc_id")
    assert(a.select("doc_id", "split").exceptAll(b.select("doc_id", "split")).isEmpty)
  }

  test("stratifiedSample: per-stratum fractions, 1.0 keeps all, deterministic") {
    val df = spark.range(999)
      .select(col("id").as("doc_id"),
        element_at(array(lit("en"), lit("zh"), lit("de")),
          (col("id") % 3 + 1).cast("int")).as("lang"))
    val fr = Map("en" -> 0.5, "zh" -> 1.0)
    val s1 = Corpus.stratifiedSample(df, "doc_id", "lang", fr, default = 0.1)
    val counts = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("zh") == 333L, s"fraction 1.0 must keep the whole stratum: $counts")
    assert(counts("en") > 130 && counts("en") < 200, s"en ~50%: $counts")
    assert(counts.getOrElse("de", 0L) > 10 && counts("de") < 60, s"de ~10%: $counts")
    val s2 = Corpus.stratifiedSample(df, "doc_id", "lang", fr, default = 0.1)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
  }

  test("repetitionStats: handcrafted fractions and short-doc nulls") {
    val df = Seq((0L, "a a a b"), (1L, "x y")).toDF("doc_id", "text")
    val r = TextStats.repetitionStats(df, "text")
      .select("doc_id", "dup_word_frac", "top_bigram_frac", "dup_trigram_frac")
      .collect().map(x => x.getLong(0) -> x).toMap
    // tokens [a,a,a,b]: 2 distinct -> dup 2/4; bigrams [aa,aa,ab]: top 2/3;
    // trigrams [aaa,aab]: both distinct -> dup 0
    assert(r(0L).getDouble(1) == 0.5)
    assert(math.abs(r(0L).getDouble(2) - 2.0 / 3) < 1e-15)
    assert(r(0L).getDouble(3) == 0.0)
    // 2 tokens: one bigram, no trigram -> null for the trigram metric
    assert(r(1L).getDouble(2) == 1.0 && r(1L).isNullAt(3))
  }

  test("repetitionFilter: each gate drops its planted doc; null metrics pass") {
    val docs = Seq(
      (0L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (1L, "spam spam spam spam spam word other things here now"), // dup words
      (2L, "ab cd ab cd ab cd ab cd ab cd"),                       // top bigram
      (3L, "solo"))                                // no bi/trigrams -> nulls pass
    val kept = TextStats.repetitionFilter(docs.toDF("doc_id", "text"), "text",
        maxDupWord = 0.3, maxTopBigram = 0.3, maxDupTrigram = 0.9)
      .select("doc_id").as[Long].collect().toSet
    // doc 1: 10 toks, 6 distinct -> dup 0.4 > 0.3; doc 2: top bigram
    // "ab cd" 5 of 9 -> 0.56 > 0.3; doc 3's single token has NULL bigram and
    // trigram metrics (absence of evidence) and dup_word 0 -> passes
    assert(kept == Set(0L, 3L))
    assert(TextStats.repetitionFilter(docs.toDF("doc_id", "text"), "text")
      .columns.toSeq == Seq("doc_id", "text"))
  }

  test("sourceQualityGate keeps only sources whose integer-point mean clears the bar") {
    val good = "the quick brown fox jumps over the lazy dog and runs far away " +
      "home tonight with many more plain words of normal prose " * 2
    val bad = "!!! ??? ;;; ,,, spam"
    val df = (
      (0 until 4).map(i => (i.toLong, "srcA", good)) ++
      (4 until 8).map(i => (i.toLong, "srcB", bad))
    ).toDF("doc_id", "source", "text")
    val out = Corpus.sourceQualityGate(df, "source", "text", minAvgPoints = 5.0)
    val rows = out.select("doc_id", "source", "avg_points").collect()
    assert(rows.forall(_.getString(1) == "srcA"), "low-quality source must be gated out")
    assert(rows.length == 4 && rows.forall(_.getDouble(2) >= 5.0))
    // sourceless docs form their own group and gate on ITS mean — they must
    // not silently vanish through a null-unsafe join key
    val withNull = df.unionByName(
      Seq((8L, null.asInstanceOf[String], good), (9L, null.asInstanceOf[String], good))
        .toDF("doc_id", "source", "text"))
    val kept = Corpus.sourceQualityGate(withNull, "source", "text", minAvgPoints = 5.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L, 8L, 9L), s"null-source group dropped: $kept")
  }

  test("hashSplit rejects out-of-range weights even when they sum to 1") {
    val ids = spark.range(10).select(col("id").as("doc_id"))
    intercept[IllegalArgumentException] {
      Corpus.hashSplit(ids, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.2, "test" -> -0.1))
    }
  }

  test("redactPii replaces emails, IPs and phones and counts per pattern") {
    val df = Seq(
      (0L, "mail a.b-c%d@sub.example.co.uk and x@y.io end"),
      (1L, "server at 192.168.0.1 dials +1-555-1234 and 555-867-5309"),
      (2L, "no pii here at all"),
      (3L, "")).toDF("doc_id", "text")
    val out = Corpus.redactPii(df, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[String]("text_redacted")
      == "mail <EMAIL> and <EMAIL> end")
    assert(out(0L).getAs[Int]("n_emails") == 2)
    // the dashed-phone pattern requires a 3-digit prefix, so "+1-555-1234"
    // is NOT matched (international forms are a different pattern family)
    // while "555-867-5309" is
    assert(out(1L).getAs[String]("text_redacted")
      == "server at <IP> dials +1-555-1234 and <PHONE>")
    assert(out(1L).getAs[Int]("n_ips") == 1)
    assert(out(1L).getAs[Int]("n_phones") == 1)
    assert(out(2L).getAs[String]("text_redacted") == "no pii here at all")
    assert((out(2L).getAs[Int]("n_emails"), out(2L).getAs[Int]("n_ips"),
      out(2L).getAs[Int]("n_phones")) == ((0, 0, 0)))
    assert(out(3L).getAs[String]("text_redacted") == "")
  }

  test("removeBoilerplateLines drops corpus-frequent lines, keeps order") {
    // 12 docs share header/footer; each has 2 unique content lines; one
    // content line ("shared snippet") appears in exactly 3 docs
    val docs = (0 until 12).map { i =>
      val shared = if (i < 3) "shared snippet\n" else ""
      (i.toLong, s"HEADER\nunique a $i\n${shared}unique b $i\nFOOTER")
    }.toDF("doc_id", "text")
    val out = Corpus.removeBoilerplateLines(docs, "doc_id", "text",
        minDocs = 4).collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 12)
    (0 until 12).foreach { i =>
      val r = out(i.toLong)
      val shared = if (i < 3) "shared snippet\n" else ""
      // header/footer (12 docs >= 4) dropped; shared snippet (3 < 4) kept
      assert(r.getAs[String]("text_clean")
        == s"unique a $i\n${shared}unique b $i", s"doc $i")
      assert(r.getAs[Long]("n_lines_dropped") == 2L, s"doc $i dropped")
    }
    // at minDocs = 3 the shared snippet crosses the bar too
    val strict = Corpus.removeBoilerplateLines(docs, "doc_id", "text",
        minDocs = 3).collect().map(r => r.getLong(0) -> r).toMap
    (0 until 3).foreach { i =>
      assert(strict(i.toLong).getAs[String]("text_clean")
        == s"unique a $i\nunique b $i", s"strict doc $i")
      assert(strict(i.toLong).getAs[Long]("n_lines_dropped") == 3L)
    }
    // an all-boilerplate doc survives as an empty string, not a lost row
    val allBoiler = docs.unionByName(
      Seq((100L, "HEADER\nFOOTER")).toDF("doc_id", "text"))
    val e = Corpus.removeBoilerplateLines(allBoiler, "doc_id", "text",
        minDocs = 4).filter(col("doc_id") === 100L).collect().head
    assert(e.getAs[String]("text_clean") == "")
    assert(e.getAs[Long]("n_lines_kept") == 0L)
    // a null-text doc also SURVIVES — as ("", 0 kept, 0 dropped) — instead
    // of silently vanishing (split(null) → null array used to explode to
    // zero rows); membership changes belong to the dedup/gating terminals
    val withNull = docs.unionByName(
      Seq((200L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val nOut = Corpus.removeBoilerplateLines(withNull, "doc_id", "text",
        minDocs = 4)
    assert(nOut.count() == 13L) // no row lost
    val n = nOut.filter(col("doc_id") === 200L).collect().head
    assert(n.getAs[String]("text_clean") == "")
    assert(n.getAs[Long]("n_lines_kept") == 0L)
    assert(n.getAs[Long]("n_lines_dropped") == 0L)
    // and the null row doesn't perturb any other doc's result
    val others = nOut.filter(col("doc_id") < 12L)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("text_clean")).toMap
    (0 until 12).foreach { i =>
      val shared = if (i < 3) "shared snippet\n" else ""
      assert(others(i.toLong) == s"unique a $i\n${shared}unique b $i")
    }
  }

  test("prefixSum matches the single-partition window on shuffled input") {
    val n = 500
    val df = spark.range(n).select(col("id").as("k"),
        (pmod(col("id") * 37 + 11, lit(97)) + 1).as("v"))
      .repartition(13) // deliberately scrambled input partitioning
    val out = Corpus.prefixSum(df, "k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // expected: plain running total in k order, computed on the driver
    val vals = (0L until n).map(k => k -> ((k * 37 + 11) % 97 + 1))
    var acc = 0L
    vals.foreach { case (k, v) =>
      acc += v
      assert(out(k) == acc, s"cumsum at k=$k: ${out(k)} != $acc")
    }
  }

  test("packSequences assigns each doc the chunk its first token lands in") {
    val df = Seq((0L, 4), (1L, 4), (2L, 4), (3L, 4)).toDF("k", "tokens")
    val out = Corpus.packSequences(df, "k", "tokens", capacity = 10)
      .select("k", "cum_tokens", "chunk").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // cums 4,8,12,16; first-token offsets 0,4,8,12 -> chunks 0,0,0,1
    assert(out == Map(0L -> (4L, 0L), 1L -> (8L, 0L),
      2L -> (12L, 0L), 3L -> (16L, 1L)))
  }

  // ---- int8 quantization --------------------------------------------------

  test("quantize: exact scale and components, zero-vector guard") {
    // max = 127 makes scale exactly 1.0, so every quotient is exact: the
    // -63.5 component pins round-half-away-from-zero (the rule the DuckDB
    // oracle shares)
    val df = Seq(
      (0L, Array(127f, -63.5f, 31.25f, 0f)),
      (1L, Array(0f, 0f, 0f, 0f))
    ).toDF("id", "v")
    val out = Quantize.quantize(df, "id", "v").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Byte](1), r.getDouble(2))).toMap
    assert(out(0L)._2 == 1.0)
    assert(out(0L)._1 == Seq[Byte](127, -64, 31, 0))
    assert(out(1L)._2 == 0.0 && out(1L)._1 == Seq[Byte](0, 0, 0, 0))
  }

  test("quantize property: components bounded by 127, error under the analytic bound") {
    // 60 seeded random vectors of varying dimension/magnitude; per-component
    // error <= scale/2, so rel L2 error <= 0.5·scale·sqrt(d)/‖v‖ — with
    // ‖v‖ >= max|v| that is sqrt(d)/254, < 0.032 at d = 64
    val rnd = new scala.util.Random(7)
    val rows = (0 until 60).map { i =>
      val d = 4 + rnd.nextInt(61)
      val mag = math.pow(10, rnd.nextInt(5) - 2).toFloat
      (i.toLong, Array.fill(d)((rnd.nextFloat() * 2 - 1) * mag))
    }
    val df = rows.toDF("id", "v")
    val q = Quantize.quantize(df, "id", "v").collect()
    q.foreach { r =>
      val comps = r.getSeq[Byte](1)
      assert(comps.forall(c => c >= -127 && c <= 127), s"id ${r.getLong(0)}: $comps")
    }
    val errs = Quantize.reconstructionError(df, "id", "v").collect()
    errs.foreach { r =>
      val d = rows(r.getLong(0).toInt)._2.length
      val bound = 0.5 * math.sqrt(d) / 127.0 + 1e-9
      assert(r.getDouble(1) <= bound,
        s"id ${r.getLong(0)}: rel_err ${r.getDouble(1)} > bound $bound (d=$d)")
    }
  }

  test("prefixSum treats null values as 0 consistently") {
    val df = Seq[(Long, java.lang.Integer)]((0L, 5), (1L, null), (2L, 3), (3L, null))
      .toDF("k", "v").repartition(3)
    val out = Corpus.prefixSum(df, "k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(0L -> 5L, 1L -> 5L, 2L -> 8L, 3L -> 8L))
    // non-integral value columns are rejected loudly (exactness contract)
    intercept[IllegalArgumentException] {
      Corpus.prefixSum(Seq((0L, 1.5)).toDF("k", "v"), "k", "v")
    }
  }

  test("quantization reconstruction error is small on the fixture corpus") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val errs = Quantize.reconstructionError(e, "vec_id", "embedding")
      .select(max(col("rel_err"))).collect()(0).getDouble(0)
    assert(errs < 0.05, s"max relative L2 reconstruction error $errs")
  }

  test("quantized ANN ranks an exact duplicate vector first") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    // plant an exact copy of vector 0 under a high id: quantization preserves
    // identity, so the quantized cosine of (0, copy) is exactly 1.0
    val copy = e.filter(col("vec_id") === 0)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    val out = Quantize.annTopKQuantized(e.unionByName(copy),
        e.filter(col("vec_id") === 0), "vec_id", "embedding", topK = 1)
      .collect()
    assert(out.length == 1 && out(0).getLong(1) == 500000L &&
      out(0).getDouble(2) == 1.0, out.mkString(","))
  }

  test("duplicateSpans finds cross-doc windows only; short docs contribute none") {
    val df = Seq(
      (0L, "a b c d e f"),           // shares "a b c d" with 1
      (1L, "x a b c d y"),
      (2L, "a b c d"),               // exactly one window, same span
      (3L, "p q r"),                 // shorter than w: no windows
      (4L, "m m m m m m m")          // self-repeats only (one doc)
    ).toDF("doc_id", "text")
    val out = Spans.duplicateSpans(df, "doc_id", "text", w = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // "a b c d" occurs once in each of docs 0, 1, 2; "m m m m" is one doc
    // (self-repetition is repetitionStats' job, not counted here)
    assert(out == Set(("a b c d", 3L, 3L)))
    // raising minDocs above the multiplicity empties the report
    assert(Spans.duplicateSpans(df, "doc_id", "text", w = 4, minDocs = 4).isEmpty)
  }

  test("dropDuplicateSpans removes covered tokens, keeps docs, unions overlaps") {
    val df = Seq(
      (0L, "one two three four tail0"),     // window at 0 duplicated
      (1L, "head1 one two three four"),
      (2L, "one two three four five"),      // overlapping windows both dup'd
      (3L, "zz one two three four five yy"),
      (4L, "short doc"),                    // < w tokens: untouched
      (5L, null.asInstanceOf[String])       // null text: empty doc
    ).toDF("doc_id", "text")
    val out = Spans.dropDuplicateSpans(df, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    // docs 2/3 share BOTH "one two three four" and "two three four five":
    // covered positions union, no double count
    assert(out(0L) == ("tail0", 4))
    assert(out(1L) == ("head1", 4))
    assert(out(2L) == ("", 5))              // fully covered -> empty, kept
    assert(out(3L) == ("zz yy", 5))
    assert(out(4L) == ("short doc", 0))
    assert(out(5L) == ("", 0))
  }

  test("capPerKey is deterministic, monotone in cap, and a no-op above the group size") {
    val df = Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val cap5 = Corpus.capPerKey(df, "source", "doc_id", 5)
      .select("doc_id").as[Long].collect().toSet
    val cap5b = Corpus.capPerKey(df.repartition(7), "source", "doc_id", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(cap5 == cap5b, "selection must not depend on partitioning")
    val cap10 = Corpus.capPerKey(df, "source", "doc_id", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(cap5.subsetOf(cap10), "raising cap only adds rows")
    val counts = Corpus.capPerKey(df, "source", "doc_id", 5)
      .groupBy("source").count().as[(String, Long)].collect()
    assert(counts.forall(_._2 == 5))
    assert(Corpus.capPerKey(df, "source", "doc_id", 100000).count() == df.count())
  }

  test("targetMixture keeps the limiting source whole and hits the target ratios") {
    val df = Tables.read(spark, "/root/testdata/sf0.1", "documents")
    val out = Corpus.targetMixture(df, "doc_id", "source",
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
    val got = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(got.keySet == Set("src0", "src1", "src2"), "non-target sources dropped")
    // uniform 250/source: src0 (largest weight) is limiting -> kept whole;
    // others are hash-binomial around rate * 250
    assert(got("src0") == 250L)
    assert(math.abs(got("src1") - 150L) <= 30, got.toString) // rate 0.6
    assert(math.abs(got("src2") - 100L) <= 30, got.toString) // rate 0.4
    // a target source with zero rows is a loud error, not an empty sample
    val e = intercept[IllegalArgumentException] {
      Corpus.targetMixture(df, "doc_id", "source", Map("nope" -> 1.0))
    }
    assert(e.getMessage.contains("no rows"))
  }

  test("r10 curation gates compose end-to-end: URLs -> C4 -> Gopher -> dedup -> mixture -> chunks") {
    val sentence =
      "where the large animals have wandered with their keepers that evening. "
    val prose = (sentence * 8).trim // one 88-word line of 8 sentences
    def mk(id: Long, src: String, dom: String, text: String) =
      (id, src, s"http://$dom/p/$id", text)
    val rows =
      (0 until 12).map(i => mk(i, "big", "good.com", s"$prose marker$i only.")) ++
        Seq(mk(100L, "big", "good.com", s"$prose marker0 only.")) ++ // exact dup of doc 0
        (200 until 203).map(i => mk(i, "small", "fine.org", s"$prose tail$i here.")) ++
        Seq(
          mk(300L, "big", "spam.net", prose),                 // blocked domain
          mk(301L, "big", "good.com", "short junk"),          // no sentence -> C4 drop
          mk(302L, "big", "good.com", prose.replace(".", ""))) // no terminal punct
    val df = rows.toDF("doc_id", "source", "url", "text")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").as[Long].collect().toSet
    val gated = Urls.filterUrls(df, "url", blockedDomains = Seq("spam.net"))
    assert(ids(df) -- ids(gated) == Set(300L))
    val cleaned = TextStats.c4Filter(gated, "text")
    val quality = TextStats.gopherFilter(cleaned, "text")
    assert(ids(gated) -- ids(quality) == Set(301L, 302L))
    val deduped = quality.join(
      Dedup.exact(quality, "doc_id", "text").select("doc_id"),
      Seq("doc_id"), "left_semi")
    assert(ids(quality) -- ids(deduped) == Set(100L)) // dup collapsed to min id 0
    val mixed = Corpus.temperatureMixture(deduped, "doc_id", "source", alpha = 0.5)
    val bySrc = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    // small (3 docs) is limiting -> kept whole; big thins toward sqrt ratio
    assert(bySrc("small") == 3L, bySrc.toString)
    assert(bySrc("big") >= 1L && bySrc("big") < 12L, bySrc.toString)
    val chunks = Corpus.chunkDocuments(mixed, "doc_id", "text", chunkTokens = 16)
    // every surviving doc chunks, no doc invents chunks; 90 tokens -> 6 tiles
    assert(ids(chunks) == ids(mixed))
    val perDoc = chunks.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(perDoc.values.forall(_ == 6L), perDoc.toString)
  }

  test("chunkDocuments: overlap windows, disjoint default, short tails, domain guards") {
    val df = Seq((0L, "a b c d e f g h i j"), (1L, "x y")).toDF("doc_id", "text")
    val over = Corpus.chunkDocuments(df, "doc_id", "text", chunkTokens = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3))).toMap
    // doc 0: starts 0,2,4,6,8 -> windows of 4, tail shorter
    assert(over((0L, 0)) == (4, "a b c d"))
    assert(over((0L, 1)) == (4, "c d e f"))
    assert(over((0L, 3)) == (4, "g h i j"))
    assert(over((0L, 4)) == (2, "i j"))
    assert(over((1L, 0)) == (2, "x y") && !over.contains((1L, 1)))
    // default stride tiles disjointly: every token in exactly one chunk
    val tiles = Corpus.chunkDocuments(df, "doc_id", "text", chunkTokens = 4)
      .filter(col("doc_id") === 0L).orderBy(col("chunk_idx"))
      .select("chunk_text").as[String].collect()
    assert(tiles.toSeq == Seq("a b c d", "e f g h", "i j"))
    intercept[IllegalArgumentException] {
      Corpus.chunkDocuments(df, "doc_id", "text", chunkTokens = 4, stride = 5)
    }
    // a negative stride is a caller bug, not the tiling sentinel
    intercept[IllegalArgumentException] {
      Corpus.chunkDocuments(df, "doc_id", "text", chunkTokens = 4, stride = -1)
    }
  }

  test("sampleByFraction: per-row rates, clamping, null drops, determinism") {
    val df = Seq(
      (0L, 1.0), (1L, 1.0), (2L, 1.0),        // rate 1 -> always kept
      (3L, 0.0), (4L, 0.0),                   // rate 0 -> never kept
      (5L, 1.7), (6L, -2.0),                  // clamped to 1 / 0
      (8L, Double.NaN),                       // NaN (0/0-derived rate) -> never kept
      (7L, Double.NaN)).toDF("doc_id", "frac")
      .withColumn("frac", when(col("doc_id") === 7L, lit(null)).otherwise(col("frac")))
    def run() = Corpus.sampleByFraction(df, "doc_id", "frac")
      .select("doc_id").as[Long].collect().toSet
    val got = run()
    assert(got == Set(0L, 1L, 2L, 5L))
    assert(run() == got)
    // proportionality on a real rate: ~half of 1000 keys at frac 0.5
    val many = (0L until 1000L).toDF("doc_id").withColumn("frac", lit(0.5))
    val n = Corpus.sampleByFraction(many, "doc_id", "frac").count()
    assert(math.abs(n - 500L) < 80, s"kept $n of 1000 at rate 0.5")
  }

  test("Urls: host/domain extraction, rule gate, domain cap") {
    val rows = Seq(
      (0L, "https://www.example.co.uk/path"),
      (1L, "http://sub.a.spam.com/x?y=1"),
      (2L, "https://example.com"),
      (3L, "http://localhost/x"),
      (4L, "http://192.168.0.1/a"),
      (5L, "ftp://user:pw@files.example.org:21/a"),
      (6L, "not a url"),
      (7L, null.asInstanceOf[String]),
      (8L, "http://a.co.uk/"),
      (9L, "http://co.uk/"),
      (10L, "http://x.com/1234567890123456789"))
    val df = rows.toDF("doc_id", "url")
    val r = Urls.urlStats(df, "url", blockedDomains = Seq("spam.com"))
      .collect().map(x => x.getLong(0) -> x).toMap
    def s(id: Long, c: String) = r(id).getString(r(id).fieldIndex(c))
    def b(id: Long, c: String) = r(id).getBoolean(r(id).fieldIndex(c))
    assert(s(0L, "host") == "www.example.co.uk" && s(0L, "domain") == "example.co.uk")
    assert(s(1L, "domain") == "spam.com" && b(1L, "blocked") && !b(1L, "url_ok"))
    assert(s(2L, "domain") == "example.com")           // 2 labels pass through
    assert(s(3L, "domain") == "localhost")
    assert(s(4L, "domain") == "192.168.0.1")           // IPs never truncated
    assert(s(5L, "host") == "files.example.org" && s(5L, "domain") == "example.org")
    assert(s(6L, "host") == "" && !b(6L, "url_ok"))
    assert(!b(7L, "url_ok") && s(7L, "host") == "")
    assert(s(8L, "domain") == "a.co.uk")               // multi-label suffix
    assert(s(9L, "domain") == "co.uk")                 // the bare suffix edge
    assert(!b(10L, "url_ok"))                          // digit_frac > 0.5
    assert(b(0L, "url_ok") && b(2L, "url_ok"))
    // maxLen gate
    val short = Urls.urlStats(df.filter(col("doc_id") === 0L), "url", maxLen = 10)
      .head()
    assert(!short.getBoolean(short.fieldIndex("url_ok")))
    // filter terminal keeps original columns only
    val kept = Urls.filterUrls(df, "url", blockedDomains = Seq("spam.com"))
    assert(kept.columns.toSeq == Seq("doc_id", "url"))
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(0L, 2L, 3L, 4L, 5L, 8L, 9L))
    // cap per domain: 3 docs on example.com -> 2 survive
    val many = Seq((1L, "http://a.example.com/1"), (2L, "http://b.example.com/2"),
      (3L, "http://example.com/3"), (4L, "http://other.org/")).toDF("doc_id", "url")
    assert(Urls.capPerDomain(many, "url", "doc_id", cap = 2).count() == 3)
  }

  test("domainReport: per-domain exact tallies and the blocklist-candidate flag") {
    val good = (1 to 40).map(i => "tok" + i).mkString("the and of to a is in for on with ", " ", "")
    val docs = Seq(
      (0L, "http://a.dup.com/1", "same same text here"),
      (1L, "http://b.dup.com/2", "same same text here"),   // exact dup of 0
      (2L, "http://dup.com/3", "other words entirely"),
      (3L, "http://good.org/x", good),                     // long, stopword-rich
      (4L, "http://good.org/y", good + " more")
    ).toDF("doc_id", "url", "text")
    val out = Urls.domainReport(docs, "url", "text",
        shortTokens = 3, maxDupRate = 0.2, minAvgQuality = 6.0)
      .collect().map(r => r.getString(0) -> r).toMap
    val dup = out("dup.com")
    assert(dup.getLong(dup.fieldIndex("docs")) == 3L)
    assert(dup.getLong(dup.fieldIndex("distinct_docs")) == 2L)
    assert(dup.getInt(dup.fieldIndex("flagged")) == 1)     // dup_rate 1/3 > 0.2
    val g = out("good.org")
    assert(g.getLong(g.fieldIndex("docs")) == 2L)
    assert(g.getLong(g.fieldIndex("distinct_docs")) == 2L)
    // 50-token stopword-rich low-punct docs score 5+3+2 = 10 -> unflagged
    assert(g.getDouble(g.fieldIndex("avg_quality")) == 10.0)
    assert(g.getInt(g.fieldIndex("flagged")) == 0)
  }

  test("image dHash: resize-invariant on patterns, tweak plants Hamming near-pairs") {
    // the same block pattern rendered at 32² and 64² samples identical cell
    // colors at every 9×8 grid point -> identical signature (the
    // resize-invariance dHash exists for)
    val a = Multimodal.dHashImage(Multimodal.patternPng(7L, 32, 32)).get
    val b = Multimodal.dHashImage(Multimodal.patternPng(7L, 64, 64)).get
    assert(a == b)
    // tweaked first cell -> small Hamming distance; the pairs op finds
    // every planted pair within the blocking guarantee
    val ids = 0L until 8L
    val rows = ids.map(i => Multimodal.MediaRow(i, Multimodal.patternPng(i, 32, 32))) ++
      ids.map(i => Multimodal.MediaRow(i + 100,
        Multimodal.patternPng(i, 32, 32, tweakCells = 1)))
    val media = spark.createDataset(rows.toSeq)
    val sigRows = Multimodal.imageDHash(media).collect()
    val sigs = sigRows.map(r => r.id -> r.dhash).toMap
    val planted = ids.map(i => (i, java.lang.Long.bitCount(sigs(i) ^ sigs(i + 100))))
    assert(planted.exists(_._2 <= 3), s"no planted pair within 3: $planted")
    val pairs = Multimodal.imageNearDupPairs(media, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.filter(_._2 <= 3).foreach { case (i, _) =>
      assert(pairs.contains((i, i + 100)), s"missing planted pair $i")
    }
    // unsigned halves recompose to the packed signature
    sigRows.foreach { d =>
      assert(((d.sig_hi << 32) | d.sig_lo) == d.dhash)
      assert(d.sig_hi >= 0L && d.sig_lo >= 0L)
    }
    // truncated/garbage bytes drop the row, not the task
    val poisoned = spark.createDataset(Seq(
      Multimodal.MediaRow(0L, Multimodal.patternPng(0L, 32, 32)),
      Multimodal.MediaRow(1L, Array[Byte](1, 2, 3))))
    assert(Multimodal.imageDHash(poisoned).collect().map(_.id).toSeq == Seq(0L))
  }

  test("audioFingerprint: gain-invariant contour, perturbation is near, poison drops") {
    val base = Multimodal.syntheticWav(5L, 1200)
    val sig = Multimodal.audioFingerprint(base).get
    // one-sample perturbation moves one frame's energy by at most 1 ->
    // at most the two adjacent contour bits flip
    val tweaked = base.clone()
    tweaked(44) = (tweaked(44) + 1).toByte
    val sig2 = Multimodal.audioFingerprint(tweaked).get
    assert(java.lang.Long.bitCount(sig ^ sig2) <= 2)
    // pairs op finds the planted near pair
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(0L, base),
      Multimodal.MediaRow(1L, tweaked),
      Multimodal.MediaRow(2L, Multimodal.syntheticWav(99L, 1400))))
    val pairs = Multimodal.audioNearDupPairs(media, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    // unsigned halves recompose; poison bytes drop the row
    val rows = Multimodal.audioFingerprints(media).collect()
    rows.foreach(r => assert(((r.sig_hi << 32) | r.sig_lo) == r.afp &&
      r.sig_hi >= 0L && r.sig_lo >= 0L))
    val poisoned = spark.createDataset(Seq(
      Multimodal.MediaRow(0L, base),
      Multimodal.MediaRow(1L, Array[Byte](82, 73, 70, 70))))
    assert(Multimodal.audioFingerprints(poisoned).collect().map(_.id).toSeq == Seq(0L))
  }

  test("incrementalMinhash: near-dup arrivals dropped, fresh kept, bloom is perf-only") {
    val seen = (0L to 9L).map(i =>
      (i, s"seen document number $i with a long enough body of tokens " +
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      // near-dup of seen 3: one appended token -> J = (n-3)/(n-2)
      (100L, "seen document number 3 with a long enough body of tokens " +
        "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
      // verbatim copy of seen 7
      (101L, "seen document number 7 with a long enough body of tokens " +
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // genuinely fresh
      (102L, "completely unrelated arrival about spark physical plans " +
        "and exchange reuse with nothing shared at the shingle level")
    ).toDF("doc_id", "text")
    for (fpp <- Seq(0.01, 0.5)) {
      val kept = Dedup.incrementalMinhash(arrivals, seen, "doc_id", "text",
          minJaccard = 0.8, fpp = fpp)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(102L), s"fpp=$fpp kept $kept")
    }
    // batch-internal duplicates are NOT the incremental contract: both
    // copies of a fresh doc survive (dedupe the batch itself separately)
    val twin = Seq(
      (200L, "twin fresh arrival with its own distinct shingle content here"),
      (201L, "twin fresh arrival with its own distinct shingle content here")
    ).toDF("doc_id", "text")
    assert(Dedup.incrementalMinhash(twin, seen, "doc_id", "text").count() == 2L)
  }

  test("repeatMixture: floor copies exact, fractional part hash-binomial, 0 drops") {
    val df = ((0 until 200).map(i => (i.toLong, "up")) ++
      (200 until 400).map(i => (i.toLong, "down")) ++
      (400 until 500).map(i => (i.toLong, "gone")) ++
      (500 until 600).map(i => (i.toLong, "other"))).toDF("doc_id", "source")
    val out = Corpus.repeatMixture(df, "doc_id", "source",
      factors = Map("up" -> 2.5, "down" -> 0.5, "gone" -> 0.0))
    val bySrc = out.groupBy("source").count().as[(String, Long)].collect().toMap
    // floor component is exact: every "up" row appears >= 2 times
    val upCounts = out.filter(col("source") === "up")
      .groupBy("doc_id").count().as[(Long, Long)].collect().map(_._2)
    assert(upCounts.forall(c => c == 2L || c == 3L))
    assert(bySrc("up") >= 400 && bySrc("up") <= 600)
    assert(bySrc("down") > 50 && bySrc("down") < 150)   // ~100 of 200
    assert(!bySrc.contains("gone"))
    assert(bySrc("other") == 100L)                       // default 1.0 exact
    // copy_idx is 0-based and dense per row
    val idxs = out.filter(col("source") === "up" && col("doc_id") === 0L)
      .select("copy_idx").as[Long].collect().sorted
    assert(idxs.headOption.contains(0L) && idxs.toSeq == idxs.indices.map(_.toLong))
    // determinism: same inputs, same realized multiset
    assert(out.count() ==
      Corpus.repeatMixture(df, "doc_id", "source",
        factors = Map("up" -> 2.5, "down" -> 0.5, "gone" -> 0.0)).count())
    intercept[IllegalArgumentException] {
      Corpus.repeatMixture(df, "doc_id", "source", Map("up" -> -1.0))
    }
  }

  test("temperatureMixture: realized counts track n^alpha, limiting source kept whole") {
    val df = ((0 until 400).map(i => (i.toLong, "srcA")) ++
      (400 until 500).map(i => (i.toLong, "srcB")) ++
      (500 until 525).map(i => (i.toLong, "srcC"))).toDF("doc_id", "source")
    val got = Corpus.temperatureMixture(df, "doc_id", "source", alpha = 0.5)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    // w = sqrt(n) = (20, 10, 5); t = min(n/w) = 5 -> targets (100, 50, 25):
    // srcC (the limiting source) is kept WHOLE, others are hash-binomial
    // around their target
    assert(got("srcC") == 25L, got.toString)
    assert(math.abs(got("srcA") - 100L) <= 30, got.toString)
    assert(math.abs(got("srcB") - 50L) <= 22, got.toString)
    // alpha = 1 is the natural distribution: every fraction is exactly 1
    val all = Corpus.temperatureMixture(df, "doc_id", "source", alpha = 1.0)
    assert(all.count() == 525L)
    // deterministic: same corpus, same alpha -> same membership
    val again = Corpus.temperatureMixture(df, "doc_id", "source", alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val first = Corpus.temperatureMixture(df, "doc_id", "source", alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(again == first)
    intercept[IllegalArgumentException] {
      Corpus.temperatureMixture(df, "doc_id", "source", alpha = 0.0)
    }
  }

  test("epochWaterfill: closed form matches an iterative reference; saturation laws hold") {
    // iterative reference: repeatedly cap every source whose saturation
    // price sits at-or-below the current uncapped water level (the <=
    // matches the operator's boundary), recompute, until stable
    def reference(rows: Seq[(String, Long, Long)], budget: Long,
                  emilli: Long): Map[String, Double] = {
      val bm = budget * 1000L
      var capped = Set.empty[String]
      var stable = false
      while (!stable) {
        val sCap = rows.filter(r => capped(r._1)).map(_._2 * emilli).sum
        val wUn = rows.filterNot(r => capped(r._1)).map(_._3).sum
        val newly = rows.filterNot(r => capped(r._1)).filter { case (_, n, w) =>
          wUn > 0L &&
            (n * emilli).toDouble * wUn.toDouble <= w.toDouble * (bm - sCap).toDouble
        }.map(_._1)
        if (newly.isEmpty) stable = true else capped ++= newly
      }
      val sCap = rows.filter(r => capped(r._1)).map(_._2 * emilli).sum
      val wUn = rows.filterNot(r => capped(r._1)).map(_._3).sum
      val level = if (wUn > 0L) (bm - sCap).toDouble / wUn.toDouble else 0.0
      rows.map { case (s, n, w) =>
        s -> (if (capped(s)) (n * emilli).toDouble / 1000.0
              else w.toDouble * level / 1000.0)
      }.toMap
    }
    // three regimes: mixed saturation, nothing saturated (huge cap),
    // everything saturated (budget > total supply)
    val rows = Seq(("a", 1000L, 1L), ("b", 5000L, 4L), ("c", 200L, 3L),
      ("d", 3000L, 2L), ("e", 40L, 5L))
    val df = rows.flatMap { case (s, n, w) => Seq((s, n)) }
      .toDF("source", "n_toks")
    val weights = rows.map(r => r._1 -> r._3).toMap
    for ((budget, maxE) <- Seq((6000L, 2.5), (8000L, 100.0), (50000L, 2.0))) {
      val emilli = math.round(maxE * 1000.0)
      val want = reference(rows, budget, emilli)
      val got = Corpus.epochWaterfill(df, "source", "n_toks", weights,
          budget, maxE)
        .select("source", "n_tokens", "saturated", "alloc_tokens", "epochs")
        .as[(String, Long, Boolean, Double, Double)].collect()
      assert(got.length == rows.length)
      got.foreach { case (s, n, sat, alloc, epochs) =>
        val supply = n.toDouble * maxE
        assert(math.abs(alloc - want(s)) < 1e-6,
          s"budget=$budget $s: got $alloc want ${want(s)}")
        assert(alloc <= supply + 1e-6, s"$s over-allocated: $alloc > $supply")
        assert(sat == (math.abs(alloc - supply) < 1e-6),
          s"$s saturated flag inconsistent: sat=$sat alloc=$alloc supply=$supply")
        assert(epochs <= maxE + 1e-9 && math.abs(epochs - alloc / n) < 1e-12)
      }
      // budget conservation: allocations sum to min(budget, total supply)
      val totalAlloc = got.map(_._4).sum
      val totalSupply = rows.map(_._2).sum.toDouble * maxE
      assert(math.abs(totalAlloc - math.min(budget.toDouble, totalSupply)) < 1e-5,
        s"budget=$budget: sum(alloc)=$totalAlloc")
    }
    // sources without a weight are excluded; unknown weights contribute 0
    val extra = (rows.map(r => (r._1, r._2)) :+ (("z", 999L))).toDF("source", "n_toks")
    val out = Corpus.epochWaterfill(extra, "source", "n_toks", weights, 6000L, 2.5)
    assert(!out.select("source").as[String].collect().contains("z"))
    intercept[IllegalArgumentException] {
      Corpus.epochWaterfill(df, "source", "n_toks", weights, -1L, 2.5)
    }
    intercept[IllegalArgumentException] {
      Corpus.epochWaterfill(df, "source", "n_toks", Map("a" -> 0L), 10L, 2.5)
    }
  }

  test("prototypicalityPrune: drops the floor((1-keep)*cnt) most-pivot-similar per cell, sparse ids included") {
    def corpus(off: Long) = Seq(
      (off + 0L, Array(1f, 0f, 0f, 0f)),     // pivot 0 (proto 1.0)
      (off + 1L, Array(0f, 1f, 0f, 0f)),     // pivot 1 (proto 1.0)
      (off + 2L, Array(1f, 0.1f, 0f, 0f)),   // cell 0, proto ~0.995
      (off + 3L, Array(1f, 0.5f, 0f, 0f)),   // cell 0, proto ~0.894
      (off + 4L, Array(1f, 1.1f, 0f, 0f)),   // cell 1, proto ~0.740
      (off + 5L, Array(0f, 1f, 0.2f, 0f)),   // cell 1, proto ~0.981 (ties 6)
      (off + 6L, Array(0.2f, 1f, 0f, 0f))    // cell 1, proto ~0.981 (ties 5)
    ).toDF("vec_id", "embedding")
    def keptIds(off: Long, keep: Double) =
      Similarity.prototypicalityPrune(corpus(off), "vec_id", "embedding",
          keepFrac = keep, nCells = 2)
        .select("vec_id").as[Long].collect().toSet
    // cell 0 = {0,2,3} drops 1 (id 0); cell 1 = {1,4,5,6} drops 2 (1, then
    // the id-asc half of the 5/6 proto tie)
    assert(keptIds(0L, 0.5) == Set(2L, 3L, 4L, 6L))
    // keepFrac 1.0 keeps everything; 0.25 keeps exactly one per cell
    assert(keptIds(0L, 1.0) == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L))
    assert(keptIds(0L, 0.25) == Set(3L, 4L))
    // pivots are the smallest ids, not ids < nCells: a 1e9 offset shifts
    // nothing but the labels
    assert(keptIds(1000000000L, 0.5) == Set(2L, 3L, 4L, 6L).map(_ + 1000000000L))
    // k-means pivots (D4's clustering): within-engine deterministic, and the
    // per-cell drop law still holds — 7 vectors over 2 cells of sizes (a,
    // 7-a) keep 7 - floor(a/2) - floor((7-a)/2) = 4 members for ANY split
    def km() = Similarity.prototypicalityPrune(corpus(0L), "vec_id",
        "embedding", keepFrac = 0.5, nCells = 2, kmeansIters = Some(5))
      .select("vec_id").as[Long].collect().toSet
    val k1 = km()
    assert(k1.size == 4 && k1 == km())
    intercept[IllegalArgumentException] {
      Similarity.prototypicalityPrune(corpus(0L), "vec_id", "embedding",
        keepFrac = 1.5)
    }
    // the drop law at an inexact (1 - keepFrac): 0.9 -> 0.09999999999999998
    // in doubles, and a bare floor would drop 0 of a 10-member cell instead
    // of the documented floor(0.1*10) = 1
    val ten = (0 until 10).map(i => (i.toLong, Array(1f, i * 0.01f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val kept9 = Similarity.prototypicalityPrune(ten, "vec_id", "embedding",
      keepFrac = 0.9, nCells = 1).count()
    assert(kept9 == 9L, s"keepFrac=0.9 over a 10-cell must drop exactly 1, kept $kept9")
  }

  test("auto-sized semantic ops run ONE upstream pass (checkpointed before the count)") {
    // nCells <= 0 needs a corpus count before the assignment scan; without
    // the localCheckpoint that count is a second full pass over the
    // prepared projection's upstream. The checkpoint shows up as a
    // LogicalRDD source in the downstream plan.
    val c = (0 until 20).map(i => (i.toLong, Array(1f, i * 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.semanticCellStats(c, "vec_id", "embedding")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      s"auto-sized semantic path did not checkpoint its prepared projection:\n$plan")
  }

  test("filterUrls: predicate stays pinned above the rule projection") {
    // same PushDownPredicates trap as the gopher/C4/repetition terminals:
    // without the pin, url_ok's regex-derived inputs are inlined into the
    // pushed predicate and re-evaluated below any repartition on the raw
    // scan. The nondeterministic guard is the pin's signature — it must
    // survive optimization.
    val df = Seq((0L, "https://example.com/a"), (1L, "http://spam.net/b"))
      .toDF("doc_id", "url").repartition(4)
    val plan = Urls.filterUrls(df, "url", blockedDomains = Seq("spam.net"))
      .queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("spark_partition_id"),
      s"filterUrls predicate was not pinned:\n$plan")
  }

  test("c4Stats/c4Filter: line rules, page rules, blockword gate, clean-text substitution") {
    val good = "this line has five good words."
    val docs = Seq(
      (0L, s"$good\n$good\nthis third line is also fine!"),
      (1L, s"$good\nno terminal punctuation here\n$good"),  // 2 sentences left
      (2L, s"$good\nshort line here.\n$good\n$good"),       // < 5 words dropped
      (3L, s"$good\nthe javascript snippet is right here.\n$good\n$good"),
      (4L, s"$good\n$good\n$good\nread the lorem ipsum terms."),
      (5L, s"$good\n$good\n$good\nvar x = { 1 }."),
      (6L, s"$good\n$good\nbadword alert in this line here."),
      (7L, null.asInstanceOf[String]))
    val df = docs.toDF("doc_id", "text")
    val r = TextStats.c4Stats(df, "text", blockWords = Seq("badword"))
      .collect().map(x => x.getLong(0) -> x).toMap
    def f(id: Long, n: String) = r(id).get(r(id).fieldIndex(n))
    assert(f(0L, "n_lines") == 3 && f(0L, "n_lines_kept") == 3 &&
      f(0L, "n_sentences") == 3 && f(0L, "c4_keep") == true)
    assert(f(1L, "n_lines_kept") == 2 && f(1L, "c4_keep") == false)
    assert(f(2L, "n_lines") == 4 && f(2L, "n_lines_kept") == 3 &&
      f(2L, "c4_keep") == true)
    assert(f(3L, "n_lines_kept") == 3 && f(3L, "c4_keep") == true)
    assert(f(4L, "has_lorem") == true && f(4L, "c4_keep") == false)
    assert(f(5L, "has_brace") == true && f(5L, "c4_keep") == false)
    assert(f(6L, "blocked_hits") == 1 && f(6L, "c4_keep") == false)
    assert(f(7L, "n_lines") == 0 && f(7L, "c4_keep") == false)
    val kept = TextStats.c4Filter(df, "text", blockWords = Seq("badword"))
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    val m = kept.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(m.keySet == Set(0L, 2L, 3L))
    // the terminal substitutes CLEANED text, not the original page
    assert(m(2L) == s"$good\n$good\n$good")
  }

  test("gopherStats: each rule fires on its crafted violation; filter keeps only full passes") {
    val prose = ("where the large animals have wandered with their keepers " +
      "that evening ") * 5 // 55 words, mean len ~5, 4 distinct stop hits
    val docs = Seq(
      (0L, prose),                                   // passes all seven
      (1L, "tiny text with the usual words"),        // < 50 words
      (2L, prose + ("#### " * 30)),                  // symbol ratio > 0.1
      (3L, prose + "\n" + Seq.fill(60)("- item").mkString("\n")), // > 90% bullet lines
      (4L, prose.split(" ").grouped(2).map(_.mkString(" ") + "...").mkString("\n")), // ellipsis lines
      (5L, ("12345 67890 " * 30) + "the of"),        // < 80% alphabetic words
      (6L, null.asInstanceOf[String]))               // null text: nothing passes
    val r = TextStats.gopherStats(docs.toDF("doc_id", "text"), "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    def rule(id: Long, name: String): Boolean =
      r(id).getBoolean(r(id).fieldIndex(name))
    assert((0L to 6L).forall(id => rule(id, "gopher_pass") == (id == 0L)))
    assert(!rule(1L, "r_word_count") && rule(1L, "r_stop_hits"))
    assert(!rule(2L, "r_symbol_ratio") && rule(2L, "r_word_count"))
    assert(!rule(3L, "r_bullet_lines") && rule(3L, "r_word_count"))
    assert(!rule(4L, "r_ellipsis_lines"))
    assert(!rule(5L, "r_alpha_words") && rule(5L, "r_stop_hits"))
    assert(Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio",
      "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words", "r_stop_hits")
      .forall(n => !rule(6L, n)))
    val kept = TextStats.gopherFilter(docs.toDF("doc_id", "text"), "text")
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(0L))
  }

  test("dedupParagraphs: first occurrence wins, digit-strip identity, membership preserved") {
    val docs = Seq(
      (0L, "alpha one\nshared para\nbeta two"),
      (1L, "shared para\ngamma three"),        // "shared para" repeats -> dropped here
      (2L, "chapter 1\nunique text"),
      (3L, "chapter 2\n\n  \nmore text"),      // "chapter 2" == "chapter 1" after digit strip; blanks dropped
      (4L, "shared para"),                     // ALL paragraphs are repeats -> empty survivor
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val r = Corpus.dedupParagraphs(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    def txt(id: Long) = r(id).getString(r(id).fieldIndex("text_dedup"))
    def tot(id: Long) = r(id).getLong(r(id).fieldIndex("para_total"))
    def kept(id: Long) = r(id).getLong(r(id).fieldIndex("para_kept"))
    assert(r.size == 6) // membership preserved, null-text doc included
    assert(txt(0L) == "alpha one\nshared para\nbeta two" && kept(0L) == 3)
    assert(txt(1L) == "gamma three" && tot(1L) == 2 && kept(1L) == 1)
    assert(txt(2L) == "chapter 1\nunique text")
    // CCNet digit strip: "chapter 2" normalizes to "chapter 1"'s key
    assert(txt(3L) == "more text" && tot(3L) == 2 && kept(3L) == 1)
    assert(txt(4L) == "" && tot(4L) == 1 && kept(4L) == 0)
    assert(txt(5L) == "" && tot(5L) == 0 && kept(5L) == 0)
  }

  test("bpeStats: real merge loop against a hand-computed vocabulary") {
    // merges (rank order): t+h, th+e, i+n, a+n, an+d
    val merges = Seq("t h", "th e", "i n", "a n", "an d")
    val vocab = Seq("the", "th", "in", "h", "and", " ")
    val docs = Seq(
      (0L, "the thin hand"),
      (1L, "aaaa"),       // no applicable merges -> single chars
      (2L, "can't"),      // contraction pre-token splits off 't
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val r = TextStats.bpeStats(docs, "text", merges, vocab)
      .collect().map(x => x.getLong(0) -> x).toMap
    def toks(id: Long) = r(id).getSeq[String](r(id).fieldIndex("bpe_tokens"))
    def ids(id: Long) = r(id).getSeq[Int](r(id).fieldIndex("bpe_ids"))
    // "the" -> t,h,e -> th,e -> the; " thin" -> ' ',th,in; " hand" -> ' ',h,and
    assert(toks(0L) == Seq("the", " ", "th", "in", " ", "h", "and"))
    assert(r(0L).getInt(r(0L).fieldIndex("bpe_count")) == 7)
    assert(ids(0L) == Seq(0, 5, 1, 2, 5, 3, 4))
    assert(toks(1L) == Seq("a", "a", "a", "a"))
    // pre-tokenizer: "can" + "'t"; (a,n) applies inside "can" only
    assert(toks(2L) == Seq("c", "an", "'", "t"))
    assert(ids(2L) == Seq(-1, -1, -1, -1))
    assert(toks(3L).isEmpty && r(3L).getInt(r(3L).fieldIndex("bpe_count")) == 0)
    // left-to-right all-occurrences semantics: with (a,a) "aaaa" -> aa,aa
    val aa = TextStats.bpeStats(Seq((0L, "aaaaa")).toDF("doc_id", "text"),
      "text", Seq("a a"))
    assert(aa.select("bpe_tokens").as[Seq[String]].head() == Seq("aa", "aa", "a"))
    // whole-stage codegen must survive the expression (no fallback);
    // repartition first or ConvertToLocalRelation folds the whole local
    // input into a pre-evaluated LocalTableScan
    val q = TextStats.bpeStats(docs.repartition(2), "text", merges)
    q.collect() // finalize the adaptive plan before reading it
    val plan = q.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in the plan string — the
    // projection containing bpeencode must carry it (no codegen fallback)
    assert("""\*\(\d+\) Project \[.*bpeencode""".r.findFirstIn(plan).isDefined, plan)
  }

  test("wordPieceStats: greedy longest-match, is_bad whole-word UNK, decode") {
    import graft.funcs.WordPieceFunctions
    val vocab = Seq("[UNK]", "the", "th", "##e", "##eme", "##m", "##me",
      "un", "##able", "##affable", "aff", "a", "b", "l", "e", "##a",
      "##b", "##l", "##f", "'", "t", "##n", "d", "o", "##o", "##9", "9")
    def wp(texts: (Long, String)*) =
      TextStats.wordPieceStats(texts.toSeq.toDF("doc_id", "text"), "text",
          vocab)
        .select(col("doc_id"), col("wp_tokens"), col("wp_ids"))
        .collect().map(r => r.getLong(0) ->
          (r.getSeq[String](1), r.getSeq[Int](2))).toMap
    val r = wp(
      (0L, "the theme"),     // greedy: "the" whole (beats th+##e); theme =
                             // the + ##me (##me len4 beats ##m len3)
      (1L, "unaffable"),     // BERT's canonical example shape:
                             // un + ##affable (longest continuation wins)
      (2L, "THE"),           // uncased: lowercases before matching
      (3L, "xyz the"),       // x has no piece -> whole word [UNK]; the
                             // NEXT word still tokenizes (per-word is_bad)
      (4L, "don't"),         // punctuation splits: d+##o+##n / ' / t
      (5L, "a9"))            // letter-run and digit-run are SEPARATE words
    assert(r(0L)._1 == Seq("the", "the", "##me"))
    assert(r(1L)._1 == Seq("un", "##affable"))
    assert(r(2L)._1 == Seq("the"))
    assert(r(3L)._1 == Seq("[UNK]", "the"))
    assert(r(4L)._1 == Seq("d", "##o", "##n", "'", "t"))
    // the digit run is its OWN pre-token, so 9 matches word-initial
    assert(r(5L)._1 == Seq("a", "9"))
    // ids are vocabulary positions; [UNK] maps to its own id, never -1
    assert(r(3L)._2 == Seq(vocab.indexOf("[UNK]"), vocab.indexOf("the")))
    // maxChars: an over-long word is [UNK] outright; exactly 100 passes
    val long = "a" * 101
    val r2 = TextStats.wordPieceStats(
      Seq((0L, long), (1L, "a" * 100)).toDF("doc_id", "text"), "text", vocab)
      .select(col("doc_id"), col("wp_tokens")).collect()
      .map(x => x.getLong(0) -> x.getSeq[String](1)).toMap
    assert(r2(0L) == Seq("[UNK]"))
    assert(r2(1L).head == "a" && r2(1L).size == 100)
    // decode: word-initial pieces space-join, continuations fuse
    val back = Seq((0L, "the theme unaffable")).toDF("doc_id", "text")
      .select(WordPieceFunctions.wordPieceDecode(
        WordPieceFunctions.wordPieceIds(col("text"), vocab), vocab).as("t"))
      .as[String].head()
    assert(back == "the theme unaffable")
    // whole-stage codegen must survive the expression (no fallback)
    val q = TextStats.wordPieceStats(
      Seq((0L, "the theme")).toDF("doc_id", "text").repartition(2), "text",
      vocab)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*wordpieceencode""".r.findFirstIn(plan).isDefined, plan)
  }

  test("packTokenArrays: boundary-spanning docs, exact fits, empty docs, partial tail") {
    import graft.ext.Corpus
    // capacity 4; docs (in doc_id order): 3 tokens, 3 tokens (spans the
    // chunk-0/1 boundary), 0 tokens, 2 tokens (exact fit to chunk 1),
    // 1 token (partial tail); global stream = a..i
    val docs = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d", "e", "f")),
      (3L, Seq.empty[String]),
      (4L, Seq("g", "h")),
      (5L, Seq("i"))
    ).toDF("doc_id", "toks")
    val rows = Corpus.packTokenArrays(docs, "doc_id", "toks", capacity = 4)
      .orderBy("chunk").collect()
    val r = rows.map(x => (x.getLong(0), x.getSeq[String](1), x.getInt(2)))
    assert(r.toSeq == Seq(
      (0L, Seq("a", "b", "c", "d"), 4),  // doc 2 spans into chunk 0
      (1L, Seq("e", "f", "g", "h"), 4),  // doc 3 (empty) contributes nothing
      (2L, Seq("i"), 1)))                // final partial chunk
    // doc_spans: (doc, off, len) per document segment, ordered by off,
    // tiling each chunk exactly — the attention/loss-mask metadata
    val spans = rows.map(_.getSeq[org.apache.spark.sql.Row](3)
      .map(s => (s.getLong(0), s.getLong(1), s.getLong(2))))
    assert(spans.toSeq == Seq(
      Seq((1L, 0L, 3L), (2L, 3L, 1L)),   // doc 2's head closes chunk 0
      Seq((2L, 0L, 2L), (4L, 2L, 2L)),   // doc 2's tail opens chunk 1
      Seq((5L, 0L, 1L))))
    // position_ids restart at 0 per document segment (the packed-attention
    // companion column) and tile each chunk like the spans do
    val pos = Corpus.packTokenArrays(docs, "doc_id", "toks", capacity = 4)
      .orderBy("chunk")
      .select(Corpus.packedPositionIds(col("doc_spans")))
      .collect().map(_.getSeq[Long](0))
    assert(pos.toSeq == Seq(
      Seq(0L, 1L, 2L, 0L), Seq(0L, 1L, 0L, 1L), Seq(0L)))
    // an all-empty corpus creates no phantom chunks
    val none = Corpus.packTokenArrays(
      Seq((1L, Seq.empty[String])).toDF("doc_id", "toks"),
      "doc_id", "toks", capacity = 4)
    assert(none.count() == 0)
    // a document longer than capacity spans several whole chunks
    val big = Corpus.packTokenArrays(
      Seq((1L, (0 until 10).map(i => s"t$i"))).toDF("doc_id", "toks"),
      "doc_id", "toks", capacity = 4)
      .orderBy("chunk").collect().map(x => (x.getLong(0), x.getInt(2)))
    assert(big.toSeq == Seq((0L, 4), (1L, 4), (2L, 2)))
  }

  test("WordPiece: committed vocab.txt fixture runs end-to-end, golden-checked (VERDICT r16 #7)") {
    // the released-artifact integration path pinned on an IN-TREE file
    // (src/test/resources/fixtures/mini_vocab.txt): the file-format rules
    // (one token per line, id = line number, an INTERIOR empty line is a
    // real empty-string slot whose position must hold, the trailing
    // newline's phantom last line drops) flow through loadVocab ->
    // wordPieceStats and land on hand-computed tokens AND ids
    import graft.funcs.WordPieceFiles
    val path = getClass.getResource("/fixtures/mini_vocab.txt").getPath
    val v = WordPieceFiles.loadVocab(path)
    assert(v.size == 20, s"trailing newline must not add a phantom slot: $v")
    assert(v(8) == "", "the interior empty line is a real id-8 slot")
    assert(v(9) == "1234", "ids after the empty slot must not shift")
    val r = TextStats.wordPieceStats(
        Seq((0L, "The theme, 1234 don't unbreakable ø"))
          .toDF("doc_id", "text"), "text", v)
      .collect().head
    // the: whole-word greedy beats th+##e; theme: greedy takes "the",
    // strands "me" -> whole word [UNK]; don -> do+##n; unbreakable -> the
    // 3-piece chain; ø has no entry -> [UNK]
    assert(r.getSeq[String](r.fieldIndex("wp_tokens")) == Seq(
      "the", "[UNK]", ",", "1234", "do", "##n", "'", "t",
      "un", "##break", "##able", "[UNK]"))
    assert(r.getSeq[Int](r.fieldIndex("wp_ids")) ==
      Seq(4, 1, 12, 9, 15, 16, 13, 14, 17, 18, 19, 1))
    // decode closes the loop (BERT's convert_tokens_to_string contract:
    // spaces at word starts, ## concatenates) — and a degenerate "##"
    // vocab entry is a continuation on BOTH sides, never a literal '##'
    // (ADVICE r16)
    import graft.funcs.WordPieceCodec
    val codec = new WordPieceCodec(v.toArray, "[UNK]", 100, lower = true)
    assert(codec.decodeIds(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(4, 15, 16))).toString == "the don")
    val codec2 = new WordPieceCodec(Array("a", "##"), "[UNK]", 100, lower = true)
    assert(codec2.decodeIds(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(0, 1, 0))).toString == "a a",
      "a '##' entry must render as an empty continuation, not a word-initial '##'")
    ()
  }

  test("WordPieceFiles: vocab.txt line-number ids, interior empty slots preserved") {
    import graft.funcs.{WordPieceFiles, WordPieceFunctions}
    val dir = java.nio.file.Files.createTempDirectory("graft_wp_vocab")
    val p = dir.resolve("vocab.txt")
    // BERT format: one token per line, id = line number; an interior empty
    // slot must keep its position or every later id shifts
    java.nio.file.Files.writeString(p,
      "[PAD]\n[UNK]\nthe\n\n##e\nth\n")
    val v = WordPieceFiles.loadVocab(p.toString)
    assert(v == Seq("[PAD]", "[UNK]", "the", "", "##e", "th"))
    assert(v.indexOf("##e") == 4, "interior empty line must hold its id slot")
    // the loaded table runs through the tokenizer with its own [UNK]
    val ids = Seq((0L, "the zap")).toDF("doc_id", "text")
      .select(WordPieceFunctions.wordPieceIds(col("text"), v,
        unk = "[UNK]").as("ids"))
      .as[Seq[Int]].head()
    assert(ids == Seq(2, 1), "the -> id 2; unmatched word -> [UNK] id 1")
  }

  test("wordPieceTrain: likelihood scoring, tie-break, early stop, naive equivalence") {
    import graft.ext.TextStats.{wordPieceTrainFull, wordPieceStats}
    // corpus: "aab"×10, "xy"×3. Raw-count BPE would take (a,##a) (count 10,
    // lexicographic over the tie with (##a,##b)); WordPiece's
    // count/(count(a)·count(b)) picks (x,##y) first — 3/(3·3) beats
    // 10/(10·10) — the scoring difference this trainer exists for.
    val docs = ((1 to 10).map(i => (i.toLong, "aab")) ++
      (11 to 13).map(i => (i.toLong, "xy"))).toDF("doc_id", "text")
    val (m, v) = wordPieceTrainFull(docs, "text", numMerges = 10)
    assert(m == Seq(("x", "##y"), ("##a", "##b"), ("a", "##ab")),
      s"merge selections $m")
    // early stop: after 3 merges every word is a single symbol — no pairs
    assert(m.length == 3)
    // vocab: [UNK] + sorted base chars + ## forms + outputs in rank order
    assert(v == Seq("[UNK]", "a", "b", "x", "y", "##a", "##b", "##x", "##y",
      "xy", "##ab", "aab"))
    // the trained vocabulary greedy-tokenizes its own corpus to whole words
    val toks = wordPieceStats(Seq((0L, "aab xy")).toDF("doc_id", "text"),
      "text", v).select("wp_tokens").as[Seq[String]].head()
    assert(toks == Seq("aab", "xy"))
    // minPairCount: a floor of 4 excludes the count-3 pair entirely
    val (m2, _) = wordPieceTrainFull(docs, "text", numMerges = 10,
      minPairCount = 4L)
    assert(m2 == Seq(("##a", "##b"), ("a", "##ab")))

    // INCREMENTAL == NAIVE recount (the bpeTrain equivalence law): the
    // maintained pair/symbol counts are additively identical to a
    // from-scratch recount, so selections must match exactly on real text
    val real = Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val (mi, _) = wordPieceTrainFull(real, "text", numMerges = 30,
      maxWords = 2000)
    def naive(words: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
      def strip(x: String) = if (x.startsWith("##")) x.substring(2) else x
      var reps = words.map { case (w, n) =>
        (w.map(_.toString).zipWithIndex
          .map { case (c, i) => if (i == 0) c else "##" + c }.toArray, n)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var stop = false
      while (out.length < numMerges && !stop) {
        val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
        val sc = scala.collection.mutable.HashMap.empty[String, Long]
        reps.foreach { case (syms, n) =>
          syms.foreach(x => sc.update(x, sc.getOrElse(x, 0L) + n))
          syms.sliding(2).filter(_.length == 2).foreach { p =>
            val k = (p(0), p(1)); pc.update(k, pc.getOrElse(k, 0L) + n)
          }
        }
        val cands = pc.filter(_._2 >= 2L)
        if (cands.isEmpty) stop = true
        else {
          // exact score argmax: maximize c/(ca·cb) by BigInt
          // cross-multiplication, (a, b) lexicographic tie-break
          var bk: ((String, String), Long, BigInt) = null
          cands.foreach { case (k @ (a, b), c) =>
            val d = BigInt(sc(a)) * BigInt(sc(b))
            if (bk == null) bk = (k, c, d)
            else {
              val l = BigInt(c) * bk._3; val r = BigInt(bk._2) * d
              if (l > r || (l == r && (a < bk._1._1 ||
                  (a == bk._1._1 && b < bk._1._2)))) bk = (k, c, d)
            }
          }
          val (a, b) = bk._1
          out += ((a, b))
          reps = reps.map { case (syms, n) =>
            val o = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                o += a + strip(b); i += 2
              } else { o += syms(i); i += 1 }
            }
            (o.toArray, n)
          }
        }
      }
      out.toSeq
    }
    val words = real
      .select(explode(graft.ext.TextStats.wordPiecePreTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(2000)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(mi == naive(words, 30),
      "incremental trainer must equal the from-scratch recount")
  }

  test("byte-level BPE: public GPT-2-format tables run byte-for-byte") {
    // VERDICT r14 #8 — a production byte-level tokenizer from its released
    // artifacts: merges.txt (with header + blank line) and vocab.json
    // (with JSON \uXXXX escapes), loaded through BpeFiles.
    import graft.funcs.{BpeFiles, BpeCodec}
    // Ġ = U+0120 (byte 0x20), Ċ = U+010A (byte 0x0A), é = bytes C3 A9 → Ã©
    val mergesTxt = Seq(
      "#version: 0.2",
      "",
      "\u0120 h", "\u0120h e", "h e", "l l",
      "\u0120he ll", "he ll", "\u0120hell o", "hell o",
      "\u00c3 \u00a9").mkString("\n")
    val vocabJson =
      "{\"hello\": 0, \"\\u0120hello\": 1, \"\\u010A\": 2, \"\\u00C3\\u00A9\": 3}"
    val dir = java.nio.file.Files.createTempDirectory("gpt2fix")
    val mp = dir.resolve("merges.txt"); val vp = dir.resolve("vocab.json")
    java.nio.file.Files.writeString(mp, mergesTxt)
    java.nio.file.Files.writeString(vp, vocabJson)
    val merges = BpeFiles.loadMerges(mp.toString)
    val vocab = BpeFiles.loadVocab(vp.toString)
    assert(merges.size == 9 && merges.head == "\u0120 h",
      "header and blank lines must be skipped, rank order kept")
    assert(vocab == Seq("hello", "\u0120hello", "\u010a", "\u00c3\u00a9"),
      "vocab.json ids order the array; JSON escapes decode")
    // the stand-in alphabet is the published map
    assert(BpeCodec.byteLevelEncode(" hello") == "\u0120hello")
    assert(BpeCodec.byteLevelEncode("\n") == "\u010a")
    assert(BpeCodec.byteLevelEncode("\u00e9") == "\u00c3\u00a9")
    val r = TextStats.bpeStats(
        Seq((0L, "hello hello\n\u00e9")).toDF("doc_id", "text"),
        "text", merges, vocab, byteLevel = true)
      .collect().head
    // pre-tokens [hello][ hello][\n][é]; the \n run is KEPT (Ċ), the
    // leading space merges into Ġhello exactly as the released tables do
    assert(r.getSeq[String](r.fieldIndex("bpe_tokens")) ==
      Seq("hello", "\u0120hello", "\u010a", "\u00c3\u00a9"))
    assert(r.getSeq[Int](r.fieldIndex("bpe_ids")) == Seq(0, 1, 2, 3))
    assert(r.getInt(r.fieldIndex("bpe_count")) == 4)
    // GPT-2's \s+(?!\S) split: in a multi-space run the LAST space stays
    // attached to the following word ("a  b" → [a][ ][ b])
    val multi = TextStats.bpeStats(
        Seq((0L, "a  b")).toDF("doc_id", "text"), "text", merges,
        byteLevel = true)
      .select("bpe_tokens").as[Seq[String]].head()
    assert(multi == Seq("a", "\u0120", "\u0120", "b"))
    // non-dense vocab ids must be refused, not silently misindexed
    val bad = intercept[IllegalArgumentException] {
      BpeFiles.parseVocabJson("{\"a\": 0, \"b\": 2}")
    }
    assert(bad.getMessage.contains("dense"))
    // decode closes the round trip: byte-level decode(encode(text)) == text
    // when every token is in-vocabulary (Ċ carries the newline back)
    val rt = TextStats.bpeStats(
        Seq((0L, "hello hello\né")).toDF("doc_id", "text"),
        "text", merges, vocab, byteLevel = true)
      .select(graft.funcs.BpeFunctions
        .bpeDecode(col("bpe_ids"), vocab, byteLevel = true).as("back"))
      .as[String].head()
    assert(rt == "hello hello\né")
    // invalid ids (the -1 unknown marker) drop, by contract
    val dropped = spark.range(1)
      .select(graft.funcs.BpeFunctions.bpeDecode(
        typedLit(Seq(0, -1, 99)), vocab, byteLevel = true).as("t"))
      .as[String].head()
    assert(dropped == "hello")
  }

  test("byte-level BPE: '#'-token merges, Unicode whitespace, null ids (ADVICE r15)") {
    import graft.funcs.{BpeFiles, BpeCodec}
    // (1) real merges.txt files contain merge lines whose LEFT token starts
    // with '#' ('# #', '## #' build the '##'/'###' vocab tokens) — only the
    // '#version' header line is a comment
    val merges = BpeFiles.parseMerges(
      Seq("#version: 0.2", "", "# #", "## #").mkString("\n"))
    assert(merges == Seq("# #", "## #"),
      "'#'-leading merge lines must be kept; only the #version header skips")
    val hashToks = TextStats.bpeStats(
        Seq((0L, "###")).toDF("doc_id", "text"), "text", merges,
        byteLevel = true)
      .select("bpe_tokens").as[Seq[String]].head()
    assert(hashToks == Seq("###"), "'# #' then '## #' must merge '###'")
    // (2) Unicode whitespace: NBSP (U+00A0) must classify as \s in the
    // byte-level pre-tokenizer (UNICODE_CHARACTER_CLASS), splitting
    // '. .' into three pre-tokens — under ASCII-\s defaults the NBSP
    // would ride the punctuation branch as one pre-token '. .' and the
    // '. Â' merge below would fire across it (NBSP bytes C2 A0 → 'Âł')
    val nbspToks = TextStats.bpeStats(
        Seq((0L, ".\u00a0.")).toDF("doc_id", "text"), "text",
        Seq(". Â"), byteLevel = true)
      .select("bpe_tokens").as[Seq[String]].head()
    assert(nbspToks == Seq(".", "Â", "ł", "."),
      s"NBSP must pre-tokenize as whitespace, got $nbspToks")
    // round trip still closes across the Unicode-whitespace pre-token
    assert(BpeCodec.byteLevelDecode(nbspToks.mkString) == ".\u00a0.")
    // (3) a NULL element in the id array skips like the -1 marker — it must
    // never read as vocab id 0
    val vocab = Seq("hello", "Ġhello", "Ċ", "Ã©")
    val withNull = spark.range(1)
      .select(graft.funcs.BpeFunctions.bpeDecode(
        expr("array(0, cast(null as int), 3)"), vocab,
        byteLevel = true).as("t"))
      .as[String].head()
    assert(withNull == "helloé", s"null id must skip, got '$withNull'")
  }

  test("perplexityScore: hand-computed add-1 bigram NLL, OOV, short docs, vocab cap") {
    val ref = Seq((0L, "the cat sat"), (1L, "the cat ran")).toDF("doc_id", "text")
    // model: gc = {the cat: 2, cat sat: 1, cat ran: 1}; uc = {the: 2,
    // cat: 2, sat: 1, ran: 1}; V = 4 + 1
    val docs = Seq(
      (10L, "the cat sat"),   // P(cat|the)=3/7, P(sat|cat)=2/7
      (11L, "dog bites"),     // unseen gram AND context: P = 1/5
      (12L, "hi")             // < n tokens: no grams, null score
    ).toDF("doc_id", "text")
    val r = Perplexity.perplexityScore(docs, "doc_id", "text", ref)
      .collect().map(x => x.getLong(0) -> x).toMap
    def f(id: Long, c: String): Double = r(id).getDouble(r(id).fieldIndex(c))
    def l(id: Long, c: String): Long = r(id).getLong(r(id).fieldIndex(c))
    assert(l(10L, "lm_grams") == 2 && l(10L, "lm_oov") == 0)
    assert(math.abs(f(10L, "nll_mean") -
      (-math.log(3.0 / 7) - math.log(2.0 / 7)) / 2) < 1e-6)
    assert(l(11L, "lm_grams") == 1 && l(11L, "lm_oov") == 1)
    assert(math.abs(f(11L, "nll_mean") - math.log(5.0)) < 1e-6)
    assert(l(12L, "lm_grams") == 0 && l(12L, "lm_oov") == 0)
    assert(r(12L).isNullAt(r(12L).fieldIndex("nll_mean")))
    // unigram model: N = 6 ref tokens, P(w) = (c+1)/(6+5)
    val u = Perplexity.perplexityScore(docs, "doc_id", "text", ref, n = 1)
      .collect().map(x => x.getLong(0) -> x).toMap
    val exp1 = (-math.log(3.0 / 11) - math.log(3.0 / 11) - math.log(2.0 / 11)) / 3
    assert(math.abs(u(10L).getDouble(u(10L).fieldIndex("nll_mean")) - exp1) < 1e-6)
    // maxVocab = 2: deterministic top-K keeps {the cat, cat ran} (count
    // desc, gram asc) and contexts {cat, the}; V = 2 + 1. "cat sat" now
    // scores as unseen: P(sat|cat) = (0+1)/(2+3)
    val capped = Perplexity.perplexityScore(docs, "doc_id", "text", ref,
        maxVocab = 2)
      .collect().map(x => x.getLong(0) -> x).toMap
    val expCap = (-math.log(3.0 / 5) - math.log(1.0 / 5)) / 2
    assert(capped(10L).getLong(capped(10L).fieldIndex("lm_oov")) == 1)
    assert(math.abs(
      capped(10L).getDouble(capped(10L).fieldIndex("nll_mean")) - expCap) < 1e-6)
    intercept[IllegalArgumentException] {
      Perplexity.perplexityScore(docs, "doc_id", "text", ref, k = 0L)
    }
  }

  test("pqTopK: planted-cluster recall, byte-sized codes, deterministic encode") {
    // two well-separated clusters in 8 dims; jitter is deterministic
    val rows = (0 until 20).map { i =>
      val base = if (i < 10) Array(10f, 0f, 10f, 0f, 10f, 0f, 10f, 0f)
                 else        Array(0f, 10f, 0f, 10f, 0f, 10f, 0f, 10f)
      val jit = base.zipWithIndex.map { case (x, d) =>
        x + ((i * 7 + d * 3) % 5) * 0.1f }
      (i.toLong, jit)
    }
    val df = rows.toDF("vec_id", "embedding")
    val top = Quantize.pqTopK(df, df.filter(col("vec_id").isin(0L, 15L)),
        "vec_id", "embedding", m = 4, ksub = 16, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // every retrieved neighbor of a cluster member is in the same cluster
    assert(top(0L).forall(_ < 10L) && top(0L).size == 5)
    assert(top(15L).forall(_ >= 10L) && top(15L).size == 5)
    // codes are m small ints and the encode is reproducible
    val cb = Quantize.pqCodebooks(df, "vec_id", "embedding", m = 4, ksub = 16)
    val enc1 = Quantize.pqEncode(df, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val enc2 = Quantize.pqEncode(df, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc1 == enc2 && enc1(0L).length == 4)
    assert(enc1.values.flatten.forall(c => c >= 0 && c < 16))
    // dim 8 is not divisible by m = 3
    intercept[IllegalArgumentException] {
      Quantize.pqCodebooks(df, "vec_id", "embedding", m = 3, ksub = 4)
    }
    // an empty train slice is a stated error on both codebook builders
    for (iters <- Seq(0, 2)) {
      val e = intercept[IllegalArgumentException] {
        Quantize.pqCodebooksKmeans(df.limit(0), "vec_id", "embedding",
          m = 4, ksub = 4, iters = iters)
      }
      assert(e.getMessage.contains("non-empty train slice"))
    }
  }

  test("OPT r20: codegen'd pqEncode matches a driver-side argmin replay (rounding + ties)") {
    // fixture engineered to include EXACT rounded-distance ties: duplicate
    // centroids exist because ksub exceeds the distinct-subvector count in
    // one subspace — the strict-less fold must keep the LOWEST code
    val rows = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 7 + d * 3) % 5) * 0.1f +
        (if (i % 2 == 0) 1f else 0f))))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cbs = Quantize.pqCodebooks(df, "vec_id", "embedding", m = 4, ksub = 8)
    val cb = cbs.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    def round6(d: Double): Double =
      if (d.isNaN || d.isInfinite) d
      else java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // independent reimplementation of the documented contract: in-order
    // squared-L2 per subspace, 6-dp HALF_UP round, strict-less argmin
    def expected(v: Array[Float]): Seq[Int] = {
      val m = cb.size; val dsub = v.length / m
      (0 until m).map { s =>
        var best = Double.MaxValue; var bc = -1
        val cents = cb(s)
        for (ci <- cents.indices) {
          var d = 0.0
          for (j <- 0 until dsub) {
            val x = v(s * dsub + j).toDouble - cents(ci)(j); d += x * x
          }
          val rd = round6(d)
          if (rd < best) { best = rd; bc = ci }
        }
        bc
      }
    }
    val got = Quantize.pqEncode(df, "vec_id", "embedding", cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (id, v) =>
      assert(got(id) == expected(v), s"codes diverge for vec $id")
    }
  }

  test("OPT r20: nearestCellsPq codegen fast path equals the crossJoin+min_by formulation") {
    // includes an exact tie: vec 100 sits equidistant from pivots 0 and 1
    // — both formulations must keep the SMALLER pid
    val vecs = ((0 until 20).map { i =>
      (100L + i, Array.tabulate(4)(d => ((i * 5 + d * 3) % 7).toDouble))
    } :+ (100L, Array(1.0, 0.0, 0.0, 0.0))).toDF("id", "v")
    val piv = Seq(
      (0L, Array(0.0, 0.0, 0.0, 0.0)),
      (1L, Array(2.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.0, 5.0, 0.0, 0.0)),
      (7L, Array(4.0, 4.0, 4.0, 4.0))).toDF("pid", "pv")
    val fast = Quantize.nearestCellsPq(vecs, piv, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // the legacy formulation, verbatim
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    val legacy = vecs.crossJoin(broadcast(piv))
      .select(col("id"), col("v"), col("pid"),
        round(d2(col("v"), col("pv")), 6).as("__dd"), col("pv"))
      .groupBy(col("id"))
      .agg(min_by(struct(col("v"), col("pid"), col("pv")),
        struct(col("__dd"), col("pid"))).as("__w"))
      .select(col("id"), col("__w.pid").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == legacy)
    assert(fast(100L) == 0L, "rounded-distance tie must keep the smaller pid")
  }

  test("nearestCellsPq fast path equals the crossJoin path on empty pivots and NaN or infinite distances") {
    // the crossJoin+min_by formulation the fast path replaced, verbatim
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    def legacy(vecs: org.apache.spark.sql.DataFrame,
               piv: org.apache.spark.sql.DataFrame) =
      vecs.crossJoin(broadcast(piv))
        .select(col("id"), col("v"), col("pid"),
          round(d2(col("v"), col("pv")), 6).as("__dd"), col("pv"))
        .groupBy(col("id"))
        .agg(min_by(struct(col("v"), col("pid"), col("pv")),
          struct(col("__dd"), col("pid"))).as("__w"))
        .select(col("id"), col("__w.pid").as("cell"), col("__w.pv").as("pv"))
    // pv compared as text: NaN components must compare equal
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cell"), col("pv")).collect().map(r =>
        r.getLong(0) -> (Option(r.get(1)), Option(r.getSeq[Double](2)).map(_.mkString(",")))
      ).toMap
    val vecs = Seq(
      (1L, Array(1.9, 0.1)),
      (2L, Array(Double.NaN, 0.0)), // every distance NaN
      (3L, Array(1e200, 0.0))       // every distance +Infinity
    ).toDF("id", "v")
    val piv = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(2.0, 0.0)), (5L, Array(0.0, 3.0))).toDF("pid", "pv")
    val fast = cells(Quantize.nearestCellsPq(vecs, piv, 1))
    assert(fast == cells(legacy(vecs, piv)))
    assert(fast.map { case (id, (c, _)) => id -> c } ==
      Map(1L -> Some(1L), 2L -> Some(0L), 3L -> Some(0L)))
    // a NaN pivot never beats a number, but is the pick when all are NaN
    val nanPiv = Seq((0L, Array(Double.NaN, 0.0)), (1L, Array(2.0, 0.0))).toDF("pid", "pv")
    assert(cells(Quantize.nearestCellsPq(vecs, nanPiv, 1)) == cells(legacy(vecs, nanPiv)))
    // an empty pivot set: no rows on either path
    val none = piv.filter(lit(false))
    assert(Quantize.nearestCellsPq(vecs, none, 1).collect().isEmpty)
    assert(legacy(vecs, none).collect().isEmpty)
    // no nearest cell for a null or short vector: null cell and pv
    val bad = Seq((7L, null: Array[Double]), (8L, Array(1.0))).toDF("id", "v")
    assert(cells(Quantize.nearestCellsPq(bad, piv, 1)) ==
      Map(7L -> (None, None), 8L -> (None, None)))
  }

  test("PQ encode and nearest pivot return null for a short, long or null-holding vector") {
    import graft.funcs.VectorFunctions
    val cb = Array(Array(Array(0.0), Array(2.0)), Array(Array(0.0), Array(2.0)))
    val pvs = Array(Array(0.0, 0.0), Array(3.0, 3.0))
    val qtab = typedlit(Seq(Seq(1.0, 2.0), Seq(10.0, 20.0)))
    // repartition keeps the projection out of ConvertToLocalRelation, so it
    // runs through the physical plan: whole-stage codegen (doGenCode), then
    // interpreted projections (eval). A NaN component and one whose squared
    // distance overflows to +Infinity order as Spark orders doubles (NaN
    // above every number; an all-NaN or all-infinite subspace keeps code 0),
    // so every code indexes the ADC table.
    val vecs = Seq(
      (0L, Seq(Some(1.5), Some(0.1))),
      (1L, Seq(Some(1.5))),
      (2L, Seq(Some(1.5), Some(0.1), Some(9.0))),
      (3L, Seq(Some(1.5), None)),
      (4L, Seq(Some(Double.NaN), Some(1.9))),
      (5L, Seq(Some(1.9), Some(1e300)))).toDF("id", "v").repartition(1)
    for ((wholeStage, mode) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = vecs.select(col("id"),
            VectorFunctions.pqEncodeCodes(col("v"), cb).as("codes"),
            VectorFunctions.nearestPivot(col("v"), pvs).as("cell"))
          .withColumn("adc", VectorFunctions.adcSum(qtab, col("codes")))
          .collect().map(r => r.getLong(0) ->
            (Option(r.getSeq[Int](1)), Option(r.get(2)), Option(r.get(3)))).toMap
        assert(got(0L) == ((Some(Seq(1, 0)), Some(0), Some(12.0))), s"$mode: $got")
        for (id <- Seq(1L, 2L, 3L))
          assert(got(id) == ((None, None, None)), s"$mode: vec $id gave ${got(id)}")
        assert(got(4L) == ((Some(Seq(0, 1)), Some(0), Some(21.0))), s"$mode: $got")
        assert(got(5L) == ((Some(Seq(1, 0)), Some(0), Some(12.0))), s"$mode: $got")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("ivfPqTopK: full probe equals flat PQ; partial probe keeps cluster recall") {
    // clusters INTERLEAVED by id (even = A, odd = B): the smallest-id
    // pivot set must cover both clusters or a partial probe cannot route
    // cross-cluster queries — the documented first-K-pivot quality trade
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(10f, 0f, 10f, 0f, 10f, 0f, 10f, 0f)
                 else            Array(0f, 10f, 0f, 10f, 0f, 10f, 0f, 10f)
      val jit = base.zipWithIndex.map { case (x, d) =>
        x + ((i * 7 + d * 3) % 5) * 0.1f }
      (i.toLong, jit)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id").isin(0L, 15L))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))
    // probing EVERY cell makes the candidate set the whole corpus, so the
    // ranking must equal the exhaustive flat-PQ scan exactly
    val full = Quantize.ivfPqTopK(df, q, "vec_id", "embedding",
        topK = 5, nCells = 4, nProbe = 4, m = 4, ksub = 16)
      .collect().map(key).toSet
    val flat = Quantize.pqTopK(df, q, "vec_id", "embedding",
        m = 4, ksub = 16, topK = 5)
      .collect().map(key).toSet
    assert(full == flat && full.nonEmpty)
    // partial probe on separated clusters still retrieves same-cluster docs
    val part = Quantize.ivfPqTopK(df, q, "vec_id", "embedding",
        topK = 5, nCells = 4, nProbe = 2, m = 4, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(part(0L).forall(_ % 2 == 0L) && part(0L).size == 5)
    assert(part(15L).forall(_ % 2 == 1L) && part(15L).size == 5)
  }

  test("corpusDiff labels added/removed/changed/unchanged; format drift is unchanged") {
    val oldDf = Seq(
      (0L, "kept the same"), (1L, "will be edited"), (2L, "will be removed"),
      (3L, "Spacing   And Case")
    ).toDF("doc_id", "text")
    val newDf = Seq(
      (0L, "kept the same"), (1L, "now edited text"), (4L, "brand new doc"),
      (3L, "spacing and case") // fingerprint-equal: NOT a change
    ).toDF("doc_id", "text")
    val out = Audit.corpusDiff(oldDf, newDf, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
      .toMap
    assert(out == Map(0L -> "unchanged", 1L -> "changed", 2L -> "removed",
      3L -> "unchanged", 4L -> "added"))
  }

  test("contaminationByBenchmark attributes hits to the right benchmark") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"), // collides with bench A
      (1L, "one two three four five six"),         // collides with bench B
      (2L, "totally clean words nothing shared")   // clean: absent
    ).toDF("doc_id", "text")
    val bench = Seq(
      ("A", "alpha beta gamma delta"), ("B", "one two three four")
    ).toDF("bench", "text")
    val out = Corpus.contaminationByBenchmark(
        corpus, bench, "doc_id", "text", "bench", k = 4)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("bench")) ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"))).toMap
    // doc 0: 3 distinct 4-grams, 1 hits bench A's single shingle
    assert(out == Map((0L, "A") -> (3L, 1L), (1L, "B") -> (3L, 1L)))
  }

  test("corpusReport: exact per-source volume, distinct, short and quality tallies") {
    val df = Seq(
      (0L, "web", "alpha beta gamma"),
      (1L, "web", "ALPHA  beta gamma"), // dup of 0 under the fingerprint
      (2L, "web", "a genuinely different page"),
      (3L, "book", "one two three four five six seven eight nine ten " * 4)
    ).toDF("doc_id", "source", "text")
    val out = Audit.corpusReport(df, "text", "source", shortTokens = 5)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val web = out("web")
    assert(web.getAs[Long]("docs") == 3L)
    assert(web.getAs[Long]("distinct_docs") == 2L)
    assert(web.getAs[Double]("dup_rate") == 1.0 - 2.0 / 3.0)
    assert(web.getAs[Long]("short_docs") == 3L) // 3, 3 and 4 tokens, all < 5
    assert(web.getAs[Long]("tokens_sum") == 10L)
    val book = out("book")
    assert(book.getAs[Long]("docs") == 1L && book.getAs[Long]("short_docs") == 0L)
    assert(book.getAs[Long]("tokens_sum") == 40L)
  }

  test("epochShuffle: reproducible placement, epoch decorrelation, layout applied") {
    val df = Seq.tabulate(64)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    def run(epoch: Int) = Audit.epochShuffle(df, "doc_id", epoch, numParts = 8)
      .select(col("doc_id"), col("shuffle_part"), col("shuffle_key"))
    val a = run(1).collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val b = run(1).collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(a.toSet == b.toSet) // same epoch: identical placement
    assert(a.forall { case (_, p, _) => p >= 0 && p < 8 })
    // the layout IS applied: rows arrive partition-grouped and key-sorted
    // (collect preserves partition-internal order)
    val keysInOrder = a.map(_._3)
    val grouped = a.map(_._2)
    assert(grouped.distinct.size == grouped.foldLeft((List.empty[Int], 0)) {
      case ((seen, runs), p) =>
        if (seen.headOption.contains(p)) (seen, runs) else (p :: seen, runs + 1)
    }._2) // each partition id appears as ONE contiguous run
    assert(a.groupBy(_._2).values.forall { g =>
      val ks = g.map(_._3); ks.sameElements(ks.sorted) })
    // different epoch: a different order (astronomically unlikely to match)
    val e2 = run(2).collect().map(r => (r.getLong(0), r.getString(2)))
    val ord1 = a.sortBy(_._3).map(_._1).toSeq
    val ord2 = e2.sortBy(_._2).map(_._1).toSeq
    assert(ord1 != ord2)
    assert(keysInOrder.toSet.size == 64) // md5 keys distinct
  }

  test("selectUnderTokenBudget keeps the maximal affordable quality prefix") {
    val df = Seq(
      (0L, 5, 100L), (1L, 9, 300L), (2L, 9, 250L), (3L, 2, 50L), (4L, 7, 400L)
    ).toDF("doc_id", "quality", "tokens")
    // order: (9,1)->300, (9,2)->550, (7,4)->950, (5,0)->1050 OVER, (2,3)...
    // budget 1000: the overflowing doc 0 and everything after it drop —
    // doc 3 would FIT (50 tokens) but prefix semantics exclude it
    val out = Corpus.selectUnderTokenBudget(df, "doc_id", "tokens",
        "quality", budget = 1000L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cum_tokens")).toMap
    assert(out == Map(1L -> 300L, 2L -> 550L, 4L -> 950L))
    // budget below the first doc: empty; budget covering all: everything
    assert(Corpus.selectUnderTokenBudget(df, "doc_id", "tokens",
      "quality", 299L).count() == 0L)
    assert(Corpus.selectUnderTokenBudget(df, "doc_id", "tokens",
      "quality", 2000L).count() == 5L)
    intercept[IllegalArgumentException] {
      Corpus.selectUnderTokenBudget(df, "doc_id", "tokens", "quality", -1L)
    }
  }

  test("maskContamination cuts colliding spans plus margin, keeps the rest") {
    val corpus = Seq(
      (0L, "a b c d e f g h x y z w"),       // 8-gram hit at pos 0
      (1L, "totally clean words nothing shared here at all today"),
      (2L, "p q a b c d e f g h r s")        // hit at pos 2
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    def runWith(m: Int) = Corpus.maskContamination(
        corpus, bench, "doc_id", "text", k = 8, margin = m)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_clean"), r.getAs[Int]("spans_hit"),
          r.getAs[Int]("tokens_masked"))).toMap
    val m0 = runWith(0)
    assert(m0(0L) == ("x y z w", 1, 8))
    assert(m0(1L)._2 == 0 && m0(1L)._3 == 0 &&
      m0(1L)._1 == "totally clean words nothing shared here at all today")
    assert(m0(2L) == ("p q r s", 1, 8))
    // margin 2 widens each cut by two tokens per side (clamped at edges)
    val m2 = runWith(2)
    assert(m2(0L) == ("z w", 1, 10))
    assert(m2(2L) == ("", 1, 12))
    intercept[IllegalArgumentException] {
      Corpus.maskContamination(corpus, bench, "doc_id", "text", margin = -1)
    }
  }

  test("tfidfTopTerms: hand-computed scores, rank by rounded score then term") {
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "cherry date date cherry")
    ).toDF("doc_id", "text")
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    // idf = ln(4/(df+1)): apple/date ln2 = 0.693147, banana/cherry ln(4/3)
    val out = Keywords.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out((0L, 1)) == ("apple", 2L, 1.386294))
    assert(out((0L, 2)) == ("banana", 1L, 0.287682))
    assert(out((2L, 1)) == ("date", 2L, 1.386294))
    assert(out((2L, 2)) == ("cherry", 2L, 0.575364))
    // doc 1: equal tf=1 terms tie on ROUNDED score only when idf ties —
    // banana and cherry share df=2, so rank falls to the term tiebreak
    assert(out((1L, 1))._1 == "banana" && out((1L, 2))._1 == "cherry")
    intercept[IllegalArgumentException] {
      Keywords.tfidfTopTerms(docs, "doc_id", "text", k = 0)
    }
  }

  test("ccnetNormalize folds accents, zeroes digits, strips punctuation, collapses space") {
    val df = Seq(
      (0L, "  Café \t Ångström—naïve!!  Chapter 12, page 345.  "),
      (1L, "çà-et-là:  déjà   vu?"),
      (2L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        Corpus.ccnetNormalize(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // lower() runs BEFORE the fold, so uppercase Å reaches the table as å;
    // the em dash strips (joining angstrom+naive); digits become 0
    assert(out(0L) == "cafe angstromnaive chapter 00 page 000")
    assert(out(1L) == "caetla deja vu")
    assert(out(2L) == "")
  }

  test("exactKeepBest keeps the highest-score member, id ascending on ties") {
    val df = Seq(
      (10L, "Hello  World", 5L), (11L, "hello world", 9L),
      (12L, "HELLO\tWORLD", 9L), (13L, "something else", 2L)
    ).toDF("doc_id", "text", "score")
    val out = Dedup.exactKeepBest(df, "doc_id", "text", "score")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // group {10,11,12}: max score 9 held by 11 and 12 -> lowest id 11 wins
    assert(out == Map(11L -> (9L, 3L), 13L -> (2L, 1L)))
  }

  test("perplexityBuckets: terciles by cumulative count; straddling tie-blocks go middle") {
    val scored = Seq(
      (0L, Some(1.0)), (1L, Some(2.0)), (2L, Some(3.0)),
      (3L, Some(4.0)), (4L, Some(5.0)), (5L, Some(6.0)),
      (6L, Some(7.0)), (7L, Some(8.0)), (8L, Some(9.0)),
      (9L, None) // unscorable doc: null label
    ).toDF("doc_id", "nll_mean")
    val out = Perplexity.perplexityBuckets(scored)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getAs[String]("ppl_bucket")).toMap
    assert((0L to 2L).forall(out(_) == "head"))
    assert((3L to 5L).forall(out(_) == "middle"))
    assert((6L to 8L).forall(out(_) == "tail"))
    assert(out(9L) == null)
    // a tie block straddling the head boundary goes wholly to middle;
    // blocks starting at/after the tail cutoff are tail
    val tied = Seq(
      (0L, 1.0), (1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 2.0), (5L, 3.0)
    ).toDF("doc_id", "nll_mean")
    val t = Perplexity.perplexityBuckets(tied)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getAs[String]("ppl_bucket")).toMap
    assert((0L to 3L).forall(t(_) == "middle"))
    assert(t(4L) == "tail" && t(5L) == "tail")
    intercept[IllegalArgumentException] {
      Perplexity.perplexityBuckets(tied, headFrac = 0.7, tailFrac = 0.7)
    }
  }

  test("dsirLogWeights: target==raw zeroes every weight; feature count is uni+bigrams") {
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "a completely different sentence"),
      (2L, "one")
    ).toDF("doc_id", "text")
    // identical models on both sides -> every bucket's log-ratio is
    // EXACTLY 0 (same integer counts, same totals), so every document
    // sums to 0.0 — the self-consistency invariant of the formula
    val out = Dsir.dsirLogWeights(docs, "doc_id", "text", target = docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.collect().foreach { r =>
      val row = out(r.getLong(0))
      assert(row.getDouble(row.fieldIndex("ds_logw")) == 0.0)
    }
    // ds_grams = tokens + bigrams = (2n - 1) for n >= 2, n for n = 1
    assert(out(0L).getLong(out(0L).fieldIndex("ds_grams")) == 11L)
    assert(out(2L).getLong(out(2L).fieldIndex("ds_grams")) == 1L)
    intercept[IllegalArgumentException] {
      Dsir.dsirLogWeights(docs, "doc_id", "text", docs, k = 0L)
    }
  }

  test("dsirLogWeights ranks target-vocabulary documents above off-target ones") {
    val target = Seq(
      (100L, "spark engine shuffle partition broadcast join"),
      (101L, "spark partition codegen engine plan broadcast")
    ).toDF("doc_id", "text")
    val raw = Seq(
      (0L, "spark engine shuffle broadcast partition plan"), // target-like
      (1L, "spark engine partition broadcast shuffle"),      // target-like
      (2L, "cooking recipes with butter flour and sugar"),   // off-target
      (3L, "football scores and league standings today")     // off-target
    ).toDF("doc_id", "text")
    val w = Dsir.dsirLogWeights(raw, "doc_id", "text", target)
      .collect().map(r => r.getLong(0) ->
        r.getDouble(r.fieldIndex("ds_logw"))).toMap
    assert(math.min(w(0L), w(1L)) > math.max(w(2L), w(3L)),
      s"target-like docs must outscore off-target: $w")
  }

  test("dsirSelect keeps exactly ceil(keepFrac*n), boundary ties broken by id") {
    // four identical docs (equal weights — all ties) + two distinct: the
    // cutoff lands inside the tie block, so the fill must take the LOWEST
    // doc ids of the tied weight, matching the oracle's rank window
    val target = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val raw = Seq(
      (0L, "alpha beta gamma"), (1L, "unrelated words here"),
      (2L, "same tied text"), (3L, "same tied text"),
      (4L, "same tied text"), (5L, "same tied text")
    ).toDF("doc_id", "text")
    val scored = Dsir.dsirLogWeights(raw, "doc_id", "text", target)
    val expected = {
      val win = org.apache.spark.sql.expressions.Window
        .orderBy(col("ds_logw").desc, col("doc_id"))
      scored.withColumn("__rn", row_number().over(win))
        .filter(col("__rn") <= math.ceil(0.5 * 6).toInt)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val got = Dsir.dsirSelect(raw, "doc_id", "text", target, keepFrac = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.size == 3 && got == expected, s"got $got expected $expected")
    // empty corpus: no boundary row to collect — returns empty, no throw
    val empty = raw.filter(col("doc_id") < 0)
    assert(Dsir.dsirSelect(empty, "doc_id", "text", target, 0.5).count() == 0L)
    intercept[IllegalArgumentException] {
      Dsir.dsirSelect(raw, "doc_id", "text", target, 0.0)
    }
  }

  test("stupidBackoffScore: hand-computed hit and backoff branches") {
    // ref "a b a c": uni a:2 b:1 c:1 (N=4, V=4); bigrams "a b","b a","a c"
    val ref = Seq((0L, "a b a c")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b x"), // "a b" hit ln(1/2); "b x" OOV backoff ln(0.4*1/8)
      (2L, "x a"),   // miss with seen trailing word: ln(0.4*(2+1)/8)
      (3L, "solo"),  // no bigram: grams 0, null score
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Perplexity.stupidBackoffScore(docs, "doc_id", "text", ref)
      .select("doc_id", "sb_grams", "sb_hits", "sb_logscore").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    val exp1 = (math.log(1.0 / 2) + math.log(0.4 * 1.0 / 8)) / 2
    assert(out(1L)._1 == 2 && out(1L)._2 == 1)
    assert(math.abs(out(1L)._3 - exp1) < 1e-6, s"got ${out(1L)._3} want $exp1")
    assert(out(2L)._1 == 1 && out(2L)._2 == 0)
    assert(math.abs(out(2L)._3 - math.log(0.4 * 3.0 / 8)) < 1e-6)
    assert(out(3L) == ((0L, 0L, Double.NaN)) ||
      (out(3L)._1 == 0L && out(3L)._3.isNaN))
    assert(out(4L)._1 == 0L && out(4L)._3.isNaN)
    // seen-everything doc ranks above gibberish
    val rank = Perplexity.stupidBackoffScore(
      Seq((1L, "a b a c"), (2L, "zz qq ww")).toDF("doc_id", "text"),
      "doc_id", "text", ref)
      .select("doc_id", "sb_logscore").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rank(1L) > rank(2L))
    intercept[IllegalArgumentException] {
      Perplexity.stupidBackoffScore(docs, "doc_id", "text", ref, alpha = 0.0)
    }
  }

  test("segmentLangStats: polyglot page detection with per-segment langid") {
    val docs = Seq(
      (1L, "The cat is on the mat. Le chat est sur le tapis! El gato es un gato."),
      (2L, "The dog is in the house. The cat is on the mat."),
      (3L, ""),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextStats.segmentLangStats(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val p = out(1L)
    assert(p.getAs[Long]("n_segments") == 3L)
    assert(p.getAs[Long]("seg_en") == 1L && p.getAs[Long]("seg_fr") == 1L &&
      p.getAs[Long]("seg_es") == 1L && p.getAs[Long]("seg_de") == 0L)
    assert(p.getAs[String]("lang_major") == "en") // tie goes en-first like q33
    assert(math.abs(p.getAs[Double]("lang_major_frac") - 1.0 / 3) < 1e-12)
    val mono = out(2L)
    assert(mono.getAs[Long]("n_segments") == 2L &&
      mono.getAs[String]("lang_major") == "en" &&
      mono.getAs[Double]("lang_major_frac") == 1.0)
    for (id <- Seq(3L, 4L)) {
      assert(out(id).getAs[Long]("n_segments") == 0L)
      assert(out(id).getAs[String]("lang_major") == null)
      assert(out(id).isNullAt(out(id).fieldIndex("lang_major_frac")))
    }
  }

  test("quality classifier separates the classes and is partitioning-invariant") {
    val pos = Seq(
      (0L, "the cat is on the mat and the dog is in the house"),
      (1L, "a report on the state of the data for the board"),
      (2L, "the quick brown fox jumps over the lazy dog in the field"),
      (3L, "this is a story of the sea and of the wind")
    ).toDF("doc_id", "text")
    val neg = Seq(
      (0L, "el gato es un animal y los perros son animales"),
      (1L, "las casas y los coches son caros por el momento"),
      (2L, "el agua es importante para las plantas y los animales"),
      (3L, "un dia por la playa con el sol y las olas")
    ).toDF("doc_id", "text")
    val model = Classifier.train(pos, neg, "doc_id", "text",
      iters = 15, lr = 50.0)
    val held = Seq(
      (10L, "the ship is on the water and the crew is on the deck"),
      (11L, "los barcos y el mar son para los marineros")
    ).toDF("doc_id", "text")
    val scored = Classifier.score(held, "doc_id", "text", model).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("clf_prob"), r.getAs[Boolean]("clf_keep"))).toMap
    assert(scored(10L)._1 > scored(11L)._1,
      s"en ${scored(10L)._1} should beat es ${scored(11L)._1}")
    assert(scored(10L)._2 && !scored(11L)._2)
    // bit-identical model under a different input partitioning: decimal
    // accumulation makes every cross-row sum order-independent
    val model2 = Classifier.train(pos.repartition(7), neg.repartition(5),
      "doc_id", "text", iters = 15, lr = 50.0)
    assert(model.bias == model2.bias)
    assert(model.weights.sameElements(model2.weights))
    intercept[IllegalArgumentException] {
      Classifier.train(pos, neg, "doc_id", "text", iters = 0)
    }
  }

  /** `Classifier.train` as a sequence of DataFrame aggregates — the
    * formulation the RDD pass replaced, kept as its equivalence oracle: per
    * iteration one (doc)-keyed exact margin aggregate over the weights as
    * an array literal, and one (bucket)-keyed exact gradient aggregate,
    * collected. */
  private def trainDataFrames(pos: org.apache.spark.sql.DataFrame,
                              neg: org.apache.spark.sql.DataFrame,
                              buckets: Int, iters: Int, lr: Double,
                              l2: Double): Classifier.LinearModel = {
    val salt = "graft:clf"
    val feats = Classifier.featureRows(pos, "doc_id", "text", 1.0, buckets, salt)
      .unionAll(Classifier.featureRows(neg, "doc_id", "text", 0.0, buckets, salt))
      .repartition(2, col("__key"))
      .transform(Checkpoint.materialize)
    val n = feats.select(countDistinct(col("__key"))).head().getLong(0)
    var w = new Array[Double](buckets + 1)
    for (it <- 1 to iters) {
      val lrT = lr * (1.0 - (it - 1).toDouble / iters)
      val err = feats
        .groupBy(col("__key"), col("__y"))
        .agg(sum((col("__x") *
          element_at(lit(w), col("bucket") + 2)).cast(Classifier.Dec)).as("__m"))
        .select(col("__key"),
          (lit(1.0) / (lit(1.0) + exp(-col("__m").cast("double")))
            - col("__y")).as("__e"))
      val grads = feats.join(err, Seq("__key"))
        .groupBy(col("bucket"))
        .agg(sum((col("__e") * col("__x")).cast(Classifier.Dec)).as("__g"))
        .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
      w = Array.tabulate(buckets + 1)(b =>
        w(b) - lrT * (grads.getOrElse(b - 1, 0.0) / n +
          (if (b == 0) 0.0 else l2 * w(b))))
    }
    Classifier.LinearModel(w.drop(1), w(0) * Classifier.BiasX, buckets, salt)
  }

  /** 120 real documents split by the heuristic gate, q111's labeling. */
  private def gateSlices = {
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(120)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .toDF("doc_id", "text")
    val pts = TextStats.qualityPoints(col("text"))
    (docs.filter(pts === 10), docs.filter(pts < 10))
  }

  test("quality classifier: train equals its DataFrame formulation bit for bit") {
    val small = (
      Seq((0L, "the cat is on the mat"), (1L, "a report on the data"),
        (2L, "the dog in the field")).toDF("doc_id", "text"),
      Seq((0L, "el gato es un animal"), (1L, "las casas y los coches"),
        (2L, "un dia por la playa"), (3L, "")).toDF("doc_id", "text"))
    val (gatePos, gateNeg) = gateSlices
    for (((pos, neg), buckets, iters, l2) <- Seq((small, 64, 6, 0.0),
        ((gatePos.repartition(5), gateNeg.repartition(3)), 1 << 12, 5, 0.01))) {
      val got = Classifier.train(pos, neg, "doc_id", "text", buckets = buckets,
        iters = iters, lr = 300.0, l2 = l2)
      val want = trainDataFrames(pos, neg, buckets, iters, 300.0, l2)
      assert(got.bias == want.bias && got.weights.sameElements(want.weights),
        s"buckets $buckets: bias ${got.bias} vs ${want.bias}")
      assert(got.weights.exists(_ != 0.0))
    }
    // a term past DECIMAL(38,18) fails the fit under ANSI, as the cast does
    val (pos, neg) = small
    def arithmetic(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[ArithmeticException] || arithmetic(t.getCause))
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    for (fit <- Seq[() => Any](
        () => Classifier.train(pos, neg, "doc_id", "text", buckets = 64,
          iters = 2, lr = 1e30),
        () => trainDataFrames(pos, neg, 64, 2, 1e30, 0.0)))
      assert(arithmetic(intercept[Exception](fit())))
  }

  test("quality classifier: one Spark job per GD iteration, no model-sized plan") {
    val (pos, neg) = gateSlices
    var model: Classifier.LinearModel = null
    def fit(k: Int): Unit =
      model = Classifier.train(pos, neg, "doc_id", "text", iters = k, lr = 50.0)
    fit(1) // warm: first-use planning and classes
    for (k <- Seq(2, 6)) {
      val jobs = TestSpark.jobsOf(fit(k))
      assert(jobs <= k + 4, s"train(iters = $k) ran $jobs jobs")
    }
    val fit2 = TestSpark.executionsOf(fit(2))
    val fit6 = TestSpark.executionsOf(fit(6))
    assert(fit6.size == fit2.size,
      s"SQL executions grow with iterations: ${fit2.size} vs ${fit6.size}")
    assert(model.weights.count(_ != 0.0) > 100)
    val scoring = TestSpark.executionsOf(
      Classifier.score(pos.unionByName(neg), "doc_id", "text", model).collect())
    assert(scoring.nonEmpty)
    for (e <- fit2 ++ fit6 ++ scoring)
      assert(e.physicalPlanDescription.length <= 64 * 1024,
        s"execution ${e.executionId} (${e.description}) plans " +
          s"${e.physicalPlanDescription.length} chars")
  }

  test("binary ANN: self-match first, decent recall with re-rank, frozen thresholds") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.annTopK(e, q, "vec_id", "embedding", 5))
    val bin = pairs(Quantize.binaryTopK(e, q, "vec_id", "embedding",
      topK = 5, rerank = 4))
    val recall = (brute & bin).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall@5 = $recall")
    // hamming-only mode: a vector is its own nearest signature
    val ham0 = Quantize.binaryTopK(e, e.filter(col("vec_id") === 7), "vec_id",
      "embedding", topK = 3, rerank = 0)
    assert(ham0.columns.contains("ham") && ham0.count() == 3)
    // frozen thresholds: binarizeWith under the same sums is partitioning-
    // invariant bit-for-bit
    val stats = e.select(posexplode(transform(col("embedding"),
        x => floor(x.cast("double") * 1000000.0).cast("long"))).as(Seq("d", "q")))
      .groupBy(col("d")).agg(sum(col("q")).as("s"), count(lit(1)).as("c")).collect()
    val sums = new Array[Long](stats.length)
    stats.foreach(r => sums(r.getInt(0)) = r.getLong(1))
    val n = stats.head.getLong(2)
    def words(df: org.apache.spark.sql.DataFrame) =
      Quantize.binarizeWith(df, "vec_id", "embedding", sums, n)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(words(e) == words(e.repartition(13)))
    intercept[IllegalArgumentException] {
      Quantize.binaryTopK(e, q, "vec_id", "embedding", topK = 0)
    }
  }

  test("dedupCorpusKeepBest keeps the highest-scoring member at both stages") {
    val df = Seq(
      (0L, base, 10L),                              // near-dup cluster, low score
      (1L, base + " extra", 99L),                   // same cluster, best score
      (2L, base.replace("quick", "slow"), 5L),      // same cluster
      (3L, "completely different words describing a data processing engine built on spark", 1L),
      (4L, base.toUpperCase, 50L)                   // exact dup of 0 modulo case
    ).toDF("doc_id", "text", "score")
    val kb = Dedup.dedupCorpusKeepBest(df, "doc_id", "text", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact stage: {0,4} keeps 4 (50 > 10); near-dup cluster {4,1} keeps 1
    // (99 > 50); doc 2 is below the 0.8 jaccard bar (2/12 shingles changed)
    // and rightly survives
    assert(kb == Set(1L, 2L, 3L), s"got $kb")
    // the first-wins terminal keeps min-id 0 from the same duplicate mass
    val fw = Dedup.dedupCorpus(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fw == Set(0L, 2L, 3L), s"got $fw")
  }

  test("filterByNormBand drops value blocks at both ends, straddlers survive") {
    // norms 1..10 (vector (k, 0)): drop 20% low + 20% high → keep 3..8
    val vs = (1 to 10).map(k => (k.toLong, Array(k.toFloat, 0f)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.filterByNormBand(vs, "vec_id", "embedding",
      dropLowFrac = 0.2, dropHighFrac = 0.2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == (3L to 8L).toSet, s"got $kept")
    // a tie block straddling the low boundary survives whole: three docs
    // share norm 1, dropLow=0.2 of n=5 cuts 1 — the block of 3 straddles
    val tied = Seq((1L, 1f), (2L, 1f), (3L, 1f), (4L, 5f), (5L, 9f))
      .map { case (i, x) => (i, Array(x, 0f)) }.toDF("vec_id", "embedding")
    val keptTied = Similarity.filterByNormBand(tied, "vec_id", "embedding",
      dropLowFrac = 0.2, dropHighFrac = 0.0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptTied == Set(1L, 2L, 3L, 4L, 5L), s"got $keptTied")
    intercept[IllegalArgumentException] {
      Similarity.filterByNormBand(vs, "vec_id", "embedding", 0.6, 0.5)
    }
  }

  test("lengthHistogram: exact per-source bucket counts and token sums") {
    val docs = Seq(
      ("a", "one two three"),            // 3 tokens → bucket 0
      ("a", (1 to 25).map(_ => "w").mkString(" ")), // 25 → bucket 1
      ("a", (1 to 22).map(_ => "w").mkString(" ")), // 22 → bucket 1
      ("b", "x"),                        // 1 → bucket 0
      ("b", null.asInstanceOf[String])   // null → 1 empty token → bucket 0
    ).toDF("source", "text")
    val out = Audit.lengthHistogram(docs, "text", "source", bucketWidth = 20)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(("a", 0L)) == ((1L, 3L, 0L)))
    assert(out(("a", 1L)) == ((2L, 47L, 20L)))
    assert(out(("b", 0L)) == ((2L, 2L, 0L)))
    intercept[IllegalArgumentException] {
      Audit.lengthHistogram(docs, "text", "source", bucketWidth = 0)
    }
  }

  test("incrementalHamming: exact and near signature matches drop, bloom perf-only") {
    val seen = Seq((0L, 0x00FFL), (1L, 0x0F0FL), (2L, 0xAAAAL)).toDF("id", "sig")
    val arrivals = Seq(
      (10L, 0x00FFL),          // exact copy of seen 0
      (11L, 0x00FDL),          // Hamming 1 from seen 0
      (12L, 0x5500AA00L)       // far from everything
    ).toDF("id", "sig")
    for (fpp <- Seq(0.01, 0.5)) {
      val kept0 = Dedup.incrementalHamming(arrivals, seen, maxDist = 0, fpp = fpp)
        .select("id").as[Long].collect().toSet
      assert(kept0 == Set(11L, 12L), s"maxDist=0 fpp=$fpp kept $kept0")
      val kept3 = Dedup.incrementalHamming(arrivals, seen, maxDist = 3, fpp = fpp)
        .select("id").as[Long].collect().toSet
      assert(kept3 == Set(12L), s"maxDist=3 fpp=$fpp kept $kept3")
    }
    intercept[IllegalArgumentException] {
      Dedup.incrementalHamming(arrivals, seen, maxDist = 4)
    }
  }

  test("extractHtmlText: blocks stripped, entities decoded amp-last, ws collapsed") {
    val html = "<html><style>a{color:x}</style>" +
      "<script>if (1<2) { x('<b>'); }</script>" +
      "<body><h1>Title</h1><!-- nav comment --><p>A &amp;amp; B &lt;tag&gt; " +
      "&quot;q&quot; &#39;s&#39; &nbsp;end</p></body></html>"
    val out = Seq(html).toDF("h")
      .select(TextStats.extractHtmlText(col("h")).as("t"))
      .head().getString(0)
    // &amp;amp; decodes ONCE (amp runs last, left-to-right non-overlapping)
    assert(out == "Title A &amp; B <tag> \"q\" 's' end")
    // null html -> empty string; plain text passes through normalized
    val plain = Seq((null.asInstanceOf[String], "no  markup here")).toDF("a", "b")
    val r = plain.select(TextStats.extractHtmlText(col("a")).as("x"),
      TextStats.extractHtmlText(col("b")).as("y")).head()
    assert(r.getString(0) == "" && r.getString(1) == "no markup here")
  }

  test("sourceOverlapMatrix: exact shared-gram counts and overlap coefficient") {
    val shared = "common passage one two three four five six seven eight nine"
    val docs = Seq(
      ("a", shared),                    // a: grams of the 12-token passage
      ("a", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
      ("b", shared),                    // b shares the passage with a
      ("c", "entirely disjoint content uno dos tres cuatro cinco seis siete ocho")
    ).toDF("source", "text")
    val out = Audit.sourceOverlapMatrix(docs, "text", "source", k = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // only (a, b) overlaps; shared grams = the 11-token passage's 4 shingles
    assert(out.keySet == Set(("a", "b")))
    val (sh, n1, n2, ov) = out(("a", "b"))
    assert(sh == 4L && n2 == 4L && n1 == 8L)   // a has 4 + 4 from doc 2
    assert(ov == 1.0)                           // b is fully contained in a
  }

  test("videoDHash: majority fold, planted tweaked-clip near pairs, poison drops") {
    // identical clips -> identical signature, found at dist 0
    val ids = 0L until 6L
    val rows = ids.map(i => Multimodal.MediaRow(i, Multimodal.patternGif(i))) ++
      ids.map(i => Multimodal.MediaRow(i + 100,
        Multimodal.patternGif(i, tweakCells = 1)))
    val media = spark.createDataset(rows.toSeq)
    val sigRows = Multimodal.videoDHash(media).collect()
    val sigs = sigRows.map(r => r.id -> r.vhash).toMap
    val planted = ids.map(i => (i, java.lang.Long.bitCount(sigs(i) ^ sigs(i + 100))))
    assert(planted.exists(_._2 <= 3), s"no planted pair within 3: $planted")
    val pairs = Multimodal.videoPerceptualPairs(media, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.filter(_._2 <= 3).foreach { case (i, _) =>
      assert(pairs.contains((i, i + 100)), s"missing planted pair $i")
    }
    sigRows.foreach { r =>
      assert(((r.sig_hi << 32) | r.sig_lo) == r.vhash)
      assert(r.n_frames == 3 && r.sig_hi >= 0L && r.sig_lo >= 0L)
    }
    // poison bytes drop the row, not the task
    val poisoned = spark.createDataset(Seq(
      Multimodal.MediaRow(0L, Multimodal.patternGif(0L)),
      Multimodal.MediaRow(1L, Array[Byte](71, 73, 70, 56))))
    assert(Multimodal.videoDHash(poisoned).collect().map(_.id).toSeq == Seq(0L))
  }

  test("splitLeakReport: exactly the boundary-crossing near-dup pairs") {
    // 15 planted identical pairs (ids i, i+1000) with unique per-pair text
    val docs = (0L until 15L).flatMap { i =>
      val t = s"planted pair number $i with enough distinct body tokens " +
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
      Seq((i, t), (i + 1000L, t))
    }.toDF("doc_id", "text")
    val splits = Corpus.hashSplit(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val expected = (0L until 15L)
      .filter(i => splits(i) != splits(i + 1000L))
      .map(i => (i, i + 1000L)).toSet
    assert(expected.nonEmpty, "fixture produced no cross-split pairs")
    val got = Corpus.splitLeakReport(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    // and the report is empty on a leak-free corpus (all-unique docs)
    val unique = (0L until 10L).map(i =>
      (i, s"totally unique document $i uniq${i}a uniq${i}b uniq${i}c uniq${i}d"))
      .toDF("doc_id", "text")
    assert(Corpus.splitLeakReport(unique, "doc_id", "text").count() == 0L)
  }

  test("noveltyScore: shared shingles score 0, unique 1, partial in between") {
    val shared = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (0L, shared),
      (1L, shared),                                       // exact copy -> 0
      (2L, "totally different words in this unique document body here now"),
      (3L, shared + " plus a genuinely novel unique tail section") // partial
    ).toDF("doc_id", "text")
    val out = Audit.noveltyScore(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L)._3 == 0.0 && out(1L)._3 == 0.0)
    assert(out(2L)._3 == 1.0)
    assert(out(3L)._3 > 0.0 && out(3L)._3 < 1.0)
    // doc 0/1: 12 tokens -> 5 distinct 8-shingles
    assert(out(0L)._1 == 5L && out(0L)._2 == 0L)
    // short doc (< k tokens) contributes its whole text as one shingle
    val short = Seq((0L, "tiny doc"), (1L, "tiny doc"), (2L, "other")).toDF("doc_id", "text")
    val so = Audit.noveltyScore(short, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(so == Map(0L -> 0.0, 1L -> 0.0, 2L -> 1.0))
  }

  test("bpeTrain: hand-computed merges, deterministic ties, train->apply composes") {
    val docs = Seq((0L, "ab ab ab"), (1L, "abc abc")).toDF("doc_id", "text")
    // pre-tokens: "ab"x1, " ab"x2, "abc"x1, " abc"x1 (BpePattern keeps the
    // leading space). Whitespace-free pair counts: (a,b)=5, (b,c)=2 ->
    // merge "a b"; then (ab,c)=2 -> merge "ab c"; then only space-pairs
    // remain -> stop (space-bearing symbols never merge).
    val (m, v) = TextStats.bpeTrain(docs, "text", numMerges = 5)
    assert(m == Seq("a b", "ab c"))
    assert(v.contains("ab") && v.contains("abc") && v.contains("a"))
    // train -> apply composes: counts from the induced table
    val counts = TextStats.bpeStats(docs, "text", m, v)
      .select("doc_id", "bpe_count").as[(Long, Int)].collect().toMap
    // doc0: [ab] + 2x[" ", ab] = 5; doc1: [abc] + [" ", abc] = 3
    assert(counts == Map(0L -> 5, 1L -> 3))
    // minPairCount=1 keeps merging into full words (space still never merges)
    val (m1, _) = TextStats.bpeTrain(docs, "text", numMerges = 5, minPairCount = 1)
    assert(m1 == Seq("a b", "ab c"))
    // deterministic: same corpus, same merges
    assert(TextStats.bpeTrain(docs, "text", numMerges = 5)._1 == m)
    // lexicographic tiebreak at equal counts: "xy zw" corpus has
    // (x,y)=2 and (z,w)=2 -> (x,y) first
    val tie = Seq((0L, "xy zw xy zw")).toDF("doc_id", "text")
    assert(TextStats.bpeTrain(tie, "text", numMerges = 1)._1 == Seq("x y"))
  }

  test("bpeTrain: incremental pair counts match the naive recount at 200 merges") {
    // the Sennrich-optimized loop (postings + additive count maintenance)
    // must select bit-identical merges to a from-scratch recount every
    // iteration — checked deep enough (200 merges over a mixed corpus)
    // that any drift in the maintenance would surface
    val rnd = new scala.util.Random(11)
    val vocabLetters = "abcdefghij"
    val docs = (0 until 60).map { i =>
      val words = (0 until 30).map { _ =>
        (0 until (2 + rnd.nextInt(6)))
          .map(_ => vocabLetters(rnd.nextInt(vocabLetters.length))).mkString
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val (m, _) = TextStats.bpeTrain(docs, "text", numMerges = 200,
      minPairCount = 2)
    // naive reference: recount all pairs every iteration
    val words = docs.select(explode(filter(
        TextStats.bpeTokens(coalesce(col("text"), lit(""))),
        t => !t.rlike("^\\s+$"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(100000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def mergeable(s: String) = !s.exists(_.isWhitespace)
    def mergeAll(syms: Array[String], a: String, b: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }
    var reps = words.map { case (w, n) => (w.map(_.toString).toArray, n) }.toSeq
    val naive = scala.collection.mutable.ArrayBuffer.empty[String]
    var stop = false
    while (naive.length < 200 && !stop) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      reps.foreach { case (syms, n) =>
        for (i <- 0 until syms.length - 1
             if mergeable(syms(i)) && mergeable(syms(i + 1)))
          counts.update((syms(i), syms(i + 1)),
            counts.getOrElse((syms(i), syms(i + 1)), 0L) + n)
      }
      if (counts.isEmpty) stop = true
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), cc) => (-cc, x, y) }
        if (c < 2L) stop = true
        else { naive += s"$a $b"; reps = reps.map { case (s2, n) => (mergeAll(s2, a, b), n) } }
      }
    }
    assert(m == naive.toSeq, s"incremental loop diverged at merge ${
      m.zip(naive).indexWhere { case (x, y) => x != y }}")
    assert(m.length == 200, s"fixture exhausted early: ${m.length} merges")
  }

  test("minKProbScore: worst-k law, selection count, memorization separation") {
    val ref = Seq(
      (100L, "the model reads the corpus and the corpus trains the model daily"),
      (101L, "data pipelines filter score and pack documents into training shards"),
      (102L, "the model reads the corpus and the corpus trains the model nightly")
    ).toDF("doc_id", "text")
    val probe = Seq(
      // memorized: verbatim reference member — even its worst bigrams are seen
      (0L, "the model reads the corpus and the corpus trains the model daily"),
      // partially novel: reference-like head + garbled tail the model never saw
      (1L, "the model reads the corpus and zxqv wvut qqzz plmk trains nothing")
    ).toDF("doc_id", "text")
    val mink = Perplexity.minKProbScore(probe, "doc_id", "text", ref, kFrac = 0.2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(r.fieldIndex("lm_grams")), r.getLong(r.fieldIndex("mk_k")),
          r.getDouble(r.fieldIndex("mink_nll")))).toMap
    val full = Perplexity.perplexityScore(probe, "doc_id", "text", ref)
      .collect().map(r => r.getLong(0) ->
        r.getDouble(r.fieldIndex("nll_mean"))).toMap
    // selection count law: mk_k = max(1, ceil(0.2 * lm_grams))
    mink.foreach { case (_, (g, mk, _)) =>
      assert(mk == math.max(1L, math.ceil(0.2 * g).toLong)) }
    // worst-k mean dominates the full mean (it averages a subset chosen to
    // be the most surprising)
    mink.keys.foreach(id => assert(mink(id)._3 >= full(id) - 1e-9))
    // the memorization signal: the verbatim member's worst bigrams are all
    // seen, the garbled doc's are OOV — a wide margin, not a tie-breaker
    assert(mink(0L)._3 + 0.5 < mink(1L)._3,
      s"expected memorized ${mink(0L)._3} well under novel ${mink(1L)._3}")
  }

  test("minKProbScore: spill-safe per-doc path survives a 10^6-gram document") {
    // a single book-length outlier: 1,000,001 tokens -> 10^6 bigrams, all
    // identical ("a a"), so the worst-20% mean must equal the full mean —
    // an end-to-end value check that needs no model internals. The old
    // collect_list path built one 10^6-element aggregation buffer here;
    // the rank-window path keeps per-task state spillable.
    val big = "a " * 1000000 + "a"
    val probe = Seq((0L, big)).toDF("doc_id", "text")
    val ref = Seq((100L, "a a a a a a a a")).toDF("doc_id", "text")
    val mink = Perplexity.minKProbScore(probe, "doc_id", "text", ref,
      kFrac = 0.2).collect()(0)
    assert(mink.getLong(mink.fieldIndex("lm_grams")) == 1000000L)
    assert(mink.getLong(mink.fieldIndex("mk_k")) == 200000L)
    val full = Perplexity.perplexityScore(probe, "doc_id", "text", ref)
      .collect()(0)
    assert(math.abs(mink.getDouble(mink.fieldIndex("mink_nll")) -
      full.getDouble(full.fieldIndex("nll_mean"))) <= 1e-6)
  }

  test("canonicalUrl rules and dedupByUrl keep-best") {
    val cases = Seq(
      "HTTPS://WWW.Example.com/Page/" -> "http://example.com/page",
      "http://example.com/p?utm_source=x&id=1&utm_medium=y" -> "http://example.com/p?id=1",
      "http://example.com/p?utm_source=x" -> "http://example.com/p",
      "http://example.com/p?utm_a=1&utm_b=2" -> "http://example.com/p",
      "http://example.com/p?gclid=z&ref=hn#middle" -> "http://example.com/p",
      "http://example.com/p?id=1&fbclid=q" -> "http://example.com/p?id=1",
      "http://example.com" -> "http://example.com")
    val got = cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "u")
      .select(col("id"), Urls.canonicalUrl(col("u")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i.toLong) == want, s"canonicalUrl($in)") }
    // keep-best: three variants of one page, highest score wins
    val docs = Seq(
      (1L, "https://www.site.com/a?utm_source=x", 10L),
      (2L, "http://site.com/a/", 30L),
      (3L, "http://site.com/a#f", 20L),
      (4L, "http://other.com/b", 5L)
    ).toDF("doc_id", "url", "score")
    val kept = Urls.dedupByUrl(docs, "doc_id", "url", "score")
      .select("doc_id", "n_url_copies").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(2L -> 3L, 4L -> 1L), s"got $kept")
  }

  test("nearDupSourceMatrix: unordered source pairs, within vs cross source") {
    val baseA = "the quick brown fox jumps over the lazy dog again and again tonight"
    val baseB = "window functions rank rows within partitions ordered by frames and bounds"
    val docs = Seq(
      (1L, baseA, "s1"), (2L, baseA + " extra", "s1"),          // within s1
      (3L, baseB, "s2"), (4L, baseB + " extra", "s1"),          // cross s1/s2
      (5L, "a totally unrelated text about adaptive query execution plans", "s3")
    ).toDF("doc_id", "text", "source")
    val out = Audit.nearDupSourceMatrix(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("s1", "s1") -> 1L, ("s1", "s2") -> 1L), s"got $out")
  }

  test("dupClusterHistogram: exact groups weight near-dup clusters; singletons counted") {
    // a×3 exact copies, b×2, c + near-dup c' (one appended token), d unique
    // → clusters: {a,a,a}=3, {b,b}=2, {c,c'}=2, {d}=1
    val baseA = "the quick brown fox jumps over the lazy dog again and again tonight"
    val baseB = "window functions rank rows within partitions ordered by frames and bounds"
    val baseC = "broadcast joins ship the small side to every executor avoiding a shuffle"
    val docs = Seq(
      (1L, baseA), (2L, baseA), (3L, baseA.toUpperCase),
      (4L, baseB), (5L, baseB),
      (6L, baseC), (7L, baseC + " extra"),
      (8L, "an entirely different document about partition pruning in spark plans")
    ).toDF("doc_id", "text")
    val out = Audit.dupClusterHistogram(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (1L, 1L), 2L -> (2L, 4L), 3L -> (1L, 3L)),
      s"got $out")
  }

  test("semanticAtlas: exact cell stats, discriminative terms, deterministic ties") {
    // two clean clusters, ids ALTERNATING so the 2 smallest-id pivots
    // (0, 1) cover both: even ids ~ e1 with vocabulary alpha/beta, odd
    // ids ~ e2 with gamma/delta; "common" appears everywhere (idf 0 —
    // must never label a cell), word$i is unique per doc
    val emb = (0 until 8).map { i =>
      val v = Array.fill(8)(0.001f * (i + 1))
      if (i % 2 == 0) v(0) = 1f else v(1) = 1f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val docs = (0 until 8).map { i =>
      (i.toLong,
        if (i % 2 == 0) s"alpha beta common word$i" else s"gamma delta common word$i")
    }.toDF("doc_id", "text")
    val out = Audit.semanticAtlas(docs, emb, "doc_id", "text",
        "vec_id", "embedding", nCells = 2, topTerms = 2)
      .collect().map(r => (r.getLong(0), r.getInt(7)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5)))
      .toMap
    // per cell: 4 docs x 4 tokens; quality = 2 points/doc (punct rule only)
    out.values.foreach { case (nDocs, toks, q, mean, _) =>
      assert((nDocs, toks, q, mean) == (4L, 16L, 8L, 2.0))
    }
    // top-2 terms = the cluster vocabulary, alphabetical on the score tie;
    // "common" (idf 0) and the unique word$i (cdf 1) never outrank them
    assert(out((0L, 1))._5 == "alpha" && out((0L, 2))._5 == "beta")
    assert(out((1L, 1))._5 == "delta" && out((1L, 2))._5 == "gamma")
  }

  test("vocabularyReport: exact type/token/hapax tallies per source") {
    val docs = Seq(
      ("a", "x x y z"),        // tokens 4; types x,y,z; hapax y,z; top x=2
      ("a", "x w"),            // a: tokens 6, types x,y,z,w; hapax y,z,w; top 3
      ("b", "u u u"),
      ("b", null.asInstanceOf[String]) // -> one '' token
    ).toDF("source", "text")
    val out = Audit.vocabularyReport(docs, "text", "source")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getLong(a.fieldIndex("tokens_sum")) == 6L)
    assert(a.getLong(a.fieldIndex("types")) == 4L)
    assert(a.getLong(a.fieldIndex("hapax")) == 3L)
    assert(a.getLong(a.fieldIndex("top_token_count")) == 3L)
    assert(a.getDouble(a.fieldIndex("ttr")) == 4.0 / 6.0)
    val b = out("b")
    assert(b.getLong(b.fieldIndex("tokens_sum")) == 4L)
    assert(b.getLong(b.fieldIndex("types")) == 2L)   // "u" and ""
    assert(b.getLong(b.fieldIndex("hapax")) == 1L)   // ""
  }

  test("topNgrams: exact occurrence/doc-freq counts, minDocFreq gate, rank order") {
    val docs = Seq(
      (0L, "a b c a b c"),      // "a b c"×2, "b c a"×1, "c a b"×1
      (1L, "a b c d"),          // "a b c", "b c d"
      (2L, "z z z z"),          // "z z z"×2 — single doc, killed by minDocFreq
      (3L, "a b"),              // too short for trigrams
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Audit.topNgrams(docs, "doc_id", "text", n = 3, topK = 10,
      minDocFreq = 2).collect()
    // only "a b c" appears in >= 2 docs
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "a b c" && r.getLong(1) == 3L &&
      r.getLong(2) == 2L && r.getInt(3) == 1)
    // minDocFreq=1 admits per-doc grams; rank follows (occurrences, gram)
    val all = Audit.topNgrams(docs, "doc_id", "text", n = 3, topK = 3,
      minDocFreq = 1).collect()
    assert(all.map(_.getString(0)).toSeq == Seq("a b c", "z z z", "b c a"))
    assert(all.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
    intercept[IllegalArgumentException] {
      Audit.topNgrams(docs, "doc_id", "text", n = 0)
    }
  }

  // ---- temporal joins ------------------------------------------------------

  private def tsDf(rows: Seq[(Long, Long, Double)], valName: String) =
    rows.toDF("k", "sec", valName)
      .withColumn("t", timestamp_seconds(col("sec"))).drop("sec")

  test("asofJoin: latest at-or-before match, inclusive equality, null before first") {
    val left = Seq((1L, 100L, 0.0), (1L, 50L, 0.0), (1L, 5L, 0.0), (2L, 100L, 0.0))
      .zipWithIndex.map { case ((k, s, _), i) => (i.toLong, k, s) }
      .toDF("lid", "k", "sec").withColumn("t", timestamp_seconds(col("sec"))).drop("sec")
    val right = tsDf(Seq((1L, 10L, 1.1), (1L, 50L, 2.2), (1L, 90L, 3.3), (9L, 1L, 9.9)), "v")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .select(col("lid"), col("v")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out(0L) == 3.3)   // t=100 → latest right at 90
    assert(out(1L) == 2.2)   // t=50 → right AT 50 (inclusive)
    assert(out(2L) == null)  // t=5 → nothing at or before
    assert(out(3L) == null)  // key 2 has no right rows at all
  }

  test("asofJoin: tolerance nulls out stale matches; right-time column surfaces") {
    val left = Seq((0L, 1L, 500L)).toDF("lid", "k", "sec")
      .withColumn("t", timestamp_seconds(col("sec"))).drop("sec")
    val right = tsDf(Seq((1L, 100L, 7.0)), "v")
    val loose = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      toleranceSeconds = Some(1000L)).select("v", "t_matched").head()
    assert(loose.getDouble(0) == 7.0 && !loose.isNullAt(1))
    val strict = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      toleranceSeconds = Some(100L)).select("v", "t_matched").head()
    assert(strict.isNullAt(0) && strict.isNullAt(1))
  }

  test("asofJoin: equal right timestamps resolve by payload order, not partitioning") {
    val left = Seq((0L, 1L, 60L)).toDF("lid", "k", "sec")
      .withColumn("t", timestamp_seconds(col("sec"))).drop("sec")
    val right = tsDf(Seq((1L, 30L, 2.0), (1L, 30L, 5.0), (1L, 30L, 1.0)), "v")
      .repartition(7)
    val got = (1 to 3).map(_ =>
      Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
        .select("v").head().getDouble(0))
    assert(got.toSet == Set(5.0)) // greatest (ts, v) struct wins, every run
  }

  test("asofJoin: forward and nearest directions complete the merge_asof surface") {
    val left = Seq((0L, 1L, 100L), (1L, 1L, 22L), (2L, 1L, 500L))
      .toDF("lid", "k", "sec")
      .withColumn("t", timestamp_seconds(col("sec"))).drop("sec")
    val right = tsDf(Seq((1L, 20L, 1.0), (1L, 110L, 2.0), (1L, 300L, 3.0)), "v")
    def got(dir: String, tol: Option[Long] = None) =
      Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"), tol, dir)
        .select(col("lid"), col("v")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val fwd = got("forward")
    assert(fwd(0L) == 2.0)  // t=100 → earliest at-or-after is 110
    assert(fwd(1L) == 2.0)  // t=22 → 20 is in the past; earliest ahead is 110
    assert(fwd(2L) == null) // nothing at-or-after 500
    val near = got("nearest")
    assert(near(0L) == 2.0)  // |100-110|=10 beats |100-20|=80
    assert(near(1L) == 1.0)  // |22-20|=2 beats |22-110|=88
    assert(near(2L) == 3.0)  // only the backward side exists
    // inclusive equality in forward mode; exact-tie goes backward in nearest
    val eq = Seq((0L, 1L, 50L)).toDF("lid", "k", "sec")
      .withColumn("t", timestamp_seconds(col("sec"))).drop("sec")
    val rEq = tsDf(Seq((1L, 50L, 7.0)), "v")
    assert(Joins.asofJoin(eq, rEq, Seq("k"), "t", "t", Seq("v"),
      direction = "forward").select("v").head().getDouble(0) == 7.0)
    val tie = tsDf(Seq((1L, 40L, 1.0), (1L, 60L, 2.0)), "v")
    assert(Joins.asofJoin(eq, tie, Seq("k"), "t", "t", Seq("v"),
      direction = "nearest").select("v").head().getDouble(0) == 1.0)
    // tolerance applies per direction
    val farFwd = got("forward", tol = Some(5L))
    assert(farFwd(0L) == null && farFwd(1L) == null)
    intercept[IllegalArgumentException] {
      Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
        direction = "sideways")
    }
  }

  test("rangeJoin: inclusive bounds, multi-match, key isolation, degenerate drop") {
    val points = tsDf(Seq((1L, 100L, 1.0), (1L, 200L, 2.0), (1L, 350L, 3.0),
      (2L, 100L, 4.0)), "pv")
    val intervals = Seq(
      (10L, 1L, 100L, 200L),  // catches both boundary points for key 1
      (11L, 1L, 150L, 400L),  // overlaps: point 200 and 350 match here too
      (12L, 2L, 500L, 400L),  // degenerate end<start: matches nothing
      (13L, 3L, 0L, 1000L)    // other key: never sees key-1/2 points
    ).toDF("iid", "k", "s0", "s1")
      .withColumn("ws", timestamp_seconds(col("s0")))
      .withColumn("we", timestamp_seconds(col("s1")))
      .drop("s0", "s1")
    val out = Joins.rangeJoin(points, intervals, Seq("k"), "t", "ws", "we", 60L)
      .select(col("iid"), col("pv")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out == Set((10L, 1.0), (10L, 2.0), (11L, 2.0), (11L, 3.0)))
  }

  test("asofJoin: time-bucketed hot-key mode is exact for every width and direction") {
    // one key holds 90% of the rows (the skew regime timeBucketSeconds
    // exists for) plus a NULL key — the canonical degenerate hot key the
    // carry lookup must keep (null-safe join). Matches frequently cross
    // bucket boundaries at the small widths, exercising the bucket-level
    // boundary carry, not just the in-bucket window.
    val rnd = new scala.util.Random(7)
    val hotL = (0 until 180).map(i => (1L, 7L + i * 11L, i.toDouble))
    val coldL = (0 until 20).map(i => (2L + i % 3, 13L + i * 17L, 100.0 + i))
    val hotR = (0 until 90).map(i => (1L, 3L + i * 23L, 1000.0 + i))
    val coldR = (0 until 10).map(i => (2L + i % 3, 5L + i * 31L, 2000.0 + i))
    def withNullKey(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("k", when(col("v") === 0.0 || col("v") === 1000.0,
        lit(null).cast("long")).otherwise(col("k")))
    val left = withNullKey(tsDf(rnd.shuffle(hotL ++ coldL), "v"))
      .withColumnRenamed("v", "lv")
    val right = withNullKey(tsDf(rnd.shuffle(hotR ++ coldR), "v"))
    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(40L))) {
      val base = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
          tol, dir)
        .select("lv", "t_matched", "v").collect()
        .map(r => (r.get(0), r.get(1), r.get(2))).toSet
      for (w <- Seq(1L, 29L, 500L, 1000000L)) {
        val bucketed = Joins.asofJoin(left, right, Seq("k"), "t", "t",
            Seq("v"), tol, dir, timeBucketSeconds = Some(w))
          .select("lv", "t_matched", "v").collect()
          .map(r => (r.get(0), r.get(1), r.get(2))).toSet
        assert(bucketed == base, s"dir=$dir tol=$tol w=$w diverged")
      }
    }
    // the row-level windows must partition by (keys, bucket) — the whole
    // point: no window in the bucketed plan may group a key's entire
    // timeline into one partition
    val plan = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      timeBucketSeconds = Some(29L)).queryExecution.sparkPlan
    val rowWindows = plan.collect {
      case we: org.apache.spark.sql.execution.window.WindowExec => we
    }
    assert(rowWindows.exists(_.partitionSpec.size >= 2),
      "expected a (key, bucket)-partitioned row window in the bucketed plan")
  }

  test("rangeJoin: result is invariant to the bucket width") {
    val points = tsDf(Seq((1L, 95L, 1.0), (1L, 180L, 2.0), (1L, 260L, 3.0),
      (2L, 95L, 4.0), (2L, 300L, 5.0)), "pv")
    val intervals = Seq((0L, 1L, 90L, 260L), (1L, 2L, 200L, 301L))
      .toDF("iid", "k", "s0", "s1")
      .withColumn("ws", timestamp_seconds(col("s0")))
      .withColumn("we", timestamp_seconds(col("s1")))
      .drop("s0", "s1")
    val results = Seq(1L, 7L, 60L, 1000L).map { w =>
      Joins.rangeJoin(points, intervals, Seq("k"), "t", "ws", "we", w)
        .select(col("iid"), col("pv")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    }
    assert(results.forall(_ == results.head))
    assert(results.head == Set((0L, 1.0), (0L, 2.0), (0L, 3.0), (1L, 5.0)))
    intercept[IllegalArgumentException] {
      Joins.rangeJoin(points, intervals, Seq("k"), "t", "ws", "we", 0L)
    }
  }

  test("kmeans PQ codebooks: planted-twin recall kept, quantization SSE strictly lower") {
    // the r11-verdict item: first-K codebooks are deterministic but sit on
    // arbitrary early vectors; two fixed-point Lloyd iterations must (a)
    // keep the planted-near-dup recall at 1.0 and (b) strictly reduce the
    // corpus quantization SSE — the objective Lloyd minimizes and the
    // recall proxy that matters once top-k is no longer saturated.
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = Similarity.plantNearDups(e, "vec_id", "embedding",
      offset = 1000000L, scale = 0.01)
    val queries = corpus.filter(col("vec_id") < 1000000L)
    def sseOf(iters: Int): Double = {
      val cbs = Quantize.pqCodebooksKmeans(corpus, "vec_id", "embedding",
        8, 16, iters)
      val enc = Quantize.pqEncode(corpus, "vec_id", "embedding", cbs)
      val packed = cbs.groupBy(col("sub"))
        .agg(transform(array_sort(collect_list(struct(col("code"), col("cent")))),
          s => s("cent")).as("cents"))
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("cents")))),
          s => s("cents")).as("cb"))
      val v = corpus.select(col("vec_id").as("id"),
        Similarity.toDouble(col("embedding")).as("__v"))
      enc.join(v, Seq("id")).crossJoin(broadcast(packed))
        .select(aggregate(sequence(lit(0), size(col("codes")) - 1), lit(0.0),
          (acc, s) => {
            val cents = element_at(col("cb"), s + 1)
            val dsub = size(element_at(cents, 1))
            val sv = slice(col("__v"), s * dsub + 1, dsub)
            acc + aggregate(zip_with(sv,
              element_at(cents, element_at(col("codes"), s + 1) + 1),
              (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
          }).as("d"))
        .agg(sum(col("d"))).head().getDouble(0)
    }
    val top = Quantize.pqTopK(corpus, queries, "vec_id", "embedding",
      m = 8, ksub = 16, topK = 5, kmeansIters = 2)
    val hits = top.filter(col("neighbor_id") === col("qid") + 1000000L).count()
    assert(hits == queries.count(), "kmeans codebooks lost planted-twin recall")
    val (sse0, sse2) = (sseOf(0), sseOf(2))
    assert(sse2 < sse0 * 0.9,
      s"expected Lloyd to cut quantization SSE >=10% (got $sse0 -> $sse2)")
    // iters = 0 must be EXACTLY the legacy first-K codebook (seed contract)
    val legacy = Quantize.pqCodebooks(corpus, "vec_id", "embedding", 8, 16)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val seeded = Quantize.pqCodebooksKmeans(corpus, "vec_id", "embedding", 8, 16, 0)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(legacy == seeded)
  }

  test("residual IVF-PQ: lower quantization SSE than flat at equal budget; twin recall kept") {
    // residual codes (v − centroid(cell)) win exactly in the regime IVF
    // routing assumes: MORE CELLS THAN CODES over a clustered corpus — 16
    // codes per subspace cannot memorize 64 distinct dense cluster
    // patterns, while every cell's residuals collapse to one near-zero
    // distribution a shared codebook covers. (On isotropic noise the
    // residual carries the pivot's energy too and flat wins — the
    // documented trade; measured flat 576 vs residual 770 on the random
    // fixture.) Fixture: 64 dense LCG centers, id i in cluster i % 64 so
    // the 64 smallest-id pivots cover every cluster; noise at 0.02.
    val nClusters = 64
    val c = spark.range(0, 512).toDF("id")
      .withColumn("v", transform(sequence(lit(0), lit(63)), d => {
        val k = col("id") % nClusters
        val center = ((k * 2654435761L + d * 40503L) % 1000003L)
          .cast("double") / 1000003.0 * 2.0 - 1.0
        val noise = ((col("id") * 131L + d * 7919L) % 1000003L *
          2654435761L % 2000003L - 1000001L).cast("double") / 1000001.0
        center + lit(0.02) * noise
      }))
      .localCheckpoint()
    val piv = c.orderBy(col("id")).limit(nClusters)
      .select(col("id").as("pid"), col("v").as("pv"))
    def d2c(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("__dd"), col("pid"))
    val residuals = c.crossJoin(broadcast(piv))
      .select(col("id"), col("v"), col("pid"), round(d2c(col("v"), col("pv")), 6).as("__dd"),
        col("pv"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("id"), zip_with(col("v"), col("pv"), (x, p) => x - p).as("rv"))
    def sseOf(df: org.apache.spark.sql.DataFrame, vc: String): Double = {
      val cbs = Quantize.pqCodebooksKmeans(df, "id", vc, 8, 16, 2)
      val enc = Quantize.pqEncode(df, "id", vc, cbs)
      val packed = cbs.groupBy(col("sub"))
        .agg(transform(array_sort(collect_list(struct(col("code"), col("cent")))),
          s => s("cent")).as("cents"))
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("cents")))),
          s => s("cents")).as("cb"))
      enc.join(df.select(col("id"), Similarity.toDouble(col(vc)).as("__v")), Seq("id"))
        .crossJoin(broadcast(packed))
        .select(aggregate(sequence(lit(0), size(col("codes")) - 1), lit(0.0),
          (acc, s) => {
            val cents = element_at(col("cb"), s + 1)
            val dsub = size(element_at(cents, 1))
            acc + d2c(slice(col("__v"), s * dsub + 1, dsub),
              element_at(cents, element_at(col("codes"), s + 1) + 1))
          }).as("d"))
        .agg(sum(col("d"))).head().getDouble(0)
    }
    val flat = c.select(col("id"), col("v"))
    val (sseF, sseR) = (sseOf(flat, "v"), sseOf(residuals, "rv"))
    assert(sseR < sseF * 0.5,
      s"residual codes should quantize the clustered corpus at least 2x finer " +
        s"(flat=$sseF residual=$sseR)")
    // and the end-to-end residual variant keeps the planted-twin recall on
    // the REAL (isotropic) fixture — quality trade or not, correctness and
    // recall hold there too
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = Similarity.plantNearDups(e, "vec_id", "embedding",
      offset = 1000000L, scale = 0.01)
    val queries = corpus.filter(col("vec_id") < 1000000L).limit(100)
    val top = Quantize.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      topK = 5, nCells = 16, nProbe = 4, m = 8, ksub = 16,
      kmeansIters = 2, residual = true)
    val hits = top.filter(col("neighbor_id") === col("qid") + 1000000L).count()
    val probed = queries.count()
    assert(hits >= probed * 9 / 10,
      s"residual IVF-PQ twin recall degraded: $hits/$probed")
  }

  test("OPQ permutation: balanced subspaces beat the contiguous split") {
    // variance concentrated in dims 0..7 — exactly the naive split's first
    // subspace. Plain PQ hands those 8 informative dims ONE 16-code book
    // while 7 codebooks quantize near-constants; the OPQ allocation must
    // spread them one per subspace, and the quantizer error must collapse.
    // ids 256..511 are planted twins of ids 0..255 (+5e-4 per component)
    // for the end-to-end recall check.
    val c = spark.range(0, 512).toDF("id")
      .withColumn("v", transform(sequence(lit(0), lit(63)), d => {
        val sig = pmod(hash((col("id") % 256).cast("int"), d), lit(1000003))
          .cast("double") / 1000003.0 * 2.0 - 1.0
        when(d < 8, sig).otherwise(sig * 0.001) +
          when(col("id") >= 256, 0.0005).otherwise(0.0)
      }))
      .localCheckpoint()
    val perm = Quantize.opqPermutation(c, "id", "v", 8)
    assert(perm.sorted.toSeq == (0 until 64), "not a permutation")
    val bySub = perm.grouped(8).toSeq
    assert(bySub.forall(b => b.count(_ < 8) == 1),
      s"high-variance dims not spread one per subspace: ${bySub.map(_.toSeq)}")
    // same permutation again — bit-reproducible training
    assert(Quantize.opqPermutation(c, "id", "v", 8).toSeq == perm.toSeq)

    def d2c(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    def sseOf(df: org.apache.spark.sql.DataFrame): Double = {
      val cbs = Quantize.pqCodebooksKmeans(df, "id", "v", 8, 16, 2)
      val enc = Quantize.pqEncode(df, "id", "v", cbs)
      val packed = cbs.groupBy(col("sub"))
        .agg(transform(array_sort(collect_list(struct(col("code"), col("cent")))),
          s => s("cent")).as("cents"))
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("cents")))),
          s => s("cents")).as("cb"))
      enc.join(df.select(col("id"), Similarity.toDouble(col("v")).as("__v")), Seq("id"))
        .crossJoin(broadcast(packed))
        .select(aggregate(sequence(lit(0), size(col("codes")) - 1), lit(0.0),
          (acc, s) => {
            val cents = element_at(col("cb"), s + 1)
            val dsub = size(element_at(cents, 1))
            acc + d2c(slice(col("__v"), s * dsub + 1, dsub),
              element_at(cents, element_at(col("codes"), s + 1) + 1))
          }).as("d"))
        .agg(sum(col("d"))).head().getDouble(0)
    }
    val ssePlain = sseOf(c)
    val sseOpq = sseOf(c.select(col("id"),
      Quantize.permute(col("v"), perm).as("v")))
    assert(sseOpq < ssePlain * 0.5,
      s"OPQ split should at least halve quantization SSE here " +
        s"(plain=$ssePlain opq=$sseOpq)")
    // end-to-end: opq=true finds every planted twin at rank 1
    val q = c.filter(col("id").isin(3L, 7L, 11L))
    val top = Quantize.pqTopK(c, q, "id", "v", m = 8, ksub = 16, topK = 1,
      kmeansIters = 2, opq = true)
    val twins = top.filter(col("rank") === 1)
      .filter(col("neighbor_id") === col("qid") + 256L).count()
    assert(twins == 3L, s"OPQ pqTopK lost planted twins: $twins/3")
  }

  test("jlTopK: formula-matrix projection keeps planted-twin recall; bit-reproducible") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = Similarity.plantNearDups(e, "vec_id", "embedding",
      offset = 1000000L, scale = 0.01)
    val queries = corpus.filter(col("vec_id") < 100)
    val top = Reduce.jlTopK(corpus, queries, "vec_id", "embedding",
      outDim = 16, topK = 1, rerank = 4)
    val hits = top.filter(col("rank") === 1 &&
      col("neighbor_id") === col("qid") + 1000000L).count()
    assert(hits >= 95, s"JL twin recall degraded: $hits/100")
    val a = Reduce.jlProject(e.filter(col("vec_id") < 50), "vec_id",
      "embedding", 16).collect().map(_.toSeq).toSeq
    val b = Reduce.jlProject(e.filter(col("vec_id") < 50), "vec_id",
      "embedding", 16).collect().map(_.toSeq).toSeq
    assert(a == b, "JL projection not bit-reproducible")
  }

  test("pcaModel: planted direction recovered, orthonormal, reproducible") {
    // points spread along u = 0.8·e0 + 0.6·e1 with 1% isotropic noise —
    // the top component must align with u, the rest must be noise-sized
    val c = spark.range(0, 400).toDF("id")
      .withColumn("v", transform(sequence(lit(0), lit(63)), d => {
        val t = (col("id") % 101).cast("double") / 101.0 * 2.0 - 1.0
        val u = when(d === 0, 0.8).when(d === 1, 0.6).otherwise(0.0)
        val noise = ((col("id") * 131L + d * 7919L) % 1000003L *
          2654435761L % 2000003L - 1000001L).cast("double") / 1000001.0
        t * u + noise * 0.01
      })).localCheckpoint()
    val m = Reduce.pcaModel(c, "id", "v", k = 4)
    val u = Array(0.8, 0.6) ++ Array.fill(62)(0.0)
    val cosU = m.components(0).zip(u).map { case (x, y) => x * y }.sum
    assert(math.abs(cosU) > 0.99,
      s"top component misses the planted direction: $cosU")
    for (i <- m.components.indices; j <- i until m.components.length) {
      val dot = m.components(i).zip(m.components(j))
        .map { case (x, y) => x * y }.sum
      if (i == j) assert(math.abs(dot - 1.0) < 1e-6, s"norm($i) = $dot")
      else assert(math.abs(dot) < 1e-6, s"<$i,$j> = $dot")
    }
    val m2 = Reduce.pcaModel(c, "id", "v", k = 4)
    assert(m2.mean.toSeq == m.mean.toSeq &&
      m2.components.map(_.toSeq).toSeq == m.components.map(_.toSeq).toSeq,
      "PCA training not bit-reproducible")
    val vars = Reduce.pcaProject(c, "id", "v", m)
      .groupBy(col("comp")).agg(variance(col("y")).as("s")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(vars(0) > vars(1) * 10, s"variance not concentrated on comp 0: $vars")
  }

  test("embeddingDrift: frozen old geometry, occupancy shares, empty-cell null") {
    // pivots = old ids 0 (dim-0 axis) and 1 (dim-1 axis); the new snapshot
    // concentrates on a shifted dim-0 cluster and abandons cell 1 entirely
    def v(hot: Int, x: Double): Array[Float] = {
      val a = new Array[Float](4); a(hot) = x.toFloat; a
    }
    val oldSnap = Seq((0L, v(0, 1.0)), (1L, v(1, 1.0)), (2L, v(0, 0.9)),
      (4L, v(0, 1.1))).toDF("id", "emb")
    val newSnap = Seq((10L, v(0, 1.2)), (11L, v(0, 1.1))).toDF("id", "emb")
    val rep = Audit.embeddingDrift(oldSnap, newSnap, "id", "emb", nCells = 2)
      .orderBy(col("cell")).collect()
    assert(rep.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val c0 = rep(0); val c1 = rep(1)
    assert(c0.getLong(1) == 3L && c0.getLong(2) == 2L,
      s"cell 0 occupancy: ${c0.toSeq}")
    assert(math.abs(c0.getDouble(3) - 0.75) < 1e-12)
    assert(math.abs(c0.getDouble(4) - 1.0) < 1e-12)
    // mean 1.0 -> 1.15 along dim 0 (float/1e-6-grid rounding inside 1e-3)
    assert(math.abs(c0.getDouble(5) - 0.15) < 1e-3, s"l2_shift ${c0.toSeq}")
    assert(c1.getLong(1) == 1L && c1.getLong(2) == 0L && c1.isNullAt(5),
      s"abandoned cell: ${c1.toSeq}")
  }

  test("hllSketch: estimate within error bound, merge law exact, linear regime") {
    // 10k distinct items: the raw-regime estimate must land within 3σ
    // (σ = 1.04/√256 ≈ 6.5%); duplicates must not move a single register
    val items = (0 until 10000).map(i => s"item$i")
    val df = (items ++ items.take(500)).toDF("x") // 500 repeats, same distinct
    val est = Sketch.hllEstimate(
      Sketch.hllSketch(df.withColumn("g", lit("a")), Seq("g"), col("x")),
      Seq("g"), 256).collect().head
    val e = est.getDouble(2)
    assert(math.abs(e - 10000) / 10000 < 0.20, s"estimate $e vs 10000")
    assert(est.getString(3) == "raw")
    // merge law: merged shard sketches == sketch of the union, EXACTLY
    val a = items.take(6000).toDF("x").withColumn("g", lit("a"))
    val b = items.drop(4000).toDF("x").withColumn("g", lit("a")) // overlap
    val merged = Sketch.hllMerge(
      Sketch.hllSketch(a, Seq("g"), col("x"))
        .unionByName(Sketch.hllSketch(b, Seq("g"), col("x"))), Seq("g"))
    val whole = Sketch.hllSketch(
      a.unionByName(b).dropDuplicates("x"), Seq("g"), col("x"))
    val mSet = merged.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val wSet = whole.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(mSet == wSet)
    // small cardinality -> linear-counting regime, near-exact
    val tiny = (0 until 30).map(i => s"t$i").toDF("x").withColumn("g", lit("a"))
    val lr = Sketch.hllEstimate(
      Sketch.hllSketch(tiny, Seq("g"), col("x")), Seq("g"), 256).collect().head
    assert(lr.getString(3) == "linear")
    assert(math.abs(lr.getDouble(2) - 30) < 3, s"linear estimate ${lr.getDouble(2)}")
  }

  test("cmsHeavyHitters: one-sided error, planted hitter on top, merge law") {
    // 40 docs of background vocab + 'pineapple' planted in every doc
    val docs = (0L until 40L).map { i =>
      val bg = (0 until 10).map(j => s"w${(i * 31 + j * 7) % 97}").mkString(" ")
      (i, s"pineapple $bg pineapple")
    }.toDF("doc_id", "text")
    val hh = Sketch.cmsHeavyHitters(docs, "text", k = 5, sampleFrac = 1.0)
      .orderBy(col("rank")).collect()
    assert(hh.head.getString(1) == "pineapple")
    assert(hh.head.getLong(3) == 80L) // exact count verified
    // CMS error is one-sided: est >= exact on every reported row
    assert(hh.forall(r => r.getLong(2) >= r.getLong(3)), hh.mkString("; "))
    // merge law: shard sketches cell-sum to the union sketch exactly
    val toks = docs.select(explode(TextStats.tokens(col("text"))).as("tok"), col("doc_id"))
    val sa = Sketch.cmsSketch(toks.filter(col("doc_id") < 20), col("tok"))
    val sb = Sketch.cmsSketch(toks.filter(col("doc_id") >= 20), col("tok"))
    val merged = Sketch.cmsMerge(sa.unionByName(sb))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val whole = Sketch.cmsSketch(toks, col("tok"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(merged == whole)
  }

  test("unigram viterbi: best segmentation, tie to longest last piece, UNK chars") {
    val m = Map("ab" -> -100L, "abc" -> -120L, "c" -> -200L,
      "a" -> -300L, "b" -> -300L)
    // abc+ab (-220) beats ab+c+ab (-400) and char paths
    assert(Unigram.viterbi("abcab", m, 3) == Seq("abc", "ab"))
    // unknown char q falls back to UnkScore but stays segmentable
    assert(Unigram.viterbi("abq", m, 3) == Seq("ab", "q"))
    // tie-break: two equal-score splits -> smallest start (longest LAST piece)
    val tied = Map("x" -> -100L, "xx" -> -200L)
    assert(Unigram.viterbi("xxx", tied, 2) == Seq("x", "xx"))
  }

  test("unigramTrain learns the planted piece; encode matches driver viterbi") {
    val docs = ((0L until 30L).map(i => (i, "abab abab ababab")) ++
      Seq((100L, "zq wk abab"), (101L, ""))).toDF("doc_id", "text")
    val model = Unigram.unigramTrain(docs, "text", vocabSize = 16,
      maxPieceLen = 4, iters = 2)
    val mm = model.toMap
    assert(mm.contains("abab"), s"planted piece missing: $model")
    // the planted 4-gram must actually WIN segmentation: one abab piece
    // beats two ab pieces in log-prob
    assert(Unigram.viterbi("abab", mm, 4) == Seq("abab"))
    // training is deterministic: a second run is identical
    assert(Unigram.unigramTrain(docs, "text", vocabSize = 16,
      maxPieceLen = 4, iters = 2) == model)
    // distributed encode == driver viterbi on every document, in order
    val enc = Unigram.unigramEncode(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    def encodeRef(text: String): Seq[String] =
      TextStats.BpePattern.r.findAllIn(text).toSeq
        .filterNot(_.matches("^\\s+$"))
        .flatMap(w => Unigram.viterbi(w, mm, 4))
    docs.collect().foreach { r =>
      val id = r.getLong(0)
      val expected = encodeRef(r.getString(1))
      assert(enc(id) == ((expected.size, expected.mkString("\u001f"))),
        s"doc $id: got ${enc(id)}, want $expected")
    }
    assert(enc(101L) == ((0, "")))
  }

  test("spanCorrupt: substitution law, target format, short-doc passthrough, determinism") {
    import graft.ext.Corpus
    val docs = Seq(
      (1L, (0 until 45).map(i => s"t$i")),   // 2 full windows + 5-token tail
      (2L, (0 until 20).map(i => s"u$i")),   // exactly one window, no tail
      (3L, (0 until 19).map(i => s"v$i")),   // short: passthrough
      (4L, Seq.empty[String])                // empty: passthrough
    ).toDF("doc_id", "toks")
    val r = Corpus.spanCorrupt(docs, "doc_id", "toks")
      .orderBy("doc_id").collect()
    def seqs(row: org.apache.spark.sql.Row) =
      (row.getSeq[String](row.fieldIndex("toks")),
        row.getSeq[String](row.fieldIndex("corrupted")),
        row.getSeq[String](row.fieldIndex("targets")),
        row.getInt(row.fieldIndex("n_masked")))
    // SUBSTITUTION LAW: expanding each sentinel in `corrupted` with its
    // span from `targets` reproduces the original token stream exactly
    def reassemble(cor: Seq[String], tgt: Seq[String]): Seq[String] = {
      val spans = scala.collection.mutable.Map.empty[String, Seq[String]]
      var cur: Option[String] = None
      var acc = Vector.empty[String]
      tgt.foreach { t =>
        if (t.startsWith("<extra_id_")) {
          cur.foreach(k => spans(k) = acc); cur = Some(t); acc = Vector.empty
        } else acc :+= t
      }
      cur.foreach(k => spans(k) = acc)
      cor.flatMap(t => if (t.startsWith("<extra_id_")) spans(t) else Seq(t))
    }
    val (t1, c1, g1, m1) = seqs(r(0))
    assert(m1 == 6 && reassemble(c1, g1) == t1)
    // target format: sentinels 0..nw-1 each followed by exactly spanLen
    // tokens, closed by sentinel nw
    assert(g1.count(_.startsWith("<extra_id_")) == 3 && g1.size == 9)
    assert(g1.head == "<extra_id_0>" && g1.last == "<extra_id_2>")
    // the 5-token tail is never masked: corrupted ends with t40..t44
    assert(c1.takeRight(5) == (40 until 45).map(i => s"t$i"))
    val (t2, c2, g2, m2) = seqs(r(1))
    assert(m2 == 3 && reassemble(c2, g2) == t2 && g2.last == "<extra_id_1>")
    val (t3, c3, g3, m3) = seqs(r(2))
    assert(m3 == 0 && c3 == t3 && g3.isEmpty)
    val (t4, c4, g4, m4) = seqs(r(3))
    assert(m4 == 0 && c4 == t4 && g4.isEmpty)
    // determinism: a second run produces the identical corruption
    val again = Corpus.spanCorrupt(docs, "doc_id", "toks")
      .orderBy("doc_id").collect().map(x => seqs(x))
    assert(again.toSeq == r.toSeq.map(x => seqs(x)))
  }

  test("fimTransform: reassembly law, mode-piece agreement, gate bounds, null passthrough") {
    import graft.ext.Corpus
    val docs = (0L until 40L).map(i => (i, s"line$i alpha beta gamma delta " * 3))
      .toDF("doc_id", "text")
    // fimFrac 0 -> nothing transforms; 1 -> everything does
    val none = Corpus.fimTransform(docs, "doc_id", "text", fimFrac = 0.0)
    assert(none.filter(col("fim_applied")).count() == 0L)
    assert(none.filter(col("fim_text") =!= col("text")).count() == 0L)
    val all = Corpus.fimTransform(docs, "doc_id", "text", fimFrac = 1.0)
    assert(all.filter(!col("fim_applied")).count() == 0L)
    // REASSEMBLY LAW on every transformed row: parsing the sentinels back
    // out and re-concatenating prefix+middle+suffix reproduces the
    // original text exactly — cuts lose nothing, duplicate nothing
    def parsePsm(s: String): (String, String, String) = {
      val pre = s.stripPrefix("<fim_prefix>")
      val Array(p, rest) = pre.split("<fim_suffix>", 2)
      val Array(suf, mid) = rest.split("<fim_middle>", 2)
      (p, mid, suf)
    }
    val rows = all.select("text", "fim_text").collect()
    rows.foreach { r =>
      val (p, m, sfx) = parsePsm(r.getString(1))
      assert(p + m + sfx == r.getString(0), s"reassembly broke: ${r.getString(1)}")
    }
    // SPM carries the SAME pieces (same gate, same cuts), reordered
    val spm = Corpus.fimTransform(docs, "doc_id", "text", fimFrac = 1.0,
        spm = true)
      .select(col("doc_id"), col("fim_text").as("s"))
    val psmById = all.select(col("doc_id"), col("fim_text")).collect()
      .map(r => r.getLong(0) -> parsePsm(r.getString(1))).toMap
    spm.collect().foreach { r =>
      val s = r.getString(1).stripPrefix("<fim_suffix>")
      val Array(sfx, rest) = s.split("<fim_prefix>", 2)
      val Array(p, m) = rest.split("<fim_middle>", 2)
      assert((p, m, sfx) == psmById(r.getLong(0)),
        "spm must reorder the exact psm pieces")
    }
    // the md5 gate lands near fimFrac (deterministic, so this is a fixed
    // fact about these 40 ids, not a flaky sample)
    val half = Corpus.fimTransform(docs, "doc_id", "text", fimFrac = 0.5)
      .filter(col("fim_applied")).count()
    assert(half > 8 && half < 32, s"gate landed at $half/40")
    // determinism: same inputs, same outputs
    val again = Corpus.fimTransform(docs, "doc_id", "text", fimFrac = 0.5)
      .filter(col("fim_applied")).count()
    assert(again == half)
    // null text passes through untransformed even at fimFrac 1
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "ab"))
      .toDF("doc_id", "text")
    val n2 = Corpus.fimTransform(withNull, "doc_id", "text", fimFrac = 1.0)
      .orderBy("doc_id").collect()
    assert(!n2(0).getBoolean(n2(0).fieldIndex("fim_applied"))
      && n2(0).isNullAt(n2(0).fieldIndex("fim_text")))
    assert(n2(1).getBoolean(n2(1).fieldIndex("fim_applied")))
  }

  test("chatTemplate: span reassembly law, masking scope, null handling (VERDICT r17 #4)") {
    import graft.ext.Corpus
    val docs = Seq(
      (1L, Seq(("user", "hello there"), ("assistant", "hi! how can I help"),
        ("user", "pack my corpus"), ("assistant", "done"))),
      (2L, Seq(("system", "be terse"), ("user", "q"), ("assistant", ""))),
      (3L, Seq(("user", "no reply yet"))),
      (4L, Seq.empty[(String, String)])
    ).toDF("doc_id", "raw")
      .withColumn("turns", transform(col("raw"), t =>
        struct(t.getField("_1").as("role"), t.getField("_2").as("content"))))
      .drop("raw")
    val r = Corpus.chatTemplate(docs, "turns").orderBy("doc_id").collect()
    // REASSEMBLY LAW: substring(chat_text, off+1, len) == content+endTok
    // for every span, spans in turn order, assistant turns only
    val expect = Map(
      1L -> Seq("hi! how can I help<|im_end|>", "done<|im_end|>"),
      2L -> Seq("<|im_end|>"), 3L -> Seq(), 4L -> Seq())
    r.foreach { row =>
      val text = row.getString(row.fieldIndex("chat_text"))
      val spans = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("loss_spans"))
      val cut = spans.map { sp =>
        text.substring(sp.getLong(0).toInt, sp.getLong(0).toInt + sp.getLong(1).toInt) }
      assert(cut == expect(row.getLong(0)),
        s"doc ${row.getLong(0)}: got $cut")
      // spans never cover a header: the char before each span ends a
      // "\n" (the role header's terminator)
      spans.foreach { sp =>
        assert(text.charAt(sp.getLong(0).toInt - 1) == '\n') }
      // in order, non-overlapping
      spans.sliding(2).foreach {
        case Seq(a, b) => assert(a.getLong(0) + a.getLong(1) <= b.getLong(0))
        case _ => ()
      }
    }
    // full serialization pinned for the 2-turn-role doc
    val d2 = r.find(_.getLong(0) == 2L).get
    assert(d2.getString(d2.fieldIndex("chat_text")) ==
      "<|im_start|>system\nbe terse<|im_end|>\n<|im_start|>user\nq<|im_end|>\n" +
        "<|im_start|>assistant\n<|im_end|>\n")
    assert(r.map(row => row.getInt(row.fieldIndex("n_turns"))).toSeq ==
      Seq(4, 3, 1, 0))
    // NULL turns array degrades to '' + no spans, not null-poison
    val nulls = Seq(Tuple1(9L)).toDF("doc_id")
      .withColumn("turns",
        lit(null).cast("array<struct<role:string,content:string>>"))
    val n1 = Corpus.chatTemplate(nulls, "turns").collect()(0)
    assert(n1.getString(n1.fieldIndex("chat_text")) == "")
    assert(n1.getSeq[Any](n1.fieldIndex("loss_spans")).isEmpty)
  }

  test("binPackBatches: exact FFD seats, capacity law, density vs bucketing (VERDICT r18 #4)") {
    import graft.ext.Corpus
    val rows = Seq((1L, 17), (2L, 15), (3L, 14), (4L, 13), (5L, 9),
      (6L, 40), (7L, 8), (8L, 8), (9L, 1), (10L, 0))
    val df = rows.toDF("doc_id", "n_tok")
    val r = Corpus.binPackBatches(df, "doc_id", "n_tok", capacity = 32,
        groupDocs = 4)
      .collect().map(x => x.getLong(x.fieldIndex("doc_id")) ->
        (x.getInt(x.fieldIndex("pack_group")),
          x.getInt(x.fieldIndex("batch_in_group")))).toMap
    // hand-replayed FFD over rank order (len desc, id), groups of 4:
    // [40,17,15,14 | 13,9,8,8 | 1,0] — the oversize 40 opens batch 0 and
    // isolates itself; 17+15 share; 14 opens the group's third batch
    assert(r == Map(6L -> (0, 0), 1L -> (0, 1), 2L -> (0, 1), 3L -> (0, 2),
      4L -> (1, 0), 5L -> (1, 0), 7L -> (1, 0), 8L -> (1, 1),
      9L -> (2, 0), 10L -> (2, 0)))
    // capacity law: each batch within budget, or a lone oversize document
    val lens = rows.toMap
    r.groupBy(_._2).foreach { case (batch, docs) =>
      val tot = docs.keys.map(lens(_).toLong).sum
      assert(tot <= 32 || docs.size == 1, s"batch $batch overfull: $tot")
    }
    // every doc seated exactly once
    assert(r.keySet == rows.map(_._1).toSet)
    // density law: one big group packs at least as densely as width-8
    // bucketing on the same fixture (4 batches vs 5)
    val ffdBatches = Corpus.binPackBatches(df, "doc_id", "n_tok",
        capacity = 32, groupDocs = 100)
      .select("pack_group", "batch_in_group").distinct().count()
    val bucketed = Corpus.lengthBucketBatches(df, "doc_id", "n_tok",
        bucketWidth = 8, capacity = 32)
      .select("bucket", "batch_in_bucket").distinct().count()
    assert(ffdBatches <= bucketed, s"FFD $ffdBatches > bucketing $bucketed")
  }

  test("preferencePairs: shared-prefix law, per-branch spans, prompt never spans (VERDICT r18 #1)") {
    import graft.ext.Corpus
    def turnify(c: String) = transform(col(c), t =>
      struct(t.getField("_1").as("role"), t.getField("_2").as("content")))
    val docs = Seq(
      (1L, Seq(("system", "be terse"), ("user", "pick a db")),
        Seq(("assistant", "postgres"), ("user", "why"),
          ("assistant", "boring tech")),
        Seq(("assistant", "mongo"))),
      // an assistant turn in the PROMPT must contribute NO span — loss
      // runs on the candidate responses only
      (2L, Seq(("assistant", "leaky prompt"), ("user", "q")),
        Seq(("assistant", "a")),
        Seq(("assistant", ""))),
      (3L, Seq(("user", "lonely")),
        Seq.empty[(String, String)], Seq.empty[(String, String)])
    ).toDF("doc_id", "p0", "c0", "r0")
      .withColumn("p", turnify("p0")).withColumn("c", turnify("c0"))
      .withColumn("r", turnify("r0")).drop("p0", "c0", "r0")
    val rows = Corpus.preferencePairs(docs, "p", "c", "r")
      .orderBy("doc_id").collect()
    def spansOf(row: org.apache.spark.sql.Row, c: String, textC: String) =
      row.getSeq[org.apache.spark.sql.Row](row.fieldIndex(c)).map { sp =>
        val t = row.getString(row.fieldIndex(textC))
        t.substring(sp.getLong(0).toInt, sp.getLong(0).toInt + sp.getLong(1).toInt)
      }
    rows.foreach { row =>
      val prompt = row.getString(row.fieldIndex("prompt_text"))
      val plen = row.getLong(row.fieldIndex("prefix_len")).toInt
      val ct = row.getString(row.fieldIndex("chosen_text"))
      val rt = row.getString(row.fieldIndex("rejected_text"))
      // SHARED-PREFIX LAW: both branches start with the serialized prompt
      assert(plen == prompt.length)
      assert(ct.substring(0, plen) == prompt)
      assert(rt.substring(0, plen) == prompt)
      // spans sit entirely in the branch tail (off >= prefix_len)
      Seq("chosen_spans", "rejected_spans").foreach { c =>
        row.getSeq[org.apache.spark.sql.Row](row.fieldIndex(c))
          .foreach(sp => assert(sp.getLong(0) >= plen))
      }
    }
    val d1 = rows(0)
    assert(spansOf(d1, "chosen_spans", "chosen_text") ==
      Seq("postgres<|im_end|>", "boring tech<|im_end|>"))
    assert(spansOf(d1, "rejected_spans", "rejected_text") ==
      Seq("mongo<|im_end|>"))
    val d2 = rows(1)
    // prompt's assistant turn contributed nothing: exactly one span per branch
    assert(spansOf(d2, "chosen_spans", "chosen_text") == Seq("a<|im_end|>"))
    assert(spansOf(d2, "rejected_spans", "rejected_text") == Seq("<|im_end|>"))
    val d3 = rows(2)
    // empty branches: both sequences degrade to the bare prompt, no spans
    assert(d3.getString(d3.fieldIndex("chosen_text")) ==
      d3.getString(d3.fieldIndex("prompt_text")))
    assert(d3.getString(d3.fieldIndex("rejected_text")) ==
      d3.getString(d3.fieldIndex("prompt_text")))
    assert(d3.getSeq[Any](d3.fieldIndex("chosen_spans")).isEmpty)
    assert(d3.getSeq[Any](d3.fieldIndex("rejected_spans")).isEmpty)
    // NULL branch arrays degrade like empties, not null-poison
    val nulls = Seq(Tuple1(9L)).toDF("doc_id")
      .withColumn("p", lit(null).cast("array<struct<role:string,content:string>>"))
      .withColumn("c", lit(null).cast("array<struct<role:string,content:string>>"))
      .withColumn("r", lit(null).cast("array<struct<role:string,content:string>>"))
    val n1 = Corpus.preferencePairs(nulls, "p", "c", "r").collect()(0)
    assert(n1.getString(n1.fieldIndex("chosen_text")) == "")
    assert(n1.getLong(n1.fieldIndex("prefix_len")) == 0L)
  }

  test("bestOfNCandidates + keepBestCandidate: n-way shared prefix, reassembly, argmax tie-break") {
    import graft.ext.Corpus
    val docs = Seq(
      (1L, Seq(("user", "pick one")), Seq("alpha", "longer answer", "z")),
      (2L, Seq(("user", "q"), ("assistant", "ctx")), Seq("dup", "dup")),
      (3L, Seq(("user", "none")), Seq.empty[String]),
      (4L, Seq(("user", "null cands")), null.asInstanceOf[Seq[String]])
    ).toDF("doc_id", "p0", "cands")
      .withColumn("prompt", transform(col("p0"), t =>
        struct(t.getField("_1").as("role"), t.getField("_2").as("content"))))
      .drop("p0")
    val cands = Corpus.bestOfNCandidates(docs, "prompt", "cands")
    val rows = cands.orderBy("doc_id", "cand_id").collect()
    // docs 3 (empty) and 4 (NULL) contribute no scoring rows
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 1L, 1L, 2L, 2L))
    rows.foreach { row =>
      val prompt = row.getString(row.fieldIndex("prompt_text"))
      val plen = row.getLong(row.fieldIndex("prefix_len")).toInt
      val ct = row.getString(row.fieldIndex("cand_text"))
      // n-way shared-prefix law
      assert(plen == prompt.length && ct.startsWith(prompt))
      // single-span reassembly law: content + endTok
      val sps = row.getSeq[org.apache.spark.sql.Row](
        row.fieldIndex("cand_spans"))
      assert(sps.length == 1)
      val (off, len) = (sps.head.getLong(0).toInt, sps.head.getLong(1).toInt)
      assert(ct.substring(off, off + len).endsWith("<|im_end|>"))
      assert(ct.substring(off, off + len).dropRight(10) ==
        ct.substring(off, off + len - 10))
    }
    // a span reassembles the exact candidate content
    val r0 = rows(1) // doc 1, cand 1 = "longer answer"
    val sp0 = r0.getSeq[org.apache.spark.sql.Row](
      r0.fieldIndex("cand_spans")).head
    assert(r0.getString(r0.fieldIndex("cand_text"))
      .substring(sp0.getLong(0).toInt,
        sp0.getLong(0).toInt + sp0.getLong(1).toInt) ==
      "longer answer<|im_end|>")
    // candRole != lossRole -> no spans
    val noLoss = Corpus.bestOfNCandidates(
      docs.filter(col("doc_id") === 1L), "prompt", "cands",
      lossRole = "assistant", candRole = "tool").collect()
    assert(noLoss.forall(r =>
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("cand_spans")).isEmpty))
    // keep-best: doc 1 scores (3, 1, 2) -> cand 1 wins; doc 2 is the
    // all-tie case -> smallest cand_id (0) wins
    val scored = cands.withColumn("score",
      when(col("doc_id") === 1L,
        element_at(array(lit(3), lit(1), lit(2)), col("cand_id") + 1)
          .cast("double") * -1 + 4) // (1.0, 3.0, 2.0): cand 1 highest
        .otherwise(lit(1.0)))
    val best = Corpus.keepBestCandidate(scored, "doc_id", "score")
      .orderBy("doc_id").collect()
    assert(best.length == 2)
    assert(best(0).getInt(best(0).fieldIndex("cand_id")) == 1)
    assert(best(1).getInt(best(1).fieldIndex("cand_id")) == 0)
    assert(best(1).getString(best(1).fieldIndex("cand_text"))
      .contains("dup"))
  }

  test("uncorruptSpans: inverts spanCorrupt exactly, incl. no-window and multi-window docs") {
    import graft.ext.Corpus
    val docs = Seq(
      (1L, (0 until 45).map(i => s"t$i")), // 2 full windows + tail
      (2L, (0 until 20).map(i => s"u$i")), // exactly 1 window
      (3L, (0 until 7).map(i => s"v$i")),  // no full window: pair = identity
      (4L, Seq.empty[String])
    ).toDF("doc_id", "toks")
    val pair = Corpus.spanCorrupt(docs, "doc_id", "toks")
    // sanity: corruption really removed tokens on windowed docs
    val c1 = pair.filter(col("doc_id") === 1L).collect().head
    assert(c1.getSeq[String](c1.fieldIndex("corrupted")).length < 45)
    val back = Corpus.uncorruptSpans(pair, "corrupted", "targets")
      .orderBy("doc_id").collect()
    val orig = docs.orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    back.foreach { r =>
      assert(r.getSeq[String](r.fieldIndex("rebuilt")) == orig(r.getLong(0)),
        s"doc ${r.getLong(0)} did not round-trip")
      assert(r.getInt(r.fieldIndex("n_rebuilt")) == orig(r.getLong(0)).size)
    }
  }

  test("contrastiveTriplets: planted positives, band argmaxes, tie-breaks, easy negatives") {
    import graft.ext.Similarity
    // nCells = 2 -> pivots are ids 1 (x-axis) and 2 (y-axis); 3 and 9 are
    // identical near-copies of 1; 5 mirrors 2; 8 sits in cell 1 at
    // cos ~0.45 to the x-family (the hard-negative band); 4/6 are
    // mid-angle vectors with no positive anywhere; 10 is zero-norm
    val rows = Seq(
      1L -> Array(1f, 0f), 2L -> Array(0f, 1f), 3L -> Array(1f, 0.01f),
      4L -> Array(0.6f, 0.8f), 5L -> Array(0.01f, 1f), 6L -> Array(0.8f, 0.6f),
      8L -> Array(0.45f, -0.893f), 9L -> Array(1f, 0.01f), 10L -> Array(0f, 0f)
    ).toDF("vec_id", "emb")
    val r = Similarity.contrastiveTriplets(rows, "vec_id", "emb",
      posMin = 0.95, negMax = 0.5, nCells = 2).orderBy("anchor_id").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    // only anchors WITH a qualifying positive emit
    assert(byId.keySet == Set(1L, 2L, 3L, 5L, 9L))
    def pos(id: Long) = byId(id).getLong(byId(id).fieldIndex("pos_id"))
    assert(pos(1L) == 3L) // 3 and 9 tie at the same rounded cosine -> smaller id
    assert(pos(3L) == 9L && pos(9L) == 3L) // exact duplicates prefer each other
    assert(pos(2L) == 5L && pos(5L) == 2L)
    assert(byId(1L).getLong(byId(1L).fieldIndex("hard_id")) == 8L)
    assert(byId(1L).getDouble(byId(1L).fieldIndex("hard_cos")) < 0.5)
    // cell 2 offers no sub-band vector: hard negative is null, never faked
    assert(byId(2L).isNullAt(byId(2L).fieldIndex("hard_id")))
    // easy negative = the other cell's min-id representative
    assert(byId(1L).getLong(byId(1L).fieldIndex("easy_id")) == 2L)
    assert(byId(2L).getLong(byId(2L).fieldIndex("easy_id")) == 1L)
    assert(byId(9L).getLong(byId(9L).fieldIndex("easy_id")) == 2L)
  }

  test("majorityVote: modal answer, lexicographic tie-break, null conventions") {
    import graft.ext.Eval
    val votes = Seq(
      (1L, Some("b")), (1L, Some("a")), (1L, Some("b")), (1L, Some("c")),
      (2L, Some("b")), (2L, Some("a")), (2L, Some("a")), (2L, Some("b")),
      (3L, None), (3L, None),
      (4L, Some("z")), (4L, None), (4L, Some("z"))
    ).toDF("id", "ans")
    val r = Eval.majorityVote(votes, "id", "ans").orderBy("id").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    assert(byId(1L).getAs[String]("vote_answer") == "b" &&
      byId(1L).getAs[Long]("vote_count") == 2L)
    // a 2-2 tie breaks to the lexicographically smallest answer
    assert(byId(2L).getAs[String]("vote_answer") == "a" &&
      byId(2L).getAs[Double]("vote_frac") == 0.5)
    // all-null: zero votes, null verdict — a failed extraction never votes
    assert(byId(3L).isNullAt(byId(3L).fieldIndex("vote_answer")) &&
      byId(3L).getAs[Long]("n_null") == 2L && byId(3L).getAs[Long]("n_votes") == 0L)
    assert(byId(4L).getAs[Long]("n_votes") == 2L &&
      byId(4L).getAs[Long]("n_null") == 1L &&
      byId(4L).getAs[Double]("vote_frac") == 1.0)
  }

  test("bleuScore: clipping, smoothing, brevity penalty, degenerate conventions") {
    import graft.ext.Eval
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d", "e"), Seq("a", "b", "c", "d", "e")),
      (2L, Seq("the", "the", "the", "the", "the", "the", "the"),
        Seq("the", "cat", "is", "on", "the", "mat")),
      (3L, Seq("a", "b", "c", "d"), Seq("a", "b", "c", "d", "e")),
      (4L, Seq("x", "y", "z", "w"), Seq("a", "b", "c", "d")),
      (5L, Seq("a", "b", "c"), Seq("a", "b", "c")),
      (6L, null, Seq("a", "b", "c", "d"))
    ).toDF("id", "cand", "ref")
    val r = Eval.bleuScore(rows, "id", "cand", "ref").orderBy("id").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    def d(id: Long, c: String): Double = byId(id).getAs[Double](c)
    def l(id: Long, c: String): Long = byId(id).getAs[Long](c)
    // identical sequences: every precision 1, bp 1, bleu exactly 1
    assert(d(1L, "bleu") == 1.0 && d(1L, "bp") == 1.0)
    // the classic clipping example: 'the'x7 vs 2 refs of 'the' -> m1 = 2,
    // no matching bigram; smoothed orders keep the score positive
    assert(l(2L, "m1") == 2 && l(2L, "m2") == 0)
    assert(math.abs(d(2L, "bleu") - 0.192056) < 2e-6)
    // all-matching prefix, shorter candidate: bleu = bp = exp(1 - 5/4)
    assert(math.abs(d(3L, "bleu") - 0.778801) < 2e-6 && l(3L, "m4") == 1)
    // zero unigram overlap is the documented 0, not null
    assert(d(4L, "bleu") == 0.0 && l(4L, "m1") == 0)
    // candidate shorter than order 4 / null candidate: undefined
    assert(byId(5L).isNullAt(byId(5L).fieldIndex("bleu")))
    assert(byId(6L).isNullAt(byId(6L).fieldIndex("bleu")) &&
      byId(6L).getAs[Int]("c_len") == 0)
  }

  test("rougeN: clipped overlap, P/R/F laws, empty-side NULL conventions") {
    import graft.ext.Eval
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d"), Seq("a", "b", "x", "c", "d")),
      (2L, Seq("a"), Seq("a")),                 // no bigrams either side
      (3L, Seq.empty[String], Seq("a", "b")),   // empty candidate
      (4L, Seq("a", "a", "a"), Seq("a", "a"))   // clipping: cand has 'a a'×2
    ).toDF("id", "cand", "ref")
    val r = Eval.rougeN(rows, "id", "cand", "ref", n = 2).orderBy("id").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    def d(id: Long, c: String): Double = byId(id).getAs[Double](c)
    def nul(id: Long, c: String): Boolean =
      byId(id).isNullAt(byId(id).fieldIndex(c))
    // cand bigrams {ab,bc,cd}, ref {ab,bx,xc,cd}: overlap 2 of 3 vs 4
    assert(byId(1L).getAs[Long]("overlap") == 2)
    assert(d(1L, "rouge_p") == 2.0 / 3.0 && d(1L, "rouge_r") == 2.0 / 4.0)
    assert(math.abs(d(1L, "rouge_f") - 4.0 / 7.0) < 1e-15)
    // single tokens: zero bigrams on both sides -> all three undefined
    assert(nul(2L, "rouge_p") && nul(2L, "rouge_r") && nul(2L, "rouge_f"))
    // empty candidate: precision undefined, recall 0, F undefined
    assert(nul(3L, "rouge_p") && d(3L, "rouge_r") == 0.0 && nul(3L, "rouge_f"))
    // clipping: min(2, 1) = 1, not 2
    assert(byId(4L).getAs[Long]("overlap") == 1)
    assert(d(4L, "rouge_p") == 0.5 && d(4L, "rouge_r") == 1.0)
    assert(math.abs(d(4L, "rouge_f") - 2.0 / 3.0) < 1e-15)
  }

  test("gaeAdvantage: reverse fold matches the textbook recursion exactly") {
    val df = Seq(
      (1L, 1L, 1.0, 0.5), (1L, 2L, -0.25, 0.75), (1L, 3L, 2.0, -1.0),
      (2L, 1L, 0.0, 0.0),
      (3L, 2L, 0.5, 0.25), (3L, 1L, -1.0, 1.5) // out-of-order input rows
    ).toDF("ep", "t", "r", "v")
    val g = 0.9; val l = 0.8
    val out = Corpus.gaeAdvantage(df, "ep", "t", "r", "v", g, l)
      .orderBy("ep", "step").collect()
      .map(x => (x.getLong(0), x.getLong(x.fieldIndex("step")),
        x.getDouble(x.fieldIndex("delta")),
        x.getDouble(x.fieldIndex("advantage")),
        x.getDouble(x.fieldIndex("ret")),
        x.getDouble(x.fieldIndex("value"))))
    // driver-side reference: the same backward recursion
    def ref(rs: Seq[Double], vs: Seq[Double]): (Seq[Double], Seq[Double]) = {
      val n = rs.length
      val ds = (0 until n).map(i =>
        rs(i) + g * (if (i < n - 1) vs(i + 1) else 0.0) - vs(i))
      val adv = new Array[Double](n)
      var a = 0.0
      for (i <- n - 1 to 0 by -1) { a = ds(i) + g * l * a; adv(i) = a }
      (ds, adv.toSeq)
    }
    val (d1, a1) = ref(Seq(1.0, -0.25, 2.0), Seq(0.5, 0.75, -1.0))
    val ep1 = out.filter(_._1 == 1L)
    assert(ep1.map(_._3).sameElements(d1) && ep1.map(_._4).sameElements(a1),
      ep1.mkString(", "))
    // single-step episode: delta = r - v (bootstrap 0), A = delta
    val ep2 = out.filter(_._1 == 2L).head
    assert(ep2._3 == 0.0 && ep2._4 == 0.0 && ep2._5 == 0.0)
    // rows arrive unsorted; the operator sorts by step inside the episode
    val (d3, a3) = ref(Seq(-1.0, 0.5), Seq(1.5, 0.25))
    val ep3 = out.filter(_._1 == 3L)
    assert(ep3.map(_._2).sameElements(Seq(1L, 2L)))
    assert(ep3.map(_._3).sameElements(d3) && ep3.map(_._4).sameElements(a3))
    // identities: ret = A + v exactly; A_t = δ_t + γλ·A_{t+1} bit-exact
    out.foreach { case (_, _, _, a, r2, v) => assert(r2 == a + v) }
    ep1.sliding(2).foreach { case Array(cur, nxt) =>
      assert(cur._4 == cur._3 + g * l * nxt._4)
    case _ => ()
    }
    intercept[IllegalArgumentException] {
      Corpus.gaeAdvantage(df, "ep", "t", "r", "v", gamma = 1.5)
    }
  }

  test("prefixCacheGroups: chained block keys, deepest shared depth, routing group") {
    import graft.ext.Serving
    val a = (0 until 8).map(i => s"a$i")
    val p1 = a ++ Seq("x1", "x2", "x3", "x4")          // 12 toks, 3 full blocks
    val p2 = a ++ Seq("y1")                            // shares blocks 1-2 only
    val p3 = a.take(4) ++ Seq("b4", "b5", "b6", "b7")  // shares block 1 only
    val p4 = Seq("c1", "c2", "c3")                     // shorter than one block
    val docs = Seq(
      (1L, Some(p1)), (2L, Some(p2)), (3L, Some(p3)),
      (4L, Some(p4)), (5L, None), (6L, Some(p1))       // 6 = exact duplicate of 1
    ).toDF("doc_id", "toks")
    val r = Serving.prefixCacheGroups(docs, "doc_id", "toks", 4)
      .orderBy("doc_id").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    def shared(id: Long) = byId(id).getInt(byId(id).fieldIndex("shared_blocks"))
    def group(id: Long) = byId(id).getAs[String]("prefix_group")
    // exact duplicates share every full block (the trailing partial never keys)
    assert(shared(1) == 3 && shared(6) == 3)
    assert(shared(2) == 2 && shared(3) == 1)
    assert(shared(4) == 0 && shared(5) == 0)
    // the routing key is the chain AT the deepest shared depth: the dup pair
    // groups at depth 3, p2 at depth 2 — distinct cache lines
    assert(group(1) == group(6) && group(1) != group(2))
    assert(group(2) != null && group(3) != null && group(4) == null && group(5) == null)
    assert(byId(2L).getAs[Int]("reuse_toks") == 8)
    assert(byId(1L).getAs[Int]("n_blocks") == 3 && byId(4L).getAs[Int]("n_blocks") == 0)
    assert(byId(5L).getAs[Int]("n_toks") == 0)
  }

  test("slidingWindows: coverage, overlap, tail window, degenerate partitions") {
    import graft.ext.Corpus
    val docs = Seq(
      (1L, (0 until 25).map(i => s"t$i")), // 25 toks: windows at 0,6,12,18
      (2L, (0 until 10).map(i => s"u$i")), // one full window (10 <= 10)
      (3L, Seq("x")),                      // single short window
      (4L, Seq.empty[String]),             // emits nothing
      (5L, null.asInstanceOf[Seq[String]]) // emits nothing
    ).toDF("doc_id", "toks")
    val out = Corpus.slidingWindows(docs, "doc_id", "toks",
      window = 10, stride = 6).orderBy("doc_id", "win_id").collect()
    assert(!out.exists(r => r.getLong(0) == 4L || r.getLong(0) == 5L))
    val d1 = out.filter(_.getLong(0) == 1L)
    // K = ceil((25-10)/6) = 3 -> 4 windows; last reaches the final token
    assert(d1.map(_.getLong(d1.head.fieldIndex("win_start"))).toSeq ==
      Seq(0L, 6L, 12L, 18L))
    assert(d1.map(_.getInt(d1.head.fieldIndex("n_win_toks"))).toSeq ==
      Seq(10, 10, 10, 7))
    // every token index covered; consecutive full windows overlap by 4
    val covered = d1.flatMap(r =>
      r.getSeq[String](r.fieldIndex("win_toks"))).toSet
    assert(covered == (0 until 25).map(i => s"t$i").toSet)
    assert(d1(0).getSeq[String](d1(0).fieldIndex("win_toks")).takeRight(4)
      == d1(1).getSeq[String](d1(1).fieldIndex("win_toks")).take(4))
    // short docs: exactly one window, clamped
    assert(out.count(_.getLong(0) == 2L) == 1)
    assert(out.count(_.getLong(0) == 3L) == 1)
    // stride == window -> exact partition, no overlap
    val part = Corpus.slidingWindows(docs.filter(col("doc_id") === 1L),
      "doc_id", "toks", window = 10, stride = 10).collect()
    assert(part.map(_.getInt(part.head.fieldIndex("n_win_toks"))).sum == 25)
    assert(part.flatMap(r =>
      r.getSeq[String](r.fieldIndex("win_toks"))).length == 25)
  }

  test("unpackTokenChunks: round-trip identity, boundary-straddling docs, chunk-order reassembly") {
    import graft.ext.Corpus
    val docs = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d", "e", "f", "g", "h", "i", "j")), // straddles 2 chunks
      (3L, Seq("k")),
      (4L, Seq.empty[String]) // packs to nothing, absent after unpack
    ).toDF("doc_id", "toks")
    val packed = Corpus.packTokenArrays(docs, "doc_id", "toks", capacity = 4)
    val back = Corpus.unpackTokenChunks(packed).orderBy("doc")
      .collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val orig = docs.filter(size(col("toks")) > 0).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    back.foreach { r =>
      assert(r.getSeq[String](r.fieldIndex("ids")) == orig(r.getLong(0)))
      assert(r.getInt(r.fieldIndex("n_ids")) == orig(r.getLong(0)).size)
    }
  }

  test("batchSchedule: full steps, drop-last, epoch decorrelation, partitioning invariance") {
    import graft.ext.Corpus
    val ids = (1L to 43L).map(Tuple1(_)).toDF("id") // 43 % 4 = 3 dropped
    val out = Corpus.batchSchedule(ids, "id", worldSize = 4, epochs = 3)
      .collect()
    // every epoch keeps exactly (43/4)*4 = 40 rows in 10 full steps
    (0 until 3).foreach { e =>
      val ep = out.filter(_.getInt(out.head.fieldIndex("epoch")) == e)
      assert(ep.length == 40)
      ep.groupBy(_.getLong(ep.head.fieldIndex("step"))).foreach {
        case (st, rows) =>
          assert(st >= 0 && st < 10)
          // one row per device, ranks 0..3 exactly once
          assert(rows.map(_.getInt(rows.head.fieldIndex("device_rank")))
            .sorted.toSeq == Seq(0, 1, 2, 3))
      }
      // kept ids are distinct (a row trains once per epoch)
      assert(ep.map(_.getLong(0)).distinct.length == 40)
    }
    // epochs decorrelate: the id at (step 0, rank 0) differs across epochs
    val firsts = (0 until 3).map { e =>
      out.filter(r => r.getInt(r.fieldIndex("epoch")) == e &&
        r.getLong(r.fieldIndex("step")) == 0L &&
        r.getInt(r.fieldIndex("device_rank")) == 0).head.getLong(0)
    }
    assert(firsts.distinct.length > 1)
    // partitioning invariance: the two-phase rank must not depend on the
    // input layout
    val rep = Corpus.batchSchedule(ids.repartition(7), "id", 4, 3)
      .collect()
    assert(rep.map(_.toSeq).toSet == out.map(_.toSeq).toSet)
  }

  test("groupAdvantage: exact moments, zero-variance convention, partitioning invariance") {
    import graft.ext.Corpus
    val rows = Seq(
      (1L, 0, 1.0), (1L, 1, 2.0), (1L, 2, 3.0), // mean 2, var 2/3
      (2L, 0, 5.0), (2L, 1, 5.0),               // all-tie -> std 0
      (3L, 0, 7.0)                              // singleton -> std 0
    ).toDF("doc_id", "cand_id", "score")
    val out = Corpus.groupAdvantage(rows, "doc_id", "score")
      .orderBy("doc_id", "cand_id").collect()
    val mean = 6.0 / 3.0
    val std = math.sqrt(math.max(14.0 / 3.0 - mean * mean, 0.0))
    val g1 = out.filter(_.getLong(0) == 1L)
    // the doubles are the SAME fixed expression — exact equality, not eps
    assert(g1.map(_.getDouble(g1.head.fieldIndex("advantage"))).toSeq ==
      Seq((1.0 - mean) / std, (2.0 - mean) / std, (3.0 - mean) / std))
    assert(g1.head.getDouble(g1.head.fieldIndex("group_std")) == std)
    assert(g1.head.getLong(g1.head.fieldIndex("group_n")) == 3L)
    // zero-variance groups (tie and singleton) emit advantage 0, std 0
    out.filter(_.getLong(0) != 1L).foreach { r =>
      assert(r.getDouble(r.fieldIndex("group_std")) == 0.0)
      assert(r.getDouble(r.fieldIndex("advantage")) == 0.0)
    }
    // partitioning invariance: DECIMAL sums are order-free
    val rep = Corpus.groupAdvantage(rows.repartition(7), "doc_id", "score")
      .orderBy("doc_id", "cand_id").collect()
    assert(rep.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("packMaskedTokens: stream alignment, chunk layout, span reassembly") {
    import graft.ext.Corpus
    val docs = Seq(
      (1L, Seq("a", "bb", "c"), Seq(0, 1, 1)),
      (2L, Seq("dd", "e", "f", "gg", "h"), Seq(1, 0, 1, 0, 1)),
      (3L, Seq("ii"), Seq(0))
    ).toDF("doc_id", "toks", "mask")
    val out = Corpus.packMaskedTokens(docs, "doc_id", "toks", "mask", 4L)
      .orderBy("chunk").collect()
    val allToks = out.flatMap(_.getSeq[String](1))
    val allMask = out.flatMap(_.getSeq[Int](2))
    // global concatenation preserves both streams in doc order, aligned
    assert(allToks.toSeq ==
      Seq("a", "bb", "c", "dd", "e", "f", "gg", "h", "ii"))
    assert(allMask.toSeq == Seq(0, 1, 1, 1, 0, 1, 0, 1, 0))
    // chunk layout: capacity-4 chunks, last partial
    assert(out.map(_.getSeq[String](1).size).toSeq == Seq(4, 4, 1))
    out.foreach { r =>
      assert(r.getSeq[String](1).size == r.getInt(r.fieldIndex("n_toks")))
      assert(r.getSeq[String](1).size == r.getSeq[Int](2).size)
      // doc_spans tile the chunk exactly and reassemble per-doc slices
      val spans = r.getSeq[org.apache.spark.sql.Row](
        r.fieldIndex("doc_spans"))
      assert(spans.map(_.getLong(2)).sum == r.getInt(r.fieldIndex("n_toks")))
      spans.foreach { sp =>
        val (doc, off, len) =
          (sp.getLong(0), sp.getLong(1).toInt, sp.getLong(2).toInt)
        val chunkToks = r.getSeq[String](1).slice(off, off + len)
        val docToks = docs.filter(col("doc_id") === doc)
          .collect().head.getSeq[String](1)
        // the span's tokens are a contiguous slice of the document
        assert(docToks.containsSlice(chunkToks) && chunkToks.nonEmpty)
      }
    }
  }

  test("truncateChat: window algebra, span re-basing, identity and degenerate laws") {
    import graft.ext.Corpus
    val docs = Seq(
      (1L, Seq(("user", "a longer user context here"),
        ("assistant", "short"), ("user", "again more words"),
        ("assistant", "the final answer arrives late"))),
      (2L, Seq(("user", "tiny"), ("assistant", "ok")))
    ).toDF("doc_id", "raw")
      .withColumn("turns", transform(col("raw"), t =>
        struct(t.getField("_1").as("role"), t.getField("_2").as("content"))))
      .drop("raw")
    val chat = Corpus.chatTemplate(docs, "turns")
    def spans(row: org.apache.spark.sql.Row, c: String) =
      row.getSeq[org.apache.spark.sql.Row](row.fieldIndex(c))
        .map(sp => (sp.getLong(0), sp.getLong(1)))
    for (side <- Seq("left", "right"); maxLen <- Seq(0L, 40L, 10000L)) {
      val out = Corpus.truncateChat(chat, "chat_text", "loss_spans",
        maxLen, side).orderBy("doc_id").collect()
      out.foreach { row =>
        val text = row.getString(row.fieldIndex("chat_text"))
        val tt = row.getString(row.fieldIndex("trunc_text"))
        val s = row.getLong(row.fieldIndex("kept_from")).toInt
        assert(tt.length <= maxLen)
        // the window is the suffix (left) / prefix (right)
        if (side == "left") assert(text.endsWith(tt) &&
          s == math.max(0, text.length - maxLen.toInt))
        else assert(text.startsWith(tt) && s == 0)
        val orig = spans(row, "loss_spans")
        val kept = spans(row, "trunc_spans")
        // every kept span's text equals the original slice at the
        // shifted coordinates (the reassembly law over the window)
        kept.foreach { case (off, len) =>
          assert(off >= 0 && off + len <= tt.length && len > 0)
          assert(tt.substring(off.toInt, (off + len).toInt) ==
            text.substring(s + off.toInt, s + (off + len).toInt))
        }
        // conservation: kept span chars == the window overlap of every
        // original span
        val e = s + tt.length
        val expect = orig.map { case (o, l) =>
          math.max(0L, math.min(o + l, e) - math.max(o, s)) }.sum
        assert(kept.map(_._2).sum == expect)
        // identity at maxLen >= len
        if (maxLen >= text.length) {
          assert(tt == text && kept == orig)
        }
        if (maxLen == 0L) assert(tt.isEmpty && kept.isEmpty)
      }
    }
  }

  test("tokenLossMask: token-aligned mask covers exactly the span-overlapping tokens") {
    import graft.ext.Corpus
    val docs = Seq(
      (1L, Seq(("user", "hello there"), ("assistant", "hi friend"),
        ("user", "more work"), ("assistant", "ok"))),
      (3L, Seq(("user", "no reply")))
    ).toDF("doc_id", "raw")
      .withColumn("turns", transform(col("raw"), t =>
        struct(t.getField("_1").as("role"), t.getField("_2").as("content"))))
      .drop("raw")
    val chat = Corpus.chatTemplate(docs, "turns")
      .select(col("doc_id"), col("chat_text"), col("loss_spans"))
    val r = Corpus.tokenLossMask(chat, "doc_id", "chat_text", "loss_spans")
      .orderBy("doc_id").collect()
    r.foreach { row =>
      val text = row.getString(row.fieldIndex("chat_text"))
      val toks = row.getSeq[String](row.fieldIndex("mask_tokens"))
      val mask = row.getSeq[Int](row.fieldIndex("loss_mask"))
      val spans = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("loss_spans"))
        .map(sp => (sp.getLong(0), sp.getLong(1)))
      // tokens reassemble the text (single-char separators), mask aligned
      assert(mask.size == toks.size)
      assert(toks.mkString("x").length == text.length,
        "single-char separators: joined length must equal text length")
      // independent reference: recompute each token's range and overlap
      var off = 0L
      toks.zip(mask).foreach { case (tok, m) =>
        val expected = if (spans.exists { case (so, sl) =>
          off < so + sl && off + tok.length > so }) 1 else 0
        assert(m == expected, s"token '$tok' at $off: got $m")
        off += tok.length + 1
      }
      // every NON-SEPARATOR span character lands inside a masked token
      // (separator chars — the space inside multi-token content — belong
      // to no token by construction; a trainer's loss runs on tokens)
      spans.foreach { case (so, sl) =>
        var o = 0L
        val covered = toks.zip(mask).flatMap { case (tok, m) =>
          val r = if (m == 1) (o until o + tok.length) else Seq.empty
          o += tok.length + 1; r
        }.toSet
        (so until so + sl)
          .filterNot(c => text(c.toInt) == ' ' || text(c.toInt) == '\n')
          .foreach(c => assert(covered.contains(c),
            s"span char $c uncovered"))
      }
    }
    // the masked-token content of doc 1: assistant turns glued with endTok
    val d1 = r.find(_.getLong(0) == 1L).get
    val kept = d1.getSeq[String](d1.fieldIndex("mask_tokens"))
      .zip(d1.getSeq[Int](d1.fieldIndex("loss_mask")))
      .collect { case (t, 1) => t }
    assert(kept == Seq("hi", "friend<|im_end|>", "ok<|im_end|>"))
    // no-assistant doc: all zeros
    val d3 = r.find(_.getLong(0) == 3L).get
    assert(d3.getSeq[Int](d3.fieldIndex("loss_mask")).forall(_ == 0))
  }

  test("lengthBucketBatches: bucket/padding laws, full batches, oversize isolation (VERDICT r17 #6)") {
    import graft.ext.Corpus
    // lengths spanning several width-8 buckets + a 0 + an oversize (> cap)
    val rows = Seq(1, 3, 7, 8, 9, 12, 15, 16, 17, 20, 23, 24, 25, 31, 33,
      40, 64, 0, 5, 6).zipWithIndex.map { case (len, i) => (i.toLong, len) }
    val df = rows.toDF("doc_id", "n_tok")
    val r = Corpus.lengthBucketBatches(df, "doc_id", "n_tok",
      bucketWidth = 8, capacity = 32).collect()
      .map(x => (x.getLong(x.fieldIndex("doc_id")),
        x.getInt(x.fieldIndex("n_tok")),
        x.getInt(x.fieldIndex("bucket")),
        x.getLong(x.fieldIndex("padded_len")),
        x.getLong(x.fieldIndex("batch_in_bucket")),
        x.getInt(x.fieldIndex("seq_in_batch"))))
    // padding laws: padded >= len, padded - len < width (len >= 1);
    // len 0 rides bucket 1
    r.foreach { case (id, len, b, pad, _, _) =>
      assert(pad >= len && b >= 1, s"doc $id")
      if (len >= 1) assert(pad - len < 8, s"doc $id waste ${pad - len}")
      else assert(b == 1 && pad == 8)
    }
    // within each bucket: ranks are doc_id-ordered and dense; every batch
    // except the last is exactly full at floor(cap / padded) seats
    r.groupBy(_._3).foreach { case (b, docs) =>
      val sorted = docs.sortBy(_._1)
      val seats = math.max(32L / sorted.head._4, 1L)
      sorted.zipWithIndex.foreach { case ((id, _, _, _, bat, seq), rk) =>
        assert(bat == rk / seats && seq == rk % seats,
          s"doc $id in bucket $b: ($bat,$seq) at rank $rk")
      }
      val byBatch = sorted.groupBy(_._5).toSeq.sortBy(_._1)
      byBatch.dropRight(1).foreach { case (bat, members) =>
        assert(members.size.toLong == seats, s"bucket $b batch $bat not full")
      }
    }
    // the 64-token doc (padded 64 > cap 32) still gets a seat — alone
    val big = r.find(_._2 == 64).get
    assert(big._6 == 0 && r.count(x => x._3 == big._3 && x._5 == big._5) == 1)
    // agreement with a single-partition reference (the two-phase rank is
    // an implementation detail, not a semantics change)
    val one = Corpus.lengthBucketBatches(df.coalesce(1), "doc_id", "n_tok",
      bucketWidth = 8, capacity = 32).collect()
      .map(x => (x.getLong(x.fieldIndex("doc_id")),
        x.getLong(x.fieldIndex("batch_in_bucket")),
        x.getInt(x.fieldIndex("seq_in_batch")))).sortBy(_._1)
    assert(one.toSeq == r.map(x => (x._1, x._5, x._6)).sortBy(_._1).toSeq)
  }

  test("parseMp3Meta: committed fixture, generator agreement, ID3 skip, strictness (VERDICT r17 #7)") {
    import graft.ext.Multimodal
    // the committed fixture pins the byte layout on disk; the generator
    // must reproduce it bit-for-bit (same discipline as the WordPiece
    // vocab fixture)
    val fixture = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/tiny.mp3").toURI))
    assert(java.util.Arrays.equals(fixture, Multimodal.syntheticMp3(7L, 5, id3Pad = 16)),
      "generator drifted from the committed fixture")
    val Some((rate, ch, frames, ms, kbps, vbr)) = Multimodal.parseMp3Meta(fixture)
    assert(rate == 44100 && ch == 2 && frames == 5 && ms == 130L && vbr)
    assert(math.abs(kbps - 204.8) < 1e-9) // (192+256+128+192+256)/5
    // no ID3, single frame -> CBR
    val one = Multimodal.syntheticMp3(3L, 1)
    val Some((_, _, f1, _, _, v1)) = Multimodal.parseMp3Meta(one)
    assert(f1 == 1 && !v1)
    // strictness: garbage, truncation, and a corrupted mid-stream header
    // all return None rather than a silently-short duration
    assert(Multimodal.parseMp3Meta("not an mp3 at all".getBytes).isEmpty)
    assert(Multimodal.parseMp3Meta(fixture.dropRight(10)).isEmpty)
    val corrupt = fixture.clone()
    corrupt(10 + 16 + 627) = 0x00 // first byte of frame 1's header region
    assert(Multimodal.parseMp3Meta(corrupt).isEmpty)
    // trailing ID3v1 TAG block is tolerated
    val tagged = one ++ ("TAG" + "x" * 125).getBytes
    assert(Multimodal.parseMp3Meta(tagged).exists(_._3 == 1))
    // dataset path: undecodable rows drop, metadata rides the stub shape
    val media = Seq(
      Multimodal.MediaRow(7L, fixture),
      Multimodal.MediaRow(8L, "junk".getBytes)).toDS()
    val metas = Multimodal.mp3Meta(media).collect()
    assert(metas.length == 1 && metas(0).id == 7L &&
      metas(0).duration_ms == 130L && metas(0).vbr)
  }

  test("parseJpegMeta: external real-encoder fixture, generator agreement, strictness") {
    import graft.ext.Multimodal
    // the committed fixture is a REAL encoder's output (CPython's
    // test-suite python.jpg — an independent pin, not this repo's own
    // generator): 16×16 baseline, 3 components, 9 marker segments
    val fixture = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/tiny.jpg").toURI))
    val Some((w, h, prec, nc, prog, segs)) = Multimodal.parseJpegMeta(fixture)
    assert(w == 16 && h == 16 && prec == 8 && nc == 3 && !prog && segs == 9)
    // generator round trip across both SOF variants and all ncomp values
    for (id <- 0L to 6L) {
      val Some((gw, gh, gp, gn, gprog, gsegs)) =
        Multimodal.parseJpegMeta(Multimodal.syntheticJpeg(id))
      assert(gw == 16 + (id * 7) % 240 && gh == 16 + (id * 13) % 240)
      assert(gp == 8 && gn == 1 + id % 3 && gprog == (id % 2 == 1) && gsegs == 5)
    }
    // strictness: garbage, missing EOI, trailing junk, truncated segment,
    // EOI before any frame, a second SOF, and unsupported SOFn all fail
    val good = Multimodal.syntheticJpeg(4L)
    assert(Multimodal.parseJpegMeta("not a jpeg".getBytes).isEmpty)
    assert(Multimodal.parseJpegMeta(good.dropRight(2)).isEmpty)
    assert(Multimodal.parseJpegMeta(good ++ Array[Byte](0)).isEmpty)
    assert(Multimodal.parseJpegMeta(good.take(8)).isEmpty)
    assert(Multimodal.parseJpegMeta(
      Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)).isEmpty)
    val sofAt = {
      // locate the SOF0 marker in the synthetic layout to corrupt it
      var i = 2; var at = -1
      while (at < 0 && i + 1 < good.length) {
        if ((good(i) & 0xFF) == 0xFF && (good(i + 1) & 0xFF) == 0xC0) at = i
        i += 1
      }
      at
    }
    assert(sofAt > 0)
    val twoSof = good.take(sofAt) ++ good.slice(sofAt,
      sofAt + 2 + (((good(sofAt + 2) & 0xFF) << 8) | (good(sofAt + 3) & 0xFF))) ++
      good.drop(sofAt)
    assert(Multimodal.parseJpegMeta(twoSof).isEmpty)
    val arith = good.clone(); arith(sofAt + 1) = 0xC9.toByte // SOF9 arithmetic
    assert(Multimodal.parseJpegMeta(arith).isEmpty)
    // dataset path: unparseable rows drop
    val media = Seq(
      Multimodal.MediaRow(4L, good),
      Multimodal.MediaRow(5L, "junk".getBytes)).toDS()
    val metas = Multimodal.jpegMeta(media).collect()
    assert(metas.length == 1 && metas(0).id == 4L && metas(0).width == 44)
  }

  test("parseFlacMeta: bit fields, block walk, strict tail") {
    import graft.ext.Multimodal
    for (id <- 0L to 5L) {
      val Some((rate, ch, bps, total, ms, blocks, md5)) =
        Multimodal.parseFlacMeta(Multimodal.syntheticFlac(id))
      val wantRate = Array(44100, 48000, 32000, 22050)((id % 4).toInt)
      assert(rate == wantRate && ch == 1 + id % 2 && bps == 16)
      assert(total == 1000L + (id * 37) % 5000 && ms == total * 1000L / rate)
      assert(blocks == 2)
      assert(md5 == (0 until 16).map(j => f"${(id * 31 + j) % 256}%02x").mkString)
    }
    val good = Multimodal.syntheticFlac(3L)
    // strictness: bad magic, truncated STREAMINFO, trailing junk after
    // the last block that is not a frame sync, and STREAMINFO-not-first
    assert(Multimodal.parseFlacMeta("not flac".getBytes).isEmpty)
    assert(Multimodal.parseFlacMeta(good.take(20)).isEmpty)
    val junkTail = good.clone()
    junkTail(good.length - 18) = 0x00 // overwrite the frame sync byte
    assert(Multimodal.parseFlacMeta(junkTail).isEmpty)
    val padFirst = good.clone()
    padFirst(4) = 0x01 // first block claims PADDING, not STREAMINFO
    assert(Multimodal.parseFlacMeta(padFirst).isEmpty)
    // metadata-only sidecar (EOF right after the last block) is legal
    val pad = (3L % 32).toInt
    val sidecar = good.take(4 + 4 + 34 + 4 + pad)
    assert(Multimodal.parseFlacMeta(sidecar).exists(_._6 == 2))
    // dataset path: undecodable rows drop
    val media = Seq(
      Multimodal.MediaRow(3L, good),
      Multimodal.MediaRow(4L, "junk".getBytes)).toDS()
    val metas = Multimodal.flacMeta(media).collect()
    assert(metas.length == 1 && metas(0).id == 3L &&
      metas(0).sample_rate == 22050)
  }

  test("specAcceptance: prefix agreement, free token, degenerate lengths") {
    import graft.ext.Serving
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d"), Seq("a", "b", "c", "d")), // all accept
      (2L, Seq("a", "x", "c"), Seq("a", "b", "c")),           // mismatch at 2
      (3L, Seq("z", "b"), Seq("a", "b")),                     // mismatch at 1
      (4L, Seq("a", "b"), Seq("a", "b", "c", "d")),           // short draft
      (5L, Seq("a", "b", "c"), Seq("a")),                     // short target
      (6L, Seq.empty[String], Seq("a", "b")),                 // empty draft
      (7L, Seq("a"), Seq.empty[String])                       // empty target
    ).toDF("id", "draft", "target")
    val r = Serving.specAcceptance(rows, "id", "draft", "target")
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getInt(x.fieldIndex("n_accept")),
        Option(x.get(x.fieldIndex("accept_rate"))).map(_.asInstanceOf[Double]),
        x.getInt(x.fieldIndex("toks_per_step")))).toSeq
    assert(r(0) == ((1L, 4, Some(1.0), 4)))       // capped by target length
    assert(r(1) == ((2L, 1, Some(1.0 / 3.0), 2)))
    assert(r(2) == ((3L, 0, Some(0.0), 1)))
    assert(r(3) == ((4L, 2, Some(1.0), 3)))       // full draft accepted + free
    assert(r(4) == ((5L, 1, Some(1.0 / 3.0), 1))) // target exhausted
    assert(r(5) == ((6L, 0, None, 1)))            // empty draft: rate null
    assert(r(6) == ((7L, 0, Some(0.0), 0)))
  }

  test("needleInsert: splice boundaries at every depth, hash integrity") {
    import graft.ext.Eval
    val df = Seq((1L, Seq("t0", "t1", "t2", "t3")), (2L, Seq.empty[String]))
      .toDF("id", "toks")
    val needle = Seq("N1", "N2")
    val r = Eval.needleInsert(df, "id", "toks", needle,
        depthsPct = Seq(0, 50, 100))
      .orderBy("id", "depth_pct").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3),
        x.getString(4)))
    def h(toks: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(toks.mkString("\u001f").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }
    val base = Seq("t0", "t1", "t2", "t3")
    assert(r(0) == ((1L, 0, 0, 6, h(needle ++ base))))
    assert(r(1) == ((1L, 50, 2, 6,
      h(base.take(2) ++ needle ++ base.drop(2)))))
    assert(r(2) == ((1L, 100, 4, 6, h(base ++ needle))))
    // empty document: every depth prepends at 0
    assert(r.drop(3).forall { case (_, _, pos, n, md5) =>
      pos == 0 && n == 2 && md5 == h(needle) })
    intercept[IllegalArgumentException] {
      Eval.needleInsert(df, "id", "toks", Seq.empty)
    }
  }

  test("passAtK: exact combinatorics, short-circuits, k > n NULL") {
    import graft.ext.Eval
    // problem 1: n = 5, c = 2; problem 2: n = 4, c = 0; problem 3: all correct
    val samples =
      ((1 to 5).map(j => (1L, j <= 2)) ++ (1 to 4).map(_ => (2L, false)) ++
        (1 to 3).map(_ => (3L, true))).toDF("pid", "ok")
    val r = Eval.passAtK(samples, "pid", "ok", ks = Seq(1, 2, 5, 6))
      .orderBy("pid", "k").collect()
      .map(x => ((x.getLong(0), x.getInt(x.fieldIndex("k"))) ->
        Option(x.get(x.fieldIndex("pass_at_k"))).map(_.asInstanceOf[Double])))
      .toMap
    assert(r((1L, 1)) == Some(1.0 - 3.0 / 5.0))
    assert(r((1L, 2)) == Some(1.0 - 3.0 / 10.0))
    assert(r((1L, 5)) == Some(1.0)) // n - c < k: some draw must hit
    assert(r((1L, 6)) == None)      // cannot draw 6 from 5
    assert(r((2L, 1)) == Some(0.0) && r((2L, 2)) == Some(0.0))
    assert(r((3L, 1)) == Some(1.0) && r((3L, 2)) == Some(1.0))
  }

  test("btRatings: quantized MM tracks the real fixed point; stronger models rate higher") {
    import graft.ext.Eval
    // round-robin among three models: A beats B 8/10, B beats C 8/10,
    // A beats C 9/10 — a clean strength order A > B > C
    def games(a: String, b: String, n: Int, aw: Int) =
      (1 to n).map(i => (a, b, if (i <= aw) a else b))
    val g = (games("A", "B", 10, 8) ++ games("B", "C", 10, 8) ++
      games("A", "C", 10, 9) ++
      Seq(("A", "A", "A"), ("A", "B", "Z"))) // dropped: self-game, bad winner
      .toDF("ma", "mb", "win")
    val out = Eval.btRatings(g, "ma", "mb", "win", iters = 16)
      .orderBy("model").collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4))).toMap
    assert(out.keySet == Set("A", "B", "C"))
    assert(out("A")._1 == 20 && out("A")._2 == 17) // 8 + 9 wins
    assert(out("B")._1 == 20 && out("B")._2 == 10) // 2 + 8
    assert(out("C")._1 == 20 && out("C")._2 == 3)
    assert(out("A")._4 == 17.0 / 20.0)
    val pA = out("A")._3; val pB = out("B")._3; val pC = out("C")._3
    assert(pA > pB && pB > pC, s"order violated: $pA $pB $pC")
    // unquantized MM reference (double arithmetic, same iterations):
    // the nano-quantized walk must land within ~1e-6 relative
    val models = Seq("A", "B", "C")
    val n = Map(("A", "B") -> 10.0, ("B", "C") -> 10.0, ("A", "C") -> 10.0)
      .withDefaultValue(0.0)
    def nOf(i: String, j: String) = if (i < j) n((i, j)) else n((j, i))
    val w = Map("A" -> 17.0, "B" -> 10.0, "C" -> 3.0)
    var p = models.map(_ -> 1.0).toMap
    for (_ <- 1 to 16) {
      p = models.map { i =>
        val s = models.filter(j => j != i && nOf(i, j) > 0)
          .map(j => nOf(i, j) / (p(i) + p(j))).sum
        i -> w(i) / s
      }.toMap
    }
    models.foreach { m =>
      val got = out(m)._3.toDouble / 1e9
      assert(math.abs(got - p(m)) / p(m) < 1e-5,
        s"$m: quantized $got vs reference ${p(m)}")
    }
    // a model that never wins sits at (or near) the strength floor
    val shutout = (games("X", "Y", 10, 10)).toDF("ma", "mb", "win")
    val so = Eval.btRatings(shutout, "ma", "mb", "win", iters = 8)
      .collect().map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(so("Y") == 1000L && so("X") >= so("Y"))
  }

  test("distinctN: uniqueness share, degenerate lengths") {
    import graft.ext.Eval
    val df = Seq(
      (1L, Seq("a", "b", "a", "b", "a")), // bigrams ab,ba,ab,ba -> 2 of 4
      (2L, Seq("x", "y", "z")),           // all distinct
      (3L, Seq("solo")),                  // no bigrams
      (4L, Seq.empty[String])
    ).toDF("id", "toks")
    val r = Eval.distinctN(df, "toks", n = 2).orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(x.fieldIndex("grams_n")),
        x.getLong(x.fieldIndex("uniq_n")),
        Option(x.get(x.fieldIndex("distinct_n")))
          .map(_.asInstanceOf[Double])))
    assert(r(0) == ((1L, 4L, 2L, Some(0.5))))
    assert(r(1) == ((2L, 2L, 2L, Some(1.0))))
    assert(r(2) == ((3L, 0L, 0L, None)))
    assert(r(3) == ((4L, 0L, 0L, None)))
  }

  test("annealOrder: anneal tail is the top slice, orders are dense and partition-invariant") {
    val df = (0L until 40L).map(i => (i, 100L + (i * 37) % 83))
      .toDF("id", "score")
    val r = Corpus.annealOrder(df, "id", "score", annealFrac = 0.25)
      .collect().map(x => (x.getLong(x.fieldIndex("id")),
        x.getString(x.fieldIndex("phase")),
        x.getLong(x.fieldIndex("quality_rank")),
        x.getLong(x.fieldIndex("train_order"))))
    assert(r.length == 40)
    // floor(40 * 0.25) = 10 anneal rows, exactly the top-10 quality ranks
    val anneal = r.filter(_._2 == "anneal")
    assert(anneal.length == 10 && anneal.forall(_._3 <= 10))
    assert(r.filter(_._2 == "main").forall(_._3 > 10))
    // train_order is a dense 0..39 permutation with the anneal rows LAST
    assert(r.map(_._4).sorted.sameElements(0L until 40L))
    val mainMax = r.filter(_._2 == "main").map(_._4).max
    assert(anneal.forall(_._4 > mainMax))
    // quality rank: scores descending, ties (none here) by id
    val byRank = r.sortBy(_._3).map(_._1)
    val want = (0L until 40L).sortBy(i => (-(100L + (i * 37) % 83), i))
    assert(byRank.sameElements(want))
    // partitioning must not change a single assignment
    val one = Corpus.annealOrder(df.coalesce(1), "id", "score", 0.25)
      .collect().map(x => (x.getLong(x.fieldIndex("id")),
        x.getLong(x.fieldIndex("train_order")))).sortBy(_._1)
    assert(one.toSeq == r.map(x => (x._1, x._4)).sortBy(_._1).toSeq)
  }

  test("bpeDetok: byte-level encode-decode is exact on every input shape") {
    import graft.funcs.{BpeFunctions, BpeCodec}
    val merges = Seq("Ġ t", "h e", "Ġt he")
    val texts = Seq(
      "The résumé, it's here   and\nthe end",
      "tabs\tand  runs   nbsp",
      "emoji 😀 beyond the BMP",
      "", "   ", "\n\n")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val out = TextStats.bpeStats(df, "text", merges, byteLevel = true)
      .withColumn("detok",
        BpeFunctions.bpeDetok(col("bpe_tokens"), byteLevel = true))
      .select("id", "text", "detok").collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"round trip broke: ${r.getString(1)} -> ${r.getString(2)}")
    }
    // codec-level: the law holds directly too, including for raw bytes
    val codec = new BpeCodec(Array("Ġ t"), Array.empty, true)
    texts.foreach { t =>
      assert(BpeCodec.byteLevelDecode(codec.encode(t).mkString("")) == t)
    }
  }

  test("unigram model artifact: write/load round trip; encode under the loaded model is bit-identical (VERDICT r16 #8)") {
    // the SentencePiece-shaped plain-text (piece, score) pair completes
    // the tokenizer triad's artifact story (BPE: merges.txt/vocab.json;
    // WordPiece: vocab.txt). Scores are integer micro-nats, so the loaded
    // model is EXACTLY the trained one and q144's Viterbi arithmetic is
    // pinned on the loaded path, not merely approximated.
    val docs = (0L until 6L).map(i => (i, "abab abc the cab " + ("ab" * (i.toInt % 3))))
      .toDF("doc_id", "text")
    val model = Unigram.unigramTrain(docs, "text", vocabSize = 16,
      maxPieceLen = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_uni_model")
    val p = dir.resolve("unigram.model.txt").toString
    Unigram.writeModel(p, model)
    val loaded = Unigram.loadModel(p)
    assert(loaded == model.sortBy(_._1),
      "write -> load must reproduce the trained model exactly")
    // q144's arithmetic on the LOADED path: distributed encode under the
    // loaded model equals encode under the in-memory model, bit-for-bit
    def encAll(m: Seq[(String, Long)]) =
      Unigram.unigramEncode(docs, "doc_id", "text", m)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(encAll(loaded) == encAll(model))
    // escape coverage: pieces carrying the format's own characters (a
    // GPT-2-pattern leading space stays raw; tab/newline/backslash escape)
    val tricky = Seq((" the", -123L), ("a\tb", -1L), ("c\nd", -2L),
      ("e\\f", -3L), ("g", 0L))
    assert(Unigram.parseModelTxt(Unigram.renderModelTxt(tricky))
      == tricky.sortBy(_._1))
    // malformed lines fail loudly
    intercept[IllegalArgumentException] {
      Unigram.parseModelTxt("notabhere\n")
    }
    ()
  }

  test("contaminationNear: paraphrase-level leaks found, clean bench items pass") {
    val bench = Seq(
      (100L, base + " tail"), // near-dup of doc 0 (and its variants)
      (101L, "entirely different benchmark question probing arithmetic skills today")
    ).toDF("bid", "btext")
    val rep = Corpus.contaminationNear(corpus, bench, "doc_id", "text",
        "bid", "btext", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rep.contains((0L, 100L)), s"exact-ish leak missed: $rep")
    assert(rep.forall(_._2 == 100L), s"clean bench item flagged: $rep")
    // the drop terminal removes exactly the flagged ids
    val kept = Corpus.dropContaminatedNear(corpus, bench, "doc_id", "text",
        "bid", "btext", minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L to 4L).toSet -- rep.map(_._1))
  }

  test("calibrationReport: bins partition the slice, gap law, hand-binning parity") {
    val good = "the data and the model are in the store for a while now " * 3
    val junk = "!!! ??? *** ;;; :::"
    val pos = (0L until 8L).map(i => (i, good + s" v$i")).toDF("doc_id", "text")
    val neg = (10L until 18L).map(i => (i, junk + s" x$i")).toDF("doc_id", "text")
    val model = Classifier.train(pos, neg, "doc_id", "text", iters = 4, lr = 50.0)
    val held = (pos.withColumn("label", lit(1)))
      .unionByName(neg.withColumn("label", lit(0)))
    val rep = Classifier.calibrationReport(held, "doc_id", "text", "label", model)
      .orderBy(col("bin")).collect()
    assert(rep.map(_.getLong(1)).sum == 16L)
    // cal_gap is EXACTLY mean_prob - frac_pos (same operands, one subtract)
    rep.foreach { r =>
      assert(r.getDouble(4) == r.getDouble(2) - r.getDouble(3), r.toSeq) }
    // parity with hand binning of the raw scores
    val scored = Classifier.score(held, "doc_id", "text", model)
      .select(col("clf_prob"), col("label")).collect()
      .map(r => (math.min((r.getDouble(0) * 10).toInt, 9), r.getDouble(0), r.getInt(1)))
    val hand = scored.groupBy(_._1).map { case (b, xs) =>
      b -> ((xs.size.toLong,
        xs.map(x => math.round(x._2 * 1e6)).sum.toDouble / xs.size / 1e6,
        xs.map(_._3).sum.toDouble / xs.size))
    }
    rep.foreach { r =>
      val (n, mp, fp) = hand(r.getInt(0))
      assert(r.getLong(1) == n && r.getDouble(2) == mp && r.getDouble(3) == fp,
        s"bin ${r.getInt(0)}: ${r.toSeq} vs ($n, $mp, $fp)")
    }
  }

  test("hllPairwiseOverlap: inclusion-exclusion tracks true overlap per pair") {
    // A = 1..1000, B = 501..1500 (true inter 500), C = 3000..4000 (inter 0);
    // one doc per (source, token) so tokenization is trivial
    def docs(g: String, lo: Int, hi: Int) =
      (lo to hi).map(i => (g, s"tok$i"))
    val df = (docs("a", 1, 1000) ++ docs("b", 501, 1500) ++
      docs("c", 3000, 4000)).toDF("src", "text")
    val rep = Sketch.hllPairwiseOverlap(df, "text", "src", m = 256)
      .collect().map(r => (r.getString(1), r.getString(0)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(5)))).toMap
    // src_a < src_b; note select order is (src_a, src_b, ...) after joins
    val keys = rep.keySet
    assert(keys == Set(("a", "b"), ("a", "c"), ("b", "c")) ||
      rep.keySet.map(_.swap) == Set(("a", "b"), ("a", "c"), ("b", "c")),
      s"pairs: $keys")
    def inter(a: String, b: String): Double =
      rep.getOrElse((a, b), rep((b, a)))._3
    // m = 256 -> sigma ~ 6.5% of each 1000-element estimate; the
    // inclusion-exclusion noise floor is a few sigma of the union
    assert(math.abs(inter("a", "b") - 500) < 250, s"ab ${inter("a", "b")}")
    assert(math.abs(inter("a", "c")) < 250, s"ac ${inter("a", "c")}")
    assert(inter("a", "b") > inter("a", "c") + 100)
  }

  test("tokenizerFertility: volumes exact, ratios consistent, per-source split") {
    val docs = Seq(
      (0L, "srcA", "abab abab abab"), (1L, "srcA", "abab cd"),
      (2L, "srcB", "zq wk pf"), (3L, "srcB", "")).toDF("doc_id", "source", "text")
    val uni = Unigram.unigramTrain(docs, "text", vocabSize = 12,
      maxPieceLen = 4, iters = 1)
    val rep = Audit.tokenizerFertility(docs, "text", "source",
        merges = Seq("a b", "ab ab"), uniModel = uni)
      .orderBy(col("source")).collect()
    assert(rep.map(_.getString(0)).toSeq == Seq("srcA", "srcB"))
    val a = rep(0); val b = rep(1)
    assert(a.getLong(1) == 2L && b.getLong(1) == 2L) // docs incl. empty
    assert(a.getLong(2) == 5L, s"srcA words ${a.toSeq}") // 4 abab + 1 cd
    assert(b.getLong(2) == 3L && b.getLong(4) > 0L)
    // srcA BPE: 'abab' -> a b -> ab, ab -> abab = 1 token each; variants
    // with leading space differ -- just assert the ratio laws instead
    rep.foreach { r =>
      assert(r.getDouble(6) == r.getLong(4).toDouble / r.getLong(2), r.toSeq)
      assert(r.getDouble(8) == r.getLong(3).toDouble / r.getLong(4), r.toSeq)
    }
  }

  test("sketch store: persisted params, shard appends equal build-from-union") {
    val items = (0 until 4000).map(i => s"it$i")
    def sk(xs: Seq[String]) = Sketch.hllSketch(
      xs.toDF("x").withColumn("g", lit("a")), Seq("g"), col("x"))
    // build from the first shard, append the second (overlapping); the
    // append states the shard's build params and inherits groupCols from
    // the frozen meta (it cannot collapse a grouped store by omission)
    val buildParams = Map("m" -> "256", "salt" -> "graft:hll")
    Sketch.writeSketchStore(sk(items.take(2500)), "fb_test_skstore", "hll",
      buildParams, groupCols = Seq("g"))
    Sketch.appendToSketchStore(sk(items.drop(1500)), "fb_test_skstore",
      buildParams)
    val (kind, params, stored) = Sketch.readSketchStore(spark, "fb_test_skstore")
    assert(kind == "hll" && params("m") == "256" && params("groupCols") == "g")
    // a shard built with a DIFFERENT hash setup must be refused, not merged
    val mismatch = intercept[IllegalArgumentException] {
      Sketch.appendToSketchStore(sk(items.take(10)), "fb_test_skstore",
        Map("m" -> "512", "salt" -> "graft:hll"))
    }
    assert(mismatch.getMessage.contains("frozen store meta"))
    val got = stored.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val whole = sk(items).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == whole) // append-by-shards == build-from-union, EXACTLY
    // and the estimate read off the store matches the direct one
    val ev = Sketch.hllEstimate(stored, Seq("g"), 256).collect().head.getDouble(2)
    val dv = Sketch.hllEstimate(sk(items), Seq("g"), 256).collect().head.getDouble(2)
    assert(ev == dv)
  }

  test("unicodeNormalize: forms, ligature folding, null, codegen survives") {
    import graft.funcs.TextFunctions.unicodeNormalize
    val df = Seq((0L, "café"), (1L, "café"), (2L, "ﬁsh"),
        (3L, null.asInstanceOf[String])).toDF("id", "t")
    val r = df.select(col("id"),
        unicodeNormalize(col("t")).as("nfc"),
        unicodeNormalize(col("t"), "NFD").as("nfd"),
        unicodeNormalize(col("t"), "NFKC").as("nfkc"))
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getString(1) == "caf\u00e9")  // NFD composes to NFC
    assert(r(1L).getString(2) == "café") // NFC decomposes to NFD
    assert(r(2L).getString(3) == "fish")       // NFKC folds the fi ligature
    assert(r(2L).getString(1) == "\ufb01sh")   // NFC keeps compatibility chars
    assert(r(3L).isNullAt(1))
    // a bad form name fails at resolution, not per-row
    intercept[Exception] {
      df.select(unicodeNormalize(col("t"), "NFX")).collect()
    }
    // stays inside whole-stage codegen (the bpeencode plan discipline)
    val q = df.repartition(2).select(unicodeNormalize(col("t")).as("n"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*unicodenormalize""".r.findFirstIn(plan).isDefined, plan)
  }

  test("deletionNeighborPairs: SymSpell invariant at d=1/d=2, cap, empties") {
    val df = Seq(
      (1L, "kitten"), (2L, "kitte"), // deletion: lev 1
      (3L, "zitten"),                // substitution vs kitten: lev 1
      (4L, "kixtten"),               // insertion vs kitten: lev 1
      (5L, "iktten"),                // transposition vs kitten: lev 2
      (6L, ""), (7L, ""),            // empty twins: lev 0
      (8L, "unrelated")
    ).toDF("id", "s")
    def run(d: Int, cap: Option[Int] = Some(Dedup.DefaultMaxDocFreq)) =
      Dedup.deletionNeighborPairs(df, "id", "s", maxDist = d, maxKeyFreq = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val p1 = run(1)
    assert(p1((1L, 2L, 1)) && p1((1L, 3L, 1)) && p1((1L, 4L, 1)))
    assert(p1((6L, 7L, 0)))
    // the transposition SHARES a d=1 delete variant ("itten") — the exact
    // confirm must kill it, because lev(kitten, iktten) = 2
    assert(!p1.exists(p => p._1 == 5L || p._2 == 5L), p1.toString)
    assert(!p1.exists(p => p._1 == 8L || p._2 == 8L))
    // d=2 admits the transposition and two-edit chains (kitte→zitten)
    val p2 = run(2)
    assert(p2((1L, 5L, 2)) && p2((2L, 3L, 2)))
    // the key-frequency cap drops a hot key's pairs (observable, the
    // stop-gram discipline) — exact-dup clusters are the terminals' job
    val hot = (0 until 12).map(i => (100L + i, "same")).toDF("id", "s")
    assert(Dedup.deletionNeighborPairs(hot, "id", "s",
      maxKeyFreq = Some(11)).count() == 0L)
    assert(Dedup.deletionNeighborPairs(hot, "id", "s",
      maxKeyFreq = None).count() == 66L) // C(12,2), all dist 0
  }

  test("SymSpell key cap is observable: dropped postings counted (VERDICT r15 #2)") {
    // hot key fixture: 12 copies of "same" (every delete variant shared by
    // all 12) plus one near-pair that must SURVIVE the cap
    val df = ((0 until 12).map(i => (100L + i, "same")) ++
      Seq((1L, "kitten"), (2L, "kitte"))).toDF("id", "s")
    // single-consumer report: trustworthy numbers (the capBuckets caveat —
    // in-pipeline observation can be swallowed by AQE inside the self-join)
    val r = Dedup.symspellCapReport(df, "id", "s", maxDist = 1,
      maxKeyFreq = Some(11))
    // "same" yields 5 variants (itself + 4 distinct deletions: "ame" "sme"
    // "sae" "sam"), each with freq 12 > 11 → 12 rows × 5 keys dropped
    assert(r.droppedRows == 60L, r.toString)
    assert(r.maxBucket == 12L, r.toString)
    assert(r.cap.contains(11))
    // uncapped probe: drops 0 by construction, still measures the hot key
    val u = Dedup.symspellCapReport(df, "id", "s", maxKeyFreq = None)
    assert(u.droppedRows == 0L && u.maxBucket == 12L && u.cap.isEmpty)
    // the capped pair set keeps the cold pair and loses the hot cluster
    val obs = org.apache.spark.sql.Observation()
    val pairs = Dedup.deletionNeighborPairs(df, "id", "s", maxDist = 1,
        maxKeyFreq = Some(11), observation = Some(obs))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
    // the explicit Observation surfaces the same counts from the real
    // pair-generating plan (best-effort under AQE; green on 4.1.2 local)
    assert(obs.get("dropped_postings").asInstanceOf[Long] == 60L)
    assert(obs.get("max_key_freq").asInstanceOf[Long] == 12L)
  }

  test("incrementalTypo: arrivals within lev<=d of the catalog drop, fresh pass") {
    val seen = Seq((1L, "kitten"), (2L, "orange")).toDF("id", "s")
    val arr = Seq(
      (10L, "kitte"),   // deletion of a catalog title: drop
      (11L, "zitten"),  // substitution: drop
      (12L, "oranges"), // insertion: drop
      (13L, "iktten"),  // transposition = lev 2: must SURVIVE at d=1
      (14L, "banana")   // fresh
    ).toDF("id", "s")
    def ids(d: Int) = Dedup.incrementalTypo(arr, seen, "id", "s", maxDist = d)
      .select("id").as[Long].collect().toSet
    assert(ids(1) == Set(13L, 14L))
    // d=2 admits the transposition into the drop set
    assert(ids(2) == Set(14L))
  }

  test("typoJoin: cross-table fuzzy key join, exact matches at dist 0, d=2 widens") {
    val left = Seq((1L, "kitten"), (2L, "orange"), (3L, "apple"))
      .toDF("lid", "lkey")
    val right = Seq(
      (10L, "kitte"),   // deletion twin of kitten -> dist 1
      (11L, "orange"),  // exact -> dist 0
      (12L, "aple"),    // deletion twin of apple -> dist 1
      (13L, "iktten"),  // transposition of kitten = lev 2: out at d=1
      (14L, "banana")   // no match
    ).toDF("rid", "rkey")
    def pairs(d: Int) =
      Dedup.typoJoin(left, right, "lid", "lkey", "rid", "rkey", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(1) == Set((1L, 10L, 1), (2L, 11L, 0), (3L, 12L, 1)))
    // d=2 admits the transposition
    assert(pairs(2) == Set((1L, 10L, 1), (2L, 11L, 0), (3L, 12L, 1),
      (1L, 13L, 2)))
    // identical output id names are a contract violation, not a silent clash
    intercept[IllegalArgumentException] {
      Dedup.typoJoin(left, right, "id", "lkey", "id", "rkey")
    }
    ()
  }

  test("typoJoin: per-side cap observations on a hot key; NULL keys match nothing") {
    // VERDICT r16 #5 — the deletionNeighborPairs observation surface,
    // mirrored per side: a hot LEFT key fixture (12 copies of "same",
    // every delete variant freq 12 > cap 11) alongside one cold pair that
    // must survive; the right side is under-cap everywhere
    val left = ((0 until 12).map(i => (100L + i, "same")) :+ (1L, "kitten"))
      .toDF("lid", "lkey")
    val right = Seq((10L, "kitte"), (11L, "same")).toDF("rid", "rkey")
    val lo = org.apache.spark.sql.Observation()
    val ro = org.apache.spark.sql.Observation()
    val pairs = Dedup.typoJoin(left, right, "lid", "lkey", "rid", "rkey",
        maxDist = 1, maxKeyFreq = Some(11),
        leftObservation = Some(lo), rightObservation = Some(ro))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 10L, 1)), pairs.toString)
    // "same" yields 5 variant keys (itself + 4 distinct deletions), each
    // freq 12 over the cap → 60 left postings dropped; the right side's
    // hottest key is under the cap, so it reports zero drops — capped
    // recall on EITHER relation is now trustable in one action
    assert(lo.get("dropped_postings").asInstanceOf[Long] == 60L)
    assert(lo.get("max_key_freq").asInstanceOf[Long] == 12L)
    assert(ro.get("dropped_postings").asInstanceOf[Long] == 0L)
    assert(ro.get("max_key_freq").asInstanceOf[Long] <= 11L)
    // NULL keys match NOTHING (levenshtein(NULL, x) IS NULL — the oracle's
    // theta-join semantics): neither the length-1 key nor the right NULL
    // pairs with the left NULL
    val ln = Seq((1L, null.asInstanceOf[String]), (2L, "ab"))
      .toDF("lid", "lkey")
    val rn = Seq((10L, "a"), (11L, null.asInstanceOf[String]), (12L, "ab"))
      .toDF("rid", "rkey")
    val np = Dedup.typoJoin(ln, rn, "lid", "lkey", "rid", "rkey", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(np == Set((2L, 10L), (2L, 12L)), np.toString)
  }

  test("typo catalog store: write/read/append round-trip + stale-bloom repair") {
    // VERDICT r15 #8 — the persisted TypoCatalog lifecycle: a reloaded
    // catalog serves byte-identical drops, an append equals a from-scratch
    // build on the union, and the documented crash window (vars INSERT
    // committed, meta Bloom rewrite lost) recovers via repair, never a
    // corpus rescan.
    val store = "fb_test_typocat"
    val seed = Seq("kitten", "orange").toDF("s")
    val arr = Seq((10L, "kitte"), (11L, "banana"), (12L, "oranges"),
      (13L, "bananb"), (14L, "cherry")).toDF("id", "s")
    def ids(cat: Dedup.TypoCatalog) =
      Dedup.dropSeenTypos(arr, "id", "s", cat)
        .select("id").as[Long].collect().toSet
    val built = Dedup.prepareTypoCatalog(seed, "s", maxDist = 1,
      expectedSeen = Some(500L))
    Dedup.writeTypoCatalog(built, store)
    val served = Dedup.readTypoCatalog(spark, store)
    assert(served.maxDist == built.maxDist &&
      served.capacity == 500L && served.fpp == built.fpp)
    // reloaded catalog == in-memory catalog, arithmetic and row set
    assert(ids(served) == ids(built) && ids(served) == Set(11L, 13L, 14L))
    assert(served.seenVars.collect().map(r => (r.getString(0), r.getString(1)))
      .toSet == built.seenVars.collect().map(r => (r.getString(0), r.getString(1))).toSet)
    // append a survivor shard: "banana" joins the seen set, so its
    // deletion twin 13 now drops while 14 stays fresh — and the appended
    // store equals a from-scratch catalog over the union
    val appended = Dedup.appendToTypoCatalog(Seq("banana").toDF("s"), "s", store)
    assert(ids(appended) == Set(14L))
    val rebuilt = Dedup.prepareTypoCatalog(
      Seq("kitten", "orange", "banana").toDF("s"), "s", maxDist = 1)
    assert(appended.seenVars.collect().map(r => (r.getString(0), r.getString(1)))
      .toSet == rebuilt.seenVars.collect().map(r => (r.getString(0), r.getString(1))).toSet)
    // the reload after the append serves the same drops (meta committed)
    assert(ids(Dedup.readTypoCatalog(spark, store)) == Set(14L))
    // CRASH WINDOW: an append whose INSERT committed but whose meta
    // rewrite was lost — replicate by inserting vars rows directly while
    // leaving the stored Bloom stale. A stale Bloom can only LOSE drops
    // (miss → skips the confirm join), so repair must restore them.
    val loneVars = Dedup.prepareTypoCatalog(Seq("cherry").toDF("s"), "s",
      maxDist = 1).seenVars
    loneVars.write.mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(s"${store}_vars")
    val stale = Dedup.readTypoCatalog(spark, store)
    // 14 ("cherry" itself, lev 0) SHOULD drop now, but the stale Bloom
    // may or may not admit it — only the repaired catalog is trustworthy
    val repaired = Dedup.repairTypoCatalogBloom(spark, store)
    assert(ids(repaired) == Set.empty[Long],
      s"post-repair drops must cover the orphaned vars shard (stale gave ${ids(stale)})")
    assert(ids(Dedup.readTypoCatalog(spark, store)) == Set.empty[Long])
  }

  test("stripAccents: folds base+mark compositions, keeps non-decomposables") {
    import graft.funcs.TextFunctions.stripAccents
    val df = Seq("crème brûlée", "ascii text",
        "ø đ ł", null.asInstanceOf[String]).toDF("t")
    val r = df.select(stripAccents(col("t")).as("f")).collect()
      .map(x => if (x.isNullAt(0)) null else x.getString(0))
    assert(r(0) == "creme brulee")
    assert(r(1) == "ascii text") // fast path: already-ASCII is untouched
    // ø/đ/ł are letters, not base+mark compositions: folding them is
    // transliteration, out of scope — and DuckDB strip_accents agrees
    assert(r(2) == "ø đ ł")
    assert(r(3) == null)
  }

  test("vocabCoverage: hand-computed curve, tie blocks, k > |V| clamp") {
    // corpus: a×3, b×1, c×1 → blocks (c=3: 1 type, 3 toks), (c=1: 2, 2)
    val docs = Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
    val r = graft.ext.Audit.vocabCoverage(docs, "text", Seq(1L, 2L, 3L, 10L))
      .orderBy(col("k"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getDouble(4)))
    assert(r(0) == ((1L, 1L, 3L, 5L, 0.6)))
    // k=2 lands in the tied c=1 block: one of {b, c} — interchangeable
    // mass, so the curve is deterministic with NO tiebreak
    assert(r(1) == ((2L, 2L, 4L, 5L, 0.8)))
    assert(r(2) == ((3L, 3L, 5L, 5L, 1.0)))
    // k beyond the vocabulary clamps to |V|
    assert(r(3) == ((10L, 3L, 5L, 5L, 1.0)))
  }

  test("sketch store append: both crash windows of the tmp-write+swap recover") {
    // VERDICT r14 #5 — drive the append's two documented crash windows
    // end-to-end against readSketchStore, not just the happy path.
    val items = (0 until 3000).map(i => s"cw$i")
    def sk(xs: Seq[String]) = Sketch.hllSketch(
      xs.toDF("x").withColumn("g", lit("a")), Seq("g"), col("x"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val buildParams = Map("m" -> "256", "salt" -> "graft:hll")
    Sketch.writeSketchStore(sk(items.take(2000)), "fb_test_skcrash", "hll",
      buildParams, groupCols = Seq("g"))
    val oldEpoch = rows(Sketch.readSketchStore(spark, "fb_test_skcrash")._3)

    // CRASH WINDOW 1 — killed between the tmp write and the swap:
    // replicate the append's steps up to (and including) the tmp table,
    // then stop. The store must still serve the PRE-append epoch.
    val shard2 = sk(items.drop(1000))
    val merged = Sketch.hllMerge(
        spark.table("fb_test_skcrash_sketch").unionByName(shard2), Seq("g"))
      .localCheckpoint()
    graft.sources.IO.dropOrphanedLocation(spark, "fb_test_skcrash_sketch_tmp")
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable("fb_test_skcrash_sketch_tmp")
    assert(rows(Sketch.readSketchStore(spark, "fb_test_skcrash")._3) == oldEpoch,
      "a crash before the swap must leave the old epoch serving")
    // ... and RETRYING the append over the orphaned tmp table succeeds
    // (dropOrphanedLocation clears it) and lands exactly the union sketch
    Sketch.appendToSketchStore(shard2, "fb_test_skcrash", buildParams)
    assert(rows(Sketch.readSketchStore(spark, "fb_test_skcrash")._3) ==
      rows(sk(items)), "retried append must equal build-from-union")

    // CRASH WINDOW 2 — killed between the DROP and the RENAME: the store
    // has no <name>_sketch but the full merged result survives in tmp;
    // the documented recovery is ONE rename, never a rebuild.
    val epoch2 = rows(Sketch.readSketchStore(spark, "fb_test_skcrash")._3)
    spark.table("fb_test_skcrash_sketch").localCheckpoint()
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable("fb_test_skcrash_sketch_tmp")
    spark.sql("DROP TABLE fb_test_skcrash_sketch")
    intercept[Exception] { // the window is observable, not silent
      Sketch.readSketchStore(spark, "fb_test_skcrash")._3.collect()
    }
    spark.sql(
      "ALTER TABLE fb_test_skcrash_sketch_tmp RENAME TO fb_test_skcrash_sketch")
    assert(rows(Sketch.readSketchStore(spark, "fb_test_skcrash")._3) == epoch2,
      "the one-rename recovery must serve the merged epoch unchanged")
  }

  test("logHistSketch: bucket law, exact merge, quantile bounds at 2^-5") {
    val vals = (1 to 200).map(_.toLong) ++ Seq(1000L, 2000L, 4096L, 100000L)
    val df = vals.map(v => ("a", v)).toDF("g", "v")
    val sk = Sketch.logHistSketch(df, Seq("g"), col("v"), subBits = 5)
    // bucket law: lo is a multiple of w; w = 2^(floor(log2 lo) - 5) above
    // the exact range, 1 inside it
    sk.collect().foreach { r =>
      val lo = r.getAs[Long]("lo"); val w = r.getAs[Long]("w")
      assert(lo % w == 0, s"lo=$lo w=$w")
      if (lo >= 64) assert(w == (java.lang.Long.highestOneBit(lo) >> 5), s"lo=$lo w=$w")
      else assert(w == 1L, s"lo=$lo w=$w")
    }
    // merge law: shard sketches sum EXACTLY to the union sketch
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("lo"),
        r.getAs[Long]("w"), r.getAs[Long]("c"))).toSet
    val s1 = Sketch.logHistSketch(df.filter(col("v") % 2 === 0), Seq("g"), col("v"), 5)
    val s2 = Sketch.logHistSketch(df.filter(col("v") % 2 =!= 0), Seq("g"), col("v"), 5)
    assert(rows(Sketch.logHistMerge(s1.unionByName(s2), Seq("g"))) == rows(sk))
    // quantile bounds: the exact q-quantile lies in [est_lo, est_hi] and
    // the bucket width honors the 2^-5 relative-error budget
    val sorted = vals.sorted
    Sketch.logHistQuantiles(sk, Seq("g"), Seq(0.5, 0.9, 0.99)).collect()
      .foreach { r =>
        val q = r.getAs[Double]("q")
        val lo = r.getAs[Long]("est_lo"); val hi = r.getAs[Long]("est_hi")
        val exact = sorted(math.max(math.ceil(q * sorted.size).toInt, 1) - 1)
        assert(lo <= exact && exact <= hi, s"q=$q exact=$exact not in [$lo,$hi]")
        assert((hi - lo).toDouble <= lo.toDouble / 32, s"q=$q width at lo=$lo hi=$hi")
        assert(r.getAs[Long]("n") == vals.size)
      }
    // the store merges loghist shards exactly
    val lp = Map("subBits" -> "5")
    graft.sources.IO.dropOrphanedLocation(spark, "fb_test_lhstore_meta")
    graft.sources.IO.dropOrphanedLocation(spark, "fb_test_lhstore_sketch")
    Sketch.writeSketchStore(s1, "fb_test_lhstore", "loghist", lp, Seq("g"))
    Sketch.appendToSketchStore(s2, "fb_test_lhstore", lp)
    val (_, _, stored) = Sketch.readSketchStore(spark, "fb_test_lhstore")
    assert(rows(stored) == rows(sk))
  }

  test("bottomK: guarded survivors, exact merge law, resemblance tracks Jaccard") {
    // engineered overlap: A = tok0..2999, B = tok1500..4499 → J = 1/3
    val a = (0 until 3000).map(i => ("A", s"tok$i"))
    val b = (1500 until 4500).map(i => ("B", s"tok$i"))
    val df = (a ++ b).toDF("g", "tok")
    val sk = Sketch.bottomKSketch(df, Seq("g"), col("tok"), k = 256)
      .localCheckpoint()
    val perGroup = sk.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the HLL-guarded prefilter produced FULL sketches (a shortfall would
    // surface here as < k rows for a group with thousands of distincts)
    assert(perGroup == Map("A" -> 256L, "B" -> 256L), perGroup.toString)
    // merge law: the merged sketches ARE the union's true bottom-256
    val trueUnion = df.select(
        md5(concat(col("tok"), lit(":graft:bk"))).as("hv")).distinct()
      .orderBy(col("hv")).limit(256).collect().map(_.getString(0)).toSet
    val merged = Sketch.bottomKMerge(sk.withColumn("g", lit("u")), Seq("g"), 256)
      .collect().map(_.getAs[String]("hv")).toSet
    assert(merged == trueUnion)
    // resemblance: Ĵ within the k=256 sampling envelope of 1/3
    val res = Sketch.bottomKResemblance(sk, "g", 256).collect()
    assert(res.length == 1)
    val r0 = res.head
    assert(r0.getAs[String]("src_a") == "A" && r0.getAs[String]("src_b") == "B")
    assert(r0.getAs[Long]("union_k") == 256L)
    val j = r0.getAs[Double]("est_jaccard")
    assert(math.abs(j - 1.0 / 3) < 0.1, s"est_jaccard $j vs 1/3")
    // the store appends bottom-k shards exactly: half of A, then the rest
    val h1 = (0 until 3000 by 2).map(i => ("A", s"tok$i")).toDF("g", "tok")
    val h2 = (1 until 3000 by 2).map(i => ("A", s"tok$i")).toDF("g", "tok")
    val bp = Map("k" -> "256", "salt" -> "graft:bk")
    graft.sources.IO.dropOrphanedLocation(spark, "fb_test_bkstore_meta")
    graft.sources.IO.dropOrphanedLocation(spark, "fb_test_bkstore_sketch")
    Sketch.writeSketchStore(
      Sketch.bottomKSketch(h1, Seq("g"), col("tok"), 256), "fb_test_bkstore",
      "bottomk", bp, Seq("g"))
    Sketch.appendToSketchStore(
      Sketch.bottomKSketch(h2, Seq("g"), col("tok"), 256), "fb_test_bkstore", bp)
    val (_, _, st) = Sketch.readSketchStore(spark, "fb_test_bkstore")
    val trueA = a.toDF("g", "tok").select(
        md5(concat(col("tok"), lit(":graft:bk"))).as("hv")).distinct()
      .orderBy(col("hv")).limit(256).collect().map(_.getString(0)).toSet
    assert(st.collect().map(_.getAs[String]("hv")).toSet == trueA)
  }

  test("trimByLengthQuantiles: planted outliers cut, bulk kept, cut law exact") {
    def doc(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    // bulk at 90-110 tokens, one stub (3) and one monster (5000) per group
    val rows = (0 until 40).map(i => (i.toLong, "g1", doc(90 + i % 21))) ++
      Seq((100L, "g1", doc(3)), (101L, "g1", doc(5000)))
    val df = rows.toDF("id", "g", "text")
    val kept = Sketch.trimByLengthQuantiles(df, "text", "g",
      loQ = 0.05, hiQ = 0.95).collect()
    val ids = kept.map(_.getAs[Long]("id")).toSet
    assert(!ids.contains(100L) && !ids.contains(101L),
      s"outliers survived: $ids")
    assert(ids.size >= 36, s"over-trimmed: ${ids.size}") // >= 90% of the bulk
    // cut law: every kept count inside [lo_cut, hi_cut]; cuts equal the
    // driver-side replay of the bucket arithmetic at ceil(q·n)
    val n = rows.size
    def bucket(v: Long) = {
      val sh = math.max(64 - java.lang.Long.numberOfLeadingZeros(v) - 6, 0)
      ((v >> sh) << sh, 1L << sh)
    }
    val sorted = rows.map(_._3.split(" ").length.toLong).sorted
    def cut(q: Double, hi: Boolean) = {
      val t = math.max(math.ceil(q * n).toLong, 1L)
      val (lo, w) = bucket(sorted(t.toInt - 1))
      if (hi) lo + w - 1 else lo
    }
    kept.foreach { r =>
      assert(r.getAs[Long]("lo_cut") == cut(0.05, hi = false), r.toSeq)
      assert(r.getAs[Long]("hi_cut") == cut(0.95, hi = true), r.toSeq)
      val v = r.getAs[Long]("n_tokens")
      assert(v >= r.getAs[Long]("lo_cut") && v <= r.getAs[Long]("hi_cut"))
    }
  }

  test("weightedSample: exact k per group, weight bias, non-positive excluded") {
    val rows = (0 until 200).map(i => (i.toLong, "g", 1)) ++
      Seq((999L, "g", 10000), (998L, "g", 0), (997L, "g", -5))
    val df = rows.toDF("id", "g", "w")
    val got = Corpus.weightedSample(df, "id", "g", col("w"), k = 5).collect()
    assert(got.length == 5)
    val ids = got.map(_.getAs[Long]("id")).toSet
    // a 10000x weight makes the heavy row's key ~0 — top-5 w.h.p. (P[miss]
    // needs 5 of 200 unit draws above u = 0.996; deterministic md5 draws,
    // so this either holds forever or never)
    assert(ids.contains(999L), ids.toString)
    assert(!ids.contains(998L) && !ids.contains(997L),
      "non-positive weights must be excluded")
    // a group smaller than k returns all its positive-weight rows
    val small = Seq((1L, "h", 2), (2L, "h", 3)).toDF("id", "g", "w")
    assert(Corpus.weightedSample(small, "id", "g", col("w"), 5).count() == 2)
    // reproducible membership (md5 draws, not an RNG stream)
    val again = Corpus.weightedSample(df, "id", "g", col("w"), k = 5)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(again == ids)
  }

  test("winnowing: t-guarantee, disjoint isolation, density bound, match report") {
    // the paper's guarantee: a shared run of t = w + k - 1 = 7 tokens
    // yields at least one shared fingerprint (one full window sits wholly
    // inside the run in both docs)
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val df = Seq(
      (0L, "one two three four five " + shared + " six seven eight nine"),
      (1L, "uno dos tres cuatro cinco " + shared + " seis siete ocho nueve"),
      (2L, "wholly unrelated content talking about completely different things entirely"))
      .toDF("doc_id", "text")
    val fp = Spans.winnowFingerprints(df, "doc_id", "text")
    def fps(id: Long) = fp.filter(col("doc_id") === id)
      .select("fp").collect().map(_.getLong(0)).toSet
    val (f0, f1, f2) = (fps(0), fps(1), fps(2))
    assert((f0 & f1).nonEmpty, "t-token shared run produced no shared fingerprint")
    assert((f0 & f2).isEmpty && (f1 & f2).isEmpty, "disjoint docs share fingerprints")
    // density: expected 2/(w+1) = 0.4 of positions on hash-scrambled text
    val longText = (0 until 500).map(j =>
      s"z${math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s"d:$j"), 97)}")
      .mkString(" ")
    val nPos = 500 - 4 + 1
    val nFp = Spans.winnowFingerprints(
      Seq((9L, longText)).toDF("doc_id", "text"), "doc_id", "text").count()
    assert(nFp <= (0.55 * nPos).toLong, s"density too high: $nFp / $nPos")
    assert(nFp >= (0.25 * nPos).toLong, s"density too low: $nFp / $nPos")
    // the match report pairs exactly the overlapping docs
    val m = Spans.winnowMatches(df, "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m == Set((0L, 1L)), m.toString)
  }

  test("onboardingReport: the incoming feed points at its own source") {
    def doc(pfx: String, i: Int, n: Int = 40) =
      (0 until n).map(j => s"$pfx${(i * 17 + j) % 300}").mkString(" ")
    // two disjoint-vocabulary held sources; the incoming feed speaks sA's
    // vocabulary plus a few novel tokens
    val existing = ((0 until 30).map(i => ("sA", doc("a", i))) ++
      (0 until 30).map(i => ("sB", doc("b", i)))).toDF("source", "text")
    val incoming = (0 until 10).map(i => ("new", doc("a", i) + s" novel$i"))
      .toDF("source", "text")
    val toks = existing.select(col("source"),
        explode(TextStats.tokens(col("text"))).as("tok"))
      .localCheckpoint()
    Seq("fb_test_onb_hll", "fb_test_onb_bk", "fb_test_onb_lh").foreach { n =>
      graft.sources.IO.dropOrphanedLocation(spark, s"${n}_meta")
      graft.sources.IO.dropOrphanedLocation(spark, s"${n}_sketch")
    }
    Sketch.writeSketchStore(Sketch.hllSketch(toks, Seq("source"), col("tok")),
      "fb_test_onb_hll", "hll", Map("m" -> "256", "salt" -> "graft:hll"),
      Seq("source"))
    Sketch.writeSketchStore(
      Sketch.bottomKSketch(toks, Seq("source"), col("tok"), 256),
      "fb_test_onb_bk", "bottomk", Map("k" -> "256", "salt" -> "graft:bk"),
      Seq("source"))
    Sketch.writeSketchStore(
      Sketch.logHistSketch(existing, Seq("source"),
        size(TextStats.tokens(col("text"))), 5),
      "fb_test_onb_lh", "loghist", Map("subBits" -> "5"), Seq("source"))
    val rep = Sketch.onboardingReport(spark, "fb_test_onb_hll",
        "fb_test_onb_bk", "fb_test_onb_lh", incoming, "text")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(rep.keySet == Set("sA", "sB"))
    // resemblance and overlap both point at sA, not sB
    assert(rep("sA").getAs[Double]("est_jaccard") > 0.3,
      rep("sA").toSeq.toString)
    assert(rep("sB").getAs[Double]("est_jaccard") < 0.05,
      rep("sB").toSeq.toString)
    assert(rep("sA").getAs[Double]("est_inter") >
      rep("sB").getAs[Double]("est_inter"))
    // length quantiles: held docs are 40 tokens, incoming 41 — both exact
    // (inside the unit-width bucket range at subBits = 5)
    assert(rep("sA").getAs[Double]("p50_src") == 40.0)
    assert(rep("sA").getAs[Double]("p50_new") == 41.0)
  }

  test("crossEntropySelect: in-domain ranks first, cut exact, short docs excluded") {
    def inDoc(i: Int) = (0 until 30).map(j => s"in${(i + j) % 8}").mkString(" ")
    def outDoc(i: Int) = (0 until 30).map(j => s"out${(i * 3 + j) % 40}").mkString(" ")
    val docs = ((0 until 20).map(i => (i.toLong, inDoc(i))) ++
      (20 until 40).map(i => (i.toLong, outDoc(i))) :+ (40L, "solo"))
      .toDF("id", "text")
    val sel = Perplexity.crossEntropySelect(docs, "id", "text",
      inDomain = docs.filter(col("id") < 10), general = docs, keepFrac = 0.25)
    val rows = sel.collect()
    val selected = rows.filter(_.getAs[Boolean]("selected"))
      .map(_.getAs[Long]("id")).toSet
    // n_scored = 40 (the 1-token doc has no bigram) → keep = ceil(10) = 10,
    // and every winner speaks the in-domain vocabulary
    assert(selected.size == 10, s"selected $selected")
    assert(selected.forall(_ < 20), s"selected $selected")
    // the cross-entropy DIFFERENCE separates the domains strictly
    def ms(p: Long => Boolean) = rows
      .filter(r => p(r.getAs[Long]("id")) && !r.isNullAt(r.fieldIndex("ml_score")))
      .map(_.getAs[Double]("ml_score"))
    assert(ms(i => i < 20).max < ms(i => i >= 20 && i < 40).min)
    // unscorable docs carry null scores and are never selected
    val solo = rows.find(_.getAs[Long]("id") == 40L).get
    assert(solo.isNullAt(solo.fieldIndex("ml_score")))
    assert(!solo.getAs[Boolean]("selected"))
    assert(solo.getAs[Long]("ml_grams") == 0L)
  }

  test("refinedWebFate: the first responsible stage claims each drop") {
    // one handcrafted doc per fate: every stage of the composed pipeline
    // must claim exactly the doc built to die there, and nothing else.
    def mkText(seed: Int, words: Int = 64): String = {
      val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
        "eta", "theta", "iota", "kappa", "lambda", "mu", "omega", "sigma",
        "tau", "phi")
      val toks = (0 until words).map(w => vocab((seed * 7 + w * 3) % vocab.size))
      toks.grouped(8).map(_.mkString(" ") + ".").mkString("\n") +
        "\nthat is all we have with the data."
    }
    def vec(hot: Int): Array[Float] = {
      val v = new Array[Float](64); v(hot % 64) = 1f; v
    }
    val rows = Seq(
      (0L, "http://ok.com/p1", mkText(1), 10L, vec(0)),
      // same canonical URL as id 0, lower score -> url_dedup
      (1L, "https://www.ok.com/p1/", mkText(2), 5L, vec(1)),
      (2L, "http://bad.com/x", mkText(3), 10L, vec(2)), // blocklist -> url_rules
      (3L, "http://ok.com/p3", mkText(4) + "\nlorem ipsum tail.", 10L, vec(3)), // c4
      // passes C4 (3 clean sentences) but only 18 words -> gopher
      (4L, "http://ok.com/p4",
        "one two three four five six.\nseven eight nine ten eleven twelve.\n" +
          "just a few more words here.", 10L, vec(4)),
      (5L, "http://ok.com/p5", mkText(6), 10L, vec(5)), // kept
      (6L, "http://ok.com/p6", mkText(6), 10L, vec(6)), // exact dup of 5
      // one token changed out of 72 -> Jaccard ~0.9 near-dup of 5
      (7L, "http://ok.com/p7", mkText(6).replaceFirst("alpha", "alphax"),
        10L, vec(7)),
      // textual stranger sharing id 5's embedding -> semantic
      (8L, "http://ok.com/p8", mkText(9), 10L, vec(5))
    ).toDF("id", "url", "text", "score", "emb")
    val fate = Crawl.refinedWebFate(rows, "id", "url", "text", "score",
        "emb", blockedDomains = Seq("bad.com"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fate == Map(0L -> "kept", 1L -> "url_dedup", 2L -> "url_rules",
      3L -> "c4", 4L -> "gopher", 5L -> "kept", 6L -> "exact",
      7L -> "neardup", 8L -> "semantic"), s"got $fate")
  }

  test("persisted IVF-PQ: frozen-codebook append equals build-from-scratch") {
    // codebooks + pivots train once on the base (ids < 300, which contains
    // the 16 smallest-id pivots and the < 64 train slice); the appended
    // shard encodes under the frozen model — serving the union must be
    // row-identical to ivfPqTopK built on everything at once.
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    Quantize.buildIvfPqIndex(e.filter(col("vec_id") < 300), "vec_id",
      "embedding", "graft_test_ivfpq", nCells = 16, buckets = 4, m = 8,
      ksub = 16, train = e.filter(col("vec_id") < 64), kmeansIters = 1,
      residual = true)
    Quantize.appendToIvfPqIndex(spark, "graft_test_ivfpq",
      e.filter(col("vec_id") >= 300), "vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
    val served = Quantize.ivfPqTopKIndexed(spark, "graft_test_ivfpq", q,
        "vec_id", "embedding", topK = 5, nProbe = 4)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    val scratch = Quantize.ivfPqTopK(e, q, "vec_id", "embedding", topK = 5,
        nCells = 16, nProbe = 4, m = 8, ksub = 16,
        train = e.filter(col("vec_id") < 64), kmeansIters = 1,
        residual = true)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    assert(served == scratch,
      s"append-then-serve diverged from build-from-scratch")
    // meta table froze the encode contract
    val meta = spark.table("graft_test_ivfpq_pq_meta").head()
    assert(meta.getBoolean(meta.fieldIndex("residual")))
  }

  test("histogram-CDF operators plan no partitionless window (scale guard)") {
    // the three fraction-cut operators (perplexityBuckets, dsirSelect,
    // filterByNormBand) route their cumulative histogram counts through
    // Corpus.prefixSum; a Window with an EMPTY partitionSpec anywhere in
    // that plan would collapse the distinct-value histogram to one task —
    // the r11-verdict scale finding this guards against.
    def partitionlessWindows(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }.size
    val hist = Seq((1.5, 3L), (0.5, 2L), (2.5, 1L)).toDF("v", "__c")
    val cum = Corpus.prefixSum(hist, "v", "__c", "__cum")
    assert(partitionlessWindows(cum) == 0, "prefixSum must not plan a global window")
    assert(cum.orderBy("v").collect().map(r => (r.getDouble(0), r.getLong(2))).toSeq
      == Seq((0.5, 2L), (1.5, 5L), (2.5, 6L)))
    // end-to-end: the three operators still produce the pinned results
    // (their oracles q95/q94/q114 hash-pin values at sf0.01; here a quick
    // shape check that the rewrite kept semantics on a tiny fixture)
    val vecs = (0 until 10).map(i =>
      (i.toLong, Array.fill(4)(1.0f + i))).toDF("id", "emb")
    val kept = Similarity.filterByNormBand(vecs, "id", "emb",
      dropLowFrac = 0.2, dropHighFrac = 0.2)
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq == (2L to 7L))
  }

  test("leakFreeSplit: a near-dup cluster never straddles splits; singletons reduce to hashSplit") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val out = Corpus.leakFreeSplit(docs, "doc_id", pairs)
      .select("doc_id", "cluster", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // components: {1,2,3} -> rep 1, {5,6} -> rep 5; 4 is a singleton
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(out(5L)._1 == 5L && out(6L)._1 == 5L && out(4L)._1 == 4L)
    assert(out(1L)._2 == out(2L)._2 && out(2L)._2 == out(3L)._2)
    assert(out(5L)._2 == out(6L)._2)
    // cluster members get the REPRESENTATIVE's plain-hashSplit assignment;
    // the singleton gets its own
    val plain = Corpus.hashSplit(docs, "doc_id").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(3L)._2 == plain(1L) && out(6L)._2 == plain(5L))
    assert(out(4L)._2 == plain(4L))
  }

  test("softDedupWeights: clusters downweight to unit mass, singletons keep 1.0") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val out = Dedup.softDedupWeights(docs, "doc_id", pairs)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Long]("n_copies"),
          r.getAs[Double]("weight")))).toMap
    assert(out(1L) == ((1L, 3L, 0.333333)) && out(2L) == ((1L, 3L, 0.333333))
      && out(3L) == ((1L, 3L, 0.333333)))
    assert(out(4L) == ((4L, 1L, 1.0)))
    assert(out(5L) == ((5L, 2L, 0.5)) && out(6L) == ((5L, 2L, 0.5)))
    // every cluster's total mass is exactly one document (up to rounding)
    val mass = out.values.groupBy(_._1).map(_._2.map(_._3).sum)
    assert(mass.forall(m => math.abs(m - 1.0) < 1e-5))
  }

  test("htmlToText: script/style/comment subtrees, one-pass entity order, null") {
    val rows = Seq(
      (1L, "<html><body><p>a&amp;b</p><script>var x=\"<p>no</p>\";</script></body></html>"),
      (2L, "<style>p{}</style>Hello <b>world</b><!-- hidden -->"),
      (3L, "&amp;lt; stays"), // &amp; decodes LAST: never double-decodes to <
      (4L, "plain text, no markup"),
      (5L, null.asInstanceOf[String])
    ).toDF("id", "html")
    val out = rows.select(col("id"), Corpus.htmlToText(col("html")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a&b")
    assert(out(2L) == "Hello world")
    assert(out(3L) == "&lt; stays")
    assert(out(4L) == "plain text, no markup")
    assert(out(5L) == "")
  }

  test("hostRank: hand-computed single damped round; duplicate edges collapse") {
    // A -> B, B -> A, B -> C (C dangling). N = 3, r0 = 333333 micro-units;
    // one duplicated edge must not double B's contribution to A.
    val g = Seq(("A", "B"), ("B", "A"), ("B", "C"), ("B", "A"))
      .toDF("src", "dst")
    val r1 = Urls.hostRank(g, iters = 1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // dang = r(C) = 333333, redis = 111111; base = (15*10000)/3 = 50000;
    // B fans 333333 div 2 = 166666 to each of A and C; A sends B 333333
    def exp(in: Long) = (50000L + (85L * (in + 111111L)) / 100L).toDouble / 1e6
    assert(r1("A") == ((1L, exp(166666L))))
    assert(r1("B") == ((2L, exp(333333L))))
    assert(r1("C") == ((0L, exp(166666L))))
    // 3 rounds: the doubly-linked hub B stays on top; mass stays bounded
    val r3 = Urls.hostRank(g, iters = 3).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(r3("B") > r3("A") && r3("B") > r3("C"))
    assert(r3.values.sum > 0.9 && r3.values.sum <= 1.000001)
    assert(r3 == Urls.hostRank(g.repartition(5), iters = 3).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap)
  }

  test("library broadcasts follow spark.sql.autoBroadcastJoinThreshold in bytes") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec}
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(3f, 4f)),
      (3L, Array(0f, 2f)), (4L, Array(6f, 8f))).toDF("id", "v")
    val scored = Seq((1L, Some(0.5)), (2L, Some(0.5)), (3L, Some(1.5)),
      (4L, None), (5L, Some(2.5))).toDF("id", "nll_mean")
    // each operator's size-routed join, named by its join type: the hot-gram
    // anti-join (maxDocFreq = 1 makes every shared shingle hot), the norm
    // band's semi-join and the tercile labels' outer join
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "LeftAnti" -> (() => Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        minJaccard = 0.4, maxDocFreq = Some(1))),
      "LeftSemi" -> (() => Similarity.filterByNormBand(vecs, "id", "v",
        dropLowFrac = 0.25)),
      "LeftOuter" -> (() => Perplexity.perplexityBuckets(scored)))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val atDefault = ops.map { case (jt, op) =>
      val df = op()
      val plan = df.queryExecution.sparkPlan
      assert(plan.collect { case j: BroadcastHashJoinExec => j.joinType.toString }
        .contains(jt), s"$jt join not broadcast at the default threshold:\n$plan")
      rows(df)
    }
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
      ops.zip(atDefault).foreach { case ((jt, op), expected) =>
        val df = op()
        val plan = df.queryExecution.sparkPlan
        val bc = plan.collect {
          case j: BroadcastHashJoinExec => j
          case j: BroadcastNestedLoopJoinExec => j
        }
        assert(bc.isEmpty, s"$jt: broadcast above a 16-byte threshold:\n$plan")
        assert(rows(df) == expected, s"$jt: rows changed with the threshold")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }
}
