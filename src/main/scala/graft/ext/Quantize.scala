package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Int8 scalar quantization for embedding columns — the storage/bandwidth
  * path for similarity search at corpus scale: a 64-dim float32 vector is
  * 256 bytes; quantized it is 64 bytes + one float scale, a 4× cut in scan
  * I/O and shuffle width for candidate generation, with the full-precision
  * vectors touched only for final re-ranking (or not at all when the
  * quantized ranking suffices). (Beyond the reference surface; required by
  * the build brief's similarity-search scale path.)
  *
  * Determinism: quantization is symmetric per-vector max-abs scaling —
  * `q_i = round(v_i / (max|v| / 127))` — so every quantized component is an
  * integer in [−127, 127], quantized dot products and norms are EXACT integer
  * arithmetic, and quantized cosines are bit-reproducible across engines and
  * partition orders (the one sqrt/divide happens on exact integer inputs,
  * then rounds to 6 dp). That exactness is what lets the DuckDB oracle mirror
  * the whole quantized-ANN pipeline (q56) value-for-value.
  */
object Quantize {

  /** Per-vector symmetric int8 quantization: (id, q: array<tinyint>, scale).
    * `scale = max|v|/127`; a zero vector quantizes to zeros with scale 0.
    * Pure projection — zero shuffle, embarrassingly parallel. Reconstruction
    * is `q_i · scale` with relative L2 error ≤ ~0.5/127 per component
    * (spec-asserted < 1% on the fixture corpus). */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = Similarity.toDouble(col(vecCol))
    df.select(col(idCol).as("id"), v.as("__v"))
      .withColumn("scale",
        aggregate(col("__v"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
      .withColumn("q",
        when(col("scale") > 0,
          transform(col("__v"), x => round(x / col("scale")).cast("tinyint")))
          .otherwise(transform(col("__v"), _ => lit(0).cast("tinyint"))))
      .select(col("id"), col("q"), col("scale"))
  }

  /** Brute-force top-k by QUANTIZED cosine: `dot(q_a, q_b) / (|q_a|·|q_b|)`
    * — scale factors cancel, so the ranking needs only the int8 vectors.
    * Same plan shape as [[Similarity.annTopK]] (small query side broadcast,
    * one corpus scan, per-query window rank) but the scan reads the 4×
    * narrower quantized column. The int8 components are carried as floats
    * (every value in [−127,127] is exact in float32) so the dot product runs
    * through the codegen'd [[graft.funcs.DotProductFloat]] loop; products and
    * sums stay ≤ 2²⁰, far inside double's exact-integer range, so
    * `qcos_sim` is deterministic. */
  def annTopKQuantized(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, topK: Int): DataFrame = {
    def preparedQ(df: DataFrame) =
      quantize(df, idCol, vecCol)
        .withColumn("qf", transform(col("q"), _.cast("float")))
        .withColumn("qn",
          sqrt(graft.funcs.VectorFunctions.dotF(col("qf"), col("qf"))))
        .select(col("id"), col("qf"), col("qn"))
    val c = preparedQ(corpus)
    val q = preparedQ(queries)
      .select(col("id").as("qid"), col("qf").as("qqf"), col("qn").as("qqn"))
    val qcos = round(graft.funcs.VectorFunctions.dotF(col("qqf"), col("qf")) /
      (col("qqn") * col("qn")), 6)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("qcos_sim").desc, col("neighbor_id"))
    c.crossJoin(q)
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("neighbor_id"), qcos.as("qcos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  // ---- product quantization (Jégou, Douze, Schmid 2011) ----------------

  /** PQ codebooks: split the vector into `m` equal subspaces and give each
    * subspace a `ksub`-entry codebook — here the DETERMINISTIC first-K
    * codebook (the `ksub` distinct subvectors with the lowest ids, code
    * order by that id), the same reproducibility-over-quality trade as the
    * first-K IVF pivots (q42); real deployments pass a sampled `train`
    * slice, and the codebook is model-sized (m·ksub rows) either way.
    * Returns (sub, code, cent). The distinct-subvector aggregate runs over
    * the TRAIN slice only — train on a sample, never the corpus. */
  def pqCodebooks(train: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ksub >= 1, s"ksub must be >= 1, got $ksub")
    val first = train.select(size(col(vecCol))).take(1)
    require(first.nonEmpty, "pqCodebooks needs a non-empty train slice")
    val dim = first.head.getInt(0)
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val w = Window.partitionBy(col("sub")).orderBy(col("mid"))
    train
      .select(col(idCol).as("id"), Similarity.toDouble(col(vecCol)).as("__v"))
      .select(col("id"), explode(transform(sequence(lit(0), lit(m - 1)),
        s => struct(s.as("sub"), slice(col("__v"), s * dsub + 1, lit(dsub)).as("sv"))))
        .as("e"))
      .select(col("id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .groupBy(col("sub"), col("sv")).agg(min(col("id")).as("mid"))
      .withColumn("code", row_number().over(w) - 1)
      .filter(col("code") < ksub)
      .select(col("sub"), col("code"), col("sv").as("cent"))
  }

  /** K-MEANS-trained PQ codebooks (the paper's actual recipe — Lloyd per
    * subspace) seeded from [[pqCodebooks]]'s deterministic first-K set, so
    * `iters = 0` degrades to exactly the first-K codebook. Each iteration:
    * assign every TRAIN subvector to its nearest centroid (6-dp-rounded
    * in-order squared L2, lowest code on ties — the same argmin contract as
    * [[pqEncode]]), then recompute each centroid as the per-dimension mean
    * of its members in FIXED-POINT: components quantize to the 1e-6 grid
    * before the sum, so the per-(sub, code, dim) totals are exact integers
    * (associative — partition order cannot change them) and the new
    * centroid `(Σq/10⁶)/n` is a deterministic double chain both engines
    * replay verbatim ([[Similarity.kmeansCentroids]]'s discipline; the
    * q103/q104 oracles re-derive the full iteration in SQL). Empty cells
    * keep their centroid. Driver state per iteration: m·ksub·dsub rows —
    * model-sized, never corpus-sized; the subvector table is materialized
    * once and rescanned per iteration.
    *
    * Better recall than first-K at the same (m, ksub) because centroids
    * move to the train distribution's density centers instead of sitting on
    * arbitrary early vectors — the r11-verdict item this closes. */
  def pqCodebooksKmeans(train: DataFrame, idCol: String, vecCol: String,
                        m: Int, ksub: Int, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = train.sparkSession
    import spark.implicits._
    val init = pqCodebooks(train, idCol, vecCol, m, ksub)
    if (iters == 0) return init
    val dim = train.select(size(col(vecCol))).head().getInt(0)
    val dsub = dim / m
    // (sub, sv) rows of the train slice — the per-iteration scan
    val svs = train.select(Similarity.toDouble(col(vecCol)).as("__v"))
      .select(explode(transform(sequence(lit(0), lit(m - 1)),
        s => struct(s.as("sub"), slice(col("__v"), s * dsub + 1, lit(dsub)).as("sv"))))
        .as("e"))
      .select(col("e.sub").as("sub"), col("e.sv").as("sv"))
      .transform(Checkpoint.materialize)
    var cent: Map[(Int, Int), Seq[Double]] = init.collect().map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    for (_ <- 1 to iters) {
      // per-sub code-ordered centroid arrays, broadcast to the assignment
      val cbDf = cent.toSeq.sortBy(_._1)
        .map { case ((s, c), v) => (s, c, v) }.toDF("sub", "code", "cent")
      val packedPerSub = cbDf.groupBy(col("sub"))
        .agg(transform(array_sort(collect_list(struct(col("code"), col("cent")))),
          s => s("cent")).as("cents"))
      // per-row argmin (pqEncode's fold: strictly-smaller replaces, so the
      // lowest code wins rounded-distance ties), then exact integer sums of
      // the 1e-6-quantized member components per (sub, code, dim)
      val assigned = svs.join(packedPerSub, Seq("sub"))
        .select(col("sub"), col("sv"),
          aggregate(sequence(lit(0), size(col("cents")) - 1),
            struct(lit(Double.MaxValue).as("d"), lit(-1).as("c")),
            (acc, ci) =>
              when(round(d2(col("sv"), element_at(col("cents"), ci + 1)), 6) < acc("d"),
                struct(round(d2(col("sv"), element_at(col("cents"), ci + 1)), 6).as("d"),
                  ci.as("c")))
                .otherwise(acc))
            .getField("c").as("code"))
      val sums = assigned
        .select(col("sub"), col("code"),
          posexplode(transform(col("sv"),
            x => floor(x * 1000000.0).cast("long"))).as(Seq("d", "q")))
        .groupBy(col("sub"), col("code"), col("d"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      cent = cent.map { case (key, old) =>
        byCell.get(key) match {
          case Some(rows) =>
            val next = old.toArray
            // exact-integer sum → the deterministic double chain the
            // oracle mirrors: (Σq / 1e6) / n
            rows.foreach(r =>
              next(r.getInt(2)) = r.getLong(3).toDouble / 1000000.0 / r.getLong(4))
            key -> next.toSeq
          case None => key -> old // empty cell keeps its centroid
        }
      }
    }
    cent.toSeq.sortBy(_._1).map { case ((s, c), v) => (s, c, v) }
      .toDF("sub", "code", "cent")
  }

  // ---- OPQ-style subspace allocation (Ge, He, Ke, Sun 2013) ------------

  /** OPQ-parametric-style learned DIMENSION PERMUTATION for the PQ
    * subspace split (Ge et al. 2013, "Optimized Product Quantization for
    * Approximate Nearest Neighbor Search", CVPR — §4's principle: balance
    * the information across subspaces so no codebook is starved while
    * another is overwhelmed). Documented deviation: the paper's
    * non-parametric OPQ learns an arbitrary orthonormal R by alternating
    * SVD; a permutation is the deterministic subset of rotations (it
    * reorders coordinates instead of mixing them), learned here by the
    * paper's own balancing rule — greedy eigenvalue (variance) allocation:
    * walk dimensions in descending variance order, assign each to the
    * non-full subspace with the smallest variance log-product so far
    * (lowest subspace index on ties). Per-dimension variances are the
    * exact integer numerators n·Σq² − (Σq)² over 1e-6-quantized
    * components (decimal sums — no overflow, no shuffle-order float
    * drift), so the ordering and therefore the permutation are
    * bit-reproducible run to run.
    *
    * Scale shape: ONE aggregate over the train slice → dim rows collected
    * (model-sized); the greedy allocation is O(dim·m) driver work.
    * Returns perm with perm(newPos) = oldPos (0-based); new position p
    * lands in subspace p / dsub. */
  def opqPermutation(train: DataFrame, idCol: String, vecCol: String,
                     m: Int): Array[Int] = {
    require(m >= 1, s"m must be >= 1, got $m")
    val rows = train
      .select(posexplode(transform(Similarity.toDouble(col(vecCol)),
        x => floor(x * 1000000.0).cast("long"))).as(Seq("d", "q")))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("s"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("ss"))
      .collect()
    require(rows.nonEmpty, "opqPermutation needs a non-empty train slice")
    val dim = rows.length
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val logVar = new Array[Double](dim)
    rows.foreach { r =>
      val n = BigDecimal(r.getLong(1))
      val s = BigDecimal(r.getDecimal(2))
      val ss = BigDecimal(r.getDecimal(3))
      val num = n * ss - s * s // ∝ variance, exact integer
      // log1p keeps zero-variance dims finite; monotone, so the exact
      // integer ordering is preserved
      logVar(r.getInt(0)) = math.log1p(num.toDouble)
    }
    val order = (0 until dim).sortBy(d => (-logVar(d), d))
    val fill = new Array[Int](m)
    val acc = new Array[Double](m)
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.foreach { d =>
      val s = (0 until m).filter(fill(_) < dsub).minBy(i => (acc(i), i))
      buckets(s) += d; fill(s) += 1; acc(s) += logVar(d)
    }
    // canonical layout: dims ascending within each subspace (the split is
    // order-insensitive inside a subspace)
    buckets.flatMap(_.sorted.toArray)
  }

  /** Apply an [[opqPermutation]] to a vector column: x′ = R·x where R is
    * the permutation matrix — dim array lookups, the input bound once
    * (HOF-no-CSE discipline). */
  def permute(vec: Column, perm: Array[Int]): Column =
    TextStats.bound(Similarity.toDouble(vec)) { v =>
      array(perm.map(i => element_at(v, i + 1)): _*) }

  /** Codebooks collected to the driver as `cb(sub)(code) = cent` — the
    * payload of the codegen'd [[graft.funcs.PqEncodeCodes]] expression.
    * Model-sized by construction (m·ksub rows — the same bound that lets
    * the Lloyd trainer hold them in a driver map), so the collect is the
    * same order of driver state the family already carries. */
  private def collectCodebooks(cb: DataFrame): Array[Array[Array[Double]]] = {
    val rows = cb
      .select(col("sub").cast("int"), col("code").cast("int"), col("cent"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "empty PQ codebooks")
    val out = new Array[Array[Array[Double]]](rows.map(_._1).max + 1)
    rows.groupBy(_._1).foreach { case (s, rs) =>
      // codes are contiguous 0..k−1 by construction (row_number − 1)
      out(s) = rs.sortBy(_._2).map(_._3)
    }
    out
  }

  /** The vector column in the element type the codegen'd expressions read
    * (float/double pass through; anything else casts once — Cast over
    * arrays is codegen'd, unlike the per-element `transform` cast). */
  private def vecExpr(df: DataFrame, vecCol: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => col(vecCol)
      case _ => col(vecCol).cast("array<double>")
    }
  }

  /** Codebooks packed to ONE broadcastable row: `cb[sub][code] = cent`
    * (sub- and code-ordered nested arrays) — the shape the query-side ADC
    * table lambda indexes into. */
  private def packCodebooks(cb: DataFrame): DataFrame =
    cb.groupBy(col("sub"))
      .agg(transform(array_sort(collect_list(struct(col("code"), col("cent")))),
        s => s("cent")).as("cents"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cents")))),
        s => s("cents")).as("cb"))

  /** Squared L2 between two same-length arrays, folded in dimension order
    * (deterministic; the oracle replays the identical in-order sum). */
  private def d2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** The paper's ADC distance TABLE: for one query vector `qv` and the
    * packed codebook `cb`, `qtab[s][c] = ‖qv_s − cent(s, c)‖²` — m·ksub
    * subspace distances computed ONCE per query, so the per-pair ADC
    * distance collapses to m array lookups instead of m·dsub
    * multiply-adds (at the suite's m=8/dsub=8 an 8× cut in the scan's
    * inner loop). Entries are the exact same in-order [[d2]] folds the
    * direct formulation computes and [[graft.funcs.AdcLookupSum]] sums them in the same
    * subspace order, so results are BIT-IDENTICAL — the oracles never see
    * the difference. */
  private def adcQueryTable(qv: Column, cb: Column): Column =
    transform(sequence(lit(0), size(cb) - 1), s => {
      val cents = element_at(cb, s + 1)
      val dsub = size(element_at(cents, 1))
      transform(cents, c => d2(slice(qv, s * dsub + 1, dsub), c))
    })

  // (the interpreted adcDistance fold was replaced by the codegen'd
  // graft.funcs.AdcLookupSum — OPT r20; same subspace-ordered sum)

  /** PQ encode: each vector becomes `m` small codes — with `ksub` ≤ 256
    * that is m bytes instead of 4·dim, the 32× storage cut that makes
    * exhaustive ADC scans affordable at corpus scale. Zero shuffle: the
    * codebooks ride inside the codegen'd [[graft.funcs.PqEncodeCodes]]
    * expression and the argmin (rounded 6 dp subspace distance, lowest
    * code on ties) is one tight primitive loop per row — OPT r20: the
    * previous higher-order-function fold was CodegenFallback, interpreting
    * m·ksub lambdas and allocating m·ksub zipped arrays per corpus row.
    * Bit-identical outputs (same in-order d2 sums, same HALF_UP 6-dp
    * rounding, same strict-less/lowest-code tie-break; spec-pinned).
    * Returns (id, codes: array<int>). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame): DataFrame = {
    val cb = collectCodebooks(codebooks)
    corpus.select(col(idCol).as("id"),
      graft.funcs.VectorFunctions.pqEncodeCodes(vecExpr(corpus, vecCol), cb)
        .as("codes"))
  }

  /** PQ asymmetric-distance top-k (the paper's ADC): the corpus is scanned
    * as codes only; each query keeps its RAW subvectors and the distance is
    * the subspace-ordered sum of query-subvector-to-centroid squared
    * distances. Returns (qid, neighbor_id, adc_dist, rank 1..topK) ranked
    * by (rounded distance asc, neighbor id). `train` defaults to the corpus
    * — pass a sample slice at scale (see [[pqCodebooks]]).
    *
    * Scale shape: codebook is model-sized and broadcast; the corpus is one
    * scan of the 32×-narrower code column; queries broadcast WITH their
    * precomputed m·ksub ADC distance tables ([[adcQueryTable]] — the
    * paper's production layout), so the scan's inner loop is m array
    * lookups per pair, never a recomputed subspace distance; the only
    * shuffle is the per-query rank window. */
  def pqTopK(corpus0: DataFrame, queries0: DataFrame, idCol: String,
             vecCol: String, m: Int = 8, ksub: Int = 16, topK: Int = 10,
             train: DataFrame = null, kmeansIters: Int = 0,
             opq: Boolean = false): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // OPQ: permute every vector into the balanced-subspace basis before
    // the split. A permutation preserves L2 exactly, so the ADC ranking
    // contract is unchanged — only the quantizer (and its error) moves.
    val trainDf0 = if (train == null) corpus0 else train
    val perm = if (opq) opqPermutation(trainDf0, idCol, vecCol, m) else null
    def prep(df: DataFrame): DataFrame =
      if (perm == null) df
      else df.select(col(idCol), permute(col(vecCol), perm).as(vecCol))
    val corpus = prep(corpus0); val queries = prep(queries0)
    val cbs = pqCodebooksKmeans(prep(trainDf0),
      idCol, vecCol, m, ksub, kmeansIters)
      .transform(Checkpoint.materialize) // model-sized; feeds the encode AND the ADC scan
    val enc = pqEncode(corpus, idCol, vecCol, cbs)
    // per-query ADC distance table (m·ksub entries), computed once on the
    // broadcast-sized query side — the corpus scan then pays m lookups per
    // pair, never touching raw subvectors or centroids
    val q = queries.select(col(idCol).as("qid"),
        Similarity.toDouble(col(vecCol)).as("qv"))
      .crossJoin(packCodebooks(cbs))
      .select(col("qid"), adcQueryTable(col("qv"), col("cb")).as("qtab"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    enc.crossJoin(Broadcast.small(q))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("neighbor_id"),
        round(graft.funcs.VectorFunctions.adcSum(col("qtab"), col("codes")),
          6).as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** IVF-PQ (the paper's IVFADC, the canonical billion-scale ANN layout):
    * coarse L2 cells route each query to `nProbe` candidate cells via an
    * EQUI-JOIN on the cell key — candidate generation never cross-joins the
    * corpus — and the ADC re-rank inside the probed cells reads codes only.
    * Flat-codebook variant by default: codes quantize the vectors
    * themselves rather than the per-cell residuals, so ONE shared codebook
    * serves every cell (no per-cell codebook broadcast, simpler persisted
    * layout) at some accuracy cost vs residual PQ — the standard
    * flat-PQ-with-IVF-routing trade. `residual = true` switches to the
    * paper's actual IVFADC: codes quantize `v − centroid(cell)` and each
    * query probes with ITS residual against the probed cell. On CLUSTERED
    * corpora (real embeddings cluster — the regime IVF routing itself
    * assumes) residuals concentrate near zero, so the same (m, ksub)
    * budget quantizes far finer than flat codes (spec asserts strictly
    * lower SSE on a 16-cluster fixture); on an ISOTROPIC corpus the
    * residual carries the pivot's energy too (‖v − c‖² ≈ ‖v‖² + ‖c‖²
    * for near-orthogonal directions) and flat codes win — pick by corpus
    * shape, the documented trade. Still ONE shared
    * codebook (trained on residuals), so the persisted layout and the
    * scale shape are unchanged — the residual subtraction is a broadcast
    * pivot join, exact IEEE arithmetic, SQL-replayable (q130's oracle).
    * Cells are the deterministic smallest-id pivots (the q42/IVF
    * contract); assignment = min rounded L2, pid tiebreak.
    * Returns (qid, neighbor_id, adc_dist, rank). */
  def ivfPqTopK(corpus0: DataFrame, queries0: DataFrame, idCol: String,
                vecCol: String, topK: Int = 10, nCells: Int = 16,
                nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
                train: DataFrame = null, kmeansIters: Int = 0,
                residual: Boolean = false,
                opq: Boolean = false): DataFrame = {
    require(topK >= 1 && nCells >= 1 && nProbe >= 1,
      s"topK/nCells/nProbe must be >= 1, got $topK/$nCells/$nProbe")
    // OPQ basis change up front: a permutation preserves every L2 distance,
    // so cell routing is IDENTICAL to the unpermuted index — only the PQ
    // split (flat or residual) sees the balanced subspaces.
    val perm =
      if (opq) opqPermutation(if (train == null) corpus0 else train,
        idCol, vecCol, m)
      else null
    def prep(df: DataFrame): DataFrame =
      if (perm == null) df
      else df.select(col(idCol), permute(col(vecCol), perm).as(vecCol))
    val corpus = prep(corpus0); val queries = prep(queries0)
    val train0 = if (train == null) null else prep(train)
    val (piv, cbs, assigned) =
      ivfPqParts(corpus, idCol, vecCol, nCells, m, ksub, train0,
        kmeansIters, residual)
    ivfPqProbeRank(assigned, queries, idCol, vecCol, piv, cbs,
      topK, nProbe, residual)
  }

  /** Nearest `keep` coarse cells by rounded L2 (pid tiebreak) — the shared
    * IVF routing step of the PQ family. Input/output carry (id, v[, pv]).
    *
    * OPT r20, corpus side (keep = 1, integral pid): a codegen'd per-row
    * argmin over the collected (model-sized) pivot table
    * ([[graft.funcs.NearestPivotIdx]]) — assignment is row-local, so the
    * old crossJoin + min_by shape paid an n·K intermediate AND a full
    * corpus shuffle through the winner aggregate for a pure projection's
    * worth of work (guide §2.4: remove shuffles outright). Ascending-pid
    * iteration with strict-less replacement reproduces the min_by
    * struct(__dd, pid) tie-break exactly; same 6-dp HALF_UP rounding.
    * Non-integral pid types (no in-repo caller) keep the aggregate path —
    * driver-side sorting would have to reproduce the engine's collation.
    *
    * Both paths give the same answer on malformed input: an empty pivot set
    * yields no rows (the fast path hands it to the crossJoin path), and a
    * row whose distances are all NaN or infinite is assigned the smallest
    * pid (NaN sorts above every number, ties keep the smaller pid). A null
    * vector, or one of the wrong length or with a null element, has no
    * nearest cell: the fast path returns it with null `cell` and `pv`
    * (the crossJoin path's pick there is an artifact of nulls sorting
    * first, not a distance). */
  private[graft] def nearestCellsPq(df: DataFrame, piv: DataFrame,
                                    keep: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val pidIntegral = piv.schema("pid").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val rows =
      if (keep == 1 && pidIntegral)
        piv.select(col("pid"), col("pv")).collect()
          .sortBy(r => r.get(0) match { case n: java.lang.Number => n.longValue })
      else Array.empty[org.apache.spark.sql.Row]
    if (rows.nonEmpty) {
      val pvs = rows.map(_.getSeq[Double](1).toArray)
      val pidArr = array(rows.map(r => lit(r.get(0))): _*)
      val pvArr = array(pvs.map(a => lit(a)): _*)
      // the index lands in its own projection so the two lookups below
      // share ONE argmin evaluation (CollapseProject does not inline
      // non-cheap expressions into multiple uses). `get`, not `element_at`:
      // under ANSI, element_at declares a non-null result for a non-null
      // array even when the index is null, and a null vector's null index
      // then fails the row writer
      df.withColumn("__ci",
          graft.funcs.VectorFunctions.nearestPivot(col("v"), pvs))
        .select(col("id"), col("v"),
          get(pidArr, col("__ci")).as("cell"),
          get(pvArr, col("__ci")).as("pv"))
    } else {
      val scored = df.crossJoin(piv)
        .select(col("id"), col("v"), col("pid"),
          round(d2(col("v"), col("pv")), 6).as("__dd"), col("pv"))
      if (keep == 1)
        // corpus-side coarse assignment: min_by with map-side partial
        // combine shuffles n winner rows instead of the window's full n·K
        // cross-product (see Similarity.assignCellsProto) — ordering key
        // (__dd, pid) IS the window's (__dd ASC, pid ASC) tie-break
        scored.groupBy(col("id"))
          .agg(min_by(struct(col("v"), col("pid"), col("pv")),
            struct(col("__dd"), col("pid"))).as("__w"))
          .select(col("id"), col("__w.v").as("v"), col("__w.pid").as("cell"),
            col("__w.pv").as("pv"))
      else {
        // query-side probing keeps several cells — stays a rank window over
        // the (small) query batch
        val w = Window.partitionBy(col("id")).orderBy(col("__dd"), col("pid"))
        scored
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= keep)
          .select(col("id"), col("v"), col("pid").as("cell"), col("pv"))
      }
    }
  }

  private def residualOf(df: DataFrame, out: String): DataFrame =
    df.withColumn(out, zip_with(col("v"), col("pv"), (x, p) => x - p))

  /** Index-construction core shared by [[ivfPqTopK]] and
    * [[buildIvfPqIndex]]: smallest-id pivots, the (possibly residual)
    * k-means codebooks, and the (id, cell, codes) table — the persisted
    * layout of a real deployment; vectors are not carried past it. */
  private def ivfPqParts(corpus: DataFrame, idCol: String, vecCol: String,
                         nCells: Int, m: Int, ksub: Int, train: DataFrame,
                         kmeansIters: Int, residual: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val c = corpus.select(col(idCol).as("id"),
      Similarity.toDouble(col(vecCol)).as("v"))
    // smallest-id pivot set — K rows, TakeOrdered, broadcast everywhere
    val piv = c.orderBy(col("id")).limit(nCells)
      .select(col("id").as("pid"), col("v").as("pv"))
      .transform(Checkpoint.materialize) // feeds the assignment AND the probe side
    val trainDf = if (train == null) corpus else train
    val cbs = (if (residual)
        // the train-residual projection feeds THREE codebook-training
        // consumers (first-K init, the dim probe, the Lloyd subvector
        // table) — materialize once or the assignment cross join re-runs
        // per consumer
        pqCodebooksKmeans(
          residualOf(nearestCellsPq(trainDf.select(col(idCol).as("id"),
            Similarity.toDouble(col(vecCol)).as("v")), piv, 1), "rv")
            .select(col("id"), col("rv")).transform(Checkpoint.materialize),
          "id", "rv", m, ksub, kmeansIters)
      else pqCodebooksKmeans(trainDf, idCol, vecCol, m, ksub, kmeansIters))
      .transform(Checkpoint.materialize)
    val cAssigned = nearestCellsPq(c, piv, 1)
    val assigned = encodeAssigned(cAssigned, cbs, residual)
    (piv, cbs, assigned)
  }

  /** (id, v, cell[, pv]) → (id, cell, codes) under the given (frozen)
    * codebooks, flat or residual — the encode step both the build and the
    * append run. OPT r20: the encode is INLINE on the assignment's carried
    * vector — the old formulation joined the assignment to
    * `pqEncode(corpus)` BY ID, a full corpus self-join (two corpus-wide
    * shuffles) for a value computable in the same projection (guide §2.4:
    * remove shuffles outright). Same codes: `v` IS toDouble(vecCol), the
    * exact input the old id-joined encode read. */
  private def encodeAssigned(cAssigned: DataFrame, cbs: DataFrame,
                             residual: Boolean): DataFrame = {
    val cb = collectCodebooks(cbs)
    val src =
      if (residual) residualOf(cAssigned, "rv")
        .select(col("id"), col("cell"), col("rv").as("__ev"))
      else cAssigned.select(col("id"), col("cell"), col("v").as("__ev"))
    src.select(col("id"), col("cell"),
      graft.funcs.VectorFunctions.pqEncodeCodes(col("__ev"), cb).as("codes"))
  }

  /** Probe-and-rank core shared by [[ivfPqTopK]] and [[ivfPqTopKIndexed]]:
    * route each query to `nProbe` cells, precompute its ADC table
    * (residual probing uses the query's OWN residual per probed cell),
    * equi-join on the cell key, rank. */
  private def ivfPqProbeRank(assigned: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String, piv: DataFrame,
                             cbs: DataFrame, topK: Int, nProbe: Int,
                             residual: Boolean): DataFrame = {
    val probes0 = nearestCellsPq(
      queries.select(col(idCol).as("id"), Similarity.toDouble(col(vecCol)).as("v")),
      piv, nProbe)
    // residual probing: the query's OWN residual against each probed cell —
    // within a cell the ADC distance then approximates ||q − x||² exactly as
    // the flat form does, with both sides measured from the same centroid.
    // per-(query, probed cell) ADC distance table — nProbe·|queries| rows
    // of m·ksub entries on the broadcast-sized probe side; the cell-join
    // scan then pays m lookups per pair (the paper's ADC table, an 8× cut
    // of the inner loop at m=8/dsub=8; bit-identical to the direct form)
    val probes =
      (if (residual) residualOf(probes0, "qv") else probes0.withColumn("qv", col("v")))
        .select(col("id").as("qid"), col("qv"), col("cell"))
        .crossJoin(packCodebooks(cbs))
        .select(col("qid"), col("cell"),
          adcQueryTable(col("qv"), col("cb")).as("qtab"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    // the equi-join: probed cells only — AQE broadcasts a small query
    // batch, a large offline batch shuffles on the cell key
    assigned.join(probes, Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("neighbor_id"),
        round(graft.funcs.VectorFunctions.adcSum(col("qtab"), col("codes")),
          6).as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  // ---- persisted IVF-PQ index (frozen-codebook append) -----------------

  /** Build a PERSISTED IVF-PQ index — the serving layout where the model
    * trains ONCE and shards append forever after. Four catalog tables:
    * `name_pq_centroids` (pid, pv), `name_pq_codebooks` (sub, code, cent),
    * `name_pq_meta` (residual, m, ksub — the encode contract appends must
    * honor), and `name_pq_codes` (id, cell, codes) bucketed by cell so
    * indexed serves equi-join probed cells without a corpus shuffle.
    * Same deterministic contracts as [[ivfPqTopK]] (smallest-id pivots,
    * fixed-point Lloyd codebooks, rounded-L2 argmins), so
    * build-on-prefix + [[appendToIvfPqIndex]] equals build-on-everything
    * whenever the pivot set and train slice are unchanged — the q137
    * oracle pins exactly that. Rebuilds are NOT atomic across the four
    * tables; rebuild under a new name and repoint consumers. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      name: String, nCells: Int = 16, buckets: Int = 8,
                      m: Int = 8, ksub: Int = 16, train: DataFrame = null,
                      kmeansIters: Int = 0, residual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (piv, cbs, assigned) =
      ivfPqParts(corpus, idCol, vecCol, nCells, m, ksub, train,
        kmeansIters, residual)
    Seq(s"${name}_pq_centroids", s"${name}_pq_codebooks", s"${name}_pq_meta")
      .foreach(graft.sources.IO.dropOrphanedLocation(spark, _))
    // OPT r19: pivots and codebooks are model-sized (nCells and m·ksub
    // rows) — write one file each instead of a shuffle.partitions-wide
    // spray of near-empty files (guide §6)
    piv.repartition(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_pq_centroids")
    cbs.repartition(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_pq_codebooks")
    Seq((residual, m, ksub)).toDF("residual", "m", "ksub")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_pq_meta")
    graft.sources.IO.writeBucketed(assigned, s"${name}_pq_codes",
      bucketCols = Seq("cell"), buckets = buckets, sortCols = Seq("cell"))
  }

  /** Append new vectors to a persisted [[buildIvfPqIndex]] index WITHOUT
    * retraining: arrivals are routed to the FROZEN pivots and encoded
    * under the FROZEN codebooks in the mode the meta table recorded
    * (residual appends quantize v − centroid(cell) exactly like the
    * build), then land in the bucketed codes table in Append mode under
    * the catalog's own bucket spec. Codebooks are deliberately not
    * updated — PQ serving retrains offline and reindexes under a new name
    * when drift warrants (watch cell occupancy, as with
    * [[Similarity.ivfCellStats]]). Because every step is bit-stable,
    * append-then-serve equals build-from-scratch-then-serve while the
    * pivot set is unchanged. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         name: String, newVectors: DataFrame, idCol: String,
                         vecCol: String): Unit = {
    val ident = spark.sessionState.sqlParser
      .parseTableIdentifier(s"${name}_pq_codes")
    val spec = spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"${name}_pq_codes is not bucketed — not built by buildIvfPqIndex"))
    val piv = spark.table(s"${name}_pq_centroids")
    val cbs = spark.table(s"${name}_pq_codebooks")
    val meta = spark.table(s"${name}_pq_meta").head()
    val residual = meta.getBoolean(meta.fieldIndex("residual"))
    val nv = newVectors.select(col(idCol).as("id"),
      Similarity.toDouble(col(vecCol)).as("v"))
    val assigned = encodeAssigned(nearestCellsPq(nv, piv, 1), cbs, residual)
    graft.sources.IO.writeBucketed(assigned, s"${name}_pq_codes",
      bucketCols = spec.bucketColumnNames, buckets = spec.numBuckets,
      sortCols = spec.sortColumnNames,
      mode = org.apache.spark.sql.SaveMode.Append)
  }

  /** Serve ADC top-k from a persisted [[buildIvfPqIndex]] index: probes
    * against the frozen pivots, ADC tables against the frozen codebooks,
    * candidates via the bucketed cell equi-join — the scan reads codes
    * only. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                       name: String, queries: DataFrame, idCol: String,
                       vecCol: String, topK: Int,
                       nProbe: Int = 4): DataFrame = {
    require(topK >= 1 && nProbe >= 1,
      s"topK/nProbe must be >= 1, got $topK/$nProbe")
    val meta = spark.table(s"${name}_pq_meta").head()
    ivfPqProbeRank(spark.table(s"${name}_pq_codes"), queries, idCol, vecCol,
      spark.table(s"${name}_pq_centroids"),
      spark.table(s"${name}_pq_codebooks"), topK, nProbe,
      meta.getBoolean(meta.fieldIndex("residual")))
  }

  /** Binary quantization: each dimension becomes ONE bit — above or below
    * that dimension's mean over a `train` slice — packed into 32-bit words
    * (`array<long>`, 32 bits per word: a full 64-bit pack would overflow
    * BIGINT construction in engines that error instead of wrap). 64-dim
    * float32 → 8 bytes: the 32× compression rung below int8/PQ, and the
    * candidate-scan format where Hamming distance (one xor + popcount per
    * word) replaces the dot product entirely.
    *
    * Determinism: components quantize to exact micro-units
    * (`floor(v·10⁶)` as BIGINT, the [[Similarity]] centering discipline);
    * the threshold test is `qv_d · n > Σ_d` — the mean comparison
    * cross-multiplied so NO division ever happens (Java floorDiv and SQL
    * integer division disagree on negatives; a product of exact integers
    * does not). Output: (id, bits). */
  def binarize(df: DataFrame, idCol: String, vecCol: String,
               train: DataFrame = null, vecColTrain: String = null): DataFrame = {
    val t = if (train == null) df else train
    val tv = Similarity.toDouble(col(if (vecColTrain == null) vecCol else vecColTrain))
    val stats = t
      .select(posexplode(transform(tv,
        x => floor(x * 1000000.0).cast("long"))).as(Seq("d", "q")))
      .groupBy(col("d")).agg(sum(col("q")).as("s"), count(lit(1)).as("c"))
      .collect()
    require(stats.nonEmpty, "binarize needs a non-empty train slice")
    val dims = stats.length
    val n = stats.head.getLong(2)
    val sums = new Array[Long](dims)
    stats.foreach(r => sums(r.getInt(0)) = r.getLong(1))
    binarizeWith(df, idCol, vecCol, sums, n)
  }

  /** [[binarize]] against precomputed per-dimension micro-unit sums — the
    * frozen-threshold form (new batches must binarize under the SAME
    * thresholds or their words are incomparable). */
  def binarizeWith(df: DataFrame, idCol: String, vecCol: String,
                   sums: Array[Long], n: Long): DataFrame = {
    val dims = sums.length
    val nWords = (dims + 31) / 32
    val sumsLit = array(sums.map(lit(_)): _*)
    val pow2 = array((0 until 32).map(k => lit(1L << k)): _*)
    val qv = transform(Similarity.toDouble(col(vecCol)),
      x => floor(x * 1000000.0).cast("long"))
    df.select(col(idCol).as("id"), TextStats.pinnedCol(qv).as("__qv"))
      .select(col("id"),
        transform(sequence(lit(0), lit(nWords - 1)), w =>
          aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, k) => {
            val idx = w * 32 + k // 0-based dimension
            acc + when(idx < dims &&
              element_at(col("__qv"), idx + 1) * lit(n) >
                element_at(sumsLit, idx + 1),
              element_at(pow2, k + 1)).otherwise(0L)
          })).as("bits"))
  }

  /** Two-stage binary ANN: Hamming distance over [[binarize]]d words ranks
    * `topK · rerank` candidates per query (the cheap scan — xor+popcount on
    * 8-byte signatures, queries broadcast, same plan shape as
    * [[Similarity.annTopK]]), then exact cosine re-ranks only the
    * candidates (a candidate-sized id equi-join back to the raw vectors —
    * the only touch of full-precision data). `rerank = 0` skips the exact
    * stage and returns the Hamming ranking itself (`ham` ascending, id
    * tiebreak). Ties and rounding follow the q38/q56 conventions so the
    * whole pipeline replays in SQL (q112). */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, topK: Int, rerank: Int = 4,
                 train: DataFrame = null): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(rerank >= 0, s"rerank must be >= 0, got $rerank")
    val t = if (train == null) corpus else train
    // thresholds fit once (bounded collect: dims rows) and freeze for BOTH
    // sides — corpus and queries must share the bit geometry
    val tv = Similarity.toDouble(col(vecCol))
    val stats = t
      .select(posexplode(transform(tv,
        x => floor(x * 1000000.0).cast("long"))).as(Seq("d", "q")))
      .groupBy(col("d")).agg(sum(col("q")).as("s"), count(lit(1)).as("c"))
      .collect()
    require(stats.nonEmpty, "binaryTopK needs a non-empty train slice")
    val sums = new Array[Long](stats.length)
    stats.foreach(r => sums(r.getInt(0)) = r.getLong(1))
    val n = stats.head.getLong(2)

    val cB = binarizeWith(corpus, idCol, vecCol, sums, n)
    val qB = binarizeWith(queries, idCol, vecCol, sums, n)
      .select(col("id").as("qid"), col("bits").as("qbits"))
    val ham = aggregate(
      zip_with(col("qbits"), col("bits"),
        (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    Similarity.twoStageTopK(cB.join(qB, col("id") =!= col("qid"))
        .select(col("qid"), col("id"), ham.as("ham")), "ham",
      corpus, queries, idCol, vecCol, topK, rerank)
  }

  /** Relative L2 reconstruction error per vector:
    * `‖v − q·scale‖ / ‖v‖` — the quantization-quality diagnostic. */
  def reconstructionError(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = Similarity.toDouble(col(vecCol))
    quantize(df, idCol, vecCol)
      .join(df.select(col(idCol).as("id"), v.as("__v")), Seq("id"))
      .withColumn("__r", zip_with(col("__v"), col("q"),
        (x, qi) => x - qi.cast("double") * col("scale")))
      .select(col("id"),
        (Similarity.l2Norm(col("__r")) / Similarity.l2Norm(col("__v")))
          .as("rel_err"))
  }
}
