package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dimensionality reduction for embedding columns — the rungs between raw
  * float vectors and the quantized formats ([[Quantize]]): a data-oblivious
  * random projection (Johnson-Lindenstrauss) whose matrix any engine can
  * re-derive from a formula, and data-aware PCA trained from one exact
  * covariance aggregate. Both feed the same two-stage ANN shape as
  * [[Quantize.binaryTopK]]: cheap candidate ranking in the reduced space,
  * exact cosine re-rank of the candidate-sized survivor set. (Beyond the
  * reference surface; required by the build brief's similarity-search
  * scale path.) */
object Reduce {

  /** Deterministic sparse-sign Johnson-Lindenstrauss projection
    * (Achlioptas 2001, "Database-friendly random projections" — ±1 signs
    * suffice; no gaussians): `y_j = Σ_d s(j,d)·x_d / √k` with
    * `s(j,d) = ±1` from the engine's integer LCG
    * (`((j·2654435761 + d·40503) mod 1000003) mod 2`), so the projection
    * matrix is a FORMULA — no trained state, and the q139 oracle replays
    * it verbatim. The input vector is lambda-bound once (HOF-no-CSE
    * discipline); the inner sum folds in dimension order, so outputs are
    * bit-reproducible.
    *
    * Scale shape: pure per-row projection, zero shuffle, O(k·dims)
    * multiply-adds per row; the projected column is k/dims of the raw
    * scan width for every downstream candidate pass. */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                outDim: Int): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val proj = TextStats.bound(Similarity.toDouble(col(vecCol))) { x =>
      transform(sequence(lit(0), lit(outDim - 1)), j =>
        aggregate(
          zip_with(x, sequence(lit(0), size(x) - 1), (xd, d) =>
            xd * (lit(1.0) - lit(2.0) *
              (((j * 2654435761L + d * 40503L) % 1000003L) % 2L)
                .cast("double"))),
          lit(0.0), _ + _) / sqrt(lit(outDim.toDouble)))
    }
    df.select(col(idCol).as("id"), proj.as("y"))
  }

  /** Two-stage ANN over the JL-projected space: candidates ranked by
    * rounded squared L2 in the k-dim projection (queries broadcast, the
    * corpus scan reads only the narrow projected column), `topK · rerank`
    * survivors per query re-ranked by exact cosine on the raw vectors — a
    * candidate-sized id join, the only touch of full-precision data.
    * `rerank = 0` returns the projected ranking itself (jl_d2 asc, id
    * tiebreak). Ties and rounding follow the q38/q56 conventions
    * (6 dp before any rank decision, id tiebreaks) so the whole pipeline
    * replays in SQL (q139). */
  def jlTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, outDim: Int = 16, topK: Int = 10,
             rerank: Int = 4): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(rerank >= 0, s"rerank must be >= 0, got $rerank")
    val cP = jlProject(corpus, idCol, vecCol, outDim)
    val qP = jlProject(queries, idCol, vecCol, outDim)
      .select(col("id").as("qid"), col("y").as("qy"))
    val d2 = aggregate(zip_with(col("qy"), col("y"), (a, b) => (a - b) * (a - b)),
      lit(0.0), _ + _)
    Similarity.twoStageTopK(cP.join(qP, col("id") =!= col("qid"))
        .select(col("qid"), col("id"), round(d2, 6).as("jl_d2")), "jl_d2",
      corpus, queries, idCol, vecCol, topK, rerank)
  }

  /** PCA model: per-dimension mean + top-k principal components. */
  final case class PcaModel(mean: Array[Double],
                            components: Array[Array[Double]])

  /** Train PCA from ONE exact covariance aggregate over the train slice:
    * components quantize to the 1e-6 grid, the (d, d) co-moment sums are
    * exact DECIMAL integers (associative — partition order cannot change
    * them), and the centered covariance numerators `n·P_ij − S_i·S_j` are
    * computed exactly on the driver before any floating point. The d×d
    * eigenproblem is then solved on the DRIVER by cyclic Jacobi with a
    * FIXED sweep order and sweep count — every input is a deterministic
    * double, so the model is bit-reproducible run to run (the q111/q123
    * discipline: training determinism is spec-pinned; the oracle replays
    * the frozen model's PROJECTION pass). Component signs are
    * canonicalized (largest-|component| entry positive, lowest index on
    * ties); eigenvalue order descending, index ascending on exact ties.
    *
    * Scale shape: one aggregate producing d·(d+1)/2 + d rows (model-sized,
    * d=64 → 2 144), driver work O(d³) per sweep — microseconds. Train on
    * a SAMPLE slice at corpus scale, like [[Quantize.pqCodebooks]]. */
  def pcaModel(train: DataFrame, idCol: String, vecCol: String, k: Int,
               sweeps: Int = 30): PcaModel = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rows = train
      .select(TextStats.pinnedCol(transform(Similarity.toDouble(col(vecCol)),
        x => floor(x * 1000000.0).cast("long"))).as("__q"))
      .select(posexplode(col("__q")).as(Seq("i", "qi")), col("__q"))
      .select(col("i"), col("qi"), posexplode(col("__q")).as(Seq("j", "qj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("qi").cast("decimal(38,0)")).as("si"),
        sum((col("qi") * col("qj")).cast("decimal(38,0)")).as("pij"))
      .collect()
    require(rows.nonEmpty, "pcaModel needs a non-empty train slice")
    val dim = rows.map(_.getInt(0)).max + 1
    require(k <= dim, s"k=$k exceeds dim=$dim")
    val n = BigDecimal(rows.head.getLong(2))
    val p = Array.ofDim[BigDecimal](dim, dim)
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      p(i)(j) = BigDecimal(r.getDecimal(4)); p(j)(i) = p(i)(j)
    }
    // every (i, j) group sees each row once, so its si IS the plain
    // per-dimension sum; read it off the diagonal groups
    val sArr = new Array[BigDecimal](dim)
    rows.foreach { r =>
      if (r.getInt(0) == r.getInt(1)) sArr(r.getInt(0)) = BigDecimal(r.getDecimal(3))
    }
    // exact centered covariance numerators, then ONE deterministic
    // double conversion
    val a = Array.tabulate(dim, dim)((i, j) =>
      (n * p(i)(j) - sArr(i) * sArr(j)).toDouble)
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    // cyclic Jacobi, fixed order — deterministic
    for (_ <- 1 to sweeps; i <- 0 until dim - 1; j <- i + 1 until dim) {
      if (math.abs(a(i)(j)) > 1e-30 * (math.abs(a(i)(i)) + math.abs(a(j)(j)) + 1e-300)) {
        val theta = (a(j)(j) - a(i)(i)) / (2.0 * a(i)(j))
        // theta == 0 (equal diagonal) needs the full 45° rotation, not 0
        val t =
          if (theta == 0.0) 1.0
          else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val cth = 1.0 / math.sqrt(t * t + 1.0)
        val sth = t * cth
        for (r <- 0 until dim) {
          val ari = a(r)(i); val arj = a(r)(j)
          a(r)(i) = cth * ari - sth * arj
          a(r)(j) = sth * ari + cth * arj
        }
        for (r <- 0 until dim) {
          val air = a(i)(r); val ajr = a(j)(r)
          a(i)(r) = cth * air - sth * ajr
          a(j)(r) = sth * air + cth * ajr
        }
        for (r <- 0 until dim) {
          val vri = v(r)(i); val vrj = v(r)(j)
          v(r)(i) = cth * vri - sth * vrj
          v(r)(j) = sth * vri + cth * vrj
        }
      }
    }
    val order = (0 until dim).sortBy(i => (-a(i)(i), i)).take(k)
    val comps = order.map { c =>
      val vec = Array.tabulate(dim)(r => v(r)(c))
      // canonical sign: the largest-|entry| component positive
      val m = vec.indices.maxBy(r => (math.abs(vec(r)), -r))
      if (vec(m) < 0) vec.map(-_) else vec
    }.toArray
    val mean = Array.tabulate(dim)(i => (sArr(i) / n).toDouble / 1000000.0)
    PcaModel(mean, comps)
  }

  /** Project onto a [[pcaModel]]: `y_c = Σ_d (x_d − μ_d)·comp_c_d`, folded
    * in dimension order and rounded to 6 dp — the exact chain the q140
    * oracle replays against the FROZEN model. Output exploded as
    * (id, comp, y): one skinny row per component. Pure per-row projection
    * against literal arrays — zero shuffle, no broadcast needed (the model
    * is a plan constant). */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
                 model: PcaModel): DataFrame = {
    val muLit = array(model.mean.map(lit(_)): _*)
    val compLit = array(model.components.map(c =>
      array(c.map(lit(_)): _*)): _*)
    val ys = TextStats.bound(Similarity.toDouble(col(vecCol))) { x =>
      transform(compLit, c =>
        round(aggregate(
          zip_with(x, sequence(lit(0), size(x) - 1), (xd, d) =>
            (xd - element_at(muLit, d + 1)) * element_at(c, d + 1)),
          lit(0.0), _ + _), 6))
    }
    df.select(col(idCol).as("id"), posexplode(TextStats.pinnedCol(ys))
      .as(Seq("comp", "y")))
  }
}
