package graft.funcs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd dot product over `array<float>` embedding columns, accumulated
  * in double in element order (bit-identical to the sequential
  * `aggregate(zip_with(...))` formulation it replaces, but staying inside
  * whole-stage codegen: the higher-order-function version allocates a zipped
  * array and interprets two lambdas per pair, which dominated the brute-force
  * similarity join's runtime).
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** Deterministic hyperplane component families for [[LshSignatureFloat]],
  * shared between the expression and driver-side centering-threshold
  * computation ([[graft.ext.Similarity]]).
  *
  * `lcg` is `((p·1000003 + d) · 2654435761) mod 2000003 − 1000001` — pure
  * ANSI-SQL arithmetic, which is what lets the DuckDB correctness oracle
  * recompute 16-bit signatures bit-for-bit (q39). It is, however, an
  * ARITHMETIC PROGRESSION across planes for fixed d (`c(p,d) = (p·A + B_d)
  * mod M`): consecutive planes form a 1-D lattice walk, so wide signatures
  * built from it have systematically correlated bits. Measured consequence:
  * at 2048 bits on the byte-bigram embedding corpus, banding missed 23/225
  * true near-dup pairs that independent-plane theory puts at miss < 1e-7 —
  * bit flips anti-cluster across bands exactly when banding needs them to
  * cluster. Keep `lcg` for narrow, oracle-mirrored signatures only.
  *
  * `mix` is a splitmix64-style finalizer over the plane/dim index — full
  * avalanche, no cross-plane structure — mapped onto the same
  * [−1000001, 1000001] range. Not expressible in portable SQL (unsigned
  * 64-bit wrap-around), so signature pipelines built on it are oracle-checked
  * against brute-force results rather than mirrored. */
object LshPlanes {
  def lcg(p: Int, d: Int): Long =
    (p * 1000003L + d) * 2654435761L % 2000003L - 1000001L

  def mix(p: Int, d: Int, dims: Int): Long = {
    var z = (p.toLong * dims + d) * 0x9E3779B97F4A7C15L
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^= (z >>> 31)
    java.lang.Long.remainderUnsigned(z, 2000003L) - 1000001L
  }
}

/** Codegen'd random-hyperplane LSH signature over an `array<float>` vector:
  * `bits` integer projections onto deterministic pseudo-random planes,
  * packed into one long (bit p = projection p ≥ its threshold). Components
  * are quantized to `floor(x · 10^6)` and plane coefficients come from
  * [[LshPlanes]] (`lcg` by default — ANSI-SQL-mirrorable, used by the
  * oracle-pinned 16-bit paths; `mix = true` for the well-mixed splitmix64
  * family wide signatures require), so every projection is an exact 64-bit
  * integer sum — order-independent and bit-identical to a driver-side
  * recomputation. The fused loop replaces `bits` interpreted
  * higher-order-function folds per row (the dominant cost of the LSH
  * queries) with one codegen'd O(dims · bits) pass.
  *
  * `thresholds` (empty = all-zero) compare each projection against a
  * per-plane constant instead of 0: the zero-extra-cost formulation of
  * MEAN-CENTERED hyperplane LSH. Centering vector x by the corpus mean μ
  * flips bit p exactly where `proj(x) ≥ proj(μ)` does (projections are
  * linear), so passing `t_p = Σ_d plane(p,d)·mean_d` as thresholds centers
  * the geometry without touching any per-row vector — see
  * [[graft.ext.Similarity.cosineLshPairs]]. */
case class LshSignatureFloat(child: Expression, bits: Int, offset: Int = 0,
                             mix: Boolean = false, thresholds: Seq[Long] = Nil)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
  require(offset >= 0, s"offset must be >= 0, got $offset")
  require(thresholds.isEmpty || thresholds.length == bits,
    s"thresholds must be empty or have length $bits, got ${thresholds.length}")

  override def dataType: DataType = LongType

  @transient private lazy val thrArr: Array[Long] =
    if (thresholds.isEmpty) new Array[Long](bits) else thresholds.toArray

  // Plane-coefficient table, built once per (expression, dims) and reused for
  // every row: the coefficient is a CONSTANT of (plane, dim), and computing
  // it inline cost ~12 integer ops (including an unsigned remainder) per
  // multiply-add — an order of magnitude more than the projection work
  // itself. The cache is a single reference to an immutable (dims, table)
  // pair: Tuple2's final fields give safe publication under the JMM even
  // through the data race, so a concurrent reader either sees a fully-built
  // matching table or rebuilds an identical one — never a table of the
  // wrong size (two mutable fields written separately could pair a new dims
  // with a stale table under ragged-dims concurrent evaluation).
  @transient private var planeCache: (Int, Array[Long]) = _
  private def planeTable(n: Int): Array[Long] = {
    val c = planeCache
    if (c != null && c._1 == n) c._2
    else {
      val t = new Array[Long](bits * n)
      var p = 0
      while (p < bits) {
        var d = 0
        while (d < n) {
          t(p * n + d) =
            if (mix) LshPlanes.mix(p + offset, d, n) else LshPlanes.lcg(p + offset, d)
          d += 1
        }
        p += 1
      }
      planeCache = (n, t)
      t
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val t = planeTable(n)
    val acc = new Array[Long](bits)
    var d = 0
    while (d < n) {
      val q = math.floor(v.getFloat(d).toDouble * 1000000.0).toLong
      var p = 0
      while (p < bits) {
        acc(p) += q * t(p * n + d)
        p += 1
      }
      d += 1
    }
    var sig = 0L
    var p = 0
    while (p < bits) { if (acc(p) >= thrArr(p)) sig |= (1L << p); p += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      val c = ctx.freshName("c")
      val z = ctx.freshName("z")
      val sig = ctx.freshName("sig")
      val thrRef = ctx.addReferenceObj("lshThresholds", thrArr, "long[]")
      // per-stage plane-table cache (see planeTable above); -1 sentinel forces
      // the first row to build it
      val tblVar = ctx.addMutableState("long[]", "lshPlaneTbl")
      val tblNVar = ctx.addMutableState("int", "lshPlaneTblN", v => s"$v = -1;")
      val planeCode =
        if (mix)
          s"""long $z = (((long) ($p + $offset)) * $n + $d) * 0x9E3779B97F4A7C15L;
             |      $z ^= ($z >>> 30); $z *= 0xBF58476D1CE4E5B9L;
             |      $z ^= ($z >>> 27); $z *= 0x94D049BB133111EBL;
             |      $z ^= ($z >>> 31);
             |      long $c = java.lang.Long.remainderUnsigned($z, 2000003L) - 1000001L;""".stripMargin
        else
          s"long $c = (($p + $offset) * 1000003L + $d) * 2654435761L % 2000003L - 1000001L;"
      s"""
         |int $n = $v.numElements();
         |if ($tblNVar != $n) {
         |  $tblVar = new long[$bits * $n];
         |  for (int $p = 0; $p < $bits; $p++) {
         |    for (int $d = 0; $d < $n; $d++) {
         |      $planeCode
         |      $tblVar[$p * $n + $d] = $c;
         |    }
         |  }
         |  $tblNVar = $n;
         |}
         |long[] $acc = new long[$bits];
         |for (int $d = 0; $d < $n; $d++) {
         |  long $q = (long) java.lang.Math.floor(((double) $v.getFloat($d)) * 1000000.0);
         |  for (int $p = 0; $p < $bits; $p++) {
         |    $acc[$p] += $q * $tblVar[$p * $n + $d];
         |  }
         |}
         |long $sig = 0L;
         |for (int $p = 0; $p < $bits; $p++) {
         |  if ($acc[$p] >= $thrRef[$p]) $sig |= (1L << $p);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshSignatureFloat =
    copy(child = newChild)
}

/** Codegen'd MinHash signature over a document's (already distinct) shingle
  * STRING array: per shingle `h = pmod(xxhash64(s, seed=42), 2^31−1)` —
  * bit-identical to Spark's `pmod(xxhash64(col), p)` — then slot i is
  * `min over h of (a(i)·h + b(i)) mod 2^31−1`.
  *
  * Two design points, both load-bearing for scale:
  *  - signatures are PER-DOCUMENT quantities, so a scalar expression replaces
  *    the r2 `groupBy(id)` + array-buffer-UDAF shuffle — the signature stage
  *    is a zero-shuffle map, embarrassingly parallel;
  *  - the shingle HASHING happens inside this compiled loop. Computing it as
  *    a `transform(...)` higher-order function instead runs one interpreted
  *    expression-tree walk per element (HOF lambdas are never codegen'd),
  *    which measured ~10× slower than this loop on the sf0.1 corpus.
  */
case class MinHashSignature(child: Expression, a: Seq[Long], b: Seq[Long])
    extends UnaryExpression {

  require(a.nonEmpty && a.length == b.length, "coefficient arrays must match")
  private val P31 = 2147483647L
  @transient private lazy val aArr = a.toArray
  @transient private lazy val bArr = b.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val gs = input.asInstanceOf[ArrayData]
    val m = gs.numElements()
    val n = aArr.length
    val sig = Array.fill(n)(Long.MaxValue)
    var j = 0
    while (j < m) {
      val h0 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(gs.getUTF8String(j), 42L)
      val h = ((h0 % P31) + P31) % P31
      var i = 0
      while (i < n) {
        val v = (aArr(i) * h + bArr(i)) % P31
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, gs => {
      val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
      val n = aArr.length
      val m = ctx.freshName("m")
      val sig = ctx.freshName("sig")
      val h0 = ctx.freshName("h0")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |int $m = $gs.numElements();
         |long[] $sig = new long[$n];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $j = 0; $j < $m; $j++) {
         |  long $h0 = org.apache.spark.sql.catalyst.expressions.XXH64
         |    .hashUTF8String($gs.getUTF8String($j), 42L);
         |  long $h = (($h0 % ${P31}L) + ${P31}L) % ${P31}L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $v = ($aRef[$i] * $h + $bRef[$i]) % ${P31}L;
         |    if ($v < $sig[$i]) $sig[$i] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Codegen'd 64-bit SimHash over a document's shingle STRING array. Each
  * shingle hashes to two non-negative 32-bit words (low, high); bit i of the
  * result is set iff `sum over shingles of (±1 at word bit i) > 0`, with
  * word-0 bits landing at 0..31 and word-1 bits at 32..63.
  *
  * `useMd5 = true` takes the words from the LOWER 64 bits of the md5 digest
  * (hex chars 25..32 = low word, 17..24 = high word — recomputable in ANSI
  * SQL as `conv(substring(md5(s), …), 16, 10)`, which is what the DuckDB
  * correctness oracle runs); `false` uses xxhash64(seed 42) split into its
  * two halves (the fast non-oracle default). Hashing lives INSIDE this
  * compiled loop: the interpreted-`transform` formulation of the same words
  * measured ~15× slower (one expression-tree walk per shingle).
  */
case class SimHashSignature(child: Expression, useMd5: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val gs = input.asInstanceOf[ArrayData]
    val m = gs.numElements()
    val bal = new Array[Long](64)
    var j = 0
    while (j < m) {
      val s = gs.getUTF8String(j)
      var w0 = 0L
      var w1 = 0L
      if (useMd5) {
        val d = org.apache.commons.codec.digest.DigestUtils.md5(s.getBytes)
        w1 = ((d(8) & 0xffL) << 24) | ((d(9) & 0xffL) << 16) |
          ((d(10) & 0xffL) << 8) | (d(11) & 0xffL)
        w0 = ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
          ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
      } else {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(s, 42L)
        w0 = h & 0xFFFFFFFFL
        w1 = h >>> 32
      }
      var i = 0
      while (i < 32) {
        bal(i) += ((w0 >>> i) & 1L) * 2L - 1L
        bal(i + 32) += ((w1 >>> i) & 1L) * 2L - 1L
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (bal(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, gs => {
      val m = ctx.freshName("m")
      val bal = ctx.freshName("bal")
      val s = ctx.freshName("s")
      val w0 = ctx.freshName("w0")
      val w1 = ctx.freshName("w1")
      val d = ctx.freshName("d")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val sig = ctx.freshName("sig")
      // NB: no generated line may START with '|' (a continuation of a
      // bitwise-or) — the enclosing stripMargin would eat it
      val words =
        if (useMd5)
          s"""byte[] $d = org.apache.commons.codec.digest.DigestUtils.md5($s.getBytes());
             |  long $w1 = (($d[8] & 0xffL) << 24) | (($d[9] & 0xffL) << 16) | (($d[10] & 0xffL) << 8) | ($d[11] & 0xffL);
             |  long $w0 = (($d[12] & 0xffL) << 24) | (($d[13] & 0xffL) << 16) | (($d[14] & 0xffL) << 8) | ($d[15] & 0xffL);""".stripMargin
        else
          s"""long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String($s, 42L);
             |  long $w0 = $h & 0xFFFFFFFFL;
             |  long $w1 = $h >>> 32;""".stripMargin
      s"""
         |int $m = $gs.numElements();
         |long[] $bal = new long[64];
         |for (int $j = 0; $j < $m; $j++) {
         |  org.apache.spark.unsafe.types.UTF8String $s = $gs.getUTF8String($j);
         |  $words
         |  for (int $i = 0; $i < 32; $i++) {
         |    $bal[$i] += (($w0 >>> $i) & 1L) * 2L - 1L;
         |    $bal[$i + 32] += (($w1 >>> $i) & 1L) * 2L - 1L;
         |  }
         |}
         |long $sig = 0L;
         |for (int $i = 0; $i < 64; $i++) {
         |  if ($bal[$i] > 0) $sig |= (1L << $i);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashSignature =
    copy(child = newChild)
}

/** Codegen'd Rabin-Karp rolling polynomial hash over a string's characters:
  * `h = (h·131 + c) mod 2^31−1`, folding left to right. Arithmetic stays
  * within modular 31-bit values (products < 2^39), so the identical fold is
  * expressible in ANSI SQL / DuckDB `list_reduce` for the correctness
  * oracle — unlike the 2^64-wraparound variant it replaces (BIGINT overflow
  * errors in standard SQL engines), and unlike the `split(s,"")` +
  * per-element `ascii()` formulation it replaces, which materialized a
  * one-char-string array per row. Characters are UTF-16 code units (= code
  * points for BMP text).
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  private val P31 = 2147483647L
  private val Base = 131L

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * Base + s.charAt(i)) % P31
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |String $s = $v.toString();
         |long $h = 0L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $h = ($h * ${Base}L + $s.charAt($i)) % ${P31}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Codegen'd Bloom-filter membership probe over xxhash64 values. The filter
  * (built once with the public `DataFrameStatFunctions.bloomFilter`, i.e.
  * `org.apache.spark.util.sketch.BloomFilter`) ships serialized inside the
  * expression and is deserialized lazily once per executor; the generated
  * code calls a plain method on the expression reference, so the probe stays
  * inside whole-stage codegen. Spark registers its own internal equivalent
  * (`BloomFilterMightContain`) only for runtime-filter injection — it is not
  * callable from the public Column API, hence this expression. A positive is
  * only PROBABLY seen: callers must confirm with an exact join (false
  * positives cost join rows, never correctness).
  */
case class BloomMightContain(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  // the probe hashes with mightContainLong — any non-long child would be a
  // caller bug that used to surface as an executor-side ClassCastException;
  // fail at analysis time instead
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_might_contain requires a BIGINT probe column " +
          s"(xxhash64 output), got ${child.dataType.catalogString}")

  // Array[Byte] as a case-class field compares by reference, which breaks
  // expression canonicalization (two probes of the same filter would never
  // be recognized as equal, defeating plan/subexpression reuse). Compare by
  // content digest instead of the full bytes — filters can be megabytes.
  @transient private lazy val filterDigest: Int =
    java.util.Arrays.hashCode(
      java.security.MessageDigest.getInstance("MD5").digest(filterBytes))

  override def equals(other: Any): Boolean = other match {
    case b: BloomMightContain =>
      child == b.child && filterBytes.length == b.filterBytes.length &&
        java.util.Arrays.equals(filterBytes, b.filterBytes)
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode() + filterDigest

  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(filterBytes))

  def test(h: Long): Boolean = filter.mightContainLong(h)

  override def nullSafeEval(input: Any): Any = test(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomExpr", this,
      classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.test($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** Shared 6-dp HALF_UP rounding, bit-identical to Spark's `round(_, 6)` on
  * DoubleType (same BigDecimal.valueOf → setScale → doubleValue chain, same
  * NaN/Infinity passthrough) — the PQ expressions below must make exactly
  * the threshold decisions the `round(d2(...), 6)` formulations they
  * replace made. */
private[funcs] object Round6 {
  def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** The input contract of the PQ expressions below: a vector is encodable
  * only when it has exactly `dims` elements and none of them is null.
  * Anything else (a short or long vector, a null element) makes the
  * expression return null instead of reading past the array or through a
  * null slot. */
private[funcs] object VecInput {
  def fits(input: ArrayData, dims: Int): Boolean = {
    if (input.numElements() != dims) return false
    var j = 0
    while (j < dims) {
      if (input.isNullAt(j)) return false
      j += 1
    }
    true
  }
}

/** Codegen'd PQ encode (OPT r20, guide §1.2 "per-task work"): for each of
  * the `cb.length` subspaces, the argmin over that subspace's centroids of
  * the 6-dp-rounded in-order squared L2 — strictly-smaller replaces, so the
  * LOWEST code wins rounded ties, exactly the
  * `aggregate(struct(d, c)) fold` it replaces. The higher-order-function
  * formulation interpreted m·ksub lambda folds and allocated m·ksub zipped
  * arrays PER ROW (HOFs are CodegenFallback — the [[DotProductFloat]]
  * lesson); this is one tight primitive loop. Bit-identical: subspace
  * distances accumulate in dimension order and round through [[Round6]]
  * (Spark's own round(_, 6) double path). Distances order as Spark orders
  * doubles, like [[NearestPivotIdx]]: NaN sorts above every number, so a
  * NaN or overflowing subvector never yields code -1; an all-NaN or
  * all-infinite subspace keeps code 0, and [[AdcLookupSum]] can index
  * every code.
  *
  * `cb(sub)(code) = centroid` — sub- and code-ordered, the packed-codebook
  * layout. Input element type float or double (decided at bind time).
  * A vector whose length is not the codebook's total dimension, or that
  * holds a null element, encodes to null ([[VecInput]]). */
case class PqEncodeCodes(child: Expression, cb: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  private val dims = cb.map(_(0).length).sum

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemType == FloatType || elemType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_encode requires array<float> or array<double>, got " +
          child.dataType.catalogString)

  // deep content equality: an Array field compares by reference, which
  // breaks expression canonicalization (the BloomMightContain lesson)
  override def equals(other: Any): Boolean = other match {
    case p: PqEncodeCodes =>
      child == p.child && java.util.Arrays.deepEquals(
        cb.asInstanceOf[Array[AnyRef]], p.cb.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(cb.asInstanceOf[Array[AnyRef]])

  def encode(input: ArrayData): ArrayData = {
    if (!VecInput.fits(input, dims)) return null
    val isFloat = elemType == FloatType
    val m = cb.length
    val codes = new Array[Int](m)
    var base = 0
    var s = 0
    while (s < m) {
      val cents = cb(s)
      val dsub = cents(0).length
      var best = Double.MaxValue
      var bc = -1
      var ci = 0
      while (ci < cents.length) {
        val cent = cents(ci)
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val x = (if (isFloat) input.getFloat(base + j).toDouble
                   else input.getDouble(base + j)) - cent(j)
          d += x * x
          j += 1
        }
        val rd = Round6.round6(d)
        if (bc < 0 || rd < best || (best.isNaN && !rd.isNaN)) { best = rd; bc = ci }
        ci += 1
      }
      codes(s) = bc
      base += dsub
      s += 1
    }
    new GenericArrayData(codes)
  }

  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeExpr", this,
      classOf[PqEncodeCodes].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.encode($v);\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/** Codegen'd subspace-ordered ADC sum (OPT r20): `Σ_s qtab[s][codes[s]]` —
  * the `aggregate(sequence(...))` fold it replaces interpreted three
  * element_at lambdas per subspace per PAIR in the hottest loop of the PQ
  * search family. Additions run in subspace order: bit-identical. */
case class AdcLookupSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_adc_sum requires (array<array<double>>, array<int>), got " +
            s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val qtab = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var s = 0
    var sum = 0.0
    while (s < m) {
      sum += qtab.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      s"""
         |int $m = $b.numElements();
         |double $acc = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  $acc += $a.getArray($s).getDouble($b.getInt($s));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): AdcLookupSum =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd coarse-cell assignment (OPT r20): the 0-based INDEX of the
  * nearest pivot by 6-dp-rounded in-order squared L2, strictly-smaller
  * replaces — with `pvs` in ascending-pid order this is exactly the
  * `min_by(struct(__dd, pid))` / rank-window tie-break of the
  * crossJoin-then-aggregate formulation it replaces, without materializing
  * the n·K cross product or shuffling the corpus through the winner
  * aggregate. Same [[Round6]] rounding as the original `round(d2(v, pv), 6)`,
  * and the same ordering of doubles as Spark's: NaN sorts above every
  * number, so a NaN distance never beats a number and an all-NaN (or
  * all-infinite) row keeps the FIRST pivot, as `min_by` does. Null when
  * there is no nearest pivot: an empty pivot set, or a vector whose length
  * is not the pivots' dimension or that holds a null element ([[VecInput]]).
  * The result is therefore always null or a valid index into `pvs`. */
case class NearestPivotIdx(child: Expression, pvs: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  private val dims = pvs.headOption.fold(0)(_.length)

  def fits(input: ArrayData): Boolean = pvs.nonEmpty && VecInput.fits(input, dims)

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemType == FloatType || elemType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_pivot requires array<float> or array<double>, got " +
          child.dataType.catalogString)

  override def equals(other: Any): Boolean = other match {
    case p: NearestPivotIdx =>
      child == p.child && java.util.Arrays.deepEquals(
        pvs.asInstanceOf[Array[AnyRef]], p.pvs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(pvs.asInstanceOf[Array[AnyRef]])

  def nearest(input: ArrayData): Int = {
    val isFloat = elemType == FloatType
    var best = Double.MaxValue
    var bi = -1
    var i = 0
    while (i < pvs.length) {
      val pv = pvs(i)
      var d = 0.0
      var j = 0
      while (j < pv.length) {
        val x = (if (isFloat) input.getFloat(j).toDouble
                 else input.getDouble(j)) - pv(j)
        d += x * x
        j += 1
      }
      val rd = Round6.round6(d)
      if (bi < 0 || rd < best || (best.isNaN && !rd.isNaN)) { best = rd; bi = i }
      i += 1
    }
    bi
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (fits(a)) nearest(a) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestPivotExpr", this,
      classOf[NearestPivotIdx].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.isNull} = !$ref.fits($v);\nif (!${ev.isNull}) ${ev.value} = $ref.nearest($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestPivotIdx =
    copy(child = newChild)
}

/** Column API of the vector expressions. Each call resolves its `graft_*`
  * name through the session's function registry, which
  * [[graft.GraftExtensions]] wires. */
object VectorFunctions {

  private[graft] val DotName = "graft_dot_f"
  private[graft] val SigName = "graft_lsh_sig"
  private[graft] val MinHashName = "graft_minhash_sig"
  private[graft] val SimHashName = "graft_simhash_sig"
  private[graft] val RollName = "graft_rolling_hash"
  private[graft] val BloomName = "graft_bloom_might_contain"
  private[graft] val PqEncodeName = "graft_pq_encode"
  private[graft] val AdcSumName = "graft_adc_sum"
  private[graft] val NearestPivotName = "graft_nearest_pivot"

  /** Column API for the codegen'd float-array dot product. */
  def dotF(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function(DotName, a, b)

  /** Column API for the codegen'd LSH signature; `offset` shifts the plane
    * index range to [offset, offset+bits) so signatures wider than 64 bits
    * compose from multiple words. `mix` selects the splitmix64 plane family
    * (required for wide signatures — see [[LshPlanes]]); `thresholds`
    * (length = bits) replaces the ≥0 sign test with per-plane constants,
    * implementing mean-centering. */
  def lshSig(v: Column, bits: Int, offset: Int = 0, mix: Boolean = false,
             thresholds: Seq[Long] = Nil): Column =
    org.apache.spark.sql.functions.call_function(SigName, v,
      org.apache.spark.sql.functions.lit(bits),
      org.apache.spark.sql.functions.lit(offset),
      org.apache.spark.sql.functions.lit(mix),
      org.apache.spark.sql.functions.lit(
        if (thresholds.isEmpty) Array.empty[Long] else thresholds.toArray))

  /** Column API for the codegen'd per-document MinHash signature over an
    * `array<string>` of distinct shingles. */
  def minhashSig(shingles: Column, a: Array[Long], b: Array[Long]): Column =
    org.apache.spark.sql.functions.call_function(MinHashName, shingles,
      org.apache.spark.sql.functions.lit(a), org.apache.spark.sql.functions.lit(b))

  /** Column API for the codegen'd per-document SimHash signature over an
    * `array<string>` of distinct shingles. */
  def simhashSig(shingles: Column, useMd5: Boolean): Column =
    org.apache.spark.sql.functions.call_function(SimHashName, shingles,
      org.apache.spark.sql.functions.lit(useMd5))

  /** Column API for the codegen'd rolling polynomial hash. */
  def rollingHash(s: Column): Column =
    org.apache.spark.sql.functions.call_function(RollName, s)

  /** Column API for the codegen'd Bloom-filter probe over an xxhash64
    * column; `filter` is a serialized `util.sketch.BloomFilter`. */
  def bloomMightContain(h: Column, filter: Array[Byte]): Column =
    org.apache.spark.sql.functions.call_function(BloomName, h,
      org.apache.spark.sql.functions.lit(filter))

  /** Column API for the codegen'd PQ encode; `cb(sub)(code) = centroid`
    * (sub- and code-ordered). Null for a vector of the wrong length or with
    * a null element. */
  def pqEncodeCodes(v: Column, cb: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.functions.call_function(PqEncodeName, v,
      org.apache.spark.sql.functions.typedlit(
        cb.map(_.map(_.toSeq).toSeq).toSeq))

  /** Column API for the codegen'd subspace-ordered ADC sum. */
  def adcSum(qtab: Column, codes: Column): Column =
    org.apache.spark.sql.functions.call_function(AdcSumName, qtab, codes)

  /** Column API for the codegen'd nearest-pivot index (0-based into `pvs`,
    * which must be in ascending-pid order for the documented tie-break).
    * Null for an empty `pvs` or a vector of the wrong length or with a null
    * element; never an index outside `pvs`. */
  def nearestPivot(v: Column, pvs: Array[Array[Double]]): Column =
    org.apache.spark.sql.functions.call_function(NearestPivotName, v,
      org.apache.spark.sql.functions.typedlit(pvs.map(_.toSeq).toSeq))
}
