package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.funcs._

/** The one wiring of the graft SQL functions (the codegen'd `graft_*`
  * expressions behind `VectorFunctions`, `BpeFunctions`,
  * `WordPieceFunctions` and `TextFunctions`). The Column API resolves them
  * by name through the session's function registry, so a session must be
  * wired before any graft operator runs on it. There are two ways, and
  * they install the same builders:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions   // at session build
  *   graft.GraftExtensions.register(spark)        // once, on a running session
  * }}}
  *
  * The extension is the deployment route: set it once in
  * `spark-defaults.conf` and every JDBC/notebook/job session (and every
  * `newSession()` of one) is graft-capable. [[GraftExtensions.register]]
  * is for a session that is already running, where the static conf can no
  * longer be set; it wires that session only, so a `newSession()` of it
  * needs its own call. Operators never touch the registry.
  *
  * Also injected: [[GlobalWindowGuard]], an OPT-IN optimizer-level scale
  * gate (default off — see its doc). Injecting it unconditionally is safe
  * because it no-ops unless its conf flag is set on the session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => GlobalWindowGuard)
  }
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  // ---- literal arguments (tables and flags fold into the expression) ----

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(b: Boolean, BooleanType) => b
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  private def stringLit(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def stringArrayLit(e: Expression, what: String): Array[String] = e match {
    case Literal(d: ArrayData, ArrayType(StringType, _)) =>
      d.toArray[UTF8String](StringType).map(_.toString)
    case other => throw new IllegalArgumentException(
      s"$what must be an array<string> literal, got $other")
  }

  private def longArrayLit(e: Expression): Seq[Long] = e match {
    case Literal(d: ArrayData, ArrayType(LongType, _)) => d.toLongArray().toSeq
    case other => throw new IllegalArgumentException(
      s"expected an array<long> literal, got $other")
  }

  /** array<array<double>> literal (the packed pivot payload). */
  private def doubleMatrixLit(e: Expression): Array[Array[Double]] = e match {
    case Literal(d: ArrayData, ArrayType(ArrayType(DoubleType, _), _)) =>
      Array.tabulate(d.numElements())(i => d.getArray(i).toDoubleArray())
    case other => throw new IllegalArgumentException(
      s"expected an array<array<double>> literal, got $other")
  }

  /** array<array<array<double>>> literal (the packed PQ codebook). */
  private def tripleDoubleLit(e: Expression): Array[Array[Array[Double]]] = e match {
    case Literal(d: ArrayData, ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) =>
      Array.tabulate(d.numElements()) { i =>
        val inner = d.getArray(i)
        Array.tabulate(inner.numElements())(j => inner.getArray(j).toDoubleArray())
      }
    case other => throw new IllegalArgumentException(
      s"expected an array<array<array<double>>> literal, got $other")
  }

  private def formLit(e: Expression): java.text.Normalizer.Form = {
    val s = stringLit(e, "form")
    try java.text.Normalizer.Form.valueOf(s.toUpperCase)
    catch {
      case _: IllegalArgumentException => throw new IllegalArgumentException(
        s"form must be one of NFC|NFD|NFKC|NFKD, got '$s'")
    }
  }

  private def wordPieceCodec(exprs: Seq[Expression]): WordPieceCodec =
    new WordPieceCodec(stringArrayLit(exprs(1), "vocab"),
      stringLit(exprs(2), "unk"), intLit(exprs(3), "maxChars"),
      boolLit(exprs(4), "lower"))

  /** Every graft function: (name, builder). Merges, vocabularies,
    * codebooks and pivots arrive as literals and are folded into the
    * expression at resolution, so executors get one deserialized table per
    * task binary, never a per-row argument. An optional trailing boolean
    * on the BPE functions selects the byte-level GPT-2 discipline. */
  private val builders: Seq[(String, Builder)] = Seq(
    (VectorFunctions.DotName, e => DotProductFloat(e.head, e(1))),
    (VectorFunctions.SigName, e => LshSignatureFloat(e.head,
      intLit(e(1), "bits"),
      if (e.size > 2) intLit(e(2), "offset") else 0,
      e.size > 3 && boolLit(e(3), "mix"),
      if (e.size > 4) longArrayLit(e(4)) else Nil)),
    (VectorFunctions.MinHashName, e =>
      MinHashSignature(e.head, longArrayLit(e(1)), longArrayLit(e(2)))),
    (VectorFunctions.SimHashName, e =>
      SimHashSignature(e.head, boolLit(e(1), "useMd5"))),
    (VectorFunctions.RollName, e => RollingHash(e.head)),
    (VectorFunctions.BloomName, {
      case Seq(h, Literal(b: Array[Byte], BinaryType)) => BloomMightContain(h, b)
      case Seq(_, other) => throw new IllegalArgumentException(
        s"filter must be a binary literal, got $other")
      case args => throw new IllegalArgumentException(
        s"${VectorFunctions.BloomName} takes (probe: bigint, filter: binary " +
          s"literal), got ${args.size} arguments")
    }),
    (VectorFunctions.PqEncodeName, e =>
      PqEncodeCodes(e.head, tripleDoubleLit(e(1)))),
    (VectorFunctions.AdcSumName, e => AdcLookupSum(e.head, e(1))),
    (VectorFunctions.NearestPivotName, e =>
      NearestPivotIdx(e.head, doubleMatrixLit(e(1)))),
    (BpeFunctions.EncodeName, e => BpeEncode(e.head,
      new BpeCodec(stringArrayLit(e(1), "merges"), Array.empty,
        e.size > 2 && boolLit(e(2), "byteLevel")))),
    (BpeFunctions.IdsName, e => BpeEncodeIds(e.head,
      new BpeCodec(stringArrayLit(e(1), "merges"), stringArrayLit(e(2), "vocab"),
        e.size > 3 && boolLit(e(3), "byteLevel")))),
    (BpeFunctions.DecodeName, e => BpeDecodeIds(e.head,
      new BpeCodec(Array.empty, stringArrayLit(e(1), "vocab"),
        e.size > 2 && boolLit(e(2), "byteLevel")))),
    (BpeFunctions.DetokName, e => BpeDecodeTokens(e.head,
      new BpeCodec(Array.empty, Array.empty,
        e.size > 1 && boolLit(e(1), "byteLevel")))),
    (WordPieceFunctions.EncodeName, e => WordPieceEncode(e.head, wordPieceCodec(e))),
    (WordPieceFunctions.IdsName, e => WordPieceEncodeIds(e.head, wordPieceCodec(e))),
    (WordPieceFunctions.DecodeName, e => WordPieceDecodeIds(e.head, wordPieceCodec(e))),
    (TextFunctions.NormName, e => UnicodeNormalize(e.head, formLit(e(1)))))

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    builders.map { case (n, b) =>
      (FunctionIdentifier(n), new ExpressionInfo(classOf[GraftExtensions].getName, n), b)
    }

  /** Wire a running session: add every graft function its registry lacks.
    * A session built with the extension already has them all, so this
    * writes nothing there. Wires `spark` only; a `newSession()` of a
    * session without the extension needs its own call. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, b) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, b)
    }
  }
}

/** Opt-in optimizer gate against the single most common scale killer in
  * user-composed pipelines: a window function with NO partition spec,
  * which funnels the entire input through one task. Spark only WARNs
  * ("Moving all data to a single partition"), and on a 100 TB input the
  * warning scrolls past and the job hangs for hours instead of failing.
  * With
  *
  * {{{
  *   spark.graft.failOnGlobalWindow=true
  * }}}
  *
  * set on a session (sessions built via [[GraftExtensions]]), any plan
  * that still contains a partitionless Window AFTER optimization fails
  * fast at planning time with a message naming the window expressions —
  * the production form of the PlansSpec regression gate. Default off:
  * the tabulation layer legitimately runs partitionless windows over
  * presentation-sized pivots (see PlansSpec's allowlist), so the flag is
  * a per-job dial for corpus-scale pipelines, not a blanket policy.
  *
  * Injected as a late optimizer rule; it rewrites nothing (identity), so
  * it cannot perturb any plan — it only inspects. */
object GlobalWindowGuard extends Rule[LogicalPlan] {
  val FlagKey = "spark.graft.failOnGlobalWindow"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(FlagKey, "false").toBoolean) {
      plan.foreach {
        case w: Window if w.partitionSpec.isEmpty =>
          throw new IllegalStateException(
            s"$FlagKey: plan contains a partitionless Window (all rows " +
              s"would funnel through ONE task at scale): " +
              w.windowExpressions.map(_.sql).mkString(", ") +
              " — partition the window, or unset the flag for " +
              "presentation-sized inputs")
        case _ =>
      }
    }
    plan
  }
}
