package graft.funcs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Unicode normalization (java.text.Normalizer — the JDK's
  * implementation of UAX #15). The dedup-correctness primitive every text
  * pipeline needs BEFORE any fingerprint/shingle/fuzzy stage: canonically
  * equivalent strings with different code-point sequences (NFC "é" vs
  * NFD "e"+U+0301) hash differently, so un-normalized corpora leak
  * duplicates straight through exact AND near dedup. Normalize once at
  * ingestion, then every downstream hash agrees.
  *
  * Fast path: `Normalizer.isNormalized` is a cheap scan and almost all
  * real text is already NFC — the common case returns the input string
  * untouched (no allocation), so normalization costs ~one extra pass over
  * the characters, not a rebuild.
  *
  * Oracle note: NFC replays in DuckDB (`nfc_normalize`); NFD/NFKC/NFKD
  * have no DuckDB counterpart and are spec-pinned instead.
  */
case class UnicodeNormalize(child: Expression,
                            form: java.text.Normalizer.Form)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, form)) u
    else UTF8String.fromString(java.text.Normalizer.normalize(s, form))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("nform", form,
      classOf[java.text.Normalizer.Form].getName)
    nullSafeCodeGen(ctx, ev, v => {
      val s = ctx.freshName("s")
      s"""
         |String $s = $v.toString();
         |${ev.value} = java.text.Normalizer.isNormalized($s, $f)
         |  ? $v
         |  : org.apache.spark.unsafe.types.UTF8String.fromString(
         |      java.text.Normalizer.normalize($s, $f));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** Column API of the text expressions. Each call resolves its `graft_*`
  * name through the session's function registry, which
  * [[graft.GraftExtensions]] wires. */
object TextFunctions {

  private[graft] val NormName = "graft_unicode_normalize"

  /** Column API: Unicode-normalize a string column (`form` one of
    * NFC|NFD|NFKC|NFKD; default NFC — the canonical ingestion form). */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.functions.call_function(NormName, text,
      org.apache.spark.sql.functions.lit(form))

  /** Accent folding (the CCNet-lineage normalize stage): NFD-decompose,
    * then drop combining marks (Unicode category Mn) — "crème brûlée" →
    * "creme brulee". Composition of [[unicodeNormalize]] and a codegen'd
    * regexp_replace, so it stays a zero-shuffle projection; replays in
    * DuckDB as `strip_accents` (q167 pins the parity). Letters that are
    * NOT base+mark compositions (ø, đ, ł) pass through unchanged in BOTH
    * engines — folding those is transliteration, not normalization. */
  def stripAccents(text: Column): Column =
    org.apache.spark.sql.functions.regexp_replace(
      unicodeNormalize(text, "NFD"), "\\p{Mn}", "")
}
