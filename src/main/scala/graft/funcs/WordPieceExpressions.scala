package graft.funcs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece tokenization (Devlin et al. 2019, BERT's tokenizer) as
  * codegen'd Catalyst expressions — the greedy longest-match-first
  * sibling of the BPE ([[BpeCodec]]) and unigram-LM families, completing
  * the production-tokenizer triad.
  *
  * Pipeline per row: lowercase (uncased discipline, `lower = true`),
  * pre-tokenize into letter runs / digit runs / SINGLE punctuation chars
  * (BERT's `_run_split_on_punc` — unlike the BPE family's punctuation
  * RUNS, each punctuation character is its own word), then per word the
  * canonical WordPiece loop: repeatedly take the LONGEST vocabulary piece
  * matching at the cursor (continuations carry the `##` prefix); any
  * position with no match makes the WHOLE word `unk` (BERT's `is_bad`
  * rule, not a per-char fallback); words longer than `maxChars` code
  * points are `unk` outright. Accent folding is deliberately NOT built
  * in — compose with [[TextFunctions.stripAccents]] upstream, the same
  * separation the engine uses everywhere (BERT's `strip_accents` default
  * tracks `do_lower_case`; here it is explicit).
  *
  * The vocabulary ships inside the expression (one deserialized table per
  * task binary, the [[BpeCodec]] discipline), matches run on a hash set,
  * and per-word results are memoized per JVM — Zipf makes the working set
  * tiny. Everything runs inside whole-stage codegen; zero shuffles.
  */
final class WordPieceCodec(val vocab: Array[String], val unk: String,
                           val maxChars: Int, val lower: Boolean)
    extends Serializable {

  @transient private lazy val vset: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    var i = 0
    while (i < vocab.length) { s.add(vocab(i)); i += 1 }
    s
  }

  @transient private lazy val ids: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) { m.putIfAbsent(vocab(i), Integer.valueOf(i)); i += 1 }
    m
  }

  // letter runs, digit runs, single punctuation chars; whitespace dropped
  @transient private lazy val preTok =
    java.util.regex.Pattern.compile("\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]")

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** The canonical greedy longest-match loop over one word. */
  def wordPiece(word: String): Array[String] = {
    val hit = cache.get(word)
    if (hit != null) return hit
    val res: Array[String] =
      if (word.codePointCount(0, word.length) > maxChars) Array(unk)
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var start = 0
        var bad = false
        while (!bad && start < word.length) {
          var end = word.length
          var cur: String = null
          while (cur == null && end > start) {
            val sub =
              if (start > 0) "##" + word.substring(start, end)
              else word.substring(start, end)
            if (vset.contains(sub)) cur = sub
            // step back one CODE POINT, never through a surrogate pair
            else end -= Character.charCount(word.codePointBefore(end))
          }
          if (cur == null) bad = true
          else { out += cur; start = end }
        }
        if (bad) Array(unk) else out.toArray
      }
    if (cache.size() > 65536) cache.clear()
    cache.put(word, res)
    res
  }

  def encode(text: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = preTok.matcher(if (lower) text.toLowerCase(java.util.Locale.ROOT) else text)
    while (m.find()) out ++= wordPiece(m.group())
    out.toArray
  }

  def encodeToArrayData(text: UTF8String): ArrayData =
    new GenericArrayData(
      encode(text.toString).map(t => UTF8String.fromString(t): Any))

  /** Vocabulary ids (index into `vocab`); a token outside the vocabulary
    * — only possible when `unk` itself is unlisted — maps to -1. */
  def encodeIdsToArrayData(text: UTF8String): ArrayData = {
    val toks = encode(text.toString)
    val out = new Array[Int](toks.length)
    var i = 0
    while (i < toks.length) {
      val id = ids.get(toks(i))
      out(i) = if (id == null) -1 else id.intValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Ids back to text, BERT's `convert_tokens_to_string` contract:
    * word-initial pieces join with a single space, `##` continuations
    * concatenate — whitespace-and-punctuation-spacing lossy by design.
    * Invalid ids (out of range, -1, null) contribute nothing, the
    * [[BpeCodec.decodeIds]] placeholder policy. */
  def decodeIds(ids0: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder()
    var i = 0
    val n = ids0.numElements()
    while (i < n) {
      if (!ids0.isNullAt(i)) {
        val id = ids0.getInt(i)
        if (id >= 0 && id < vocab.length) {
          val t = vocab(id)
          // any ##-prefixed piece is a continuation — including a
          // degenerate "##" vocab entry (empty suffix), which must NOT
          // render as a word-initial '##': the encoder treats every
          // ##-prefixed piece as a continuation, and decode mirrors it
          if (t.startsWith("##")) sb.append(t, 2, t.length)
          else {
            if (sb.length() > 0) sb.append(' ')
            sb.append(t)
          }
        }
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  @transient private lazy val digest: Int =
    31 * (31 * (31 * java.util.Arrays.hashCode(vocab.asInstanceOf[Array[AnyRef]]) +
      unk.hashCode) + maxChars) + (if (lower) 1 else 0)
  override def equals(other: Any): Boolean = other match {
    case c: WordPieceCodec =>
      unk == c.unk && maxChars == c.maxChars && lower == c.lower &&
        java.util.Arrays.equals(vocab.asInstanceOf[Array[AnyRef]],
          c.vocab.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = digest
}

/** WordPiece tokens of a text column: `array<string>`. */
case class WordPieceEncode(child: Expression, codec: WordPieceCodec)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    codec.encodeToArrayData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wpCodec", codec, classOf[WordPieceCodec].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.encodeToArrayData($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceEncode =
    copy(child = newChild)
}

/** WordPiece vocabulary ids of a text column: `array<int>`. */
case class WordPieceEncodeIds(child: Expression, codec: WordPieceCodec)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    codec.encodeIdsToArrayData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wpCodec", codec, classOf[WordPieceCodec].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.encodeIdsToArrayData($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceEncodeIds =
    copy(child = newChild)
}

/** Text back from WordPiece ids: `string` (see [[WordPieceCodec.decodeIds]]). */
case class WordPieceDecodeIds(child: Expression, codec: WordPieceCodec)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    codec.decodeIds(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wpCodec", codec, classOf[WordPieceCodec].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.decodeIds($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceDecodeIds =
    copy(child = newChild)
}

/** Loader for the released WordPiece artifact — BERT's `vocab.txt`
  * format: ONE TOKEN PER LINE, id = 0-based line number. That is the
  * whole format; there is no header, and a blank line (should one occur)
  * is a real empty-string token slot whose POSITION must be preserved or
  * every later id shifts — so nothing is filtered, only the trailing
  * newline's phantom last line is dropped. Pair with
  * [[graft.ext.TextStats.wordPieceStats]] (`unk` must name the file's
  * [UNK] entry) to run a released BERT vocabulary verbatim. */
object WordPieceFiles {

  def parseVocabTxt(content: String): Seq[String] = {
    // split preserving empty lines; linesIterator drops a trailing "\n"'s
    // phantom line already, but not interior empties — which is correct
    content.linesIterator.map(_.stripLineEnd).toSeq
  }

  def loadVocab(path: String): Seq[String] =
    parseVocabTxt(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}

/** Column API of the WordPiece expressions. Each call resolves its
  * `graft_*` name through the session's function registry, which
  * [[graft.GraftExtensions]] wires. */
object WordPieceFunctions {

  private[graft] val EncodeName = "graft_wordpiece_encode"
  private[graft] val IdsName = "graft_wordpiece_ids"
  private[graft] val DecodeName = "graft_wordpiece_decode"

  /** Column API: WordPiece tokens. */
  def wordPieceEncode(text: Column, vocab: Seq[String],
                      unk: String = "[UNK]", maxChars: Int = 100,
                      lower: Boolean = true): Column =
    org.apache.spark.sql.functions.call_function(EncodeName, text,
      org.apache.spark.sql.functions.lit(vocab.toArray),
      org.apache.spark.sql.functions.lit(unk),
      org.apache.spark.sql.functions.lit(maxChars),
      org.apache.spark.sql.functions.lit(lower))

  /** Column API: WordPiece vocabulary ids (id = index in `vocab`). */
  def wordPieceIds(text: Column, vocab: Seq[String],
                   unk: String = "[UNK]", maxChars: Int = 100,
                   lower: Boolean = true): Column =
    org.apache.spark.sql.functions.call_function(IdsName, text,
      org.apache.spark.sql.functions.lit(vocab.toArray),
      org.apache.spark.sql.functions.lit(unk),
      org.apache.spark.sql.functions.lit(maxChars),
      org.apache.spark.sql.functions.lit(lower))

  /** Column API: text back from WordPiece ids (space-joined words, `##`
    * continuations fused — BERT's `convert_tokens_to_string`). */
  def wordPieceDecode(ids: Column, vocab: Seq[String],
                      unk: String = "[UNK]", maxChars: Int = 100,
                      lower: Boolean = true): Column =
    org.apache.spark.sql.functions.call_function(DecodeName, ids,
      org.apache.spark.sql.functions.lit(vocab.toArray),
      org.apache.spark.sql.functions.lit(unk),
      org.apache.spark.sql.functions.lit(maxChars),
      org.apache.spark.sql.functions.lit(lower))
}
