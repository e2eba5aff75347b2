package graft.funcs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Real byte-pair-encoding APPLY with a caller-supplied merges ranking
  * (the GPT-2 `merges.txt` line format: one `"left right"` pair per rank,
  * highest priority first — Sennrich et al. 2016; Radford et al. 2019).
  * Closes the gap [[graft.ext.TextStats.bpeTokenCount]] left open: that is
  * pre-tokenizer granularity only, this performs the iterative merge loop
  * and emits exact tokens / ids / counts.
  *
  * Pipeline per row: pre-tokenize with [[graft.ext.TextStats.BpePattern]]
  * (pure-whitespace runs dropped, matching `bpeTokenCount`), then run the
  * canonical min-rank merge loop over each pre-token's characters. Merges
  * never cross pre-token boundaries — the GPT-2 discipline. Character-level
  * (not byte-level): callers holding byte-level GPT-2 tables apply the
  * public byte→unicode remap to their text first.
  *
  * Scale shape: the merges table rides into executors inside the expression
  * (one task-binary copy per executor, same route as the Bloom filter in
  * [[BloomMightContain]]); evaluation is a single static call per row from
  * generated code, so the scan stays inside whole-stage codegen with zero
  * shuffles. A per-JVM bounded memo cache exploits word repetition (Zipf:
  * most pre-tokens are the same few thousand words).
  *
  * Determinism note for oracles: for WELL-FORMED tables (each merge's sides
  * are single characters or outputs of strictly earlier merges — every
  * table produced by BPE training is) the min-rank loop is equivalent to
  * applying merges one rank at a time, left-to-right — which is how the
  * q91 oracle replays it in SQL with nested `replace` passes.
  *
  * `byteLevel = true` runs the PRODUCTION GPT-2 discipline byte-for-byte
  * (tables loaded via [[BpeFiles]] from the public `merges.txt` /
  * `vocab.json` formats): the exact GPT-2 pre-tokenizer regex (including
  * its `\s+(?!\S)` trailing-whitespace split, which the default
  * pre-tokenizer approximates), whitespace runs KEPT as mergeable
  * pre-tokens (that's where `Ġ`/`Ċ` tokens come from), and each
  * pre-token's UTF-8 BYTES remapped through the public bytes→unicode
  * stand-in alphabet before the merge loop — so base symbols are bytes,
  * exactly as the released tables expect.
  */
final class BpeCodec(val merges: Array[String], val vocab: Array[String],
                     val byteLevel: Boolean)
    extends Serializable {

  def this(merges: Array[String], vocab: Array[String]) =
    this(merges, vocab, false)

  // rank lookup keyed "left\u0000right"; first occurrence wins on duplicates
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      val line = merges(i)
      val sp = line.indexOf(' ')
      require(sp > 0 && sp < line.length - 1,
        s"merges[$i] is not a 'left right' pair: '$line'")
      m.putIfAbsent(line.substring(0, sp) + "\u0000" + line.substring(sp + 1),
        Integer.valueOf(i))
      i += 1
    }
    m
  }

  @transient private lazy val ids: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) { m.putIfAbsent(vocab(i), Integer.valueOf(i)); i += 1 }
    m
  }

  // Byte-level mode must match the reference pre-tokenizer, which uses a
  // Unicode-aware \s (Python `regex`): compile with UNICODE_CHARACTER_CLASS
  // so NBSP/U+2028 etc. classify as whitespace, not punctuation. The
  // non-byte-level TextStats.BpePattern keeps JDK defaults — it is shared
  // with the corpus-stats operators whose oracles pin ASCII-\s semantics.
  @transient private lazy val preTok =
    if (byteLevel)
      java.util.regex.Pattern.compile(BpeCodec.Gpt2Pattern,
        java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    else java.util.regex.Pattern.compile(graft.ext.TextStats.BpePattern)
  @transient private lazy val ws = java.util.regex.Pattern.compile("^\\s+$")

  // bounded per-JVM memo (word -> merged tokens); cleared rather than
  // evicted — Zipf means the working set refills in microseconds
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** The canonical min-rank merge loop over one pre-token. */
  def bpeWord(word: String): Array[String] = {
    if (word.length <= 1) return Array(word)
    val hit = cache.get(word)
    if (hit != null) return hit
    // split by CODE POINTS, not UTF-16 units: a surrogate pair must be one
    // base symbol (and it's what codepoint-based engines like RE2 see)
    var parts = new Array[String](word.length)
    var n = 0
    var ci = 0
    while (ci < word.length) {
      val cc = Character.charCount(word.codePointAt(ci))
      parts(n) = word.substring(ci, ci + cc)
      n += 1
      ci += cc
    }
    if (n < parts.length) parts = java.util.Arrays.copyOf(parts, n)
    var i = 0
    var done = false
    while (!done && n > 1) {
      // find the lowest-rank adjacent pair
      var best = -1
      var bestRank = Integer.MAX_VALUE
      i = 0
      while (i < n - 1) {
        val r = ranks.get(parts(i) + "\u0000" + parts(i + 1))
        if (r != null && r.intValue() < bestRank) { bestRank = r.intValue(); best = i }
        i += 1
      }
      if (best < 0) done = true
      else {
        // merge ALL occurrences of that pair, left to right
        val a = parts(best)
        val b = parts(best + 1)
        val out = new Array[String](n)
        var o = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && parts(i) == a && parts(i + 1) == b) {
            out(o) = a + b; o += 1; i += 2
          } else { out(o) = parts(i); o += 1; i += 1 }
        }
        parts = out
        n = o
      }
    }
    val res = java.util.Arrays.copyOf(parts, n)
    if (cache.size() > 65536) cache.clear()
    cache.put(word, res)
    res
  }

  def encode(text: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = preTok.matcher(text)
    while (m.find()) {
      val pt = m.group()
      if (byteLevel) out ++= bpeWord(BpeCodec.byteLevelEncode(pt))
      else if (!ws.matcher(pt).matches()) out ++= bpeWord(pt)
    }
    out.toArray
  }

  /** Codegen entry: tokens as Spark ArrayData of UTF8String. */
  def encodeToArrayData(text: UTF8String): ArrayData =
    new GenericArrayData(
      encode(text.toString).map(t => UTF8String.fromString(t): Any))

  /** Decode vocabulary ids back to text — the inverse of
    * [[encodeIdsToArrayData]] for known ids: tokens concatenate directly
    * (pre-tokens carry their own leading spaces), and in byte-level mode
    * the stand-in alphabet maps back to UTF-8 bytes, so
    * `decode(encode(text)) == text` whenever every token is in-vocabulary.
    * Invalid ids (out of range, e.g. the -1 unknown marker) contribute
    * nothing — a lossy-by-contract placeholder policy, stated rather than
    * thrown: a per-row exception is the wrong failure mode at corpus
    * scale. Non-byte-level round-trips are whitespace-lossy (the default
    * encoder drops pure-whitespace runs). */
  def decodeIds(ids0: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder()
    var i = 0
    val n = ids0.numElements()
    while (i < n) {
      // a null element is treated like the -1 unknown marker (skipped),
      // never read as id 0
      if (!ids0.isNullAt(i)) {
        val id = ids0.getInt(i)
        if (id >= 0 && id < vocab.length) sb.append(vocab(id))
      }
      i += 1
    }
    val s = sb.toString
    UTF8String.fromString(
      if (byteLevel) BpeCodec.byteLevelDecode(s) else s)
  }

  /** Decode TOKEN STRINGS back to text — the vocab-free inverse of
    * [[encodeToArrayData]]: BPE tokens concatenate directly (pre-tokens
    * carry their own leading spaces), and in byte-level mode the stand-in
    * alphabet maps back to UTF-8 bytes. Unlike [[decodeIds]] this cannot
    * lose unknown tokens (there is no vocabulary lookup to miss), so
    * `detok(encode(text)) == text` holds for EVERY byte-level input —
    * the exact round-trip law q208 pins corpus-wide. NULL elements
    * contribute nothing (same placement as decodeIds' invalid-id rule). */
  def decodeTokens(toks: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder()
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      if (!toks.isNullAt(i)) sb.append(toks.getUTF8String(i).toString)
      i += 1
    }
    val s = sb.toString
    UTF8String.fromString(
      if (byteLevel) BpeCodec.byteLevelDecode(s) else s)
  }

  /** Codegen entry: vocabulary ids (index into `vocab`; unknown → -1). */
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

  // value equality on the tables, digest-cached (expressions embedding the
  // codec get sane equals/semanticEquals without hashing megabytes per call)
  @transient private lazy val digest: Int =
    31 * (31 * java.util.Arrays.hashCode(merges.asInstanceOf[Array[AnyRef]]) +
      java.util.Arrays.hashCode(vocab.asInstanceOf[Array[AnyRef]])) +
      (if (byteLevel) 1 else 0)
  override def equals(other: Any): Boolean = other match {
    case c: BpeCodec =>
      byteLevel == c.byteLevel &&
        java.util.Arrays.equals(merges.asInstanceOf[Array[AnyRef]],
          c.merges.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.equals(vocab.asInstanceOf[Array[AnyRef]],
          c.vocab.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = digest
}

object BpeCodec {

  /** The GPT-2 pre-tokenizer regex, verbatim (Radford et al. 2019,
    * encoder.py). Differs from [[graft.ext.TextStats.BpePattern]] only in
    * the `\s+(?!\S)` alternative: a whitespace run followed by more text
    * keeps its LAST space attached to the next token. */
  val Gpt2Pattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  /** The public GPT-2 bytes→unicode stand-in alphabet (encoder.py
    * `bytes_to_unicode`): printable latin bytes map to themselves, the
    * rest take 256+k in increasing byte order — 0x20 ' ' → U+0120 'Ġ',
    * 0x0A '\n' → U+010A 'Ċ', etc. Total 256 distinct single-char symbols,
    * so byte-level base symbols survive any text channel. */
  val ByteToChar: Array[Char] = {
    val arr = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      val keep = (b >= 33 && b <= 126) || (b >= 161 && b <= 172) ||
        (b >= 174 && b <= 255)
      if (keep) arr(b) = b.toChar
      else { arr(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    arr
  }

  /** Remap a pre-token's UTF-8 bytes into the stand-in alphabet (one char
    * per byte) — the form the released GPT-2 tables merge over. */
  def byteLevelEncode(preToken: String): String = {
    val bytes = preToken.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = ByteToChar(bytes(i) & 0xff); i += 1 }
    new String(out)
  }

  /** Inverse of [[ByteToChar]]: stand-in char → original byte, −1 for
    * chars outside the 256-symbol alphabet. */
  private val CharToByte: Array[Int] = {
    val arr = Array.fill(324)(-1) // max stand-in is 256 + 67 = 323
    var b = 0
    while (b < 256) { arr(ByteToChar(b)) = b; b += 1 }
    arr
  }

  /** Map stand-in text back to the UTF-8 string it encodes — the decode
    * half of the byte-level discipline. Chars outside the alphabet (never
    * produced by [[byteLevelEncode]] or a well-formed vocab) pass through
    * as their own UTF-8 bytes rather than corrupting the stream. */
  def byteLevelDecode(standIn: String): String = {
    val buf = new java.io.ByteArrayOutputStream(standIn.length)
    var i = 0
    while (i < standIn.length) {
      val c = standIn.charAt(i)
      val b = if (c < 324) CharToByte(c) else -1
      if (b >= 0) buf.write(b)
      else {
        val raw = String.valueOf(c)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        buf.write(raw, 0, raw.length)
      }
      i += 1
    }
    new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** BPE tokens of a text column: `array<string>`. */
case class BpeEncode(child: Expression, codec: BpeCodec)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    codec.encodeToArrayData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCodec", codec, classOf[BpeCodec].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.encodeToArrayData($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** BPE vocabulary ids of a text column: `array<int>`, unknown tokens -1. */
case class BpeEncodeIds(child: Expression, codec: BpeCodec)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    codec.encodeIdsToArrayData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCodec", codec, classOf[BpeCodec].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.encodeIdsToArrayData($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeIds =
    copy(child = newChild)
}

/** Text back from BPE vocabulary ids: `string` (see [[BpeCodec.decodeIds]]
  * for the invalid-id and byte-level semantics). */
case class BpeDecodeIds(child: Expression, codec: BpeCodec)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    codec.decodeIds(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCodec", codec, classOf[BpeCodec].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.decodeIds($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeDecodeIds =
    copy(child = newChild)
}

/** Text back from BPE token strings: `string` — the vocab-free decode
  * (see [[BpeCodec.decodeTokens]] for the exact-round-trip law). */
case class BpeDecodeTokens(child: Expression, codec: BpeCodec)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    codec.decodeTokens(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCodec", codec, classOf[BpeCodec].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.decodeTokens($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeDecodeTokens =
    copy(child = newChild)
}

/** Column API of the BPE expressions. Each call resolves its `graft_*`
  * name through the session's function registry, which
  * [[graft.GraftExtensions]] wires. */
object BpeFunctions {

  private[graft] val EncodeName = "graft_bpe_encode"
  private[graft] val IdsName = "graft_bpe_ids"
  private[graft] val DecodeName = "graft_bpe_decode"
  private[graft] val DetokName = "graft_bpe_detok"

  /** Column API: BPE tokens under `merges` (GPT-2 `"left right"` lines,
    * rank order). `byteLevel = true` runs the production GPT-2 byte-level
    * discipline (see [[BpeCodec]]) — pair with tables from [[BpeFiles]]. */
  def bpeEncode(text: Column, merges: Seq[String],
                byteLevel: Boolean = false): Column =
    org.apache.spark.sql.functions.call_function(EncodeName, text,
      org.apache.spark.sql.functions.lit(merges.toArray),
      org.apache.spark.sql.functions.lit(byteLevel))

  /** Column API: BPE vocabulary ids (id = index in `vocab`, unknown -1). */
  def bpeIds(text: Column, merges: Seq[String], vocab: Seq[String],
             byteLevel: Boolean = false): Column =
    org.apache.spark.sql.functions.call_function(IdsName, text,
      org.apache.spark.sql.functions.lit(merges.toArray),
      org.apache.spark.sql.functions.lit(vocab.toArray),
      org.apache.spark.sql.functions.lit(byteLevel))

  /** Column API: text back from an `array<int>` of vocabulary ids — the
    * decode half of the round-trip (exact in byte-level mode when every
    * token is known; see [[BpeCodec.decodeIds]]). */
  def bpeDecode(ids: Column, vocab: Seq[String],
                byteLevel: Boolean = false): Column =
    org.apache.spark.sql.functions.call_function(DecodeName, ids,
      org.apache.spark.sql.functions.lit(vocab.toArray),
      org.apache.spark.sql.functions.lit(byteLevel))

  /** Column API: text back from an `array<string>` of BPE tokens — the
    * vocab-free decode; exact for every byte-level stream (no unknown-id
    * loss, see [[BpeCodec.decodeTokens]]). */
  def bpeDetok(tokens: Column, byteLevel: Boolean = false): Column =
    org.apache.spark.sql.functions.call_function(DetokName, tokens,
      org.apache.spark.sql.functions.lit(byteLevel))
}

/** Loaders for the PUBLIC GPT-2 tokenizer file formats — so a production
  * tokenizer runs on this engine byte-for-byte from its released artifacts
  * (Radford et al. 2019; the same `merges.txt` + `vocab.json` pair ships
  * with GPT-2, RoBERTa, and every HF "byte-level BPE" tokenizer).
  * File reads are DRIVER-side (the tables are model-sized); the parsed
  * arrays then ride to executors inside the expression like every other
  * codec table. */
object BpeFiles {

  /** Parse `merges.txt` content: one `"left right"` pair per line in rank
    * order; the `#version:` header and blank lines are skipped. ONLY the
    * version header is treated as a comment — released merges.txt files
    * contain genuine merge lines whose left token starts with '#'
    * (e.g. `# #`, `## #`: how the `##`/`###` vocab tokens are built), and
    * the reference loaders skip exactly the header line, nothing else. */
  def parseMerges(content: String): Seq[String] =
    content.linesIterator.map(_.stripLineEnd)
      .filter(l => l.nonEmpty && !l.startsWith("#version")).toSeq

  /** Parse `vocab.json` content (one JSON object, token → id) into the
    * dense rank-ordered vocabulary array [[BpeCodec]] indexes — ids must
    * be exactly 0..n-1, each once (the released files are). Uses the
    * Jackson shipped on the Spark classpath; JSON escapes (`Ġ` and
    * friends) decode exactly as the reference loaders do. */
  def parseVocabJson(content: String): Seq[String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(content)
    require(node.isObject, "vocab json must be one token -> id object")
    val n = node.size()
    val arr = new Array[String](n)
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      val id = if (e.getValue.isInt) e.getValue.asInt() else -1
      require(id >= 0 && id < n && arr(id) == null,
        s"vocab ids must be dense 0..${n - 1}, each exactly once " +
          s"(token '${e.getKey}' -> ${e.getValue})")
      arr(id) = e.getKey
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
  }

  def loadMerges(path: String): Seq[String] =
    parseMerges(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  def loadVocab(path: String): Seq[String] =
    parseVocabJson(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}
