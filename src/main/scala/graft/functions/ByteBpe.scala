package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BYTE-level BPE (r16 verdict item 3) — the production GPT-family
  * tokenizer alphabet. [[BpeEncode]] merges over CODE POINTS, which is
  * correct for its gated table but leaves out-of-vocabulary code
  * points unmergeable atoms; production vocabularies instead operate
  * over the 256 UTF-8 BYTES remapped to printable unicode chars
  * (Radford et al. 2019's `bytes_to_unicode`), so ANY input — any
  * language, any plane, any binary-ish junk a 100 TB crawl contains —
  * tokenizes with zero OOV from a closed 256-entry initial alphabet.
  *
  * The remap (reproduced exactly from the public GPT-2 construction):
  * the 188 "printable" bytes (`!`..`~`, `¡`..`¬`, `®`..`ÿ`) map to
  * themselves; the other 68 map to U+0100.. in ascending byte order —
  * notably space (0x20) → `Ġ` (U+0120), the famous GPT-2 space
  * marker. Every remap char is a single BMP code point < U+0144, so
  * the remapped string plugs into the SAME merge machinery
  * ([[BpeEncode.Table]] + heap loop) and the SAME `|tok||tok|` frame
  * currency as the code-point encoder, and the chain-equivalence
  * proof gated by `q_bpe_tokens` carries over verbatim: the
  * DuckDB oracle replays the rank-order replace chain over the
  * remapped text (closed-form — see `q_bpe_bytelevel`).
  *
  * The remap is a BIJECTION byte ↔ char, so decode is total:
  * strip frames → unremap chars to bytes → UTF-8 decode
  * ([[BpeDecodeBytes]], gated lossless by `q_bpe_roundtrip`).
  *
  * Scale shape: identical to [[BpeEncode]] — per-row map work inside
  * whole-stage codegen, merge table rides the expression tree as a
  * plan constant, O(len·log len) per row independent of vocab size
  * (measured on an 8k-rule table by the BpeProf probe, last in commit
  * 7fdb09f). */
object ByteBpe {

  /** byte value → remap char. Printable bytes map to themselves; the
    * rest get U+0100+n in ascending byte order (the exact public
    * GPT-2 `bytes_to_unicode` assignment). */
  val byteToChar: Array[Char] = {
    val a = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      val printable = (b >= 0x21 && b <= 0x7E) ||
        (b >= 0xA1 && b <= 0xAC) || (b >= 0xAE && b <= 0xFF)
      if (printable) a(b) = b.toChar
      else { a(b) = (0x100 + n).toChar; n += 1 }
      b += 1
    }
    a
  }

  /** remap char → byte value; -1 for chars outside the remap image
    * (the decode guard). Sized to the max remap char + 1 (< U+0144). */
  private val charToByte: Array[Int] = {
    val max = byteToChar.max
    val a = Array.fill[Int](max + 1)(-1)
    var b = 0
    while (b < 256) { a(byteToChar(b)) = b; b += 1 }
    a
  }

  /** True iff `c` is in the remap-alphabet image — the only chars a
    * byte-level merge-rule side can be built from, since the input is
    * remapped BEFORE matching ([[BpeEncodeBytes.encodeBytes]]). */
  def isAlphabetChar(c: Char): Boolean =
    c.toInt < charToByte.length && charToByte(c.toInt) >= 0

  /** Reject a user-supplied byte-level merge table whose rule sides
    * contain non-alphabet chars (space, newline, raw multi-byte text):
    * such a rule can NEVER match the remapped atoms, so it would be
    * silently dead — the spec contract is that sides are written in
    * remap space (`Ġt`, not ` t`), and a violation must surface loudly
    * (advice r17). */
  def requireAlphabetSpec(merges: Seq[(String, String)]): Seq[(String, String)] = {
    merges.foreach { case (l, r) =>
      (l + r).foreach { c =>
        require(isAlphabetChar(c),
          s"bpe_encode_bytes: spec rule ('$l','$r') contains U+${"%04X".format(c.toInt)} " +
            "which is outside the byte-remap alphabet — the rule could never match " +
            "remapped input. Write byte-level spec sides in remap space " +
            "(e.g. 0x20 space is 'Ġ' U+0120).")
      }
    }
    merges
  }

  /** UTF-8 bytes of `s`, each remapped to its alphabet char. */
  def remap(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = byteToChar(bytes(i) & 0xFF); i += 1 }
    new String(out)
  }

  /** REPORTing UTF-8 decoder, one per executor thread (CharsetDecoder
    * is stateful and not thread-safe; per-row allocation would be the
    * hot-path cost). */
  private val strictUtf8 = ThreadLocal.withInitial[java.nio.charset.CharsetDecoder](() =>
    java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT))

  /** Inverse of [[remap]] — fails loudly on any char outside the
    * remap image AND on recovered bytes that are not valid UTF-8 (a
    * framed token stream corrupted anywhere upstream must surface,
    * not silently decode to mojibake — the default String decoder
    * would substitute U+FFFD, so the decode goes through a REPORTing
    * CharsetDecoder; review r17). */
  def unremap(s: String): String = {
    val bytes = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i).toInt
      val b = if (c < charToByte.length) charToByte(c) else -1
      require(b >= 0,
        s"byte_bpe: char U+${"%04X".format(c)} at $i is not a remap-alphabet char")
      bytes(i) = b.toByte
      i += 1
    }
    val dec = strictUtf8.get()
    dec.reset()
    try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    catch {
      case e: java.nio.charset.CharacterCodingException =>
        throw new IllegalArgumentException(
          s"byte_bpe: recovered bytes are not valid UTF-8 (${e.getMessage}) — " +
            "corrupted token stream must surface, not decode to U+FFFD")
    }
  }

  /** Left-fold merge rules that build the remap of `surface` char by
    * char — each rule's left side is the previous rule's output and
    * its right side a single alphabet char, so any concatenation of
    * folds is well-formed by construction ([[BpeEncode.Table]]'s
    * invariant). */
  private def fold(surface: String): Seq[(String, String)] = {
    val r = remap(surface)
    (1 until r.length).map(i => (r.substring(0, i), r.substring(i, i + 1)))
  }

  /** A merge of two earlier-learned surfaces (both must have been
    * fully built by earlier rules). */
  private def pair(l: String, r: String): (String, String) = (remap(l), remap(r))

  /** The gated byte-level merge table — 40 rules like the code-point
    * table, but exercising the full alphabet: ASCII pairs, the `Ġ`
    * space-prefix tokens, Latin-1 two-byte sequences (é/ñ/ü/ß), CJK
    * three-byte sequences built byte-wise then token-paired
    * (日+本 → 日本 → 日本語), Greek, and two four-byte NON-BMP code
    * points (😀 U+1F600, 𝄞 U+1D11E) whose remaps are 4-char runs —
    * the alphabet coverage a code-point table cannot express.
    * Duplicate fold prefixes keep their first rank (the Table's
    * putIfAbsent), matching trained-vocab dedup. */
  val Merges: Seq[(String, String)] = (
    // Space-prefixed folds FIRST: in a real trained vocabulary the
    // `Ġt`/`Ġth`/`Ġthe` merges rank ahead of the bare letter pairs
    // (space-prefixed words dominate English text), and rank order is
    // what makes ` the` encode to the single `Ġthe` token — pinned in
    // BpePretokenizeSpec's boundary test.
    fold(" t") ++ fold(" the") ++ fold(" a") ++            // Ġt, Ġth, Ġthe, Ġa
      fold("th") ++ fold("the") ++ fold("in") ++ fold("ing") ++
      fold("an") ++ fold("and") ++ fold("er") ++ fold("on") ++
      fold("en") ++ fold("ed") ++ fold("re") ++
      fold("é") ++ fold("ñ") ++ fold("ü") ++ fold("ß") ++  // 2-byte Latin-1
      fold("caf") :+ pair("caf", "é") :+                   // café as token⊕token
      pair(" ", "é")                                        // Ġé
    ) ++ (
    fold("日") ++ fold("本") ++ fold("語") :+               // 3-byte CJK, byte-wise
      pair("日", "本") :+ pair("日本", "語")                 // then token-paired
    ) ++ (
    fold("Ω") ++ fold("μ") ++                               // 2-byte Greek
      fold("😀") ++ fold("𝄞") :+                            // 4-byte non-BMP
      pair(" ", "😀")                                       // Ġ😀
    )

  /** The byte-level encode chain as DuckDB SQL over an ALREADY
    * REMAPPED expression — the oracle replays the rank-order replace
    * chain generated from the same table (the cross-algorithm gate of
    * `q_bpe_tokens`, carried to the byte alphabet). Remap
    * chars are embedded as UTF-8 literals; both engines' md5 hashes
    * UTF-8 bytes, so the comparison is bit-level. */
  def oracleEncodeSql(innerRemapped: String): String =
    Merges.foldLeft(s"regexp_replace($innerRemapped, '(.)', '|\\1|', 'g')") {
      case (acc, (l, r)) => s"replace($acc, '|$l||$r|', '|$l$r|')"
    }
}

/** `bpe_encode_bytes(word[, spec])` — byte-level BPE encode: remap
  * UTF-8 bytes to the GPT-2 alphabet, then run [[BpeEncode]]'s heap
  * merge loop. Output is the framed `|tok||tok|` string in REMAP
  * space ([[BpeDecodeBytes]] inverts it). The input must not contain
  * `|` (0x7C remaps to itself and would break the frame) — enforced
  * loudly, matching the code-point chain's `[a-z]+`-words contract. */
case class BpeEncodeBytes(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING argument, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType
  override def prettyName: String = "bpe_encode_bytes"

  @transient private lazy val table = new BpeEncode.Table(merges)

  override protected def nullSafeEval(v: Any): Any =
    BpeEncodeBytes.encodeBytes(v.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("byteBpeTable", table,
      classOf[BpeEncode.Table].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeEncodeBytes.encodeBytes($c, $tableRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeBytes =
    copy(child = newChild)
}

object BpeEncodeBytes {
  /** Static seam for generated code. */
  def encodeBytes(u: UTF8String, table: BpeEncode.Table): UTF8String = {
    val s = u.toString
    require(s.indexOf('|') < 0,
      "bpe_encode_bytes: input contains the frame delimiter '|'")
    BpeEncode.encodeWord(UTF8String.fromString(ByteBpe.remap(s)), table)
  }
}

/** `bpe_decode_bytes(encoded)` — inverse of [[BpeEncodeBytes]]: strip
  * the `|` frames (tokens never contain `|` — the encoder rejects it
  * on input and the remap alphabet adds none), unremap each alphabet
  * char to its byte, UTF-8 decode. Total on well-formed input; loud
  * on any char outside the remap image. Gated lossless
  * (decode ∘ encode = id) by `q_bpe_roundtrip`. */
case class BpeDecodeBytes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING argument, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType
  override def prettyName: String = "bpe_decode_bytes"

  override protected def nullSafeEval(v: Any): Any =
    BpeDecodeBytes.decodeBytes(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeDecodeBytes.decodeBytes($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeDecodeBytes =
    copy(child = newChild)
}

object BpeDecodeBytes {
  /** Static seam for generated code. */
  def decodeBytes(u: UTF8String): UTF8String = {
    val s = u.toString
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '|') sb.append(c)
      i += 1
    }
    UTF8String.fromString(ByteBpe.unremap(sb.toString))
  }
}
