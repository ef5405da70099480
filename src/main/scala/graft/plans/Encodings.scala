package graft.plans

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mojibake repair: undo text that was UTF-8 but got decoded as a legacy
  * charset somewhere upstream.
  *
  * Real crawls carry many pages in legacy encodings (windows-1252, GBK,
  * Shift_JIS, …), and a decoder that guessed wrong leaves double-encoded
  * text ("Ã©" for "é"). Every downstream operator (langId, quality
  * scoring, dedup shingles) then degrades silently for the wrong reason.
  * [[FixEncodingExpr]] is a custom Catalyst expression (extension tier
  * (b): no built-in inverts a misread) with tight static-helper codegen,
  * so the hot path stays inside whole-stage codegen like the rest of the
  * crawl tier. See [[EncodingUtils.fixEncoding]] for the repair rules.
  */
object EncodingUtils {

  /** Strict UTF-8 decode; null when any sequence is malformed. */
  private def strictUtf8(b: Array[Byte]): String = {
    val dec = StandardCharsets.UTF_8
      .newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(b)).toString
    catch { case _: java.nio.charset.CharacterCodingException => null }
  }

  /** windows-1252 byte→char table (identical to latin-1 outside
    * 0x80-0x9F; Java maps the five undefined cp1252 positions to the C1
    * controls, completing the bijection) and its inverse. */
  private val Cp1252Chars: Array[Char] = {
    val cs = Charset.forName("windows-1252")
    val out = new Array[Char](256)
    var b = 0
    while (b < 256) {
      out(b) = new String(Array(b.toByte), cs).charAt(0)
      b += 1
    }
    out
  }

  private val Cp1252Inverse: java.util.HashMap[Character, java.lang.Byte] = {
    val m = new java.util.HashMap[Character, java.lang.Byte]()
    var b = 0
    while (b < 256) {
      m.put(Cp1252Chars(b), b.toByte)
      b += 1
    }
    m
  }

  /** Chars that a UTF-8 CONTINUATION byte (0x80-0xBF) becomes under a
    * windows-1252 OR latin-1 misread: U+0080-U+00BF themselves plus the
    * cp1252 images of 0x80-0x9F (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – —
    * ˜ ™ š › œ ž Ÿ). */
  private def isContinuationChar(c: Char): Boolean =
    (c >= 0x80 && c <= 0xBF) || {
      val b = Cp1252Inverse.get(Character.valueOf(c))
      b != null && (b.byteValue() & 0xff) >= 0x80 && (b.byteValue() & 0xff) <= 0xBF
    }

  /** The double-encoding signature: a char that is a UTF-8 LEAD byte
    * misread (U+00C2-U+00F4 — 2- to 4-byte leads) immediately followed by
    * a continuation-class char. Genuine Western text (é, ü standing
    * alone) never forms the pair; mojibake always does. */
  private[graft] def hasMojibakePair(s: String): Boolean = {
    var i = 0
    val n = s.length - 1
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 0xC2 && c <= 0xF4 && isContinuationChar(s.charAt(i + 1)))
        return true
      i += 1
    }
    false
  }

  /** Map a mojibake string back to the bytes it was decoded from: the
    * cp1252 inverse where defined, the low byte for other chars ≤ 0xFF
    * (the latin-1-misread case), null when ANY char is unmappable —
    * a string that can't round-trip to single bytes was never a
    * single-byte misread, so repair must not touch it. */
  private def inverseSingleByte(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val b = Cp1252Inverse.get(Character.valueOf(c))
      if (b != null) out(i) = b.byteValue()
      else if (c <= 0xFF) out(i) = c.toByte
      else return null
      i += 1
    }
    out
  }

  /** The CJK double-encoding inverse charsets. Resolved lazily so a JVM
    * without the extended-charsets module degrades to latin-only repair
    * instead of failing class init. */
  private lazy val GbkCharset: Charset =
    try Charset.forName("GBK")
    catch { case _: Exception => null }
  private lazy val SjisCharset: Charset =
    try Charset.forName("Shift_JIS")
    catch { case _: Exception => null }

  /** Cheap pre-gate for the CJK repair attempt: UTF-8-read-as-GBK /
    * Shift_JIS mojibake is dominated by CJK ideographs plus kana /
    * half-width forms ("涓枃", "繧偵リ"), so a string with none of those
    * was never a CJK misread. */
  private def hasCjkChar(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 0x2E80 && c <= 0x9FFF) ||
        (c >= 0xF900 && c <= 0xFAFF) ||
        (c >= 0xFF00 && c <= 0xFFEF)) return true
      i += 1
    }
    false
  }

  /** Strict whole-string encode in `cs`; null when ANY char is
    * unmappable — the abort-on-unmappable discipline of
    * [[inverseSingleByte]] applied to a multi-byte charset. */
  private def inverseBytes(s: String, cs: Charset): Array[Byte] = {
    if (cs == null) return null
    val enc = cs
      .newEncoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try {
      val bb = enc.encode(java.nio.CharBuffer.wrap(s))
      val out = new Array[Byte](bb.remaining())
      bb.get(out)
      out
    } catch { case _: Exception => null }
  }

  /** One CJK-family repair attempt: inverse-encode the WHOLE string in
    * `cs`, accept only a strictly-valid-UTF-8 decode that SHRINKS the
    * string. The shrink guard is load-bearing: a genuine CJK string
    * whose 2-bytes-per-char encoding happens to align to 2-byte UTF-8
    * sequences would round-trip length-preserving (e.g. "为十" → GBK
    * CE AA CA AE → "Ϊʮ"), while a true UTF-8 misread always shrinks
    * (3 bytes of a CJK char became ≥ 1.5 chars). */
  private def tryCjkInverse(s: String, cs: Charset): String = {
    val bytes = inverseBytes(s, cs)
    if (bytes == null) return null
    val dec = strictUtf8(bytes)
    if (dec != null && dec != s && dec.length < s.length) dec else null
  }

  /** The [[FixEncodingExpr]] kernel: detect-and-undo double encoding —
    * UTF-8 read as windows-1252/latin-1 ("Ã©" → "é", "â€™" → "'"), and
    * the CJK misread families, UTF-8 read as GBK ("涓枃" → "中文") or as
    * Shift_JIS ("譌･譛ｬ" → "日本"). Per family, same strict discipline:
    * a cheap signature gate (lead+continuation pair for the single-byte
    * family; presence of CJK/kana/width-forms chars AND ≥ 8 chars of
    * evidence for the CJK ones — below that, a coincidental alignment
    * is not distinguishable from a misread), whole-string inverse that
    * ABORTS if any char is unmappable, and strict-UTF-8 validation of
    * the inverse bytes — random legacy text virtually never passes, so
    * clean text (genuine "café" or "中文", which fail pair-gate or
    * validation) is untouched. The single-byte family is tried first;
    * GBK before Shift_JIS (the validation step disambiguates — a
    * both-valid collision is astronomically rare and the order makes it
    * deterministic). Honest limit: Shift_JIS's NEC/IBM dual code points
    * re-encode to the canonical alternative, so a misread through the
    * non-canonical zone repairs to equivalent-but-different bytes. Runs
    * to a fixed point (≤ 4 rounds) so doubly-double-encoded text
    * repairs fully and the operator is idempotent. */
  def fixEncoding(u: UTF8String): UTF8String = {
    if (u == null) return null
    var s = u.toString
    var changed = false
    var rounds = 0
    var go = true
    while (go && rounds < 4) {
      go = false
      var dec: String = null
      if (hasMojibakePair(s)) {
        val bytes = inverseSingleByte(s)
        if (bytes != null) dec = strictUtf8(bytes)
      }
      if ((dec == null || dec == s) && s.length >= 8 && hasCjkChar(s)) {
        dec = tryCjkInverse(s, GbkCharset)
        if (dec == null) dec = tryCjkInverse(s, SjisCharset)
      }
      if (dec != null && dec != s) {
        s = dec
        changed = true
        go = true
        rounds += 1
      }
    }
    if (changed) UTF8String.fromString(s) else u
  }
}

/** Mojibake repair as a codegen'd expression:
  * `fix_encoding(text STRING) -> STRING`. See
  * [[EncodingUtils.fixEncoding]]. */
case class FixEncodingExpr(child: Expression)
    extends UnaryExpression
    with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"fix_encoding expects a string input, got $t"
        )
    }

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    EncodingUtils.fixEncoding(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"${ev.value} = graft.plans.EncodingUtils.fixEncoding($s);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fix_encoding"
}
