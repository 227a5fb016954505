package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused char-trigram hashed embedding: TEXT in, unit-norm
  * `array<float>` of width `dim` out — one pass over the string, the
  * whole-row kernel under `LangIdTrained.withFeatures*`.
  *
  * Computes EXACTLY the composed formulation
  * `HashEmbedVector(wordNgrams(charSpread(text), 3), dim)` (spec-pinned
  * byte-for-byte against it, both hash modes — the
  * [[HashEmbedVector]]/`hashEmbedReference` pairing): trim + lowercase,
  * whitespace-run collapse to `_` (the `LangIdTrained.SpreadWs` set),
  * `_` padding, then every codepoint window of 3 hashed as the
  * space-joined trigram's UTF-8 bytes. What it deletes from the
  * composed plan: two regexp passes over a 2x-spread copy of the text,
  * a ~chars-sized `split` array, two `zip_with` slice arrays, and one
  * allocated string per trigram — the measured cost center of the
  * scoring pass (feature construction, not hashing, dominated: SCALE.md
  * "Round-18 addition: trained language ID A/B"). The hash calls are
  * the composed path's own
  * ([[Md5Hash.hash64Bytes]] over identical bytes; `XXH64` seed-42 +
  * chained-7 sign), accumulated into the same integral ±1 slots and the
  * same ascending-index norm fold, so outputs are byte-identical by
  * construction.
  */
case class CharTrigramEmbed(child: Expression, dim: Int,
    md5Mode: Boolean = false)
    extends UnaryExpression {

  require(dim > 0, s"dim must be positive, got $dim")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    CharTrigramEmbed.compute(input.asInstanceOf[UTF8String], dim, md5Mode)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.CharTrigramEmbed.compute($in, $dim, $md5Mode);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_char_trigram_embed"
}

object CharTrigramEmbed {

  /** membership in the charSpread collapse set (`LangIdTrained.SpreadWs`
    * — Java `\s` plus NEL/LS/PS; the two constants are spec-pinned
    * against each other) */
  def isSpreadWs(cp: Int): Boolean = cp match {
    case 0x20 | 0x09 | 0x0A | 0x0B | 0x0C | 0x0D | 0x85 | 0x2028 |
        0x2029 => true
    case _ => false
  }

  /** one-pass kernel body (static so codegen emits a single call).
    * Works DIRECTLY on the lowered string's UTF-8 bytes: each kept
    * codepoint is a byte SPAN (offset + length; `-1` marks an inserted
    * `_` boundary), whitespace classification reads the span's bytes
    * (the [[isSpreadWs]] set's UTF-8 forms: ASCII ws, C2 85, E2 80
    * A8/A9), and trigram windows are span memcopies — no UTF-16 round
    * trip, no codepoint decode/re-encode, identical hash-input bytes
    * (spec-pinned against the composed chain). */
  def compute(s: UTF8String, dim: Int, md5Mode: Boolean): UnsafeArrayData = {
    val b = s.trim().toLowerCase().getBytes
    val n = b.length
    // boundary-marked span stream: '_' + collapse(SpreadWs -> '_') + '_'
    val offs = new Array[Int](n + 2)
    val lens = new Array[Int](n + 2)
    var m = 0
    offs(m) = -1; lens(m) = 1; m += 1
    var i = 0
    var inWs = false
    while (i < n) {
      val b0 = b(i) & 0xff
      val l0 = if (b0 < 0x80) 1 else if (b0 < 0xe0) 2
        else if (b0 < 0xf0) 3 else 4
      val l = if (i + l0 <= n) l0 else n - i // defensive truncated tail
      val ws =
        (l == 1 && (b0 == 0x20 || b0 == 0x09 || b0 == 0x0a ||
          b0 == 0x0b || b0 == 0x0c || b0 == 0x0d)) ||
        (l == 2 && b0 == 0xc2 && (b(i + 1) & 0xff) == 0x85) ||
        (l == 3 && b0 == 0xe2 && (b(i + 1) & 0xff) == 0x80 &&
          ((b(i + 2) & 0xff) == 0xa8 || (b(i + 2) & 0xff) == 0xa9))
      if (ws) {
        if (!inWs) { offs(m) = -1; lens(m) = 1; m += 1; inWs = true }
      } else {
        offs(m) = i; lens(m) = l; m += 1; inWs = false
      }
      i += l
    }
    offs(m) = -1; lens(m) = 1; m += 1
    val acc = new Array[Double](dim)
    if (m >= 3) {
      val buf = new Array[Byte](14) // 3 spans (<= 4B each) + 2 spaces
      def put(pos: Int, w: Int): Int = {
        if (offs(w) < 0) { buf(pos) = '_'; pos + 1 }
        else {
          System.arraycopy(b, offs(w), buf, pos, lens(w))
          pos + lens(w)
        }
      }
      var w = 0
      while (w + 2 < m) {
        var len = put(0, w)
        buf(len) = ' '; len += 1
        len = put(len, w + 1)
        buf(len) = ' '; len += 1
        len = put(len, w + 2)
        if (md5Mode) {
          val h = Md5Hash.hash64Bytes(buf, len)
          acc(((h >>> 32) % dim).toInt) +=
            (if ((h & 1L) == 0L) 1.0 else -1.0)
        } else {
          val h1 =
            XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
          val idx = (((h1 % dim) + dim) % dim).toInt
          acc(idx) += (if ((XXH64.hashInt(7, h1) & 1L) == 0L) 1.0 else -1.0)
        }
        w += 1
      }
    }
    var ss = 0.0
    i = 0
    while (i < dim) { ss += acc(i) * acc(i); i += 1 }
    val nrm = math.sqrt(ss)
    val out = new Array[Float](dim)
    if (nrm != 0.0) {
      i = 0
      while (i < dim) { out(i) = (acc(i) / nrm).toFloat; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column entry points; null text coalesces to empty -> the all-zero
    * vector, matching the composed chain's end-to-end null behavior. */
  def embed(text: Column, dim: Int): Column =
    Bridge.column(CharTrigramEmbed(
      Bridge.expression(coalesce(text, lit(""))), dim))

  def embedMd5(text: Column, dim: Int): Column =
    Bridge.column(CharTrigramEmbed(
      Bridge.expression(coalesce(text, lit(""))), dim, md5Mode = true))
}
