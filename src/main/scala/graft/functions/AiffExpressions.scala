package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native AIFF codec (E294) — the SECOND audio container family (the
  * big-endian EA IFF 85 lineage, vs RIFF/WAVE's little-endian one):
  * Apple's public AIFF 1.3 specification. Wire shape:
  *
  * {{{
  * FORM: "FORM" u32be(size) "AIFF"                      — the group
  * COMM: "COMM" u32be(18) u16be(numChannels)
  *       u32be(numSampleFrames) u16be(sampleSize)
  *       extended80(sampleRate)                         — required, once
  * SSND: "SSND" u32be(8 + dataBytes) u32be(offset)
  *       u32be(blockSize) data [+ one zero pad if odd]  — once
  * }}}
  *
  * The sample rate is an 80-bit IEEE 754 EXTENDED float (sign, 15-bit
  * exponent, 64-bit mantissa with an EXPLICIT integer bit) — the one
  * genuinely novel decode in the container, and the reason this is a
  * native expression rather than SQL arithmetic: the mantissa of every
  * real rate has its top bit set, so it does not fit a signed 64-bit
  * SQL integer. The decode is exact integer bit arithmetic (no
  * floating point): rate = mantissa >>> (16383 + 63 − exponent), with
  * a negative sign, the ±inf/NaN exponent, a lost-bits (non-integer)
  * shift, and rates outside [1, 2^31] all visible rejects.
  *
  * STRICTNESS: wrong FORM/AIFF magic, a FORM size that disagrees with
  * the actual length, trailing bytes, duplicate or missing COMM/SSND,
  * COMM after SSND (frame meaning must precede data — the PLTE
  * discipline), a COMM size ≠ 18, sampleSize ≠ 16, channels outside
  * {1, 2}, numSampleFrames disagreeing with dataBytes/(2·channels), a
  * nonzero SSND offset/blockSize (block-aligned wires only — visible,
  * never misread), a chunk overrunning the FORM, and a nonzero odd-data
  * pad byte all report `is_valid = false`. Unknown chunks (NAME, ANNO,
  * (c), INST...) are SKIPPED with even padding per EA IFF 85 —
  * rejecting them would false-invalidate most real files.
  *
  * Samples are BIG-ENDIAN 16-bit (the point of the family split — the
  * same payload bytes mean different samples than in WAV, and the
  * oracle reads 256·b[2i] + b[2i+1]). Stereo is interleaved L R per
  * frame; sum_if weights by frame index, pinning interleave order.
  *
  * Scale: one native pass per asset, O(1) state — the codec-walk shape.
  */
object AiffCodec {

  /** Encode the 80-bit extended sample rate (exact, integer rates). */
  private def writeRate(out: java.io.ByteArrayOutputStream, rate: Long): Unit = {
    require(rate >= 1 && rate <= Int.MaxValue, "bad rate")
    val h = 63 - java.lang.Long.numberOfLeadingZeros(rate)
    val e = 16383 + h
    val m = rate << (63 - h)
    out.write((e >>> 8) & 0xff); out.write(e & 0xff)
    var i = 7
    while (i >= 0) { out.write(((m >>> (8 * i)) & 0xff).toInt); i -= 1 }
  }

  /** Decode the 80-bit extended rate at `o`; -1 when not a positive
    * exact integer in [1, 2^31] (sign set, inf/NaN, lost bits).
    */
  private def readRate(bytes: Array[Byte], o: Int): Long = {
    val se = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    if ((se & 0x8000) != 0) return -1 // negative rate: forged
    val e = se & 0x7fff
    if (e == 0x7fff) return -1        // infinity / NaN
    var m = 0L
    var i = 0
    while (i < 8) { m = (m << 8) | (bytes(o + 2 + i) & 0xff); i += 1 }
    if (m == 0) return -1             // zero (or denormal-zero) rate
    val shift = 16383 + 63 - e
    if (shift < 0 || shift > 63) return -1 // out of integer range
    if (shift > 0 && (m & ((1L << shift) - 1)) != 0) return -1 // lost bits
    val rate = m >>> shift
    if (rate < 1 || rate > Int.MaxValue) return -1
    rate
  }

  /** Encode payload bytes as big-endian PCM16 AIFF: whole frames only
    * (`frames = len / (2·channels)`; null when no full frame fits).
    */
  def encode(payload: Array[Byte], channels: Int, rate: Long = 8000L,
      aux: Boolean = false): Array[Byte] = {
    require(channels == 1 || channels == 2, "channels must be 1 or 2")
    val frameBytes = 2 * channels
    val nFrames = payload.length / frameBytes
    if (nFrames < 1) return null
    val dataBytes = nFrames * frameBytes
    val out = new java.io.ByteArrayOutputStream(dataBytes + 96)
    def tag(t: String): Unit = t.foreach(c => out.write(c))
    def u16(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def u32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    val annoLen = if (aux) 5 else 0 // "ANNO" + size + "graft" + pad
    val annoSpan = if (aux) 8 + annoLen + (annoLen & 1) else 0
    val pad = dataBytes & 1
    val formSize = 4 + annoSpan + (8 + 18) + (8 + 8 + dataBytes + pad)
    tag("FORM"); u32(formSize.toLong); tag("AIFF")
    if (aux) { tag("ANNO"); u32(annoLen.toLong); tag("graft"); out.write(0) }
    tag("COMM"); u32(18)
    u16(channels)
    u32(nFrames.toLong)
    u16(16)
    writeRate(out, rate)
    tag("SSND"); u32(8L + dataBytes)
    u32(0); u32(0) // offset, blockSize: block-aligned wires only
    out.write(payload, 0, dataBytes)
    if (pad == 1) out.write(0)
    out.toByteArray
  }

  /** Decoded per-asset stats; -1 when invalid. Samples are big-endian;
    * mono reports its total in `sumL` with `sumR` = 0.
    */
  final case class Decoded(valid: Boolean, nChannels: Long,
      sampleRate: Long, nFrames: Long, sumS: Long, sumAbs: Long,
      sumIf: Long, sumL: Long, sumR: Long)

  private val Invalid = Decoded(valid = false, -1, -1, -1, -1, -1, -1, -1, -1)

  def decode(bytes: Array[Byte]): Decoded = {
    val n = bytes.length
    if (n < 12 + 8 + 18 + 8 + 8) return Invalid
    def tagAt(o: Int, t: String): Boolean =
      t.indices.forall(i => (bytes(o + i) & 0xff) == t(i))
    def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    def u32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    if (!tagAt(0, "FORM")) return Invalid
    val formSize = u32(4)
    if (formSize + 8 != n.toLong) return Invalid // exact EOF, no trailer
    if (!tagAt(8, "AIFF")) return Invalid
    var p = 12
    var channels = -1L
    var declFrames = -1L
    var rate = -1L
    var dataOff = -1
    var dataBytes = -1L
    var sawComm = false
    var sawSsnd = false
    while (p < n) {
      if (p + 8 > n) return Invalid
      val sz = u32(p + 4)
      if (sz < 0 || p + 8 + sz > n) return Invalid // chunk overruns FORM
      if (tagAt(p, "COMM")) {
        if (sawComm) return Invalid // at most one
        if (sawSsnd) return Invalid // frame meaning precedes data
        if (sz != 18) return Invalid
        sawComm = true
        channels = u16(p + 8).toLong
        if (channels != 1 && channels != 2) return Invalid
        declFrames = u32(p + 10)
        if (u16(p + 14) != 16) return Invalid // sampleSize
        rate = readRate(bytes, p + 16)
        if (rate < 1) return Invalid
      } else if (tagAt(p, "SSND")) {
        if (sawSsnd) return Invalid
        if (!sawComm) return Invalid
        if (sz < 8) return Invalid
        if (u32(p + 8) != 0 || u32(p + 12) != 0) return Invalid // aligned
        sawSsnd = true
        dataOff = p + 16
        dataBytes = sz - 8
      } // unknown chunks (NAME/ANNO/(c)/INST...): skipped per EA IFF 85
      // even padding between chunks; a nonzero pad byte is smuggled data
      val padded = sz + (sz & 1)
      if ((sz & 1) == 1) {
        if (p + 8 + sz >= n) {
          // the pad byte itself must exist (FORM size counted it)
          return Invalid
        }
        if (bytes((p + 8 + sz).toInt) != 0) return Invalid
      }
      p += 8 + padded.toInt
    }
    if (p != n) return Invalid
    if (!sawComm || !sawSsnd) return Invalid
    val frameBytes = 2 * channels
    if (dataBytes % frameBytes != 0) return Invalid
    val nFrames = dataBytes / frameBytes
    if (nFrames != declFrames) return Invalid // the COMM count must agree
    if (nFrames < 1) return Invalid
    var sumS = 0L
    var sumAbs = 0L
    var sumIf = 0L
    var sumL = 0L
    var sumR = 0L
    var f = 0L
    while (f < nFrames) {
      var c = 0
      var frameSum = 0L
      while (c < channels) {
        val o = dataOff + (f * channels + c).toInt * 2
        val u = u16(o)
        val s = if (u >= 32768) u - 65536 else u
        sumS += s
        sumAbs += math.abs(s)
        frameSum += s
        if (c == 0) sumL += s else sumR += s
        c += 1
      }
      sumIf += f * frameSum
      f += 1
    }
    Decoded(valid = true, channels, rate, nFrames, sumS, sumAbs, sumIf,
      sumL, sumR)
  }
}

/** `graft_aiff_encode(bytes, channels)`: payload big-endian PCM16 →
  * AIFF stream (null when no full frame fits).
  */
case class AiffEncode(child: Expression, channels: Int, rate: Long = 8000L,
    aux: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_aiff_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    AiffCodec.encode(input.asInstanceOf[Array[Byte]], channels, rate, aux)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_aiff_decode(bytes)`: strict FORM/COMM/SSND walk with the
  * 80-bit extended-rate decode → per-asset stats struct.
  */
case class AiffDecode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("n_channels", LongType, nullable = true),
    StructField("sample_rate", LongType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("sum_s", LongType, nullable = true),
    StructField("sum_abs", LongType, nullable = true),
    StructField("sum_if", LongType, nullable = true),
    StructField("sum_l", LongType, nullable = true),
    StructField("sum_r", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_aiff_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = AiffCodec.decode(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.nChannels, d.sampleRate, d.nFrames, d.sumS,
        d.sumAbs, d.sumIf, d.sumL, d.sumR)
    else
      InternalRow(false, null, null, null, null, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AiffNativeFunctions {

  def aiffEncode(bytes: Column, channels: Int): Column =
    ColumnBridge.column(AiffEncode(ColumnBridge.expression(bytes), channels))

  def aiffDecode(bytes: Column): Column =
    ColumnBridge.column(AiffDecode(ColumnBridge.expression(bytes)))
}
