package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native JPEG codec for the LOSSLESS process of the public JPEG standard
  * (ITU-T T.81 process 14, SOF3 frames): real Huffman ENTROPY DECODING in-
  * engine — marker segments, a genuine DHT table parse (canonical code
  * construction from the BITS/HUFFVAL spec layout), the byte-stuffed
  * bitstream reader, difference categories with sign extension, and all
  * seven spatial predictors. Lossless JPEG predicts each sample from its
  * neighbors and Huffman-codes the differences — the same DC-coefficient
  * category coding DCT JPEG uses, WITHOUT the lossy transform — so
  * encode∘decode is pixel-identity and the q260/q268 oracle discipline
  * (expected stats computed straight from the raw payload) applies to an
  * entropy-coded bitstream. The [[graft.ext.Multimodal]] stub narrows to
  * H.264 (DCT JPEG decodes too — see [[JpegDctCodec]], whose oracle
  * replays the integer coefficient pipeline instead of pixel identity).
  *
  * Scale: one native-expression pass per asset — O(2·width) state (the
  * current and previous sample rows), running sums, nothing per-pixel
  * materialized. Forged-SOF3-proof: every decoded sample consumes at
  * least one bit of REAL input, so a forged 2^32-sample header over a
  * tiny stream exhausts its bits and reports is_valid = false after at
  * most 8·n iterations, with row buffers bounded by the u16 samples-per-
  * line field (≤ 64 KiB).
  */
object JpegLosslessCodec {

  // standard DC luminance Huffman table (JPEG Annex K.3.1): counts of
  // codes per length 1..16, then the 12 category values in code order
  private val StdBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val StdVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)

  /** Encode `h = len/width` rows of 8-bit grayscale samples (the first
    * `width·h` payload bytes) as a spec-conformant single-component SOF3
    * lossless JPEG with predictor 1 (Ra) and the Annex-K DC table.
    * Returns null when the payload is shorter than one row, or when the
    * row count would overflow the u16 SOF height field (h > 65535) — a
    * wrapped height would emit a stream whose header claims a smaller
    * image, silently failing the pixel-identity oracle downstream instead
    * of being rejected here (the width require()'s discipline).
    */
  def encode(payload: Array[Byte], width: Int): Array[Byte] = {
    val h = payload.length / width
    if (h < 1 || h > 65535) return null
    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
    def u16(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xc4) // DHT
    u16(2 + 1 + 16 + StdVals.length)
    out.write(0x00) // class 0 (DC/lossless), id 0
    StdBits.foreach(out.write)
    StdVals.foreach(out.write)
    marker(0xc3) // SOF3: lossless, Huffman
    u16(8 + 3)
    out.write(8) // precision
    u16(h); u16(width)
    out.write(1) // one component
    out.write(1); out.write(0x11); out.write(0) // id 1, H=V=1, Tq 0
    marker(0xda) // SOS
    u16(6 + 2)
    out.write(1) // one component in scan
    out.write(1); out.write(0x00) // component 1, DC table 0
    out.write(1) // Ss = predictor 1 (Ra)
    out.write(0) // Se = 0
    out.write(0) // Ah/Al = 0 (no point transform)

    // canonical codes for the standard table: (code, length) per category
    val codes = new Array[Int](12)
    val lens = new Array[Int](12)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < StdBits(len - 1)) {
        codes(k) = code; lens(k) = len; code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }

    var acc = 0L
    var nbits = 0
    def putBits(v: Int, n: Int): Unit = {
      acc = (acc << n) | (v & ((1L << n) - 1))
      nbits += n
      while (nbits >= 8) {
        val b = ((acc >>> (nbits - 8)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0x00) // byte stuffing
        nbits -= 8
      }
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < width) {
        val cur = payload(y * width + x) & 0xff
        val pred =
          if (x == 0 && y == 0) 128
          else if (y == 0) payload(x - 1) & 0xff // first line: Ra
          else if (x == 0) payload((y - 1) * width) & 0xff // first col: Rb
          else payload(y * width + x - 1) & 0xff // predictor 1: Ra
        val d = cur - pred
        val mag = math.abs(d)
        var ssss = 0
        while ((1 << ssss) <= mag) ssss += 1
        putBits(codes(ssss), lens(ssss))
        if (ssss > 0) {
          val add = if (d >= 0) d else d - 1 // one's-complement negatives
          putBits(add & ((1 << ssss) - 1), ssss)
        }
        x += 1
      }
      y += 1
    }
    if (nbits > 0) putBits((1 << (8 - nbits)) - 1, 8 - nbits) // pad with 1s
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Decoded per-asset report (O(row) memory). Negative fields when
    * invalid.
    */
  final case class Decoded(valid: Boolean, width: Long, height: Long,
      nPixels: Long, sumV: Long, meanVMilli: Long, predictor: Long)

  private val Invalid = Decoded(valid = false, -1, -1, -1, -1, -1, -1)

  def decode(bytes: Array[Byte]): Decoded = {
    val n = bytes.length
    if (n < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return Invalid
    var p = 2
    def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)

    // ---- marker-segment walk up to SOS ----
    var w = -1; var h = -1
    var predictor = -1
    // parsed DHT (class 0, id 0): mincode/maxcode/valptr per length
    var huffVals: Array[Int] = null
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    var sawSof = false; var sawSos = false
    while (!sawSos) {
      if (p + 4 > n) return Invalid
      if ((bytes(p) & 0xff) != 0xff) return Invalid
      val m = bytes(p + 1) & 0xff
      val segLen = u16(p + 2)
      if (segLen < 2 || p + 2 + segLen > n) return Invalid
      val body = p + 4
      m match {
        case 0xc4 => // DHT — possibly several tables in one segment
          var q = body
          val end = p + 2 + segLen
          while (q < end) {
            if (q + 17 > end) return Invalid
            val tcth = bytes(q) & 0xff
            val counts = Array.tabulate(16)(i => bytes(q + 1 + i) & 0xff)
            val total = counts.sum
            if (q + 17 + total > end || total > 256) return Invalid
            if (tcth == 0x00) { // class 0, id 0 — the lossless table
              huffVals = Array.tabulate(total)(i => bytes(q + 17 + i) & 0xff)
              var code = 0; var k = 0; var len = 1
              while (len <= 16) {
                if (counts(len - 1) > 0) {
                  valPtr(len) = k
                  minCode(len) = code
                  code += counts(len - 1); k += counts(len - 1)
                  maxCode(len) = code - 1
                } else maxCode(len) = -1
                code <<= 1
                len += 1
              }
              // canonical-table sanity: codes of length L must fit in L bits
              len = 1
              while (len <= 16) {
                if (maxCode(len) >= (1 << len)) return Invalid
                len += 1
              }
            }
            q += 17 + total
          }
        case 0xc3 => // SOF3: lossless sequential Huffman
          if (sawSof || segLen < 11) return Invalid
          sawSof = true
          val precision = bytes(body) & 0xff
          h = u16(body + 1); w = u16(body + 3)
          val nf = bytes(body + 5) & 0xff
          // 8-bit single-component only; other shapes report invalid
          // (visible, never misdecoded)
          if (precision != 8 || nf != 1 || w < 1 || h < 1) return Invalid
        case 0xc0 | 0xc1 | 0xc2 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
            0xcd | 0xce | 0xcf =>
          return Invalid // DCT-based / arithmetic / hierarchical frames
        case 0xda => // SOS
          if (!sawSof || huffVals == null || segLen < 8) return Invalid
          val ns = bytes(body) & 0xff
          if (ns != 1) return Invalid
          predictor = bytes(body + 3) & 0xff // Ss = predictor selector
          if (predictor < 1 || predictor > 7) return Invalid
          // Se must be 0 in a lossless scan, and Al (the low nibble of the
          // Ah/Al byte) is the POINT TRANSFORM Pt: a spec-legal stream with
          // Pt > 0 stores samples >> Pt, so decoding it unshifted would be
          // a silent misdecode — reject it visibly instead ("visible,
          // never misdecoded"). Ah is 0 for non-progressive scans.
          val se = bytes(body + 4) & 0xff
          val ahal = bytes(body + 5) & 0xff
          if (se != 0 || ahal != 0) return Invalid
          sawSos = true
        case mm if mm >= 0xe0 && mm <= 0xef => () // APPn: skipped
        case 0xfe => () // COM: skipped
        case _ => return Invalid // anything else changes pixel meaning
      }
      p += 2 + segLen
    }

    // ---- entropy-coded data: byte-unstuffed MSB-first bit reader ----
    var pos = p
    var bitBuf = 0
    var bitCnt = 0
    var ranDry = false
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= n) { ranDry = true; return -1 }
        val b = bytes(pos) & 0xff
        if (b == 0xff) {
          // stuffed data byte FF00 → 0xFF; anything else is a marker
          if (pos + 1 >= n || (bytes(pos + 1) & 0xff) != 0x00) {
            ranDry = true; return -1
          }
          pos += 2
        } else pos += 1
        bitBuf = b
        bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >>> bitCnt) & 1
    }
    def decodeHuff(): Int = {
      var code = 0
      var len = 0
      while (len < 16) {
        val bit = nextBit()
        if (bit < 0) return -1
        code = (code << 1) | bit
        len += 1
        if (maxCode(len) >= 0 && code >= minCode(len) && code <= maxCode(len))
          return huffVals(valPtr(len) + code - minCode(len))
      }
      -1
    }

    val wv = w
    val prev = new Array[Int](wv) // ≤ 64 KiB: w is a u16 field
    val cur = new Array[Int](wv)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < wv) {
        val ssss = decodeHuff()
        if (ssss < 0 || ssss > 16) return Invalid
        var v = 0
        if (ssss > 0 && ssss < 16) {
          var i = 0
          var bits = 0
          while (i < ssss) {
            val b = nextBit()
            if (b < 0) return Invalid
            bits = (bits << 1) | b
            i += 1
          }
          v = if (bits < (1 << (ssss - 1))) bits - (1 << ssss) + 1 else bits
        } else if (ssss == 16) v = 32768 // spec special case, no extra bits
        val a = if (x > 0) cur(x - 1) else 0
        val b = if (y > 0) prev(x) else 0
        val c = if (x > 0 && y > 0) prev(x - 1) else 0
        val pred =
          if (x == 0 && y == 0) 128
          else if (y == 0) a // first line: Ra
          else if (x == 0) b // first column: Rb
          else predictor match {
            case 1 => a
            case 2 => b
            case 3 => c
            case 4 => a + b - c
            case 5 => a + ((b - c) >> 1)
            case 6 => b + ((a - c) >> 1)
            case _ => (a + b) >> 1
          }
        val sample = (pred + v) & 0xffff // modulo-2^16 arithmetic per spec
        if (sample > 255) return Invalid // outside 8-bit range: corrupt
        cur(x) = sample
        sum += sample
        x += 1
      }
      System.arraycopy(cur, 0, prev, 0, wv)
      y += 1
    }
    if (ranDry) return Invalid
    bitCnt = 0 // discard pad bits to the byte boundary
    // the stream must end in EOI exactly at the last byte
    if (pos + 2 != n || (bytes(pos) & 0xff) != 0xff ||
        (bytes(pos + 1) & 0xff) != 0xd9) return Invalid
    val npx = w.toLong * h
    Decoded(valid = true, w, h, npx, sum, sum * 1000L / npx, predictor)
  }
}

/** `graft_jpegll_encode(bytes, width)`: payload grayscale samples → SOF3
  * lossless-JPEG stream (null when shorter than one row). Width is a
  * literal.
  */
case class JpegLosslessEncode(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1 && width <= 65535, "width must fit the u16 SOF field")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jpegll_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    JpegLosslessCodec.encode(input.asInstanceOf[Array[Byte]], width)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_jpegll_decode(bytes)`: full marker walk + DHT parse + Huffman
  * entropy decode + prediction → per-asset stats struct. Invalid, corrupt,
  * DCT-based, or forged streams report `is_valid = false` with null stats.
  */
case class JpegLosslessDecode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_v", LongType, nullable = true),
    StructField("mean_v_milli", LongType, nullable = true),
    StructField("predictor", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jpegll_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = JpegLosslessCodec.decode(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.width, d.height, d.nPixels, d.sumV, d.meanVMilli,
        d.predictor)
    else InternalRow(false, null, null, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JpegNativeFunctions {

  def jpegEncode(bytes: Column, width: Int): Column =
    ColumnBridge.column(JpegLosslessEncode(ColumnBridge.expression(bytes), width))

  def jpegDecode(bytes: Column): Column =
    ColumnBridge.column(JpegLosslessDecode(ColumnBridge.expression(bytes)))
}
