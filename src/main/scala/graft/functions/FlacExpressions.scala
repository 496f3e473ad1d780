package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native FLAC codec (E253) — lossless compressed audio, the FOURTH
  * entropy family in-engine (Rice/Golomb coding, after DEFLATE-via-JDK,
  * native Huffman, and native LZW). The format is the public FLAC
  * specification (RFC 9639):
  *
  * {{{
  * "fLaC"  STREAMINFO metadata block (+ skippable others)
  * frame*: header  — 14-bit sync, blocking strategy, block-size /
  *                   sample-rate / channel / sample-size codes, a
  *                   UTF-8-CODED frame number, CRC-8 of the header
  *         subframe per channel — CONSTANT | VERBATIM | FIXED(0..4)
  *                   with Rice-partitioned residuals (4/5-bit params,
  *                   escape code -> raw n-bit residuals), optional
  *                   wasted-bits shift
  *         bit padding to byte, CRC-16 of the whole frame
  * }}}
  *
  * Bits are packed MSB-FIRST (the JPEG bit order, opposite to GIF), and
  * residuals are zigzag-folded before Rice coding. The killer identity:
  * STREAMINFO carries the MD5 OF THE UNENCODED PCM, so the decoder
  * proves decode∘encode losslessness against the stream's own
  * signature — a lying codec path cannot produce a valid archive.
  *
  * SUPPORTED on decode: 16- and 24-bit samples (the real audio-lake
  * widths; 8/12/20-bit stay visible rejects), 1..8 independent channels,
  * CONSTANT / VERBATIM / FIXED 0..4 / LPC 1..32 subframes (quantized
  * coefficients, 64-bit prediction accumulator, negative-shift and
  * reserved-precision rejects), all Rice partition orders, both Rice
  * methods, escape codes, wasted bits, all block-size and sample-rate
  * codes, AND the stereo-decorrelation channel assignments (left/side,
  * right/side, mid/side — the difference channel at bps+1 bits, undone
  * after subframe decode). The encoder fits LPC by autocorrelation +
  * Levinson-Durbin with error-feedback quantization and lets it COMPETE
  * on exact bit cost with the constant/fixed/verbatim choices; the
  * stereo encoder costs all four channel assignments per frame. BOTH
  * blocking strategies decode (the last in-format fence, removed):
  * fixed blocking with frame numbers, and variable blocking with
  * starting-sample numbers — a stream mixing the two rejects.
  *
  * ORACLE: the fixture's PCM is the payload's little-endian 16-bit
  * pairs (mono), so sample sums — including the order-sensitive
  * Σ index·sample — read straight off raw payload bytes in DuckDB
  * while the engine must really Rice-decode, reconstruct the fixed
  * predictors, and re-derive the MD5.
  *
  * STRICTNESS: a bad sync, reserved bit, non-sequential frame number,
  * malformed UTF-8 number, CRC-8/CRC-16 mismatch, nonzero padding
  * bits, residual counts that disagree with the block size, a block
  * size outside the STREAMINFO bounds, trailing bytes, a total sample
  * count that disagrees with STREAMINFO, or an MD5 mismatch all report
  * `is_valid = false`. Forged-header bound: per-frame work is bounded
  * by the declared block size (<= 65536) x channels, residual unary
  * runs are capped by the remaining stream bits, and samples are never
  * buffered beyond one frame.
  *
  * Scale: one native pass per asset, O(blockSize) state — the
  * codec-walk shape.
  */
object FlacCodec {

  /** Fixture frame size (samples): several frames per document. */
  val BlockSize = 576

  // ---- CRCs (the two polynomials the spec fixes) ----

  def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= bytes(i) & 0xff
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff
        k += 1
      }
      i += 1
    }
    c
  }

  def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= (bytes(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff
        else (c << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    c
  }

  // ---- MSB-first bit writer ----

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream(4096)
    private var cur = 0
    private var nb = 0
    def putBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      nb += 1
      if (nb == 8) { out.write(cur); cur = 0; nb = 0 }
    }
    def put(v: Long, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) { putBit(((v >>> i) & 1L).toInt); i -= 1 }
    }
    def putUnary(q: Int): Unit = {
      var i = 0
      while (i < q) { putBit(0); i += 1 }
      putBit(1)
    }
    def align(): Unit = while (nb != 0) putBit(0)
    def isAligned: Boolean = nb == 0
    def toByteArray: Array[Byte] = { require(nb == 0); out.toByteArray }
    /** Exact bit count so far — the stereo chooser's cost scale. */
    def bitLength: Long = out.size().toLong * 8 + nb
    /** Replay this writer's bits into another (bit-exact append). */
    def appendTo(o: BitWriter): Unit = {
      val bytes = out.toByteArray
      var i = 0
      while (i < bytes.length) { o.put(bytes(i) & 0xffL, 8); i += 1 }
      if (nb > 0) o.put((cur & ((1 << nb) - 1)).toLong, nb)
    }
  }

  /** UTF-8-style coded number (the frame-number coding). */
  private def putUtf8(w: BitWriter, v: Long): Unit = {
    if (v < 0x80) w.put(v, 8)
    else {
      // count of continuation bytes
      var cont = 1
      while (cont < 6 && v >= (1L << (6 * cont + (6 - cont)))) cont += 1
      // lead byte: cont+1 ones, a zero, then the high payload bits
      val leadBits = 6 - cont
      w.put((0xff << (leadBits + 1)) & 0xff | (v >>> (6 * cont)).toInt, 8)
      var i = cont - 1
      while (i >= 0) {
        w.put(0x80L | ((v >>> (6 * i)) & 0x3f), 8)
        i -= 1
      }
    }
  }

  private def zigzag(r: Int): Long = ((r << 1) ^ (r >> 31)).toLong & 0xffffffffL

  /** Fixed-predictor residuals of the given order over `x[from,to)`
    * (order warmup samples are NOT included).
    */
  private def fixedResiduals(x: Array[Int], from: Int, to: Int,
      order: Int): Array[Int] = {
    val out = new Array[Int](to - from - order)
    var i = from + order
    while (i < to) {
      val r = order match {
        case 0 => x(i)
        case 1 => x(i) - x(i - 1)
        case 2 => x(i) - 2 * x(i - 1) + x(i - 2)
        case 3 => x(i) - 3 * x(i - 1) + 3 * x(i - 2) - x(i - 3)
        case _ => x(i) - 4 * x(i - 1) + 6 * x(i - 2) - 4 * x(i - 3) + x(i - 4)
      }
      out(i - from - order) = r
      i += 1
    }
    out
  }

  /** Exact Rice bit cost of the residual set at parameter `p`. */
  private def riceCost(res: Array[Int], p: Int): Long = {
    var c = 0L
    var i = 0
    while (i < res.length) {
      c += (zigzag(res(i)) >>> p) + 1 + p
      if (c > (1L << 40)) return c // no point counting further
      i += 1
    }
    c
  }

  /** Quantized LPC model for one block: coefficients in `prec`-bit
    * signed ints, prediction = (Σ coef·history) >> shift.
    */
  private final case class QlpModel(coefs: Array[Int], prec: Int, shift: Int)

  /** Fit an LPC model of the given order by autocorrelation +
    * Levinson-Durbin, then quantize to 15-bit coefficients. Returns
    * null when the block is degenerate (no energy / unstable).
    */
  private def fitLpc(x: Array[Int], from: Int, to: Int,
      order: Int): QlpModel = {
    val n = to - from
    if (n <= order) return null
    val r = new Array[Double](order + 1)
    var lag = 0
    while (lag <= order) {
      var s = 0.0
      var i = from + lag
      while (i < to) { s += x(i).toDouble * x(i - lag); i += 1 }
      r(lag) = s
      lag += 1
    }
    if (r(0) <= 0.0) return null // silence: CONSTANT handles it
    // Levinson-Durbin recursion
    val a = new Array[Double](order + 1)
    var err = r(0)
    var m = 1
    while (m <= order) {
      var acc = r(m)
      var j = 1
      while (j < m) { acc -= a(j) * r(m - j); j += 1 }
      val k = acc / err
      val prev = java.util.Arrays.copyOf(a, order + 1)
      a(m) = k
      j = 1
      while (j < m) { a(j) = prev(j) - k * prev(m - j); j += 1 }
      err *= (1 - k * k)
      if (err <= 0.0) return null // numerically unstable fit
      m += 1
    }
    // quantize to prec-bit signed ints with error feedback
    val prec = 15
    var cmax = 0.0
    m = 1
    while (m <= order) { cmax = math.max(cmax, math.abs(a(m))); m += 1 }
    if (cmax <= 0.0) return null
    var shift = prec - 1 - (math.getExponent(cmax) + 1)
    // the wire field is 5 bits SIGNED with negative reserved, so the
    // usable range is 0..15 — clamping only costs coefficient precision
    if (shift > 15) shift = 15
    if (shift < 0) return null // coefficients too large to quantize
    val q = new Array[Int](order)
    var e = 0.0
    val lim = (1 << (prec - 1)) - 1
    m = 0
    while (m < order) {
      e += a(m + 1) * (1L << shift)
      var v = math.rint(e).toInt
      if (v > lim) v = lim
      if (v < -(lim + 1)) v = -(lim + 1)
      e -= v
      q(m) = v
      m += 1
    }
    QlpModel(q, prec, shift)
  }

  /** LPC residuals of the model over `x[from,to)` (warmup excluded). */
  private def lpcResiduals(x: Array[Int], from: Int, to: Int,
      mdl: QlpModel): Array[Int] = {
    val order = mdl.coefs.length
    val out = new Array[Int](to - from - order)
    var i = from + order
    while (i < to) {
      var acc = 0L
      var j = 0
      while (j < order) { acc += mdl.coefs(j).toLong * x(i - 1 - j); j += 1 }
      out(i - from - order) = x(i) - (acc >> mdl.shift).toInt
      i += 1
    }
    out
  }

  /** Build ONE subframe (header bit + type + body) for `x[from,from+bs)`
    * at `ebps` bits per sample: CONSTANT when flat, otherwise the
    * cheapest of FIXED 0..4 / LPC (when `lpcOrder` > 0) / VERBATIM by
    * exact bit cost. Returned as a standalone bit buffer so the stereo
    * chooser can COST candidate channel assignments before committing.
    */
  private def buildSubframe(x: Array[Int], from: Int, bs: Int, ebps: Int,
      lpcOrder: Int): BitWriter = {
    val w2 = new BitWriter
    val mask = (1L << ebps) - 1
    var allEqual = true
    var i = from + 1
    while (i < from + bs && allEqual) {
      if (x(i) != x(from)) allEqual = false
      i += 1
    }
    if (allEqual) {
      w2.put(0, 1); w2.put(0, 6); w2.put(0, 1) // CONSTANT, no wasted bits
      w2.put(x(from).toLong & mask, ebps)
      return w2
    }
    def bestParamOf(res: Array[Int]): (Int, Long) = {
      var bp = 0
      var bc = Long.MaxValue
      var p = 0
      while (p <= 14) {
        val c = riceCost(res, p)
        if (c < bc) { bc = c; bp = p }
        p += 1
      }
      (bp, bc)
    }
    def emitRice(res: Array[Int], param: Int): Unit = {
      w2.put(0, 2) // coding method 0: 4-bit Rice parameters
      w2.put(0, 4) // partition order 0
      w2.put(param.toLong, 4)
      var j = 0
      while (j < res.length) {
        val u = zigzag(res(j))
        w2.putUnary((u >>> param).toInt)
        var b = param - 1
        while (b >= 0) { w2.putBit(((u >>> b) & 1).toInt); b -= 1 }
        j += 1
      }
    }
    // best fixed order + Rice parameter by exact bit cost
    var bestOrder = -1
    var bestParam = 0
    var bestCost = ebps.toLong * bs // the verbatim bar
    var o = 0
    while (o <= 4 && o < bs) {
      val res = fixedResiduals(x, from, from + bs, o)
      val (p, rc) = bestParamOf(res)
      val c = ebps.toLong * o + 10 + rc
      if (c < bestCost) { bestCost = c; bestOrder = o; bestParam = p }
      o += 1
    }
    // the LPC candidate competes on the same exact-bit scale
    var lpcModel: QlpModel = null
    var lpcParam = 0
    if (lpcOrder > 0 && lpcOrder < bs) {
      val mdl = fitLpc(x, from, from + bs, lpcOrder)
      if (mdl != null) {
        val res = lpcResiduals(x, from, from + bs, mdl)
        val (p, rc) = bestParamOf(res)
        val c = ebps.toLong * lpcOrder + 4 + 5 + mdl.prec.toLong * lpcOrder +
          10 + rc
        if (c < bestCost) { bestCost = c; lpcModel = mdl; lpcParam = p }
      }
    }
    if (lpcModel != null) {
      val order = lpcModel.coefs.length
      w2.put(0, 1); w2.put(32 | (order - 1), 6); w2.put(0, 1) // LPC
      i = from
      while (i < from + order) { // warmup
        w2.put(x(i).toLong & mask, ebps)
        i += 1
      }
      w2.put((lpcModel.prec - 1).toLong, 4)
      w2.put(lpcModel.shift.toLong, 5) // non-negative by construction
      var j = 0
      while (j < order) {
        w2.put(lpcModel.coefs(j).toLong & ((1L << lpcModel.prec) - 1),
          lpcModel.prec)
        j += 1
      }
      emitRice(lpcResiduals(x, from, from + bs, lpcModel), lpcParam)
    } else if (bestOrder < 0) {
      w2.put(0, 1); w2.put(1, 6); w2.put(0, 1) // VERBATIM
      i = from
      while (i < from + bs) {
        w2.put(x(i).toLong & mask, ebps)
        i += 1
      }
    } else {
      w2.put(0, 1); w2.put(8 | bestOrder, 6); w2.put(0, 1) // FIXED
      i = from
      while (i < from + bestOrder) { // warmup
        w2.put(x(i).toLong & mask, ebps)
        i += 1
      }
      emitRice(fixedResiduals(x, from, from + bs, bestOrder), bestParam)
    }
    w2
  }

  /** Encode payload bytes (little-endian mono PCM at `bps` ∈ {16, 24}
    * bits, whole samples only) as a FLAC stream; null when no full
    * sample fits. When `lpcOrder` > 0, an LPC subframe of that order
    * competes (by exact bit cost) with the constant/fixed/verbatim
    * choices.
    */
  def encodeFlac(payload: Array[Byte], lpcOrder: Int = 0,
      bps: Int = 16, varBlock: Boolean = false): Array[Byte] = {
    require(lpcOrder >= 0 && lpcOrder <= 32, "lpcOrder must be in 0..32")
    require(bps == 16 || bps == 24, "bps must be 16 or 24")
    val bytesPer = bps / 8
    val n = payload.length / bytesPer
    if (n < 1) return null
    if (n > (1 << 24)) return null // fixture bound, mirrors the pixel cap
    val x = new Array[Int](n)
    var i = 0
    while (i < n) {
      x(i) =
        if (bps == 16)
          ((payload(2 * i) & 0xff) | (payload(2 * i + 1) << 8)).toShort.toInt
        else // 3-byte LE, sign-extended from bit 23
          (((payload(3 * i) & 0xff) | ((payload(3 * i + 1) & 0xff) << 8) |
            ((payload(3 * i + 2) & 0xff) << 16)) << 8) >> 8
      i += 1
    }

    val out = new java.io.ByteArrayOutputStream(payload.length + 1024)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    // STREAMINFO: last-metadata flag set, type 0, length 34
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    val si = new BitWriter
    // variable blocking alternates 576/384-sample blocks (the fixture
    // rule), so STREAMINFO's block-size bounds genuinely differ
    si.put(if (varBlock) 384 else BlockSize, 16) // min block size
    si.put(BlockSize, 16)                        // max block size
    si.put(0, 24)         // min frame size: unknown
    si.put(0, 24)         // max frame size: unknown
    si.put(8000, 20)      // sample rate
    si.put(0, 3)          // channels - 1
    si.put(bps - 1L, 5)   // bits per sample - 1
    si.put(n.toLong, 36)  // total samples
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(java.util.Arrays.copyOfRange(payload, 0, bytesPer * n))
    md5.foreach(b => si.put(b & 0xffL, 8))
    out.write(si.toByteArray)

    var f = 0
    var start = 0
    while (start < n) {
      // variable blocking: even frames 576 samples, odd frames 384 —
      // the header then carries the starting SAMPLE number, not the
      // frame number (the spec's two blocking strategies)
      val nominal =
        if (!varBlock) BlockSize else if (f % 2 == 0) BlockSize else 384
      val bs = math.min(nominal, n - start)
      val w = new BitWriter
      w.put(0xff, 8)          // sync (high 8)
      w.put(if (varBlock) 0xf9 else 0xf8, 8) // sync low 6 + reserved 0 +
                                             // blocking strategy bit
      w.put(0x70, 8)          // block size code 0b0111 (16-bit follows) +
                              // sample rate code 0b0000 (from STREAMINFO)
      // mono + sample size code (0b100 = 16 bit, 0b110 = 24) + reserved
      w.put(((if (bps == 16) 4 else 6) << 1).toLong, 8)
      putUtf8(w, if (varBlock) start.toLong else f.toLong)
      w.put((bs - 1).toLong, 16)
      val headBytes = w.toByteArray // aligned here by construction
      val w2 = new BitWriter
      headBytes.foreach(b => w2.put(b & 0xffL, 8))
      w2.put(crc8(headBytes, 0, headBytes.length).toLong, 8)

      buildSubframe(x, start, bs, bps, lpcOrder).appendTo(w2)
      w2.align()
      val frameBytes = w2.toByteArray
      out.write(frameBytes)
      val c16 = crc16(frameBytes, 0, frameBytes.length)
      out.write((c16 >>> 8) & 0xff); out.write(c16 & 0xff)
      start += bs
      f += 1
    }
    out.toByteArray
  }

  /** Encode payload bytes as STEREO FLAC: consecutive LE samples at
    * `bps` ∈ {16, 24} bits alternate (left, right) — whole pairs only;
    * null when no full pair fits. Every frame COSTS all four channel
    * assignments exactly — independent, left/side, right/side, mid/side
    * (the side channel at bps+1 bits per the spec) — and writes the
    * cheapest, so correlated channels really take the decorrelated wire.
    */
  def encodeFlacStereo(payload: Array[Byte], lpcOrder: Int = 0,
      bps: Int = 16): Array[Byte] = {
    require(lpcOrder >= 0 && lpcOrder <= 32, "lpcOrder must be in 0..32")
    require(bps == 16 || bps == 24, "bps must be 16 or 24")
    val bytesPer = bps / 8
    val nPairs = payload.length / (2 * bytesPer)
    if (nPairs < 1) return null
    if (nPairs > (1 << 23)) return null
    val left = new Array[Int](nPairs)
    val right = new Array[Int](nPairs)
    def sample(o: Int): Int =
      if (bps == 16)
        ((payload(o) & 0xff) | (payload(o + 1) << 8)).toShort.toInt
      else
        (((payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8) |
          ((payload(o + 2) & 0xff) << 16)) << 8) >> 8
    var i = 0
    while (i < nPairs) {
      left(i) = sample(2 * bytesPer * i)
      right(i) = sample(2 * bytesPer * i + bytesPer)
      i += 1
    }

    val out = new java.io.ByteArrayOutputStream(payload.length + 1024)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    val si = new BitWriter
    si.put(BlockSize, 16)
    si.put(BlockSize, 16)
    si.put(0, 24)
    si.put(0, 24)
    si.put(8000, 20)
    si.put(1, 3)              // channels - 1 = 1
    si.put(bps - 1L, 5)       // bits per sample - 1
    si.put(nPairs.toLong, 36) // total INTER-CHANNEL samples
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(java.util.Arrays.copyOfRange(payload, 0, 2 * bytesPer * nPairs))
    md5.foreach(b => si.put(b & 0xffL, 8))
    out.write(si.toByteArray)

    var f = 0
    var start = 0
    while (start < nPairs) {
      val bs = math.min(BlockSize, nPairs - start)
      // frame-local decorrelated channels
      val side = new Array[Int](bs)
      val mid = new Array[Int](bs)
      i = 0
      while (i < bs) {
        side(i) = left(start + i) - right(start + i)
        mid(i) = (left(start + i) + right(start + i)) >> 1
        i += 1
      }
      val subL = buildSubframe(left, start, bs, bps, lpcOrder)
      val subR = buildSubframe(right, start, bs, bps, lpcOrder)
      val subS = buildSubframe(side, 0, bs, bps + 1, lpcOrder)
      val subM = buildSubframe(mid, 0, bs, bps, lpcOrder)
      // four assignments, one exact cost scale
      val candidates = Seq(
        (0x1, subL, subR), // independent stereo
        (0x8, subL, subS), // left/side
        (0x9, subS, subR), // side/right
        (0xa, subM, subS)) // mid/side
      val (chanCode, first, second) = candidates.minBy {
        case (_, a, b) => a.bitLength + b.bitLength
      }

      val w = new BitWriter
      w.put(0xff, 8)
      w.put(0xf8, 8)
      w.put(0x70, 8)
      // assignment + sample size code (0b100 = 16, 0b110 = 24) + reserved
      w.put(((chanCode << 4) | ((if (bps == 16) 4 else 6) << 1)).toLong, 8)
      putUtf8(w, f.toLong)
      w.put((bs - 1).toLong, 16)
      val headBytes = w.toByteArray
      val w2 = new BitWriter
      headBytes.foreach(b => w2.put(b & 0xffL, 8))
      w2.put(crc8(headBytes, 0, headBytes.length).toLong, 8)
      first.appendTo(w2)
      second.appendTo(w2)
      w2.align()
      val frameBytes = w2.toByteArray
      out.write(frameBytes)
      val c16 = crc16(frameBytes, 0, frameBytes.length)
      out.write((c16 >>> 8) & 0xff); out.write(c16 & 0xff)
      start += bs
      f += 1
    }
    out.toByteArray
  }

  /** Per-asset decode result; -1 stats when invalid. `sumIs` weights
    * each sample by its global index — the order-sensitive stat.
    */
  final case class Decoded(valid: Boolean, nFrames: Long, nSamples: Long,
      sumS: Long, sumAbs: Long, sumIs: Long)

  private val Invalid = Decoded(valid = false, -1, -1, -1, -1, -1)

  // MSB-first bit reader with an explicit failure flag
  private final class BitReader(val bytes: Array[Byte]) {
    var pos = 0   // next byte
    var bit = 0   // bits consumed of bytes(pos) (0..7)
    var fail = false
    def bitAligned: Boolean = bit == 0
    def readBit(): Int = {
      if (pos >= bytes.length) { fail = true; return 0 }
      val b = (bytes(pos) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      b
    }
    def read(bits: Int): Long = {
      var v = 0L
      var i = 0
      while (i < bits) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readUnary(): Int = {
      var q = 0
      while (!fail && readBit() == 0) {
        q += 1
        if (q > (bytes.length - pos) * 8 + 8) { fail = true; return -1 }
      }
      if (fail) -1 else q
    }
    /** Skip to the byte boundary; FLAC padding bits must be zero. */
    def alignZero(): Boolean = {
      while (bit != 0) if (readBit() != 0 || fail) return false
      !fail
    }
  }

  private def readUtf8(r: BitReader): Long = {
    val b0 = r.read(8).toInt
    if (r.fail) return -1
    if ((b0 & 0x80) == 0) return b0.toLong
    var cont = 0
    var mask = 0x40
    while ((b0 & mask) != 0 && cont < 7) { cont += 1; mask >>= 1 }
    if (cont < 1 || cont > 6) return -1
    var v = (b0 & (mask - 1)).toLong
    var i = 0
    while (i < cont) {
      val b = r.read(8).toInt
      if (r.fail || (b & 0xc0) != 0x80) return -1
      v = (v << 6) | (b & 0x3f)
      i += 1
    }
    // overlong encodings are malformed per the coding rule
    if (cont >= 1 && v < (if (cont == 1) 0x80L else 1L << (5 * cont + 1)))
      return -1
    v
  }

  def decodeFlac(bytes: Array[Byte]): Decoded = {
    val n = bytes.length
    if (n < 4 + 4 + 34) return Invalid
    if (bytes(0) != 'f' || bytes(1) != 'L' || bytes(2) != 'a' ||
      bytes(3) != 'C') return Invalid
    var p = 4
    // ---- metadata blocks: STREAMINFO first, others skipped ----
    var sawStreamInfo = false
    var last = false
    var minBlock = 0
    var maxBlock = 0
    var channels = 0
    var bps = 0
    var totalSamples = 0L
    val md5Declared = new Array[Byte](16)
    var first = true
    while (!last) {
      if (p + 4 > n) return Invalid
      val hdr = bytes(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = ((bytes(p + 1) & 0xff) << 16) | ((bytes(p + 2) & 0xff) << 8) |
        (bytes(p + 3) & 0xff)
      p += 4
      if (p + len > n) return Invalid
      if (first) {
        if (typ != 0 || len != 34) return Invalid // STREAMINFO must lead
        val r = new BitReader(bytes)
        r.pos = p
        minBlock = r.read(16).toInt
        maxBlock = r.read(16).toInt
        r.read(24); r.read(24) // frame-size bounds: informational
        val rate = r.read(20)
        channels = r.read(3).toInt + 1
        bps = r.read(5).toInt + 1
        totalSamples = r.read(36)
        if (rate < 1) return Invalid
        System.arraycopy(bytes, p + 18, md5Declared, 0, 16)
        sawStreamInfo = true
      } else if (typ == 0 || typ == 127) return Invalid // dup/invalid type
      first = false
      p += len
    }
    if (!sawStreamInfo) return Invalid
    if (minBlock < 16 || maxBlock < minBlock || maxBlock > 65535)
      return Invalid
    // 16- and 24-bit PCM are the real audio-lake widths; anything else
    // stays a visible reject (8/12/20-bit are rare wires, fenced)
    if (bps != 16 && bps != 24) return Invalid
    if (channels < 1 || channels > 8) return Invalid
    if (totalSamples < 1 || totalSamples > (1L << 24)) return Invalid
    val bytesPer = bps / 8
    val sampleLo = -(1 << (bps - 1))
    val sampleHi = (1 << (bps - 1)) - 1

    val md5 = java.security.MessageDigest.getInstance("MD5")
    var sumS = 0L
    var sumAbs = 0L
    var sumIs = 0L
    var sampleIdx = 0L // global per-channel sample position
    var nFrames = 0L
    val frame = new Array[Array[Int]](channels)
    var ch = 0
    while (ch < channels) { frame(ch) = new Array[Int](65536); ch += 1 }
    val pcmBuf = new Array[Byte](bytesPer * channels)

    val r = new BitReader(bytes)
    r.pos = p
    var strategy = -1 // 0 = fixed, 1 = variable; one strategy per stream
    while (r.pos < n) {
      val frameStart = r.pos
      if (!r.bitAligned) return Invalid
      // ---- frame header ----
      val b0 = r.read(8).toInt
      val b1 = r.read(8).toInt
      if (r.fail || b0 != 0xff || (b1 & 0xfc) != 0xf8) return Invalid
      if ((b1 & 0x02) != 0) return Invalid // reserved bit
      // blocking strategy (the spec's last bit): 0 = fixed block size
      // with FRAME numbers, 1 = variable block size with starting
      // SAMPLE numbers; a stream must not mix the two
      val varb = b1 & 0x01
      if (strategy == -1) strategy = varb
      else if (strategy != varb) return Invalid
      val b2 = r.read(8).toInt
      val b3 = r.read(8).toInt
      if (r.fail) return Invalid
      val bsCode = b2 >>> 4
      val srCode = b2 & 0x0f
      val chanCode = b3 >>> 4
      val ssCode = (b3 >>> 1) & 7
      if ((b3 & 1) != 0) return Invalid // reserved
      if (chanCode > 10) return Invalid // reserved assignments
      val decor = chanCode >= 8 // left/side, right/side, mid/side
      if (decor && channels != 2) return Invalid
      if (!decor && chanCode + 1 != channels) return Invalid
      // the DIFFERENCE channel carries one extra bit per the spec
      val sideCh = chanCode match {
        case 8 | 10 => 1
        case 9 => 0
        case _ => -1
      }
      // the sample-size code must AGREE with STREAMINFO (0 defers to it;
      // 3 and 7 are reserved) — a frame contradicting the stream is forged
      val ssBits = ssCode match {
        case 0 => bps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case _ => return Invalid
      }
      if (ssBits != bps) return Invalid
      val fno = readUtf8(r)
      // strictly sequential under either strategy: the coded number is
      // the frame index (fixed) or the frame's starting sample (variable)
      if (fno != (if (strategy == 1) sampleIdx else nFrames)) return Invalid
      val bs = bsCode match {
        case 0 => return Invalid // reserved
        case 1 => 192
        case c if c <= 5 => 576 << (c - 2)
        case 6 => val v = r.read(8); if (r.fail) return Invalid; v.toInt + 1
        case 7 => val v = r.read(16); if (r.fail) return Invalid; v.toInt + 1
        case c => 256 << (c - 8)
      }
      srCode match {
        case 0 => () // from STREAMINFO
        case 12 => if (r.read(8) < 1 || r.fail) return Invalid
        case 13 | 14 => if (r.read(16) < 1 || r.fail) return Invalid
        case 15 => return Invalid
        case _ => () // a fixed table rate: self-descriptive
      }
      if (!r.bitAligned) return Invalid // header is whole bytes
      val declaredCrc8 = r.read(8).toInt
      if (r.fail) return Invalid
      if (crc8(bytes, frameStart, r.pos - 1) != declaredCrc8) return Invalid
      // block-size discipline: STREAMINFO bounds apply to all frames but
      // the last (which may be shorter)
      val isLast = sampleIdx + bs >= totalSamples
      if (bs < 1 || bs > 65536) return Invalid
      if (!isLast && (bs < minBlock || bs > maxBlock)) return Invalid
      if (isLast && bs > maxBlock) return Invalid
      if (sampleIdx + bs > totalSamples) return Invalid

      // ---- one subframe per channel ----
      ch = 0
      while (ch < channels) {
        if (r.readBit() != 0 || r.fail) return Invalid // pad bit
        val typ = r.read(6).toInt
        var wasted = 0
        if (r.readBit() == 1) {
          val u = r.readUnary()
          if (u < 0) return Invalid
          wasted = u + 1
        }
        if (r.fail) return Invalid
        val ebps = bps + (if (ch == sideCh) 1 else 0) - wasted
        if (ebps < 1) return Invalid
        val x = frame(ch)
        def signed(v: Long, bits: Int): Int =
          ((v << (64 - bits)).toLong >> (64 - bits)).toInt
        if (typ == 0) { // CONSTANT
          val v = signed(r.read(ebps), ebps)
          if (r.fail) return Invalid
          var i = 0
          while (i < bs) { x(i) = v; i += 1 }
        } else if (typ == 1) { // VERBATIM
          var i = 0
          while (i < bs) {
            x(i) = signed(r.read(ebps), ebps)
            i += 1
          }
          if (r.fail) return Invalid
        } else if ((typ >= 8 && typ <= 12) || typ >= 32) {
          // FIXED (order = typ - 8) or LPC (order = typ - 32 + 1)
          val isLpc = typ >= 32
          val order = if (isLpc) typ - 31 else typ - 8
          if (order >= bs) return Invalid
          var i = 0
          while (i < order) {
            x(i) = signed(r.read(ebps), ebps)
            i += 1
          }
          // LPC model: precision, shift, quantized coefficients
          var qlpCoefs: Array[Int] = null
          var qlpShift = 0
          if (isLpc) {
            val precM1 = r.read(4).toInt
            if (r.fail || precM1 == 15) return Invalid // 0b1111 reserved
            val prec = precM1 + 1
            val shiftRaw = signed(r.read(5), 5)
            if (r.fail || shiftRaw < 0) return Invalid // negative: reserved
            qlpShift = shiftRaw
            qlpCoefs = new Array[Int](order)
            var j = 0
            while (j < order) {
              qlpCoefs(j) = signed(r.read(prec), prec)
              j += 1
            }
            if (r.fail) return Invalid
          }
          // residual: coding method, partition order, Rice partitions
          val method = r.read(2).toInt
          if (method > 1) return Invalid
          val pbits = if (method == 0) 4 else 5
          val escape = (1 << pbits) - 1
          val po = r.read(4).toInt
          if (r.fail) return Invalid
          val nPart = 1 << po
          if (bs % nPart != 0) return Invalid
          val perPart = bs / nPart
          if (perPart <= order && po > 0) return Invalid
          if (nPart == 1 && bs - order < 0) return Invalid
          var part = 0
          var i2 = order
          while (part < nPart) {
            val cnt = if (part == 0) perPart - order else perPart
            if (cnt < 0) return Invalid
            val param = r.read(pbits).toInt
            if (r.fail) return Invalid
            if (param == escape) {
              val raw = r.read(5).toInt
              if (r.fail) return Invalid
              var k = 0
              while (k < cnt) {
                x(i2) = if (raw == 0) 0 else signed(r.read(raw), raw)
                i2 += 1
                k += 1
              }
            } else {
              var k = 0
              while (k < cnt) {
                val q = r.readUnary()
                if (q < 0) return Invalid
                val u = (q.toLong << param) | r.read(param)
                if (r.fail) return Invalid
                x(i2) = ((u >>> 1) ^ -(u & 1L)).toInt // unfold zigzag
                i2 += 1
                k += 1
              }
            }
            part += 1
          }
          if (r.fail) return Invalid
          // reconstruct through the predictor
          i = order
          if (isLpc) {
            while (i < bs) {
              var acc = 0L // 64-bit accumulator per the spec's headroom note
              var j = 0
              while (j < order) {
                acc += qlpCoefs(j).toLong * x(i - 1 - j)
                j += 1
              }
              x(i) = x(i) + (acc >> qlpShift).toInt
              i += 1
            }
          } else {
            while (i < bs) {
              x(i) = order match {
                case 0 => x(i)
                case 1 => x(i) + x(i - 1)
                case 2 => x(i) + 2 * x(i - 1) - x(i - 2)
                case 3 => x(i) + 3 * x(i - 1) - 3 * x(i - 2) + x(i - 3)
                case _ =>
                  x(i) + 4 * x(i - 1) - 6 * x(i - 2) + 4 * x(i - 3) - x(i - 4)
              }
              i += 1
            }
          }
        } else return Invalid // reserved subframe types reject
        if (wasted > 0) {
          var i = 0
          while (i < bs) { x(i) = x(i) << wasted; i += 1 }
        }
        ch += 1
      }
      // ---- undo stereo decorrelation (the subframes carried the
      // transformed channels; L/R come back here) ----
      if (decor) {
        val x0 = frame(0)
        val x1 = frame(1)
        var i = 0
        chanCode match {
          case 8 => // left/side: right = left - side
            while (i < bs) { x1(i) = x0(i) - x1(i); i += 1 }
          case 9 => // side/right: left = right + side
            while (i < bs) { x0(i) = x1(i) + x0(i); i += 1 }
          case _ => // mid/side: mid carries the floor, side the parity
            while (i < bs) {
              val m2 = (x0(i) << 1) | (x1(i) & 1)
              x0(i) = (m2 + x1(i)) >> 1
              x1(i) = (m2 - x1(i)) >> 1
              i += 1
            }
        }
      }
      // a bps-bit stream must stay in bps-bit range after reconstruction
      // (checked on the FINAL channels, after any decorrelation undo)
      ch = 0
      while (ch < channels) {
        val x = frame(ch)
        var i3 = 0
        while (i3 < bs) {
          if (x(i3) < sampleLo || x(i3) > sampleHi) return Invalid
          i3 += 1
        }
        ch += 1
      }
      if (!r.alignZero()) return Invalid
      val declaredCrc16 = r.read(16).toInt
      if (r.fail) return Invalid
      if (crc16(bytes, frameStart, r.pos - 2) != declaredCrc16) return Invalid

      // ---- stats + the format's own identity proof ----
      var i = 0
      while (i < bs) {
        ch = 0
        while (ch < channels) {
          val s = frame(ch)(i)
          sumS += s
          sumAbs += math.abs(s)
          // global INTERLEAVED index — for stereo this is the position
          // in the LE16 stream the oracle reads off raw payload bytes
          sumIs += ((sampleIdx + i) * channels + ch) * s.toLong
          pcmBuf(bytesPer * ch) = (s & 0xff).toByte
          pcmBuf(bytesPer * ch + 1) = ((s >> 8) & 0xff).toByte
          if (bytesPer == 3)
            pcmBuf(bytesPer * ch + 2) = ((s >> 16) & 0xff).toByte
          ch += 1
        }
        md5.update(pcmBuf, 0, bytesPer * channels)
        i += 1
      }
      sampleIdx += bs
      nFrames += 1
    }
    if (nFrames < 1) return Invalid
    if (sampleIdx != totalSamples) return Invalid
    // MD5 all-zero means "unset" per the spec; a set MD5 must match
    if (md5Declared.exists(_ != 0) &&
      !java.util.Arrays.equals(md5.digest(), md5Declared)) return Invalid
    Decoded(valid = true, nFrames, sampleIdx * channels, sumS, sumAbs, sumIs)
  }
}

/** `graft_flac_encode(bytes[, lpcOrder, stereo, bps])`: payload (LE PCM
  * at 16 or 24 bits — mono samples, or interleaved L/R pairs when
  * `stereo`) → FLAC stream (null when no full sample/pair fits).
  * lpcOrder > 0 lets an LPC subframe of that order compete by exact bit
  * cost; stereo costs all four channel assignments per frame.
  */
case class FlacEncode(child: Expression, lpcOrder: Int = 0,
    stereo: Boolean = false, bps: Int = 16, varBlock: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(lpcOrder >= 0 && lpcOrder <= 32, "lpcOrder must be in 0..32")
  require(bps == 16 || bps == 24, "bps must be 16 or 24")
  require(!(stereo && varBlock), "one fixture axis at a time")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_flac_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    if (stereo)
      FlacCodec.encodeFlacStereo(input.asInstanceOf[Array[Byte]], lpcOrder, bps)
    else FlacCodec.encodeFlac(input.asInstanceOf[Array[Byte]], lpcOrder, bps,
      varBlock)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_flac_decode(bytes)`: full FLAC parse (CRC-8/CRC-16 verified,
  * Rice residual decode, fixed-predictor reconstruction, STREAMINFO MD5
  * identity) → per-asset stats struct.
  */
case class FlacDecode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("n_frames", LongType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("sum_s", LongType, nullable = true),
    StructField("sum_abs", LongType, nullable = true),
    StructField("sum_is", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_flac_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = FlacCodec.decodeFlac(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.nFrames, d.nSamples, d.sumS, d.sumAbs, d.sumIs)
    else InternalRow(false, null, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FlacNativeFunctions {

  def flacEncode(bytes: Column, lpcOrder: Int = 0, stereo: Boolean = false,
      bps: Int = 16, varBlock: Boolean = false): Column =
    ColumnBridge.column(FlacEncode(ColumnBridge.expression(bytes), lpcOrder, stereo, bps, varBlock))

  def flacDecode(bytes: Column): Column =
    ColumnBridge.column(FlacDecode(ColumnBridge.expression(bytes)))
}
