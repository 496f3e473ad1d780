package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native BASELINE (lossy, DCT) JPEG codec — ITU-T T.81 sequential DCT,
  * SOF0 — for single-component (grayscale) AND interleaved YCbCr 4:2:0
  * 8-bit frames: the full marker walk (DQT in zigzag order, DHT for DC
  * and AC classes and multiple table ids, SOF0, SOS), the byte-stuffed
  * entropy decode with per-component DC prediction + run/size AC coding
  * (EOB/ZRL), per-component dequantization, and the inverse DCT. This
  * closes the last corpus-reality image-codec gap: real image lakes are
  * overwhelmingly lossy 4:2:0 JPEG, and the [[graft.ext.Multimodal]]
  * stub now fences only H.264.
  *
  * THE ORACLE TRICK — why a lossy codec can still have an exact SQL
  * oracle: Huffman coding is bijective on the quantized-coefficient
  * stream, so on engine-encoded fixtures
  * `decode ∘ encode = IDCT ∘ dequantize ∘ quantize ∘ FDCT`, and that
  * right-hand side is DETERMINISTIC INTEGER ARITHMETIC when the DCT runs
  * in fixed point: this codec's 1-D basis is the orthonormal DCT-II
  * matrix scaled by 2^20 and rounded ONCE into 64 integer constants
  * ([[JpegDctCodec.IT]]), all sums/products stay in exact 64-bit range,
  * and every rounding is a floor-based half-up division both engines
  * replay identically (the NOTES floor-div discipline). DuckDB replays
  * the whole pipeline per 8x8 block straight from the raw payload bytes
  * — the oracle never runs the codec (the q260/q268 rule, one level
  * deeper).
  *
  * Bounds (why nothing overflows a Long): |IT| ≤ 2^19; samples are
  * level-shifted to [-128, 127], so |t1| ≤ 8·128·2^19 = 2^29 and
  * |t2| ≤ 2^51; quantized coefficients decode with size ≤ 10 so
  * |dequantized| ≤ 1023·255 < 2^18, |p1| ≤ 8·2^19·2^18 = 2^40 and
  * |p2| ≤ 8·2^40·2^19 < 2^62.2 — `p2 + 2^39` stays under 2^63.
  *
  * Scale: one native-expression pass per asset, O(64) block state plus
  * running sums — the [[QoiExpressions]]/[[PngExpressions]] shape.
  * Forged-SOF0-proof: every block consumes at least the DC code (≥ 2
  * bits) and the EOB (4 bits) of REAL input, so a forged 2^32-pixel
  * header over a tiny stream exhausts its bits and reports
  * `is_valid = false` without looping or allocating (block buffers are
  * fixed 64-entry arrays).
  */
object JpegDctCodec {

  /** Fixed-point bits of the DCT basis. */
  val Fix = 20
  private val Den = 1L << 40      // the two cascaded 2^20 scales
  private val HalfDen = 1L << 39

  /** Orthonormal 1-D DCT-II basis, fixed point: IT(u)(x) =
    * round(c(u)·cos((2x+1)uπ/16)·2^20) with c(0) = √(1/8), c(u>0) = 1/2.
    * Rounded ONCE here; the oracle SQL embeds these exact integers via
    * [[basisSqlRows]] — one source of truth, so engine and oracle can
    * never disagree on the basis.
    */
  val IT: Array[Array[Long]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) math.sqrt(0.125) else 0.5
    Math.round(c * math.cos((2 * x + 1) * u * math.Pi / 16) * (1L << Fix))
  }

  /** The public Annex-K luminance quantization table, natural (row-major,
    * row = vertical frequency v) order.
    */
  val Quant: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** The public Annex-K CHROMINANCE quantization table, natural order —
    * the second table real camera files carry (Tq 1 for Cb/Cr).
    */
  val QuantChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** Zigzag scan order: position k in the scan → natural index v·8+u. */
  val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** `(u, x, c)` VALUES rows of the fixed-point basis for the oracle SQL. */
  def basisSqlRows: String =
    (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u, $x, ${IT(u)(x)})").mkString(", ")

  /** `(u, v, q)` VALUES rows of the quant table for the oracle SQL. */
  def quantSqlRows: String =
    (for (v <- 0 until 8; u <- 0 until 8)
      yield s"($u, $v, ${Quant(v * 8 + u)})").mkString(", ")

  /** `(cmp, u, v, q)` VALUES rows of BOTH quant tables (cmp 0 = luminance,
    * 1 = chrominance) for the 4:2:0 oracle SQL.
    */
  def quant420SqlRows: String = {
    val luma = for (v <- 0 until 8; u <- 0 until 8)
      yield s"(0, $u, $v, ${Quant(v * 8 + u)})"
    val chroma = for (v <- 0 until 8; u <- 0 until 8)
      yield s"(1, $u, $v, ${QuantChroma(v * 8 + u)})"
    (luma ++ chroma).mkString(", ")
  }

  // standard DC luminance table (Annex K.3.1.1) — shared shape with the
  // lossless codec, restated here so this file is self-contained
  private val DcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  // standard AC luminance table (Annex K.3.2): counts per code length,
  // then the 162 run/size symbols in code order
  private val AcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
  private val AcVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  // standard DC chrominance table (Annex K.3.1.2)
  private val DcBitsC = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcValsC = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  // standard AC chrominance table (Annex K.3.2.2): counts per code length,
  // then the 162 run/size symbols in code order
  private val AcBitsC = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119)
  private val AcValsC = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Canonical (code, length) per symbol from a BITS array. */
  private def canonical(bits: Array[Int], nVals: Int): (Array[Int], Array[Int]) = {
    val codes = new Array[Int](nVals)
    val lens = new Array[Int](nVals)
    var code = 0; var k = 0; var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        codes(k) = code; lens(k) = len; code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    (codes, lens)
  }

  /** floor-based half-up division, positive even denominator: the ONE
    * rounding rule of the whole pipeline, replayed in DuckDB as
    * `(a + den/2 - nonNegMod(a + den/2, den)) // den`.
    */
  @inline private def roundDiv(a: Long, den: Long): Long =
    Math.floorDiv(a + (den >> 1), den)

  /** [[forwardQuantizeWith]] against the Annex-K luminance table. */
  def forwardQuantize(s: Array[Int]): Array[Long] =
    forwardQuantizeWith(s, Quant)

  /** The forward half of the pipeline for one 8x8 block: level shift,
    * fixed-point FDCT, quantization by the given table. `s` is 64 samples
    * in natural order; returns quantized coefficients in natural order.
    * Shared by the encoders and the spec's independent replay.
    */
  def forwardQuantizeWith(s: Array[Int], quantTab: Array[Int]): Array[Long] = {
    val t1 = new Array[Long](64) // t1(u, y) at u*8 + y
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 8) {
        var acc = 0L
        var x = 0
        while (x < 8) { acc += (s(y * 8 + x) - 128) * IT(u)(x); x += 1 }
        t1(u * 8 + y) = acc
        y += 1
      }
      u += 1
    }
    val qc = new Array[Long](64)
    var v = 0
    while (v < 8) {
      u = 0
      while (u < 8) {
        var acc = 0L
        var y = 0
        while (y < 8) { acc += t1(u * 8 + y) * IT(v)(y); y += 1 }
        val q = quantTab(v * 8 + u).toLong
        qc(v * 8 + u) = roundDiv(acc, q * Den)
        u += 1
      }
      v += 1
    }
    qc
  }

  /** The inverse half for one block against the Annex-K table (the
    * encoder/spec replay path): dequantize, fixed-point IDCT, level
    * shift, clamp. `qc` natural order; returns 64 samples 0..255.
    */
  def dequantizeInverse(qc: Array[Long]): Array[Int] =
    dequantizeInverseWith(qc, Quant)

  /** Encode `h = 8·(len/(8·width))` rows of 8-bit grayscale samples (the
    * whole-BLOCK-ROW prefix of the payload) as a baseline SOF0 JPEG with
    * the Annex-K luminance quant + Huffman tables. Height is truncated to
    * a multiple of 8 so no partial (edge-padded) blocks exist — the
    * encoder chooses how much payload to consume, like encodeBmp's
    * whole-row rule, which keeps the SQL oracle free of padding
    * semantics. Returns null when no full block row fits or the height
    * would overflow the u16 SOF field.
    */
  def encode(payload: Array[Byte], width: Int): Array[Byte] = {
    require(width >= 8 && width % 8 == 0 && width <= 65528,
      "width must be a positive multiple of 8 fitting the u16 SOF field")
    val blockRows = payload.length / (width * 8)
    val h = blockRows * 8
    if (h < 8 || h > 65535) return null
    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 256)
    def u16(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xdb) // DQT, 8-bit precision, id 0, zigzag order per spec
    u16(2 + 1 + 64)
    out.write(0x00)
    var k = 0
    while (k < 64) { out.write(Quant(ZigZag(k))); k += 1 }
    marker(0xc4) // DHT: DC class 0 id 0, then AC class 1 id 0
    u16(2 + (1 + 16 + DcVals.length) + (1 + 16 + AcVals.length))
    out.write(0x00); DcBits.foreach(out.write); DcVals.foreach(out.write)
    out.write(0x10); AcBits.foreach(out.write); AcVals.foreach(out.write)
    marker(0xc0) // SOF0: baseline sequential DCT
    u16(8 + 3)
    out.write(8) // precision
    u16(h); u16(width)
    out.write(1) // one component
    out.write(1); out.write(0x11); out.write(0) // id 1, H=V=1, Tq 0
    marker(0xda) // SOS
    u16(6 + 2)
    out.write(1)
    out.write(1); out.write(0x00) // component 1, DC table 0, AC table 0
    out.write(0)  // Ss = 0
    out.write(63) // Se = 63
    out.write(0)  // Ah/Al = 0

    val (dcCodes, dcLens) = canonical(DcBits, DcVals.length)
    val (acCodes, acLens) = canonical(AcBits, AcVals.length)
    // symbol -> code index maps (vals are in code order)
    val acIdx = new Array[Int](256); java.util.Arrays.fill(acIdx, -1)
    var i = 0
    while (i < AcVals.length) { acIdx(AcVals(i)) = i; i += 1 }

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
    def cat(d: Long): Int = {
      var s = 0
      val m = math.abs(d)
      while ((1L << s) <= m) s += 1
      s
    }
    def putCoef(d: Long, s: Int): Unit = {
      if (s > 0) {
        val add = if (d >= 0) d else d - 1 // one's-complement negatives
        putBits((add & ((1L << s) - 1)).toInt, s)
      }
    }

    val blocksPerRow = width / 8
    val s = new Array[Int](64)
    var predDc = 0L
    var by = 0
    while (by < blockRows) {
      var bx = 0
      while (bx < blocksPerRow) {
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            s(yy * 8 + xx) =
              payload((by * 8 + yy) * width + bx * 8 + xx) & 0xff
            xx += 1
          }
          yy += 1
        }
        val qc = forwardQuantize(s)
        // DC: category-coded difference from the previous block's DC
        val diff = qc(0) - predDc
        predDc = qc(0)
        val ds = cat(diff)
        putBits(dcCodes(ds), dcLens(ds))
        putCoef(diff, ds)
        // AC: run/size symbols over the zigzag scan, ZRL for 16-zero
        // runs, EOB when the tail is all zero
        var kk = 1
        var run = 0
        while (kk < 64) {
          val c = qc(ZigZag(kk))
          if (c == 0L) run += 1
          else {
            while (run > 15) { putBits(acCodes(acIdx(0xf0)), acLens(acIdx(0xf0))); run -= 16 }
            val sz = cat(c)
            val sym = (run << 4) | sz
            putBits(acCodes(acIdx(sym)), acLens(acIdx(sym)))
            putCoef(c, sz)
            run = 0
          }
          kk += 1
        }
        if (run > 0) putBits(acCodes(acIdx(0x00)), acLens(acIdx(0x00))) // EOB
        bx += 1
      }
      by += 1
    }
    if (nbits > 0) putBits((1 << (8 - nbits)) - 1, 8 - nbits) // pad with 1s
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Encode the payload as a 3-component YCbCr 4:2:0 baseline SOF0 JPEG —
    * the interleaved-MCU shape real camera files hold. The fixture layout
    * is BLOCK-SEQUENTIAL: each 384-byte slice of the payload is one MCU's
    * six 8x8 blocks in interleave order (Y00 Y01 Y10 Y11 Cb Cr), each
    * block row-major — so payload byte 64·b + 8·y + x IS block b's sample
    * (y, x), and the oracle's per-block replay routes the quant table by
    * b mod 6 with no spatial arithmetic at all. Geometry: width 16 (one
    * MCU per row), height 16·⌊len/384⌋. Tables: Annex-K luminance +
    * chrominance quant (Tq 0/1) and all four standard Huffman tables
    * (DC/AC, classes 0/1) — the multi-table machinery a grayscale stream
    * never exercises. Returns null when no full MCU fits or the height
    * would overflow the u16 SOF field.
    */
  def encode420(payload: Array[Byte]): Array[Byte] = encode420(payload, 0)

  /** [[encode420]] with a DRI restart interval: `restartInterval > 0`
    * writes a DRI segment and an RST(m mod 8) marker after every
    * `restartInterval` MCUs (never after the last), byte-aligning the
    * bitstream and resetting all DC predictors at each — the
    * error-resilience structure real camera files carry. Restarts change
    * the STREAM, not the samples: decode must report identical stats.
    */
  def encode420(payload: Array[Byte], restartInterval: Int): Array[Byte] =
    encodeYcc(payload, 2, 2, restartInterval)

  /** YCbCr 4:2:2 (luma 2x1, chroma 1x1) — the scanner/broadcast shape:
    * each 256-byte payload slice is one MCU's four blocks (Y0 Y1 Cb Cr),
    * geometry 16 x 8·⌊len/256⌋.
    */
  def encode422(payload: Array[Byte], restartInterval: Int = 0): Array[Byte] =
    encodeYcc(payload, 2, 1, restartInterval)

  /** YCbCr 4:4:4 (all components 1x1) — the screenshot/high-quality
    * shape: each 192-byte payload slice is one MCU's three blocks
    * (Y Cb Cr), geometry 8 x 8·⌊len/192⌋.
    */
  def encode444(payload: Array[Byte], restartInterval: Int = 0): Array[Byte] =
    encodeYcc(payload, 1, 1, restartInterval)

  /** YCbCr 4:1:1 (luma 4x1, chroma 1x1) — the DV-camera shape, and the
    * first fixture exercising a sampling factor ABOVE 2: each 384-byte
    * payload slice is one MCU's six blocks (Y0..Y3 Cb Cr), geometry
    * 32 x 8·⌊len/384⌋.
    */
  def encode411(payload: Array[Byte], restartInterval: Int = 0): Array[Byte] =
    encodeYcc(payload, 4, 1, restartInterval)

  /** The generalized 3-component YCbCr baseline encoder behind
    * [[encode420]]/[[encode422]]/[[encode444]]/[[encode411]]: luma at
    * `lumaH` x `lumaV` sampling (each in 1..4, blocks per MCU <= 10 per
    * T.81 B.2.3), chroma at 1x1. The fixture layout stays
    * BLOCK-SEQUENTIAL: each 64·(lumaH·lumaV + 2)-byte payload slice is
    * one MCU's blocks in interleave order (lumaH·lumaV Y blocks, Cb, Cr),
    * each row-major — so the oracle routes the per-block replay by
    * `b mod blocksPerMcu` alone, for every shape. Geometry: width
    * 8·lumaH (one MCU per row), height 8·lumaV·⌊len/bytesPerMcu⌋.
    * Returns null when no full MCU fits or the height would overflow the
    * u16 SOF field.
    */
  def encodeYcc(payload: Array[Byte], lumaH: Int, lumaV: Int,
      restartInterval: Int): Array[Byte] = {
    require(lumaH >= 1 && lumaH <= 4 && lumaV >= 1 && lumaV <= 4 &&
      lumaH * lumaV + 2 <= 10,
      "luma sampling factors must be 1..4 with <= 10 blocks per MCU (T.81 B.2.3)")
    require(restartInterval >= 0 && restartInterval <= 65535,
      "restart interval must fit the u16 DRI field")
    val nLuma = lumaH * lumaV
    val bpm = nLuma + 2
    val nMcu = payload.length / (64 * bpm)
    if (nMcu < 1 || 8L * lumaV * nMcu > 65535) return null
    val h = 8 * lumaV * nMcu
    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 512)
    def u16(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xdb) // DQT: luminance (Pq 0, Tq 0) + chrominance (Pq 0, Tq 1)
    u16(2 + 65 + 65)
    out.write(0x00)
    var k = 0
    while (k < 64) { out.write(Quant(ZigZag(k))); k += 1 }
    out.write(0x01)
    k = 0
    while (k < 64) { out.write(QuantChroma(ZigZag(k))); k += 1 }
    marker(0xc4) // DHT: DC0, AC0 (luminance), DC1, AC1 (chrominance)
    u16(2 + (1 + 16 + DcVals.length) + (1 + 16 + AcVals.length) +
      (1 + 16 + DcValsC.length) + (1 + 16 + AcValsC.length))
    out.write(0x00); DcBits.foreach(out.write); DcVals.foreach(out.write)
    out.write(0x10); AcBits.foreach(out.write); AcVals.foreach(out.write)
    out.write(0x01); DcBitsC.foreach(out.write); DcValsC.foreach(out.write)
    out.write(0x11); AcBitsC.foreach(out.write); AcValsC.foreach(out.write)
    marker(0xc0) // SOF0: 3 components, Y at lumaH x lumaV, Cb/Cr at 1x1
    u16(8 + 3 * 3)
    out.write(8) // precision
    u16(h); u16(8 * lumaH)
    out.write(3)
    out.write(1); out.write((lumaH << 4) | lumaV); out.write(0) // Y, Tq 0
    out.write(2); out.write(0x11); out.write(1) // Cb: id 2, H=V=1, Tq 1
    out.write(3); out.write(0x11); out.write(1) // Cr: id 3, H=V=1, Tq 1
    if (restartInterval > 0) {
      marker(0xdd) // DRI
      u16(4)
      u16(restartInterval)
    }
    marker(0xda) // SOS: 3 components with their table ids
    u16(6 + 2 * 3)
    out.write(3)
    out.write(1); out.write(0x00) // Y:  DC 0, AC 0
    out.write(2); out.write(0x11) // Cb: DC 1, AC 1
    out.write(3); out.write(0x11) // Cr: DC 1, AC 1
    out.write(0)  // Ss = 0
    out.write(63) // Se = 63
    out.write(0)  // Ah/Al = 0

    val (dcCodes, dcLens) = canonical(DcBits, DcVals.length)
    val (acCodes, acLens) = canonical(AcBits, AcVals.length)
    val (dcCodesC, dcLensC) = canonical(DcBitsC, DcValsC.length)
    val (acCodesC, acLensC) = canonical(AcBitsC, AcValsC.length)
    def idxOf(vals: Array[Int]): Array[Int] = {
      val m = new Array[Int](256); java.util.Arrays.fill(m, -1)
      var i = 0
      while (i < vals.length) { m(vals(i)) = i; i += 1 }
      m
    }
    val acIdx = idxOf(AcVals)
    val acIdxC = idxOf(AcValsC)

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
    def cat(d: Long): Int = {
      var s = 0
      val m = math.abs(d)
      while ((1L << s) <= m) s += 1
      s
    }
    def putCoef(d: Long, s: Int): Unit = {
      if (s > 0) {
        val add = if (d >= 0) d else d - 1 // one's-complement negatives
        putBits((add & ((1L << s) - 1)).toInt, s)
      }
    }
    val s = new Array[Int](64)
    val preds = new Array[Long](3) // per-component DC predictors
    var rstM = 0
    var b = 0
    val nBlocks = bpm * nMcu
    while (b < nBlocks) {
      var i = 0
      while (i < 64) { s(i) = payload(b * 64 + i) & 0xff; i += 1 }
      val chroma = b % bpm >= nLuma
      val ci = if (b % bpm < nLuma) 0 else if (b % bpm == nLuma) 1 else 2
      val qc = forwardQuantizeWith(s, if (chroma) QuantChroma else Quant)
      val diff = qc(0) - preds(ci)
      preds(ci) = qc(0)
      val ds = cat(diff)
      if (chroma) putBits(dcCodesC(ds), dcLensC(ds))
      else putBits(dcCodes(ds), dcLens(ds))
      putCoef(diff, ds)
      var kk = 1
      var run = 0
      def putAc(sym: Int): Unit =
        if (chroma) putBits(acCodesC(acIdxC(sym)), acLensC(acIdxC(sym)))
        else putBits(acCodes(acIdx(sym)), acLens(acIdx(sym)))
      while (kk < 64) {
        val c = qc(ZigZag(kk))
        if (c == 0L) run += 1
        else {
          while (run > 15) { putAc(0xf0); run -= 16 }
          val sz = cat(c)
          putAc((run << 4) | sz)
          putCoef(c, sz)
          run = 0
        }
        kk += 1
      }
      if (run > 0) putAc(0x00) // EOB
      // restart boundary after every `restartInterval` complete MCUs
      // (never after the last): byte-align with 1-bits, write RST(m mod
      // 8) — a real marker, never byte-stuffed — and reset every DC
      // predictor per the spec
      if (restartInterval > 0 && (b + 1) % bpm == 0) {
        val mcu = (b + 1) / bpm
        if (mcu % restartInterval == 0 && mcu < nMcu) {
          if (nbits > 0) putBits((1 << (8 - nbits)) - 1, 8 - nbits)
          marker(0xd0 + rstM)
          rstM = (rstM + 1) % 8
          preds(0) = 0L; preds(1) = 0L; preds(2) = 0L
        }
      }
      b += 1
    }
    if (nbits > 0) putBits((1 << (8 - nbits)) - 1, 8 - nbits) // pad with 1s
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** [[encode]] with a JFIF APP0 density header and an Exif APP1
    * orientation record spliced after SOI — the metadata surface real
    * camera/scanner files carry. Values derive DETERMINISTICALLY from the
    * first payload bytes, so the SQL oracle reads the expected metadata
    * straight off the raw payload while the engine must PARSE it back out
    * of the stream (APP0 header fields, TIFF IFD0 walk):
    * orientation = 1 + (b0 mod 8), units = b1 mod 3, Xdensity = 1 + b2,
    * Ydensity = 1 + b3. Metadata changes the stream, never the samples.
    */
  def encodeWithMeta(payload: Array[Byte], width: Int): Array[Byte] = {
    val base = encode(payload, width)
    if (base == null) return null
    val orientation = 1 + ((payload(0) & 0xff) % 8)
    val units = (payload(1) & 0xff) % 3
    val xd = 1 + (payload(2) & 0xff)
    val yd = 1 + (payload(3) & 0xff)
    val app0 = Array[Int](0xff, 0xe0, 0, 16, 'J', 'F', 'I', 'F', 0, 1, 2,
      units, xd >> 8, xd & 0xff, yd >> 8, yd & 0xff, 0, 0).map(_.toByte)
    // Exif APP1, big-endian ("MM") TIFF: IFD0 with one entry — tag 0x0112
    // (orientation), type SHORT, count 1 — and no next IFD
    val app1 = Array[Int](0xff, 0xe1, 0, 34, 'E', 'x', 'i', 'f', 0, 0,
      'M', 'M', 0, 42, 0, 0, 0, 8,
      0, 1,
      0x01, 0x12, 0, 3, 0, 0, 0, 1,
      0, orientation, 0, 0,
      0, 0, 0, 0).map(_.toByte)
    base.take(2) ++ app0 ++ app1 ++ base.drop(2)
  }

  /** Progressive AC Huffman table: flat 8-bit codes over every symbol a
    * progressive scan can emit — EOBn (n 0..14), ZRL, and (run, size) for
    * run 0..15, size 1..10. The Annex-K sequential AC table lacks the
    * EOBn symbols (T.81 defines them only for progressive mode), so
    * progressive streams carry this custom table. 176 codes of length 8
    * satisfy Kraft (176 < 256) and the canonical construction; flat codes
    * keep the table one line of spec instead of a frequency-tuned
    * artifact — compression ratio is not what the fixtures measure.
    */
  private val AcValsProg: Array[Int] =
    ((0 to 14).map(_ << 4) ++ Seq(0xf0) ++
      (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray
  private val AcBitsProg: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Encode the payload as a PROGRESSIVE (SOF2) grayscale JPEG — the
    * web-crawl stream shape — with the SAME fixture rule and quantized
    * coefficients as [[encode]]: whole block rows of `width` samples,
    * Annex-K luminance quant. Six scans exercise BOTH progressive
    * mechanisms of T.81 Annex G:
    *
    *   1. DC first        (Ss=0, Se=0,  Ah=0, Al=1) — predicted diffs of
    *      the point-transformed (arithmetic >> 1) DC coefficients
    *   2. AC first 1..5   (Ah=0, Al=1)  — spectral selection of the low
    *      band at reduced precision, EOBRUN-coded across blocks
    *   3. AC first 6..63  (Ah=0, Al=1)  — the high band
    *   4. DC refinement   (Ah=1, Al=0)  — one raw bit per block
    *   5. AC refinement 1..5  (Ah=1, Al=0) — correction bits + newly
    *      significant ±1 coefficients (the G.1.2.3 machinery)
    *   6. AC refinement 6..63 (Ah=1, Al=0)
    *
    * Scan order changes the STREAM, never the samples: the decoded
    * coefficients equal [[encode]]'s exactly, so the q272 coefficient-
    * replay oracle carries over verbatim. Returns null when no full
    * block row fits or the height would overflow the u16 SOF field.
    */
  def encodeProgressive(payload: Array[Byte], width: Int): Array[Byte] = {
    require(width >= 8 && width % 8 == 0 && width <= 65528,
      "width must be a positive multiple of 8 fitting the u16 SOF field")
    val blockRows = payload.length / (width * 8)
    val h = blockRows * 8
    if (h < 8 || h > 65535) return null
    val blocksPerRow = width / 8
    val nb = blockRows * blocksPerRow
    // the full quantized-coefficient plane, natural order per block —
    // identical to what encode() codes sequentially
    val coefs = new Array[Long](nb * 64)
    val s = new Array[Int](64)
    var by = 0
    while (by < blockRows) {
      var bx = 0
      while (bx < blocksPerRow) {
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            s(yy * 8 + xx) =
              payload((by * 8 + yy) * width + bx * 8 + xx) & 0xff
            xx += 1
          }
          yy += 1
        }
        System.arraycopy(forwardQuantize(s), 0,
          coefs, (by * blocksPerRow + bx) * 64, 64)
        bx += 1
      }
      by += 1
    }

    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 512)
    def u16(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xdb) // DQT: Annex-K luminance, zigzag order
    u16(2 + 1 + 64)
    out.write(0x00)
    var k = 0
    while (k < 64) { out.write(Quant(ZigZag(k))); k += 1 }
    marker(0xc4) // DHT: standard DC table + the progressive AC table
    u16(2 + (1 + 16 + DcVals.length) + (1 + 16 + AcValsProg.length))
    out.write(0x00); DcBits.foreach(out.write); DcVals.foreach(out.write)
    out.write(0x10); AcBitsProg.foreach(out.write); AcValsProg.foreach(out.write)
    marker(0xc2) // SOF2: progressive DCT
    u16(8 + 3)
    out.write(8) // precision
    u16(h); u16(width)
    out.write(1)
    out.write(1); out.write(0x11); out.write(0) // id 1, H=V=1, Tq 0

    val (dcCodes, dcLens) = canonical(DcBits, DcVals.length)
    val (acCodes, acLens) = canonical(AcBitsProg, AcValsProg.length)
    val acIdx = new Array[Int](256); java.util.Arrays.fill(acIdx, -1)
    var i = 0
    while (i < AcValsProg.length) { acIdx(AcValsProg(i)) = i; i += 1 }

    var acc = 0L
    var nbits = 0
    def putBits(v: Int, nB: Int): Unit = {
      acc = (acc << nB) | (v & ((1L << nB) - 1))
      nbits += nB
      while (nbits >= 8) {
        val b = ((acc >>> (nbits - 8)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0x00) // byte stuffing
        nbits -= 8
      }
    }
    // every scan's entropy data ends byte-aligned on 1-padding
    def flushScan(): Unit =
      if (nbits > 0) putBits((1 << (8 - nbits)) - 1, 8 - nbits)
    def cat(d: Long): Int = {
      var c = 0
      val m = math.abs(d)
      while ((1L << c) <= m) c += 1
      c
    }
    def putCoef(d: Long, sz: Int): Unit =
      if (sz > 0) {
        val add = if (d >= 0) d else d - 1 // one's-complement negatives
        putBits((add & ((1L << sz) - 1)).toInt, sz)
      }
    def putAc(sym: Int): Unit = putBits(acCodes(acIdx(sym)), acLens(acIdx(sym)))
    def sosHeader(ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xda)
      u16(6 + 2)
      out.write(1)
      out.write(1); out.write(0x00) // component 1, DC table 0, AC table 0
      out.write(ss); out.write(se); out.write((ah << 4) | al)
    }

    // ---- scan 1: DC first (Al = 1), predicted category-coded diffs ----
    sosHeader(0, 0, 0, 1)
    var pred = 0L
    var b = 0
    while (b < nb) {
      val v = coefs(b * 64) >> 1 // DC point transform: ARITHMETIC shift
      val diff = v - pred
      pred = v
      val ds = cat(diff)
      putBits(dcCodes(ds), dcLens(ds))
      putCoef(diff, ds)
      b += 1
    }
    flushScan()

    // ---- AC first scans: run/size + EOBRUN accumulation (G.1.2.2) ----
    var eobrun = 0
    def emitEobrun(): Unit = if (eobrun > 0) {
      var r = 0
      while ((2 << r) <= eobrun) r += 1 // r = floor(log2 eobrun), <= 14
      putAc(r << 4)
      if (r > 0) putBits(eobrun - (1 << r), r)
      eobrun = 0
    }
    def acFirstScan(ss: Int, se: Int, al: Int): Unit = {
      sosHeader(ss, se, 0, al)
      eobrun = 0
      var b = 0
      while (b < nb) {
        var r = 0
        var k = ss
        while (k <= se) {
          val v = coefs(b * 64 + ZigZag(k))
          // AC point transform: integer division, truncation toward zero
          val t = if (v >= 0) v >> al else -((-v) >> al)
          if (t == 0L) r += 1
          else {
            emitEobrun()
            while (r > 15) { putAc(0xf0); r -= 16 }
            val sz = cat(t)
            putAc((r << 4) | sz)
            putCoef(t, sz)
            r = 0
          }
          k += 1
        }
        if (r > 0) { eobrun += 1; if (eobrun == 0x7fff) emitEobrun() }
        b += 1
      }
      emitEobrun()
      flushScan()
    }
    acFirstScan(1, 5, 1)
    acFirstScan(6, 63, 1)

    // ---- scan 4: DC refinement — one raw bit (bit Al=0) per block ----
    sosHeader(0, 0, 1, 0)
    b = 0
    while (b < nb) { putBits((coefs(b * 64) & 1L).toInt, 1); b += 1 }
    flushScan()

    // ---- AC refinement scans (G.1.2.3): newly significant ±1 symbols,
    // buffered correction bits, EOBRUN with appended corrections ----
    def acRefineScan(ss: Int, se: Int, al: Int): Unit = {
      sosHeader(ss, se, al + 1, al)
      eobrun = 0
      // correction bits owed to the pending EOBRUN (across blocks)
      val eobPending = new scala.collection.mutable.ArrayBuffer[Int]
      def emitEobrunR(): Unit = {
        emitEobrun()
        eobPending.foreach(bit => putBits(bit, 1))
        eobPending.clear()
      }
      var b = 0
      while (b < nb) {
        val base = b * 64
        // last position that turns newly significant at this precision:
        // ZRLs may not be emitted past it (they fold into the EOBRUN)
        var eobPos = ss - 1
        var k = ss
        while (k <= se) {
          if ((math.abs(coefs(base + ZigZag(k))) >> al) == 1L) eobPos = k
          k += 1
        }
        var r = 0
        val br = new scala.collection.mutable.ArrayBuffer[Int]
        k = ss
        while (k <= se) {
          val v = coefs(base + ZigZag(k))
          val t = math.abs(v) >> al
          if (t == 0L) r += 1
          else {
            // drain required ZRLs FIRST — at history (t > 1) positions
            // too, exactly like the decoder's run-walk, but never past
            // eobPos (runs there fold into the EOBRUN); each ZRL is
            // followed by the correction bits buffered before it
            while (r > 15 && k <= eobPos) {
              emitEobrunR()
              putAc(0xf0)
              r -= 16
              br.foreach(bit => putBits(bit, 1)); br.clear()
            }
            if (t > 1L) br += ((t & 1L).toInt) // history: correction bit
            else {
              // newly significant (magnitude exactly 1 at this
              // precision; k <= eobPos, so r <= 15 after the drain)
              emitEobrunR()
              putAc((r << 4) | 1)
              putBits(if (v < 0) 0 else 1, 1) // sign bit: 1 = positive
              br.foreach(bit => putBits(bit, 1)); br.clear()
              r = 0
            }
          }
          k += 1
        }
        if (r > 0 || br.nonEmpty) {
          eobrun += 1
          eobPending ++= br
          if (eobrun == 0x7fff) emitEobrunR()
        }
        b += 1
      }
      emitEobrunR()
      flushScan()
    }
    acRefineScan(1, 5, 0)
    acRefineScan(6, 63, 0)

    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Decoded per-asset report. Negative fields when invalid; for
    * single-component frames the chroma sums are -1 ("absent", mapped to
    * null by the expression) and nComponents is 1. The metadata fields
    * surface the JFIF APP0 density header and the Exif APP1 orientation
    * when present (-1 = absent): a real image-lake profiler needs
    * orientation before any perceptual-hash use on camera files.
    */
  final case class Decoded(valid: Boolean, width: Long, height: Long,
      nPixels: Long, sumV: Long, meanVMilli: Long, nBlocks: Long,
      nComponents: Long, sumCb: Long, sumCr: Long,
      jfifUnits: Long = -1, jfifXDensity: Long = -1,
      jfifYDensity: Long = -1, exifOrientation: Long = -1)

  private val Invalid =
    Decoded(valid = false, -1, -1, -1, -1, -1, -1, -1, -1, -1)

  /** One parsed Huffman table: canonical mincode/maxcode/valptr + values. */
  private final class Huff {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    var vals: Array[Int] = null
  }

  def decode(bytes: Array[Byte]): Decoded = {
    val n = bytes.length
    if (n < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return Invalid
    var p = 2
    def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)

    // ---- marker-segment walk up to SOS ----
    var w = -1; var h = -1
    var nf = -1 // component count: 1 (grayscale) or 3 (YCbCr)
    val qTq = Array(-1, -1, -1)  // per-component quant-table ids
    val compH = Array(1, 1, 1)   // per-component sampling factors Hi, Vi
    val compV = Array(1, 1, 1)
    val dcId = Array(-1, -1, -1) // per-component DC Huffman-table ids
    val acId = Array(-1, -1, -1)
    val quants = new Array[Array[Int]](4)
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var dri = 0 // DRI restart interval in MCUs; 0 = no restarts
    var sawSof = false; var sawSos = false
    var progressive = false
    // metadata surfaced from APP0 (JFIF) / APP1 (Exif); -1 = absent
    var jfifUnits = -1L; var jfifX = -1L; var jfifY = -1L
    var exifOrient = -1L

    // ---- byte-unstuffed MSB-first bit reader (shared by the baseline
    // scan and every progressive scan) ----
    var pos = 0
    var bitBuf = 0
    var bitCnt = 0
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= n) return -1
        val b = bytes(pos) & 0xff
        if (b == 0xff) {
          if (pos + 1 >= n || (bytes(pos + 1) & 0xff) != 0x00) return -1
          pos += 2
        } else pos += 1
        bitBuf = b
        bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >>> bitCnt) & 1
    }
    def decodeHuff(t: Huff): Int = {
      var code = 0
      var len = 0
      while (len < 16) {
        val bit = nextBit()
        if (bit < 0) return -1
        code = (code << 1) | bit
        len += 1
        if (t.maxCode(len) >= 0 && code >= t.minCode(len) &&
            code <= t.maxCode(len))
          return t.vals(t.valPtr(len) + code - t.minCode(len))
      }
      -1
    }
    def receiveExtend(s: Int): Long = {
      var bits = 0
      var i = 0
      while (i < s) {
        val b = nextBit()
        if (b < 0) return Long.MinValue // sentinel: ran dry
        bits = (bits << 1) | b
        i += 1
      }
      if (bits < (1 << (s - 1))) (bits - (1 << s) + 1).toLong else bits.toLong
    }
    // plain unsigned receive (EOBRUN extension bits); -1 when dry
    def receiveBits(nb: Int): Int = {
      var v = 0
      var i = 0
      while (i < nb) {
        val b = nextBit()
        if (b < 0) return -1
        v = (v << 1) | b
        i += 1
      }
      v
    }
    // sum of a decoded block's IN-IMAGE samples: the block covers pixels
    // (x0.., y0..) of a cw x ch component plane; edge blocks are decoded
    // whole but their pad region is not image content
    def inImageSum(rec: Array[Int], x0: Int, y0: Int, cw: Int, ch: Int): Long = {
      val xMax = math.min(8, cw - x0)
      val yMax = math.min(8, ch - y0)
      var s = 0L
      var yy = 0
      while (yy < yMax) {
        var xx = 0
        while (xx < xMax) { s += rec(yy * 8 + xx); xx += 1 }
        yy += 1
      }
      s
    }

    // progressive (SOF2) state: the quantized-coefficient plane buffered
    // across scans (every scan revisits every block — the structural cost
    // of progressive mode), the per-coefficient successive-approximation
    // state (-1 = not yet coded, else the last scan's Al), and the
    // AC EOB-run / DC-predictor state of the scan in flight
    var coefBuf: Array[Int] = null
    var bwP = 0; var bhP = 0
    val approx = Array.fill(64)(-1)
    var nScansDone = 0
    var eobrun = 0
    var predP = 0L

    // DRI restart boundary after every `dri` complete MCUs (never after
    // the last): pad bits are discarded to the byte boundary, the RSTm
    // marker must carry the next modulo-8 index (a skipped or reordered
    // restart is a visible corruption, not a resync guess), and every
    // DC predictor (and the progressive EOB run) resets per the spec.
    val preds = new Array[Long](3)
    var rstM = 0
    var mcusDone = 0L
    def restartBoundary(moreRemain: Boolean): Boolean = {
      mcusDone += 1
      if (dri > 0 && mcusDone % dri == 0 && moreRemain) {
        if (eobrun != 0) return false // an EOB run may not cross a restart
        bitCnt = 0
        if (pos + 2 > n || (bytes(pos) & 0xff) != 0xff ||
            (bytes(pos + 1) & 0xff) != (0xd0 + rstM)) return false
        pos += 2
        rstM = (rstM + 1) % 8
        preds(0) = 0L; preds(1) = 0L; preds(2) = 0L
        predP = 0L
      }
      true
    }

    // one progressive AC FIRST-scan block (T.81 G.1.2.2 / the classic
    // spectral-selection decode): run/size coding of the point-transformed
    // band plus EOBn runs spanning blocks
    def acFirstBlock(base: Int, ss: Int, se: Int, al: Int, acT: Huff): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      var k = ss
      while (k <= se) {
        val rs = decodeHuff(acT)
        if (rs < 0) return false
        val r = rs >> 4; val sz = rs & 0x0f
        if (sz == 0) {
          if (r != 15) { // EOBn: this block plus (run - 1) following ones
            var e = 1 << r
            if (r > 0) {
              val x = receiveBits(r)
              if (x < 0) return false
              e += x
            }
            eobrun = e - 1
            return true
          }
          k += 16 // ZRL
          if (k > se) return false // ZRL may never pad the band tail
        } else {
          if (sz > 10) return false // T.81 Table F.1 bound, as in baseline
          k += r
          if (k > se) return false
          val c = receiveExtend(sz)
          if (c == Long.MinValue) return false
          coefBuf(base + ZigZag(k)) = (c << al).toInt
          k += 1
        }
      }
      true
    }
    // one progressive AC REFINEMENT block (G.1.2.3): runs count
    // zero-HISTORY positions only; every nonzero-history coefficient
    // passed contributes one inline correction bit; newly significant
    // coefficients are coded as (run, 1) + sign
    def acRefineBlock(base: Int, ss: Int, se: Int, al: Int, acT: Huff): Boolean = {
      val pOne = 1 << al; val mOne = -1 << al
      var k = ss
      if (eobrun == 0) {
        var atEob = false
        while (k <= se && !atEob) {
          val rs = decodeHuff(acT)
          if (rs < 0) return false
          var r = rs >> 4; val sz = rs & 0x0f
          var newval = 0
          if (sz != 0) {
            if (sz != 1) return false // refinement births are exactly ±1
            val b = nextBit()
            if (b < 0) return false
            newval = if (b == 1) pOne else mOne
          } else if (r != 15) { // EOBn (r = 15 is ZRL)
            var e = 1 << r
            if (r > 0) {
              val x = receiveBits(r)
              if (x < 0) return false
              e += x
            }
            eobrun = e
            atEob = true
          }
          if (!atEob) {
            var done = false
            while (k <= se && !done) {
              val z = base + ZigZag(k)
              if (coefBuf(z) != 0) {
                val b = nextBit()
                if (b < 0) return false
                if (b == 1 && (coefBuf(z) & pOne) == 0)
                  coefBuf(z) += (if (coefBuf(z) >= 0) pOne else mOne)
              } else {
                if (r == 0) {
                  if (sz != 0) coefBuf(z) = newval
                  done = true
                } else r -= 1
              }
              k += 1
            }
            // strict: a newly-significant coefficient with no in-band
            // slot, or a ZRL running past the band, is corrupt
            if (!done) return false
          }
        }
      }
      if (eobrun > 0) { // EOB state: only correction bits remain in band
        while (k <= se) {
          val z = base + ZigZag(k)
          if (coefBuf(z) != 0) {
            val b = nextBit()
            if (b < 0) return false
            if (b == 1 && (coefBuf(z) & pOne) == 0)
              coefBuf(z) += (if (coefBuf(z) >= 0) pOne else mOne)
          }
          k += 1
        }
        eobrun -= 1
      }
      true
    }
    // one whole progressive scan: header validation (including the
    // successive-approximation discipline that makes an incomplete or
    // out-of-order scan script a VISIBLE finding), then the per-block
    // entropy decode. Leaves `pos` at the next marker on success.
    def progressiveScan(body: Int, end: Int): Boolean = {
      val ns = bytes(body) & 0xff
      // grayscale progressive: exactly one component per scan (T.81
      // requires Ns = 1 for AC scans; with nf = 1 DC scans match too)
      if (ns != 1 || end - body != 4 + 2 * ns) return false
      val tdta = bytes(body + 2) & 0xff
      val td = tdta >> 4; val ta = tdta & 0x0f
      if (td > 3 || ta > 3) return false
      val ss = bytes(body + 3) & 0xff
      val se = bytes(body + 4) & 0xff
      val ahal = bytes(body + 5) & 0xff
      val ah = ahal >> 4; val al = ahal & 0x0f
      val isDc = ss == 0
      if (isDc && se != 0) return false // DC and AC never share a scan
      if (!isDc && (ss > se || se > 63)) return false
      if (al > 13 || (ah != 0 && ah != al + 1)) return false
      // per-coefficient discipline: a band's first scan has Ah = 0 and
      // may not re-code an already-started band; every refinement must
      // continue exactly where the previous scan left off
      var k = ss
      while (k <= se) {
        if (ah == 0) { if (approx(k) != -1) return false }
        else if (approx(k) != ah) return false
        k += 1
      }
      if (!isDc && approx(0) == -1) return false // DC scan comes first
      val dcT = if (isDc && ah == 0) dcTabs(td) else null
      val acT = if (!isDc) acTabs(ta) else null
      if (isDc && ah == 0 && dcT == null) return false
      if (!isDc && acT == null) return false
      if (quants(qTq(0)) == null) return false
      if (coefBuf == null) {
        bwP = (w + 7) / 8; bhP = (h + 7) / 8
        val nbl = bwP.toLong * bhP
        // forged-SOF2 guard: the first (DC) scan costs >= 1 bit per
        // block, so a plane bigger than the stream's remaining bits can
        // never complete — checked BEFORE allocating; the absolute cap
        // (2^20 blocks ~ a 67-megapixel grayscale frame, 256 MB of Int
        // coefficients) bounds allocation for any input
        if (nbl > 8L * (n - end) || nbl > (1L << 20)) return false
        coefBuf = new Array[Int]((nbl * 64).toInt)
      }
      val nbl = bwP.toLong * bhP
      pos = end; bitBuf = 0; bitCnt = 0
      eobrun = 0
      predP = 0L
      rstM = 0; mcusDone = 0L // the restart cycle restarts per scan
      val pOne = 1 << al
      var blk = 0L
      while (blk < nbl) {
        val base = (blk * 64).toInt
        if (isDc) {
          if (ah == 0) {
            val ds = decodeHuff(dcT)
            if (ds < 0 || ds > 11) return false
            var diff = 0L
            if (ds > 0) {
              diff = receiveExtend(ds)
              if (diff == Long.MinValue) return false
            }
            predP += diff
            val shifted = predP << al
            // spec-legal shifted DC sits at |dc| <= 2047; anything past
            // 2^24 is corrupt accumulation — reject before Int overflow
            if (shifted > (1L << 24) || shifted < -(1L << 24)) return false
            coefBuf(base) = shifted.toInt
          } else { // DC refinement: one raw bit, OR-ed into bit Al
            val b = nextBit()
            if (b < 0) return false
            if (b == 1) coefBuf(base) = coefBuf(base) | pOne
          }
        } else {
          val ok = if (ah == 0) acFirstBlock(base, ss, se, al, acT)
            else acRefineBlock(base, ss, se, al, acT)
          if (!ok) return false
        }
        // non-interleaved single-component scan: the MCU is one block
        if (!restartBoundary(blk + 1 < nbl)) return false
        blk += 1
      }
      if (eobrun != 0) return false // an EOB run past the last block
      bitCnt = 0 // discard pad bits; pos is now at the next marker
      k = ss
      while (k <= se) { approx(k) = al; k += 1 }
      nScansDone += 1
      true
    }
    // EOI finalizer for progressive frames: every coefficient must be
    // refined to full precision (Al = 0) — a truncated progressive file
    // is a visible finding, not a best-effort preview — then the plane
    // runs through the same dequantize + IDCT tail as baseline
    def finishProgressive(): Decoded = {
      var k = 0
      while (k < 64) {
        if (approx(k) != 0) return Invalid
        k += 1
      }
      val quant = quants(qTq(0))
      val qcP = new Array[Long](64)
      var sum = 0L
      val nbl = bwP * bhP
      var bi = 0
      while (bi < nbl) {
        var i = 0
        while (i < 64) { qcP(i) = coefBuf(bi * 64 + i).toLong; i += 1 }
        val rec = dequantizeInverseWith(qcP, quant)
        if (rec == null) return Invalid
        sum += inImageSum(rec, (bi % bwP) * 8, (bi / bwP) * 8, w, h)
        bi += 1
      }
      val npx = w.toLong * h
      Decoded(valid = true, w, h, npx, sum, sum * 1000L / npx, nbl.toLong,
        1, -1L, -1L, jfifUnits, jfifX, jfifY, exifOrient)
    }

    while (!sawSos) {
      if (p + 2 > n) return Invalid
      if ((bytes(p) & 0xff) != 0xff) return Invalid
      val m = bytes(p + 1) & 0xff
      if (m == 0xd9) {
        // EOI: legal mid-walk only as the progressive finalizer, after
        // at least one scan, as the stream's exact last bytes
        if (!progressive || nScansDone == 0 || p + 2 != n) return Invalid
        return finishProgressive()
      }
      if (p + 4 > n) return Invalid
      val segLen = u16(p + 2)
      if (segLen < 2 || p + 2 + segLen > n) return Invalid
      val body = p + 4
      val end = p + 2 + segLen
      var pNext = end
      m match {
        case 0xdb => // DQT — possibly several tables; 8-bit precision only
          var q = body
          while (q < end) {
            val pqtq = bytes(q) & 0xff
            val pq = pqtq >> 4; val tq = pqtq & 0x0f
            if (pq != 0 || tq > 3 || q + 65 > end) return Invalid
            val tab = new Array[Int](64)
            var k = 0
            while (k < 64) {
              val value = bytes(q + 1 + k) & 0xff
              if (value < 1) return Invalid // zero divisor is corrupt
              tab(ZigZag(k)) = value // stream is zigzag; store natural
              k += 1
            }
            quants(tq) = tab
            q += 65
          }
          if (q != end) return Invalid // trailing partial table bytes
        case 0xc4 => // DHT — several tables per segment, DC and AC classes
          var q = body
          while (q < end) {
            if (q + 17 > end) return Invalid
            val tcth = bytes(q) & 0xff
            val tc = tcth >> 4; val th = tcth & 0x0f
            if (tc > 1 || th > 3) return Invalid
            val counts = Array.tabulate(16)(i => bytes(q + 1 + i) & 0xff)
            val total = counts.sum
            if (q + 17 + total > end || total > 256) return Invalid
            val t = new Huff
            t.vals = Array.tabulate(total)(i => bytes(q + 17 + i) & 0xff)
            var code = 0; var k = 0; var len = 1
            while (len <= 16) {
              if (counts(len - 1) > 0) {
                t.valPtr(len) = k
                t.minCode(len) = code
                code += counts(len - 1); k += counts(len - 1)
                t.maxCode(len) = code - 1
              } else t.maxCode(len) = -1
              code <<= 1
              len += 1
            }
            len = 1
            while (len <= 16) { // canonical sanity: codes fit their length
              if (t.maxCode(len) >= (1 << len)) return Invalid
              len += 1
            }
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            q += 17 + total
          }
        case 0xc0 | 0xc2 => // SOF0 baseline | SOF2 progressive DCT
          if (sawSof || segLen < 11) return Invalid
          sawSof = true
          progressive = m == 0xc2
          val precision = bytes(body) & 0xff
          h = u16(body + 1); w = u16(body + 3)
          nf = bytes(body + 5) & 0xff
          // 8-bit, single-component OR 3-component YCbCr — anything else
          // is a visible finding, never a misdecode
          if (precision != 8 || (nf != 1 && nf != 3) || w < 1 || h < 1)
            return Invalid
          // progressive support covers single-component (grayscale)
          // frames — the full scan machinery (spectral selection,
          // successive approximation, EOBRUN) over one coefficient
          // plane; 3-component progressive stays a visible finding
          if (progressive && nf != 1) return Invalid
          if (segLen < 8 + 3 * nf) return Invalid
          if (nf == 1) {
            // sampling factors carry no meaning in a single-component
            // frame; anything but 1x1 is a corrupt header
            if ((bytes(body + 7) & 0xff) != 0x11) return Invalid
            qTq(0) = bytes(body + 8) & 0xff
            if (qTq(0) > 3) return Invalid
          } else {
            // arbitrary per-component sampling with Hi, Vi in {1, 2}:
            // covers 4:2:0 (2x2/1x1/1x1), 4:2:2 (2x1), 4:4:4 (1x1) and
            // the rarer 4:4:0 (1x2) — every shape real camera/scanner/
            // screenshot lakes hold. T.81 B.2.3 bounds the blocks per
            // MCU (sum of Hi*Vi) at 10.
            var sumHV = 0
            var ci = 0
            while (ci < 3) {
              val hv = bytes(body + 7 + 3 * ci) & 0xff
              compH(ci) = hv >> 4; compV(ci) = hv & 0x0f
              // T.81 B.2.3: each factor in 1..4 (sum bound checked below)
              if (compH(ci) < 1 || compH(ci) > 4 ||
                  compV(ci) < 1 || compV(ci) > 4) return Invalid
              sumHV += compH(ci) * compV(ci)
              qTq(ci) = bytes(body + 8 + 3 * ci) & 0xff
              if (qTq(ci) > 3) return Invalid
              ci += 1
            }
            if (sumHV > 10) return Invalid
          }
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
            0xcd | 0xce | 0xcf =>
          return Invalid // extended/lossless/arithmetic/hierarchical
        case 0xda => // SOS
          if (!sawSof) return Invalid
          if (progressive) {
            // one of many scans: decode it, then continue the marker
            // walk from wherever the entropy data ended
            if (!progressiveScan(body, end)) return Invalid
            pNext = pos
          } else {
            // baseline: ONE interleaved scan of all frame components
            if (segLen < 6 + 2 * nf) return Invalid
            val ns = bytes(body) & 0xff
            if (ns != nf) return Invalid
            var ci = 0
            while (ci < ns) {
              val tdta = bytes(body + 2 + 2 * ci) & 0xff
              dcId(ci) = tdta >> 4; acId(ci) = tdta & 0x0f
              if (dcId(ci) > 3 || acId(ci) > 3 ||
                  dcTabs(dcId(ci)) == null || acTabs(acId(ci)) == null ||
                  quants(qTq(ci)) == null) return Invalid
              ci += 1
            }
            // full spectral band, no successive approximation
            val so = body + 1 + 2 * ns
            if ((bytes(so) & 0xff) != 0 || (bytes(so + 1) & 0xff) != 63 ||
                (bytes(so + 2) & 0xff) != 0) return Invalid
            sawSos = true
          }
        case 0xdd => // DRI: restart interval in MCUs
          if (segLen != 4) return Invalid
          dri = u16(body)
        case 0xe0 => // APP0: parse a declared JFIF header, skip others
          if (end - body >= 5 && bytes(body) == 'J' && bytes(body + 1) == 'F' &&
              bytes(body + 2) == 'I' && bytes(body + 3) == 'F' &&
              bytes(body + 4) == 0) {
            // a segment that DECLARES JFIF but cannot hold the header is
            // corrupt — a visible finding, never silently skipped
            if (end - body < 14) return Invalid
            val units = bytes(body + 7) & 0xff
            val xd = u16(body + 8); val yd = u16(body + 10)
            if (units > 2 || xd < 1 || yd < 1) return Invalid
            // thumbnail accounting: body is exactly 14 + 3·Xt·Yt bytes
            val xt = bytes(body + 12) & 0xff; val yt = bytes(body + 13) & 0xff
            if (end - body != 14 + 3 * xt * yt) return Invalid
            jfifUnits = units.toLong; jfifX = xd.toLong; jfifY = yd.toLong
          }
        case 0xe1 => // APP1: parse a declared Exif TIFF header, skip others
          if (end - body >= 6 && bytes(body) == 'E' && bytes(body + 1) == 'x' &&
              bytes(body + 2) == 'i' && bytes(body + 3) == 'f' &&
              bytes(body + 4) == 0 && bytes(body + 5) == 0) {
            val t0 = body + 6
            if (end - t0 < 8) return Invalid
            val b0 = bytes(t0) & 0xff; val b1 = bytes(t0 + 1) & 0xff
            val le = b0 == 'I' && b1 == 'I' // "II" little | "MM" big endian
            if (!le && !(b0 == 'M' && b1 == 'M')) return Invalid
            def rd16(o: Int): Int =
              if (le) (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
              else ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
            def rd32(o: Int): Long =
              if (le) (rd16(o) & 0xffffL) | ((rd16(o + 2) & 0xffffL) << 16)
              else ((rd16(o) & 0xffffL) << 16) | (rd16(o + 2) & 0xffffL)
            if (rd16(t0 + 2) != 42) return Invalid // TIFF magic
            val ifdOff = rd32(t0 + 4)
            if (ifdOff < 8 || t0 + ifdOff + 2 > end) return Invalid
            val ifd = (t0 + ifdOff).toInt
            val nEntries = rd16(ifd)
            // every entry plus the next-IFD pointer must fit the segment
            if (ifd + 2 + 12L * nEntries + 4 > end) return Invalid
            var e = 0
            while (e < nEntries) {
              val entry = ifd + 2 + 12 * e
              if (rd16(entry) == 0x0112) { // orientation
                // SHORT, count 1, value 1..8 — anything else is corrupt
                if (rd16(entry + 2) != 3 || rd32(entry + 4) != 1L)
                  return Invalid
                val o = rd16(entry + 8)
                if (o < 1 || o > 8) return Invalid
                exifOrient = o.toLong
              }
              e += 1
            }
          }
        case mm if mm >= 0xe2 && mm <= 0xef => () // other APPn: skipped
        case 0xfe => () // COM: skipped
        case _ => return Invalid // anything else changes pixel meaning
      }
      p = pNext
    }

    // ---- baseline entropy-coded data starts right after the SOS ----
    pos = p; bitBuf = 0; bitCnt = 0
    // one entropy-coded 8x8 block of component `ci`: DC predicted from
    // the component's previous block, run/size AC coding, dequantize +
    // IDCT. Returns the 64 reconstructed samples, or null on any corrupt
    // or ran-dry condition.
    val qc = new Array[Long](64)
    def decodeBlock(ci: Int): Array[Int] = {
      val dcT = dcTabs(dcId(ci)); val acT = acTabs(acId(ci))
      java.util.Arrays.fill(qc, 0L)
      val ds = decodeHuff(dcT)
      if (ds < 0 || ds > 11) return null
      var diff = 0L
      if (ds > 0) {
        diff = receiveExtend(ds)
        if (diff == Long.MinValue) return null
      }
      preds(ci) += diff
      qc(0) = preds(ci)
      var k = 1
      var eob = false
      while (k < 64 && !eob) {
        val rs = decodeHuff(acT)
        if (rs < 0) return null
        val r = rs >> 4; val sz = rs & 0x0f
        if (sz == 0) {
          if (rs == 0x00) eob = true        // EOB
          else if (rs == 0xf0) {            // ZRL: sixteen zeros
            k += 16
            if (k > 64) return null
          } else return null
        } else {
          // T.81 baseline defines AC magnitude categories only up to 10
          // (Table F.1): SSSS 11-15 from a stream-supplied custom DHT is
          // spec-illegal — a visible finding, never decoded to numbers
          if (sz > 10) return null
          k += r
          if (k > 63) return null
          val c = receiveExtend(sz)
          if (c == Long.MinValue) return null
          qc(ZigZag(k)) = c
          k += 1
        }
      }
      dequantizeInverseWith(qc, quants(qTq(ci))) // null past the IDCT bound
    }

    var sumY = 0L; var sumCb = 0L; var sumCr = 0L
    var nBlocks = 0L
    if (nf == 1) {
      val bw = (w + 7) / 8
      val bh = (h + 7) / 8
      nBlocks = bw.toLong * bh
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          val rec = decodeBlock(0)
          if (rec == null) return Invalid
          sumY += inImageSum(rec, bx * 8, by * 8, w, h)
          // non-interleaved single component: the MCU is one block
          if (!restartBoundary(by.toLong * bw + bx + 1 < nBlocks))
            return Invalid
          bx += 1
        }
        by += 1
      }
    } else {
      // interleaved MCUs, arbitrary sampling: per MCU each component
      // contributes Hi x Vi blocks in raster order; component planes are
      // ceil(w·Hi/Hmax) x ceil(h·Vi/Vmax) (T.81 A.1.1). The same loop
      // walks 4:2:0 (6 blocks/MCU), 4:2:2 (4), 4:4:4 (3) and 4:4:0 (4).
      val hmax = math.max(compH(0), math.max(compH(1), compH(2)))
      val vmax = math.max(compV(0), math.max(compV(1), compV(2)))
      val mcuCols = (w + 8 * hmax - 1) / (8 * hmax)
      val mcuRows = (h + 8 * vmax - 1) / (8 * vmax)
      val cw = Array.tabulate(3)(ci => (w * compH(ci) + hmax - 1) / hmax)
      val chh = Array.tabulate(3)(ci => (h * compV(ci) + vmax - 1) / vmax)
      val sums = new Array[Long](3)
      val bpm = compH(0) * compV(0) + compH(1) * compV(1) +
        compH(2) * compV(2)
      nBlocks = bpm.toLong * mcuCols * mcuRows
      val nMcus = mcuCols.toLong * mcuRows
      var mr = 0
      while (mr < mcuRows) {
        var mc = 0
        while (mc < mcuCols) {
          var ci = 0
          while (ci < 3) {
            var vb = 0
            while (vb < compV(ci)) {
              var hb = 0
              while (hb < compH(ci)) {
                val rec = decodeBlock(ci)
                if (rec == null) return Invalid
                sums(ci) += inImageSum(rec,
                  (mc * compH(ci) + hb) * 8, (mr * compV(ci) + vb) * 8,
                  cw(ci), chh(ci))
                hb += 1
              }
              vb += 1
            }
            ci += 1
          }
          if (!restartBoundary(mr.toLong * mcuCols + mc + 1 < nMcus))
            return Invalid
          mc += 1
        }
        mr += 1
      }
      sumY = sums(0); sumCb = sums(1); sumCr = sums(2)
    }
    bitCnt = 0 // discard pad bits to the byte boundary
    // the stream must end in EOI exactly at the last byte
    if (pos + 2 != n || (bytes(pos) & 0xff) != 0xff ||
        (bytes(pos + 1) & 0xff) != 0xd9) return Invalid
    val npx = w.toLong * h
    Decoded(valid = true, w, h, npx, sumY, sumY * 1000L / npx, nBlocks,
      nf, if (nf == 3) sumCb else -1L, if (nf == 3) sumCr else -1L,
      jfifUnits, jfifX, jfifY, exifOrient)
  }

  /** [[dequantizeInverse]] against an arbitrary (stream-supplied) quant
    * table — the decode path; the no-argument variant binds the Annex-K
    * table for the encoder/spec replay.
    */
  def dequantizeInverseWith(qc: Array[Long], quant: Array[Int]): Array[Int] = {
    val dq = new Array[Long](64)
    var i = 0
    while (i < 64) {
      val d = qc(i) * quant(i)
      // decode-side hard bound (forged streams): |dequantized| <= 2^18
      // keeps |p1| <= 8·2^19·2^18 = 2^40 and |p2| <= 8·2^40·2^19 = 2^62,
      // so p2 + 2^39 can never overflow — honest baseline streams
      // (|coefficient| <= 1023, quant <= 255) sit at |d| < 2^18 already
      if (d > (1L << 18) || d < -(1L << 18)) return null
      dq(i) = d
      i += 1
    }
    val p1 = new Array[Long](64)
    var x = 0
    while (x < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var u = 0
        while (u < 8) { acc += IT(u)(x) * dq(v * 8 + u); u += 1 }
        p1(x * 8 + v) = acc
        v += 1
      }
      x += 1
    }
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      x = 0
      while (x < 8) {
        var acc = 0L
        var v = 0
        while (v < 8) { acc += p1(x * 8 + v) * IT(v)(y); v += 1 }
        val r = roundDiv(acc, Den) + 128
        out(y * 8 + x) = math.min(255, math.max(0, r)).toInt
        x += 1
      }
      y += 1
    }
    out
  }
}

/** `graft_jpegdct_encode(bytes, width)`: payload grayscale samples →
  * baseline SOF0 JPEG stream (null when no full block row fits). Width is
  * a literal multiple of 8.
  */
case class JpegDctEncode(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 8 && width % 8 == 0 && width <= 65528,
    "width must be a positive multiple of 8 fitting the u16 SOF field")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jpegdct_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    JpegDctCodec.encode(input.asInstanceOf[Array[Byte]], width)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_jpegprog_encode(bytes, width)`: payload grayscale samples →
  * PROGRESSIVE (SOF2) JPEG stream with six scans (spectral selection +
  * successive approximation), same fixture rule and quantized
  * coefficients as the baseline encoder. See
  * [[JpegDctCodec.encodeProgressive]].
  */
case class JpegProgEncode(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 8 && width % 8 == 0 && width <= 65528,
    "width must be a positive multiple of 8 fitting the u16 SOF field")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jpegprog_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    JpegDctCodec.encodeProgressive(input.asInstanceOf[Array[Byte]], width)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_jpegmeta_encode(bytes, width)`: [[JpegDctCodec.encodeWithMeta]]
  * — the baseline stream with a JFIF APP0 + Exif APP1 orientation header
  * derived deterministically from the payload's first bytes.
  */
case class JpegMetaEncode(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 8 && width % 8 == 0 && width <= 65528,
    "width must be a positive multiple of 8 fitting the u16 SOF field")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jpegmeta_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    JpegDctCodec.encodeWithMeta(input.asInstanceOf[Array[Byte]], width)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_jpegycc_encode(bytes, lumaH, lumaV, restartInterval)`:
  * block-sequential YCbCr payload → 3-component baseline SOF0 JPEG with
  * luma at lumaH x lumaV and chroma at 1x1 — 4:2:0 (2,2), 4:2:2 (2,1),
  * 4:4:4 (1,1) (null when no full MCU fits); a positive restart interval
  * writes DRI + RSTn markers. See [[JpegDctCodec.encodeYcc]].
  */
case class JpegYccEncode(child: Expression, lumaH: Int, lumaV: Int,
    restartInterval: Int)
    extends UnaryExpression with CodegenFallback {
  require(lumaH >= 1 && lumaH <= 4 && lumaV >= 1 && lumaV <= 4 &&
    lumaH * lumaV + 2 <= 10,
    "luma sampling factors must be 1..4 with <= 10 blocks per MCU")
  require(restartInterval >= 0 && restartInterval <= 65535,
    "restart interval must fit the u16 DRI field")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jpegycc_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    JpegDctCodec.encodeYcc(input.asInstanceOf[Array[Byte]], lumaH, lumaV,
      restartInterval)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_jpegdct_decode(bytes)`: full DCT-JPEG decode — baseline SOF0
  * (grayscale or YCbCr at any Hi x Vi <= 2 sampling: 4:2:0, 4:2:2,
  * 4:4:4, 4:4:0) and progressive SOF2 (grayscale, spectral selection +
  * successive approximation) → per-asset stats struct. Invalid, corrupt,
  * truncated-progressive, or forged streams report `is_valid = false`
  * with null stats.
  */
case class JpegDctDecode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_v", LongType, nullable = true),
    StructField("mean_v_milli", LongType, nullable = true),
    StructField("n_blocks", LongType, nullable = true),
    StructField("n_components", LongType, nullable = true),
    StructField("sum_cb", LongType, nullable = true),
    StructField("sum_cr", LongType, nullable = true),
    StructField("jfif_units", LongType, nullable = true),
    StructField("jfif_xdensity", LongType, nullable = true),
    StructField("jfif_ydensity", LongType, nullable = true),
    StructField("exif_orientation", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jpegdct_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = JpegDctCodec.decode(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.width, d.height, d.nPixels, d.sumV, d.meanVMilli,
        d.nBlocks, d.nComponents,
        if (d.sumCb < 0) null else d.sumCb,
        if (d.sumCr < 0) null else d.sumCr,
        if (d.jfifUnits < 0) null else d.jfifUnits,
        if (d.jfifXDensity < 0) null else d.jfifXDensity,
        if (d.jfifYDensity < 0) null else d.jfifYDensity,
        if (d.exifOrientation < 0) null else d.exifOrientation)
    else InternalRow(false, null, null, null, null, null, null, null,
      null, null, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JpegDctNativeFunctions {

  def jpegYccEncode(bytes: Column, lumaH: Int, lumaV: Int,
      restartInterval: Int = 0): Column =
    ColumnBridge.column(
      JpegYccEncode(ColumnBridge.expression(bytes), lumaH, lumaV, restartInterval))

  def jpeg420Encode(bytes: Column, restartInterval: Int = 0): Column =
    jpegYccEncode(bytes, 2, 2, restartInterval)

  def jpegDctEncode(bytes: Column, width: Int): Column =
    ColumnBridge.column(JpegDctEncode(ColumnBridge.expression(bytes), width))

  def jpegProgEncode(bytes: Column, width: Int): Column =
    ColumnBridge.column(JpegProgEncode(ColumnBridge.expression(bytes), width))

  def jpegMetaEncode(bytes: Column, width: Int): Column =
    ColumnBridge.column(JpegMetaEncode(ColumnBridge.expression(bytes), width))

  def jpegDctDecode(bytes: Column): Column =
    ColumnBridge.column(JpegDctDecode(ColumnBridge.expression(bytes)))
}
