package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** RLE8 BMP codec (E287) — the compressed half of the BMP family the
  * SQL-arithmetic surface (E201, uncompressed BI_RGB) cannot reach:
  * BI_RLE8 is variable-length, so the walk is a native expression. The
  * format is the public Windows BMP layout: BITMAPFILEHEADER (14) +
  * BITMAPINFOHEADER (40, biBitCount 8, biCompression 1) + a 256-entry
  * BGRX palette + the RLE stream — encoded mode `(count 1..255, index)`
  * pixel runs, absolute mode `(0, count 3..255, bytes..., even pad)`
  * literal stretches, and the two escapes `0 0` (end of line) and
  * `0 1` (end of bitmap). Rows are stored BOTTOM-UP (positive height),
  * so the row-weighted stat is what proves the vertical flip happened.
  *
  * STRICTNESS: header field lies (sizes, planes, bpp, compression,
  * offsets, bfSize vs the actual length), a run crossing the row end, a
  * row closed short or never closed, pixels after the last row, a
  * missing end-of-bitmap, trailing bytes after it, an absolute-mode
  * count below 3 or an odd absolute run without its pad byte, and the
  * out-of-scope `0 2` delta escape (icon-era cursor jumps would leave
  * pixels undefined — our corpora never carry it) all report
  * `is_valid = false`. Palette indices are bounded by construction
  * (256 entries, one byte).
  *
  * ORACLE: the fixture palette reuses the PNG/GIF channel rule
  * (i, 255−i, (7i) mod 256) and the encoder consumes the payload as a
  * TOP-DOWN index raster, so every stat reads off raw payload bytes in
  * SQL — and r+g+b collapses to 255 + (7v mod 256), making the
  * row/col-weighted placement sums pure slice arithmetic.
  *
  * Scale: one native pass per asset, O(1) state beyond the cursor —
  * the codec-walk shape.
  */
object BmpRleCodec {

  val MaxPixels = 1 << 24

  private val HeaderSize = 14 + 40 + 256 * 4

  /** Encode payload bytes as a bottom-up RLE8 BMP of the given width
    * (`h = len/width` whole rows; null when no full row fits or the
    * geometry exceeds the pixel cap). Deterministic mode choice, the
    * PackBits discipline: runs ≥ 3 (and row-trailing shorter runs) use
    * encoded mode; literal stretches of ≥ 3 distinct bytes use absolute
    * mode with its even pad — every decoder path is on every fixture
    * with ≥ a few rows.
    */
  def encode(payload: Array[Byte], width: Int): Array[Byte] = {
    require(width >= 1 && width <= 0xffff, "bad width")
    val h = payload.length / width
    if (h < 1) return null
    if (width.toLong * h > MaxPixels) return null
    val data = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
    // rows are stored bottom-up: file row f is image row h-1-f
    var f = 0
    while (f < h) {
      val base = (h - 1 - f) * width
      var x = 0
      while (x < width) {
        var run = 1
        while (x + run < width && run < 255 &&
          payload(base + x + run) == payload(base + x)) run += 1
        if (run >= 3) {
          data.write(run); data.write(payload(base + x) & 0xff)
          x += run
        } else {
          // literal until the next >=3 run (or row end), 3..255 bytes;
          // stretches shorter than absolute mode's floor fall back to
          // encoded-mode singletons
          var lit = run
          var stop = false
          while (!stop && x + lit < width && lit < 254) {
            var r2 = 1
            while (x + lit + r2 < width && r2 < 3 &&
              payload(base + x + lit + r2) == payload(base + x + lit)) r2 += 1
            if (r2 >= 3) stop = true // a >=3 run follows: close the literal
            else lit += r2
          }
          if (lit >= 3) {
            data.write(0); data.write(lit)
            var i = 0
            while (i < lit) { data.write(payload(base + x + i) & 0xff); i += 1 }
            if ((lit & 1) == 1) data.write(0) // absolute runs pad to even
            x += lit
          } else {
            var i = 0
            while (i < lit) {
              data.write(1); data.write(payload(base + x + i) & 0xff)
              i += 1
            }
            x += lit
          }
        }
      }
      data.write(0); data.write(0) // end of line
      f += 1
    }
    data.write(0); data.write(1) // end of bitmap
    val rle = data.toByteArray

    val out = new java.io.ByteArrayOutputStream(HeaderSize + rle.length)
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    out.write('B'); out.write('M')
    u32(HeaderSize.toLong + rle.length) // bfSize
    u16(0); u16(0)                      // reserved
    u32(HeaderSize.toLong)              // bfOffBits
    u32(40)                             // biSize
    u32(width.toLong)
    u32(h.toLong)                       // positive: bottom-up
    u16(1)                              // planes
    u16(8)                              // bpp
    u32(1)                              // BI_RLE8
    u32(rle.length.toLong)              // biSizeImage (required for RLE)
    u32(2835); u32(2835)                // 72 dpi
    u32(256); u32(0)                    // colors used / important
    var i = 0
    while (i < 256) {                   // BGRX palette, the fixture rule
      out.write(PngCodec.palB(i)); out.write(PngCodec.palG(i))
      out.write(PngCodec.palR(i)); out.write(0)
      i += 1
    }
    out.write(rle)
    out.toByteArray
  }

  /** Decoded per-asset stats; -1 when invalid. Row/col weights are in
    * IMAGE coordinates (top-down) — the bottom-up flip proof.
    */
  final case class Decoded(valid: Boolean, width: Long, height: Long,
      nPixels: Long, sumR: Long, sumG: Long, sumB: Long,
      meanLumaMilli: Long, sumRowV: Long, sumColV: Long)

  private val Invalid =
    Decoded(valid = false, -1, -1, -1, -1, -1, -1, -1, -1, -1)

  def decode(bytes: Array[Byte]): Decoded = decodeRle(bytes, rle4 = false)

  def decode4(bytes: Array[Byte]): Decoded = decodeRle(bytes, rle4 = true)

  /** One walk serves both RLE wires (the tiled-TIFF unification
    * discipline): BI_RLE8 carries one index per encoded-run value byte
    * and one per absolute byte; BI_RLE4 (E291) carries TWO — encoded
    * runs ALTERNATE the value byte's high and low nibbles (the spec's
    * dithering shape), absolute runs pack nibbles high-first with the
    * unused half-nibble and the 16-bit alignment pad byte required zero
    * (the RLE8 pad-byte stance).
    */
  private def decodeRle(bytes: Array[Byte], rle4: Boolean): Decoded = {
    val n = bytes.length
    // headers + at least one palette entry + the EOB escape (the full
    // palette bound is offBits-coupled below — sub-256 palettes are legal)
    if (n < 54 + 4 + 2) return Invalid
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    if (bytes(0) != 'B' || bytes(1) != 'M') return Invalid
    if (u32(2) != n.toLong) return Invalid // bfSize must match reality
    val offBits = u32(10)
    if (u32(14) != 40) return Invalid // BITMAPINFOHEADER
    val w = u32(18)
    val h = u32(22) // positive = bottom-up (top-down RLE is not legal)
    if (w < 1 || h < 1 || w > MaxPixels || h > MaxPixels) return Invalid
    if (w * h > MaxPixels) return Invalid
    if (u16(26) != 1) return Invalid  // planes
    if (u16(28) != (if (rle4) 4 else 8)) return Invalid // bpp drives the mode
    if (u32(30) != (if (rle4) 2 else 1)) return Invalid // BI_RLE4 / BI_RLE8
    val maxPal = if (rle4) 16 else 256 // 2^bpp addressable entries
    val sizeImage = u32(34)
    val clrUsed = u32(46)
    val palN = if (clrUsed == 0) maxPal else clrUsed
    if (palN < 1 || palN > maxPal) return Invalid
    val palOff = 54
    if (offBits != 54L + 4 * palN) return Invalid
    if (offBits + sizeImage != n) return Invalid // the stream spans EOF
    @inline def palB(i: Int): Int = bytes(palOff + 4 * i) & 0xff
    @inline def palG(i: Int): Int = bytes(palOff + 4 * i + 1) & 0xff
    @inline def palR(i: Int): Int = bytes(palOff + 4 * i + 2) & 0xff

    var sumR = 0L; var sumG = 0L; var sumB = 0L; var lum = 0L
    var sumRowV = 0L; var sumColV = 0L
    var p = offBits.toInt
    var x = 0L
    var f = 0L // file row (bottom-up)
    var done = false
    @inline def px(idx: Int, cnt: Long): Boolean = {
      if (idx >= palN) return false // index past the declared palette
      val r = palR(idx); val g = palG(idx); val b = palB(idx)
      val y = h - 1 - f // image row: the flip under proof
      sumR += r * cnt; sumG += g * cnt; sumB += b * cnt
      lum += (299L * r + 587L * g + 114L * b) * cnt
      val v = (r + g + b).toLong
      sumRowV += y * v * cnt
      // columns x .. x+cnt-1: sum = cnt*x + cnt(cnt-1)/2
      sumColV += (cnt * x + cnt * (cnt - 1) / 2) * v
      x += cnt
      true
    }
    while (!done) {
      if (p + 2 > n) return Invalid
      val c0 = bytes(p) & 0xff
      val c1 = bytes(p + 1) & 0xff
      p += 2
      if (c0 > 0) {
        // encoded mode: c0 pixels — one index (RLE8), or the value
        // byte's nibbles alternating high-first (RLE4)
        if (f >= h || x + c0 > w) return Invalid // run crosses the row end
        if (!rle4) {
          if (!px(c1, c0.toLong)) return Invalid
        } else {
          val hi = (c1 >>> 4) & 15
          val lo = c1 & 15
          var k = 0
          while (k < c0) {
            if (!px(if ((k & 1) == 0) hi else lo, 1L)) return Invalid
            k += 1
          }
        }
      } else c1 match {
        case 0 => // end of line: the row must be exactly full
          if (f >= h || x != w) return Invalid
          x = 0; f += 1
        case 1 => // end of bitmap: every row written, nothing after
          if (!(f == h && x == 0)) return Invalid
          if (p != n) return Invalid
          done = true
        case 2 => return Invalid // delta escape: out of scope, visible
        case cnt => // absolute mode: cnt >= 3 literal pixels + even pad
          if (cnt < 3) return Invalid
          if (f >= h || x + cnt > w) return Invalid
          // RLE4 packs two pixels per byte high-first; both wires pad
          // the data run to a 16-bit boundary with required-zero bytes
          val dataBytes = if (rle4) (cnt + 1) / 2 else cnt
          val pad = dataBytes & 1
          if (p + dataBytes + pad > n) return Invalid
          var i = 0
          while (i < cnt) {
            val b = bytes(p + (if (rle4) i / 2 else i)) & 0xff
            val idx =
              if (!rle4) b
              else if ((i & 1) == 0) (b >>> 4) & 15
              else b & 15
            if (!px(idx, 1L)) return Invalid
            i += 1
          }
          // an odd RLE4 count leaves a half-nibble: required zero (the
          // pad-byte stance — the encoder writes zeros there)
          if (rle4 && (cnt & 1) == 1 &&
            (bytes(p + dataBytes - 1) & 15) != 0) return Invalid
          if (pad == 1 && bytes(p + dataBytes) != 0) return Invalid
          p += dataBytes + pad
      }
    }
    val npx = w * h
    Decoded(valid = true, w, h, npx, sumR, sumG, sumB, lum / npx,
      sumRowV, sumColV)
  }

  /** Encode payload bytes (index = byte mod 16) as a bottom-up RLE4 BMP
    * (E291) of the given width. Deterministic mode choice mirrors the
    * RLE8 encoder, but runs are ALTERNATING-PAIR runs (the encoded
    * mode's real power: `count, hi|lo` dithers two colors), so both
    * equal-color and two-color stretches take encoded mode; literal
    * stretches of ≥ 3 take absolute mode with nibble packing.
    */
  def encode4(payload: Array[Byte], width: Int): Array[Byte] = {
    require(width >= 1 && width <= 0xffff, "bad width")
    val h = payload.length / width
    if (h < 1) return null
    if (width.toLong * h > MaxPixels) return null
    @inline def idx(i: Int): Int = payload(i) & 15
    val data = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
    var f = 0
    while (f < h) {
      val base = (h - 1 - f) * width
      var x = 0
      while (x < width) {
        // longest alternating-pair run at x (equal runs are the
        // pat0 == pat1 special case)
        def altRun(at: Int, cap: Int): Int = {
          val p0 = idx(base + at)
          val p1 = if (at + 1 < width) idx(base + at + 1) else p0
          var k = 1
          while (at + k < width && k < cap &&
            idx(base + at + k) == (if ((k & 1) == 0) p0 else p1)) k += 1
          k
        }
        val run = altRun(x, 255)
        if (run >= 3) {
          data.write(run)
          val p1 = idx(base + x + 1)
          data.write((idx(base + x) << 4) | p1)
          x += run
        } else {
          var lit = run
          var stop = false
          while (!stop && x + lit < width && lit < 254) {
            val r2 = altRun(x + lit, 3)
            if (r2 >= 3) stop = true
            else lit += r2
          }
          if (lit >= 3) {
            data.write(0); data.write(lit)
            var i = 0
            var cur = 0
            while (i < lit) {
              if ((i & 1) == 0) cur = idx(base + x + i) << 4
              else { cur |= idx(base + x + i); data.write(cur) }
              i += 1
            }
            if ((lit & 1) == 1) data.write(cur) // low half-nibble zero
            val dataBytes = (lit + 1) / 2
            if ((dataBytes & 1) == 1) data.write(0) // 16-bit alignment
            x += lit
          } else {
            data.write(lit)
            val p1 = if (lit > 1) idx(base + x + 1) else 0
            data.write((idx(base + x) << 4) | p1)
            x += lit
          }
        }
      }
      data.write(0); data.write(0) // end of line
      f += 1
    }
    data.write(0); data.write(1) // end of bitmap
    val rle = data.toByteArray

    val hdr = 14 + 40 + 16 * 4
    val out = new java.io.ByteArrayOutputStream(hdr + rle.length)
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    out.write('B'); out.write('M')
    u32(hdr.toLong + rle.length)        // bfSize
    u16(0); u16(0)                      // reserved
    u32(hdr.toLong)                     // bfOffBits
    u32(40)                             // biSize
    u32(width.toLong)
    u32(h.toLong)                       // positive: bottom-up
    u16(1)                              // planes
    u16(4)                              // bpp
    u32(2)                              // BI_RLE4
    u32(rle.length.toLong)              // biSizeImage (required for RLE)
    u32(2835); u32(2835)                // 72 dpi
    u32(16); u32(0)                     // colors used / important
    var i = 0
    while (i < 16) {                    // BGRX palette, the fixture rule
      out.write(PngCodec.palB(i)); out.write(PngCodec.palG(i))
      out.write(PngCodec.palR(i)); out.write(0)
      i += 1
    }
    out.write(rle)
    out.toByteArray
  }
}

/** `graft_bmp_rle8_encode(bytes, width)`: payload index raster →
  * bottom-up RLE8 BMP (null when no full row fits).
  */
case class BmpRle8Encode(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1, "width must be positive")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bmp_rle8_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    BmpRleCodec.encode(input.asInstanceOf[Array[Byte]], width)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_bmp_rle8_decode(bytes)`: strict header + palette + RLE walk →
  * per-asset stats struct (row/col weights in image coordinates — the
  * bottom-up flip proof).
  */
case class BmpRle8Decode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_r", LongType, nullable = true),
    StructField("sum_g", LongType, nullable = true),
    StructField("sum_b", LongType, nullable = true),
    StructField("mean_luma_milli", LongType, nullable = true),
    StructField("sum_rowv", LongType, nullable = true),
    StructField("sum_colv", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bmp_rle8_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = BmpRleCodec.decode(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.width, d.height, d.nPixels, d.sumR, d.sumG,
        d.sumB, d.meanLumaMilli, d.sumRowV, d.sumColV)
    else
      InternalRow(false, null, null, null, null, null, null, null, null,
        null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_bmp_rle4_encode(bytes, width)`: payload nibble raster
  * (index = byte mod 16) → bottom-up RLE4 BMP (null when no full row
  * fits).
  */
case class BmpRle4Encode(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1, "width must be positive")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bmp_rle4_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    BmpRleCodec.encode4(input.asInstanceOf[Array[Byte]], width)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_bmp_rle4_decode(bytes)`: the 16-color RLE wire (E291) —
  * alternating-nibble encoded runs, nibble-packed absolute runs, the
  * same escapes and image-coordinate weighting as RLE8.
  */
case class BmpRle4Decode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_r", LongType, nullable = true),
    StructField("sum_g", LongType, nullable = true),
    StructField("sum_b", LongType, nullable = true),
    StructField("mean_luma_milli", LongType, nullable = true),
    StructField("sum_rowv", LongType, nullable = true),
    StructField("sum_colv", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bmp_rle4_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = BmpRleCodec.decode4(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.width, d.height, d.nPixels, d.sumR, d.sumG,
        d.sumB, d.meanLumaMilli, d.sumRowV, d.sumColV)
    else
      InternalRow(false, null, null, null, null, null, null, null, null,
        null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BmpRleNativeFunctions {

  def bmpRle8Encode(bytes: Column, width: Int): Column =
    ColumnBridge.column(BmpRle8Encode(ColumnBridge.expression(bytes), width))

  def bmpRle8Decode(bytes: Column): Column =
    ColumnBridge.column(BmpRle8Decode(ColumnBridge.expression(bytes)))

  def bmpRle4Encode(bytes: Column, width: Int): Column =
    ColumnBridge.column(BmpRle4Encode(ColumnBridge.expression(bytes), width))

  def bmpRle4Decode(bytes: Column): Column =
    ColumnBridge.column(BmpRle4Decode(ColumnBridge.expression(bytes)))
}
