package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native ICO codec (E297) — the favicon/icon container every web
  * corpus holds millions of, and the engine's first CROSS-FORMAT
  * container: a member is EITHER a full PNG stream (the Vista+ shape)
  * or a header-less DIB (the classic shape — BITMAPINFOHEADER with
  * biHeight DOUBLED to cover the XOR color image plus the 1-bit AND
  * transparency mask). The walk dispatches per member on the PNG
  * signature and reuses [[PngCodec.decode]] verbatim — composition,
  * not re-implementation.
  *
  * Wire (the public ICONDIR layout):
  * {{{
  * ICONDIR: u16le 0 (reserved), u16le 1 (icon), u16le count
  * entry*16: width u8 (0 = 256), height u8, colorCount u8, 0,
  *           planes u16le, bitCount u16le, bytesInRes u32le,
  *           imageOffset u32le
  * members:  tiling [end of directory, EOF) exactly, in order
  * }}}
  *
  * STRICTNESS: a bad reserved/type field, zero or > 1024 entries,
  * members that do not TILE the file exactly in directory order (a
  * gap or overlap is a smuggling spot), an entry geometry disagreeing
  * with its member's decoded dimensions (the 0-means-256 rule
  * applied), an invalid PNG member, a DIB member whose header lies
  * (size ≠ 40, un-doubled height, planes ≠ 1, bitCount ≠ 8,
  * compression ≠ 0, palette past 256), a palette index past the
  * declared entries, a DIB span disagreeing with bytesInRes, and a
  * cumulative pixel count past 2^24 all report `is_valid = false`.
  *
  * The AND mask is COVERAGE (the alpha stance): its bits are counted
  * (`n_transparent`) and never touch the channel sums. Row weights
  * STACK member screens (member k's row y weighs at k·h + y, image
  * coordinates) — the order-sensitive stat that pins both member
  * order and the DIB bottom-up flip.
  *
  * Scale: one native pass per asset, O(member) state — the codec-walk
  * shape.
  */
object IcoCodec {

  val MaxPixels = 1 << 24

  /** Encode payload bytes as an ICO of `len / (width·width)` square
    * members (null when none fits): EVEN members are palette PNGs
    * (the fixture channel rule), ODD members are classic 8-bit DIBs
    * with the same palette, bottom-up XOR rows, and an AND mask whose
    * bit for pixel i is payload byte i's LSB.
    */
  def encode(payload: Array[Byte], width: Int): Array[Byte] = {
    require(width >= 1 && width <= 255 && width % 4 == 0,
      "fixture widths are 4-aligned and fit the u8 entry field")
    val memberBytes = width * width
    val n = payload.length / memberBytes
    if (n < 1) return null
    if (n.toLong * memberBytes > MaxPixels) return null
    val members = new Array[Array[Byte]](n)
    var k = 0
    while (k < n) {
      val slice = java.util.Arrays.copyOfRange(payload, k * memberBytes,
        (k + 1) * memberBytes)
      members(k) =
        if (k % 2 == 0) PngCodec.encode(slice, width, colorType = 3)
        else {
          // classic DIB: header (doubled height) + 256-entry BGRX
          // palette + bottom-up XOR rows + bottom-up 1-bit AND rows
          val h = width
          val andRow = ((width + 31) / 32) * 4
          val out = new java.io.ByteArrayOutputStream(
            40 + 1024 + memberBytes + andRow * h)
          def u16(v: Int): Unit = {
            out.write(v & 0xff); out.write((v >>> 8) & 0xff)
          }
          def u32(v: Long): Unit = {
            out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
            out.write(((v >>> 16) & 0xff).toInt)
            out.write(((v >>> 24) & 0xff).toInt)
          }
          u32(40); u32(width.toLong); u32(2L * h) // DOUBLED height
          u16(1); u16(8); u32(0)                  // planes, bpp, BI_RGB
          u32(0); u32(0); u32(0); u32(0); u32(0)  // sizes/dpi/colors
          var i = 0
          while (i < 256) {
            out.write(PngCodec.palB(i)); out.write(PngCodec.palG(i))
            out.write(PngCodec.palR(i)); out.write(0)
            i += 1
          }
          var f = h - 1 // bottom-up
          while (f >= 0) {
            out.write(slice, f * width, width)
            f -= 1
          }
          f = h - 1
          while (f >= 0) {
            val row = new Array[Byte](andRow)
            var x = 0
            while (x < width) {
              if ((slice(f * width + x) & 1) == 1)
                row(x >> 3) = (row(x >> 3) | (0x80 >>> (x & 7))).toByte
              x += 1
            }
            out.write(row, 0, andRow)
            f -= 1
          }
          out.toByteArray
        }
      k += 1
    }
    val out = new java.io.ByteArrayOutputStream(
      6 + 16 * n + members.map(_.length).sum)
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    u16(0); u16(1); u16(n)
    var off = 6L + 16L * n
    k = 0
    while (k < n) {
      out.write(width & 0xff); out.write(width & 0xff) // 256 would be 0
      out.write(0) // colorCount: 0 = 256+ (PNG) / full palette (DIB)
      out.write(0)
      u16(1)                                   // planes
      u16(if (k % 2 == 0) 32 else 8)           // bitCount hint
      u32(members(k).length.toLong)
      u32(off)
      off += members(k).length
      k += 1
    }
    members.foreach(m => out.write(m, 0, m.length))
    out.toByteArray
  }

  /** Decoded per-asset stats; -1 when invalid. */
  final case class Decoded(valid: Boolean, nImages: Long, nPng: Long,
      nDib: Long, nPixels: Long, sumR: Long, sumG: Long, sumB: Long,
      sumRowV: Long, nTransparent: Long)

  private val Invalid =
    Decoded(valid = false, -1, -1, -1, -1, -1, -1, -1, -1, -1)

  def decode(bytes: Array[Byte]): Decoded = {
    val n = bytes.length
    if (n < 6 + 16) return Invalid
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    if (u16(0) != 0 || u16(2) != 1) return Invalid
    val count = u16(4)
    if (count < 1 || count > 1024) return Invalid
    val dirEnd = 6L + 16L * count
    if (dirEnd > n) return Invalid
    var expectOff = dirEnd // members tile the file in directory order
    var nPng = 0L
    var nDib = 0L
    var nPixels = 0L
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var sumRowV = 0L
    var nTransparent = 0L
    var row = 0L // stacked screens: the member-order pin
    var k = 0
    while (k < count) {
      val e = 6 + 16 * k
      val ew = if ((bytes(e) & 0xff) == 0) 256L else (bytes(e) & 0xff).toLong
      val eh =
        if ((bytes(e + 1) & 0xff) == 0) 256L else (bytes(e + 1) & 0xff).toLong
      if (u16(e + 4) > 1) return Invalid // planes: 0 or 1 per the field
      val size = u32(e + 8)
      val off = u32(e + 12)
      if (off != expectOff) return Invalid // gap/overlap/reorder
      if (size < 1 || off + size > n) return Invalid
      val mo = off.toInt
      val isPng = size >= 8 &&
        (bytes(mo) & 0xff) == 0x89 && bytes(mo + 1) == 'P' &&
        bytes(mo + 2) == 'N' && bytes(mo + 3) == 'G'
      if (isPng) {
        val d = PngCodec.decode(
          java.util.Arrays.copyOfRange(bytes, mo, mo + size.toInt))
        if (!d.valid) return Invalid
        if (d.width != ew || d.height != eh) return Invalid // entry lies
        if (nPixels + d.nPixels > MaxPixels) return Invalid
        nPng += 1
        nPixels += d.nPixels
        sumR += d.sumR; sumG += d.sumG; sumB += d.sumB
        // stack the member's own top-down row weighting at `row`
        sumRowV += d.sumRowV + row * (d.sumR + d.sumG + d.sumB)
        row += d.height
      } else {
        // classic DIB: BITMAPINFOHEADER with the DOUBLED height
        if (size < 40) return Invalid
        if (u32(mo) != 40) return Invalid
        val w = u32(mo + 4)
        val h2 = u32(mo + 8)
        if (w < 1 || w > 256 || h2 < 2 || h2 % 2 != 0) return Invalid
        val h = h2 / 2
        if (w != ew || h != eh) return Invalid
        if (u16(mo + 12) != 1) return Invalid  // planes
        if (u16(mo + 14) != 8) return Invalid  // fixture DIBs are 8-bit
        if (u32(mo + 16) != 0) return Invalid  // BI_RGB
        val clrUsed = u32(mo + 32)
        val palN = if (clrUsed == 0) 256 else clrUsed
        if (palN < 1 || palN > 256) return Invalid
        if (nPixels + w * h > MaxPixels) return Invalid
        val xorRow = ((w + 3) / 4) * 4
        val andRow = ((w + 31) / 32) * 4
        val expectSize = 40L + 4L * palN + xorRow * h + andRow * h
        if (size != expectSize) return Invalid // span must agree
        val palOff = mo + 40
        val xorOff = palOff + 4 * palN.toInt
        val andOff = xorOff + xorRow.toInt * h.toInt
        var f = 0L
        while (f < h) {
          val y = h - 1 - f // bottom-up: the flip under proof
          var x = 0L
          while (x < w) {
            val idx = bytes((xorOff + f * xorRow + x).toInt) & 0xff
            if (idx >= palN) return Invalid // forged pixel
            val b = bytes(palOff + 4 * idx) & 0xff
            val g = bytes(palOff + 4 * idx + 1) & 0xff
            val r = bytes(palOff + 4 * idx + 2) & 0xff
            sumR += r; sumG += g; sumB += b
            sumRowV += (row + y) * (r + g + b).toLong
            // AND mask: coverage only — counted, never in the sums
            val mb = bytes((andOff + f * andRow + (x >> 3)).toInt) & 0xff
            if ((mb & (0x80 >>> (x & 7).toInt)) != 0) nTransparent += 1
            x += 1
          }
          f += 1
        }
        nDib += 1
        nPixels += w * h
        row += h
      }
      expectOff = off + size
      k += 1
    }
    if (expectOff != n) return Invalid // trailing bytes
    Decoded(valid = true, count.toLong, nPng, nDib, nPixels, sumR, sumG,
      sumB, sumRowV, nTransparent)
  }
}

/** `graft_ico_encode(bytes, width)`: payload → ICO of square members,
  * PNG and classic-DIB alternating (null when no member fits).
  */
case class IcoEncode(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_ico_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    IcoCodec.encode(input.asInstanceOf[Array[Byte]], width)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_ico_decode(bytes)`: strict ICONDIR walk dispatching per
  * member to the PNG decoder or the classic-DIB walk → per-asset
  * stats struct.
  */
case class IcoDecode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("n_images", LongType, nullable = true),
    StructField("n_png", LongType, nullable = true),
    StructField("n_dib", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_r", LongType, nullable = true),
    StructField("sum_g", LongType, nullable = true),
    StructField("sum_b", LongType, nullable = true),
    StructField("sum_rowv", LongType, nullable = true),
    StructField("n_transparent", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_ico_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = IcoCodec.decode(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.nImages, d.nPng, d.nDib, d.nPixels, d.sumR,
        d.sumG, d.sumB, d.sumRowV, d.nTransparent)
    else
      InternalRow(false, null, null, null, null, null, null, null, null,
        null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IcoNativeFunctions {

  def icoEncode(bytes: Column, width: Int): Column =
    ColumnBridge.column(IcoEncode(ColumnBridge.expression(bytes), width))

  def icoDecode(bytes: Column): Column =
    ColumnBridge.column(IcoDecode(ColumnBridge.expression(bytes)))
}
