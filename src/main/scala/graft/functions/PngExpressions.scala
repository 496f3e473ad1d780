package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native PNG codec — the first ENTROPY-CODED image format this engine
  * decodes fully in-engine, and the final narrowing of the Multimodal
  * codec stub: PNG's entropy layer is DEFLATE, and
  * `java.util.zip.Inflater`/`Deflater` ship in the JDK (stdlib, not a
  * codec library). Everything else is plain byte arithmetic in the
  * QoiExpressions mold: chunk walking (length/type/CRC framing), IHDR
  * validation, IDAT concatenation + inflate, and the per-row unfilter
  * pass (None/Sub/Up/Average/Paeth, per the public PNG specification,
  * RFC 2083 / ISO 15948).
  *
  * Scale: one native-expression pass per asset — the inflate streams
  * through a bounded buffer sized from the VERIFIED geometry, the
  * unfilter walks rows with O(stride) state, and per-asset aggregates
  * (channel sums, luma) accumulate in O(1); nothing per-pixel ever
  * materializes and nothing leaves the scan stage but the stats row.
  *
  * Forged-header-proof: the inflate output buffer is allocated ONLY
  * after checking the claimed raw size against DEFLATE's maximum
  * expansion of the bytes actually present (1032:1), so a 2^32-pixel
  * IHDR on a 100-byte asset reports is_valid = false without allocating
  * or looping; chunk CRCs are verified, so the decode never walks
  * corrupted framing.
  */
object PngCodec {

  private val Signature =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  @inline private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def crc32(bytes: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(bytes, off, len)
    c.getValue
  }

  /** Adam7 pass geometry: (xStart, yStart, xStep, yStep) per pass. */
  private val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** The palette fixture rule (color type 3): entry i resolves to
    * `(i, 255 - i, (7·i) mod 256)` — three independent, SQL-replayable
    * channel maps, the GIF global-color-table discipline.
    */
  @inline def palR(i: Int): Int = i
  @inline def palG(i: Int): Int = 255 - i
  @inline def palB(i: Int): Int = (7 * i) % 256

  /** Encode the payload as a PNG of the given `colorType` and `depth`:
    * 2 (truecolor — payload is raw RGB triplets, `h = len/(3·width)`),
    * 3 (palette — payload bytes are indices into the 256-entry fixture
    * PLTE, `h = len/width`), 0 (grayscale — payload bytes are the
    * samples, `h = len/width`; at depth 16 they are BIG-ENDIAN sample
    * pairs, `h = len/(2·width)`; at depths 1/2/4 the LOW bits of one
    * payload byte per pixel, packed MSB-first on the wire), or 4
    * (gray+alpha — interleaved (gray, alpha) byte pairs). Row filter types CYCLE `y mod 5`
    * (None, Sub, Up, Average, Paeth) so a decode of any fixture with ≥5
    * rows exercises every unfilter path — the same self-verifying-oracle
    * discipline as the QOI encoder's greedy op mix; per spec the
    * filters operate on BYTES with the byte-per-pixel stride, which is
    * what makes one emitRows serve every depth. `interlaced` writes
    * the Adam7 pass sequence (empty passes omitted entirely, per spec);
    * the filter cycle then runs per PASS row. Returns null when the
    * payload is shorter than one row.
    */
  def encode(payload: Array[Byte], width: Int, colorType: Int = 2,
      interlaced: Boolean = false, depth: Int = 8): Array[Byte] = {
    require(colorType == 0 || colorType == 2 || colorType == 3 ||
      colorType == 4, s"unsupported fixture color type $colorType")
    require(depth == 1 || depth == 2 || depth == 4 || depth == 8 ||
      depth == 16, "depth must be a spec depth")
    require(depth == 8 || depth == 16 || colorType == 0 || colorType == 3,
      "sub-byte depths are gray/palette wires per the spec")
    require(depth == 8 || colorType == 0 || colorType == 2 ||
      (depth < 8 && colorType == 3),
      "16-bit fixtures cover gray and truecolor (palette cannot be 16)")
    val channels = colorType match {
      case 0 => 1
      case 2 => 3
      case 3 => 1
      case _ => 2
    }
    // filter stride = BYTES per pixel, rounded up to 1 per the spec
    // (sub-byte pixels pack MSB-first and filter on whole bytes)
    val bpp = math.max(1, channels * (depth / 8))
    // sub-byte wires consume one payload byte per pixel (low bits)
    val inBpp = if (depth < 8) 1 else bpp
    val h = payload.length / (inBpp * width)
    if (h < 1) return null
    // sample accessor in IMAGE raster order (payload is always raster)
    @inline def sample(x: Int, y: Int, ch: Int): Int =
      payload((y * width + x) * inBpp + ch) & 0xff

    val raw = new java.io.ByteArrayOutputStream(h * (1 + bpp * width) + 64)
    // filter + emit one rectangular pixel selection (a full image, or
    // one Adam7 pass); prev-row state is local to the selection, exactly
    // as the spec treats each pass as an independent sub-image
    def emitRows(xs: Array[Int], ys: Array[Int]): Unit = {
      val sb = if (depth < 8) (xs.length * depth + 7) / 8
        else bpp * xs.length
      val prev = new Array[Int](sb)
      val cur = new Array[Int](sb)
      var r = 0
      while (r < ys.length) {
        val ft = r % 5
        raw.write(ft)
        var i = 0
        if (depth < 8) {
          // pack the selection's samples MSB-first (spec §7.2); unused
          // low bits of a partial final byte stay zero
          while (i < sb) { cur(i) = 0; i += 1 }
          var q = 0
          while (q < xs.length) {
            val v = sample(xs(q), ys(r), 0) & ((1 << depth) - 1)
            val bit = q * depth
            cur(bit >> 3) |= v << (8 - depth - (bit & 7))
            q += 1
          }
        } else {
          while (i < sb) {
            cur(i) = sample(xs(i / bpp), ys(r), i % bpp)
            i += 1
          }
        }
        i = 0
        while (i < sb) {
          val a = if (i >= bpp) cur(i - bpp) else 0
          val b = if (r >= 1) prev(i) else 0
          val c = if (i >= bpp && r >= 1) prev(i - bpp) else 0
          val pred = ft match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) / 2
            case 4 => paeth(a, b, c)
          }
          raw.write((cur(i) - pred) & 0xff)
          i += 1
        }
        System.arraycopy(cur, 0, prev, 0, sb)
        r += 1
      }
    }
    if (!interlaced) {
      emitRows(Array.tabulate(width)(identity), Array.tabulate(h)(identity))
    } else {
      Adam7.foreach { case (x0, y0, dx, dy) =>
        val xs = (x0 until width by dx).toArray
        val ys = (y0 until h by dy).toArray
        if (xs.nonEmpty && ys.nonEmpty) emitRows(xs, ys)
      }
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw.toByteArray)
    deflater.finish()
    val zout = new java.io.ByteArrayOutputStream(raw.size() / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      zout.write(buf, 0, n)
    }
    deflater.end()
    val idat = zout.toByteArray

    val out = new java.io.ByteArrayOutputStream(idat.length + 64)
    out.write(Signature, 0, 8)
    def be32(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val t = typ.getBytes("US-ASCII")
      val body = t ++ data
      out.write(be32(data.length.toLong), 0, 4)
      out.write(body, 0, body.length)
      out.write(be32(crc32(body, 0, body.length)), 0, 4)
    }
    chunk("IHDR", be32(width.toLong) ++ be32(h.toLong) ++
      Array[Byte](depth.toByte, colorType.toByte, 0, 0,
        if (interlaced) 1 else 0))
    if (colorType == 3) {
      // the spec caps PLTE at 2^depth entries — sub-byte wires carry
      // exactly the addressable palette
      val pn = if (depth < 8) 1 << depth else 256
      val plte = new Array[Byte](pn * 3)
      var i = 0
      while (i < pn) {
        plte(3 * i) = palR(i).toByte
        plte(3 * i + 1) = palG(i).toByte
        plte(3 * i + 2) = palB(i).toByte
        i += 1
      }
      chunk("PLTE", plte)
    }
    chunk("IDAT", idat)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** Decoded per-asset report (O(1) aggregation memory — a 100-megapixel
    * asset never materializes its pixels). Negative fields when invalid.
    * `sumRowV`/`sumColV` weight each pixel's channel sum (r+g+b) by its
    * GLOBAL row/column — the placement proof that pins Adam7
    * deinterlacing (a decoder that mis-places a pass matches the plain
    * sums but not these).
    */
  final case class Decoded(
      valid: Boolean, width: Long, height: Long, nPixels: Long,
      sumR: Long, sumG: Long, sumB: Long, meanLumaMilli: Long,
      colorType: Long, nIdatChunks: Long, idatBytes: Long,
      sumRowV: Long = -1, sumColV: Long = -1, interlaced: Long = -1)

  private val Invalid = Decoded(valid = false, -1, -1, -1, -1, -1, -1, -1,
    -1, -1, -1)

  def decode(bytes: Array[Byte]): Decoded = {
    val n = bytes.length
    if (n < 8 + 12 + 13 + 12 + 12) return Invalid // sig + IHDR + IDAT + IEND
    var k = 0
    while (k < 8) { if (bytes(k) != Signature(k)) return Invalid; k += 1 }
    def be32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)

    // ---- chunk walk: CRC-verified framing; IHDR first, IEND last ----
    var p = 8
    var w = -1L; var h = -1L; var colorType = -1L; var ilace = 0
    var depth = 8
    var idatLen = 0L; var nIdat = 0L; var seenIend = false
    var sawIhdr = false; var idatDone = false
    var plteOff = -1; var plteCount = 0
    val idatParts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    while (p < n && !seenIend) {
      if (p + 12 > n) return Invalid
      val len = be32(p)
      if (len > n - p - 12) return Invalid
      val l = len.toInt
      val typ = new String(bytes, p + 4, 4, "US-ASCII")
      if (crc32(bytes, p + 4, 4 + l) != be32(p + 8 + l)) return Invalid
      if (!sawIhdr) {
        if (typ != "IHDR" || l != 13) return Invalid
        sawIhdr = true
        w = be32(p + 8); h = be32(p + 12)
        depth = bytes(p + 16) & 0xff
        colorType = (bytes(p + 17) & 0xffL)
        val comp = bytes(p + 18) & 0xff
        val filt = bytes(p + 19) & 0xff
        ilace = bytes(p + 20) & 0xff
        // 8-bit gray (0), truecolor (2), palette (3), gray+alpha (4),
        // RGBA (6), 16-BIT gray/truecolor (E285), and the PACKED
        // sub-byte depths 1/2/4 for gray and palette (E290 — the
        // bilevel-scan and tiny-palette wires); deflate, adaptive
        // filters, interlace 0 or Adam7 (1) — 16-bit palette/alpha
        // report is_valid=false (visible, never misdecoded)
        val typeOk =
          if (depth == 8)
            colorType == 0L || colorType == 2L || colorType == 3L ||
              colorType == 4L || colorType == 6L
          else if (depth == 16) colorType == 0L || colorType == 2L
          else if (depth == 1 || depth == 2 || depth == 4)
            colorType == 0L || colorType == 3L // E290: packed wires
          else false
        if (w < 1 || h < 1 || !typeOk ||
            comp != 0 || filt != 0 || (ilace != 0 && ilace != 1))
          return Invalid
      } else typ match {
        case "IDAT" =>
          if (idatDone) return Invalid // IDAT chunks must be consecutive
          idatParts += ((p + 8, l))
          idatLen += l; nIdat += 1
        case "IEND" =>
          if (l != 0 || nIdat < 1) return Invalid
          seenIend = true
        case "PLTE" =>
          // only one PLTE is legal; for color type 3 it is REQUIRED and
          // must precede IDAT (it defines pixel meaning); for 2/6 it is
          // the suggested palette (ordering still spec-bound); for gray
          // it is forbidden
          if (plteOff >= 0 || nIdat > 0) return Invalid
          if (colorType == 0L || colorType == 4L) return Invalid // gray
          if (l < 3 || l > 768 || l % 3 != 0) return Invalid
          plteOff = p + 8; plteCount = l / 3
        case _ =>
          if (nIdat > 0) idatDone = true
          // ancillary chunks (bit 5 of the first type byte set) are
          // skipped; any OTHER critical chunk would change pixel
          // meaning we don't implement — reject
          if ((bytes(p + 4) & 0x20) == 0) return Invalid
      }
      p += 12 + l
    }
    if (!seenIend || p != n) return Invalid // trailing garbage is invalid
    if (colorType == 3L && plteOff < 0) return Invalid // palette required
    // the spec bounds PLTE by the bit depth: a 17-entry palette on a
    // 4-bit wire declares entries no pixel can address — forged
    if (colorType == 3L && depth < 8 && plteCount > (1 << depth))
      return Invalid

    // ---- inflate, bounded by what DEFLATE could possibly expand to ----
    // bpp = BYTES per pixel (the spec's filter stride, rounded up to 1
    // for the packed sub-byte wires)
    val bpp = math.max(1L, (colorType match {
      case 0L | 3L => 1L
      case 2L => 3L
      case 4L => 2L
      case _ => 4L
    }) * (depth / 8))
    // scanline DATA bytes for pw pixels (sub-byte pixels pack MSB-first)
    def scanBytes(pw: Long): Long =
      if (depth < 8) (pw * depth + 7) / 8 else bpp * pw
    // overflow-safe geometry guard BEFORE any multiply: the Adam7 raw
    // stream is at most h·(stride + 2) (same pixels, ≤ ~1.875·h filter
    // bytes), so this one division bounds both layouts
    val stride = 1L + scanBytes(w)
    if (h > (Int.MaxValue.toLong - 8) / (stride + 2)) return Invalid
    // raw (filtered) stream length: one filter byte per scanline; under
    // Adam7 each nonempty pass is its own run of scanlines
    val rawLen: Long =
      if (ilace == 0) h * stride
      else Adam7.map { case (x0, y0, dx, dy) =>
        val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0L
        val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0L
        if (pw > 0 && ph > 0) ph * (1L + scanBytes(pw)) else 0L
      }.sum
    val budget = idatLen * 1032L + 64L // DEFLATE max expansion of real bytes
    if (rawLen > budget) return Invalid // forged IHDR: don't allocate
    if (rawLen > Int.MaxValue - 8) return Invalid
    // one spare byte beyond the claimed size: the final inflate call needs
    // output space to consume the stream trailer (zlib makes no progress
    // with avail_out = 0), and any byte actually landing in the spare
    // proves the stream produced MORE than the IHDR claimed -> invalid
    val raw = new Array[Byte](rawLen.toInt + 1)
    val inf = new java.util.zip.Inflater()
    var got = 0
    var part = 0
    try {
      // feed IDAT parts on demand: output can complete in an early part
      // while the deflate end-of-block + adler32 trailer sits in LATER
      // parts (chunk boundaries are arbitrary per the PNG spec), so input
      // must advance whenever the inflater asks, not per-part
      var ok = true
      while (ok && !inf.finished()) {
        if (inf.needsInput()) {
          if (part >= idatParts.length) ok = false // stream ran dry
          else {
            val (off, l) = idatParts(part)
            inf.setInput(bytes, off, l)
            part += 1
          }
        }
        if (ok) {
          if (got >= raw.length) ok = false // more output than claimed
          else {
            val made = inf.inflate(raw, got, raw.length - got)
            got += made
            // no output, no input hunger, not finished: stuck (e.g. a
            // preset-dictionary stream) — reject rather than spin
            if (made == 0 && !inf.needsInput() && !inf.finished()) ok = false
          }
        }
      }
      if (!ok || !inf.finished() || got != rawLen) return Invalid
      // every IDAT byte must have been consumed: once the zlib trailer
      // completes, leftover bytes in the current part (getRemaining) or
      // unconsumed NON-EMPTY later parts are appended garbage INSIDE the
      // IDAT framing — invalid, same stance as post-IEND trailing bytes.
      // Trailing ZERO-length IDAT chunks carry no bytes and are legal
      // anywhere in the chain per the PNG spec (real encoders emit them),
      // so they are not garbage.
      if (inf.getRemaining > 0) return Invalid
      while (part < idatParts.length) {
        if (idatParts(part)._2 != 0) return Invalid
        part += 1
      }
    } catch {
      case _: java.util.zip.DataFormatException => return Invalid
    } finally inf.end()

    // ---- unfilter + aggregate per SELECTION (the whole image, or one
    // Adam7 pass — each pass is an independent sub-image per spec, with
    // its own prev-row state), O(selection stride) memory. Pixels are
    // aggregated at their GLOBAL (x, y), which is what makes the
    // row/col-weighted sums a deinterlacing placement proof. The 2^26
    // pixel cap (2^22 at depth 16 — channel sums are 256× larger) bounds
    // those weighted sums away from Long overflow — a documented
    // geometry bound (the E272 discipline), not a silent one.
    if (h > (if (depth == 16) 1L << 22 else 1L << 26) / w) return Invalid
    val bppI = bpp.toInt
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var lum = 0L
    var sumRowV = 0L; var sumColV = 0L
    var rp = 0 // read position in the raw (filtered) stream
    var bad = false
    def walkPass(x0: Int, dx: Int, pw: Int, y0: Int, dy: Int, ph: Int): Unit = {
      if (bad || pw < 1 || ph < 1) return
      val sb = scanBytes(pw.toLong).toInt
      val prev = new Array[Int](sb)
      val cur = new Array[Int](sb)
      var r = 0
      while (r < ph && !bad) {
        val ft = raw(rp) & 0xff
        rp += 1
        if (ft > 4) { bad = true; return }
        var x = 0
        while (x < sb) {
          val f = raw(rp + x) & 0xff
          val a = if (x >= bppI) cur(x - bppI) else 0
          val b = prev(x)
          val c = if (x >= bppI) prev(x - bppI) else 0
          val pred = ft match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) / 2
            case _ => paeth(a, b, c)
          }
          cur(x) = (f + pred) & 0xff
          x += 1
        }
        rp += sb
        val gy = (y0 + r.toLong * dy)
        var px = 0
        while (px < pw && !bad) {
          var rr = 0; var gg = 0; var bb = 0
          if (depth < 8) {
            // packed sample, MSB-first (spec §7.2); padding bits in a
            // partial final byte never reach a pixel
            val bit = px * depth
            val v = (cur(bit >> 3) >>> (8 - depth - (bit & 7))) &
              ((1 << depth) - 1)
            if (colorType == 0L) { rr = v; gg = v; bb = v }
            else {
              if (v >= plteCount) bad = true // OOB index: forged pixel
              else {
                rr = bytes(plteOff + 3 * v) & 0xff
                gg = bytes(plteOff + 3 * v + 1) & 0xff
                bb = bytes(plteOff + 3 * v + 2) & 0xff
              }
            }
          } else if (depth == 16) {
            // big-endian 16-bit samples (network order per the spec)
            if (colorType == 0L) {
              val v = (cur(px * 2) << 8) | cur(px * 2 + 1)
              rr = v; gg = v; bb = v
            } else {
              rr = (cur(px * 6) << 8) | cur(px * 6 + 1)
              gg = (cur(px * 6 + 2) << 8) | cur(px * 6 + 3)
              bb = (cur(px * 6 + 4) << 8) | cur(px * 6 + 5)
            }
          } else if (colorType == 0L) {
            val v = cur(px); rr = v; gg = v; bb = v
          } else if (colorType == 4L) {
            // gray+alpha: the gray sample carries the stats (alpha is
            // coverage, not color — the RGBA stance)
            val v = cur(px * 2); rr = v; gg = v; bb = v
          } else if (colorType == 3L) {
            val idx = cur(px)
            if (idx >= plteCount) { bad = true } // OOB index: forged pixel
            else {
              rr = bytes(plteOff + 3 * idx) & 0xff
              gg = bytes(plteOff + 3 * idx + 1) & 0xff
              bb = bytes(plteOff + 3 * idx + 2) & 0xff
            }
          } else {
            rr = cur(px * bppI); gg = cur(px * bppI + 1)
            bb = cur(px * bppI + 2)
          }
          if (!bad) {
            sumR += rr; sumG += gg; sumB += bb
            lum += 299L * rr + 587L * gg + 114L * bb
            val v = (rr + gg + bb).toLong
            sumRowV += gy * v
            sumColV += (x0 + px.toLong * dx) * v
            px += 1
          }
        }
        System.arraycopy(cur, 0, prev, 0, sb)
        r += 1
      }
    }
    if (ilace == 0) walkPass(0, 1, w.toInt, 0, 1, h.toInt)
    else Adam7.foreach { case (x0, y0, dx, dy) =>
      val pw = if (w > x0) ((w - x0 + dx - 1) / dx).toInt else 0
      val ph = if (h > y0) ((h - y0 + dy - 1) / dy).toInt else 0
      walkPass(x0, dx, pw, y0, dy, ph)
    }
    if (bad || rp.toLong != rawLen) return Invalid
    val npx = w * h
    Decoded(valid = true, w, h, npx, sumR, sumG, sumB, lum / npx,
      colorType, nIdat, idatLen, sumRowV, sumColV, ilace.toLong)
  }
}

/** `graft_png_encode(bytes, width, colorType, interlaced)`: payload
  * samples → PNG stream (null when shorter than one pixel row). Width,
  * color type (0 gray / 2 RGB / 3 palette), and the Adam7 flag are
  * literals.
  */
case class PngEncode(child: Expression, width: Int, colorType: Int = 2,
    interlaced: Boolean = false, depth: Int = 8)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1, "width must be positive")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_png_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    PngCodec.encode(input.asInstanceOf[Array[Byte]], width, colorType,
      interlaced, depth)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_png_decode(bytes)`: full chunk-walk + inflate + unfilter decode
  * → per-asset stats struct. Invalid/corrupt/forged streams report
  * `is_valid = false` with null stats — a visible finding, never a
  * dropped row, an allocation blow-up, or a wrong number.
  */
case class PngDecode(child: Expression)
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
    StructField("color_type", LongType, nullable = true),
    StructField("n_idat_chunks", LongType, nullable = true),
    StructField("idat_bytes", LongType, nullable = true),
    StructField("sum_rowv", LongType, nullable = true),
    StructField("sum_colv", LongType, nullable = true),
    StructField("interlaced", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_png_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = PngCodec.decode(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.width, d.height, d.nPixels, d.sumR, d.sumG,
        d.sumB, d.meanLumaMilli, d.colorType, d.nIdatChunks, d.idatBytes,
        d.sumRowV, d.sumColV, d.interlaced)
    else
      InternalRow(false, null, null, null, null, null, null, null,
        null, null, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PngNativeFunctions {

  def pngEncode(bytes: Column, width: Int, colorType: Int = 2,
      interlaced: Boolean = false, depth: Int = 8): Column =
    ColumnBridge.column(
      PngEncode(ColumnBridge.expression(bytes), width, colorType, interlaced, depth))

  def pngDecode(bytes: Column): Column =
    ColumnBridge.column(PngDecode(ColumnBridge.expression(bytes)))
}
