package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native TIFF codec (E252) — the scanner-archive format. Classic TIFF
  * 6.0 (the public Adobe specification): a 8-byte header in EITHER byte
  * order ("II" little-endian / "MM" big-endian), an Image File
  * Directory of 12-byte entries SORTED ASCENDING BY TAG, external value
  * areas for values wider than the 4-byte inline slot (strip arrays,
  * RATIONAL resolutions), and pixel data in strips of `RowsPerStrip`
  * rows: uncompressed, PackBits-compressed (Compression 32773, the
  * run-length scheme restarted AT EVERY ROW per the spec), or
  * LZW-compressed (Compression 5, §13: the TIFF LZW variant — codes
  * packed MSB-FIRST, opposite bit order to GIF, with the EARLY
  * code-width change — restarted at every STRIP), optionally behind the
  * §14 horizontal-differencing Predictor (tag 317 = 2, the dominant
  * real-world LZW-TIFF wire: each row's pixels are deltas from their
  * left neighbor, undone with one add per pixel in the strip walk).
  *
  * The IFD-walk machinery mirrors the Exif TIFF walk the engine already
  * runs inside JPEG APP1 segments ([[JpegDctCodec]]) — here it is the
  * whole container, with the full baseline-grayscale required-tag set.
  *
  * ORACLE (the q260 pixel-identity discipline): both compressions are
  * lossless, so on engine-encoded fixtures decode∘encode is the
  * identity on payload bytes — every stat reads straight off the raw
  * payload in DuckDB, and the PackBits/big-endian query hash-matches
  * the uncompressed/little-endian oracle VERBATIM (compression and byte
  * order change the wire, never the pixels). `sum_rowv` (index weighted
  * by output row) is the order-sensitive stat that pins strip ORDER and
  * the per-row PackBits restart, not just content.
  *
  * STRICTNESS: a wrong magic/version, an unsorted or truncated IFD, a
  * missing or mistyped required baseline tag (ImageWidth, ImageLength,
  * BitsPerSample=8, Compression ∈ {1, 5, 32773}, Photometric ∈ {0,1},
  * StripOffsets, SamplesPerPixel=1, RowsPerStrip, StripByteCounts,
  * XResolution, YResolution, ResolutionUnit), a strip count that
  * disagrees with ⌈height/RowsPerStrip⌉, out-of-bounds strip spans, a
  * PackBits or LZW stream that over- or under-fills its strip or dies
  * mid-run, a declared LZW strip length the code stream does not
  * consume exactly,
  * a forged IFD chain (next pointers into garbage, > 4096 pages, pages
  * with mismatched geometry), a Predictor (tag 317) other than 1 or 2,
  * Predictor 2 outside the LZW path, a FillOrder (tag 266) outside
  * {1, 2}, or FillOrder 2 off the LZW wire (it only changes a BIT
  * stream) all
  * report `is_valid = false`. FillOrder 2 itself DECODES: each LZW
  * byte is un-reversed through a 256-entry table before the code walk. Forged-geometry bound: width·height is
  * capped at 2^24 and strips decode straight into running sums — pixels
  * are never buffered beyond one strip's declared size.
  *
  * Scale: one native-expression pass per asset, O(row) state — the
  * codec-walk shape.
  */
object TiffCodec {

  /** Declared-geometry cap (the GIF/PNG discipline). */
  val MaxPixels = 1 << 24

  /** 256-entry bit-reversal table — the FillOrder 2 undo (tag 266 = 2:
    * bits within each byte of a bit stream arrive reversed, the
    * fax-heritage wire).
    */
  private val BitReverse: Array[Int] = Array.tabulate(256) { b =>
    var v = b
    var r = 0
    var i = 0
    while (i < 8) { r = (r << 1) | (v & 1); v >>= 1; i += 1 }
    r
  }

  private val RowsPerStrip = 4

  /** Encode payload bytes as an 8-bit grayscale classic TIFF of the
    * given column width, in either byte order, uncompressed / PackBits
    * (restarted per row) / LZW (restarted per strip). `pageHeight` == 0
    * gives one page of ⌊len/width⌋ whole rows; `pageHeight` > 0 gives a
    * MULTI-PAGE archive of ⌊len/(width·pageHeight)⌋ whole pages chained
    * through the IFD next pointers (the scanner-archive shape). Null
    * when no full row/page fits or the geometry exceeds the pixel cap.
    */
  /** Fixture tile geometry (E284): the spec's minimum legal tile. */
  val TileW = 16
  val TileH = 16

  def encodeTiff(payload: Array[Byte], width: Int, bigEndian: Boolean,
      packBits: Boolean, lzw: Boolean = false,
      pageHeight: Int = 0, predictor2: Boolean = false,
      fillOrder2: Boolean = false, tiled: Boolean = false,
      rgb: Boolean = false): Array[Byte] = {
    require(width >= 1, "width must be positive")
    require(!(packBits && lzw), "choose one compression")
    require(pageHeight >= 0, "pageHeight must be non-negative")
    require(!predictor2 || lzw, "Predictor 2 rides the LZW path (spec 14)")
    require(!fillOrder2 || lzw,
      "FillOrder 2 only changes a BIT stream — the LZW wire")
    require(!(tiled && packBits), "the tiled fixture wires are raw or LZW")
    // E292: chunky RGB — the payload is an RGBRGB... raster, rows span
    // width·3 bytes, and all row/strip/tile arithmetic runs on SAMPLES
    val spp = if (rgb) 3 else 1
    val rowBytes = width * spp
    val paged = pageHeight > 0
    val h = if (paged) pageHeight else payload.length / rowBytes
    if (h < 1) return null
    // geometry cap BEFORE the Int multiply: an extreme width x pageHeight
    // must return the documented null, not wrap to a zero divisor
    if (width.toLong * h > MaxPixels) return null
    val pageBytes = rowBytes * h
    val nPages = if (paged) payload.length / pageBytes else 1
    if (nPages < 1) return null
    if (nPages.toLong * width * h > MaxPixels) return null
    val nStrips = (h + RowsPerStrip - 1) / RowsPerStrip

    // ---- Predictor 2 (TIFF 6.0 spec 14, horizontal differencing): each
    // row's pixels become deltas from their left neighbor BEFORE the LZW
    // pass — the dominant real-world LZW-TIFF wire. Rows are
    // width-aligned spans of the payload, pages stacked, so one global
    // width-periodic walk differences every row of every page. ----
    val src =
      if (!predictor2) payload
      else {
        // differencing is PER CHANNEL with the spp stride (spec 14):
        // each sample deltas against the same channel one pixel left
        val used = nPages * pageBytes
        val d = new Array[Byte](used)
        var i = 0
        while (i < used) {
          d(i) =
            if (i % rowBytes < spp) payload(i)
            else ((payload(i) - payload(i - spp)) & 0xff).toByte
          i += 1
        }
        d
      }

    // tile grid (E284): padded tw×tl rectangles, tiles across then down
    val tAcross = (width + TileW - 1) / TileW
    val tDown = (h + TileH - 1) / TileH
    val nChunks = if (tiled) tAcross * tDown else nStrips

    // ---- strip data per page (PackBits restarts at every ROW, LZW at
    // every STRIP, per the spec) ----
    val pages = new Array[Array[Array[Byte]]](nPages)
    var pg = 0
    while (pg < nPages) {
      if (tiled) {
        // each tile is built PADDED (edge overhang zero-filled — its
        // content is spec-irrelevant), predictor-differenced per TILE
        // row, and LZW'd per tile
        val base = pg * pageBytes
        val tiles = new Array[Array[Byte]](nChunks)
        var t = 0
        while (t < nChunks) {
          val ty = t / tAcross
          val tx = t % tAcross
          val tRow = TileW * spp
          val buf = new Array[Byte](tRow * TileH)
          var r = 0
          while (r < TileH) {
            val gy = ty * TileH + r
            var c = 0
            while (c < tRow) {
              val gx = tx * TileW + c / spp
              buf(r * tRow + c) =
                if (gx < width && gy < h)
                  payload(base + gy * rowBytes + gx * spp + c % spp)
                else 0
              c += 1
            }
            r += 1
          }
          val d =
            if (!predictor2) buf
            else {
              val o = new Array[Byte](buf.length)
              var i = 0
              while (i < buf.length) {
                o(i) =
                  if (i % tRow < spp) buf(i)
                  else ((buf(i) - buf(i - spp)) & 0xff).toByte
                i += 1
              }
              o
            }
          tiles(t) =
            if (!lzw) d
            else {
              val enc = lzwEncode(d, 0, d.length)
              if (fillOrder2) {
                var k = 0
                while (k < enc.length) {
                  enc(k) = BitReverse(enc(k) & 0xff).toByte
                  k += 1
                }
              }
              enc
            }
          t += 1
        }
        pages(pg) = tiles
        pg += 1
      } else {
      val strips = new Array[Array[Byte]](nStrips)
      val base = pg * pageBytes
      var s = 0
      while (s < nStrips) {
        val rows = math.min(RowsPerStrip, h - s * RowsPerStrip)
        if (lzw) {
          val enc =
            lzwEncode(src, base + s * RowsPerStrip * rowBytes,
              rows * rowBytes)
          if (fillOrder2) {
            // FillOrder 2 (tag 266): bits within every byte of the
            // compressed stream are reversed — the fax-heritage wire
            var k = 0
            while (k < enc.length) {
              enc(k) = BitReverse(enc(k) & 0xff).toByte
              k += 1
            }
          }
          strips(s) = enc
        } else if (!packBits) {
          strips(s) = java.util.Arrays.copyOfRange(payload,
            base + s * RowsPerStrip * rowBytes,
            base + (s * RowsPerStrip + rows) * rowBytes)
        } else {
          val out = new java.io.ByteArrayOutputStream(rows * rowBytes + 16)
          var r = 0
          while (r < rows) {
            packRow(payload, base + (s * RowsPerStrip + r) * rowBytes,
              rowBytes, out)
            r += 1
          }
          strips(s) = out.toByteArray
        }
        s += 1
      }
      pages(pg) = strips
      pg += 1
      }
    }

    // ---- layout: header, then per page [chunks][IFD][ext areas],
    // IFDs chained through their next pointers ----
    val nEntries = (if (tiled) 13 else 12) +
      (if (predictor2) 1 else 0) + (if (fillOrder2) 1 else 0)
    val ifdSize = 2 + nEntries * 12 + 4
    // external areas per page: chunk arrays only when external (> 1
    // chunk), plus the two RATIONAL resolutions
    val extSize = (if (nChunks > 1) 8 * nChunks else 0) + 16 +
      (if (rgb) 6 else 0)
    val stripsStart = new Array[Long](nPages)
    val ifdAt = new Array[Long](nPages)
    var off = 8L
    pg = 0
    while (pg < nPages) {
      stripsStart(pg) = off
      off += pages(pg).map(_.length.toLong).sum
      ifdAt(pg) = off
      off += ifdSize + extSize
      pg += 1
    }

    val out = new java.io.ByteArrayOutputStream(payload.length + 512 * nPages)
    def u16(v: Int): Unit =
      if (bigEndian) { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def u32(v: Long): Unit =
      if (bigEndian) {
        out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
        out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
      } else {
        out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
        out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
      }
    out.write(if (bigEndian) 'M' else 'I')
    out.write(if (bigEndian) 'M' else 'I')
    u16(42)
    u32(ifdAt(0))

    pg = 0
    while (pg < nPages) {
      val strips = pages(pg)
      strips.foreach(out.write)
      val stripBytes = strips.map(_.length)
      // external areas follow this page's IFD
      var extOff = ifdAt(pg) + ifdSize
      val ext = new java.io.ByteArrayOutputStream(64)
      def extU32(v: Long): Unit = {
        if (bigEndian) {
          ext.write(((v >>> 24) & 0xff).toInt); ext.write(((v >>> 16) & 0xff).toInt)
          ext.write(((v >>> 8) & 0xff).toInt); ext.write((v & 0xff).toInt)
        } else {
          ext.write((v & 0xff).toInt); ext.write(((v >>> 8) & 0xff).toInt)
          ext.write(((v >>> 16) & 0xff).toInt); ext.write(((v >>> 24) & 0xff).toInt)
        }
      }
      u16(nEntries)
      def entryShort(tag: Int, value: Int): Unit = {
        u16(tag); u16(3); u32(1)
        // a SHORT value sits in the FIRST two bytes of the 4-byte slot
        // (left-justified in the file's byte order)
        u16(value); u16(0)
      }
      def entryLong(tag: Int, value: Long): Unit = {
        u16(tag); u16(4); u32(1); u32(value)
      }
      def entryLongArray(tag: Int, values: Array[Long]): Unit = {
        u16(tag); u16(4); u32(values.length.toLong)
        if (values.length == 1) u32(values(0))
        else {
          u32(extOff)
          values.foreach(extU32)
          extOff += 4L * values.length
        }
      }
      def entryRational(tag: Int, num: Long, den: Long): Unit = {
        u16(tag); u16(5); u32(1); u32(extOff)
        extU32(num); extU32(den)
        extOff += 8
      }
      def entryShortArray3(tag: Int, value: Int): Unit = {
        // three SHORTs (6 bytes) never fit the inline slot -> external
        u16(tag); u16(3); u32(3); u32(extOff)
        def extU16(v: Int): Unit =
          if (bigEndian) { ext.write((v >>> 8) & 0xff); ext.write(v & 0xff) }
          else { ext.write(v & 0xff); ext.write((v >>> 8) & 0xff) }
        extU16(value); extU16(value); extU16(value)
        extOff += 6
      }
      var acc = stripsStart(pg)
      val offsets = stripBytes.map { b => val o = acc; acc += b; o }
      // IFD entries in ascending tag order (the spec requirement)
      entryLong(256, width.toLong)                  // ImageWidth
      entryLong(257, h.toLong)                      // ImageLength
      if (rgb) entryShortArray3(258, 8)             // BitsPerSample [8,8,8]
      else entryShort(258, 8)                       // BitsPerSample
      entryShort(259,                               // Compression
        if (lzw) 5 else if (packBits) 32773 else 1)
      entryShort(262, if (rgb) 2 else 1)            // Photometric
      if (fillOrder2) entryShort(266, 2)            // FillOrder: reversed
      if (!tiled) entryLongArray(273, offsets)      // StripOffsets
      entryShort(277, spp)                          // SamplesPerPixel
      if (!tiled) {
        entryLong(278, RowsPerStrip.toLong)         // RowsPerStrip
        entryLongArray(279, stripBytes.map(_.toLong)) // StripByteCounts
      }
      entryRational(282, 72, 1)                     // XResolution
      entryRational(283, 72, 1)                     // YResolution
      entryShort(296, 2)                            // ResolutionUnit: inch
      if (predictor2) entryShort(317, 2)            // Predictor: horizontal
      if (tiled) {
        entryLong(322, TileW.toLong)                // TileWidth
        entryLong(323, TileH.toLong)                // TileLength
        entryLongArray(324, offsets)                // TileOffsets
        entryLongArray(325, stripBytes.map(_.toLong)) // TileByteCounts
      }
      u32(if (pg + 1 < nPages) ifdAt(pg + 1) else 0L) // the chain pointer
      out.write(ext.toByteArray)
      pg += 1
    }
    out.toByteArray
  }

  /** PackBits-encode ONE row: replicate runs of >= 3, literals
    * otherwise (deterministic, so the wire is reproducible).
    */
  private def packRow(payload: Array[Byte], off: Int, len: Int,
      out: java.io.ByteArrayOutputStream): Unit = {
    var i = 0
    while (i < len) {
      // measure the run at i
      var run = 1
      while (i + run < len && run < 128 &&
        payload(off + i + run) == payload(off + i)) run += 1
      if (run >= 3) {
        out.write(257 - run) // -(run-1) as unsigned
        out.write(payload(off + i))
        i += run
      } else {
        // literal until the next >=3 run (or end), max 128
        var j = i + 1
        var lit = 1
        while (j < len && lit < 128) {
          var r = 1
          while (j + r < len && r < 3 && payload(off + j + r) == payload(off + j))
            r += 1
          if (r >= 3) j = len // stop: a run starts here
          else { j += 1; lit += 1 }
        }
        out.write(lit - 1)
        out.write(payload, off + i, lit)
        i += lit
      }
    }
  }

  /** TIFF-variant LZW encode of ONE strip (TIFF 6.0 §13): codes packed
    * MSB-FIRST (the opposite bit order to GIF), ClearCode 256 / EOI 257,
    * and the EARLY code-width change — the width grows one code SOONER
    * than GIF's rule (at 2^w - 1 instead of 2^w on the decoder side),
    * with the table cleared at 4094 for the same reason.
    */
  private def lzwEncode(data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val Clear = 256
    val Eoi = 257
    val dictKey = new Array[Long](1 << 13)
    val dictVal = new Array[Int](1 << 13)
    java.util.Arrays.fill(dictKey, -1L)
    def dictFind(prefix: Int, b: Int): Int = {
      val key = (prefix.toLong << 8) | b
      var slot = ((key * 2654435761L) >>> 40).toInt & ((1 << 13) - 1)
      while (dictKey(slot) != -1L) {
        if (dictKey(slot) == key) return dictVal(slot)
        slot = (slot + 1) & ((1 << 13) - 1)
      }
      -1
    }
    def dictPut(prefix: Int, b: Int, code: Int): Unit = {
      val key = (prefix.toLong << 8) | b
      var slot = ((key * 2654435761L) >>> 40).toInt & ((1 << 13) - 1)
      while (dictKey(slot) != -1L) slot = (slot + 1) & ((1 << 13) - 1)
      dictKey(slot) = key
      dictVal(slot) = code
    }
    val out = new java.io.ByteArrayOutputStream(len / 2 + 64)
    var acc = 0L
    var nbits = 0
    var codeWidth = 9
    var nextCode = 258
    var codesOut = 0
    def putCode(c: Int): Unit = {
      acc = (acc << codeWidth) | c
      nbits += codeWidth
      while (nbits >= 8) {
        out.write(((acc >>> (nbits - 8)) & 0xff).toInt)
        nbits -= 8
      }
    }
    // width bumps count CODES WRITTEN, not entries (the GIF lesson one
    // variant over): the final data code defines no entry on this side
    // but the decoder learns one from it, so an entry-based rule writes
    // EOI one width behind a decoder that just crossed a power of two.
    // TIFF early change: the width grows one code SOONER than GIF.
    def putData(c: Int): Unit = {
      putCode(c)
      codesOut += 1
      if (258 + codesOut == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
    }
    def resetDict(): Unit = {
      java.util.Arrays.fill(dictKey, -1L)
      nextCode = 258
      codeWidth = 9
      codesOut = 0
    }
    putCode(Clear)
    var cur = data(off) & 0xff
    var i = 1
    while (i < len) {
      val b = data(off + i) & 0xff
      val hit = dictFind(cur, b)
      if (hit >= 0) cur = hit
      else {
        putData(cur)
        dictPut(cur, b, nextCode)
        nextCode += 1
        if (nextCode == 4094) { putCode(Clear); resetDict() }
        cur = b
      }
      i += 1
    }
    putData(cur)
    putCode(Eoi)
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  /** Per-asset decode result; -1 stats when invalid. `sumV` totals all
    * SAMPLES (== the pixel sum at spp 1); `meanVMilli` is per sample;
    * `sumR`/`sumG`/`sumB` split by channel (all equal to `sumV` on
    * grayscale wires, the PNG r = g = b convention).
    */
  final case class Decoded(valid: Boolean, width: Long, height: Long,
      nPixels: Long, sumV: Long, meanVMilli: Long, sumRowV: Long,
      nStrips: Long, nPages: Long, sumR: Long = -1, sumG: Long = -1,
      sumB: Long = -1)

  private val Invalid =
    Decoded(valid = false, -1, -1, -1, -1, -1, -1, -1, -1)

  def decodeTiff(bytes: Array[Byte]): Decoded = {
    val n = bytes.length
    if (n < 8) return Invalid
    val big =
      if (bytes(0) == 'M' && bytes(1) == 'M') true
      else if (bytes(0) == 'I' && bytes(1) == 'I') false
      else return Invalid
    def u16(o: Int): Int =
      if (o + 2 > n) -1
      else if (big) ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
      else (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      if (o + 4 > n) -1L
      else if (big)
        ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
          ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
      else
        (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    if (u16(2) != 42) return Invalid
    var ifdOff = u32(4)
    // ---- the IFD CHAIN: one page per IFD, next pointers walked until
    // zero (multi-page is the scanner-archive norm) ----
    var pageW = -1L
    var pageH = -1L
    var pageSpp = -1L
    var totPixels = 0L
    var totSamples = 0L
    var totStrips = 0L
    var nPages = 0L
    var sumV = 0L
    var sumR = 0L
    var sumG = 0L
    var sumB = 0L
    var sumRowV = 0L
    var row = 0L // global output row, pages stacked
    while (ifdOff != 0) {
    if (nPages >= 4096) return Invalid // forged-chain bound
    if (ifdOff < 8 || ifdOff + 2 > n) return Invalid
    val nEntries = u16(ifdOff.toInt)
    if (nEntries < 1 || nEntries > 4096) return Invalid // forged-IFD bound
    val entriesOff = ifdOff.toInt + 2
    if (entriesOff + nEntries * 12 + 4 > n) return Invalid

    // walk entries: ascending tag order is a spec requirement
    var width = -1L
    var height = -1L
    var bits = -1L
    var bitsCount = -1L
    var planar = -1L
    var compression = -1L
    var photometric = -1L
    var spp = -1L
    var rps = -1L
    var resUnit = -1L
    var predictor = -1L
    var fillOrder = -1L
    var xresOk = false
    var yresOk = false
    var stripOffsets: Array[Long] = null
    var stripCounts: Array[Long] = null
    var tileW = -1L
    var tileL = -1L
    var tileOffsets: Array[Long] = null
    var tileCounts: Array[Long] = null
    var prevTag = -1
    var e = 0
    while (e < nEntries) {
      val o = entriesOff + e * 12
      val tag = u16(o)
      if (tag <= prevTag) return Invalid // unsorted or duplicate tag
      prevTag = tag
      val typ = u16(o + 2)
      val count = u32(o + 4)
      if (count < 1 || count > (1 << 20)) return Invalid
      // a scalar SHORT/LONG reads from the inline slot; arrays and
      // RATIONALs live at an external offset that must stay in bounds
      def typeSize: Int = typ match {
        case 3 => 2
        case 4 => 4
        case 5 => 8
        case _ => -1
      }
      def scalar: Long =
        if (count != 1) -1
        else if (typ == 3) u16(o + 8).toLong
        else if (typ == 4) u32(o + 8)
        else -1
      def longArray: Array[Long] = {
        if (typeSize < 0) return null
        val total = count * typeSize
        val at =
          if (total <= 4) (o + 8).toLong
          else {
            val ext = u32(o + 8)
            if (ext < 8 || ext + total > n) return null
            ext
          }
        if (at + total > n) return null
        val out = new Array[Long](count.toInt)
        var i = 0
        while (i < count) {
          out(i) =
            if (typ == 3) u16((at + 2L * i).toInt).toLong
            else u32((at + 4L * i).toInt)
          i += 1
        }
        out
      }
      def rationalOk: Boolean = {
        if (typ != 5 || count != 1) return false
        val ext = u32(o + 8)
        if (ext < 8 || ext + 8 > n) return false
        u32(ext.toInt + 4) != 0 // a zero denominator is a forged file
      }
      tag match {
        case 256 =>
          if (typ != 3 && typ != 4) return Invalid
          width = scalar
        case 257 =>
          if (typ != 3 && typ != 4) return Invalid
          height = scalar
        case 258 =>
          // BitsPerSample holds ONE short per sample (RGB carries the
          // [8,8,8] triple in an external value area)
          if (typ != 3) return Invalid
          val ba = longArray
          if (ba == null) return Invalid
          bitsCount = ba.length.toLong
          if (ba.exists(_ != ba(0))) return Invalid // mixed depths: forged
          bits = ba(0)
        case 259 =>
          if (typ != 3) return Invalid
          compression = scalar
        case 262 =>
          if (typ != 3) return Invalid
          photometric = scalar
        case 266 =>
          if (typ != 3) return Invalid
          fillOrder = scalar // audited after the walk
        case 273 =>
          if (typ != 3 && typ != 4) return Invalid
          stripOffsets = longArray
          if (stripOffsets == null) return Invalid
        case 277 =>
          if (typ != 3) return Invalid
          spp = scalar
        case 278 =>
          if (typ != 3 && typ != 4) return Invalid
          rps = scalar
        case 279 =>
          if (typ != 3 && typ != 4) return Invalid
          stripCounts = longArray
          if (stripCounts == null) return Invalid
        case 282 =>
          if (!rationalOk) return Invalid
          xresOk = true
        case 283 =>
          if (!rationalOk) return Invalid
          yresOk = true
        case 284 =>
          // PlanarConfiguration: 1 = chunky (RGBRGB..., the baseline
          // default); 2 = planar is a visible reject, never a misdecode
          if (typ != 3) return Invalid
          planar = scalar
        case 296 =>
          if (typ != 3) return Invalid
          resUnit = scalar
        case 317 =>
          if (typ != 3) return Invalid
          predictor = scalar
        case 322 => // TileWidth (E284)
          if (typ != 3 && typ != 4) return Invalid
          tileW = scalar
        case 323 => // TileLength
          if (typ != 3 && typ != 4) return Invalid
          tileL = scalar
        case 324 => // TileOffsets
          if (typ != 3 && typ != 4) return Invalid
          tileOffsets = longArray
          if (tileOffsets == null) return Invalid
        case 325 => // TileByteCounts
          if (typ != 3 && typ != 4) return Invalid
          tileCounts = longArray
          if (tileCounts == null) return Invalid
        case _ => () // unknown tags are spec-legal, skipped
      }
      e += 1
    }
    val nextIfd = u32(entriesOff + nEntries * 12)
    if (nextIfd < 0) return Invalid
    // required-tag audit (baseline grayscale, or E292 baseline RGB:
    // Photometric 2 + SamplesPerPixel 3 + BitsPerSample [8,8,8] chunky)
    if (width < 1 || height < 1 || bits != 8) return Invalid
    if (spp != 1 && spp != 3) return Invalid
    if (bitsCount != spp) return Invalid // one depth per sample, exactly
    if (planar != -1L && planar != 1L) return Invalid // chunky only
    if (compression != 1 && compression != 5 && compression != 32773)
      return Invalid
    if (photometric != 0 && photometric != 1 && photometric != 2)
      return Invalid
    if ((photometric == 2) != (spp == 3)) return Invalid // RGB iff 3 samples
    if (!xresOk || !yresOk) return Invalid
    if (resUnit != 1 && resUnit != 2 && resUnit != 3) return Invalid
    // layout family (TIFF 6.0 §15): STRIPS (273/278/279) or TILES
    // (322-325), exactly one — a file carrying both is forged, and a
    // partial tile set is malformed, not "strips by default"
    val tiled = tileW != -1L || tileL != -1L || tileOffsets != null ||
      tileCounts != null
    if (tiled) {
      if (tileW == -1L || tileL == -1L || tileOffsets == null ||
        tileCounts == null) return Invalid
      if (stripOffsets != null || stripCounts != null || rps != -1L)
        return Invalid
      // tile dims must be multiples of 16 (the spec's own rule)
      if (tileW < 16 || tileL < 16 || tileW % 16 != 0 || tileL % 16 != 0)
        return Invalid
      if (tileW > MaxPixels || tileL > MaxPixels) return Invalid
    } else {
      if (rps < 1) return Invalid
    }
    // Predictor (tag 317): 1 = none, 2 = horizontal differencing — the
    // dominant real LZW-TIFF wire (spec 14 defines it on the LZW path);
    // anything else, or 2 outside LZW, rejects visibly
    if (predictor != -1 && predictor != 1 && predictor != 2) return Invalid
    if (predictor == 2 && compression != 5) return Invalid
    val pred2 = predictor == 2
    // FillOrder (tag 266): 1 = MSB-first (default), 2 = bit-reversed
    // bytes — only meaningful on a BIT stream, so it is accepted (and
    // undone via the reverse table) on the LZW wire and rejected
    // elsewhere; other values are forged
    if (fillOrder != -1 && fillOrder != 1 && fillOrder != 2) return Invalid
    if (fillOrder == 2 && compression != 5) return Invalid
    val rev2 = fillOrder == 2
    if (!tiled && (stripOffsets == null || stripCounts == null))
      return Invalid
    // every page of an archive shares one geometry (the scanner
    // discipline, and what keeps the stats schema meaningful)
    if (nPages == 0) { pageW = width; pageH = height; pageSpp = spp }
    else if (width != pageW || height != pageH || spp != pageSpp)
      return Invalid
    // bound each u32 dimension BEFORE the multiply — unvalidated tag
    // values up to 2^32-1 could overflow the Long product and slip past
    // the cumulative cap
    if (width > MaxPixels || height > MaxPixels) return Invalid
    if (totPixels + width * height > MaxPixels) return Invalid // cumulative
    val tAcross = if (tiled) (width + tileW - 1) / tileW else 0L
    val tDown = if (tiled) (height + tileL - 1) / tileL else 0L
    // a tile is decoded PADDED (tw·tl pixels even at the edges), so the
    // per-chunk pixel budget needs its own cumulative cap
    if (tiled && tAcross * tDown * tileW * tileL > MaxPixels.toLong * 2)
      return Invalid
    val nStrips =
      if (tiled) (tAcross * tDown).toInt
      else ((height + rps - 1) / rps).toInt
    val chunkOffsets = if (tiled) tileOffsets else stripOffsets
    val chunkCounts = if (tiled) tileCounts else stripCounts
    if (chunkOffsets.length != nStrips ||
      chunkCounts.length != nStrips) return Invalid

    // ---- chunk decode (strips, or E284 tiles) into running sums: each
    // chunk is a cW-wide rectangle at page-local (cX, cLy); tile-edge
    // padding pixels are decoded (the wire carries them) but land
    // outside (width, height) and are never counted ----
    var s = 0
    while (s < nStrips) {
      var cW = 0L
      var cLy = 0L
      var cX = 0L
      var expect = 0L
      if (tiled) {
        val ty = s / tAcross.toInt
        val tx = s % tAcross.toInt
        cW = tileW
        cLy = ty * tileL
        cX = tx * tileW
        expect = tileW * tileL * spp
      } else {
        val rows = math.min(rps, height - s * rps)
        cW = width
        cLy = s * rps
        expect = rows * width * spp
      }
      var emitted = 0L // SAMPLES emitted (== pixels when spp = 1)
      @inline def accPx(v: Int): Unit = {
        val pxIdx = emitted / spp
        val ch = (emitted - pxIdx * spp).toInt // chunky: RGBRGB...
        val gx = cX + pxIdx % cW
        val ly = cLy + pxIdx / cW
        if (gx < width && ly < height) {
          sumV += v
          sumRowV += (row + ly) * v
          if (spp == 1) { sumR += v; sumG += v; sumB += v } // r = g = b
          else ch match {
            case 0 => sumR += v
            case 1 => sumG += v
            case _ => sumB += v
          }
        }
        emitted += 1
      }
      val off = chunkOffsets(s)
      val len = chunkCounts(s)
      if (off < 8 || len < 0 || off + len > n) return Invalid
      if (compression == 1) {
        if (len != expect) return Invalid
        var i = 0L
        while (i < len) {
          accPx(bytes((off + i).toInt) & 0xff)
          i += 1
        }
      } else if (compression == 5) {
        // ---- TIFF-variant LZW (§13): MSB-first codes, EARLY width
        // change (one code sooner than GIF), Clear 256 / EOI 257 ----
        val Clear = 256
        val Eoi = 257
        val prefix = new Array[Int](4096)
        val suffix = new Array[Int](4096)
        val firstB = new Array[Int](4096)
        var i = 0
        while (i < 256) {
          prefix(i) = -1; suffix(i) = i; firstB(i) = i
          i += 1
        }
        var nextCode = 258
        var codeWidth = 9
        var codesRead = 0
        // the encoder's mirror: count codes read, early-change threshold
        def countCode(): Unit = {
          codesRead += 1
          if (258 + codesRead == (1 << codeWidth) && codeWidth < 12)
            codeWidth += 1
        }
        var acc = 0L
        var nbits = 0
        var p = off
        val end = off + len
        var ended = false
        // Predictor-2 undo state: the running left-neighbor value PER
        // CHANNEL (spec 14: differencing is per sample with the spp
        // stride), reset at every row start (column 0 of the CHUNK — a
        // strip row spans the image, a tile row spans the tile).
        val predAccs = new Array[Int](spp.toInt)
        val stack = new Array[Int](4097)
        def nextCodeBits(): Int = {
          while (nbits < codeWidth) {
            if (p >= end) return -1
            val b = bytes(p.toInt) & 0xff
            acc = (acc << 8) | (if (rev2) BitReverse(b) else b).toLong
            nbits += 8
            p += 1
          }
          val c = ((acc >>> (nbits - codeWidth)) &
            ((1L << codeWidth) - 1)).toInt
          nbits -= codeWidth
          c
        }
        def emitString(code: Int): Boolean = {
          var top = 0
          var c = code
          while (c >= 0) { stack(top) = suffix(c); top += 1; c = prefix(c) }
          if (emitted + top > expect) return false
          while (top > 0) {
            top -= 1
            var v = stack(top)
            if (pred2) {
              // horizontal differencing undo: one add per sample, mod
              // 256, against the SAME CHANNEL of the previous pixel
              val inRow = emitted % (cW * spp)
              val ch = (emitted % spp).toInt
              predAccs(ch) =
                if (inRow < spp) v else (predAccs(ch) + v) & 0xff
              v = predAccs(ch)
            }
            accPx(v)
          }
          true
        }
        var prev = -1
        while (!ended) {
          val c = nextCodeBits()
          if (c < 0) return Invalid
          if (c == Clear) {
            nextCode = 258
            codeWidth = 9
            codesRead = 0
            prev = -1
          } else if (c == Eoi) {
            ended = true
          } else if (c < nextCode && c < 4096 && c != 256 && c != 257) {
            if (prev == -1) {
              if (c >= 256) return Invalid // first code must be a root
              if (!emitString(c)) return Invalid
            } else {
              if (!emitString(c)) return Invalid
              if (nextCode < 4096) {
                prefix(nextCode) = prev
                suffix(nextCode) = firstB(c)
                firstB(nextCode) = firstB(prev)
                nextCode += 1
              }
            }
            countCode()
            prev = c
          } else if (c == nextCode && prev != -1 && nextCode < 4096) {
            prefix(nextCode) = prev
            suffix(nextCode) = firstB(prev)
            firstB(nextCode) = firstB(prev)
            nextCode += 1
            if (!emitString(nextCode - 1)) return Invalid
            countCode()
            prev = nextCode - 1
          } else return Invalid
        }
        if (emitted != expect) return Invalid
        // the declared strip length must cover exactly the bits read
        // (the final partial byte is zero-padded by the encoder)
        if (p != end) return Invalid
      } else {
        // PackBits: literal header 0..127 = n+1 bytes follow; replicate
        // header 129..255 = next byte repeats 257-h times; 128 is a noop
        var p = off
        val end = off + len
        while (p < end) {
          val hByte = bytes(p.toInt) & 0xff
          p += 1
          if (hByte == 128) () // noop per the spec
          else if (hByte < 128) {
            val cnt = hByte + 1
            if (p + cnt > end || emitted + cnt > expect) return Invalid
            var i = 0
            while (i < cnt) {
              accPx(bytes((p + i).toInt) & 0xff)
              i += 1
            }
            p += cnt
          } else {
            val cnt = 257 - hByte
            if (p >= end || emitted + cnt > expect) return Invalid
            val v = bytes(p.toInt) & 0xff
            p += 1
            var i = 0
            while (i < cnt) {
              accPx(v)
              i += 1
            }
          }
        }
        if (emitted != expect) return Invalid // chunk under/overfill
      }
      s += 1
    }
    row += height
    totPixels += width * height
    totSamples += width * height * spp
    totStrips += nStrips
    nPages += 1
    ifdOff = nextIfd
    } // end IFD chain
    if (nPages < 1) return Invalid

    Decoded(valid = true, pageW, pageH, totPixels, sumV,
      sumV * 1000 / totSamples, sumRowV, totStrips, nPages,
      sumR, sumG, sumB)
  }
}

/** `graft_tiff_encode(bytes, width, bigEndian, packBits[, lzw])`:
  * payload → classic TIFF stream (null when no full row fits).
  */
case class TiffEncode(child: Expression, width: Int, bigEndian: Boolean,
    packBits: Boolean, lzw: Boolean = false, pageHeight: Int = 0,
    predictor2: Boolean = false, fillOrder2: Boolean = false,
    tiled: Boolean = false, rgb: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1, "width must be positive")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tiff_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TiffCodec.encodeTiff(input.asInstanceOf[Array[Byte]], width, bigEndian,
      packBits, lzw, pageHeight, predictor2, fillOrder2, tiled, rgb)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_tiff_decode(bytes)`: strict IFD walk + strip decode →
  * per-asset stats struct. Invalid, truncated, or forged streams report
  * `is_valid = false`.
  */
case class TiffDecode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_v", LongType, nullable = true),
    StructField("mean_v_milli", LongType, nullable = true),
    StructField("sum_rowv", LongType, nullable = true),
    StructField("n_strips", LongType, nullable = true),
    StructField("n_pages", LongType, nullable = true),
    StructField("sum_r", LongType, nullable = true),
    StructField("sum_g", LongType, nullable = true),
    StructField("sum_b", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tiff_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = TiffCodec.decodeTiff(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.width, d.height, d.nPixels, d.sumV, d.meanVMilli,
        d.sumRowV, d.nStrips, d.nPages, d.sumR, d.sumG, d.sumB)
    else InternalRow(false, null, null, null, null, null, null, null, null,
      null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TiffNativeFunctions {

  def tiffEncode(bytes: Column, width: Int, bigEndian: Boolean,
      packBits: Boolean, lzw: Boolean = false, pageHeight: Int = 0,
      predictor2: Boolean = false, fillOrder2: Boolean = false,
      tiled: Boolean = false, rgb: Boolean = false): Column =
    ColumnBridge.column(TiffEncode(ColumnBridge.expression(bytes), width, bigEndian, packBits, lzw,
      pageHeight, predictor2, fillOrder2, tiled, rgb))

  def tiffDecode(bytes: Column): Column =
    ColumnBridge.column(TiffDecode(ColumnBridge.expression(bytes)))
}
