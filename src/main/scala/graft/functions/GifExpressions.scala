package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native GIF codec (E245/E247–E249) — the LZW entropy family, in-engine.
  * GIF is the third real entropy coder the engine decodes without a codec
  * library (after DEFLATE-via-JDK in PNG and native Huffman in JPEG):
  * variable-width LZW codes packed LSB-FIRST (opposite bit order to
  * JPEG), a dictionary that grows by one string per code up to 4096
  * entries with CLEAR/EOI control codes and the KwKwK
  * (code == next-free-entry) reconstruction case, all inside GIF's
  * length-prefixed data sub-block framing.
  *
  * Stream shape (the public GIF89a specification), now covering the
  * real-world file shapes:
  * {{{
  * "GIF89a"  logical screen descriptor (w, h, packed, bg, aspect)
  * global color table (2^palBits x RGB, palBits in 1..8)
  * [extension blocks: 0x21 label, length-prefixed sub-blocks]*
  * ( [GCE 0x21 0xF9 with a frame delay]?           — animation
  *   image descriptor (0x2C, left, top, w, h, packed[interlace bit])
  *   LZW minimum code size byte (max(2, palBits) — small palettes!)
  *   data sub-blocks (each <= 255 bytes, 0x00 terminator) )+
  * [extension blocks]*                             — trailing comments
  * trailer 0x3B
  * }}}
  *
  * ORACLE (the q260 pixel-identity discipline): GIF is lossless on the
  * index stream, so on engine-encoded fixtures decode∘encode is the
  * identity on payload bytes. The fixture palette derives each entry
  * from its index — entry i = (i, (3i+85) mod 256, (7i+21) mod 256) —
  * so the DuckDB oracle computes the exact per-channel sums straight
  * from the raw payload bytes while the engine must LZW-decode the
  * indices AND read the palette back out of the stream it wrote. For
  * small palettes the fixture index is `byte mod 2^palBits` — still
  * per-byte SQL arithmetic. Interlace is proved by an ORDER-SENSITIVE
  * stat: `sum_rowv` = Σ (global output row × index), which only matches
  * the raw-payload value when the decoder really maps the four interlace
  * passes back to their screen rows (sums alone are order-free and could
  * not tell). Animation reuses the same stat with rows stacked across
  * frames, plus the GCE delay total.
  *
  * STRICTNESS: out-of-range codes, a KwKwK code with no prior string, a
  * pixel count that disagrees with the descriptor, missing EOI, data
  * past EOI, unconsumed sub-blocks, a missing trailer, trailing garbage,
  * an LZW minimum code size outside 2..8, a frame whose placement
  * (left, top, w, h) leaves the logical screen, or a GCE with a
  * reserved disposal method (4..7) all report `is_valid = false`.
  * PARTIAL frames — nonzero offsets, sub-screen geometry, the dominant
  * real animated-GIF shape — are accepted and bounds-checked; the
  * order-sensitive stats then weight by SCREEN row (top + deinterlaced
  * local row, screens stacked across frames) and screen column (the
  * `sum_colv` twin that pins left offsets). Extension blocks
  * (comment, application — real files carry them) are skipped as
  * spec-legal wherever GIF89a permits them, INCLUDING between the last
  * frame and the trailer; Graphic Control Extensions are parsed for
  * their frame delays. Forged-header allocation bound: pixels are never
  * buffered (running palette sums, O(4096) dictionary state), emission
  * stops the moment it would exceed the declared geometry, and the total
  * pixel count across frames is capped at 2^24 — so a forged 65535 x
  * 65535 descriptor can neither allocate nor spin.
  *
  * Scale: one native-expression pass per asset, O(4096) state — the
  * codec-walk shape of [[QoiExpressions]]/[[JpegDctExpressions]].
  */
object GifCodec {

  /** Fixture palette rule: entry i = (i, (3i+85) & 255, (7i+21) & 255).
    * Index-derived so the SQL oracle can compute channel sums from raw
    * payload bytes; the decoder still READS the table from the stream.
    */
  def paletteR(i: Int): Int = i & 0xff
  def paletteG(i: Int): Int = (3 * i + 85) & 0xff
  def paletteB(i: Int): Int = (7 * i + 21) & 0xff

  /** LOCAL color table rule for frame f: the global rule shifted by a
    * frame-dependent offset — per-frame tables genuinely DIFFER, so a
    * decoder that ignored the LCT (or fell back to a GCT) would miss
    * every channel sum. lct*(i, 0) equals the global rule.
    */
  def lctR(i: Int, f: Int): Int = (i + 17 * f) & 0xff
  def lctG(i: Int, f: Int): Int = (3 * i + 85 + 29 * f) & 0xff
  def lctB(i: Int, f: Int): Int = (7 * i + 21 + 41 * f) & 0xff

  /** Declared-geometry cap: decode never buffers pixels, but emission
    * work is proportional to the total pixel count — 16M pixels bounds a
    * forged header's spin without excluding any real fixture.
    */
  val MaxPixels = 1 << 24

  /** GIF89a interlace pass order: rows 0,8,16,… then 4,12,… then
    * 2,6,10,… then 1,3,5,…. Returns the actual screen row for each
    * SEQUENTIAL row position in the data stream.
    */
  def interlaceRows(h: Int): Array[Int] = {
    val out = new Array[Int](h)
    var s = 0
    var r = 0
    while (r < h) { out(s) = r; s += 1; r += 8 }
    r = 4
    while (r < h) { out(s) = r; s += 1; r += 8 }
    r = 2
    while (r < h) { out(s) = r; s += 1; r += 4 }
    r = 1
    while (r < h) { out(s) = r; s += 1; r += 2 }
    out
  }

  /** Encode payload bytes as the indices of a width-column GIF89a.
    *
    *  - `palBits` (1..8): global color table of 2^palBits entries per the
    *    fixture palette rule; pixel index = payload byte mod 2^palBits;
    *    LZW minimum code size = max(2, palBits) per the spec floor.
    *  - `interlaced`: rows are emitted in the four-pass interlace order
    *    and the descriptor's interlace flag is set.
    *  - `frameHeight` > 0: an ANIMATED GIF of ⌊len/(width·frameHeight)⌋
    *    whole frames (null when no full frame fits), each preceded by a
    *    Graphic Control Extension carrying delay 4+(f mod 3) cs, after a
    *    NETSCAPE2.0 looping application extension. frameHeight == 0: a
    *    single image of ⌊len/width⌋ whole rows (null when no full row
    *    fits or the height overflows the u16 field).
    *  - `partialFrames`: each animation frame is a SUB-SCREEN update at
    *    offsets ((f mod 3)·4, f mod 4) inside a (width+8) x
    *    (frameHeight+3) screen, GCE disposal 1 — the real-file shape.
    */
  def encodeGif(payload: Array[Byte], width: Int, palBits: Int = 8,
      interlaced: Boolean = false, frameHeight: Int = 0,
      localPalettes: Boolean = false,
      partialFrames: Boolean = false): Array[Byte] = {
    require(width >= 1 && width <= 65535, "width must fit the u16 field")
    require(palBits >= 1 && palBits <= 8, "palBits must be in 1..8")
    require(frameHeight >= 0 && frameHeight <= 65535,
      "frameHeight must fit the u16 field")
    require(!partialFrames || frameHeight > 0,
      "partial frames are an animation shape")
    val animated = frameHeight > 0
    val fh = if (animated) frameHeight else payload.length / width
    if (fh < 1 || fh > 65535) return null
    val frameBytes = width * fh
    val nFrames = if (animated) payload.length / frameBytes else 1
    if (nFrames < 1) return null
    if (nFrames.toLong * frameBytes > MaxPixels) return null
    val palSize = 1 << palBits
    val palMask = palSize - 1
    val minCode = math.max(2, palBits)

    // partial-frame screens leave room for the fixture offsets: frame f
    // sits at (left, top) = ((f mod 3)·4, f mod 4) inside a screen 8
    // columns wider and 3 rows taller than the frame — the dominant
    // real animated-GIF shape (sub-screen updates at nonzero offsets)
    val screenW = if (partialFrames) width + 8 else width
    val screenH = if (partialFrames) fh + 3 else fh
    if (screenW > 65535 || screenH > 65535) return null

    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 1024)
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    "GIF89a".foreach(c => out.write(c.toInt))
    u16(screenW); u16(screenH)
    // with local palettes the GCT is OMITTED entirely (the real-file
    // shape: many animated GIFs carry only per-frame tables)
    out.write((if (localPalettes) 0x70 else 0xf0) | (palBits - 1))
    out.write(0)                    // background color index
    out.write(0)                    // pixel aspect ratio
    var i = 0
    if (!localPalettes) {
      while (i < palSize) {
        out.write(paletteR(i)); out.write(paletteG(i)); out.write(paletteB(i))
        i += 1
      }
    }
    if (animated) {
      // NETSCAPE2.0 looping application extension (the real-world marker)
      out.write(0x21); out.write(0xff); out.write(11)
      "NETSCAPE2.0".foreach(c => out.write(c.toInt))
      out.write(3); out.write(1); u16(0) // sub-block: loop forever
      out.write(0)                       // chain terminator
    }

    // ---- LZW state, parametric in the minimum code size ----
    val Clear = 1 << minCode
    val Eoi = Clear + 1
    val dictKey = new Array[Long](1 << 13)
    val dictVal = new Array[Int](1 << 13)
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

    val rowOrder = if (interlaced) interlaceRows(fh) else null

    var f = 0
    while (f < nFrames) {
      if (animated) {
        // GCE: 4-byte block — packed (disposal 1 "do not dispose" on the
        // partial-frame wire, the real-file norm), delay cs, transparent
        out.write(0x21); out.write(0xf9); out.write(4)
        out.write(if (partialFrames) 0x04 else 0); u16(4 + f % 3); out.write(0)
        out.write(0)
      }
      out.write(0x2c) // image descriptor
      if (partialFrames) { u16((f % 3) * 4); u16(f % 4) }
      else { u16(0); u16(0) }
      u16(width); u16(fh)
      out.write((if (localPalettes) 0x80 else 0x00) |
        (if (interlaced) 0x40 else 0x00) |
        (if (localPalettes) palBits - 1 else 0))
      if (localPalettes) {
        i = 0
        while (i < palSize) {
          out.write(lctR(i, f)); out.write(lctG(i, f)); out.write(lctB(i, f))
          i += 1
        }
      }
      out.write(minCode)

      // frame pixel at sequential position j: interlace reorders rows
      val base = f * frameBytes
      def px(j: Int): Int = {
        val idx =
          if (rowOrder == null) base + j
          else base + rowOrder(j / width) * width + j % width
        payload(idx) & palMask
      }

      java.util.Arrays.fill(dictKey, -1L)
      val lzw = new java.io.ByteArrayOutputStream(frameBytes / 2 + 64)
      var acc = 0L
      var nbits = 0
      var codeWidth = minCode + 1
      var nextCode = Clear + 2
      var codesOut = 0
      def putCode(c: Int): Unit = {
        acc |= c.toLong << nbits
        nbits += codeWidth
        while (nbits >= 8) {
          lzw.write((acc & 0xff).toInt)
          acc >>>= 8
          nbits -= 8
        }
      }
      // the code-width rule counts CODES WRITTEN, not dictionary entries:
      // the two coincide mid-stream (every data code defines an entry),
      // but the FINAL data code defines none while the decoder still
      // learns one from it — an entry-based encoder then writes EOI one
      // width behind a decoder that just crossed a power of two (hit in
      // the wild by the property suite at palBits=1: small code spaces
      // cross boundaries every few codes)
      def putData(c: Int): Unit = {
        putCode(c)
        codesOut += 1
        if (Clear + 2 + codesOut == (1 << codeWidth) + 1 && codeWidth < 12)
          codeWidth += 1
      }
      def resetDict(): Unit = {
        java.util.Arrays.fill(dictKey, -1L)
        nextCode = Clear + 2
        codeWidth = minCode + 1
        codesOut = 0
      }
      putCode(Clear)
      var cur = px(0)
      i = 1
      while (i < frameBytes) {
        val b = px(i)
        val hit = dictFind(cur, b)
        if (hit >= 0) cur = hit
        else {
          putData(cur)
          dictPut(cur, b, nextCode)
          nextCode += 1
          if (nextCode == 4096) { putCode(Clear); resetDict() }
          cur = b
        }
        i += 1
      }
      putData(cur)
      putCode(Eoi)
      if (nbits > 0) lzw.write((acc & 0xff).toInt) // zero-padded final byte
      // chunk into <= 255-byte sub-blocks
      val bytes = lzw.toByteArray
      var off = 0
      while (off < bytes.length) {
        val len = math.min(255, bytes.length - off)
        out.write(len)
        out.write(bytes, off, len)
        off += len
      }
      out.write(0x00) // block terminator
      f += 1
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Per-asset decode result; -1 stats when invalid. `height` is the
    * per-frame height; `nPixels` totals across frames; `sumRowV` weights
    * each index by its GLOBAL output row (frames stacked), the
    * order-sensitive stat that proves deinterlacing and frame order;
    * `sumDelay` totals the Graphic Control Extension delays (cs).
    */
  final case class Decoded(valid: Boolean, width: Long, height: Long,
      nPixels: Long, sumIdx: Long, sumR: Long, sumG: Long, sumB: Long,
      meanIdxMilli: Long, nFrames: Long, sumDelay: Long, sumRowV: Long,
      sumColV: Long,
      // compositing stats (decodeGif(composite = true) only; -1 otherwise):
      // the FINAL SCREEN after the last frame, disposals applied between
      // frames, transparency skipped, per-cell palette provenance kept
      nPainted: Long = -1, sumFIdx: Long = -1, sumFRowV: Long = -1,
      sumFR: Long = -1, sumFG: Long = -1, sumFB: Long = -1)

  private val Invalid = Decoded(valid = false, -1, -1, -1, -1, -1, -1, -1,
    -1, -1, -1, -1, -1)

  /** Compositing needs a real screen buffer (8 bytes per cell), so its
    * geometry bound is tighter than the streaming decoder's 2^24: 4M
    * cells = 32 MB per task, far above any real animated GIF.
    */
  val MaxCompositePixels = 1 << 22

  def decodeGif(bytes: Array[Byte], composite: Boolean = false): Decoded = {
    val n = bytes.length
    if (n < 13) return Invalid
    // header: accept both published versions
    val hdr = new String(bytes, 0, 6, "US-ASCII")
    if (hdr != "GIF89a" && hdr != "GIF87a") return Invalid
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    val sw = u16(6)
    val sh = u16(8)
    val packed = bytes(10) & 0xff
    // the GCT is OPTIONAL (real animated files often carry only local
    // tables); a frame without an LCT then has no palette and rejects
    val hasGct = (packed & 0x80) != 0
    val gctSize = if (hasGct) 2 << (packed & 0x07) else 0
    var p = 13
    if (p + 3 * gctSize > n) return Invalid
    val palR = new Array[Int](gctSize)
    val palG = new Array[Int](gctSize)
    val palB = new Array[Int](gctSize)
    var i = 0
    while (i < gctSize) {
      palR(i) = bytes(p) & 0xff
      palG(i) = bytes(p + 1) & 0xff
      palB(i) = bytes(p + 2) & 0xff
      p += 3
      i += 1
    }
    if (sw < 1 || sh < 1) return Invalid
    if (sw.toLong * sh > MaxPixels) return Invalid // forged-geometry bound
    if (composite && sw.toLong * sh > MaxCompositePixels)
      return Invalid // the buffer-backed op has the tighter bound
    // compositing state: per-cell painted index (-1 = background) and
    // the PAINT-TIME resolved color (frames may carry different LCTs)
    val screenIdx = if (composite) {
      val a = new Array[Int](sw * sh)
      java.util.Arrays.fill(a, -1)
      a
    } else null
    val screenRgb = if (composite) new Array[Int](sw * sh) else null
    // the GCE preceding a frame steers it: disposal method and the
    // transparent index (painting SKIPS transparent pixels)
    var pendingDisposal = 0
    var pendingTransparent = -1
    // the PREVIOUS frame's disposal is applied when the next frame (or
    // the trailer) arrives; disposal 3 needs the pre-draw rect saved
    var prevDisposal = 0
    var prevLeft = 0
    var prevTop = 0
    var prevW = 0
    var prevH = 0
    var prevSaved: Array[Int] = null
    var prevSavedRgb: Array[Int] = null
    def applyPrevDisposal(): Unit = {
      if (screenIdx == null || prevW == 0) return
      if (prevDisposal == 2) {
        // restore to background: the rect becomes unpainted
        var r = 0
        while (r < prevH) {
          var c = 0
          while (c < prevW) {
            screenIdx((prevTop + r) * sw + (prevLeft + c)) = -1
            c += 1
          }
          r += 1
        }
      } else if (prevDisposal == 3 && prevSaved != null) {
        // restore to previous: put the pre-draw rect content back
        var r = 0
        while (r < prevH) {
          var c = 0
          while (c < prevW) {
            val cell = (prevTop + r) * sw + (prevLeft + c)
            screenIdx(cell) = prevSaved(r * prevW + c)
            screenRgb(cell) = prevSavedRgb(r * prevW + c)
            c += 1
          }
          r += 1
        }
      }
      prevW = 0
      prevSaved = null
      prevSavedRgb = null
    }

    var sumIdx = 0L
    var sumR = 0L
    var sumG = 0L
    var sumB = 0L
    var sumRowV = 0L
    var sumColV = 0L
    var sumDelay = 0L
    var nFrames = 0L
    var totalEmitted = 0L
    var rowOrder: Array[Int] = null // cached per (h, interlaced) — frames match
    var rowOrderInterlaced = false

    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val firstB = new Array[Int](4096)
    val stack = new Array[Int](4097)

    // ---- main block walk: extensions / frames, then the trailer ----
    var sawTrailer = false
    while (!sawTrailer) {
      if (p >= n) return Invalid
      val intro = bytes(p) & 0xff
      if (intro == 0x3b) { // trailer
        p += 1
        sawTrailer = true
      } else if (intro == 0x21) {
        // extension: GCE delays are parsed, everything else skipped as
        // spec-legal (GIF89a permits extensions anywhere before the
        // trailer, including AFTER the last frame)
        if (p + 1 >= n) return Invalid
        val label = bytes(p + 1) & 0xff
        if (label == 0xf9) {
          // Graphic Control Extension: fixed 4-byte block. The packed
          // field's disposal method (bits 2..4) steers compositing:
          // 0..3 are defined (unspecified / keep / background / previous),
          // 4..7 reserved — a reserved value is a forged stream
          if (p + 7 >= n) return Invalid
          if ((bytes(p + 2) & 0xff) != 4) return Invalid
          val gcePacked = bytes(p + 3) & 0xff
          if (((gcePacked >> 2) & 7) > 3) return Invalid
          pendingDisposal = (gcePacked >> 2) & 7
          pendingTransparent =
            if ((gcePacked & 1) != 0) bytes(p + 6) & 0xff else -1
          sumDelay += u16(p + 4)
          if ((bytes(p + 7) & 0xff) != 0) return Invalid // terminator
          p += 8
        } else {
          p += 2 // introducer + label
          var len = if (p < n) bytes(p) & 0xff else -1
          while (len > 0) {
            p += 1 + len
            len = if (p < n) bytes(p) & 0xff else -1
          }
          if (len < 0) return Invalid // truncated extension chain
          p += 1 // the zero terminator
        }
      } else if (intro == 0x2c) {
        // ---- image descriptor + one LZW-coded frame ----
        if (p + 10 > n) return Invalid
        // real animated GIFs overwhelmingly ship PARTIAL-frame updates:
        // nonzero (left, top) and sub-screen w x h are accepted, but the
        // placement must stay inside the logical screen
        val left = u16(p + 1)
        val top = u16(p + 3)
        val w = u16(p + 5)
        val h = u16(p + 7)
        if (w < 1 || h < 1) return Invalid
        if (left + w > sw || top + h > sh) return Invalid // out of screen
        val framePix = w.toLong * h
        if (totalEmitted + framePix > MaxPixels) return Invalid
        // the GCE ahead of this frame steers its compositing
        val frameDisposal = pendingDisposal
        val frameTransparent = pendingTransparent
        pendingDisposal = 0
        pendingTransparent = -1
        var curSaved: Array[Int] = null
        var curSavedRgb: Array[Int] = null
        if (composite) {
          applyPrevDisposal()
          if (frameDisposal == 3) {
            // restore-to-previous needs the pre-draw rect content
            curSaved = new Array[Int](w * h)
            curSavedRgb = new Array[Int](w * h)
            var r = 0
            while (r < h) {
              var c = 0
              while (c < w) {
                val cell = (top + r) * sw + (left + c)
                curSaved(r * w + c) = screenIdx(cell)
                curSavedRgb(r * w + c) = screenRgb(cell)
                c += 1
              }
              r += 1
            }
          }
        }
        val ipacked = bytes(p + 9) & 0xff
        val interlaced = (ipacked & 0x40) != 0
        if (rowOrder == null || rowOrder.length != h ||
          rowOrderInterlaced != interlaced) {
          rowOrder = if (interlaced) interlaceRows(h)
          else Array.tabulate(h)(identity)
          rowOrderInterlaced = interlaced
        }
        p += 10
        // LOCAL color table: overrides the GCT for THIS frame only
        var fPalR = palR
        var fPalG = palG
        var fPalB = palB
        var fPalSize = gctSize
        if ((ipacked & 0x80) != 0) {
          val lctSize = 2 << (ipacked & 0x07)
          if (p + 3 * lctSize > n) return Invalid // truncated LCT
          fPalR = new Array[Int](lctSize)
          fPalG = new Array[Int](lctSize)
          fPalB = new Array[Int](lctSize)
          i = 0
          while (i < lctSize) {
            fPalR(i) = bytes(p) & 0xff
            fPalG(i) = bytes(p + 1) & 0xff
            fPalB(i) = bytes(p + 2) & 0xff
            p += 3
            i += 1
          }
          fPalSize = lctSize
        } else if (!hasGct) return Invalid // no palette for this frame
        if (p >= n) return Invalid
        val minCode = bytes(p) & 0xff
        // T.81 analog of the SSSS bound: the spec floor is 2, the 256-
        // color ceiling is 8 — anything outside is a forged stream
        if (minCode < 2 || minCode > 8) return Invalid
        p += 1

        // ---- LZW decode over the sub-block chain, LSB-first ----
        val Clear = 1 << minCode
        val Eoi = Clear + 1
        i = 0
        while (i < Clear) {
          prefix(i) = -1; suffix(i) = i; firstB(i) = i
          i += 1
        }
        var nextCode = Clear + 2
        var codeWidth = minCode + 1
        var codesRead = 0
        // width bumps count CODES READ (the encoder's mirror): after
        // reading data code number k, the width grows when
        // Clear + 2 + k crosses the current power of two — identical to
        // the entry-based rule mid-stream, and correct on the final
        // code, where the decoder defines an entry the encoder did not
        def countCode(): Unit = {
          codesRead += 1
          if (Clear + 2 + codesRead == (1 << codeWidth) + 1 && codeWidth < 12)
            codeWidth += 1
        }
        var acc = 0L
        var nbits = 0
        var blockLeft = 0 // bytes remaining in the current sub-block
        var ended = false // saw EOI
        def nextCodeBits(): Int = {
          while (nbits < codeWidth) {
            if (blockLeft == 0) {
              if (p >= n) return -1
              blockLeft = bytes(p) & 0xff
              p += 1
              if (blockLeft == 0) return -1 // terminator before EOI
            }
            if (p >= n) return -1
            acc |= (bytes(p) & 0xffL) << nbits
            nbits += 8
            p += 1
            blockLeft -= 1
          }
          val c = (acc & ((1L << codeWidth) - 1)).toInt
          acc >>>= codeWidth
          nbits -= codeWidth
          c
        }
        var emitted = 0L
        // the global row stacks SCREENS, not frames: a partial frame's
        // pixel lands at screen row top + deinterlaced local row
        val frameRowBase = nFrames * sh + top
        def emitString(code: Int): Boolean = {
          var sp = 0
          var c = code
          while (c >= 0) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
          if (emitted + sp > framePix) return false // more than declared
          while (sp > 0) {
            sp -= 1
            val v = stack(sp)
            if (v >= fPalSize) return false // index outside the palette
            sumIdx += v
            sumR += fPalR(v)
            sumG += fPalG(v)
            sumB += fPalB(v)
            // the order-sensitive stats: global output row x index pins
            // deinterlace + frame order + the TOP offset; screen column
            // x index pins the LEFT offset
            sumRowV += (frameRowBase + rowOrder((emitted / w).toInt)) * v
            sumColV += (left + emitted % w) * v
            // compositing: paint (screen row, screen col) with the
            // PAINT-TIME palette; transparent pixels leave the cell
            if (screenIdx != null && v != frameTransparent) {
              val cell = (top + rowOrder((emitted / w).toInt)) * sw +
                (left + (emitted % w).toInt)
              screenIdx(cell) = v
              screenRgb(cell) =
                (fPalR(v) << 16) | (fPalG(v) << 8) | fPalB(v)
            }
            emitted += 1
          }
          true
        }
        var prev = -1
        while (!ended) {
          val c = nextCodeBits()
          if (c < 0) return Invalid
          if (c == Clear) {
            nextCode = Clear + 2
            codeWidth = minCode + 1
            codesRead = 0
            prev = -1
          } else if (c == Eoi) {
            ended = true
          } else if (c < nextCode && c < 4096 &&
            (c < Clear || c >= Clear + 2)) {
            if (prev == -1) {
              if (c >= Clear) return Invalid // first code must be a root
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
            // KwKwK: the code being defined right now — string = prev + its
            // own first byte
            prefix(nextCode) = prev
            suffix(nextCode) = firstB(prev)
            firstB(nextCode) = firstB(prev)
            nextCode += 1
            if (!emitString(nextCode - 1)) return Invalid
            countCode()
            prev = nextCode - 1
          } else return Invalid // out-of-range code or KwKwK with no prior
        }
        if (emitted != framePix) return Invalid // every declared pixel
        // pad bits in the final byte are discarded; the sub-block chain
        // must be fully consumed and terminated
        if (blockLeft != 0) return Invalid // unconsumed bytes after EOI
        if (p >= n || (bytes(p) & 0xff) != 0x00) return Invalid // terminator
        p += 1
        totalEmitted += emitted
        nFrames += 1
        if (composite) {
          // this frame's disposal fires when the NEXT frame (never the
          // trailer — the final displayed state keeps the last frame)
          // arrives
          prevDisposal = frameDisposal
          prevLeft = left
          prevTop = top
          prevW = w
          prevH = h
          prevSaved = curSaved
          prevSavedRgb = curSavedRgb
        }
      } else return Invalid // unknown block introducer
    }
    if (p != n) return Invalid // trailing garbage
    if (nFrames < 1) return Invalid

    // final-screen stats: the display after the last frame (its own
    // disposal NOT applied — nothing follows it)
    var nPainted = -1L
    var sumFIdx = -1L
    var sumFRowV = -1L
    var sumFR = -1L
    var sumFG = -1L
    var sumFB = -1L
    if (composite) {
      nPainted = 0; sumFIdx = 0; sumFRowV = 0; sumFR = 0; sumFG = 0
      sumFB = 0
      var cell = 0
      while (cell < sw * sh) {
        val v = screenIdx(cell)
        if (v >= 0) {
          nPainted += 1
          sumFIdx += v
          sumFRowV += (cell / sw).toLong * v
          val rgb = screenRgb(cell)
          sumFR += (rgb >> 16) & 0xff
          sumFG += (rgb >> 8) & 0xff
          sumFB += rgb & 0xff
        }
        cell += 1
      }
    }

    Decoded(valid = true, sw, sh, totalEmitted, sumIdx, sumR, sumG, sumB,
      sumIdx * 1000 / totalEmitted, nFrames, sumDelay, sumRowV, sumColV,
      nPainted, sumFIdx, sumFRowV, sumFR, sumFG, sumFB)
  }
}

/** `graft_gif_encode(bytes, width[, palBits, interlaced, frameHeight])`:
  * payload indices → GIF89a stream (null when no full row/frame fits).
  * See [[GifCodec.encodeGif]].
  */
case class GifEncode(child: Expression, width: Int, palBits: Int = 8,
    interlaced: Boolean = false, frameHeight: Int = 0,
    localPalettes: Boolean = false, partialFrames: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1 && width <= 65535, "width must fit the u16 field")
  require(palBits >= 1 && palBits <= 8, "palBits must be in 1..8")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_gif_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    GifCodec.encodeGif(input.asInstanceOf[Array[Byte]], width, palBits,
      interlaced, frameHeight, localPalettes, partialFrames)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_gif_decode(bytes)`: strict GIF parse + LZW decode → per-asset
  * stats struct (indices, palette-resolved channel sums, the
  * order-sensitive row-weighted sum, frame count, GCE delay total).
  * Invalid, truncated, or forged streams report `is_valid = false`.
  */
case class GifDecode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_idx", LongType, nullable = true),
    StructField("sum_r", LongType, nullable = true),
    StructField("sum_g", LongType, nullable = true),
    StructField("sum_b", LongType, nullable = true),
    StructField("mean_idx_milli", LongType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("sum_delay", LongType, nullable = true),
    StructField("sum_rowv", LongType, nullable = true),
    StructField("sum_colv", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_gif_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = GifCodec.decodeGif(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.width, d.height, d.nPixels, d.sumIdx, d.sumR,
        d.sumG, d.sumB, d.meanIdxMilli, d.nFrames, d.sumDelay, d.sumRowV,
        d.sumColV)
    else InternalRow(false, null, null, null, null, null, null, null, null,
      null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_gif_composite(bytes)`: full decode + DISPOSAL-AWARE screen
  * compositing — the frame stack rendered the way a viewer renders it:
  * last write wins per cell, disposal 2 restores its rect to
  * background, disposal 3 restores the pre-draw content, transparent
  * pixels leave the underlying cell, and each cell keeps the palette of
  * the frame that painted it. Reports the FINAL screen's stats next to
  * the frame count. Needs a real screen buffer, so its geometry bound
  * is [[GifCodec.MaxCompositePixels]] (tighter than the streaming
  * decoder's).
  */
case class GifComposite(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("n_frames", LongType, nullable = true),
    StructField("n_painted", LongType, nullable = true),
    StructField("sum_fidx", LongType, nullable = true),
    StructField("sum_frowv", LongType, nullable = true),
    StructField("sum_fr", LongType, nullable = true),
    StructField("sum_fg", LongType, nullable = true),
    StructField("sum_fb", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_gif_composite expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = GifCodec.decodeGif(input.asInstanceOf[Array[Byte]],
      composite = true)
    if (d.valid)
      InternalRow(true, d.nFrames, d.nPainted, d.sumFIdx, d.sumFRowV,
        d.sumFR, d.sumFG, d.sumFB)
    else InternalRow(false, null, null, null, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GifNativeFunctions {

  def gifEncode(bytes: Column, width: Int, palBits: Int = 8,
      interlaced: Boolean = false, frameHeight: Int = 0,
      localPalettes: Boolean = false, partialFrames: Boolean = false): Column =
    ColumnBridge.column(GifEncode(ColumnBridge.expression(bytes), width, palBits, interlaced,
      frameHeight, localPalettes, partialFrames))

  def gifDecode(bytes: Column): Column =
    ColumnBridge.column(GifDecode(ColumnBridge.expression(bytes)))

  def gifComposite(bytes: Column): Column =
    ColumnBridge.column(GifComposite(ColumnBridge.expression(bytes)))
}
