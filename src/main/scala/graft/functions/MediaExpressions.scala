package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native per-asset media walks — the QoiDecode pattern applied to the two
  * decode stages that used to run as per-pixel explodes: the BMP dHash grid
  * walk and the Y4M frame/plane walk.
  *
  * Why native and not a pixel explode: the exploded versions fused decode +
  * 18-column pivot + bit packing (dHash) and a 3-level frame/row/column walk
  * (Y4M) into single codegen units that outgrew Janino's 64 KB method limit,
  * so Spark fell back to INTERPRETED evaluation of the hottest per-pixel
  * loops in the engine (observed: 6 "Code grows beyond 64 KB" fallbacks per
  * full test run). A per-asset scalar with a plain JVM loop inside keeps the
  * SURROUNDING stage codegen'd (the scalar itself is CodegenFallback — one
  * call per ROW; the loop inside is compiled JVM code, which is the fast
  * side of the measured HOF-vs-native gap in NOTES), and it deletes the
  * per-pixel explode and the 72-cells-per-asset shuffle entirely: at 100 TB
  * the pixel walk happens inside the scan stage in O(1) state, and only the
  * 3-long hash row (dHash) or the n_frames struct array (Y4M — strictly
  * smaller than the asset's own bytes) ever leaves it.
  *
  * Both walks trust their header-derived arguments only after re-checking
  * them against the real byte length — the DataFrame side passes fields
  * from validated header parses ([[graft.ext.Multimodal]]'s bmpHeader /
  * y4mHeader), and the expressions still bound every read defensively, so
  * a forged header degrades to a null result, never an exception or an
  * unbounded loop.
  */
object MediaWalks {

  /** dHash over a validated 24-bpp BMP pixel array: box-filter to the 9x8
    * luma grid (cell = (x·9 div w, imageRow·8 div hgt) over IMAGE
    * coordinates — bottom-up storage, hraw < 2^31, stores image row 0
    * LAST), then per grid row one bit per adjacent-cell mean comparison
    * via integer cross-multiplication (Σ₁·n₂ > Σ₂·n₁ — exact, no
    * division), packed into two 32-bit halves so neither engine ever
    * touches the BIGINT sign bit. Returns null when the claimed geometry
    * doesn't fit the real bytes (defensive re-check of the header parse).
    */
  def bmpDHash(bytes: Array[Byte], w: Long, hgt: Long, hraw: Long,
      stride: Long, poff: Long): Array[Long] = {
    // bounds via DIVISION, never `poff + hgt*stride > len`: u32 header
    // fields can overflow the product and wrap past a naive check
    if (w < 9 || hgt < 8 || stride < 3 * w || poff < 0 ||
        poff > bytes.length || hgt > (bytes.length - poff) / stride)
      return null
    val topDown = hraw >= 2147483648L
    val s = new Array[Long](72)
    val c = new Array[Long](72)
    var y = 0L
    while (y < hgt) {
      val imageRow = if (topDown) y else hgt - 1 - y
      val cy = ((imageRow * 8) / hgt).toInt
      val rowOff = poff + y * stride
      var x = 0L
      while (x < w) {
        val cx = ((x * 9) / w).toInt
        val off = (rowOff + x * 3).toInt
        val bl = bytes(off) & 0xff
        val gr = bytes(off + 1) & 0xff
        val rd = bytes(off + 2) & 0xff
        val cell = cy * 9 + cx
        s(cell) += 299L * rd + 587L * gr + 114L * bl
        c(cell) += 1L
        x += 1
      }
      y += 1
    }
    var lo = 0L
    var hi = 0L
    var cy = 0
    while (cy < 8) {
      var i = 0
      while (i < 8) {
        val a = cy * 9 + i
        if (prodGreater(s(a + 1), c(a), s(a), c(a + 1))) {
          val bit = 1L << ((cy % 4) * 8 + i)
          if (cy < 4) lo |= bit else hi |= bit
        }
        i += 1
      }
      cy += 1
    }
    Array(lo, hi)
  }

  /** 128-bit multi-orientation dHash over a validated 24-bpp BMP pixel
    * array — the wide fingerprint that removes the 64-bit scheme's
    * band-space ceiling (8x8-bit bands have only 256 keys each, so at
    * corpus scale every bucket saturates and near-dup candidate mass grows
    * ~k²; 8x16-bit bands have 65,536 keys, so bucket cardinality grows
    * WITH the corpus — the q22 join-key-cardinality lesson applied to
    * perceptual hashing). Words:
    *
    *  - d0/d1: the row-gradient dHash (9x8 luma grid, one bit per
    *    horizontally adjacent cell-mean comparison) — bit-identical to
    *    [[bmpDHash]]'s two halves.
    *  - d2/d3: the column-gradient dHash (8x9 luma grid, one bit per
    *    VERTICALLY adjacent cell-mean comparison within each column,
    *    bit (cx mod 4)·8 + pair, columns 0-3 → d2, 4-7 → d3).
    *
    * Both grids index IMAGE rows (bottom-up/top-down storage hashes
    * identically) and compare via the same exact cross-multiplication.
    * One O(1)-state pixel pass computes both. Requires w ≥ 9 AND hgt ≥ 9
    * (the row grid needs 9 columns, the column grid 9 rows); returns null
    * below grid resolution or when the claimed geometry overruns the real
    * bytes.
    */
  def bmpDHash128(bytes: Array[Byte], w: Long, hgt: Long, hraw: Long,
      stride: Long, poff: Long): Array[Long] = {
    if (w < 9 || hgt < 9 || stride < 3 * w || poff < 0 ||
        poff > bytes.length || hgt > (bytes.length - poff) / stride)
      return null
    val topDown = hraw >= 2147483648L
    // row grid: 8 rows x 9 cols; column grid: 9 rows x 8 cols
    val rs = new Array[Long](72); val rc = new Array[Long](72)
    val cs = new Array[Long](72); val cc = new Array[Long](72)
    var y = 0L
    while (y < hgt) {
      val imageRow = if (topDown) y else hgt - 1 - y
      val cy = ((imageRow * 8) / hgt).toInt  // row-grid row
      val gy = ((imageRow * 9) / hgt).toInt  // column-grid row
      val rowOff = poff + y * stride
      var x = 0L
      while (x < w) {
        val cx = ((x * 9) / w).toInt  // row-grid column
        val gx = ((x * 8) / w).toInt  // column-grid column
        val off = (rowOff + x * 3).toInt
        val bl = bytes(off) & 0xff
        val gr = bytes(off + 1) & 0xff
        val rd = bytes(off + 2) & 0xff
        val lum = 299L * rd + 587L * gr + 114L * bl
        rs(cy * 9 + cx) += lum; rc(cy * 9 + cx) += 1L
        cs(gy * 8 + gx) += lum; cc(gy * 8 + gx) += 1L
        x += 1
      }
      y += 1
    }
    var d0 = 0L; var d1 = 0L
    var cy = 0
    while (cy < 8) {
      var i = 0
      while (i < 8) {
        val a = cy * 9 + i
        if (prodGreater(rs(a + 1), rc(a), rs(a), rc(a + 1))) {
          val bit = 1L << ((cy % 4) * 8 + i)
          if (cy < 4) d0 |= bit else d1 |= bit
        }
        i += 1
      }
      cy += 1
    }
    var d2 = 0L; var d3 = 0L
    var gx = 0
    while (gx < 8) {
      var i = 0
      while (i < 8) {
        val a = i * 8 + gx       // cell (row i, column gx)
        val b = (i + 1) * 8 + gx // the cell below it (image row order)
        if (prodGreater(cs(b), cc(a), cs(a), cc(b))) {
          val bit = 1L << ((gx % 4) * 8 + i)
          if (gx < 4) d2 |= bit else d3 |= bit
        }
        i += 1
      }
      gx += 1
    }
    Array(d0, d1, d2, d3)
  }

  /** a·b > c·d for nonnegative longs, exact at full 128-bit width — a
    * plain long multiply wraps once cell sums pass ~2^63/count (a valid
    * ~430-megapixel BMP gets there), silently flipping hash bits. Runs 64
    * times per ASSET, so the wide compare costs nothing.
    */
  @inline private[graft] def prodGreater(a: Long, b: Long, c: Long,
      d: Long): Boolean = {
    val hi1 = java.lang.Math.multiplyHigh(a, b)
    val hi2 = java.lang.Math.multiplyHigh(c, d)
    if (hi1 != hi2) hi1 > hi2
    else java.lang.Long.compareUnsigned(a * b, c * d) > 0
  }

  private val FrameMarker = "FRAME\n".getBytes("US-ASCII")
  private val Y4mMagic = "YUV4MPEG2".getBytes("US-ASCII")
  private val C420Family = Set("420", "420jpeg", "420mpeg2", "420paldv")

  /** Parsed Y4M header: (w, hgt, fsize, poff, nFrames, isValid) with -1 for
    * null-equivalent fields — see [[Y4mHeaderParse]] for the null mapping.
    */
  final case class Y4mHeader(w: Long, hgt: Long, fsize: Long, poff: Long,
      nFrames: Long, isValid: Boolean)

  /** Single-pass Y4M header parse over the first 256 bytes: magic, the
    * parameter region up to the first newline, first " W"/" H" decimal
    * runs (up to 8 digits, at least one required), the " C" colorspace
    * token (default 420 per the public spec; the 8-bit 4:2:0 family and
    * mono are whitelisted exactly — bit-depth variants like C420p10 use
    * 2 bytes/sample and must NOT validate), per-frame plane byte count,
    * and the exact-length frame-count check that bounds any downstream
    * walk by the asset's real bytes. This replaces the hex-space regex
    * parse: semantics are identical on byte-aligned (i.e. spec-legal
    * ASCII-parameter) headers, and the single JVM pass cannot be
    * duplicated by projection collapse — the regex version's extracted
    * columns got substituted into every consumer when filters pushed
    * through the parse, compiling 266 Pattern fields into one stage and
    * blowing Janino's 64 KB method limit into interpreted fallback.
    */
  def y4mHeader(bytes: Array[Byte]): Y4mHeader = {
    val n = bytes.length
    val invalid = Y4mHeader(-1, -1, -1, -1, 0, isValid = false)
    val lim = math.min(n, 256)
    var magicOk = n >= 10
    var k = 0
    while (magicOk && k < 9) {
      if (bytes(k) != Y4mMagic(k)) magicOk = false
      k += 1
    }
    if (!magicOk) return invalid
    var nl = 9
    while (nl < lim && bytes(nl) != 0x0a) nl += 1
    if (nl >= lim) return invalid // no newline in the bounded header region
    val poff = nl + 1L

    // first " X<digits>" decimal run in the params region [9, nl); runs
    // longer than 8 digits are REJECTED, not truncated to a prefix — a
    // 9-digit dimension must not parse as a different geometry (the PPM
    // parser's token() discipline)
    def dim(tag: Byte): Long = {
      var i = 9
      while (i < nl - 2) {
        if (bytes(i) == 0x20 && bytes(i + 1) == tag &&
            bytes(i + 2) >= 0x30 && bytes(i + 2) <= 0x39) {
          var v = 0L
          var j = i + 2
          while (j < nl && j < i + 10 && bytes(j) >= 0x30 && bytes(j) <= 0x39) {
            v = v * 10 + (bytes(j) - 0x30)
            j += 1
          }
          if (j == i + 10 && j < nl && bytes(j) >= 0x30 && bytes(j) <= 0x39)
            return -1L
          return v
        }
        i += 1
      }
      -1L
    }
    val w = dim('W'.toByte)
    val hgt = dim('H'.toByte)
    // " C" token up to the next space or end-of-params; absent/empty = 420
    var cs = "420"
    var i = 9
    var found = false
    while (!found && i < nl - 1) {
      if (bytes(i) == 0x20 && bytes(i + 1) == 'C'.toByte) {
        var j = i + 2
        while (j < nl && bytes(j) != 0x20) j += 1
        if (j > i + 2)
          cs = new String(bytes, i + 2, j - (i + 2), "ISO-8859-1")
        found = true
      }
      i += 1
    }
    val mono = cs == "mono"
    val c420 = C420Family.contains(cs)
    if (w < 1 || hgt < 1 || !(mono || c420))
      return Y4mHeader(w, hgt, -1, poff, 0, isValid = false)
    val fsize =
      if (mono) w * hgt
      else w * hgt + 2L * ((w + 1) / 2) * ((hgt + 1) / 2)
    // FIXED-STRIDE acceptance first (marker-agnostic, so a desynced but
    // length-consistent stream stays valid and surfaces per frame as
    // marker_ok = false — the pinned desync contract); canonical
    // "FRAME\n" files land here. Only when the exact-length check fails
    // does the VARIABLE-STRIDE scan run: spec-legal "FRAME <params>\n"
    // frames have per-frame widths no arithmetic layout can address, so
    // the scan walks marker lines sequentially and accepts iff the whole
    // tail parses as frames.
    val nFixed = (n - poff) / (6 + fsize)
    if (nFixed >= 1 && n == poff + nFixed * (6 + fsize))
      return Y4mHeader(w, hgt, fsize, poff, nFixed, isValid = true)
    val nVar = scanVariableFrames(bytes, poff, fsize)
    if (nVar >= 1) Y4mHeader(w, hgt, fsize, poff, nVar, isValid = true)
    else Y4mHeader(w, hgt, fsize, poff, 0, isValid = false)
  }

  /** Count "FRAME[ <params>]\n<plane>" frames from `poff` to exactly the
    * end of `bytes`; -1 if the tail does not parse as such frames. The
    * five marker bytes are REQUIRED per frame here (unlike the fixed
    * path, which is marker-agnostic and lets desyncs surface per frame):
    * with variable stride the markers are the only framing there is.
    */
  private def scanVariableFrames(bytes: Array[Byte], poff: Long,
      fsize: Long): Long = {
    val n = bytes.length
    var pos = poff
    var k = 0L
    while (pos < n) {
      if (pos + 6 > n) return -1
      var i = 0
      while (i < 5) {
        if (bytes((pos + i).toInt) != FrameMarker(i)) return -1
        i += 1
      }
      pos += 5
      // spec: "FRAME" is followed by the newline or by " <param>"s — a
      // marker line like "FRAMES..." or "FRAME\tX" is NOT a frame, and
      // accepting it would hide exactly the desyncs this scan must surface
      if (bytes(pos.toInt) != 0x0a && bytes(pos.toInt) != 0x20) return -1
      while (pos < n && bytes(pos.toInt) != 0x0a) pos += 1
      if (pos >= n) return -1
      pos += 1 // the newline
      if (fsize > n - pos) return -1
      pos += fsize
      k += 1
    }
    if (k >= 1) k else -1
  }

  /** Parsed PPM (P6) header: -1 for null-equivalent fields. */
  final case class PpmHeader(w: Long, hgt: Long, maxv: Long, poff: Long)

  /** Single-pass binary-PPM (P6) header parse per the public Netpbm
    * format: "P6", then three decimal tokens (width, height, maxval) each
    * preceded by a whitespace run — where `#`-to-end-of-line comments are
    * allowed, per the spec — and after maxval EXACTLY ONE whitespace byte
    * (the raster delimiter; no comment can sit there), then raw RGB
    * triplets. Bounded at the first 512 bytes: a header longer than that
    * (pathological comment walls) reports null fields — visible, never
    * misframed. Tokens longer than 8 digits are rejected, matching the
    * prior regex parse. This native pass replaces the hex-space regex
    * parse, which (a) could only accept single-whitespace comment-free
    * headers — a documented Netpbm coverage gap — and (b) belonged to the
    * same projection-collapse duplication hazard class the Y4M parse hit.
    */
  def ppmHeader(bytes: Array[Byte]): PpmHeader = {
    val invalid = PpmHeader(-1, -1, -1, -1)
    val lim = math.min(bytes.length, 512)
    if (lim < 2 || bytes(0) != 'P' || bytes(1) != '6') return invalid
    var pos = 2
    @inline def isWs(b: Byte): Boolean =
      b == 0x20 || b == 0x09 || b == 0x0a || b == 0x0d
    // whitespace run with #-comments; returns false if NO whitespace (or
    // comment) was consumed — tokens must be delimited
    def skipWs(): Boolean = {
      val start = pos
      var more = true
      while (more && pos < lim) {
        if (isWs(bytes(pos))) pos += 1
        else if (bytes(pos) == '#') {
          while (pos < lim && bytes(pos) != 0x0a && bytes(pos) != 0x0d) pos += 1
        } else more = false
      }
      pos > start
    }
    def token(): Long = {
      if (!skipWs()) return -1
      var v = 0L
      var k = 0
      while (pos < lim && k <= 8 && bytes(pos) >= 0x30 && bytes(pos) <= 0x39) {
        v = v * 10 + (bytes(pos) - 0x30)
        pos += 1
        k += 1
      }
      if (k < 1 || k > 8) -1 else v
    }
    val w = token()
    val hgt = token()
    val maxv = token()
    if (w < 0 || hgt < 0 || maxv < 0) return invalid
    // the raster delimiter: exactly one whitespace byte, then pixel data
    if (pos >= lim || !isWs(bytes(pos))) return invalid
    PpmHeader(w, hgt, maxv, pos + 1L)
  }

  /** Per-frame (marker_ok, luma sum) over a validated Y4M stream: for each
    * of the `nFrames` frames, verify its "FRAME\n" marker and sum the
    * w·hgt luma-plane bytes (chroma planes, if any, sit inside `fsize`
    * after the luma plane and are skipped by construction). Layout follows
    * the header's acceptance rule: exact fixed stride when the length
    * matches (marker-AGNOSTIC, so desyncs surface as marker_ok = false),
    * otherwise the sequential "FRAME[ <params>]\n" scan, where the marker
    * line is the framing itself (marker_ok = true by construction).
    * Returns null when the claimed layout overruns the real bytes.
    */
  def y4mFrames(bytes: Array[Byte], poff: Long, fsize: Long, w: Long,
      hgt: Long, nFrames: Long): Array[(Boolean, Long)] = {
    val lumaLen = w * hgt // ≤ 10^16 (dims are ≤ 8 decimal digits): no wrap
    val n = bytes.length
    if (w < 1 || hgt < 1 || fsize < lumaLen || nFrames < 1 || poff < 0 ||
        nFrames > Int.MaxValue || poff > n) return null
    // bounds via DIVISION (overflow-proof, as in the dHash walk)
    val span = n - poff
    val fixed = nFrames <= span / (6 + fsize) &&
      span == nFrames * (6 + fsize)
    val out = new Array[(Boolean, Long)](nFrames.toInt)
    if (fixed) {
      var f = 0
      while (f < nFrames) {
        val foff = (poff + f * (6 + fsize)).toInt
        var markerOk = true
        var k = 0
        while (k < 6) {
          if (bytes(foff + k) != FrameMarker(k)) markerOk = false
          k += 1
        }
        var sum = 0L
        var i = 0
        val base = foff + 6
        while (i < lumaLen) {
          sum += bytes(base + i) & 0xff
          i += 1
        }
        out(f) = (markerOk, sum)
        f += 1
      }
    } else {
      // variable-stride: mirror the header's sequential scan exactly
      var pos = poff
      var f = 0
      while (f < nFrames) {
        if (pos + 6 > n) return null
        var i = 0
        while (i < 5) {
          if (bytes((pos + i).toInt) != FrameMarker(i)) return null
          i += 1
        }
        pos += 5
        // spec: newline or " <param>"s after "FRAME" (see scanVariableFrames)
        if (bytes(pos.toInt) != 0x0a && bytes(pos.toInt) != 0x20) return null
        while (pos < n && bytes(pos.toInt) != 0x0a) pos += 1
        if (pos >= n) return null
        pos += 1
        if (fsize > n - pos) return null
        var sum = 0L
        var j = 0
        val base = pos.toInt
        while (j < lumaLen) {
          sum += bytes(base + j) & 0xff
          j += 1
        }
        out(f) = (true, sum)
        pos += fsize
        f += 1
      }
      if (pos != n) return null
    }
    out
  }
}

/** `graft_bmp_dhash(bytes, w, hgt, hraw, stride, poff)`: one O(1)-state
  * pass per asset over the BMP pixel array → struct(dhash_lo, dhash_hi).
  * Inputs come from Multimodal's validated bmpHeader columns; null on any
  * null input or a geometry that overruns the real bytes.
  */
case class BmpDHashWalk(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 6, "graft_bmp_dhash takes 6 arguments")

  override def dataType: DataType = StructType(Seq(
    StructField("dhash_lo", LongType, nullable = false),
    StructField("dhash_hi", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.head.dataType == BinaryType &&
        children.tail.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        "graft_bmp_dhash expects (binary, long, long, long, long, long), " +
          s"got ${children.map(_.dataType).mkString(", ")}")

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    val r = MediaWalks.bmpDHash(vs(0).asInstanceOf[Array[Byte]],
      vs(1).asInstanceOf[Long], vs(2).asInstanceOf[Long],
      vs(3).asInstanceOf[Long], vs(4).asInstanceOf[Long],
      vs(5).asInstanceOf[Long])
    if (r == null) null else InternalRow(r(0), r(1))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** `graft_bmp_dhash128(bytes, w, hgt, hraw, stride, poff)`: one
  * O(1)-state pass per asset over the BMP pixel array →
  * struct(d0, d1, d2, d3) — the 128-bit multi-orientation fingerprint
  * (row-gradient dHash words + column-gradient dHash words, 32 bits
  * each, sign-safe). Null on any null input or a geometry that overruns
  * the real bytes. See [[MediaWalks.bmpDHash128]].
  */
case class BmpDHash128Walk(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 6, "graft_bmp_dhash128 takes 6 arguments")

  override def dataType: DataType = StructType(Seq(
    StructField("d0", LongType, nullable = false),
    StructField("d1", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("d3", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.head.dataType == BinaryType &&
        children.tail.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        "graft_bmp_dhash128 expects (binary, long, long, long, long, long), " +
          s"got ${children.map(_.dataType).mkString(", ")}")

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    val r = MediaWalks.bmpDHash128(vs(0).asInstanceOf[Array[Byte]],
      vs(1).asInstanceOf[Long], vs(2).asInstanceOf[Long],
      vs(3).asInstanceOf[Long], vs(4).asInstanceOf[Long],
      vs(5).asInstanceOf[Long])
    if (r == null) null else InternalRow(r(0), r(1), r(2), r(3))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** `graft_y4m_header(bytes)`: single-pass Y4M header parse → struct(w,
  * hgt, fsize, poff, n_frames, is_valid). Fields the parse could not
  * derive are null; is_valid is never null. See [[MediaWalks.y4mHeader]].
  */
case class Y4mHeaderParse(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("w", LongType, nullable = true),
    StructField("hgt", LongType, nullable = true),
    StructField("fsize", LongType, nullable = true),
    StructField("poff", LongType, nullable = true),
    StructField("n_frames", LongType, nullable = false),
    StructField("is_valid", BooleanType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_y4m_header expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val h = MediaWalks.y4mHeader(input.asInstanceOf[Array[Byte]])
    InternalRow(
      if (h.w < 0) null else h.w,
      if (h.hgt < 0) null else h.hgt,
      if (h.fsize < 0) null else h.fsize,
      if (h.poff < 0) null else h.poff,
      h.nFrames, h.isValid)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_ppm_header(bytes)`: single-pass PPM (P6) header parse →
  * struct(w, hgt, maxv, poff), all fields null when the header does not
  * parse. Validity (maxval 255, dims fit the real bytes) is judged by the
  * DataFrame side, which owns the byte-length arithmetic.
  */
case class PpmHeaderParse(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("w", LongType, nullable = true),
    StructField("hgt", LongType, nullable = true),
    StructField("maxv", LongType, nullable = true),
    StructField("poff", LongType, nullable = true)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_ppm_header expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val h = MediaWalks.ppmHeader(input.asInstanceOf[Array[Byte]])
    if (h.poff < 0) InternalRow(null, null, null, null)
    else InternalRow(h.w, h.hgt, h.maxv, h.poff)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_y4m_frames(bytes, poff, fsize, w, hgt, n_frames)`: one pass per
  * asset over the Y4M stream → array<struct(marker_ok, sum_y)> of exactly
  * `n_frames` entries (strictly smaller than the asset's own bytes, so the
  * per-asset array respects the bounded-materialization discipline).
  * Inputs come from Multimodal's validated y4mHeader columns; null on any
  * null input or a layout that overruns the real bytes.
  */
case class Y4mFrameWalk(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 6, "graft_y4m_frames takes 6 arguments")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("marker_ok", BooleanType, nullable = false),
    StructField("sum_y", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.head.dataType == BinaryType &&
        children.tail.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        "graft_y4m_frames expects (binary, long, long, long, long, long), " +
          s"got ${children.map(_.dataType).mkString(", ")}")

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    val r = MediaWalks.y4mFrames(vs(0).asInstanceOf[Array[Byte]],
      vs(1).asInstanceOf[Long], vs(2).asInstanceOf[Long],
      vs(3).asInstanceOf[Long], vs(4).asInstanceOf[Long],
      vs(5).asInstanceOf[Long])
    if (r == null) null
    else new GenericArrayData(
      r.map { case (ok, sum) => InternalRow(ok, sum): Any })
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object MediaNativeFunctions {

  def ppmHeaderParse(bytes: Column): Column =
    ColumnBridge.column(PpmHeaderParse(ColumnBridge.expression(bytes)))

  def y4mHeaderParse(bytes: Column): Column =
    ColumnBridge.column(Y4mHeaderParse(ColumnBridge.expression(bytes)))

  def bmpDHashWalk(bytes: Column, w: Column, hgt: Column, hraw: Column,
      stride: Column, poff: Column): Column =
    ColumnBridge.column(BmpDHashWalk(
      Seq(bytes, w, hgt, hraw, stride, poff).map(ColumnBridge.expression)))

  def bmpDHash128Walk(bytes: Column, w: Column, hgt: Column, hraw: Column,
      stride: Column, poff: Column): Column =
    ColumnBridge.column(BmpDHash128Walk(
      Seq(bytes, w, hgt, hraw, stride, poff).map(ColumnBridge.expression)))

  def y4mFrameWalk(bytes: Column, poff: Column, fsize: Column, w: Column,
      hgt: Column, nFrames: Column): Column =
    ColumnBridge.column(Y4mFrameWalk(
      Seq(bytes, poff, fsize, w, hgt, nFrames).map(ColumnBridge.expression)))
}
