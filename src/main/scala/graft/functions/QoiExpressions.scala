package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native QOI ("Quite OK Image", qoiformat.org — public spec) codec: the
  * first COMPRESSED image format this engine decodes fully in-engine.
  * QOI compresses with run-length, a 64-slot recency index, and small
  * per-channel deltas — but NO entropy coding, so the whole decode is
  * plain byte arithmetic: the honest codec stub in [[graft.ext.Multimodal]]
  * narrows again, to entropy-coded formats only (JPEG/PNG/H.264).
  *
  * Unlike the fixed-layout BMP/PPM/WAV codecs (pure hex-column arithmetic,
  * one explode per pixel), a QOI stream is SEQUENTIAL: each chunk's
  * meaning depends on decoder state (previous pixel + the index) carried
  * from every chunk before it. That is exactly the per-row-loop shape the
  * SURVEY preference order sends to a native Catalyst `Expression`
  * (CodegenFallback eval — the loop runs as plain JVM code per row, and
  * the expression stays a scalar inside the surrounding codegen'd plan;
  * see TextExpressions for the measured HOF-vs-native gap).
  *
  * Scale: encode and decode are one pass over each asset's bytes with
  * O(1) state (a 64-entry int array) — no UDF boxing, no driver work,
  * parallel over rows. Decode is forged-header-proof: the loop is bounded
  * by the CHUNK BYTES actually present (each chunk byte yields at most 62
  * pixels), never by the header's claimed w*h, and it stops the moment
  * the claimed pixel count is reached — a 2^32-pixel header on a 100-byte
  * asset terminates in ~100 iterations with is_valid = false.
  *
  * Spec conformance (header layout, op encodings, hash, index discipline,
  * end marker) follows the public QOI specification; the op-level byte
  * vectors are pinned against hand-derived streams in QoiCodecSpec. One
  * subtlety the spec tests pin: the DECODER writes `index[hash(px)] = px`
  * after EVERY chunk (including OP_RUN) while the ENCODER writes only on
  * an index miss — the asymmetry is benign (the only decoder-side extra
  * write is the initial (0,0,0,255) after a leading run, a slot the
  * encoder can never hit because its own copy still holds the zero value,
  * and zero-valued pixels hash elsewhere), but a decoder that skips the
  * write diverges on real streams.
  */
object QoiCodec {
  final val OpRgb = 0xfe
  final val OpRgba = 0xff
  final val OpIndex = 0x00
  final val OpDiff = 0x40
  final val OpLuma = 0x80
  final val OpRun = 0xc0

  @inline def hash(r: Int, g: Int, b: Int, a: Int): Int =
    (r * 3 + g * 5 + b * 7 + a * 11) % 64

  /** Encode `h = len/(3*width)` rows of raw RGB triplets (the first
    * `3*width*h` payload bytes) as a spec-conformant channels=3 QOI
    * stream, greedy-op like the reference encoder (RUN > INDEX > DIFF >
    * LUMA > RGB). Returns null when the payload is shorter than one row.
    */
  def encode(payload: Array[Byte], width: Int): Array[Byte] = {
    val h = payload.length / (3 * width)
    if (h < 1) return null
    val npx = width * h
    val out = new java.io.ByteArrayOutputStream(14 + npx + 8)
    // header: magic, w/h big-endian u32, channels=3, colorspace=0 (sRGB)
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    be32(width); be32(h); out.write(3); out.write(0)
    val index = new Array[Int](64) // packed rgba, zero = (0,0,0,0)
    // prev pixel starts at the spec's (0, 0, 0, 255); alpha is a constant
    // 255 on both sides here, so only the RGB components carry state
    var pr = 0; var pg = 0; var pb = 0
    var run = 0
    var i = 0
    while (i < npx) {
      val r = payload(3 * i) & 0xff
      val g = payload(3 * i + 1) & 0xff
      val b = payload(3 * i + 2) & 0xff
      if (r == pr && g == pg && b == pb) {
        run += 1
        if (run == 62 || i == npx - 1) { out.write(OpRun | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(OpRun | (run - 1)); run = 0 }
        val pos = hash(r, g, b, 255)
        val packed = (r << 24) | (g << 16) | (b << 8) | 255
        if (index(pos) == packed) out.write(OpIndex | pos)
        else {
          index(pos) = packed
          // alpha always matches (constant 255): DIFF/LUMA/RGB only.
          // deltas wrap as signed bytes per spec
          val vr = ((r - pr + 128) & 0xff) - 128
          val vg = ((g - pg + 128) & 0xff) - 128
          val vb = ((b - pb + 128) & 0xff) - 128
          val vgR = vr - vg
          val vgB = vb - vg
          if (vr >= -2 && vr <= 1 && vg >= -2 && vg <= 1 && vb >= -2 && vb <= 1)
            out.write(OpDiff | ((vr + 2) << 4) | ((vg + 2) << 2) | (vb + 2))
          else if (vg >= -32 && vg <= 31 && vgR >= -8 && vgR <= 7 &&
              vgB >= -8 && vgB <= 7) {
            out.write(OpLuma | (vg + 32))
            out.write(((vgR + 8) << 4) | (vgB + 8))
          } else {
            out.write(OpRgb); out.write(r); out.write(g); out.write(b)
          }
        }
      }
      pr = r; pg = g; pb = b
      i += 1
    }
    // end marker: seven 0x00 then 0x01
    var k = 0
    while (k < 7) { out.write(0); k += 1 }
    out.write(1)
    out.toByteArray
  }

  /** Decoded per-asset report (no pixel materialization — a 100-megapixel
    * asset aggregates in O(1) memory). `null` fields when invalid.
    */
  final case class Decoded(
      valid: Boolean, width: Long, height: Long, nPixels: Long,
      sumR: Long, sumG: Long, sumB: Long, meanLumaMilli: Long,
      opsRun: Long, opsIndex: Long, opsDiff: Long, opsLuma: Long,
      opsRgb: Long, opsRgba: Long)

  private val Invalid =
    Decoded(valid = false, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1)

  def decode(bytes: Array[Byte]): Decoded = {
    val n = bytes.length
    if (n < 14 + 8) return Invalid
    if (bytes(0) != 'q' || bytes(1) != 'o' || bytes(2) != 'i' ||
        bytes(3) != 'f') return Invalid
    def be32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    val w = be32(4); val h = be32(8)
    val channels = bytes(12) & 0xff; val colorspace = bytes(13) & 0xff
    if (w < 1 || h < 1 || (channels != 3 && channels != 4) ||
        colorspace > 1) return Invalid
    val npx = w * h
    val index = new Array[Int](64)
    var r = 0; var g = 0; var b = 0; var a = 255
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var lum = 0L
    var opsRun = 0L; var opsIndex = 0L; var opsDiff = 0L
    var opsLuma = 0L; var opsRgb = 0L; var opsRgba = 0L
    var px = 0L
    var p = 14
    val chunksEnd = n - 8 // last 8 bytes are the end marker
    while (px < npx && p < chunksEnd) {
      val b1 = bytes(p) & 0xff
      p += 1
      var emit = 1L
      if (b1 == OpRgb) {
        if (p + 3 > chunksEnd) return Invalid
        r = bytes(p) & 0xff; g = bytes(p + 1) & 0xff; b = bytes(p + 2) & 0xff
        p += 3; opsRgb += 1
      } else if (b1 == OpRgba) {
        if (p + 4 > chunksEnd) return Invalid
        r = bytes(p) & 0xff; g = bytes(p + 1) & 0xff; b = bytes(p + 2) & 0xff
        a = bytes(p + 3) & 0xff
        p += 4; opsRgba += 1
      } else if ((b1 & 0xc0) == OpIndex) {
        val v = index(b1 & 0x3f)
        r = (v >>> 24) & 0xff; g = (v >>> 16) & 0xff
        b = (v >>> 8) & 0xff; a = v & 0xff
        opsIndex += 1
      } else if ((b1 & 0xc0) == OpDiff) {
        r = (r + ((b1 >> 4) & 3) - 2) & 0xff
        g = (g + ((b1 >> 2) & 3) - 2) & 0xff
        b = (b + (b1 & 3) - 2) & 0xff
        opsDiff += 1
      } else if ((b1 & 0xc0) == OpLuma) {
        if (p + 1 > chunksEnd) return Invalid
        val b2 = bytes(p) & 0xff
        p += 1
        val vg = (b1 & 0x3f) - 32
        r = (r + vg - 8 + ((b2 >> 4) & 0xf)) & 0xff
        g = (g + vg) & 0xff
        b = (b + vg - 8 + (b2 & 0xf)) & 0xff
        opsLuma += 1
      } else { // OpRun
        emit = (b1 & 0x3f) + 1L
        opsRun += 1
      }
      // decoder-side index write after EVERY chunk (see object scaladoc)
      index(hash(r, g, b, a)) = (r << 24) | (g << 16) | (b << 8) | a
      if (px + emit > npx) return Invalid // run overshoots the pixel count
      sumR += r * emit; sumG += g * emit; sumB += b * emit
      lum += (299L * r + 587L * g + 114L * b) * emit
      px += emit
    }
    if (px != npx) return Invalid // stream ran dry before w*h pixels
    // canonical end: chunks stop exactly at the marker, marker correct
    if (p != chunksEnd) return Invalid
    var k = 0
    while (k < 7) { if (bytes(chunksEnd + k) != 0) return Invalid; k += 1 }
    if (bytes(n - 1) != 1) return Invalid
    Decoded(valid = true, w, h, npx, sumR, sumG, sumB, lum / npx,
      opsRun, opsIndex, opsDiff, opsLuma, opsRgb, opsRgba)
  }
}

/** `graft_qoi_encode(bytes, width)`: payload RGB triplets → QOI stream
  * (null when shorter than one pixel row). Width is a literal.
  */
case class QoiEncode(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1, "width must be positive")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_qoi_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    QoiCodec.encode(input.asInstanceOf[Array[Byte]], width)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_qoi_decode(bytes)`: full sequential QOI decode → per-asset
  * stats struct. Invalid/corrupt/forged streams report
  * `is_valid = false` with null stats — a visible finding, never a
  * dropped row or a blown-up plan.
  */
case class QoiDecode(child: Expression)
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
    StructField("ops_run", LongType, nullable = true),
    StructField("ops_index", LongType, nullable = true),
    StructField("ops_diff", LongType, nullable = true),
    StructField("ops_luma", LongType, nullable = true),
    StructField("ops_rgb", LongType, nullable = true),
    StructField("ops_rgba", LongType, nullable = true)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_qoi_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d = QoiCodec.decode(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.width, d.height, d.nPixels, d.sumR, d.sumG,
        d.sumB, d.meanLumaMilli, d.opsRun, d.opsIndex, d.opsDiff,
        d.opsLuma, d.opsRgb, d.opsRgba)
    else
      InternalRow(false, null, null, null, null, null, null, null,
        null, null, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QoiNativeFunctions {

  def qoiEncode(bytes: Column, width: Int): Column =
    ColumnBridge.column(QoiEncode(ColumnBridge.expression(bytes), width))

  def qoiDecode(bytes: Column): Column =
    ColumnBridge.column(QoiDecode(ColumnBridge.expression(bytes)))
}
