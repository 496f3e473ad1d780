package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** MJPEG-in-AVI container codec (E240/E243) — the first VIDEO CONTAINER
  * the engine demuxes with real per-frame entropy decoding, in two
  * shapes: video-only (one 'vids'/'MJPG' stream) and the real-world
  * audio+video interleave (a second 'auds' PCM16 stream, '00dc'/'01wb'
  * chunks alternating per frame). Motion JPEG is the honest step past
  * Y4M on the codec frontier: every frame is an independent baseline
  * JPEG, so the container walk (RIFF framing, stream headers, chunk
  * index) is new work while the per-frame decode reuses [[JpegDctCodec]]
  * verbatim — no new entropy coding, and H.264 (inter-prediction +
  * CABAC) stays the one fenced stub.
  *
  * Container shape (the public AVI RIFF layout, Microsoft's
  * `AVIMAINHEADER`/`AVISTREAMHEADER`/`BITMAPINFOHEADER`/`WAVEFORMATEX`
  * structures):
  *
  * {{{
  * RIFF <size> AVI
  *   LIST <size> hdrl
  *     avih <56>          main header (µs/frame, flags, frames, streams,
  *                        suggested buffer, width, height)
  *     LIST <size> strl   stream 0 (video)
  *       strh <56>        fccType 'vids', handler 'MJPG', scale/rate,
  *                        length = frame count
  *       strf <40>        BITMAPINFOHEADER, biCompression 'MJPG'
  *     LIST <size> strl   stream 1 (audio; A+V shape only)
  *       strh <56>        fccType 'auds', sampleSize 2, rate 8000,
  *                        length = total samples
  *       strf <16>        WAVEFORMATEX: PCM, mono, 16-bit
  *   LIST <size> movi
  *     00dc <size> <jpeg> one chunk per video frame, padded to even
  *     01wb <size> <pcm>  (A+V shape) that frame's audio samples
  *   idx1 <16·chunks>     per chunk: ckid, AVIIF_KEYFRAME,
  *                        offset (from the 'movi' fourcc), size
  * }}}
  *
  * STRICTNESS (the house codec stance — visible findings, never a
  * misdecode): the decoder verifies every size field against the bytes
  * actually present, requires the declared streams to match the shape
  * exactly ('vids'/'MJPG' with `strf` dimensions matching `avih`; the
  * audio stream mono 16-bit PCM with consistent rate/size/length),
  * requires the movi chunk counts to equal the declared frame counts,
  * decodes every video frame with the full [[JpegDctCodec]] path and
  * requires each valid, grayscale, and of the declared dimensions, and
  * replays the idx1 index entry-by-entry against the real chunk offsets
  * and sizes. A truncated container, an index that disagrees with the
  * chunks it indexes, a frame of the wrong shape, or trailing bytes all
  * report `is_valid = false` with null stats. The one spec-legal
  * tolerance (the PNG zero-length-IDAT precedent): 'JUNK' padding
  * chunks — which real muxers emit for alignment — are skipped wherever
  * the spec allows them (top level, inside hdrl, between movi chunks);
  * they are never indexed by idx1, so the index replay is unaffected.
  *
  * THE ORACLE CARRIES OVER: frames are laid out payload-sequentially
  * (each `frameBytes` slice is one frame), and the q272 coefficient
  * replay is per-8x8-block arithmetic on payload bytes — per-frame
  * Huffman framing and per-frame DC prediction are bijective wrappers
  * that cancel under decode∘encode. So corpus stats over an AVI of N
  * frames equal the q272 oracle over the first N·frameBytes payload
  * bytes: the DuckDB replay only changes its block-count expression.
  * The A+V fixture reuses each frame's 128 payload bytes as that
  * frame's 64 PCM16LE samples, so the audio sums read directly off the
  * same truncated payload.
  *
  * Scale: one native-expression pass per asset, O(64) block state plus
  * per-container running sums — the [[JpegDctExpressions]] shape; cost
  * is linear in container byte mass.
  */
object AviCodec {

  private val Fcc = Map(
    "RIFF" -> 0x52494646, "AVI " -> 0x41564920, "LIST" -> 0x4c495354,
    "hdrl" -> 0x6864726c, "avih" -> 0x61766968, "strl" -> 0x7374726c,
    "strh" -> 0x73747268, "strf" -> 0x73747266, "movi" -> 0x6d6f7669,
    "00dc" -> 0x30306463, "01wb" -> 0x30317762, "idx1" -> 0x69647831,
    "vids" -> 0x76696473, "auds" -> 0x61756473, "MJPG" -> 0x4d4a5047,
    "JUNK" -> 0x4a554e4b)

  /** AVIF_HASINDEX | AVIIF_KEYFRAME share the 0x10 bit value in their
    * respective flag words (a public-spec coincidence, kept explicit).
    */
  private val FlagHasIndex = 0x10
  private val FlagKeyFrame = 0x10

  /** Fixture audio clock: nominal PCM sample rate of the A+V shape. */
  val AudioRate = 8000

  // ------------------------------------------------------------------
  // Encoders
  // ------------------------------------------------------------------

  private final class Writer(sizeHint: Int) {
    val out = new java.io.ByteArrayOutputStream(sizeHint)
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def fcc(s: String): Unit = s.foreach(c => out.write(c.toInt))
    def chunk(id: String, payload: Array[Byte]): Unit = {
      fcc(id); u32(payload.length); out.write(payload)
      if ((payload.length & 1) == 1) out.write(0)
    }
  }

  private def videoStrl(w: Writer, width: Int, height: Int, nFrames: Int,
      maxFrame: Int): Unit = {
    w.fcc("LIST"); w.u32(4 + (8 + 56) + (8 + 40)); w.fcc("strl")
    w.fcc("strh"); w.u32(56)
    w.fcc("vids"); w.fcc("MJPG")
    w.u32(0)                  // dwFlags
    w.u16(0); w.u16(0)        // wPriority, wLanguage
    w.u32(0)                  // dwInitialFrames
    w.u32(1); w.u32(30)       // dwScale / dwRate = 30 fps
    w.u32(0)                  // dwStart
    w.u32(nFrames)            // dwLength (frames)
    w.u32(maxFrame)           // dwSuggestedBufferSize
    w.u32(0)                  // dwQuality
    w.u32(0)                  // dwSampleSize (0 = variable, one frame/chunk)
    w.u16(0); w.u16(0); w.u16(width); w.u16(height) // rcFrame
    w.fcc("strf"); w.u32(40)
    w.u32(40)                 // biSize
    w.u32(width); w.u32(height)
    w.u16(1); w.u16(24)       // biPlanes / biBitCount
    w.fcc("MJPG")             // biCompression
    w.u32(width * height)     // biSizeImage (decoded frame bytes)
    w.u32(0); w.u32(0); w.u32(0); w.u32(0) // ppm + palette fields
  }

  private def audioStrl(w: Writer, nSamples: Long, chunkBytes: Int): Unit = {
    w.fcc("LIST"); w.u32(4 + (8 + 56) + (8 + 16)); w.fcc("strl")
    w.fcc("strh"); w.u32(56)
    w.fcc("auds"); w.u32(0)   // fccHandler: 0 for raw PCM
    w.u32(0)                  // dwFlags
    w.u16(0); w.u16(0)
    w.u32(0)                  // dwInitialFrames
    w.u32(1); w.u32(AudioRate) // dwScale / dwRate: samples per second
    w.u32(0)                  // dwStart
    w.u32(nSamples)           // dwLength (samples)
    w.u32(chunkBytes)         // dwSuggestedBufferSize
    w.u32(0)                  // dwQuality
    w.u32(2)                  // dwSampleSize (bytes per PCM16 mono sample)
    w.u16(0); w.u16(0); w.u16(0); w.u16(0) // rcFrame (unused for audio)
    w.fcc("strf"); w.u32(16)  // WAVEFORMATEX without cbSize
    w.u16(1)                  // wFormatTag = PCM
    w.u16(1)                  // nChannels = mono
    w.u32(AudioRate)          // nSamplesPerSec
    w.u32(AudioRate * 2L)     // nAvgBytesPerSec
    w.u16(2)                  // nBlockAlign
    w.u16(16)                 // wBitsPerSample
  }

  /** Encode the payload as an MJPEG AVI: each consecutive `frameBytes`
    * slice becomes one grayscale baseline JPEG frame of the given sample
    * width (height = frameBytes / width; `frameBytes` must be a multiple
    * of `8·width` so frames hold whole block rows — the q272 fixture
    * rule per frame). Returns null when no full frame fits.
    */
  def encodeMjpegAvi(payload: Array[Byte], width: Int, frameBytes: Int): Array[Byte] =
    encodeAvi(payload, width, frameBytes, withAudio = false)

  /** The A+V shape: [[encodeMjpegAvi]] plus a second PCM16 audio stream
    * whose per-frame '01wb' chunk carries the SAME `frameBytes` payload
    * slice as that frame's video (64 samples per 128-byte frame) — so
    * the oracle reads audio sums straight off the truncated payload.
    */
  def encodeAviAv(payload: Array[Byte], width: Int, frameBytes: Int): Array[Byte] =
    encodeAvi(payload, width, frameBytes, withAudio = true)

  private def encodeAvi(payload: Array[Byte], width: Int, frameBytes: Int,
      withAudio: Boolean): Array[Byte] = {
    require(width >= 8 && width % 8 == 0 && width <= 65528,
      "width must be a positive multiple of 8 fitting the u16 SOF field")
    require(frameBytes >= 8 * width && frameBytes % (8 * width) == 0,
      "frameBytes must hold whole block rows")
    require(!withAudio || frameBytes % 2 == 0,
      "audio frames must hold whole 16-bit samples")
    val height = frameBytes / width
    if (height > 65535) return null
    val nFrames = payload.length / frameBytes
    if (nFrames < 1) return null

    val frames = new Array[Array[Byte]](nFrames)
    var f = 0
    while (f < nFrames) {
      val slice = java.util.Arrays.copyOfRange(
        payload, f * frameBytes, (f + 1) * frameBytes)
      val enc = JpegDctCodec.encode(slice, width)
      if (enc == null) return null // unreachable given the require above
      frames(f) = enc
      f += 1
    }
    val maxFrame = frames.map(_.length).max
    val nStreams = if (withAudio) 2 else 1
    val nChunks = nStreams * nFrames

    val hdrlData = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40)) +
      (if (withAudio) 8 + 4 + (8 + 56) + (8 + 16) else 0)
    val moviData = 4 +
      frames.map(fr => 8 + fr.length + (fr.length & 1)).sum +
      (if (withAudio) nFrames * (8 + frameBytes + (frameBytes & 1)) else 0)
    val idxData = 16 * nChunks
    val riffSize = 4 + (8 + hdrlData) + (8 + moviData) + (8 + idxData)

    val w = new Writer(riffSize + 8)
    w.fcc("RIFF"); w.u32(riffSize); w.fcc("AVI ")
    w.fcc("LIST"); w.u32(hdrlData); w.fcc("hdrl")
    w.fcc("avih"); w.u32(56)
    w.u32(33333)              // dwMicroSecPerFrame (~30 fps)
    w.u32(0)                  // dwMaxBytesPerSec
    w.u32(0)                  // dwPaddingGranularity
    w.u32(FlagHasIndex)       // dwFlags
    w.u32(nFrames)            // dwTotalFrames
    w.u32(0)                  // dwInitialFrames
    w.u32(nStreams)           // dwStreams
    w.u32(math.max(maxFrame, if (withAudio) frameBytes else 0))
    w.u32(width); w.u32(height)
    w.u32(0); w.u32(0); w.u32(0); w.u32(0) // dwReserved
    videoStrl(w, width, height, nFrames, maxFrame)
    if (withAudio)
      audioStrl(w, nFrames.toLong * (frameBytes / 2), frameBytes)
    w.fcc("LIST"); w.u32(moviData); w.fcc("movi")
    val ids = new Array[Int](nChunks)
    val offsets = new Array[Int](nChunks)
    val sizes = new Array[Int](nChunks)
    var moviPos = 4 // offset of the next chunk from the 'movi' fourcc
    var c = 0
    f = 0
    while (f < nFrames) {
      ids(c) = Fcc("00dc"); offsets(c) = moviPos; sizes(c) = frames(f).length
      w.chunk("00dc", frames(f))
      moviPos += 8 + frames(f).length + (frames(f).length & 1)
      c += 1
      if (withAudio) {
        val pcm = java.util.Arrays.copyOfRange(
          payload, f * frameBytes, (f + 1) * frameBytes)
        ids(c) = Fcc("01wb"); offsets(c) = moviPos; sizes(c) = frameBytes
        w.chunk("01wb", pcm)
        moviPos += 8 + frameBytes + (frameBytes & 1)
        c += 1
      }
      f += 1
    }
    w.fcc("idx1"); w.u32(idxData)
    c = 0
    while (c < nChunks) {
      w.u32(((ids(c) >>> 24) & 0xff) | ((ids(c) >>> 8) & 0xff00) |
        ((ids(c) << 8) & 0xff0000) | ((ids(c) & 0xff).toLong << 24))
      w.u32(FlagKeyFrame); w.u32(offsets(c)); w.u32(sizes(c))
      c += 1
    }
    w.out.toByteArray
  }

  // ------------------------------------------------------------------
  // Decoder
  // ------------------------------------------------------------------

  /** Per-container decode result; -1 stats when invalid (and for the
    * audio fields of a video-only container).
    */
  final case class Decoded(valid: Boolean, nFrames: Long, width: Long,
      frameHeight: Long, nPixels: Long, sumV: Long, meanVMilli: Long,
      nBlocks: Long, nSamples: Long = -1, sumS: Long = 0)

  private val Invalid =
    Decoded(valid = false, -1, -1, -1, -1, -1, -1, -1, -1, 0)

  /** Video-only decode: exactly one 'vids'/'MJPG' stream. */
  def decodeMjpegAvi(bytes: Array[Byte]): Decoded =
    decodeAvi(bytes, withAudio = false)

  /** A+V decode: a 'vids'/'MJPG' stream plus a mono PCM16 'auds' stream
    * with per-frame interleaved chunks.
    */
  def decodeAviAv(bytes: Array[Byte]): Decoded =
    decodeAvi(bytes, withAudio = true)

  private def decodeAvi(bytes: Array[Byte], withAudio: Boolean): Decoded = {
    val n = bytes.length
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def fccAt(o: Int): Int =
      ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
        ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
    // skip spec-legal JUNK padding chunks (never indexed by idx1); a
    // truncated JUNK chunk is still a visible finding (returns -1)
    def skipJunk(at: Int, limit: Long): Int = {
      var p = at
      while (p + 8 <= limit && fccAt(p) == Fcc("JUNK")) {
        val sz = u32(p + 4)
        val padded = sz + (sz & 1L)
        if (p + 8 + padded > limit) return -1
        p += 8 + padded.toInt
      }
      p
    }

    if (n < 12 || fccAt(0) != Fcc("RIFF")) return Invalid
    if (u32(4) != n - 8L) return Invalid // RIFF size must cover the file
    if (fccAt(8) != Fcc("AVI ")) return Invalid

    // ---- LIST hdrl ----
    var p = skipJunk(12, n)
    if (p < 0 || p + 12 > n || fccAt(p) != Fcc("LIST")) return Invalid
    val hdrlSize = u32(p + 4)
    if (hdrlSize < 4 || p + 8 + hdrlSize > n) return Invalid
    val hdrlEnd = p + 8 + hdrlSize.toInt
    if (fccAt(p + 8) != Fcc("hdrl")) return Invalid
    p += 12

    // avih: fixed 56-byte main header
    p = skipJunk(p, hdrlEnd)
    if (p < 0 || p + 8 + 56 > hdrlEnd || fccAt(p) != Fcc("avih") ||
      u32(p + 4) != 56) return Invalid
    val flags = u32(p + 8 + 12)
    val totalFrames = u32(p + 8 + 16)
    val nStreams = u32(p + 8 + 24)
    val width = u32(p + 8 + 32)
    val height = u32(p + 8 + 36)
    if ((flags & FlagHasIndex) == 0) return Invalid // we always index
    if (nStreams != (if (withAudio) 2 else 1)) return Invalid
    if (totalFrames < 1 || width < 1 || height < 1) return Invalid
    p += 8 + 56

    // stream list 0: video — strh + strf
    p = skipJunk(p, hdrlEnd)
    if (p < 0 || p + 12 > hdrlEnd || fccAt(p) != Fcc("LIST")) return Invalid
    val strlSize = u32(p + 4)
    val strlEnd = p + 8 + strlSize
    if (strlEnd > hdrlEnd) return Invalid
    if (fccAt(p + 8) != Fcc("strl")) return Invalid
    p += 12
    if (p + 8 + 56 > hdrlEnd || fccAt(p) != Fcc("strh") || u32(p + 4) != 56)
      return Invalid
    if (fccAt(p + 8) != Fcc("vids")) return Invalid
    if (fccAt(p + 8 + 4) != Fcc("MJPG")) return Invalid
    val strhLength = u32(p + 8 + 32)
    if (strhLength != totalFrames) return Invalid // both counts must agree
    p += 8 + 56
    if (p + 8 + 40 > hdrlEnd || fccAt(p) != Fcc("strf") || u32(p + 4) != 40)
      return Invalid
    if (u32(p + 8) != 40) return Invalid // biSize
    if (u32(p + 8 + 4) != width || u32(p + 8 + 8) != height) return Invalid
    if (fccAt(p + 8 + 16) != Fcc("MJPG")) return Invalid // biCompression
    p += 8 + 40
    if (p != strlEnd) return Invalid // no unparsed strl bytes

    // stream list 1: audio (A+V shape) — mono PCM16 at the fixture clock
    var audioChunkBytes = -1L
    var declaredSamples = -1L
    if (withAudio) {
      p = skipJunk(p, hdrlEnd)
      if (p < 0 || p + 12 > hdrlEnd || fccAt(p) != Fcc("LIST")) return Invalid
      val aEnd = p + 8 + u32(p + 4)
      if (aEnd > hdrlEnd) return Invalid
      if (fccAt(p + 8) != Fcc("strl")) return Invalid
      p += 12
      if (p + 8 + 56 > hdrlEnd || fccAt(p) != Fcc("strh") || u32(p + 4) != 56)
        return Invalid
      if (fccAt(p + 8) != Fcc("auds")) return Invalid
      if (u32(p + 8 + 4) != 0) return Invalid // raw-PCM handler
      if (u32(p + 8 + 20) != 1 || u32(p + 8 + 24) != AudioRate)
        return Invalid // dwScale / dwRate
      declaredSamples = u32(p + 8 + 32) // dwLength
      if (u32(p + 8 + 44) != 2) return Invalid // dwSampleSize
      if (declaredSamples < 1 || declaredSamples % totalFrames != 0)
        return Invalid // whole samples per frame
      audioChunkBytes = declaredSamples / totalFrames * 2
      p += 8 + 56
      if (p + 8 + 16 > hdrlEnd || fccAt(p) != Fcc("strf") || u32(p + 4) != 16)
        return Invalid
      if (u16(p + 8) != 1 || u16(p + 8 + 2) != 1) return Invalid // PCM mono
      if (u32(p + 8 + 4) != AudioRate) return Invalid
      if (u32(p + 8 + 8) != AudioRate * 2L) return Invalid
      if (u16(p + 8 + 12) != 2 || u16(p + 8 + 14) != 16) return Invalid
      p += 8 + 16
      if (p != aEnd) return Invalid
    }
    p = skipJunk(p, hdrlEnd)
    if (p != hdrlEnd) return Invalid // no unparsed hdrl bytes

    // ---- LIST movi: decode every chunk ----
    p = skipJunk(p, n)
    if (p < 0 || p + 12 > n || fccAt(p) != Fcc("LIST")) return Invalid
    val moviSize = u32(p + 4)
    if (moviSize < 4 || p + 8 + moviSize > n) return Invalid
    val moviFcc = p + 8 // idx1 offsets are relative to this position
    val moviEnd = p + 8 + moviSize.toInt
    if (fccAt(moviFcc) != Fcc("movi")) return Invalid
    p = moviFcc + 4

    var frames = 0L
    var sumV = 0L
    var nPixels = 0L
    var nBlocks = 0L
    var nSamples = 0L
    var sumS = 0L
    // chunk (ckid, offset-from-movi-fourcc, size) replayed against idx1
    // below; bounded by the container byte count, so allocation is
    // input-bounded
    val chunkId = new java.util.ArrayList[Integer]()
    val chunkOff = new java.util.ArrayList[Long]()
    val chunkSize = new java.util.ArrayList[Long]()
    var expectAudio = false // A+V interleave: 00dc then 01wb, per frame
    while (p < moviEnd) {
      p = skipJunk(p, moviEnd)
      if (p < 0) return Invalid
      if (p == moviEnd) {} else {
        if (p + 8 > moviEnd) return Invalid
        val ck = fccAt(p)
        val sz = u32(p + 4)
        val padded = sz + (sz & 1L)
        if (sz < 1 || p + 8 + padded > moviEnd) return Invalid
        if (expectAudio) {
          if (ck != Fcc("01wb")) return Invalid
          if (sz != audioChunkBytes) return Invalid
          var o = p + 8
          val end = o + sz.toInt
          while (o < end) {
            val u = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
            sumS += (if (u >= 32768) u - 65536 else u)
            o += 2
          }
          nSamples += sz / 2
          expectAudio = false
        } else {
          if (ck != Fcc("00dc")) return Invalid
          val frame = java.util.Arrays.copyOfRange(bytes, p + 8, p + 8 + sz.toInt)
          val d = JpegDctCodec.decode(frame)
          // every frame must be a valid grayscale JPEG of the declared shape
          if (!d.valid || d.nComponents != 1) return Invalid
          if (d.width != width || d.height != height) return Invalid
          frames += 1
          sumV += d.sumV
          nPixels += d.nPixels
          nBlocks += d.nBlocks
          expectAudio = withAudio
        }
        chunkId.add(ck); chunkOff.add(p - moviFcc.toLong); chunkSize.add(sz)
        // even-length padding byte must be zero (we wrote it; strict)
        if ((sz & 1L) == 1L && bytes(p + 8 + sz.toInt) != 0) return Invalid
        p += 8 + padded.toInt
      }
    }
    if (frames != totalFrames) return Invalid
    if (expectAudio) return Invalid // last frame's audio chunk missing
    if (withAudio && nSamples != declaredSamples) return Invalid

    // ---- idx1: replay the index against the chunks just walked ----
    p = skipJunk(p, n)
    if (p < 0 || p + 8 > n || fccAt(p) != Fcc("idx1")) return Invalid
    val nChunks = chunkId.size()
    val idxSize = u32(p + 4)
    if (idxSize != 16L * nChunks || p + 8 + idxSize != n) return Invalid
    p += 8
    var c = 0
    while (c < nChunks) {
      if (fccAt(p) != chunkId.get(c).intValue) return Invalid
      if (u32(p + 4) != FlagKeyFrame) return Invalid
      if (u32(p + 8) != chunkOff.get(c)) return Invalid
      if (u32(p + 12) != chunkSize.get(c)) return Invalid
      p += 16
      c += 1
    }

    Decoded(valid = true, frames, width, height, nPixels, sumV,
      if (nPixels > 0) sumV * 1000 / nPixels else 0L, nBlocks,
      if (withAudio) nSamples else -1L, sumS)
  }
}

/** `graft_avimjpeg_encode(bytes, width, frameBytes)`: payload → MJPEG AVI
  * container of ⌊len/frameBytes⌋ grayscale baseline-JPEG frames (null
  * when no full frame fits). See [[AviCodec.encodeMjpegAvi]].
  */
case class AviMjpegEncode(child: Expression, width: Int, frameBytes: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 8 && width % 8 == 0 && width <= 65528,
    "width must be a positive multiple of 8 fitting the u16 SOF field")
  require(frameBytes >= 8 * width && frameBytes % (8 * width) == 0 &&
    frameBytes / width <= 65535, "frameBytes must hold whole block rows")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_avimjpeg_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    AviCodec.encodeMjpegAvi(input.asInstanceOf[Array[Byte]], width, frameBytes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_aviav_encode(bytes, width, frameBytes)`: the A+V shape — MJPEG
  * video plus the interleaved PCM16 audio stream carrying each frame's
  * payload slice as samples. See [[AviCodec.encodeAviAv]].
  */
case class AviAvEncode(child: Expression, width: Int, frameBytes: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 8 && width % 8 == 0 && width <= 65528,
    "width must be a positive multiple of 8 fitting the u16 SOF field")
  require(frameBytes >= 8 * width && frameBytes % (8 * width) == 0 &&
    frameBytes % 2 == 0 && frameBytes / width <= 65535,
    "frameBytes must hold whole block rows and whole 16-bit samples")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_aviav_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    AviCodec.encodeAviAv(input.asInstanceOf[Array[Byte]], width, frameBytes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_avimjpeg_decode(bytes)` / `graft_aviav_decode(bytes)`: strict
  * AVI demux + per-frame baseline-JPEG decode (+ PCM16 audio sums for
  * the A+V shape) → per-container stats struct. Any framing, index, or
  * frame-shape violation reports `is_valid = false`.
  */
case class AviDecode(child: Expression, withAudio: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("n_frames", LongType, nullable = true),
    StructField("width", LongType, nullable = true),
    StructField("frame_height", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_v", LongType, nullable = true),
    StructField("mean_v_milli", LongType, nullable = true),
    StructField("n_blocks", LongType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("sum_s", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_avi_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d =
      if (withAudio) AviCodec.decodeAviAv(input.asInstanceOf[Array[Byte]])
      else AviCodec.decodeMjpegAvi(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.nFrames, d.width, d.frameHeight, d.nPixels,
        d.sumV, d.meanVMilli, d.nBlocks,
        if (d.nSamples < 0) null else d.nSamples,
        if (d.nSamples < 0) null else d.sumS)
    else InternalRow(false, null, null, null, null, null, null, null,
      null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AviNativeFunctions {

  def aviMjpegEncode(bytes: Column, width: Int, frameBytes: Int): Column =
    ColumnBridge.column(AviMjpegEncode(ColumnBridge.expression(bytes), width, frameBytes))

  def aviAvEncode(bytes: Column, width: Int, frameBytes: Int): Column =
    ColumnBridge.column(AviAvEncode(ColumnBridge.expression(bytes), width, frameBytes))

  def aviMjpegDecode(bytes: Column): Column =
    ColumnBridge.column(AviDecode(ColumnBridge.expression(bytes), withAudio = false))

  def aviAvDecode(bytes: Column): Column =
    ColumnBridge.column(AviDecode(ColumnBridge.expression(bytes), withAudio = true))
}
