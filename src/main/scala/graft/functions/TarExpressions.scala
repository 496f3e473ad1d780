package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native TAR shard codec (E269) — the container training corpora are
  * actually packaged in: WebDataset-style shards are plain USTAR
  * archives (POSIX.1-1988 / pax ustar layout), optionally gzip'd whole
  * (`.tar.gz`). Wire shape:
  *
  * {{{
  * member*: 512-byte header — name[100], mode/uid/gid (octal, NUL/space
  *          terminated), size[12] (octal), mtime[12], chksum[8] (octal
  *          sum of the header with the chksum field read as spaces),
  *          typeflag ('0' = regular file), linkname[100],
  *          magic "ustar\0" + version "00", uname/gname/devmajor/
  *          devminor/prefix, zero padding
  *          data: size bytes + zero padding to the 512 boundary
  * end:     two all-zero 512-byte blocks, then exact EOF
  * }}}
  *
  * The `.tar.gz` wire is ONE gzip member over the whole archive
  * (header + raw DEFLATE + CRC32/ISIZE trailers), inflated with the
  * incremental zip-bomb bound the WARC layer established.
  *
  * ORACLE (the two-wires-one-oracle discipline): fixtures slice the
  * payload into fixed `memberBytes` members (whole members only), so
  * member counts, byte totals, and the ORDER-SENSITIVE member-weighted
  * sum all read straight off the truncated raw payload in DuckDB — and
  * the gzip wire must produce IDENTICAL stats to the plain wire.
  *
  * pax EXTENDED HEADERS (POSIX.1-2001, typeflag 'x') are parsed: strict
  * `LEN key=value\n` records (LEN counting its own digits, the record
  * chain consuming the declared size exactly) whose `path`/`size`
  * keywords OVERRIDE the next member's 100-byte name field and octal
  * size — the reason real shards carry them (names past 100 bytes,
  * sizes past 8 GiB).
  *
  * STRICTNESS: a header checksum that disagrees (the field tar gives us
  * for exactly this), a malformed octal field, a missing/wrong ustar
  * magic, a typeflag other than regular-file '0' / pax 'x' (global 'g'
  * is a named reject), nonzero data padding,
  * a truncated member, a malformed pax record chain, two pax headers in
  * a row, a pax header with no following member,
  * a missing end-of-archive marker, bytes after it,
  * or a gzip wrapper whose CRC32/ISIZE lie all report
  * `is_valid = false`.
  *
  * Scale: one native pass per shard, O(1) state beyond the current
  * header — the codec-walk shape. At 100 TB this is the demux that
  * turns a bucket of .tar shards into per-sample rows WITHOUT a
  * filesystem: shard-per-task, members streamed.
  */
object TarCodec {

  private val Block = 512

  /** Bound on a forged size field: members larger than the archive
    * cannot be honest, and 2^31 would overflow downstream Ints.
    */
  private val MaxMember = 1L << 30

  // ---- octal field helpers (NUL- or space-terminated per ustar) ----

  private def putOctal(h: Array[Byte], off: Int, width: Int, v: Long): Unit = {
    // width-1 octal digits, NUL terminator (the GNU/ustar norm)
    var i = width - 2
    var x = v
    while (i >= 0) {
      h(off + i) = ('0' + (x & 7)).toByte
      x >>= 3
      i -= 1
    }
    h(off + width - 1) = 0
  }

  private def readOctal(bytes: Array[Byte], off: Int, width: Int): Long = {
    var i = off
    val end = off + width
    // leading spaces are tolerated (historic tars pad left)
    while (i < end && bytes(i) == ' ') i += 1
    if (i == end) return -1
    var v = 0L
    var digits = 0
    while (i < end && bytes(i) != 0 && bytes(i) != ' ') {
      val c = bytes(i)
      if (c < '0' || c > '7') return -1
      v = (v << 3) | (c - '0')
      if (v > (1L << 40)) return -1
      digits += 1
      i += 1
    }
    // the rest must be NUL/space padding only
    while (i < end) {
      if (bytes(i) != 0 && bytes(i) != ' ') return -1
      i += 1
    }
    if (digits == 0) -1 else v
  }

  /** Header checksum: unsigned byte sum with the chksum field (148..155)
    * read as ASCII spaces — the spec's own integrity rule.
    */
  private def headerChecksum(bytes: Array[Byte], off: Int): Int = {
    var s = 0
    var i = 0
    while (i < Block) {
      s += (if (i >= 148 && i < 156) ' ' else bytes(off + i) & 0xff)
      i += 1
    }
    s
  }

  /** One 512-byte ustar header (checksum computed last, per the spec's
    * field-as-spaces rule).
    */
  private def mkHeader(name: String, size: Long, typeflag: Byte):
      Array[Byte] = {
    val h = new Array[Byte](Block)
    val nb = name.getBytes("US-ASCII")
    require(nb.length <= 100, "header name field is 100 bytes")
    System.arraycopy(nb, 0, h, 0, nb.length)
    putOctal(h, 100, 8, 420)          // mode 0644
    putOctal(h, 108, 8, 0)            // uid
    putOctal(h, 116, 8, 0)            // gid
    putOctal(h, 124, 12, size)
    putOctal(h, 136, 12, 0)           // mtime: deterministic
    h(156) = typeflag
    "ustar".getBytes("US-ASCII").copyToArray(h, 257) // magic + NUL at 262
    h(263) = '0'; h(264) = '0'        // version "00"
    // chksum: 6 octal digits, NUL, space (the historic layout)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    val sum = headerChecksum(h, 0)
    var k = 5
    var x = sum
    while (k >= 0) { h(148 + k) = ('0' + (x & 7)).toByte; x >>= 3; k -= 1 }
    h(154) = 0; h(155) = ' '
    h
  }

  /** One pax extended-header record `LEN key=value\n`, LEN counting its
    * own digits (the POSIX.1-2001 self-referential length).
    */
  private def paxRecord(key: String, value: String): Array[Byte] = {
    val body = s" $key=$value\n".getBytes("US-ASCII")
    var len = body.length + 1 // at least one length digit
    while (len.toString.length + body.length != len)
      len = len.toString.length + body.length
    (len.toString.getBytes("US-ASCII") ++ body)
  }

  /** The pax fixture's LONG member name (104 chars — past the 100-byte
    * header field, the reason real shards carry pax headers).
    */
  def paxName(i: Long): String = f"samples/${"d" * 87}$i%05d.txt"

  /** Encode the payload as a USTAR shard of ⌊len/memberBytes⌋ regular
    * files `doc%05d.txt` (whole members only; null when no full member
    * fits). `gz` wraps the whole archive in one gzip member — the
    * `.tar.gz` wire. `pax` precedes every member with a POSIX.1-2001
    * extended header overriding its path to [[paxName]] — a name too
    * long for the 100-byte field.
    */
  /** BGZF block payload bound — fixture-small (the spec caps it at
    * 2^16) so multi-block streams are the norm on test corpora.
    */
  val BgzfBlock = 512

  /** Wrap bytes as a BGZF stream (E286, the public SAM/htslib BGZF
    * specification) — the RANDOM-ACCESS gzip: each ≤[[BgzfBlock]] slice
    * becomes its own spec-conformant gzip member whose FEXTRA `BC`
    * subfield declares the member's TOTAL compressed size (BSIZE−1), so
    * a reader HOPS member to member without inflating anything, and a
    * (block offset, within-block offset) pair is a stable virtual seek
    * address. The stream ends with the mandatory EMPTY block — the EOF
    * marker that makes truncation a visible finding rather than a
    * silently short file.
    */
  def bgzfWrap(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 256)
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    def block(off: Int, len: Int): Unit = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(data, off, len)
      d.finish()
      val body = new java.io.ByteArrayOutputStream(len / 2 + 32)
      val buf = new Array[Byte](8192)
      while (!d.finished()) body.write(buf, 0, d.deflate(buf))
      d.end()
      val bsize = 18 + body.size() + 8 // header+extra, data, trailer
      out.write(0x1f); out.write(0x8b); out.write(8); out.write(4) // FEXTRA
      u32(0)                       // MTIME
      out.write(0); out.write(255) // XFL / OS
      u16(6)                       // XLEN
      out.write('B'); out.write('C'); u16(2); u16(bsize - 1)
      body.writeTo(out)
      val crc = new java.util.zip.CRC32
      crc.update(data, off, len)
      u32(crc.getValue)
      u32(len.toLong)
    }
    var off = 0
    while (off < data.length) {
      val len = math.min(BgzfBlock, data.length - off)
      block(off, len)
      off += len
    }
    block(0, 0) // the EOF marker
    out.toByteArray
  }

  /** Inflate a BGZF stream strictly: every member must carry exactly
    * the FEXTRA flag with a well-tiled extra area holding ONE `BC`
    * subfield whose BSIZE spans the member exactly; per-member CRC32 +
    * ISIZE verified; ISIZE capped at the spec's 2^16; the mandatory
    * empty EOF block must be LAST (a missing marker is a truncated
    * stream, a block after it is appended garbage). Null when malformed.
    */
  private def bgzfInflate(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    val out = new java.io.ByteArrayOutputStream(math.max(64, n * 2))
    var p = 0
    var sawEof = false
    while (p < n) {
      if (sawEof) return null // blocks after the EOF marker
      if (p + 18 + 8 > n) return null
      if ((bytes(p) & 0xff) != 0x1f || (bytes(p + 1) & 0xff) != 0x8b)
        return null
      if ((bytes(p + 2) & 0xff) != 8 || (bytes(p + 3) & 0xff) != 4)
        return null // deflate + FEXTRA, nothing else
      val xlen = u16(p + 10)
      if (p + 12 + xlen + 8 > n) return null
      // the extra area must TILE; exactly one BC subfield
      var q = p + 12
      val xend = p + 12 + xlen
      var bsize = -1
      while (q < xend) {
        if (q + 4 > xend) return null
        val slen = u16(q + 2)
        if (q + 4 + slen > xend) return null
        if ((bytes(q) & 0xff) == 'B' && (bytes(q + 1) & 0xff) == 'C') {
          if (bsize >= 0 || slen != 2) return null
          bsize = u16(q + 4) + 1
        }
        q += 4 + slen
      }
      if (q != xend || bsize < 0) return null
      if (p + bsize > n) return null
      val dataOff = p + 12 + xlen
      val dataLen = bsize - (12 + xlen) - 8
      if (dataLen < 0) return null
      val isize = u32(p + bsize - 4)
      if (isize > 65536) return null // the spec's own block cap
      val raw = new Array[Byte](isize.toInt)
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(bytes, dataOff, dataLen)
      try {
        var got = 0
        while (got < raw.length && !inf.finished()) {
          val k = inf.inflate(raw, got, raw.length - got)
          if (k == 0 && !inf.finished() && inf.needsInput()) return null
          got += k
        }
        if (got != raw.length) return null
        if (!inf.finished()) {
          // the stream must END here: one zero-output probe
          val probe = new Array[Byte](1)
          if (inf.inflate(probe) != 0 || !inf.finished()) return null
        }
        if (inf.getRemaining != 0) return null // data area consumed exactly
      } catch {
        case _: java.util.zip.DataFormatException => return null
      } finally inf.end()
      val crc = new java.util.zip.CRC32
      crc.update(raw)
      if (crc.getValue != u32(p + bsize - 8)) return null
      if (isize == 0) sawEof = true
      else out.write(raw)
      p += bsize
      // cumulative zip-bomb bound (the gunzipWhole discipline): honest
      // DEFLATE cannot exceed 1032:1, so neither can a chain of blocks —
      // a forged wire must not buy unbounded output with tiny members
      if (out.size() > p.toLong * 1032L + 65536L) return null
    }
    if (!sawEof) return null // truncated: the EOF marker is mandatory
    out.toByteArray
  }

  /** Chunk size for the multi-member (pigz-style, E288) gzip wire:
    * each chunk becomes its own complete gzip member, so fixture shards
    * exercise real member chains.
    */
  val MgzChunk = 1024

  def encodeTar(payload: Array[Byte], memberBytes: Int,
      gz: Boolean = false, pax: Boolean = false,
      bgzf: Boolean = false, mgz: Boolean = false,
      snap: Boolean = false, lz4: Boolean = false,
      gzHdr: Boolean = false): Array[Byte] = {
    require(memberBytes >= 1, "memberBytes must be positive")
    require(Seq(gz || gzHdr, bgzf, mgz, snap, lz4).count(identity) <= 1,
      "choose one compressed wire")
    val nm = payload.length / memberBytes
    if (nm < 1) return null
    val padded = ((memberBytes + Block - 1) / Block) * Block
    val out = new java.io.ByteArrayOutputStream(
      nm * (Block + padded) + 2 * Block)
    var i = 0
    while (i < nm) {
      if (pax) {
        val rec = paxRecord("path", paxName(i.toLong))
        out.write(mkHeader(f"PaxHeaders/doc$i%05d", rec.length.toLong, 'x'))
        out.write(rec)
        var pad = ((rec.length + Block - 1) / Block) * Block - rec.length
        while (pad > 0) { out.write(0); pad -= 1 }
      }
      out.write(mkHeader(f"doc$i%05d.txt", memberBytes.toLong, '0'))
      out.write(payload, i * memberBytes, memberBytes)
      var pad = padded - memberBytes
      while (pad > 0) { out.write(0); pad -= 1 }
      i += 1
    }
    var z = 0
    while (z < 2 * Block) { out.write(0); z += 1 }
    val tar = out.toByteArray
    if (snap) return SnappyCodec.frame(tar) // the .tar.sz wire (E295)
    if (lz4) return Lz4Codec.frame(tar)     // the .tar.lz4 wire (E296)
    if (bgzf) return bgzfWrap(tar)
    if (mgz) {
      // ---- the multi-member wire (E288): what `pigz -i` or a plain
      // `cat part1.gz part2.gz` produces — each MgzChunk slice is its
      // own complete gzip member (header, raw DEFLATE, CRC32 + ISIZE)
      val g = new java.io.ByteArrayOutputStream(tar.length / 2 + 256)
      def u32m(v: Long): Unit = {
        g.write((v & 0xff).toInt); g.write(((v >>> 8) & 0xff).toInt)
        g.write(((v >>> 16) & 0xff).toInt); g.write(((v >>> 24) & 0xff).toInt)
      }
      var off = 0
      while (off < tar.length) {
        val len = math.min(MgzChunk, tar.length - off)
        g.write(0x1f); g.write(0x8b); g.write(8); g.write(0)
        g.write(0); g.write(0); g.write(0); g.write(0) // MTIME 0
        g.write(0); g.write(255)
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(tar, off, len)
        d.finish()
        val buf = new Array[Byte](8192)
        while (!d.finished()) g.write(buf, 0, d.deflate(buf))
        d.end()
        val crc = new java.util.zip.CRC32
        crc.update(tar, off, len)
        u32m(crc.getValue)
        u32m(len.toLong)
        off += len
      }
      return g.toByteArray
    }
    if (!gz && !gzHdr) return tar

    // ---- the .tar.gz wire: ONE gzip member over the whole archive;
    // gzHdr (E299) carries the FULL RFC 1952 optional-field set the
    // real `gzip` tool emits: FEXTRA + FNAME + FCOMMENT + FHCRC ----
    val g = new java.io.ByteArrayOutputStream(tar.length / 2 + 64)
    g.write(0x1f); g.write(0x8b); g.write(8)
    g.write(if (gzHdr) 2 | 4 | 8 | 16 else 0)
    g.write(0); g.write(0); g.write(0); g.write(0) // MTIME 0
    g.write(0); g.write(if (gzHdr) 3 else 255)     // OS: unix, like gzip
    if (gzHdr) {
      g.write(6); g.write(0)                       // XLEN = 6
      g.write('G'); g.write('R'); g.write(2); g.write(0) // one subfield
      g.write(42); g.write(7)
      "shard.tar".foreach(c => g.write(c)); g.write(0)   // FNAME
      "graft".foreach(c => g.write(c)); g.write(0)       // FCOMMENT
      val hdr = g.toByteArray
      val hcrc = new java.util.zip.CRC32
      hcrc.update(hdr)
      g.write((hcrc.getValue & 0xff).toInt)              // FHCRC
      g.write(((hcrc.getValue >>> 8) & 0xff).toInt)
    }
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(tar)
    d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) g.write(buf, 0, d.deflate(buf))
    d.end()
    val crc = new java.util.zip.CRC32
    crc.update(tar)
    def u32(v: Long): Unit = {
      g.write((v & 0xff).toInt); g.write(((v >>> 8) & 0xff).toInt)
      g.write(((v >>> 16) & 0xff).toInt); g.write(((v >>> 24) & 0xff).toInt)
    }
    u32(crc.getValue)
    u32(tar.length.toLong & 0xffffffffL)
    g.toByteArray
  }

  /** One extracted member (the fan-out row). `dataOff` is the byte
    * offset of the member's DATA within the (decompressed) shard stream
    * — what a random-access loader seeks to.
    */
  final case class Member(idx: Long, name: String, size: Long, sumV: Long,
      bytes: Array[Byte], dataOff: Long = -1L)

  /** Per-shard decode result; -1 stats when invalid. `sumIv` weights
    * each member's byte sum by the member index — the order-sensitive
    * stat that pins member ORDER.
    */
  final case class Decoded(valid: Boolean, nMembers: Long,
      contentBytes: Long, sumPayload: Long, sumIv: Long)

  private val Invalid = Decoded(valid = false, -1, -1, -1, -1)

  /** Inflate a gzip stream with the incremental 1032:1 zip-bomb bound;
    * null when malformed. Per RFC 1952 §2.2 a gzip FILE is a SERIES of
    * members (`pigz -i`, `bgzip`, and a plain `cat a.gz b.gz` all emit
    * multi-member streams — E288), so the walk accepts ANY member count
    * ≥ 1 and concatenates their output; each member is still strictly
    * framed (magic, deflate method, no flag bits, its own CRC32 + ISIZE
    * trailer) and the stream must end exactly at a member boundary.
    */
  private def gunzipWhole(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length
    def u32at(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    val out = new java.io.ByteArrayOutputStream(8192)
    val buf = new Array[Byte](8192)
    var p = 0
    var members = 0
    while (p < n) {
      if (p + 18 > n) return null
      if ((bytes(p) & 0xff) != 0x1f || (bytes(p + 1) & 0xff) != 0x8b)
        return null
      if ((bytes(p + 2) & 0xff) != 8) return null
      // RFC 1952 optional header fields (E299): `gzip file` writes
      // FNAME by default, so FLG = 0-only was a strict-false-invalid
      // on the most common wire. FTEXT is a hint; FEXTRA tiles by its
      // declared length; FNAME/FCOMMENT are NUL-terminated; FHCRC is
      // the low 16 bits of the header's own CRC32 — verified, so a
      // corrupted header is visible before any inflation. Reserved
      // bits 5..7 reject per the spec.
      val flg = bytes(p + 3) & 0xff
      if ((flg & 0xe0) != 0) return null
      var q = p + 10
      if ((flg & 4) != 0) { // FEXTRA
        if (q + 2 > n) return null
        val xlen = (bytes(q) & 0xff) | ((bytes(q + 1) & 0xff) << 8)
        q += 2 + xlen
        if (q > n) return null
      }
      if ((flg & 8) != 0) { // FNAME
        while (q < n && bytes(q) != 0) q += 1
        if (q >= n) return null
        q += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT
        while (q < n && bytes(q) != 0) q += 1
        if (q >= n) return null
        q += 1
      }
      if ((flg & 2) != 0) { // FHCRC: CRC16 of the header bytes so far
        if (q + 2 > n) return null
        val hcrc = new java.util.zip.CRC32
        hcrc.update(bytes, p, q - p)
        if ((hcrc.getValue & 0xffffL) !=
          ((bytes(q) & 0xffL) | ((bytes(q + 1) & 0xffL) << 8))) return null
        q += 2
      }
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(bytes, q, n - q)
      val crc = new java.util.zip.CRC32
      var msize = 0L
      var trailer = -1
      try {
        while (!inf.finished()) {
          val k = inf.inflate(buf)
          if (k == 0 && !inf.finished()) return null
          crc.update(buf, 0, k)
          msize += k
          out.write(buf, 0, k)
          // cumulative bound over the whole series: honest DEFLATE
          // cannot exceed 1032:1, so neither can a chain of members
          if (out.size() > (q + inf.getBytesRead) * 1032L + 65536L)
            return null
        }
        // member end from getBytesRead BEFORE end() (the E246 API trap
        // was getRemaining AFTER end())
        trailer = q + inf.getBytesRead.toInt
      } catch {
        case _: java.util.zip.DataFormatException => return null
      } finally inf.end()
      if (trailer + 8 > n) return null
      if (u32at(trailer) != crc.getValue) return null
      if (u32at(trailer + 4) != (msize & 0xffffffffL)) return null
      p = trailer + 8
      members += 1
    }
    if (members < 1) return null
    out.toByteArray
  }

  def decodeTar(bytes0: Array[Byte], gz: Boolean,
      collect: Boolean = false,
      bgzf: Boolean = false, snap: Boolean = false,
      lz4: Boolean = false): (Decoded, Seq[Member]) = {
    def invalid = (Invalid, Nil)
    val bytes =
      if (lz4) Lz4Codec.unframe(bytes0)
      else if (snap) SnappyCodec.unframe(bytes0)
      else if (bgzf) bgzfInflate(bytes0)
      else if (gz) gunzipWhole(bytes0) else bytes0
    if (bytes == null) return invalid
    val n = bytes.length
    if (n < 3 * Block || n % Block != 0) return invalid
    val out = if (collect)
      scala.collection.mutable.ArrayBuffer.empty[Member] else null
    var nMembers = 0L
    var contentBytes = 0L
    var sumPayload = 0L
    var sumIv = 0L
    var p = 0
    // pax (POSIX.1-2001) overrides pending for the NEXT member
    var pendingPath: String = null
    var pendingSize = -1L

    def isZeroBlock(off: Int): Boolean = {
      var i = off
      while (i < off + Block) {
        if (bytes(i) != 0) return false
        i += 1
      }
      true
    }

    var ended = false
    while (!ended) {
      if (p + Block > n) return invalid
      if (isZeroBlock(p)) {
        // end-of-archive: a SECOND zero block, then exact EOF — and a
        // pax header with no following member is a dangling override
        if (pendingPath != null || pendingSize >= 0) return invalid
        if (p + 2 * Block != n || !isZeroBlock(p + Block)) return invalid
        p += 2 * Block
        ended = true
      } else {
        // ---- one ustar header ----
        if (bytes(p + 257) != 'u' || bytes(p + 258) != 's' ||
          bytes(p + 259) != 't' || bytes(p + 260) != 'a' ||
          bytes(p + 261) != 'r' || bytes(p + 262) != 0) return invalid
        val declared = readOctal(bytes, p + 148, 8)
        if (declared < 0 || declared != headerChecksum(bytes, p))
          return invalid // the header's own integrity rule
        val typeflag = bytes(p + 156)
        if (typeflag == 'x') {
          // ---- POSIX.1-2001 extended header: `LEN key=value\n`
          // records (LEN counts its own digits) overriding the NEXT
          // member. Two pax headers in a row are a malformed chain. ----
          if (pendingPath != null || pendingSize >= 0) return invalid
          val xSize = readOctal(bytes, p + 124, 12)
          if (xSize < 1 || xSize > (1 << 20)) return invalid
          val xPadded = ((xSize + Block - 1) / Block * Block).toInt
          if (p + Block + xPadded > n) return invalid
          var q = p + Block
          val qEnd = p + Block + xSize.toInt
          while (q < qEnd) {
            var r = q
            var recLen = 0
            while (r < qEnd && bytes(r) != ' ') {
              val c = bytes(r)
              if (c < '0' || c > '9') return invalid
              recLen = recLen * 10 + (c - '0')
              if (recLen > (1 << 20)) return invalid
              r += 1
            }
            if (r >= qEnd || recLen < 1) return invalid
            if (q + recLen > qEnd) return invalid
            if (bytes(q + recLen - 1) != '\n') return invalid
            val kv = new String(bytes, r + 1, q + recLen - 1 - (r + 1),
              "US-ASCII")
            val eq = kv.indexOf('=')
            if (eq <= 0) return invalid
            kv.substring(0, eq) match {
              case "path" =>
                if (kv.length == eq + 1) return invalid // empty path
                pendingPath = kv.substring(eq + 1)
              case "size" =>
                val v = kv.substring(eq + 1)
                if (v.isEmpty || !v.forall(_.isDigit) || v.length > 12)
                  return invalid
                pendingSize = v.toLong
                if (pendingSize > MaxMember) return invalid
              case _ => () // unknown keywords are spec-legal, skipped
            }
            q += recLen
          }
          // pax data padding to the block boundary must be zeros
          var z2 = qEnd
          while (z2 < p + Block + xPadded) {
            if (bytes(z2) != 0) return invalid
            z2 += 1
          }
          p += Block + xPadded
          // the overrides apply to the very next header
        } else {
        if (typeflag == 'g') return invalid // global pax: out of scope
        if (typeflag != '0') return invalid // regular files only
        val headerSize = readOctal(bytes, p + 124, 12)
        if (headerSize < 0 || headerSize > MaxMember) return invalid
        // pax overrides beat the 100-byte header fields (they exist
        // for exactly the values the fields cannot hold)
        val size = if (pendingSize >= 0) pendingSize else headerSize
        if (readOctal(bytes, p + 100, 8) < 0) return invalid  // mode
        if (readOctal(bytes, p + 136, 12) < 0) return invalid // mtime
        var nameEnd = p
        while (nameEnd < p + 100 && bytes(nameEnd) != 0) nameEnd += 1
        if (nameEnd == p) return invalid // empty name
        val name =
          if (pendingPath != null) pendingPath
          else new String(bytes, p, nameEnd - p, "US-ASCII")
        pendingPath = null
        pendingSize = -1L
        p += Block
        val padded = ((size + Block - 1) / Block * Block).toInt
        if (p + padded > n) return invalid // truncated member
        var s = 0L
        var i = 0
        while (i < size) { s += bytes(p + i) & 0xff; i += 1 }
        // data padding to the block boundary must be zeros
        i = size.toInt
        while (i < padded) {
          if (bytes(p + i) != 0) return invalid
          i += 1
        }
        sumPayload += s
        sumIv += nMembers * s
        contentBytes += size
        if (out != null)
          out += Member(nMembers, name, size, s,
            java.util.Arrays.copyOfRange(bytes, p, p + size.toInt), p.toLong)
        nMembers += 1
        p += padded
        } // end regular member
      }
    }
    if (nMembers < 1) return invalid
    (Decoded(valid = true, nMembers, contentBytes, sumPayload, sumIv),
      if (out == null) Nil else out.toSeq)
  }
}

/** `graft_tar_encode(bytes, memberBytes, gz)`: payload → USTAR shard of
  * ⌊len/memberBytes⌋ regular-file members, plain or whole-stream-gzip'd
  * (null when no full member fits).
  */
case class TarEncode(child: Expression, memberBytes: Int, gz: Boolean,
    pax: Boolean = false, bgzf: Boolean = false, mgz: Boolean = false,
    snap: Boolean = false, lz4: Boolean = false, gzHdr: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(memberBytes >= 1, "memberBytes must be positive")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tar_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TarCodec.encodeTar(input.asInstanceOf[Array[Byte]], memberBytes, gz, pax,
      bgzf, mgz, snap, lz4, gzHdr)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_tar_decode(bytes, gz)`: strict USTAR walk (checksum audit,
  * octal grammar, end-of-archive marker, gzip CRC when wrapped) →
  * per-shard stats struct.
  */
case class TarDecode(child: Expression, gz: Boolean,
    bgzf: Boolean = false, snap: Boolean = false, lz4: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("n_members", LongType, nullable = true),
    StructField("content_bytes", LongType, nullable = true),
    StructField("sum_payload", LongType, nullable = true),
    StructField("sum_iv", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tar_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val (d, _) = TarCodec.decodeTar(input.asInstanceOf[Array[Byte]], gz,
      bgzf = bgzf, snap = snap, lz4 = lz4)
    if (d.valid)
      InternalRow(true, d.nMembers, d.contentBytes, d.sumPayload, d.sumIv)
    else InternalRow(false, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_tar_members(bytes, gz)`: the member-EXTRACTION operator — one
  * element per member in shard order (index, name, size, byte sum,
  * bytes). Null when the shard is invalid.
  */
case class TarMembers(child: Expression, gz: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("member_idx", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("member_sum", LongType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("data_offset", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tar_members expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val (d, members) =
      TarCodec.decodeTar(input.asInstanceOf[Array[Byte]], gz, collect = true)
    if (!d.valid) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      members.map(m => InternalRow(m.idx,
        org.apache.spark.unsafe.types.UTF8String.fromString(m.name),
        m.size, m.sumV, m.bytes, m.dataOff)).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TarNativeFunctions {

  def tarEncode(bytes: Column, memberBytes: Int, gz: Boolean,
      pax: Boolean = false, bgzf: Boolean = false, mgz: Boolean = false,
      snap: Boolean = false, lz4: Boolean = false, gzHdr: Boolean = false): Column =
    ColumnBridge.column(TarEncode(ColumnBridge.expression(bytes), memberBytes, gz, pax, bgzf, mgz,
      snap, lz4, gzHdr))

  def tarDecode(bytes: Column, gz: Boolean, bgzf: Boolean = false,
      snap: Boolean = false, lz4: Boolean = false): Column =
    ColumnBridge.column(TarDecode(ColumnBridge.expression(bytes), gz, bgzf, snap, lz4))

  def tarMembers(bytes: Column, gz: Boolean): Column =
    ColumnBridge.column(TarMembers(ColumnBridge.expression(bytes), gz))
}
