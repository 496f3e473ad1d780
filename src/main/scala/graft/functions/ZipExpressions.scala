package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native ZIP archive codec (E270) — the other container data lakes
  * hold in bulk (dataset dumps, document collections, model bundles).
  * The format is the public PKWARE APPNOTE layout:
  *
  * {{{
  * member*: local file header — sig 0x04034b50, version, flags, method
  *          (0 = stored, 8 = deflate), time/date, CRC-32, compressed +
  *          uncompressed sizes, name — then the member data
  * central directory: one 0x02014b50 entry per member REPEATING the
  *          method/CRC/sizes/name plus the member's local-header offset
  * end:     0x06054b50 EOCD — entry counts, directory size + offset
  * }}}
  *
  * The directory is authoritative (readers locate it from the EOCD and
  * walk it), so the STRICTNESS discipline here is AGREEMENT: every
  * central entry must agree with its local header on method, sizes,
  * CRC, and name; the members must tile [0, cdOffset) exactly in
  * directory order (no gaps, no overlaps — a smuggled byte range is a
  * visible finding); each member's inflated output must consume exactly
  * compSize bytes, produce exactly uncompSize, and hash to the declared
  * CRC-32; the EOCD's counts and directory span must match what was
  * walked, with no trailing bytes.
  *
  * Two spec-legal wires real writers emit are decoded, not rejected:
  *
  *  - ZIP64 (E275): when an EOCD field carries its sentinel (0xFFFF
  *    counts / 0xFFFFFFFF size or offset) the reader walks the ZIP64
  *    EOCD locator → ZIP64 EOCD record chain, and per-entry sentinel
  *    sizes/offsets resolve through the 0x0001 extra field (APPNOTE
  *    order: uncompressed, compressed, local-header offset; the LOCAL
  *    header must carry BOTH sizes when either is sentinel). Agreement
  *    is audited end-to-end: non-sentinel EOCD fields must match the
  *    ZIP64 record, the record must tile to its locator, its
  *    extensible data sector must be empty (sizeOfRecord = 44 — a
  *    smuggling spot otherwise), and zip64-resolved local values must
  *    equal the central's.
  *  - Data descriptors (E276, flag bit 3 — the streaming-writer wire):
  *    the local header's CRC/sizes are zero and the real values follow
  *    the member data in a signature-led 16-byte descriptor that must
  *    AGREE with the central entry verbatim; the descriptor bytes are
  *    part of the member tiling.
  *
  * Extra-field areas must TILE exactly (id/size headers walking the
  * declared length); unknown ids are skipped — rejecting them would
  * false-invalidate nearly every real archive (Info-ZIP emits UT/ux
  * unconditionally) — but a 0x0001 field whose length disagrees with
  * the entry's sentinel count rejects. Encryption and multi-disk
  * archives reject visibly. The zip64+descriptor COMBINED wire (E289 —
  * sentinel local sizes, placeholder-zero 0x0001 extras, u64
  * descriptors keyed on the extra's presence per APPNOTE 4.3.9.2, the
  * shape zip64-streaming writers emit) decodes, completing the family.
  *
  * ORACLE (two wires, one oracle): fixtures slice the payload into
  * fixed `memberBytes` members, so counts, byte totals, and the
  * member-weighted sum read straight off the truncated raw payload —
  * and the DEFLATE wire must report stats IDENTICAL to the STORED wire.
  *
  * Scale: one native pass per archive, O(member) state — the codec-walk
  * shape; inflation is bounded by the directory's own declared sizes.
  */
object ZipCodec {

  private val LocalSig = 0x04034b50L
  private val CentralSig = 0x02014b50L
  private val EocdSig = 0x06054b50L
  private val Zip64EocdSig = 0x06064b50L
  private val Zip64LocSig = 0x07064b50L
  private val DescSig = 0x08074b50L

  /** Forged-size bound: member sizes beyond this cannot be honest at
    * fixture scale and would overflow downstream Ints.
    */
  private val MaxMember = 1L << 30

  /** Encode the payload as a ZIP of ⌊len/memberBytes⌋ members
    * `doc%05d.txt` (whole members only; null when no full member fits),
    * stored or per-member DEFLATE. `zip64` emits the zip64-always wire
    * (sentinel sizes/offsets + 0x0001 extras + ZIP64 EOCD chain — what
    * `zip -fz-`-era writers produce unconditionally); `descriptor`
    * emits the streaming-writer wire (flag bit 3, zeroed local
    * CRC/sizes, signature-led trailing descriptors). BOTH together
    * emit the combined zip64-streaming wire (E289): sentinel local
    * sizes, placeholder-zero extras, u64 descriptors.
    */
  def encodeZip(payload: Array[Byte], memberBytes: Int,
      deflate: Boolean = false, zip64: Boolean = false,
      descriptor: Boolean = false,
      namePrefix: String = "doc"): Array[Byte] = {
    require(memberBytes >= 1, "memberBytes must be positive")
    // E300: a non-ASCII prefix turns on the language-encoding flag
    // (bit 11) and UTF-8 names — what every modern zip tool writes
    val utf8Names = namePrefix.exists(_ > 127)
    val nm = payload.length / memberBytes
    if (nm < 1) return null
    val out = new java.io.ByteArrayOutputStream(payload.length + nm * 128)
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    def u64(v: Long): Unit = { u32(v & 0xffffffffL); u32(v >>> 32) }
    val version = if (zip64) 45 else 20
    val flags = (if (descriptor) 8 else 0) | (if (utf8Names) 0x800 else 0)
    val offsets = new Array[Long](nm)
    val crcs = new Array[Long](nm)
    val compSizes = new Array[Int](nm)
    val names = Array.tabulate(nm)(i =>
      f"$namePrefix$i%05d.txt".getBytes("UTF-8"))
    var i = 0
    while (i < nm) {
      val crc = new java.util.zip.CRC32
      crc.update(payload, i * memberBytes, memberBytes)
      crcs(i) = crc.getValue
      val data: Array[Byte] =
        if (!deflate)
          java.util.Arrays.copyOfRange(payload, i * memberBytes,
            (i + 1) * memberBytes)
        else {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(payload, i * memberBytes, memberBytes)
          d.finish()
          val b = new java.io.ByteArrayOutputStream(memberBytes / 2 + 64)
          val buf = new Array[Byte](8192)
          while (!d.finished()) b.write(buf, 0, d.deflate(buf))
          d.end()
          b.toByteArray
        }
      compSizes(i) = data.length
      offsets(i) = out.size().toLong
      u32(LocalSig)
      u16(version)                     // version needed
      u16(flags)                       // flags: descriptor bit only
      u16(if (deflate) 8 else 0)       // method
      u16(0); u16(0)                   // time / date: deterministic
      if (descriptor && zip64) {
        // combined zip64-streaming wire (E289): CRC unknown, sizes
        // sentinel — the local 0x0001 extra (placeholder zeros) is what
        // keys the u64 descriptor per APPNOTE 4.5.3/4.3.9.2
        u32(0); u32(0xffffffffL); u32(0xffffffffL)
      } else if (descriptor) { u32(0); u32(0); u32(0) } // values trail the data
      else if (zip64) {
        u32(crcs(i)); u32(0xffffffffL); u32(0xffffffffL)
      } else {
        u32(crcs(i)); u32(data.length.toLong); u32(memberBytes.toLong)
      }
      u16(names(i).length)
      u16(if (zip64) 20 else 0)        // extra length
      out.write(names(i))
      if (zip64) {                     // 0x0001: BOTH sizes (APPNOTE 4.5.3)
        u16(1); u16(16)
        if (descriptor) { u64(0); u64(0) } // streaming: sizes unknown yet
        else { u64(memberBytes.toLong); u64(data.length.toLong) }
      }
      out.write(data)
      if (descriptor) {                // signature-led trailing descriptor
        u32(DescSig); u32(crcs(i))
        if (zip64) { u64(data.length.toLong); u64(memberBytes.toLong) }
        else { u32(data.length.toLong); u32(memberBytes.toLong) }
      }
      i += 1
    }
    val cdOffset = out.size().toLong
    i = 0
    while (i < nm) {
      u32(CentralSig)
      u16(version)                     // version made by
      u16(version)                     // version needed
      u16(flags)                       // flags
      u16(if (deflate) 8 else 0)       // method
      u16(0); u16(0)                   // time / date
      u32(crcs(i))
      if (zip64) { u32(0xffffffffL); u32(0xffffffffL) }
      else { u32(compSizes(i).toLong); u32(memberBytes.toLong) }
      u16(names(i).length)
      u16(if (zip64) 28 else 0)        // extra
      u16(0)                           // comment
      u16(0)                           // disk number start
      u16(0)                           // internal attrs
      u32(0)                           // external attrs
      u32(if (zip64) 0xffffffffL else offsets(i))
      out.write(names(i))
      if (zip64) {                     // 0x0001: uncomp, comp, offset
        u16(1); u16(24)
        u64(memberBytes.toLong); u64(compSizes(i).toLong); u64(offsets(i))
      }
      i += 1
    }
    val cdSize = out.size().toLong - cdOffset
    if (zip64) {
      val eocd64Off = out.size().toLong
      u32(Zip64EocdSig)
      u64(44)                          // sizeOfRecord: fixed part only
      u16(45); u16(45)                 // version made / needed
      u32(0); u32(0)                   // disk numbers
      u64(nm.toLong); u64(nm.toLong)   // entry counts
      u64(cdSize)
      u64(cdOffset)
      u32(Zip64LocSig)                 // locator, directly after
      u32(0)                           // disk with the EOCD64
      u64(eocd64Off)
      u32(1)                           // total disks
    }
    u32(EocdSig)
    u16(0); u16(0)                     // disk numbers
    if (zip64) { u16(0xffff); u16(0xffff) } else { u16(nm); u16(nm) }
    u32(if (zip64) 0xffffffffL else cdSize)
    u32(if (zip64) 0xffffffffL else cdOffset)
    u16(0)                             // comment length
    out.toByteArray
  }

  /** One extracted member (the fan-out row). `dataOff`/`compSize` are
    * the member data's byte span in the archive (what a random-access
    * reader seeks to — the central directory is ZIP's built-in index);
    * `method` is 0 (stored) or 8 (deflate).
    */
  final case class Member(idx: Long, name: String, size: Long, sumV: Long,
      bytes: Array[Byte], dataOff: Long = -1L, compSize: Long = -1L,
      method: Int = 0)

  /** Per-archive decode result; -1 stats when invalid. */
  final case class Decoded(valid: Boolean, nMembers: Long,
      contentBytes: Long, sumPayload: Long, sumIv: Long)

  private val Invalid = Decoded(valid = false, -1, -1, -1, -1)

  /** Walk an extra-field area strictly: id/size headers must TILE the
    * declared length exactly; unknown ids are skipped (UT/ux are
    * universal in real archives); at most one 0x0001 zip64 field, whose
    * u64 payload is returned. Returns null on malformed tiling /
    * duplicate zip64 fields, an empty array when no zip64 field.
    */
  private def extraZip64(bytes: Array[Byte], off: Int, len: Int): Array[Long] = {
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    var p = off
    val end = off + len
    var z64: Array[Long] = Array.emptyLongArray
    var seen = false
    while (p < end) {
      if (p + 4 > end) return null
      val id = u16(p)
      val sz = u16(p + 2)
      if (p + 4 + sz > end) return null
      if (id == 1) {
        if (seen || sz % 8 != 0 || sz > 32) return null
        seen = true
        z64 = Array.tabulate(sz / 8) { k =>
          val o = p + 4 + k * 8
          var v = 0L
          var j = 7
          while (j >= 0) { v = (v << 8) | (bytes(o + j) & 0xffL); j -= 1 }
          v
        }
      }
      p += 4 + sz
    }
    if (p != end) null else z64
  }

  def decodeZip(bytes: Array[Byte],
      collect: Boolean = false): (Decoded, Seq[Member]) = {
    def invalid = (Invalid, Nil)
    val n = bytes.length
    if (n < 22) return invalid
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def u64(o: Int): Long = u32(o) | (u32(o + 4) << 32)
    // EOCD: comment-free archives end in exactly the 22-byte record
    // (the fixture contract — and a trailing comment would be a place
    // to smuggle bytes, so its absence is audited, not assumed)
    val eocd = n - 22
    if (u32(eocd) != EocdSig) return invalid
    if (u16(eocd + 4) != 0 || u16(eocd + 6) != 0) return invalid // disks
    val cnt16 = u16(eocd + 8)
    if (u16(eocd + 10) != cnt16) return invalid
    val cdSize32 = u32(eocd + 12)
    val cdOffset32 = u32(eocd + 16)
    if (u16(eocd + 20) != 0) return invalid // comment length
    // ZIP64 (E275): any sentinel diverts through the locator → EOCD64
    // chain; every non-sentinel EOCD field must AGREE with the record
    val zip64 = cnt16 == 0xffff || cdSize32 == 0xffffffffL ||
      cdOffset32 == 0xffffffffL
    var nEntries = 0L
    var cdSize = 0L
    var cdOffset = 0L
    var cdEnd = eocd // where the directory walk must land
    if (!zip64) {
      nEntries = cnt16
      cdSize = cdSize32
      cdOffset = cdOffset32
      if (cdOffset + cdSize != eocd) return invalid // tiles to the EOCD
    } else {
      val loc = eocd - 20
      if (loc < 0 || u32(loc) != Zip64LocSig) return invalid
      if (u32(loc + 4) != 0) return invalid  // disk holding the EOCD64
      val e64 = u64(loc + 8)
      if (u32(loc + 16) != 1) return invalid // total disks
      if (e64 < 0 || e64 + 56 != loc) return invalid // record → locator
      val r = e64.toInt
      if (u32(r) != Zip64EocdSig) return invalid
      if (u64(r + 4) != 44) return invalid   // empty extensible sector
      if (u32(r + 16) != 0 || u32(r + 20) != 0) return invalid // disks
      nEntries = u64(r + 24)
      if (u64(r + 32) != nEntries) return invalid
      cdSize = u64(r + 40)
      cdOffset = u64(r + 48)
      if (cdSize < 0 || cdOffset < 0 || cdOffset + cdSize != e64)
        return invalid
      if (cnt16 != 0xffff && cnt16.toLong != nEntries) return invalid
      if (cdSize32 != 0xffffffffL && cdSize32 != cdSize) return invalid
      if (cdOffset32 != 0xffffffffL && cdOffset32 != cdOffset) return invalid
      cdEnd = r
    }
    if (nEntries < 1 || nEntries > (1 << 20)) return invalid

    val out = if (collect)
      scala.collection.mutable.ArrayBuffer.empty[Member] else null
    var nMembers = 0L
    var contentBytes = 0L
    var sumPayload = 0L
    var sumIv = 0L
    var expectedLocal = 0L // members must tile [0, cdOffset) in order
    var p = cdOffset.toInt
    var e = 0L
    while (e < nEntries) {
      if (p + 46 > cdEnd) return invalid
      if (u32(p) != CentralSig) return invalid
      val flags = u16(p + 8)
      // descriptor (bit 3) and UTF-8 names (bit 11, E300 — what every
      // modern zip tool sets for non-ASCII names; rejecting it was a
      // strict-false-invalid) are the accepted bits; anything else
      // (crypto, patched data, ...) stays a visible reject
      if ((flags & ~0x808) != 0) return invalid
      val method = u16(p + 10)
      if (method != 0 && method != 8) return invalid
      val crcDecl = u32(p + 16)
      val compSize32 = u32(p + 20)
      val uncompSize32 = u32(p + 24)
      val nameLen = u16(p + 28)
      if (nameLen < 1 || nameLen > 512) return invalid
      val extraLen = u16(p + 30)
      if (u16(p + 32) != 0) return invalid // comment
      if (u16(p + 34) != 0) return invalid // disk start
      val localOff32 = u32(p + 42)
      if (p + 46 + nameLen + extraLen > cdEnd) return invalid
      val charset = if ((flags & 0x800) != 0) "UTF-8" else "US-ASCII"
      val name = new String(bytes, p + 46, nameLen, charset)
      // sentinel fields resolve through the 0x0001 extra, APPNOTE order
      val z64 = extraZip64(bytes, p + 46 + nameLen, extraLen)
      if (z64 == null) return invalid
      val needU = uncompSize32 == 0xffffffffL
      val needC = compSize32 == 0xffffffffL
      val needO = localOff32 == 0xffffffffL
      val need = (if (needU) 1 else 0) + (if (needC) 1 else 0) +
        (if (needO) 1 else 0)
      if (z64.length != need) return invalid // length ≠ sentinel count
      var zi = 0
      val uncompSize = if (needU) { zi += 1; z64(zi - 1) } else uncompSize32
      val compSize = if (needC) { zi += 1; z64(zi - 1) } else compSize32
      val localOff = if (needO) { zi += 1; z64(zi - 1) } else localOff32
      if (compSize < 0 || compSize > MaxMember) return invalid
      if (uncompSize < 0 || uncompSize > MaxMember) return invalid
      if (method == 0 && compSize != uncompSize) return invalid

      // ---- the member's local header must AGREE with the directory ----
      if (localOff != expectedLocal) return invalid // gap/overlap/reorder
      val lp = localOff.toInt
      if (lp + 30 > cdOffset) return invalid
      if (u32(lp) != LocalSig) return invalid
      if (u16(lp + 6) != flags) return invalid
      if (u16(lp + 8) != method) return invalid
      val lNameLen = u16(lp + 26)
      val lExtraLen = u16(lp + 28)
      if (lNameLen != nameLen) return invalid
      if (lp + 30 + nameLen + lExtraLen > cdOffset) return invalid
      val lz64 = extraZip64(bytes, lp + 30 + nameLen, lExtraLen)
      if (lz64 == null) return invalid
      var wideDesc = false
      if ((flags & 8) != 0) {
        // streaming wire (E276): local CRC/sizes are zero, the real
        // values trail the data. A local 0x0001 extra present makes it
        // the COMBINED zip64-streaming wire (E289): sentinel sizes,
        // placeholder-zero extra values (a streaming writer cannot know
        // them yet), and u64 descriptor sizes — APPNOTE 4.3.9.2 keys
        // the descriptor width on exactly this field's presence.
        if (u32(lp + 14) != 0) return invalid
        if (lz64.isEmpty) {
          if (u32(lp + 18) != 0 || u32(lp + 22) != 0) return invalid
        } else {
          if (lz64.length != 2) return invalid
          if (u32(lp + 18) != 0xffffffffL || u32(lp + 22) != 0xffffffffL)
            return invalid
          if (lz64(0) != 0 || lz64(1) != 0) return invalid
          wideDesc = true
        }
      } else {
        if (u32(lp + 14) != crcDecl) return invalid
        val lComp32 = u32(lp + 18)
        val lUncomp32 = u32(lp + 22)
        if ((lComp32 == 0xffffffffL) != (lUncomp32 == 0xffffffffL))
          return invalid // APPNOTE 4.5.3: both sizes or neither
        if (lUncomp32 == 0xffffffffL) {
          if (lz64.length != 2) return invalid
          if (lz64(0) != uncompSize || lz64(1) != compSize) return invalid
        } else {
          if (lz64.nonEmpty) return invalid
          if (lComp32 != compSize || lUncomp32 != uncompSize) return invalid
        }
      }
      val dataOff = lp + 30 + nameLen + lExtraLen
      if (dataOff + compSize > cdOffset) return invalid
      if (new String(bytes, lp + 30, nameLen, charset) != name)
        return invalid

      // ---- decompress + verify the declared CRC-32 and sizes ----
      val raw: Array[Byte] =
        if (method == 0)
          java.util.Arrays.copyOfRange(bytes, dataOff,
            dataOff + compSize.toInt)
        else {
          val inf = new java.util.zip.Inflater(true)
          inf.setInput(bytes, dataOff, compSize.toInt)
          val b = new java.io.ByteArrayOutputStream(
            math.max(16, uncompSize.toInt))
          val buf = new Array[Byte](8192)
          try {
            while (!inf.finished()) {
              val k = inf.inflate(buf)
              if (k == 0 && !inf.finished()) return invalid // truncated
              b.write(buf, 0, k)
              if (b.size() > uncompSize) return invalid // overfill
            }
            // the stream must consume EXACTLY the declared bytes
            if (inf.getRemaining != 0) return invalid
          } catch {
            case _: java.util.zip.DataFormatException => return invalid
          } finally inf.end()
          b.toByteArray
        }
      if (raw.length.toLong != uncompSize) return invalid
      val crc = new java.util.zip.CRC32
      crc.update(raw)
      if (crc.getValue != crcDecl) return invalid

      expectedLocal = dataOff + compSize
      if ((flags & 8) != 0) {
        // the trailing descriptor must AGREE with the central entry
        val dp = expectedLocal.toInt
        if (wideDesc) {
          if (dp + 24 > cdOffset) return invalid
          if (u32(dp) != DescSig) return invalid
          if (u32(dp + 4) != crcDecl) return invalid
          if (u64(dp + 8) != compSize) return invalid
          if (u64(dp + 16) != uncompSize) return invalid
          expectedLocal += 24
        } else {
          if (dp + 16 > cdOffset) return invalid
          if (u32(dp) != DescSig) return invalid
          if (u32(dp + 4) != crcDecl) return invalid
          if (u32(dp + 8) != compSize) return invalid
          if (u32(dp + 12) != uncompSize) return invalid
          expectedLocal += 16
        }
      }

      var s = 0L
      var i = 0
      while (i < raw.length) { s += raw(i) & 0xff; i += 1 }
      sumPayload += s
      sumIv += nMembers * s
      contentBytes += uncompSize
      if (out != null) out += Member(nMembers, name, uncompSize, s, raw,
        dataOff.toLong, compSize, method)
      nMembers += 1
      p += 46 + nameLen + extraLen
      e += 1
    }
    if (p != cdEnd) return invalid // directory size must match its span
    if (expectedLocal != cdOffset) return invalid // members tile exactly
    (Decoded(valid = true, nMembers, contentBytes, sumPayload, sumIv),
      if (out == null) Nil else out.toSeq)
  }
}

/** `graft_zip_encode(bytes, memberBytes, deflate, zip64, descriptor)`:
  * payload → ZIP of ⌊len/memberBytes⌋ members, stored or per-member
  * DEFLATE, on the plain, zip64-always, or streaming-descriptor wire
  * (null when no full member fits).
  */
case class ZipEncode(child: Expression, memberBytes: Int, deflate: Boolean,
    zip64: Boolean = false, descriptor: Boolean = false,
    namePrefix: String = "doc")
    extends UnaryExpression with CodegenFallback {
  require(memberBytes >= 1, "memberBytes must be positive")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_zip_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    ZipCodec.encodeZip(input.asInstanceOf[Array[Byte]], memberBytes, deflate,
      zip64, descriptor, namePrefix)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_zip_decode(bytes)`: strict central-directory walk (local-header
  * agreement, exact tiling, per-member CRC-32) → per-archive stats.
  */
case class ZipDecode(child: Expression)
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
      s"graft_zip_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val (d, _) = ZipCodec.decodeZip(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.nMembers, d.contentBytes, d.sumPayload, d.sumIv)
    else InternalRow(false, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_zip_members(bytes)`: the member-EXTRACTION operator — one
  * element per member in directory order (index, name, size, byte sum,
  * bytes, data span, method). The span columns make the row a usable
  * seek-table entry: ZIP's central directory IS a random-access index,
  * and exposing it is how a loader reads one member from a 10 GiB
  * archive without streaming the rest. Null when the archive is invalid.
  */
case class ZipMembers(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("member_idx", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("member_sum", LongType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("data_offset", LongType, nullable = false),
    StructField("comp_size", LongType, nullable = false),
    StructField("method", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_zip_members expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val (d, members) =
      ZipCodec.decodeZip(input.asInstanceOf[Array[Byte]], collect = true)
    if (!d.valid) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      members.map(m => InternalRow(m.idx,
        org.apache.spark.unsafe.types.UTF8String.fromString(m.name),
        m.size, m.sumV, m.bytes, m.dataOff, m.compSize,
        m.method)).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ZipNativeFunctions {

  def zipMembers(bytes: Column): Column =
    ColumnBridge.column(ZipMembers(ColumnBridge.expression(bytes)))

  def zipEncode(bytes: Column, memberBytes: Int, deflate: Boolean,
      zip64: Boolean = false, descriptor: Boolean = false,
      namePrefix: String = "doc"): Column =
    ColumnBridge.column(ZipEncode(ColumnBridge.expression(bytes), memberBytes, deflate, zip64,
      descriptor, namePrefix))

  def zipDecode(bytes: Column): Column =
    ColumnBridge.column(ZipDecode(ColumnBridge.expression(bytes)))
}
