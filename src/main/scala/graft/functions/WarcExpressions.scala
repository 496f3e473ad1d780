package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** WARC web-archive codec (E246) — the container web-crawl corpora
  * actually ship in (ISO 28500; the public Common Crawl layout). Two
  * wire shapes, one record grammar:
  *
  *  - **plain**: concatenated records — `WARC/1.0\r\n`, header lines
  *    (`Name: value\r\n`), a blank line, exactly `Content-Length` block
  *    bytes, then `\r\n\r\n`.
  *  - **record-gzip**: each record individually gzip'd and the members
  *    concatenated — the Common Crawl convention (it keeps the archive
  *    splittable: a reader can start at any member boundary). The
  *    decoder walks members with the JDK Inflater (the PNG DEFLATE
  *    precedent), verifies each member's CRC32 AND ISIZE trailer, and
  *    requires each member to hold EXACTLY one record.
  *
  * STRICTNESS: the four spec-mandatory headers (WARC-Type,
  * WARC-Record-ID, WARC-Date, Content-Length) must each appear exactly
  * once per record; unknown headers are skipped (spec-legal — real
  * records carry digests, IP addresses, concurrent-to links); a
  * malformed header line, a bad version, a Content-Length that
  * disagrees with the bytes present, a missing record terminator,
  * trailing garbage, a gzip member whose CRC/ISIZE lies, or a member
  * holding more or less than one record all report `is_valid = false`.
  * Header separator follows the ISO 28500 grammar `field-name ":" *WS
  * field-value` — the space after the colon is optional. Zip-bomb
  * bound: per-member inflated output is capped incrementally at
  * DEFLATE's own 1032:1 maximum expansion of the bytes the member has
  * consumed so far (+64 KiB slack), so a forged member cannot allocate
  * beyond what its own compressed size could honestly encode.
  *
  * ORACLE: fixtures slice the payload into fixed `recordBytes` blocks
  * (whole records only), so record counts, content byte totals, and the
  * block byte-sum all read straight off the truncated raw payload in
  * DuckDB — and the gzip shape must produce IDENTICAL stats to the
  * plain shape (compression changes the wire, never the records), the
  * q275/q276 two-shapes-one-oracle discipline.
  *
  * Scale: one native pass per asset, O(record) state — at 100 TB the
  * per-record-gzip shape is what makes a crawl archive splittable
  * across executors in the first place.
  */
object WarcCodec {

  /** Build one WARC record with deterministic headers. `extraHeaders`
    * lines must each end in CRLF.
    */
  private def record(warcType: String, id: String, i: Long,
      contentType: String, extraHeaders: String,
      block: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $warcType\r\n")
    sb.append(s"WARC-Record-ID: <$id>\r\n")
    sb.append("WARC-Date: 2026-01-01T00:00:00Z\r\n")
    sb.append(s"WARC-Target-URI: https://example.com/doc/$i\r\n")
    sb.append(extraHeaders)
    sb.append(s"Content-Type: $contentType\r\n")
    sb.append(s"Content-Length: ${block.length}\r\n")
    sb.append("\r\n")
    val head = sb.result().getBytes("US-ASCII")
    val out = new Array[Byte](head.length + block.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(block, 0, out, head.length, block.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Build one response record with deterministic headers. */
  private def record(i: Long, block: Array[Byte]): Array[Byte] =
    record("response", s"urn:graft:record-$i", i, "text/plain", "", block)

  /** Deterministic HTTP status for fixture slice `i`: 200 except every
    * fourth slice (i mod 4 == 3), which is a 404 — so the oracle counts
    * n_200 = nr - nr DIV 4 straight off the slice index.
    */
  def fixtureStatus(i: Long): Int = if (i % 4 == 3) 404 else 200

  /** Encode the payload as a plain WARC of ⌊len/recordBytes⌋ response
    * records (whole records only; null when no full record fits).
    */
  def encodeWarc(payload: Array[Byte], recordBytes: Int): Array[Byte] = {
    require(recordBytes >= 1, "recordBytes must be positive")
    val nRec = payload.length / recordBytes
    if (nRec < 1) return null
    val out = new java.io.ByteArrayOutputStream(payload.length + nRec * 256)
    var i = 0
    while (i < nRec) {
      out.write(record(i, java.util.Arrays.copyOfRange(
        payload, i * recordBytes, (i + 1) * recordBytes)))
      i += 1
    }
    out.toByteArray
  }

  /** Write `rec` as one complete gzip member: fixed 10-byte header, raw
    * deflate, CRC32 + ISIZE trailers — the Common Crawl per-record unit.
    */
  private def writeGzMember(out: java.io.ByteArrayOutputStream,
      rec: Array[Byte]): Unit = {
    out.write(0x1f); out.write(0x8b); out.write(8) // magic + DEFLATE
    out.write(0)                                   // FLG: no extras
    out.write(0); out.write(0); out.write(0); out.write(0) // MTIME 0
    out.write(0)                                   // XFL
    out.write(255)                                 // OS: unknown
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(rec)
    d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val k = d.deflate(buf)
      out.write(buf, 0, k)
    }
    d.end()
    val crc = new java.util.zip.CRC32
    crc.update(rec)
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    u32(crc.getValue)
    u32(rec.length.toLong & 0xffffffffL)
  }

  /** [[encodeWarc]] in the Common Crawl wire shape: each record its own
    * gzip member (CRC32 + ISIZE trailers), members concatenated.
    */
  def encodeWarcGz(payload: Array[Byte], recordBytes: Int): Array[Byte] = {
    require(recordBytes >= 1, "recordBytes must be positive")
    val nRec = payload.length / recordBytes
    if (nRec < 1) return null
    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + nRec * 256)
    var i = 0
    while (i < nRec) {
      writeGzMember(out, record(i, java.util.Arrays.copyOfRange(
        payload, i * recordBytes, (i + 1) * recordBytes)))
      i += 1
    }
    out.toByteArray
  }

  /** Encode the payload as a CRAWL-SHAPED WARC: for each whole
    * `bodyBytes` slice, a request record followed by its response record
    * (the adjacent request/response convention), linked by
    * WARC-Concurrent-To on the request. The response block is a real
    * RFC 9112 HTTP message — status line (200, or 404 on every fourth
    * slice), Content-Type/Content-Length headers, then the slice as the
    * body; the request block is the matching GET message. Plain or
    * per-record-gzip wire shape. When `mixed`, every fifth slice
    * (i mod 5 == 4) becomes instead ONE non-HTTP response record
    * (Content-Type application/octet-stream, raw slice as block) — the
    * mixed-protocol crawl shape ISO 28500 permits. When `html`, each
    * response body is the slice wrapped in a deterministic HTML page
    * (`<title>d{i}</title>`, the slice in a `<p>`, then
    * `(slice(0) mod 3) + 1` anchors `/d{i}/k{k}`) with Content-Type
    * text/html — the WAT-extraction fixture shape. Null when no full
    * body slice fits.
    */
  def encodeWarcHttp(payload: Array[Byte], bodyBytes: Int,
      gz: Boolean, chunked: Boolean = false,
      mixed: Boolean = false, html: Boolean = false): Array[Byte] = {
    require(bodyBytes >= 1, "bodyBytes must be positive")
    val nRec = payload.length / bodyBytes
    if (nRec < 1) return null
    val out = new java.io.ByteArrayOutputStream(payload.length + nRec * 512)
    var i = 0
    while (i < nRec) {
      if (mixed && i % 5 == 4) {
        // MIXED-PROTOCOL crawl shape: every fifth slice is a response
        // record captured from a NON-HTTP protocol (ISO 28500 allows
        // response records for DNS, FTP, ...) — its block is the raw
        // capture, its Content-Type is not application/http, and a
        // conformant consumer must keep it opaque, not invalidate it
        val body = java.util.Arrays.copyOfRange(
          payload, i * bodyBytes, (i + 1) * bodyBytes)
        val resp = record("response", s"urn:graft:record-$i", i,
          "application/octet-stream", "", body)
        if (gz) writeGzMember(out, resp) else out.write(resp)
        i += 1
      } else {
      val reqMsg = (s"GET /doc/$i HTTP/1.1\r\n" +
        "Host: example.com\r\n" +
        "Accept: text/plain\r\n" +
        "\r\n").getBytes("US-ASCII")
      val req = record("request", s"urn:graft:request-$i", i,
        "application/http;msgtype=request",
        s"WARC-Concurrent-To: <urn:graft:record-$i>\r\n", reqMsg)
      val status = fixtureStatus(i)
      val reason = if (status == 200) "OK" else "Not Found"
      val slice = java.util.Arrays.copyOfRange(
        payload, i * bodyBytes, (i + 1) * bodyBytes)
      val body: Array[Byte] =
        if (!html) slice
        else {
          // WAT fixture shape: title, the slice as page text, and a
          // slice-derived number of outlinks — every metadata field a
          // WAT extractor reads is reconstructible from the raw payload
          val nl = (slice(0) & 0xff) % 3 + 1
          val sb = new StringBuilder(bodyBytes + 128)
          sb.append(s"<html><head><title>d$i</title></head><body><p>")
          sb.append(new String(slice, "ISO-8859-1"))
          sb.append("</p>")
          var k = 0
          while (k < nl) {
            sb.append(s"""<a href="/d$i/k$k">x</a>""")
            k += 1
          }
          sb.append("</body></html>")
          sb.toString.getBytes("ISO-8859-1")
        }
      val framing =
        if (chunked) "Transfer-Encoding: chunked\r\n"
        else s"Content-Length: ${body.length}\r\n"
      val head = (s"HTTP/1.1 $status $reason\r\n" +
        (if (html) "Content-Type: text/html\r\n"
         else "Content-Type: text/plain\r\n") +
        framing +
        "\r\n").getBytes("US-ASCII")
      val wire =
        if (!chunked) body
        else {
          // RFC 9112 §7.1: hex size line, data, CRLF per chunk; a
          // 0-size chunk + empty trailer section terminates. 100-byte
          // chunks make the multi-chunk path the normal case.
          val cb = new java.io.ByteArrayOutputStream(body.length + 64)
          var off = 0
          while (off < body.length) {
            val len = math.min(100, body.length - off)
            cb.write(f"$len%x\r\n".getBytes("US-ASCII"))
            cb.write(body, off, len)
            cb.write('\r'); cb.write('\n')
            off += len
          }
          cb.write("0\r\n\r\n".getBytes("US-ASCII"))
          cb.toByteArray
        }
      val msg = new Array[Byte](head.length + wire.length)
      System.arraycopy(head, 0, msg, 0, head.length)
      System.arraycopy(wire, 0, msg, head.length, wire.length)
      val resp = record("response", s"urn:graft:record-$i", i,
        "application/http;msgtype=response", "", msg)
      if (gz) { writeGzMember(out, req); writeGzMember(out, resp) }
      else { out.write(req); out.write(resp) }
      i += 1
      }
    }
    out.toByteArray
  }

  /** Decode an RFC 9112 §7.1 chunked body inside `[off, end)`: hex size
    * lines (no chunk extensions — strict), exact chunk data + CRLF, a
    * 0-size terminator with an EMPTY trailer section, and the span
    * consumed exactly. Returns the dechunked bytes or null.
    */
  private def dechunk(bytes: Array[Byte], off: Int, end: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(16, end - off))
    var p = off
    while (true) {
      // hex size line
      val s = p
      while (p + 1 < end && !(bytes(p) == '\r' && bytes(p + 1) == '\n')) p += 1
      if (p + 1 >= end) return null
      val line = new String(bytes, s, p - s, "US-ASCII")
      p += 2
      if (line.isEmpty || line.length > 7 ||
        !line.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F'))) return null
      val size = Integer.parseInt(line, 16)
      if (size == 0) {
        // empty trailer section: exactly CRLF, and the body ends here
        if (p + 2 > end || bytes(p) != '\r' || bytes(p + 1) != '\n') return null
        if (p + 2 != end) return null // trailing bytes after the terminator
        return out.toByteArray
      }
      if (p + size + 2 > end) return null // chunk data + CRLF must fit
      out.write(bytes, p, size)
      p += size
      if (bytes(p) != '\r' || bytes(p + 1) != '\n') return null
      p += 2
    }
    null // unreachable
  }

  /** Per-asset decode result; -1 stats when invalid. */
  final case class Decoded(valid: Boolean, nRecords: Long, nResponses: Long,
      contentBytes: Long, sumPayload: Long)

  private val Invalid = Decoded(valid = false, -1, -1, -1, -1)

  /** Accumulated while walking records. */
  private final class Acc {
    var nRecords = 0L
    var nResponses = 0L
    var contentBytes = 0L
    var sumPayload = 0L
  }

  /** Per-record view filled by [[parseRecord]] when requested: the WARC
    * headers the HTTP layer needs plus the block span inside `buf`.
    * WARC-Concurrent-To may legally repeat (ISO 28500), hence the list.
    */
  private final class RecView {
    var buf: Array[Byte] = null
    var warcType: String = null
    var recordId: String = null
    var contentType: String = null
    var concurrentTo: List[String] = Nil
    var blockOff: Int = 0
    var blockLen: Int = 0
  }

  /** Parse ONE record at `off`; returns the byte position after its
    * terminator, or -1 when malformed. When `view` is non-null it is
    * reset and filled with the record's identity and block span.
    */
  private def parseRecord(bytes: Array[Byte], off: Int, end: Int,
      acc: Acc, view: RecView = null): Int = {
    var p = off
    def line(): String = {
      val s = p
      while (p + 1 < end && !(bytes(p) == '\r' && bytes(p + 1) == '\n')) p += 1
      if (p + 1 >= end) return null
      val out = new String(bytes, s, p - s, "US-ASCII")
      p += 2
      out
    }
    val version = line()
    if (version == null || (version != "WARC/1.0" && version != "WARC/1.1"))
      return -1
    var warcType: String = null
    var recordId: String = null
    var date: String = null
    var contentType: String = null
    var contentLen = -1L
    var concurrentTo: List[String] = Nil
    var done = false
    while (!done) {
      val l = line()
      if (l == null) return -1
      if (l.isEmpty) done = true
      else {
        // ISO 28500 grammar: field-name ":" *WS field-value — the space
        // after the colon is OPTIONAL ("Name:value" is conformant), and
        // a field-name is a token (no whitespace inside it)
        val sep = l.indexOf(':')
        if (sep <= 0) return -1
        val name = l.substring(0, sep)
        if (name.exists(c => c == ' ' || c == '\t')) return -1
        val value = l.substring(sep + 1).dropWhile(c => c == ' ' || c == '\t')
        name match {
          // each mandatory header exactly once
          case "WARC-Type" =>
            if (warcType != null) return -1
            warcType = value
          case "WARC-Record-ID" =>
            if (recordId != null) return -1
            if (!(value.startsWith("<") && value.endsWith(">"))) return -1
            recordId = value
          case "WARC-Date" =>
            if (date != null) return -1
            date = value
          case "Content-Length" =>
            if (contentLen >= 0) return -1
            if (value.isEmpty || !value.forall(_.isDigit) ||
              value.length > 12) return -1
            contentLen = value.toLong
          case "WARC-Concurrent-To" =>
            // spec-legal to repeat; each value is a bracketed uri
            if (!(value.startsWith("<") && value.endsWith(">"))) return -1
            concurrentTo ::= value
          case "Content-Type" =>
            // optional per ISO 28500, but at most once — it decides
            // whether a response block gets the RFC 9112 parse
            if (contentType != null) return -1
            contentType = value
          case _ => () // unknown headers are spec-legal, skipped
        }
      }
    }
    if (warcType == null || recordId == null || date == null ||
      contentLen < 0) return -1
    if (p + contentLen + 4 > end) return -1 // block + \r\n\r\n must fit
    var sum = 0L
    var i = p
    val blockEnd = p + contentLen.toInt
    while (i < blockEnd) { sum += bytes(i) & 0xff; i += 1 }
    p = blockEnd
    if (bytes(p) != '\r' || bytes(p + 1) != '\n' ||
      bytes(p + 2) != '\r' || bytes(p + 3) != '\n') return -1
    acc.nRecords += 1
    if (warcType == "response") acc.nResponses += 1
    acc.contentBytes += contentLen
    acc.sumPayload += sum
    if (view != null) {
      view.buf = bytes
      view.warcType = warcType
      view.recordId = recordId
      view.contentType = contentType
      view.concurrentTo = concurrentTo
      view.blockOff = blockEnd - contentLen.toInt
      view.blockLen = contentLen.toInt
    }
    p + 4
  }

  /** Plain-shape decode: concatenated records to exact EOF. */
  def decodeWarc(bytes: Array[Byte]): Decoded = {
    val acc = new Acc
    var p = 0
    while (p < bytes.length) {
      p = parseRecord(bytes, p, bytes.length, acc)
      if (p < 0) return Invalid
    }
    if (acc.nRecords < 1) return Invalid
    Decoded(valid = true, acc.nRecords, acc.nResponses, acc.contentBytes,
      acc.sumPayload)
  }

  /** Inflate ONE gzip member starting at `p`: verifies the fixed header,
    * the CRC32 and ISIZE trailers, and the incremental zip-bomb bound.
    * Returns (inflated bytes, position after the member) or null when
    * the member is malformed.
    */
  private def inflateMember(bytes: Array[Byte], p: Int): (Array[Byte], Int) = {
    val n = bytes.length
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    if (p + 18 > n) return null // header + trailer minimum
    if ((bytes(p) & 0xff) != 0x1f || (bytes(p + 1) & 0xff) != 0x8b)
      return null
    if ((bytes(p + 2) & 0xff) != 8) return null // DEFLATE only
    if ((bytes(p + 3) & 0xff) != 0) return null // no optional fields
    val dataOff = p + 10
    val inf = new java.util.zip.Inflater(true) // raw deflate
    inf.setInput(bytes, dataOff, n - dataOff)
    val out = new java.io.ByteArrayOutputStream(8192)
    val buf = new Array[Byte](8192)
    // read getRemaining BEFORE end() frees the native state (after
    // end() it reports nothing useful)
    var remaining = -1
    try {
      while (!inf.finished()) {
        val k = inf.inflate(buf)
        if (k == 0 && !inf.finished()) return null // truncated member
        out.write(buf, 0, k)
        // zip-bomb bound, tracked INCREMENTALLY against the bytes this
        // member has actually consumed so far (inf.getBytesRead):
        // DEFLATE's maximum expansion is 1032:1, so output beyond
        // 1032x the consumed input (+64 KiB flush slack) is a forgery
        // regardless of how many bytes the rest of the archive holds
        if (out.size() > inf.getBytesRead * 1032L + 65536L) return null
      }
      remaining = inf.getRemaining
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    val rec = out.toByteArray
    val consumed = (n - dataOff) - remaining
    val trailer = dataOff + consumed
    if (trailer + 8 > n) return null
    val crc = new java.util.zip.CRC32
    crc.update(rec)
    if (u32(trailer) != crc.getValue) return null
    if (u32(trailer + 4) != (rec.length.toLong & 0xffffffffL)) return null
    (rec, trailer + 8)
  }

  /** Record-gzip decode: walk gzip members, inflate each with CRC32 +
    * ISIZE verification, require each member to hold exactly one record.
    */
  def decodeWarcGz(bytes: Array[Byte]): Decoded = {
    val n = bytes.length
    val acc = new Acc
    var p = 0
    while (p < n) {
      val m = inflateMember(bytes, p)
      if (m == null) return Invalid
      val (rec, next) = m
      // exactly one record per member (the splittable-archive contract)
      val after = parseRecord(rec, 0, rec.length, acc)
      if (after != rec.length) return Invalid
      p = next
    }
    if (acc.nRecords < 1) return Invalid
    Decoded(valid = true, acc.nRecords, acc.nResponses, acc.contentBytes,
      acc.sumPayload)
  }

  // ------------------------------------------------------------------
  // The HTTP layer (E250): a response record's block in a real crawl is
  // an RFC 9112 HTTP message — the very first parse every crawl
  // consumer runs, because the message BODY is the document a training
  // pipeline actually wants.
  // ------------------------------------------------------------------

  /** HTTP message head facts captured by [[parseHttpHead]]. */
  private final class HttpView {
    var status = -1
    var contentLength = -1L
    var chunked = false
    var nHeaders = 0L
    var contentType = ""
  }

  /** Parse an RFC 9112 message head (status/request line + header
    * fields + empty line) inside `[off, end)`. Returns the absolute
    * body offset, or -1 when malformed. Strict: the status line must be
    * `HTTP/1.<0|1> SP 3DIGIT [SP reason]`, the request line
    * `token SP target SP HTTP/1.<0|1>`; header names are tokens (no
    * whitespace), values take `*WS` after the colon; a repeated
    * Content-Length is the RFC's message-smuggling error and rejects.
    */
  private def parseHttpHead(bytes: Array[Byte], off: Int, end: Int,
      response: Boolean, hv: HttpView): Int = {
    var p = off
    def line(): String = {
      val s = p
      while (p + 1 < end && !(bytes(p) == '\r' && bytes(p + 1) == '\n')) p += 1
      if (p + 1 >= end) return null
      val out = new String(bytes, s, p - s, "US-ASCII")
      p += 2
      out
    }
    val start = line()
    if (start == null) return -1
    if (response) {
      // HTTP-version SP status-code SP [reason-phrase]
      if (!(start.startsWith("HTTP/1.1 ") || start.startsWith("HTTP/1.0 ")))
        return -1
      val rest = start.substring(9)
      if (rest.length < 3 || !rest.substring(0, 3).forall(_.isDigit)) return -1
      if (rest.length > 3 && rest.charAt(3) != ' ') return -1
      val status = rest.substring(0, 3).toInt
      if (status < 100 || status > 599) return -1
      hv.status = status
    } else {
      // method SP request-target SP HTTP-version
      val parts = start.split(" ", -1)
      if (parts.length != 3) return -1
      if (parts(0).isEmpty ||
        !parts(0).forall(c => c >= 'A' && c <= 'Z')) return -1
      if (parts(1).isEmpty) return -1
      if (parts(2) != "HTTP/1.1" && parts(2) != "HTTP/1.0") return -1
    }
    var done = false
    while (!done) {
      val l = line()
      if (l == null) return -1
      if (l.isEmpty) done = true
      else {
        val sep = l.indexOf(':')
        if (sep <= 0) return -1
        val name = l.substring(0, sep)
        if (name.exists(c => c == ' ' || c == '\t')) return -1
        val value = l.substring(sep + 1).dropWhile(c => c == ' ' || c == '\t')
        hv.nHeaders += 1
        if (name.equalsIgnoreCase("Content-Type")) hv.contentType = value
        if (name.equalsIgnoreCase("Content-Length")) {
          if (hv.contentLength >= 0) return -1 // duplicate CL: smuggling
          if (value.isEmpty || !value.forall(_.isDigit) ||
            value.length > 12) return -1
          hv.contentLength = value.toLong
        } else if (name.equalsIgnoreCase("Transfer-Encoding")) {
          if (hv.chunked) return -1 // duplicate TE: smuggling
          // the fixture contract (and the overwhelming real case) is the
          // single "chunked" coding; coding lists are out of scope
          if (!value.equalsIgnoreCase("chunked")) return -1
          hv.chunked = true
        }
      }
    }
    p
  }

  /** Split a WARC Content-Type header into (media type, msgtype param),
    * both lowercased; (null, null) when absent. The media type decides
    * whether a record block gets the RFC 9112 parse at all — ISO 28500
    * allows response records for non-HTTP protocols (DNS, FTP, ...),
    * which must stay opaque, not false-invalidate the archive.
    */
  private def contentTypeParts(ct: String): (String, String) = {
    if (ct == null) return (null, null)
    val semi = ct.indexOf(';')
    val media = (if (semi < 0) ct else ct.substring(0, semi)).trim.toLowerCase
    var msg: String = null
    if (semi >= 0) ct.substring(semi + 1).split(";").foreach { p =>
      val eq = p.indexOf('=')
      if (eq > 0) {
        val k = p.substring(0, eq).trim.toLowerCase
        var v = p.substring(eq + 1).trim
        if (v.length >= 2 && v.startsWith("\"") && v.endsWith("\""))
          v = v.substring(1, v.length - 1)
        if (k == "msgtype") msg = v.toLowerCase
      }
    }
    (media, msg)
  }

  /** One extracted response document (the fan-out row). */
  final case class HttpRecord(recIdx: Long, status: Long, bodyLen: Long,
      bodySum: Long, body: Array[Byte], contentType: String = "",
      nHeaders: Long = 0L)

  /** Archive-level HTTP stats; -1 when invalid. */
  final case class HttpDecoded(valid: Boolean, nRecords: Long,
      nRequests: Long, nResponses: Long, n200: Long, bodyBytes: Long,
      sumBody: Long, nPaired: Long)

  private val HttpInvalid =
    HttpDecoded(valid = false, -1, -1, -1, -1, -1, -1, -1)

  /** Walk a crawl-shaped WARC (plain or record-gzip) and parse the HTTP
    * layer of every request/response record: status codes, bodies,
    * Content-Length verification, and WARC-Concurrent-To pairing.
    * Returns the archive stats plus (when `collect`) one
    * [[HttpRecord]] per response in archive order.
    */
  def decodeWarcHttp(bytes: Array[Byte], gz: Boolean, collect: Boolean):
      (HttpDecoded, Seq[HttpRecord]) = {
    val acc = new Acc
    val view = new RecView
    var nRequests = 0L
    var n200 = 0L
    var bodyBytes = 0L
    var sumBody = 0L
    val responseIds = new scala.collection.mutable.HashSet[String]
    var requestLinks: List[List[String]] = Nil
    val out = if (collect)
      scala.collection.mutable.ArrayBuffer.empty[HttpRecord] else null
    var respIdx = 0L

    def invalid: (HttpDecoded, Seq[HttpRecord]) = (HttpInvalid, Nil)

    // per-record HTTP work; returns false to invalidate the archive
    def onRecord(): Boolean = {
      // record ids are globally unique (ISO 28500) — pairing integrity
      // depends on it, so a duplicate is a visible finding
      if (view.warcType == "response" && !responseIds.add(view.recordId))
        return false
      val blockEnd = view.blockOff + view.blockLen
      // the RFC 9112 parse is gated on the record's Content-Type (ISO
      // 28500): only application/http blocks are HTTP messages; response
      // records captured from other protocols stay opaque — counted in
      // n_records/n_responses, never parsed, never invalidating. A
      // msgtype parameter that CONTRADICTS the WARC-Type is a forgery.
      val (media, msgtype) = contentTypeParts(view.contentType)
      val isHttp = media == "application/http"
      view.warcType match {
        case "response" if isHttp =>
          if (msgtype != null && msgtype != "response") return false
          val hv = new HttpView
          val bodyOff =
            parseHttpHead(view.buf, view.blockOff, blockEnd, response = true, hv)
          if (bodyOff < 0) return false
          // Content-Length AND Transfer-Encoding together is the RFC's
          // canonical request-smuggling vector — a visible finding
          if (hv.chunked && hv.contentLength >= 0) return false
          val body: Array[Byte] =
            if (hv.chunked) {
              val d = dechunk(view.buf, bodyOff, blockEnd)
              if (d == null) return false
              d
            } else {
              // an HTTP Content-Length that lies about the body is a
              // truncated or smuggled message, not a document
              if (hv.contentLength >= 0 &&
                hv.contentLength != blockEnd - bodyOff) return false
              java.util.Arrays.copyOfRange(view.buf, bodyOff, blockEnd)
            }
          var s = 0L
          var i = 0
          while (i < body.length) { s += body(i) & 0xff; i += 1 }
          if (hv.status == 200) n200 += 1
          bodyBytes += body.length
          sumBody += s
          if (out != null)
            out += HttpRecord(respIdx, hv.status, body.length, s, body,
              hv.contentType, hv.nHeaders)
          respIdx += 1
        case "request" =>
          if (isHttp) {
            if (msgtype != null && msgtype != "request") return false
            val hv = new HttpView
            val bodyOff = parseHttpHead(view.buf, view.blockOff, blockEnd,
              response = false, hv)
            if (bodyOff < 0) return false
            if (hv.chunked && hv.contentLength >= 0) return false
            if (hv.chunked) {
              if (dechunk(view.buf, bodyOff, blockEnd) == null) return false
            } else if (hv.contentLength >= 0 &&
              hv.contentLength != blockEnd - bodyOff) return false
          }
          // request COUNT and Concurrent-To pairing are WARC-level
          // facts, protocol-independent
          nRequests += 1
          requestLinks ::= view.concurrentTo
        case _ => () // warcinfo/metadata and non-HTTP responses stay opaque
      }
      true
    }

    if (gz) {
      var p = 0
      while (p < bytes.length) {
        val m = inflateMember(bytes, p)
        if (m == null) return invalid
        val (rec, next) = m
        val after = parseRecord(rec, 0, rec.length, acc, view)
        if (after != rec.length) return invalid
        if (!onRecord()) return invalid
        p = next
      }
    } else {
      var p = 0
      while (p < bytes.length) {
        p = parseRecord(bytes, p, bytes.length, acc, view)
        if (p < 0) return invalid
        if (!onRecord()) return invalid
      }
    }
    if (acc.nRecords < 1) return invalid
    // request→response pairing via WARC-Concurrent-To (a request is
    // paired when ANY of its links resolves to a response in-archive)
    val nPaired = requestLinks.count(_.exists(responseIds.contains))
    (HttpDecoded(valid = true, acc.nRecords, nRequests, acc.nResponses,
      n200, bodyBytes, sumBody, nPaired),
      if (out == null) Nil else out.toSeq)
  }
}

/** `graft_warc_encode(bytes, recordBytes, gz)`: payload → WARC archive of
  * ⌊len/recordBytes⌋ response records, plain or per-record-gzip'd (null
  * when no full record fits).
  */
case class WarcEncode(child: Expression, recordBytes: Int, gz: Boolean)
    extends UnaryExpression with CodegenFallback {
  require(recordBytes >= 1, "recordBytes must be positive")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_warc_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    if (gz) WarcCodec.encodeWarcGz(input.asInstanceOf[Array[Byte]], recordBytes)
    else WarcCodec.encodeWarc(input.asInstanceOf[Array[Byte]], recordBytes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_warc_decode(bytes, gz)`: strict WARC parse (plain or
  * record-gzip) → per-archive stats struct.
  */
case class WarcDecode(child: Expression, gz: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("n_records", LongType, nullable = true),
    StructField("n_responses", LongType, nullable = true),
    StructField("content_bytes", LongType, nullable = true),
    StructField("sum_payload", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_warc_decode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val d =
      if (gz) WarcCodec.decodeWarcGz(input.asInstanceOf[Array[Byte]])
      else WarcCodec.decodeWarc(input.asInstanceOf[Array[Byte]])
    if (d.valid)
      InternalRow(true, d.nRecords, d.nResponses, d.contentBytes, d.sumPayload)
    else InternalRow(false, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_warc_http_encode(bytes, bodyBytes, gz)`: payload → crawl-shaped
  * WARC of request+response record pairs whose blocks are real RFC 9112
  * HTTP messages (null when no full body slice fits).
  */
case class WarcHttpEncode(child: Expression, bodyBytes: Int, gz: Boolean,
    chunked: Boolean = false, mixed: Boolean = false, html: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(bodyBytes >= 1, "bodyBytes must be positive")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_warc_http_encode expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    WarcCodec.encodeWarcHttp(input.asInstanceOf[Array[Byte]], bodyBytes, gz,
      chunked, mixed, html)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_warc_http_stats(bytes, gz)`: strict WARC walk + RFC 9112 parse
  * of every request/response block + WARC-Concurrent-To pairing →
  * per-archive HTTP stats struct.
  */
case class WarcHttpStats(child: Expression, gz: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("is_valid", BooleanType, nullable = false),
    StructField("n_records", LongType, nullable = true),
    StructField("n_requests", LongType, nullable = true),
    StructField("n_responses", LongType, nullable = true),
    StructField("n_200", LongType, nullable = true),
    StructField("body_bytes", LongType, nullable = true),
    StructField("sum_body", LongType, nullable = true),
    StructField("n_paired", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_warc_http_stats expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val (d, _) = WarcCodec.decodeWarcHttp(input.asInstanceOf[Array[Byte]],
      gz, collect = false)
    if (d.valid)
      InternalRow(true, d.nRecords, d.nRequests, d.nResponses, d.n200,
        d.bodyBytes, d.sumBody, d.nPaired)
    else InternalRow(false, null, null, null, null, null, null, null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_warc_http_records(bytes, gz)`: the body-EXTRACTION operator —
  * one element per response record in archive order, carrying the HTTP
  * status, the extracted body bytes, and the body stats the oracle
  * reads off raw payload slices. Null when the archive is invalid.
  */
case class WarcHttpRecords(child: Expression, gz: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rec_idx", LongType, nullable = false),
    StructField("status", LongType, nullable = false),
    StructField("body_len", LongType, nullable = false),
    StructField("body_sum", LongType, nullable = false),
    StructField("body", BinaryType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("n_headers", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_warc_http_records expects binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val (d, recs) = WarcCodec.decodeWarcHttp(input.asInstanceOf[Array[Byte]],
      gz, collect = true)
    if (!d.valid) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      recs.map(r => InternalRow(r.recIdx, r.status, r.bodyLen, r.bodySum,
        r.body, org.apache.spark.unsafe.types.UTF8String
          .fromString(r.contentType), r.nHeaders)).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WarcNativeFunctions {

  def warcEncode(bytes: Column, recordBytes: Int, gz: Boolean): Column =
    ColumnBridge.column(WarcEncode(ColumnBridge.expression(bytes), recordBytes, gz))

  def warcDecode(bytes: Column, gz: Boolean): Column =
    ColumnBridge.column(WarcDecode(ColumnBridge.expression(bytes), gz))

  def warcHttpEncode(bytes: Column, bodyBytes: Int, gz: Boolean,
      chunked: Boolean = false, mixed: Boolean = false, html: Boolean = false): Column =
    ColumnBridge.column(
      WarcHttpEncode(ColumnBridge.expression(bytes), bodyBytes, gz, chunked, mixed, html))

  def warcHttpStats(bytes: Column, gz: Boolean): Column =
    ColumnBridge.column(WarcHttpStats(ColumnBridge.expression(bytes), gz))

  def warcHttpRecords(bytes: Column, gz: Boolean): Column =
    ColumnBridge.column(WarcHttpRecords(ColumnBridge.expression(bytes), gz))
}
