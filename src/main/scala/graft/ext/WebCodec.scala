package graft.ext

import java.util.zip.{CRC32, Deflater, Inflater}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-corpus ingestion tier: the front door of a training-data pipeline
  * (Common-Crawl-shaped WARC archives → HTTP responses → HTML → text).
  *
  * Three real byte-level layers, composed exactly like the media tier's
  * container/codec stacks:
  *
  *   - '''gzip member walk''' (RFC 1952): magic/flags/optional-field
  *     header parse byte-by-byte, raw-DEFLATE inflate via the JDK's
  *     `Inflater` (the same house precedent as [[Multimodal.PngCodec]]'s
  *     zlib), CRC32 + ISIZE verified per member, multi-member streams
  *     walked to EOF — the WARC convention is one gzip member PER RECORD.
  *   - '''WARC record walk''' (ISO 28500 / WARC 1.0): version line,
  *     header block, `Content-Length`-framed payload, the mandatory
  *     `\r\n\r\n` record terminator; truncation, version drift, length
  *     mismatch, or trailing garbage poison the whole file (None).
  *   - '''HTTP/1.1 response parse''': status line, headers,
  *     `Content-Length`-framed body, exact consumption required.
  *
  * The text layer (tag strip, entity decode, whitespace collapse, title
  * extraction) is PURE COLUMN — regexp_replace/replace chains chosen to
  * be dialect-identical between Spark's Java regex and DuckDB's RE2, so
  * every query carries a full SQL oracle.
  *
  * Synthesis mirrors the media tier: deterministic payloads built from
  * the `documents` table (JVM twins of the oracle's string formulas),
  * three compression variants (plain / gzip-STORED hand-rolled / gzip
  * dynamic-Huffman via `Deflater`) keyed by doc_id % 3.
  *
  * Reference behavior covered: none — the reference app has no archive
  * ingestion; this tier exists for the 100 TB training-data mandate
  * (WARC is the format the real corpora arrive in).
  */
object WebCodec {

  // ------------------------------------------------------------------
  // gzip (RFC 1952) — member walk, header parse, CRC32/ISIZE verify
  // ------------------------------------------------------------------

  private val FTEXT = 1
  private val FHCRC = 2
  private val FEXTRA = 4
  private val FNAME = 8
  private val FCOMMENT = 16

  /** gzip-bomb cap (r16 review): ISIZE sits at the member's END, so a
    * crafted high-ratio stream could demand gigabytes of inflate buffer
    * before the size check ever runs. 256 MiB bounds any legitimate
    * record/sitemap/entity in this tier by orders of magnitude —
    * beyond it the member poisons (the zipParse usize-cap posture). */
  private val MaxInflatedMember = 256 << 20

  /** Walk a (possibly multi-member) gzip stream; Some(payloads) only if
    * every member's header grammar, CRC32, and ISIZE check out and the
    * stream ends exactly at a member boundary. */
  def gunzipMembers(bytes: Array[Byte]): Option[Vector[Array[Byte]]] = {
    var pos = 0
    val out = Vector.newBuilder[Array[Byte]]
    while (pos < bytes.length) {
      val memberStart = pos
      if (pos + 10 > bytes.length) return None
      if ((bytes(pos) & 0xff) != 0x1f || (bytes(pos + 1) & 0xff) != 0x8b)
        return None
      if (bytes(pos + 2) != 8) return None // CM must be deflate
      val flg = bytes(pos + 3) & 0xff
      if ((flg & ~(FTEXT | FHCRC | FEXTRA | FNAME | FCOMMENT)) != 0)
        return None // reserved flag bits set
      pos += 10 // magic, CM, FLG, MTIME(4), XFL, OS
      if ((flg & FEXTRA) != 0) {
        if (pos + 2 > bytes.length) return None
        val xlen = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8)
        pos += 2 + xlen
        if (pos > bytes.length) return None
      }
      if ((flg & FNAME) != 0) {
        while (pos < bytes.length && bytes(pos) != 0) pos += 1
        if (pos >= bytes.length) return None
        pos += 1
      }
      if ((flg & FCOMMENT) != 0) {
        while (pos < bytes.length && bytes(pos) != 0) pos += 1
        if (pos >= bytes.length) return None
        pos += 1
      }
      if ((flg & FHCRC) != 0) {
        // RFC 1952: CRC16 = low 16 bits of the CRC32 over every header
        // byte so far — VERIFIED, not skipped (review r15)
        if (pos + 2 > bytes.length) return None
        val hc = new CRC32(); hc.update(bytes, memberStart, pos - memberStart)
        val want = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8)
        if ((hc.getValue & 0xffffL).toInt != want) return None
        pos += 2
      }
      // raw DEFLATE body: JDK Inflater in nowrap mode (house precedent:
      // PngCodec's zlib inflate). Feed the remainder; the inflater tells
      // us where the compressed data ended.
      val inf = new Inflater(true)
      inf.setInput(bytes, pos, bytes.length - pos)
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      try {
        while (!inf.finished()) {
          val n =
            try inf.inflate(chunk)
            catch { case _: java.util.zip.DataFormatException => return None }
          if (n > 0) {
            if (buf.size() + n > MaxInflatedMember) return None // bomb
            buf.write(chunk, 0, n)
          } else if (inf.needsInput()) return None // truncated member
        }
        val consumed = (bytes.length - pos) - inf.getRemaining
        pos += consumed
      } finally inf.end()
      val data = buf.toByteArray
      if (pos + 8 > bytes.length) return None
      val crc = new CRC32(); crc.update(data)
      val wantCrc = le32(bytes, pos); pos += 4
      val wantIsize = le32(bytes, pos); pos += 4
      if ((crc.getValue & 0xffffffffL) != wantCrc) return None
      if ((data.length.toLong & 0xffffffffL) != wantIsize) return None
      out += data
    }
    Some(out.result())
  }

  private def le32(b: Array[Byte], p: Int): Long = Le.le32(b, p)
  private def le32put(out: java.io.ByteArrayOutputStream, v: Long): Unit =
    Le.w32(out, v)

  /** One gzip member holding `data` as hand-rolled STORED deflate blocks
    * (fully deterministic: no compressor involved — the same legal-
    * DEFLATE-subset trick PngCodec's synth uses). */
  def gzipStored(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(0)
    le32put(out, 0L); out.write(0); out.write(255) // MTIME=0, XFL, OS=unknown
    var p = 0
    if (data.isEmpty) { // one final empty STORED block
      out.write(1); out.write(0); out.write(0); out.write(0xff); out.write(0xff)
    }
    while (p < data.length) {
      val n = math.min(65535, data.length - p)
      val fin = if (p + n >= data.length) 1 else 0
      out.write(fin)
      out.write(n & 0xff); out.write((n >> 8) & 0xff)
      out.write((n ^ 0xffff) & 0xff); out.write(((n ^ 0xffff) >> 8) & 0xff)
      out.write(data, p, n)
      p += n
    }
    val crc = new CRC32(); crc.update(data)
    le32put(out, crc.getValue & 0xffffffffL)
    le32put(out, data.length.toLong & 0xffffffffL)
    out.toByteArray
  }

  /** One gzip member via the JDK `Deflater` (real dynamic-Huffman
    * streams for the inflate path to chew on), with an FNAME field to
    * exercise the optional-header walk. */
  def gzipDeflate(data: Array[Byte], fname: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(FNAME)
    le32put(out, 0L); out.write(0); out.write(255)
    fname.getBytes("UTF-8").foreach(b => out.write(b & 0xff))
    out.write(0)
    val d = new Deflater(6, true)
    d.setInput(data); d.finish()
    val chunk = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(chunk)
      out.write(chunk, 0, n)
    }
    d.end()
    val crc = new CRC32(); crc.update(data)
    le32put(out, crc.getValue & 0xffffffffL)
    le32put(out, data.length.toLong & 0xffffffffL)
    out.toByteArray
  }

  /** One zlib (RFC 1950) stream holding `data` — the wire form of
    * HTTP `Content-Encoding: deflate` per RFC 9110 (which means
    * zlib-WRAPPED deflate, not raw). Synthesis twin of [[inflateZlib]]. */
  def zlibDeflate(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new Deflater(6, false) // nowrap=false: zlib header + Adler-32
    d.setInput(data); d.finish()
    val chunk = new Array[Byte](8192)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    out.toByteArray
  }

  /** Inflate one zlib stream: header + Adler-32 verified by the JDK
    * Inflater, the 256 MiB bomb cap enforced, and the stream must end
    * exactly at the payload boundary — trailing bytes, truncation, or
    * corruption poison (None), the house never-throw contract. */
  def inflateZlib(bytes: Array[Byte]): Option[Array[Byte]] = {
    val inf = new Inflater(false)
    inf.setInput(bytes)
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n =
          try inf.inflate(chunk)
          catch { case _: java.util.zip.DataFormatException => return None }
        if (n > 0) {
          if (buf.size() + n > MaxInflatedMember) return None // bomb cap
          buf.write(chunk, 0, n)
        } else if (!inf.finished() && inf.needsInput()) return None // truncated
        // (a zero-output FINAL call is legal: an empty payload, or an
        // inflated size that is an exact multiple of the 8 KiB chunk,
        // ends with inflate() == 0 and finished() == true — the while
        // condition exits; only a 0 with the stream UNfinished and the
        // input exhausted is a truncation)
      }
      if (inf.getRemaining != 0) return None // trailing bytes
      Some(buf.toByteArray)
    } finally inf.end()
  }

  // ------------------------------------------------------------------
  // WARC 1.0 record walk
  // ------------------------------------------------------------------

  final case class WarcRecord(
      warcType: String, targetUri: String, payload: Array[Byte],
      refersTo: String = "", payloadDigest: String = "",
      date: String = "", truncated: String = "")

  private val CRLF = "\r\n"

  /** Strict bounded decimal parse: digits only, no sign, and the value
    * must fit an Int AND not exceed `cap` — anything else is None
    * rather than a NumberFormatException (the never-throw contract). */
  private def parseDecimal(value: String, cap: Long): Option[Int] = {
    // ASCII '0'..'9' ONLY — Char.isDigit also admits Unicode decimal
    // digits (U+0663 …) whose charAt-'0' arithmetic would be garbage
    // (review r15 second pass)
    if (value.isEmpty ||
        !value.forall(c => c >= '0' && c <= '9')) return None
    var v = 0L
    var i = 0
    while (i < value.length) {
      v = v * 10 + (value.charAt(i) - '0')
      if (v > cap || v > Int.MaxValue) return None
      i += 1
    }
    Some(v.toInt)
  }

  /** Parse one record starting at `pos`; returns (record, nextPos) or
    * None on any grammar violation. */
  private def parseRecord(
      b: Array[Byte], pos0: Int): Option[(WarcRecord, Int)] = {
    var pos = pos0
    def readLine(): Option[String] = {
      var i = pos
      while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
      if (i + 1 >= b.length) None
      else {
        val s = new String(b, pos, i - pos, "ISO-8859-1")
        pos = i + 2
        Some(s)
      }
    }
    readLine() match {
      case Some("WARC/1.0") => ()
      case _ => return None
    }
    var warcType: String = null
    var uri: String = null
    var refersTo = ""
    var digest = ""
    var date = ""
    var truncated = ""
    var clen: Int = -1
    var done = false
    while (!done) {
      readLine() match {
        case None => return None
        case Some("") => done = true
        case Some(line) =>
          val k = line.indexOf(':')
          if (k <= 0) return None
          val name = line.substring(0, k)
          val value = line.substring(k + 1).trim
          name match {
            case "WARC-Type" => warcType = value
            case "WARC-Target-URI" => uri = value
            case "WARC-Refers-To-Target-URI" => refersTo = value
            case "WARC-Payload-Digest" => digest = value
            case "WARC-Date" => date = value
            case "WARC-Truncated" => truncated = value
            case "Content-Length" =>
              // digits-only AND in-range: a 10+-digit value must poison,
              // not throw from toInt; any value beyond the buffer can be
              // rejected immediately (review r15: overflow hardening).
              // A DUPLICATE Content-Length poisons — never last-wins
              // (the smuggling ambiguity class, review r16)
              if (clen >= 0) return None
              parseDecimal(value, b.length.toLong) match {
                case Some(v) => clen = v
                case None => return None
              }
            case _ => () // other headers carried but not interpreted
          }
      }
    }
    if (warcType == null || uri == null || clen < 0) return None
    if (pos.toLong + clen + 4 > b.length) return None
    val payload = java.util.Arrays.copyOfRange(b, pos, pos + clen)
    pos += clen
    // mandatory two-CRLF record terminator
    if (!(b(pos) == '\r' && b(pos + 1) == '\n' &&
          b(pos + 2) == '\r' && b(pos + 3) == '\n')) return None
    Some((WarcRecord(warcType, uri, payload, refersTo, digest, date,
      truncated), pos + 4))
  }

  /** Parse a WARC file: gzip (one member per record, per the WARC
    * convention) or plain concatenated records. All-or-nothing — any
    * bad member/record/trailing byte poisons the file. */
  def parseWarc(bytes: Array[Byte]): Option[Vector[WarcRecord]] = {
    if (bytes == null) return None // a null cell drops at the gate
    if (bytes.length >= 2 &&
        (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
      gunzipMembers(bytes).flatMap { members =>
        val recs = Vector.newBuilder[WarcRecord]
        for (m <- members) {
          parseRecord(m, 0) match {
            case Some((r, next)) if next == m.length => recs += r
            case _ => return None // member ≠ exactly one record
          }
        }
        Some(recs.result())
      }
    } else {
      var pos = 0
      val recs = Vector.newBuilder[WarcRecord]
      if (bytes.isEmpty) return None
      while (pos < bytes.length) {
        parseRecord(bytes, pos) match {
          case Some((r, next)) => recs += r; pos = next
          case None => return None
        }
      }
      Some(recs.result())
    }
  }

  /** A parsed HTTP/1.1 response. `body` is the entity AFTER
    * content-decoding (gunzip when Content-Encoding: gzip); `charset`
    * is the RESOLVED charset (lowercased; "" when nothing declared
    * anywhere — [[bodyText]] then sniffs) and `charsetSrc` records
    * where it came from, in WHATWG precedence order: "bom" (a
    * byte-order-mark signature, which outranks every declaration),
    * "header" (Content-Type parameter), "meta" (in-document
    * `<meta charset>` scanned in the first 1024 entity bytes, the
    * browser rule), or "sniff" (nothing declared);
    * `contentEncoding`/`chunked` record the wire form the message
    * arrived in (the downstream outputs must be invariant to both —
    * framing invariance). */
  final case class HttpResponse(status: Int, charset: String,
      charsetSrc: String, contentEncoding: String, chunked: Boolean,
      contentLengthHdr: Long, body: Array[Byte],
      location: String = "", trailers: Int = 0,
      retryAfter: Long = 0L, etag: String = "",
      mime: String = "") {
    /** The body as text, decoded per [[WebCodec.decodeText]]. */
    def bodyText: String = decodeText(body, charset)
  }

  /** Both in-document charset declaration forms (r17): the HTML5
    * `<meta charset=...>` AND the older — and on the real web far more
    * common — `<meta http-equiv="Content-Type" content="text/html;
    * charset=...">` pragma. One pattern, two capture groups; the
    * prescan takes whichever matched first. */
  private val MetaCharsetRe = java.util.regex.Pattern.compile(
    "<meta\\s+charset=[\"']?([A-Za-z0-9_-]+)" +
      "|<meta\\s+http-equiv=[\"']?content-type[\"']?\\s+" +
      "content=[\"']?[^\"'>]*charset=([A-Za-z0-9_-]+)",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  // ------------------------------------------------------------------
  // windows-1252 (WHATWG encoding standard) — the charset the real web
  // means when it says "latin-1" (r17, VERDICT r16 item 1)
  // ------------------------------------------------------------------

  /** WHATWG windows-1252 high half: bytes 0x80–0x9F → codepoints.
    * Clean-room from the published encoding-standard index; the five
    * undefined bytes (0x81 0x8D 0x8F 0x90 0x9D) map to the matching C1
    * controls per the WHATWG rule (the JDK's Cp1252 maps them to
    * U+FFFD instead — a lossy choice this table avoids, keeping
    * decode∘encode bijective). Bytes <0x80 and ≥0xA0 are identity. */
  private val Cp1252High: Array[Char] = {
    val a = Array.tabulate[Char](32)(i => (0x80 + i).toChar) // C1 default
    for ((b, cp) <- Seq(
      0x80 -> 0x20ac, 0x82 -> 0x201a, 0x83 -> 0x0192, 0x84 -> 0x201e,
      0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02c6,
      0x89 -> 0x2030, 0x8a -> 0x0160, 0x8b -> 0x2039, 0x8c -> 0x0152,
      0x8e -> 0x017d, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201c,
      0x94 -> 0x201d, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
      0x98 -> 0x02dc, 0x99 -> 0x2122, 0x9a -> 0x0161, 0x9b -> 0x203a,
      0x9c -> 0x0153, 0x9e -> 0x017e))
      a(b - 0x80) = cp.toChar
    a
  }
  private val Cp1252Enc: Map[Char, Int] =
    Cp1252High.zipWithIndex.map { case (c, i) => c -> (0x80 + i) }.toMap

  /** WHATWG windows-1252 decode: every byte maps 1:1 to a codepoint,
    * so this never fails — the deterministic sniff-fallback charset. */
  def decodeCp1252(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      sb.append(if (b >= 0x80 && b < 0xa0) Cp1252High(b - 0x80) else b.toChar)
      i += 1
    }
    sb.toString
  }

  /** Whether every char of `s` is windows-1252-representable. */
  def cp1252Encodable(s: String): Boolean =
    s.forall(c => (c < 0x80) || (c >= 0xa0 && c < 0x100) ||
      Cp1252Enc.contains(c))

  /** windows-1252 encode; the synth REQUIRES encodability up front
    * (ADVICE r16: getBytes' silent '?' substitution would diverge from
    * the oracle) — the zipBuild fail-fast posture. */
  def encodeCp1252(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      out(i) =
        if (c < 0x80 || (c >= 0xa0 && c < 0x100)) c.toByte
        else Cp1252Enc.getOrElse(c,
          throw new IllegalArgumentException(
            f"char U+${c.toInt}%04X is not windows-1252-representable")).toByte
      i += 1
    }
    out
  }

  val Utf8Bom: Array[Byte] = Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte)

  /** Byte-order-mark detection — per WHATWG, a BOM outranks EVERY
    * declaration, including the HTTP header. */
  def bomCharset(bytes: Array[Byte]): Option[String] =
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
        (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      Some("utf-8")
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe &&
        (bytes(1) & 0xff) == 0xff) Some("utf-16be")
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xfe) Some("utf-16le")
    else None

  /** Resolve (charset, source) for an entity, in WHATWG precedence
    * order: BOM → header-declared parameter → in-document meta
    * declaration within the first 1024 bytes (scanned Latin-1 — the
    * prelude is ASCII in any ASCII-compatible charset) → sniff. */
  def resolveCharset(declared: String, entity: Array[Byte],
      allowMeta: Boolean = true): (String, String) =
    bomCharset(entity) match {
      case Some(cs) => (cs, "bom")
      case None if declared.nonEmpty => (declared, "header")
      case None =>
        // the 1 KiB meta prescan is an HTML rule — a text/plain (or
        // any non-HTML) entity has no meta declaration to honor (r18)
        val m = if (allowMeta) {
          val prefix = new String(entity, 0,
            math.min(1024, entity.length), "ISO-8859-1")
          Some(MetaCharsetRe.matcher(prefix)).filter(_.find())
        } else None
        m match {
          case Some(mm) =>
            ((if (mm.group(1) != null) mm.group(1) else mm.group(2))
              .toLowerCase, "meta")
          case None => ("", "sniff")
        }
    }

  /** Strict UTF-8 decode: None on any malformed/unmappable sequence
    * (the JDK's default decoder silently substitutes U+FFFD — that
    * would turn mojibake into hash mismatches downstream). */
  def strictUtf8(bytes: Array[Byte]): Option[String] = {
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try Some(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => None }
  }

  /** Charset-aware text decode (r17): a UTF-16 charset (from a BOM)
    * decodes as such with the BOM stripped; latin-1-family labels AND
    * windows-1252 labels decode via the WHATWG cp1252 table (pages
    * labeled iso-8859-1 are overwhelmingly cp1252 on the real web —
    * the encoding standard aliases latin-1 TO cp1252, so 0x80–0x9F
    * bytes become curly quotes/dashes/€, not C1 controls); otherwise
    * (utf-8 declared, unknown, or absent) a BOM is honored first, then
    * strict UTF-8 with a cp1252 FALLBACK — the deterministic sniff
    * real pipelines use (cp1252 maps every byte, so it never fails). */
  def decodeText(bytes: Array[Byte], declared: String): String = {
    val cs = declared.toLowerCase
    if (cs == "utf-16le" || cs == "utf-16be") {
      val le = cs == "utf-16le"
      val hasBom = bytes.length >= 2 &&
        ((le && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe) ||
         (!le && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff))
      val body =
        if (hasBom) java.util.Arrays.copyOfRange(bytes, 2, bytes.length)
        else bytes
      new String(body, if (le) "UTF-16LE" else "UTF-16BE")
    } else if (cs == "iso-8859-1" || cs == "latin-1" || cs == "latin1" ||
               cs == "windows-1252" || cs == "cp1252")
      decodeCp1252(bytes)
    else bomCharset(bytes) match {
      case Some(b16) if b16.startsWith("utf-16") => decodeText(bytes, b16)
      case Some(_) => // UTF-8 BOM: a signature, stripped before decode
        val body = java.util.Arrays.copyOfRange(bytes, 3, bytes.length)
        strictUtf8(body).getOrElse(decodeCp1252(body))
      case None => strictUtf8(bytes).getOrElse(decodeCp1252(bytes))
    }
  }

  /** HTTP/1.1 response parse. Two transfer framings, strictly one per
    * message: exact Content-Length consumption, or Transfer-Encoding:
    * chunked (hex size lines, CRLF after every chunk, the 0-chunk
    * terminator ending the payload exactly; no trailers, no chunk
    * extensions — documented strict subset). Entity bodies may be
    * Content-Encoding: gzip (inflated through the same member walk the
    * WARC layer uses) or deflate (zlib-wrapped per RFC 9110, r17);
    * identity/absent passes through; any other coding poisons. Both framings present, neither present, bad hex,
    * or trailing bytes all poison. */
  /** Content-decode an entity per its (already-validated) coding:
    * gzip rides the shared member walk, deflate the zlib inflater,
    * identity/absent passes through. */
  private def decodeCoding(coding: String,
      b: Array[Byte]): Option[Array[Byte]] = coding match {
    case "gzip" => gunzipMembers(b).map(_.toArray.flatten)
    case "deflate" => inflateZlib(b)
    case _ => Some(b)
  }

  def parseHttpResponse(payload: Array[Byte],
      tolerateTruncated: Boolean = false): Option[HttpResponse] = {
    var pos = 0
    def readLine(): Option[String] = {
      var i = pos
      while (i + 1 < payload.length &&
             !(payload(i) == '\r' && payload(i + 1) == '\n')) i += 1
      if (i + 1 >= payload.length) None
      else {
        val s = new String(payload, pos, i - pos, "ISO-8859-1")
        pos = i + 2
        Some(s)
      }
    }
    val status = readLine() match {
      case Some(sl) if sl.startsWith("HTTP/1.1 ") && sl.length >= 12 =>
        val code = sl.substring(9, 12)
        if (!code.forall(_.isDigit)) return None
        code.toInt
      case _ => return None
    }
    var clen = -1
    var chunked = false
    var coding = "" // "" = header absent; "gzip"/"deflate"/"identity"
    var charset = ""
    var location = ""
    var retryAfter = 0L
    var etag = ""
    var mime = ""
    var done = false
    while (!done) {
      readLine() match {
        case None => return None
        case Some("") => done = true
        case Some(line) =>
          val k = line.indexOf(':')
          if (k <= 0) return None
          line.substring(0, k) match {
            case "Content-Length" =>
              // duplicate framing headers are the request-smuggling
              // ambiguity class — poison, never last-wins (review r16)
              if (clen >= 0) return None
              // a WARC-Truncated capture (r18) legitimately DECLARES
              // more than it stores — cap on the declared length only
              // when the capture claims to be complete
              parseDecimal(line.substring(k + 1).trim,
                if (tolerateTruncated) Int.MaxValue.toLong
                else payload.length.toLong) match {
                case Some(v) => clen = v
                case None => return None
              }
            case "Transfer-Encoding" =>
              if (chunked) return None // duplicate framing header
              if (line.substring(k + 1).trim.toLowerCase != "chunked")
                return None // unknown codings unsupported → poison
              chunked = true
            case "Content-Encoding" =>
              if (coding.nonEmpty) return None // duplicate coding header
              line.substring(k + 1).trim.toLowerCase match {
                case c @ ("gzip" | "deflate" | "identity") => coding = c
                case _ => return None // unsupported coding → poison
              }
            case "Location" =>
              location = line.substring(k + 1).trim
            case "Retry-After" =>
              // RFC 9110 delay-seconds form; the http-date form (and
              // any other non-digit value) reads as absent, not poison
              retryAfter = parseDecimal(line.substring(k + 1).trim,
                Int.MaxValue.toLong).map(_.toLong).getOrElse(0L)
            case "ETag" =>
              // kept verbatim incl. the quotes (they ARE the syntax)
              etag = line.substring(k + 1).trim
            case "Content-Type" =>
              // charset parameter, case-insensitive, token up to ; or EOL;
              // an optionally QUOTED value (charset="utf-8" — legal HTTP,
              // common in real WARCs) is unwrapped, not reported verbatim
              // (ADVICE r16)
              val v = line.substring(k + 1).toLowerCase
              // the media type itself (r18): the routing key — HTML
              // extracts, text/plain passes through, others are opaque
              mime = v.split(';')(0).trim
              val ci = v.indexOf("charset=")
              if (ci >= 0) {
                val tok = v.substring(ci + 8).trim
                  .takeWhile(c => c != ';' && c != ' ')
                charset =
                  if (tok.length >= 2 &&
                      ((tok.head == '"' && tok.last == '"') ||
                       (tok.head == '\'' && tok.last == '\'')))
                    tok.substring(1, tok.length - 1).trim
                  else tok
              }
            case _ => ()
          }
      }
    }
    val framed: Array[Byte] =
      if (chunked) {
        if (clen >= 0) return None // both framings present
        val body = new java.io.ByteArrayOutputStream()
        while (true) {
          val n = readLine() match {
            case Some(sz) if sz.nonEmpty && sz.forall(c =>
              c.isDigit || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')) =>
              try Integer.parseInt(sz, 16)
              catch { case _: NumberFormatException => return None }
            case _ => return None
          }
          if (n == 0) {
            // trailer section (RFC 9112 §7.1.2, r17): zero or more
            // field lines after the 0-chunk, then the final empty
            // line, which must END the payload exactly — a junk
            // trailer line or trailing bytes still poison
            var nTrailers = 0
            while (true) {
              readLine() match {
                case Some("") =>
                  if (pos != payload.length) return None
                  val b = body.toByteArray
                  val entity = decodeCoding(coding, b) match {
                    case Some(e) => e
                    case None => return None
                  }
                  val (cs, src) = resolveCharset(charset, entity,
                    allowMeta = mime.isEmpty || mime == "text/html")
                  return Some(HttpResponse(status, cs, src,
                    if (coding.isEmpty) "identity" else coding,
                    chunked = true, -1L, entity, location, nTrailers,
                    retryAfter, etag, mime))
                case Some(line) if line.indexOf(':') > 0 =>
                  nTrailers += 1
                case _ => return None
              }
            }
            return None // unreachable
          }
          if (pos.toLong + n + 2 > payload.length) return None
          body.write(payload, pos, n)
          pos += n
          if (payload(pos) != '\r' || payload(pos + 1) != '\n') return None
          pos += 2
        }
        return None // unreachable
      } else {
        if (clen < 0) return None
        if (pos + clen != payload.length) {
          // a WARC-Truncated capture (r18) legally stores a PREFIX of
          // the declared entity; anything else is still misframing
          if (!(tolerateTruncated && pos + clen > payload.length))
            return None
        }
        java.util.Arrays.copyOfRange(payload, pos,
          math.min(pos + clen, payload.length))
      }
    val entity = decodeCoding(coding, framed) match {
      case Some(e) => e
      case None => return None
    }
    val (cs, src) = resolveCharset(charset, entity,
      allowMeta = mime.isEmpty || mime == "text/html")
    Some(HttpResponse(status, cs, src,
      if (coding.isEmpty) "identity" else coding,
      chunked = false, clen.toLong, entity, location,
      retryAfter = retryAfter, etag = etag, mime = mime))
  }

  /** HTTP/1.1 request parse: (method, target). Request line + headers,
    * then the payload must END exactly (the synth corpus carries no
    * request bodies — a body poisons rather than misframes). */
  def parseHttpRequest(payload: Array[Byte]): Option[(String, String)] = {
    var pos = 0
    def readLine(): Option[String] = {
      var i = pos
      while (i + 1 < payload.length &&
             !(payload(i) == '\r' && payload(i + 1) == '\n')) i += 1
      if (i + 1 >= payload.length) None
      else {
        val s = new String(payload, pos, i - pos, "ISO-8859-1")
        pos = i + 2
        Some(s)
      }
    }
    val (method, target) = readLine() match {
      case Some(rl) =>
        val parts = rl.split(" ", -1)
        if (parts.length != 3 || parts(2) != "HTTP/1.1") return None
        if (parts(0).isEmpty || !parts(0).forall(c => c >= 'A' && c <= 'Z'))
          return None
        (parts(0), parts(1))
      case None => return None
    }
    var done = false
    while (!done) {
      readLine() match {
        case None => return None
        case Some("") => done = true
        case Some(line) => if (line.indexOf(':') <= 0) return None
      }
    }
    if (pos != payload.length) return None
    Some((method, target))
  }

  // ------------------------------------------------------------------
  // Deterministic synthesis from `documents` (JVM twins of the SQL
  // oracle formulas — keep in LOCKSTEP with the web* oracles in
  // ExtQueries and with the pure-Column builders below)
  // ------------------------------------------------------------------

  def escapeHtml(text: String): String =
    text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** The six i18n phrases (r16 non-ASCII axis; r17 adds NAMED entity
    * references — &eacute; &mdash; &hellip; &copy; … — beside the
    * numeric ones): character references mixed with literal non-ASCII
    * text. Index 0/1 are Latin-1-representable as RAW text (refs are
    * ASCII until extraction decodes them) so the latin-1/cp1252 wire
    * charset axis can carry them; 2/3 need UTF-8. Shared verbatim by
    * [[i18nPhrase]], [[htmlCol]], and the ExtQueries oracle CASE —
    * keep all three in lockstep. */
  val i18nPhrases: IndexedSeq[String] = IndexedSeq(
    "na&#239;ve fa&#231;ade Caf&eacute; ±5° — ‘ok’",
    "Gr&uuml;&szlig;e se&ntilde;or «caf&eacute;» “deal” €9 &hellip;&copy;2026",
    "&#x4E2D;&#x6587; 測試 &mdash; тест &euro;&trade;",
    "&#128512; emoji αβγ ∑√∞ &laquo;&nbsp;&raquo;",
    // r18 ja/ko axes: kana + kanji (the kana-precedence case — plain
    // Han counting would classify this zh) and Hangul syllables
    "日本語のテスト &mdash; 完了です",
    "한국어 테스트 문서 &copy; 준비 완료")

  /** Phrase selector: cp1252-wire docs (id%5==2) are restricted to the
    * cp1252-representable phrases 0/1 — which deliberately carry
    * LITERAL 0x80–0x9F punctuation on the wire (em-dash, curly quotes,
    * €: the chars that make latin-1-labeled pages cp1252 in practice,
    * r17) — everything else cycles all six (r18 adds ja/ko). */
  def i18nPhrase(id: Long): String =
    if (id % 5 == 2) i18nPhrases((id % 2).toInt)
    else i18nPhrases((id % 6).toInt)

  /** Wire charset axis (r17): id%5==2 ships cp1252 bytes — half
    * LABELED 'iso-8859-1' (the WHATWG-aliasing case every real crawl
    * hits: latin-1-labeled bytes that are really cp1252) and half
    * labeled 'windows-1252' outright (id%10==2); everything else
    * UTF-8. The label is what Content-Type/meta declare; the DECODER
    * treats both identically per the encoding standard. */
  def charsetOf(id: Long): String =
    if (id % 5 == 2) { if (id % 10 == 2) "windows-1252" else "iso-8859-1" }
    else "utf-8"

  /** Content-Encoding axis (r17): id%5==3 gzips the entity body
    * (hand-rolled STORED members), id%5==4 ships it as `deflate` —
    * zlib-wrapped per RFC 9110, the second-most-common coding on the
    * real web — independent of the transfer-framing axis (id%4==1
    * chunked), so chunked+encoded co-occurs (e.g. id 13 gzip, id 9
    * deflate+chunked+BOM). */
  def contentCoding(id: Long): String =
    if (id % 5 == 3) "gzip" else if (id % 5 == 4) "deflate" else "identity"

  /** Whether the entity body is content-coded at all (gzip OR deflate). */
  def contentCoded(id: Long): Boolean = id % 5 == 3 || id % 5 == 4

  /** Whether the HTTP Content-Type omits its charset parameter (r16
    * meta-resolution axis): those documents' charset resolves from the
    * in-document `<meta charset>` declaration instead. */
  def headerOmitsCharset(id: Long): Boolean = id % 7 == 2 || id % 7 == 5

  /** Chunked-trailer axis (r17): id%8==5 (a chunked subset) appends
    * ONE trailer field line — `X-Graft-Trailer: <entity bytes>` —
    * between the 0-chunk and the final CRLF, the RFC 9112 trailer
    * section real servers use for checksums computed after streaming
    * begins. */
  def trailerAxis(id: Long): Boolean = id % 8 == 5

  /** UTF-8 BOM axis (r17): these entities carry the EF BB BF signature,
    * which outranks the meta declaration they also carry (their header
    * omits the param: id%7==2 ⊂ headerOmitsCharset) — charset_src
    * reports "bom". Restricted to UTF-8-wire docs; the cp1252 axis
    * never co-occurs. */
  def bomAxis(id: Long): Boolean = id % 7 == 2 && id % 5 != 2

  /** Sniff axis (r17): these documents declare NOTHING — the header
    * omits the charset param (id%7==5 ⊂ headerOmitsCharset) AND the
    * page omits its meta tag — so resolution falls through to the
    * content sniff (strict UTF-8, else cp1252): charset_src "sniff",
    * charset "". The id%5==2 subset sniffs to cp1252 through REAL
    * invalid-UTF-8 bytes. */
  def metaOmitsCharset(id: Long): Boolean = id % 7 == 5 && id % 2 == 0

  // ------------------------------------------------------------------
  // r19 planted OUTLINK suite (VERDICT r18 "what's missing" 1): every
  // HTML page carries in-page links the frontier must DISCOVER —
  // real crawls find the large majority of URLs from <a href>, not
  // sitemaps. Three formula links beside the nav/tag anchors, each
  // exercising one canonicalization axis; all carry EMPTY anchor text
  // so the extraction/quality oracles are invariant to them.
  // ------------------------------------------------------------------

  /** The `<base href>` the page declares — its directory (/rel/)
    * deliberately differs from the page's own (/docs/), so relative
    * resolution is provably base-honoring, not page-dir. */
  def baseHrefOf(id: Long, source: String): String =
    s"https://www.$source.example${id % 7}.com/rel/"

  /** RELATIVE outlink (RFC 3986 §5.3 merge onto the <base> dir); even
    * ids point at a `.tmp` target — the path the domain's robots
    * `Disallow: &#47;*.tmp$` wildcard rule rejects. */
  def linkNextHref(id: Long): String =
    s"next/${id % 5}${if (id % 2 == 0) ".tmp" else ".html"}"

  /** ABSOLUTE outlink with a UNICODE (IDN) host label — only an RFC
    * 3490 toASCII fold yields the host real frontiers key on. Targets
    * a NEIGHBOR domain ((id+3)%7): cross-domain discovery. */
  def linkPromoHref(id: Long): String =
    s"https://www.$IdnUnicodeLabel.example${(id + 3) % 7}.com" +
      s"/promo/${id % 9}"

  /** SELF outlink in a deliberately messy spelling — scheme/host case,
    * default port, a tracking param, a fragment, `&amp;`-escaped
    * separators (the HTML-correct attribute form). Canonicalization +
    * tracking-strip collapse it onto the page's own fetched canonical,
    * so frontier dedup must drop it. */
  def linkSelfHref(id: Long, lang: String, source: String): String =
    s"HTTPS://www.$source.Example${id % 7}.COM:443/docs/$id" +
      s"?lang=$lang&amp;ref=feed&amp;utm_source=plantednav#top"

  def buildHtml(id: Long, text: String, lang: String, source: String): String =
    s"""<html><head><title>Doc $id [$source]</title>""" +
      s"""<base href="${baseHrefOf(id, source)}">""" +
      (if (metaOmitsCharset(id)) ""
       // meta FORM axis (r17): id%3==0 declares via the http-equiv
       // pragma (the older, more common form on the real web), the
       // rest via HTML5 <meta charset>
       else if (id % 3 == 0)
         s"""<meta http-equiv="Content-Type" content="text/html; """ +
           s"""charset=${charsetOf(id)}">"""
       else s"""<meta charset="${charsetOf(id)}">""") +
      """<style>body {color: red;}</style>""" +
      """<script>var u = "x < y && z > 0";</script></head><body>""" +
      """<nav><a href="/home">Home</a> <a href="/about">About</a></nav>""" +
      // commented-out markup axis (r18): a full block element INSIDE a
      // comment — an extractor that strips comments after (or never)
      // leaks "retired navigation copy …" into the corpus and grows a
      // phantom block; the correct output is invariant to this line
      s"""<!-- <div class="legacy">retired navigation copy for doc """ +
      // the COMMENTED-OUT anchor (r19): a link extractor that fails to
      // strip comments first discovers the phantom /ghost/ URL
      s"""$id</div> <p>draft $id</p> <a href="/ghost/$id"></a> -->""" +
      s"""<h1>$source #$id</h1>""" +
      s"""<p class="main">${escapeHtml(text)}</p>""" +
      s"""<p>lang=&quot;$lang&quot; &amp; id=&#39;$id&#39;</p>""" +
      s"""<p class="i18n">${i18nPhrase(id)}</p>""" +
      """<div class="links"><a href="/t/0">tag zero</a> """ +
      """<a href="/t/1">tag one</a> <a href="/t/2">tag two</a> """ +
      s"""<a href="${linkNextHref(id)}"></a> """ +
      s"""<a href="${linkPromoHref(id)}"></a> """ +
      s"""<a href="${linkSelfHref(id, lang, source)}"></a></div>""" +
      """<footer>site footer</footer></body></html>"""

  def buildUrl(id: Long, lang: String, source: String): String =
    s"https://WWW.$source.Example${id % 7}.COM:443/docs/$id" +
      s"?lang=$lang&ref=feed#sec-${id % 5}"

  def buildRequest(id: Long, lang: String, source: String): String =
    s"GET /docs/$id?lang=$lang&ref=feed HTTP/1.1$CRLF" +
      s"Host: www.$source.example${id % 7}.com$CRLF$CRLF"

  /** Split `s` into pieces of `n` CODEPOINTS (not UTF-16 units — a
    * surrogate pair never splits, so each piece re-encodes as valid
    * UTF-8; the oracle replays pieces as substr(s, i*n+1, n), which is
    * codepoint-indexed in both engines). */
  def cpChunks(s: String, n: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      // advance one codepoint at a time (O(total) — a per-chunk
      // codePointCount(i, length) rescan would be quadratic, r16 review)
      var j = i
      var c = 0
      while (j < s.length && c < n) {
        j += Character.charCount(s.codePointAt(j))
        c += 1
      }
      out += s.substring(i, j)
      i = j
    }
    out.result()
  }

  /** Responses vary along FOUR independent axes: transfer framing
    * (id%4==1 chunked: lowercase hex sizes, no trailers; else exact
    * Content-Length), wire charset (id%5==2 cp1252 bytes labeled
    * iso-8859-1 or windows-1252, else UTF-8), entity Content-Encoding
    * (id%5∈{3,4} gzip), and a UTF-8 BOM signature ([[bomAxis]]). Text
    * entities chunk at 256-CODEPOINT boundaries so the oracle replays
    * piece byte-sizes as strlen/length of substr pieces — a BOM ships
    * as its own 3-byte first chunk so the replay stays per-piece; gzip
    * entities chunk at 256-byte boundaries (opaque to the oracle —
    * checked at the decoded level). Content-Length counts BYTES of the
    * (possibly encoded) entity, BOM included. cp1252 encodability is
    * REQUIRED up front — getBytes-style silent '?' substitution would
    * diverge from the oracle (ADVICE r16). */
  def buildResponse(
      id: Long, text: String, lang: String, source: String): Array[Byte] = {
    // the MIME axis (r18) serves the document's raw text as
    // text/plain; every other wire axis applies to it unchanged
    val html =
      if (mimeAxis(id)) text else buildHtml(id, text, lang, source)
    val cs = charsetOf(id)
    val cp1252Wire = cs != "utf-8"
    if (cp1252Wire) require(cp1252Encodable(html),
      s"doc $id content is not windows-1252-representable")
    val rawBytes =
      if (cp1252Wire) encodeCp1252(html) else html.getBytes("UTF-8")
    val htmlBytes =
      if (bomAxis(id)) Utf8Bom ++ rawBytes else rawBytes
    val (entity, ceHdr) = contentCoding(id) match {
      case "gzip" =>
        (gzipStored(htmlBytes), s"Content-Encoding: gzip$CRLF")
      case "deflate" =>
        (zlibDeflate(htmlBytes), s"Content-Encoding: deflate$CRLF")
      case _ => (htmlBytes, "")
    }
    val mt = if (mimeAxis(id)) "text/plain" else "text/html"
    val ctype =
      if (headerOmitsCharset(id)) s"Content-Type: $mt"
      else s"Content-Type: $mt; charset=$cs"
    val head = s"HTTP/1.1 200 OK$CRLF$ctype$CRLF$ceHdr"
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    if (id % 4 == 1) {
      ascii(head + s"Transfer-Encoding: chunked${CRLF}X-Doc: $id$CRLF$CRLF")
      val textPieces: Vector[Array[Byte]] =
        if (contentCoded(id)) entity.grouped(256).toVector
        else {
          val ps = cpChunks(html, 256).map(p =>
            if (cp1252Wire) encodeCp1252(p) else p.getBytes("UTF-8"))
          if (bomAxis(id)) Utf8Bom +: ps else ps
        }
      for (p <- textPieces) {
        ascii(Integer.toHexString(p.length)); ascii(CRLF)
        out.write(p); ascii(CRLF)
      }
      ascii("0"); ascii(CRLF)
      if (trailerAxis(id))
        ascii(s"X-Graft-Trailer: ${entity.length}$CRLF")
      ascii(CRLF)
    } else {
      ascii(head + s"Content-Length: ${entity.length}${CRLF}X-Doc: $id$CRLF$CRLF")
      if (truncAxis(id)) {
        // TRUNCATED capture (r18): the header declares the FULL entity
        // but the stored payload carries only the prefix the transfer
        // delivered — the WARC-Truncated contract (the record itself
        // gains the header in buildWarcFile)
        val kept = truncatedHtml(html)
        if (bomAxis(id)) out.write(Utf8Bom)
        out.write(
          if (cp1252Wire) encodeCp1252(kept) else kept.getBytes("UTF-8"))
      } else out.write(entity)
    }
    out.toByteArray
  }

  private def warcRecordBytes(warcType: String, uri: String,
      payload: Array[Byte], extraHeaders: String = "",
      date: String): Array[Byte] = {
    val head = s"WARC/1.0${CRLF}WARC-Type: $warcType$CRLF" +
      s"WARC-Target-URI: $uri$CRLF" +
      s"WARC-Record-ID: <urn:graft:$warcType:${uri.length}>$CRLF" +
      (if (date.nonEmpty) s"WARC-Date: $date$CRLF" else "") +
      extraHeaders +
      s"Content-Type: application/http$CRLF" +
      s"Content-Length: ${payload.length}$CRLF$CRLF"
    val out = new java.io.ByteArrayOutputStream()
    out.write(head.getBytes("ISO-8859-1"))
    out.write(payload)
    out.write(s"$CRLF$CRLF".getBytes("ISO-8859-1"))
    out.toByteArray
  }

  /** Redirect axis (r17): these docs' WARC files carry an EXTRA
    * request/response pair — a fetch of the alias path `/r/<id>` that
    * answered `301 Moved Permanently` with a Location pointing at the
    * canonical document (in an ALIASED spelling: uppercase scheme,
    * explicit :443 — the chase join must canonicalize to match it
    * against the crawl's captures). A real crawl is 15–30% redirects;
    * the pipeline's kept-gate must provably exclude these 3xx bodies. */
  def redirectAxis(id: Long): Boolean = id % 9 == 4

  /** The alias URI the redirecting fetch targeted. */
  def redirectAliasUrl(id: Long, lang: String, source: String): String =
    s"https://www.$source.example${id % 7}.com/r/$id"

  /** The Location header value. Two real-web forms (r17): odd redirect
    * ids ship a deliberately NON-canonical ABSOLUTE spelling (scheme
    * case + default port — only [[urlCanonicalCol]] equates it with
    * the capture); even ids ship a RELATIVE absolute-path reference
    * ("/docs/<id>?…"), which the chase must RESOLVE against the alias
    * base per RFC 3986 §5 before canonicalizing. */
  def redirectLocation(id: Long, lang: String, source: String): String =
    if (id % 2 == 0) s"/docs/$id?lang=$lang&ref=feed"
    else s"HTTPS://www.$source.example${id % 7}.com:443/docs/$id" +
      s"?lang=$lang&ref=feed"

  /** The 3xx stub entity — tiny, block-free, charset-undeclared (it
    * sniffs), exactly the body a crawler must NOT admit to the corpus. */
  def redirectBody(id: Long): String =
    s"<html><body>Moved to /docs/$id</body></html>"

  /** Shared 3xx wire message: plain Content-Length framing, identity
    * coding, a Location header (r18: also serves the chain/loop hops). */
  private def redirect3xx(
      status: Int, reason: String, location: String,
      body: String): Array[Byte] =
    (s"HTTP/1.1 $status $reason$CRLF" +
      s"Location: $location$CRLF" +
      s"Content-Type: text/html$CRLF" +
      s"Content-Length: ${body.length}$CRLF$CRLF" + body)
      // Latin-1 covers the chain hop's planted unicode-IDN Location
      // (ü = 0xFC); everything else on the redirect wire is ASCII
      .getBytes("ISO-8859-1")

  /** The `301 Moved Permanently` wire message for the alias fetch. */
  def buildRedirectResponse(
      id: Long, lang: String, source: String): Array[Byte] =
    redirect3xx(301, "Moved Permanently",
      redirectLocation(id, lang, source), redirectBody(id))

  // ------------------------------------------------------------------
  // r18 fetch-outcome axes (VERDICT r17 items 2/5/6): disjoint id%9
  // classes beside the r17 redirect axis (4). A real crawl is ~20–30%
  // non-200: dead URLs, transient errors, multi-hop chains, loops.
  // ------------------------------------------------------------------

  /** DEAD axis: these URLs answer 404/410 and have NO 200 capture at
    * all — they never enter the corpus, and the frontier must learn to
    * stop re-enqueueing them. */
  def deadAxis(id: Long): Boolean = id % 9 == 7

  /** 410 Gone on even ids (the permanent signal), 404 Not Found on odd. */
  def errorStatus(id: Long): Int = if (id % 2 == 0) 410 else 404

  /** The error stub entity — block-free, never corpus-admissible. */
  def errorBody(id: Long): String =
    s"<html><body>Error ${errorStatus(id)} for /docs/$id</body></html>"

  /** The 404/410 wire message for a dead URL's only fetch. */
  def buildErrorResponse(id: Long): Array[Byte] = {
    val body = errorBody(id)
    val reason = if (errorStatus(id) == 410) "Gone" else "Not Found"
    (s"HTTP/1.1 ${errorStatus(id)} $reason$CRLF" +
      s"Content-Type: text/html$CRLF" +
      s"Content-Length: ${body.length}$CRLF$CRLF" + body)
      .getBytes("ISO-8859-1")
  }

  /** RETRY axis: the fetch first answered `503 Service Unavailable`
    * with a Retry-After header; the retry succeeded, so these docs
    * carry BOTH the 503 attempt and their 200 capture. */
  def retryAxis(id: Long): Boolean = id % 9 == 8

  /** Deterministic Retry-After seconds (RFC 9110 delay-seconds form). */
  def retryAfterOf(id: Long): Long = (id % 5 + 1) * 30

  def retryBody(id: Long): String =
    s"<html><body>Busy, retry /docs/$id</body></html>"

  /** The `503 Service Unavailable` wire message for the failed attempt. */
  def buildRetryResponse(id: Long): Array[Byte] = {
    val body = retryBody(id)
    (s"HTTP/1.1 503 Service Unavailable$CRLF" +
      s"Retry-After: ${retryAfterOf(id)}$CRLF" +
      s"Content-Type: text/html$CRLF" +
      s"Content-Length: ${body.length}$CRLF$CRLF" + body)
      .getBytes("ISO-8859-1")
  }

  /** CHAIN axis: a 2-hop redirect chain ending at the canonical doc —
    * `/h2/<id>` 302→ `/h1/<id>` 301→ `/docs/<id>`. The intermediate
    * hop exercises IDN folding (VERDICT r17 item 6): the /h2 Location
    * spells the /h1 host in UNICODE (`zürich`) while the /h1 CAPTURE's
    * WARC-Target-URI uses the punycode spelling real WARCs store —
    * only an RFC 3490 toASCII fold joins hop 1 to hop 2. */
  def chainAxis(id: Long): Boolean = id % 9 == 2

  /** The planted IDN label pair (RFC 3492 punycode; generated with
    * java.net.IDN and pinned by a spec asserting
    * IDN.toASCII(unicode) == ascii — clean-room, JDK-derived). */
  val IdnUnicodeLabel = "zürich"
  val IdnAsciiLabel = "xn--zrich-kva"

  /** The wider planted unicode↔punycode label table for the fold
    * operator's oracle (same provenance: java.net.IDN output, pinned
    * by WebCodecSpec asserting IDN.toASCII lockstep per pair). */
  val idnLabels: IndexedSeq[(String, String)] = IndexedSeq(
    "münchen" -> "xn--mnchen-3ya",
    "zürich" -> "xn--zrich-kva",
    "café" -> "xn--caf-dma",
    "中文" -> "xn--fiq228c")

  def chainHop2Url(id: Long, source: String): String =
    s"https://www.$source.example${id % 7}.com/h2/$id"
  /** The /h1 Location spelling (unicode host) inside the /h2 response. */
  def chainHop1LocationUnicode(id: Long): String =
    s"https://www.$IdnUnicodeLabel.example${id % 7}.com/h1/$id"
  /** The /h1 capture's WARC-Target-URI (punycode host). */
  def chainHop1UrlAscii(id: Long): String =
    s"https://www.$IdnAsciiLabel.example${id % 7}.com/h1/$id"
  /** The /h1 hop's Location: the canonical doc in a deliberately messy
    * absolute spelling (scheme case + default port). */
  def chainFinalLocation(id: Long, lang: String, source: String): String =
    s"HTTPS://www.$source.example${id % 7}.com:443/docs/$id" +
      s"?lang=$lang&ref=feed"

  /** LOOP axis: `/la/<id>` 301→ `/lb/<id>` 301→ `/la/<id>` — the A→B→A
    * cycle a bounded chase must detect instead of following forever. */
  def loopAxis(id: Long): Boolean = id % 9 == 5

  def loopAUrl(id: Long, source: String): String =
    s"https://www.$source.example${id % 7}.com/la/$id"
  def loopBUrl(id: Long, source: String): String =
    s"https://www.$source.example${id % 7}.com/lb/$id"

  /** MIME axis (r18): these URLs serve `text/plain`, not HTML — a real
    * crawl is far from HTML-only, and the pipeline must ROUTE on the
    * parsed media type instead of tag-stripping everything. The plain
    * entity is the document's raw text; all wire axes (charset,
    * coding, framing, BOM) still apply. Note there is no in-document
    * meta declaration to fall back to, so header-omitting plain docs
    * resolve by SNIFF. */
  def mimeAxis(id: Long): Boolean = id % 9 == 3

  /** TRUNCATED-capture axis (r18): Common Crawl cuts payloads at a
    * size cap and records `WARC-Truncated: length` — the stored HTTP
    * message declares the FULL Content-Length but carries only a
    * prefix of the body. Restricted to odd ids (no revisit interplay),
    * Content-Length framing, identity coding — truncating a chunked or
    * gzip stream mid-flight poisons framing/inflate, which is a
    * DIFFERENT failure class this corpus already covers. */
  def truncAxis(id: Long): Boolean =
    id % 18 == 1 && id % 4 != 1 && id % 5 < 3

  /** The truncated decode: the first ⌈codepoints/2⌉ codepoints of the
    * page (the synth "network" cuts on a character boundary — a
    * documented simplification that keeps the decoded prefix exactly
    * replayable as substr(html, 1, (length+1)//2) in both engines). */
  def truncatedHtml(html: String): String = {
    val n = html.codePointCount(0, html.length)
    var keep = (n + 1) / 2
    var i = 0
    while (keep > 0) { i += Character.charCount(html.codePointAt(i)); keep -= 1 }
    html.substring(0, i)
  }

  /** The crawl-1 capture instant (WARC-Date, one per doc's fetch batch)
    * and the crawl-2 revisit instant — months staggered against the
    * sitemap `<lastmod>` axis (month id%9+1) so the recrawl queue has
    * both stale and fresh pages. */
  def warcDateOf(id: Long): String = s"2026-0${id % 6 + 1}-15T00:00:00Z"
  def recrawlDateOf(id: Long): String = s"2026-0${id % 6 + 1}-28T00:00:00Z"

  private def buildAliasRequest(
      id: Long, lang: String, source: String): String =
    s"GET /r/$id HTTP/1.1$CRLF" +
      s"Host: www.$source.example${id % 7}.com$CRLF$CRLF"

  /** Whether the doc's WARC file carries a crawl-metadata sidecar
    * record. id%6∈{3,4,5}: 3 co-occurs with the PLAIN file variant
    * (id%3==0), 4 with gzip STORED (id%3==1), 5 with gzip Deflater
    * (id%3==2) — so 3-member counting is exercised on BOTH gzip paths,
    * not only the plain one (ADVICE r16: the old %6==3-only axis made
    * the oracle's 3-member-gzip branch dead code). */
  def hasMetadata(id: Long): Boolean = id % 6 >= 3

  /** The crawl-metadata sidecar payload for docs on the [[hasMetadata]]
    * axis (WARC-fields style, pure ASCII — the oracle replays it
    * verbatim). */
  def metadataFields(id: Long): String =
    s"fetchDurationMs: ${(id * 37) % 900 + 100}$CRLF" +
      s"charsetDetected: ${charsetOf(id)}$CRLF"

  /** One WARC file per document — the doc's fetch batch, stamped with
    * one WARC-Date ([[warcDateOf]]): a request record, the response
    * record (the 200 capture — or, on the DEAD axis id%9==7, a 404/410
    * and NO 200 at all), (id%6∈{3,4,5}) a metadata record, then the
    * fetch-outcome axis extras — (id%9==4) the r17 redirect alias pair,
    * (id%9==8) a 503+Retry-After attempt pair, (id%9==2) the 2-hop
    * chain pairs (with the punycode /h1 capture), (id%9==5) the A→B→A
    * loop pairs. Compression variant keyed by doc_id % 3 — 0 = plain,
    * 1 = gzip STORED (hand-rolled), 2 = gzip Deflater+FNAME. One gzip
    * member per record, per the WARC convention. */
  def buildWarcFile(
      id: Long, text: String, lang: String, source: String): Array[Byte] = {
    val uri = buildUrl(id, lang, source)
    val dt = warcDateOf(id)
    def req(u: String, reqLine: String): Array[Byte] =
      warcRecordBytes("request", u, reqLine.getBytes("ISO-8859-1"),
        date = dt)
    def resp(u: String, payload: Array[Byte]): Array[Byte] =
      warcRecordBytes("response", u, payload, date = dt)
    def getReq(u: String): String = {
      // request line + Host derived from the target URI
      val noScheme = u.substring(u.indexOf("//") + 2)
      val slash = noScheme.indexOf('/')
      s"GET ${noScheme.substring(slash)} HTTP/1.1$CRLF" +
        s"Host: ${noScheme.substring(0, slash)}$CRLF$CRLF"
    }
    val recs = Vector(
      req(uri, buildRequest(id, lang, source)),
      warcRecordBytes("response", uri,
        if (deadAxis(id)) buildErrorResponse(id)
        else buildResponse(id, text, lang, source),
        extraHeaders =
          if (truncAxis(id)) s"WARC-Truncated: length$CRLF" else "",
        date = dt)) ++
      (if (hasMetadata(id))
        Vector(warcRecordBytes("metadata", uri,
          metadataFields(id).getBytes("ISO-8859-1"), date = dt))
      else Vector.empty) ++
      (if (redirectAxis(id)) {
        val alias = redirectAliasUrl(id, lang, source)
        Vector(
          req(alias, buildAliasRequest(id, lang, source)),
          resp(alias, buildRedirectResponse(id, lang, source)))
      } else Vector.empty) ++
      (if (retryAxis(id))
        Vector(req(uri, buildRequest(id, lang, source)),
          resp(uri, buildRetryResponse(id)))
      else Vector.empty) ++
      (if (chainAxis(id)) {
        val h2 = chainHop2Url(id, source)
        val h1 = chainHop1UrlAscii(id)
        Vector(
          req(h2, getReq(h2)),
          resp(h2, redirect3xx(302, "Found",
            chainHop1LocationUnicode(id),
            s"<html><body>Moved to /h1/$id</body></html>")),
          req(h1, getReq(h1)),
          resp(h1, redirect3xx(301, "Moved Permanently",
            chainFinalLocation(id, lang, source),
            s"<html><body>Moved to /docs/$id</body></html>")))
      } else Vector.empty) ++
      (if (loopAxis(id)) {
        val la = loopAUrl(id, source)
        val lb = loopBUrl(id, source)
        Vector(
          req(la, getReq(la)),
          resp(la, redirect3xx(301, "Moved Permanently", s"/lb/$id",
            s"<html><body>Moved to /lb/$id</body></html>")),
          req(lb, getReq(lb)),
          resp(lb, redirect3xx(301, "Moved Permanently", s"/la/$id",
            s"<html><body>Moved to /la/$id</body></html>")))
      } else Vector.empty)
    (id % 3) match {
      case 0 => recs.toArray.flatten
      case 1 => recs.map(gzipStored).toArray.flatten
      case _ => recs.zipWithIndex
        .map { case (r, i) => gzipDeflate(r, s"rec-$id-$i.http") }
        .toArray.flatten
    }
  }

  /** The SECOND crawl of the corpus (r16): docs whose content is
    * unchanged since crawl 1 (id%2==0) ship a `revisit` record — Common
    * Crawl's crawl-time URL dedup signal — carrying WARC-Refers-To-
    * Target-URI (the crawl-1 capture) and a WARC-Payload-Digest of the
    * unchanged content (the deterministic "graft:ck:<codepoint-ck>"
    * scheme, so the oracle can replay it); changed docs (id%2==1) ship
    * a full response. Same per-doc compression variants as
    * [[buildWarcFile]]. */
  def buildRecrawlFile(
      id: Long, text: String, lang: String, source: String): Array[Byte] = {
    val uri = buildUrl(id, lang, source)
    val dt = recrawlDateOf(id)
    val conditional = !deadAxis(id) && id % 2 == 0
    // the crawl-2 request is CONDITIONAL (r18) when crawl 1 captured
    // the content: If-None-Match with crawl 1's ETag — the exchange
    // that produces a 304 instead of a re-transfer. The validator is
    // over the served CONTENT (the raw text on the MIME axis).
    def content: String =
      if (mimeAxis(id)) text else buildHtml(id, text, lang, source)
    val reqLine =
      if (conditional) {
        s"GET /docs/$id?lang=$lang&ref=feed HTTP/1.1$CRLF" +
          s"Host: www.$source.example${id % 7}.com$CRLF" +
          s"""If-None-Match: "graft:ck:${cpWeightedCk(content)}"$CRLF$CRLF"""
      } else buildRequest(id, lang, source)
    val req = warcRecordBytes("request", uri,
      reqLine.getBytes("ISO-8859-1"), date = dt)
    val second =
      // dead URLs (r18) answer the same 404/410 on the recrawl — dead
      // is dead; there is nothing to revisit-reference
      if (deadAxis(id))
        warcRecordBytes("response", uri, buildErrorResponse(id), date = dt)
      else if (id % 2 == 0) {
        // the 304 Not Modified answer to the conditional request, its
        // ETag restating the entity's validator (r18 — the wire form
        // behind Common Crawl's revisit records)
        warcRecordBytes("revisit", uri,
          (s"HTTP/1.1 304 Not Modified$CRLF" +
            s"""ETag: "graft:ck:${cpWeightedCk(content)}"$CRLF""" +
            s"Content-Length: 0$CRLF$CRLF")
            .getBytes("ISO-8859-1"),
          extraHeaders = s"WARC-Refers-To-Target-URI: $uri$CRLF" +
            s"WARC-Payload-Digest: graft:ck:${cpWeightedCk(content)}$CRLF",
          date = dt)
      } else
        warcRecordBytes("response", uri,
          buildResponse(id, text, lang, source),
          // the deterministic synth "network" truncates this URL's
          // every transfer — crawl 2's re-fetch is cut like crawl 1's
          extraHeaders =
            if (truncAxis(id)) s"WARC-Truncated: length$CRLF" else "",
          date = dt)
    val recs = Vector(req, second)
    (id % 3) match {
      case 0 => recs.toArray.flatten
      case 1 => recs.map(gzipStored).toArray.flatten
      case _ => recs.zipWithIndex
        .map { case (r, i) => gzipDeflate(r, s"re-$id-$i.http") }
        .toArray.flatten
    }
  }

  /** (media_id, payload): the synthesized crawl-2 WARC table. */
  def webWarcRecrawl(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text, lang, source) =>
          (id, buildRecrawlFile(id, text, lang, source))
        }
      }.toDF("media_id", "payload")
  }

  final case class RecrawlRow(
      media_id: Long, target_uri: String, fetched: String,
      refers_to: String, digest: String, n_chars: Long, body_ck: Long,
      http_status: Int, etag: String)

  /** Crawl-2 fetch rows: `response` records parse to their decoded body
    * (chars + codepoint ck); `revisit` records carry the referral URI +
    * payload digest and NO body — the dedup join fills it from crawl 1. */
  def recrawlRecords(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          parseWarc(payload).toSeq.flatMap { recs =>
            recs.flatMap {
              case r if r.warcType == "response" =>
                parseHttpResponse(r.payload,
                  tolerateTruncated = r.truncated.nonEmpty).map { m =>
                  val text = m.bodyText
                  RecrawlRow(id, r.targetUri, "response", "", "",
                    text.codePointCount(0, text.length).toLong,
                    cpWeightedCk(text), m.status, m.etag)
                }
              case r if r.warcType == "revisit" =>
                // the revisit payload is the real 304 exchange (r18):
                // status + ETag validator parse like any response
                val m = parseHttpResponse(r.payload)
                Some(RecrawlRow(id, r.targetUri, "revisit",
                  r.refersTo, r.payloadDigest, 0L, 0L,
                  m.map(_.status).getOrElse(0),
                  m.map(_.etag).getOrElse("")))
              case _ => None // requests carry no fetch row
            }
          }
        }
      }.toDF()
  }

  /** WET — Common Crawl's extracted-text sidecar format: the same WARC
    * container, `WARC-Type: conversion` records whose payload is the
    * PLAIN TEXT extracted from the page (here: the pure-Column
    * extraction formula's output, so the WET text and `web_html_text`'s
    * body column are definitionally equal). Same per-doc compression
    * variants as [[buildWarcFile]]. */
  def buildWetFile(
      id: Long, text: String, lang: String, source: String): Array[Byte] = {
    val uri = buildUrl(id, lang, source)
    // a truncated capture (r18) converts only its received prefix —
    // WET derives from the capture, not from the origin's full page;
    // a text/plain capture (r18 MIME axis) converts as a whitespace
    // collapse, there is nothing to extract
    val extracted =
      if (mimeAxis(id)) text.replaceAll("\\s+", " ").trim
      else {
        val page = buildHtml(id, text, lang, source)
        extractText(if (truncAxis(id)) truncatedHtml(page) else page)
      }
    // WET text payloads are UTF-8 by convention (Common Crawl ships
    // UTF-8 WET regardless of the page's wire charset)
    val rec = warcRecordBytes("conversion", uri, extracted.getBytes("UTF-8"),
      date = warcDateOf(id))
    (id % 3) match {
      case 0 => rec
      case 1 => gzipStored(rec)
      case _ => gzipDeflate(rec, s"wet-$id.txt")
    }
  }

  /** The ~40 most common WHATWG named character references (r17,
    * VERDICT r16 item 2). `nbsp` deliberately normalizes to a plain
    * SPACE (not U+00A0): the extraction chain's `\s+` collapse is
    * ASCII-only in BOTH regex dialects, so a literal NBSP would survive
    * as an invisible non-collapsing char and pollute tokenization —
    * exactly what a real cleaning pipeline normalizes away. Shared
    * verbatim by [[decodeEntities]], [[decodeEntitiesCol]], and the
    * ExtQueries `webEntitySql` CASE — keep all three in lockstep. */
  val namedEntities: Seq[(String, String)] = Seq(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "deg" -> "°", "plusmn" -> "±",
    "middot" -> "·", "sect" -> "§", "para" -> "¶",
    "laquo" -> "«", "raquo" -> "»", "ndash" -> "–",
    "mdash" -> "—", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "hellip" -> "…",
    "bull" -> "•", "dagger" -> "†", "euro" -> "€",
    "times" -> "×", "divide" -> "÷", "szlig" -> "ß",
    "agrave" -> "à", "auml" -> "ä", "aacute" -> "á",
    "ccedil" -> "ç", "eacute" -> "é", "egrave" -> "è",
    "iacute" -> "í", "ntilde" -> "ñ", "ouml" -> "ö",
    "oacute" -> "ó", "uuml" -> "ü", "uacute" -> "ú")
  private val namedEntityMap: Map[String, String] = namedEntities.toMap

  /** One regex for BOTH reference kinds, applied in a single
    * left-to-right pass (the HTML5 tokenizer shape — no re-scan of
    * decoded output, so `&amp;#39;` yields the literal `&#39;`). */
  private val EntityPattern = java.util.regex.Pattern.compile(
    "&(#x[0-9a-fA-F]{1,6}|#[0-9]{1,7}|[a-zA-Z][a-zA-Z0-9]{1,31});")

  /** Decode character references in ONE pass: decimal (&#233;) and hex
    * (&#x4E2D;) numeric references — GENERIC over any codepoint, incl.
    * supplementary planes — plus the [[namedEntities]] table
    * (&eacute; &mdash; &copy; …). Invalid numeric codepoints (0,
    * surrogates, > U+10FFFF) become U+FFFD per the HTML5 rule (the
    * C1-remap table is a documented non-goal); UNKNOWN named refs stay
    * literal `&word;` (the HTML5 no-match behavior). Single-pass
    * left-to-right matching makes amp-no-double-decode structural:
    * decoded output is never re-scanned. JVM twin of
    * [[decodeEntitiesCol]]. */
  def decodeEntities(s: String): String = {
    val m = EntityPattern.matcher(s)
    if (!m.find()) return s
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    do {
      sb.append(s, last, m.start())
      val g = m.group(1)
      if (g.charAt(0) == '#') {
        // group bounds (≤7 decimal digits / ≤6 hex digits) keep the
        // parse inside Long — no overflow path
        val cp =
          if (g.charAt(1) == 'x') java.lang.Long.parseLong(g.substring(2), 16)
          else java.lang.Long.parseLong(g.substring(1))
        if (cp == 0 || cp > 0x10ffffL || (cp >= 0xd800L && cp <= 0xdfffL))
          sb.append('�')
        else sb.appendCodePoint(cp.toInt)
      } else namedEntityMap.get(g) match {
        case Some(ch) => sb.append(ch)
        case None => sb.append('&').append(g).append(';')
      }
      last = m.end()
    } while (m.find())
    sb.append(s, last, s.length)
    sb.toString
  }

  /** JVM twin of [[extractTextCol]] ∘ [[buildHtml]] — the extracted
    * plain text of a synth page (kept in lockstep with the Column
    * chain; WebCodecSpec asserts the equivalence row-for-row). */
  def extractedText(
      id: Long, text: String, lang: String, source: String): String =
    extractText(buildHtml(id, text, lang, source))

  /** The extraction chain over any html string: comment removal (r18 —
    * before tag-strip, or `<!-- <div>x</div> -->` leaks `x -->`) →
    * script/style removal → tag strip → ONE entity-decode pass
    * ([[decodeEntities]]: numeric + named refs, single left-to-right
    * scan — &amp;#39; yields the literal &#39;, the HTML5
    * no-double-decode behavior) → whitespace collapse. */
  def extractText(html: String): String = {
    val noComment = html.replaceAll("<!--.*?-->", " ")
    val noScript = noComment.replaceAll("<script[^>]*>.*?</script>", " ")
    val noStyle = noScript.replaceAll("<style[^>]*>.*?</style>", " ")
    val noTags = noStyle.replaceAll("<[^>]*>", " ")
    decodeEntities(noTags).replaceAll("\\s+", " ").trim
  }

  /** (media_id, payload) synthesized WET archive table. DEAD URLs
    * (r18, id%9==7) have no 200 capture, so no WET conversion record
    * exists for them — exactly Common Crawl's behavior. */
  def webWet(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.where(col("doc_id") % 9 =!= 7)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text, lang, source) =>
          (id, buildWetFile(id, text, lang, source))
        }
      }.toDF("media_id", "payload")
  }

  final case class WetRow(
      media_id: Long, target_uri: String, text: String, n_chars: Long)

  /** WET → conversion records → extracted text rows (the format a
    * text-only consumer reads INSTEAD of re-extracting from HTML).
    * Payloads decode as UTF-8 (strict, Latin-1 fallback — the WET
    * convention); n_chars counts CODEPOINTS, matching the oracle's
    * length(). */
  def wetTexts(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          parseWarc(payload).iterator.flatMap { recs =>
            recs.filter(_.warcType == "conversion").map { r =>
              val t = decodeText(r.payload, "")
              WetRow(id, r.targetUri, t,
                t.codePointCount(0, t.length).toLong)
            }
          }
        }
      }.toDF()
  }

  /** Order-weighted byte checksum Σ (i+1)·b_i — pins content AND byte
    * order (the media tier's (f+1)-weighted trick at byte granularity).
    * ASCII payloads ⇒ the oracle's per-char ascii() replay is byte-exact. */
  def weightedCk(b: Array[Byte]): Long = {
    var s = 0L; var i = 0
    while (i < b.length) { s += (i + 1).toLong * (b(i) & 0xff); i += 1 }
    s
  }

  /** Order-weighted CODEPOINT checksum Σ (i+1)·cp_i over a decoded
    * string — the text-level twin of [[weightedCk]] for the UTF-8 era:
    * DuckDB replays it as sum((i+1) * ascii(substr(s, i+1, 1))) since
    * its ascii()/substr() are codepoint-indexed. */
  def cpWeightedCk(s: String): Long = {
    var sum = 0L; var i = 0; var n = 1L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sum += n * cp
      n += 1
      i += Character.charCount(cp)
    }
    sum
  }

  // ------------------------------------------------------------------
  // DataFrame seams
  // ------------------------------------------------------------------

  /** (media_id, payload): the synthesized WARC archive table. */
  def webWarc(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text, lang, source) =>
          (id, buildWarcFile(id, text, lang, source))
        }
      }.toDF("media_id", "payload")
  }

  final case class WarcRow(
      media_id: Long, rec_index: Int, warc_type: String, target_uri: String,
      gzip_members: Int, http_status: Int, http_method: String,
      transfer: String, content_encoding: String, charset: String,
      charset_src: String, location: String,
      body_bytes: Long, body_chars: Long, body_ck: Long,
      retry_after: Long, warc_date: String, truncated: Boolean,
      content_type: String)

  /** Per-record HTTP-level features through the full gzip→WARC→HTTP
    * walk. Response records parse down to the content-decoded entity
    * (so the view is INVARIANT to transfer framing, entity gzip, and
    * wire charset — the oracle replays the logical content plus the
    * axis metadata, never compressed bytes); request records parse the
    * request line; metadata/conversion payloads are treated as text.
    * body_chars/body_ck are codepoint-level over the decoded text. */
  def warcRecords(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val gz = payload.length >= 2 &&
            (payload(0) & 0xff) == 0x1f && (payload(1) & 0xff) == 0x8b
          parseWarc(payload).toSeq.flatMap { recs =>
            recs.zipWithIndex.flatMap { case (r, i) =>
              val members = if (gz) recs.length else 0
              r.warcType match {
                case "response" =>
                  parseHttpResponse(r.payload,
                    tolerateTruncated = r.truncated.nonEmpty).map { m =>
                    val text = m.bodyText
                    WarcRow(id, i, r.warcType, r.targetUri, members,
                      m.status, "",
                      if (m.chunked) "chunked" else "identity",
                      m.contentEncoding, m.charset, m.charsetSrc,
                      m.location,
                      m.body.length.toLong,
                      text.codePointCount(0, text.length).toLong,
                      cpWeightedCk(text), m.retryAfter, r.date,
                      r.truncated.nonEmpty, m.mime)
                  }
                case "request" =>
                  parseHttpRequest(r.payload).map { case (method, _) =>
                    WarcRow(id, i, r.warcType, r.targetUri, members,
                      0, method, "", "", "", "", "", 0L, 0L, 0L,
                      0L, r.date, false, "")
                  }
                case _ => // metadata / conversion / revisit: text payload
                  val text = decodeText(r.payload, "")
                  Some(WarcRow(id, i, r.warcType, r.targetUri, members,
                    0, "", "", "", "", "", "",
                    r.payload.length.toLong,
                    text.codePointCount(0, text.length).toLong,
                    cpWeightedCk(text), 0L, r.date, false, ""))
              }
            }
          }
        }
      }.toDF()
  }

  final case class WebDoc(
      media_id: Long, target_uri: String, http_status: Int, body: String,
      location: String, content_type: String)

  /** WARC → response records → HTTP parse → content-decoded,
    * charset-decoded HTML body as a string column (the codec half of
    * the pipeline; the text half is the pure-Column chain below). */
  def warcResponses(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          parseWarc(payload).toSeq.flatMap { recs =>
            recs.filter(_.warcType == "response").flatMap { r =>
              parseHttpResponse(r.payload,
                tolerateTruncated = r.truncated.nonEmpty).map { m =>
                WebDoc(id, r.targetUri, m.status, m.bodyText, m.location,
                  m.mime)
              }
            }
          }
        }
      }.toDF()
  }

  final case class FramingRow(
      media_id: Long, transfer: String, charset: String,
      content_length_hdr: Long, trailers: Int,
      payload_chars: Long, payload_ck: Long)

  /** RAW transfer-framing view over the TEXT subset of the corpus (no
    * Content-Encoding — those payloads contain compressed bytes no SQL
    * oracle can rebuild): the response record's payload decoded as a
    * whole (headers are ASCII; the body follows the wire charset, so
    * strict-UTF-8-else-Latin-1 reproduces the exact message string)
    * and checksummed codepoint-by-codepoint — this pins the chunk size
    * lines, CRLF placement, and Content-Length header byte-for-byte. */
  def httpFraming(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          parseWarc(payload).toSeq.flatMap { recs =>
            recs.filter(r => r.warcType == "response" &&
                r.truncated.isEmpty).flatMap { r =>
              parseHttpResponse(r.payload)
                .filter(m => m.contentEncoding == "identity" &&
                  m.status == 200).map { m =>
                  val text = decodeText(r.payload, "")
                  FramingRow(id,
                    if (m.chunked) "chunked" else "identity",
                    m.charset, m.contentLengthHdr, m.trailers,
                    text.codePointCount(0, text.length).toLong,
                    cpWeightedCk(text))
                }
            }
          }
        }
      }.toDF()
  }

  // ------------------------------------------------------------------
  // Pure-Column text layer (dialect-identical Spark/DuckDB regexes;
  // DuckDB twins live in ExtQueries' web* oracles — keep in lockstep)
  // ------------------------------------------------------------------

  /** Column twin of [[i18nPhrase]]. */
  def i18nPhraseCol(id: Column): Column =
    when(id % 5 === 2,
      when(id % 2 === 0, lit(i18nPhrases(0))).otherwise(lit(i18nPhrases(1))))
      .otherwise(
        when(id % 6 === 0, lit(i18nPhrases(0)))
          .when(id % 6 === 1, lit(i18nPhrases(1)))
          .when(id % 6 === 2, lit(i18nPhrases(2)))
          .when(id % 6 === 3, lit(i18nPhrases(3)))
          .when(id % 6 === 4, lit(i18nPhrases(4)))
          .otherwise(lit(i18nPhrases(5))))

  /** Column twin of [[buildHtml]] — used by the pure-Column queries so
    * the whole chain (build + extract) stays inside codegen. */
  def htmlCol(id: Column, text: Column, lang: Column, source: Column): Column = {
    val etext = regexp_replace(
      regexp_replace(regexp_replace(text, "&", "&amp;"), "<", "&lt;"),
      ">", "&gt;")
    concat(
      lit("<html><head><title>Doc "), id.cast("string"),
      lit(" ["), source, lit("]</title>"),
      // r19 base element — twin of [[baseHrefOf]]
      lit("<base href=\"https://www."), source, lit(".example"),
      (id % 7).cast("string"), lit(".com/rel/\">"),
      // meta tag: omitted on the sniff axis; http-equiv pragma form on
      // id%3==0; charset label per the r17 wire axis
      when((id % 7 === 5) && (id % 2 === 0), lit(""))
        .otherwise {
          val label = when(id % 5 === 2,
            when(id % 10 === 2, lit("windows-1252"))
              .otherwise(lit("iso-8859-1")))
            .otherwise(lit("utf-8"))
          when(id % 3 === 0,
            concat(lit("<meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset="), label, lit("\">")))
            .otherwise(concat(lit("<meta charset=\""), label, lit("\">")))
        },
      lit("<style>body {color: red;}</style>"),
      lit("<script>var u = \"x < y && z > 0\";</script></head><body>"),
      lit("<nav><a href=\"/home\">Home</a> <a href=\"/about\">About</a></nav>"),
      lit("<!-- <div class=\"legacy\">retired navigation copy for doc "),
      id.cast("string"),
      lit("</div> <p>draft "), id.cast("string"),
      lit("</p> <a href=\"/ghost/"), id.cast("string"),
      lit("\"></a> -->"),
      lit("<h1>"), source, lit(" #"), id.cast("string"), lit("</h1>"),
      lit("<p class=\"main\">"), etext, lit("</p>"),
      lit("<p>lang=&quot;"), lang, lit("&quot; &amp; id=&#39;"),
      id.cast("string"), lit("&#39;</p>"),
      lit("<p class=\"i18n\">"), i18nPhraseCol(id), lit("</p>"),
      lit("<div class=\"links\"><a href=\"/t/0\">tag zero</a> " +
        "<a href=\"/t/1\">tag one</a> <a href=\"/t/2\">tag two</a> "),
      // r19 planted outlinks — twins of [[linkNextHref]] /
      // [[linkPromoHref]] / [[linkSelfHref]]
      lit("<a href=\"next/"), (id % 5).cast("string"),
      when(id % 2 === 0, lit(".tmp")).otherwise(lit(".html")),
      lit("\"></a> <a href=\"https://www." + IdnUnicodeLabel + ".example"),
      ((id + 3) % 7).cast("string"),
      lit(".com/promo/"), (id % 9).cast("string"),
      lit("\"></a> <a href=\"HTTPS://www."), source, lit(".Example"),
      (id % 7).cast("string"), lit(".COM:443/docs/"), id.cast("string"),
      lit("?lang="), lang,
      lit("&amp;ref=feed&amp;utm_source=plantednav#top\"></a></div>"),
      lit("<footer>site footer</footer></body></html>"))
  }

  /** UTF-8 bytes of a codepoint as a hex string, built with pure
    * Column bit arithmetic — the bridge that lets a computed codepoint
    * become a string without a UDF (`decode(unhex(hex), 'UTF-8')`).
    * Invalid codepoints (0, surrogates, > U+10FFFF) yield U+FFFD
    * (EFBFBD), mirroring [[decodeEntities]]. */
  private def cpToUtf8Col(cp: Column): Column = {
    def b(v: Column): Column = lpad(hex(v.cast("int")), 2, "0")
    val cont = (sh: Int) =>
      b(lit(0x80) + shiftright(cp, sh).bitwiseAND(lit(0x3fL)).cast("int"))
    val hexStr =
      when(cp === 0 || cp > 0x10ffffL ||
        (cp >= 0xd800L && cp <= 0xdfffL), lit("EFBFBD"))
        .when(cp < 0x80L, b(cp.cast("int")))
        .when(cp < 0x800L,
          concat(b(lit(0xc0) + shiftright(cp, 6).cast("int")), cont(0)))
        .when(cp < 0x10000L,
          concat(b(lit(0xe0) + shiftright(cp, 12).cast("int")),
            cont(6), cont(0)))
        .otherwise(
          concat(b(lit(0xf0) + shiftright(cp, 18).cast("int")),
            cont(12), cont(6), cont(0)))
    decode(unhex(hexStr), "UTF-8")
  }

  /** Column twin of [[decodeEntities]]: mark each reference (numeric OR
    * named) with \u0001body\u0002 sentinels in ONE regex pass, split on
    * \u0001, and rebuild — segments containing \u0002 carry (ref body,
    * literal tail). Numeric bodies keep their '#' prefix, so the
    * transform branches on it: numeric → pure-Column UTF-8 bit
    * arithmetic ([[cpToUtf8Col]]); named → the [[namedEntities]] CASE
    * chain, unknown names rebuilt literal. Scalar (no explode); the
    * DuckDB twin uses the same sentinel trick with string_split +
    * list_transform. Sentinel safety: \u0001/\u0002 are control chars
    * the corpus never contains (asserted in WebCodecSpec). */
  def decodeEntitiesCol(c: Column): Column = {
    val marked = regexp_replace(c,
      "&(#x[0-9a-fA-F]{1,6}|#[0-9]{1,7}|[a-zA-Z][a-zA-Z0-9]{1,31});",
      "\u0001$1\u0002")
    val parts = split(marked, "\u0001", -1)
    val dec = transform(parts, s =>
      // the named-entity CASE chain referenced `body` once per table
      // entry (dozens of substring_index re-evaluations per marked
      // part) - bound once, each branch is a slot compare
      letCol(substring_index(s, "\u0002", 1)) { body =>
      val tail = substring_index(s, "\u0002", -1)
      // numeric bodies keep their '#' prefix ("#x4E2D" / "#128512")
      val cp = when(substring(body, 2, 1) === "x",
        conv(substring(body, 3, 6), 16, 10).cast("long"))
        .otherwise(substring(body, 2, 7).cast("long"))
      // named refs: the shared table as a CASE chain; unknown names
      // rebuild literal (the HTML5 no-match behavior)
      val named = namedEntities.foldRight(
        concat(lit("&"), body, lit(";")): Column) { case ((n, ch), rest) =>
        when(body === n, lit(ch)).otherwise(rest)
      }
      val decoded = when(substring(body, 1, 1) === "#", cpToUtf8Col(cp))
        .otherwise(named)
      when(instr(s, "\u0002") > 0, concat(decoded, tail))
        .otherwise(s)
    })
    array_join(dec, "")
  }

  /** Column twin of [[buildUrl]]. */
  def urlCol(id: Column, lang: Column, source: Column): Column =
    concat(lit("https://WWW."), source, lit(".Example"),
      (id % 7).cast("string"), lit(".COM:443/docs/"),
      id.cast("string"), lit("?lang="), lang, lit("&ref=feed#sec-"),
      (id % 5).cast("string"))

  /** Comment removal (r18, VERDICT r17 item 1): `<!-- ... -->` strips
    * BEFORE tag-strip — the generic `<[^>]*>` regex otherwise eats a
    * comment piecewise (`<!-- <div>` up to the first `>`), leaking
    * commented-out markup text into the corpus. Shared by the
    * whole-page chain and [[mainContentStruct]] (which must also strip
    * before BLOCK segmentation, or a commented `<div>…</div>` becomes
    * a phantom block). Non-greedy, no DOTALL — the same convention as
    * the script/style steps, identical in RE2 and java.util.regex. */
  def stripCommentsCol(html: Column): Column =
    regexp_replace(html, "<!--.*?-->", " ")

  /** comment removal → script/style block removal → tag strip → ONE
    * entity-decode pass ([[decodeEntitiesCol]]: numeric + named refs,
    * single left-to-right scan — &amp;#39; yields the literal &#39;,
    * no double-decode) → whitespace collapse → trim. Every regex step
    * uses constructs RE2 and java.util.regex agree on; JVM twin:
    * [[extractText]]. */
  def extractTextCol(html: Column): Column = {
    val noScript =
      regexp_replace(stripCommentsCol(html), "<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    trim(regexp_replace(decodeEntitiesCol(noTags), "\\s+", " "))
  }

  /** `<title>` contents (first match; empty string when absent). */
  def titleCol(html: Column): Column =
    regexp_extract(html, "<title>([^<]*)</title>", 1)

  /** Block-level segmentation for MAIN-CONTENT extraction (the
    * boilerplate-removal gate real LLM pipelines run between tag-strip
    * and dedup, jusText/trafilatura-style): split the page into block
    * elements, score each by LINK DENSITY (codepoints inside <a> vs the
    * block's extracted text) and text LENGTH, keep blocks that are long
    * enough (≥ 15 chars) and link-light (link chars × 2 < text chars).
    * Nav bars and link farms fail the density test; short footers and
    * headings fail the length test; tag-strip alone keeps all of them.
    * Alternation instead of backreferences so the same regex runs on
    * RE2 (DuckDB) and java.util.regex. */
  private val blockRe = "(<p[^>]*>.*?</p>|<h1>.*?</h1>|<nav>.*?</nav>" +
    "|<div[^>]*>.*?</div>|<footer>.*?</footer>)"
  private val linkRe = "<a [^>]*>([^<]*)</a>"

  /** struct(main_text, n_blocks, n_kept, boiler_chars) per page —
    * pure-Column (nested higher-order functions, no explode). The four
    * outputs fold out of ONE pass over the scored blocks: higher-order
    * functions get no codegen subexpression elimination, so the
    * earlier filter/filter/transform shape re-evaluated the whole
    * per-block extraction chain 4× (measured 9.3 s → the fold's single
    * evaluation at sf0.1). The DuckDB oracle replays the same generic
    * algorithm (its list_filter form is value-identical). */
  def mainContentStruct(html: Column): Column = {
    // (r19) the block list is referenced by BOTH the transform pass
    // and the finisher's n_blocks - bind it so comment-strip + block
    // segmentation run once per row, not twice
    // comments strip BEFORE block segmentation (r18): a commented-out
    // <div>…</div> would otherwise match blockRe and surface as a
    // phantom block whose text survives the link-density test
    letCol(regexp_extract_all(stripCommentsCol(html),
      lit(blockRe), lit(1))) { blocks =>
    val scored = transform(blocks, b =>
      // btext is the full extraction chain per block and was
      // referenced 3x (value + both length tests) - bind it
      letCol(extractTextCol(b)) { btext =>
      val ltext = array_join(
        regexp_extract_all(b, lit(linkRe), lit(1)), " ")
      struct(btext.as("btext"),
        (length(btext) >= 15 && length(ltext) * 2 < length(btext))
          .as("keep"))
    })
    aggregate(scored,
      struct(lit("").as("main_text"), lit(0L).as("n_kept"),
        lit(0L).as("boiler_chars")),
      (acc, e) => {
        val keep = e.getField("keep")
        val btext = e.getField("btext")
        struct(
          when(!keep, acc.getField("main_text"))
            .when(acc.getField("main_text") === "", btext)
            .otherwise(concat(acc.getField("main_text"), lit(" "), btext))
            .as("main_text"),
          (acc.getField("n_kept") +
            when(keep, 1L).otherwise(0L)).as("n_kept"),
          (acc.getField("boiler_chars") +
            when(keep, 0L).otherwise(length(btext).cast("long")))
            .as("boiler_chars"))
      },
      // finish: attach n_blocks so the WHOLE output is one aggregate
      // expression — any sibling reference to the fold would
      // re-evaluate the full per-block extraction chain
      acc => struct(
        acc.getField("main_text").as("main_text"),
        size(blocks).cast("long").as("n_blocks"),
        acc.getField("n_kept").as("n_kept"),
        acc.getField("boiler_chars").as("boiler_chars"))) }
  }

  /** The front door composed through MAIN-CONTENT extraction instead
    * of whole-page text — the pass a real pre-training pipeline runs:
    * WARC bytes → HTTP decode (all three wire axes) → block
    * segmentation + boilerplate removal → quality gates over the MAIN
    * text only. Boilerplate chars are reported beside the gates so a
    * corpus budget can account for what the cleaner removed. Since r17
    * the fetch table includes 3xx redirect rows (one per alias fetch);
    * the kept-gate excludes any non-200 status. */
  def pipelineMain(media: DataFrame): DataFrame = {
    val resp = warcResponses(media)
    val host = urlParts(col("target_uri")).toMap.apply("host")
    // target_uri + location ride along (r18): the fetch table doubles
    // as the redirect-chase serving table — 3xx rows carry their
    // Location, 200 rows their canonical keys
    // MIME routing (r18): block segmentation is an HTML concept —
    // text/plain passes through collapsed, with no block census
    val mc = when(col("content_type") === "text/plain",
      struct(
        trim(regexp_replace(col("body"), "\\s+", " ")).as("main_text"),
        lit(0L).as("n_blocks"), lit(0L).as("n_kept"),
        lit(0L).as("boiler_chars")))
      .otherwise(mainContentStruct(col("body")))
    resp.select(col("media_id"), host.as("host"), col("http_status"),
        col("target_uri"), col("location"),
        mc.as("mc"))
      .select(col("media_id"), col("host"), col("http_status"),
        col("target_uri"), col("location"),
        col("mc").getField("main_text").as("body"),
        col("mc").getField("n_blocks").as("n_blocks"),
        col("mc").getField("n_kept").as("n_kept"),
        col("mc").getField("boiler_chars").as("boiler_chars"))
      .select(col("media_id"), col("host"), col("http_status"),
        col("target_uri"), col("location"),
        col("body"), col("n_blocks"), col("n_kept"), col("boiler_chars"),
        size(split(col("body"), "\\s+")).cast("long").as("n_words"),
        when(length(col("body")) > 0,
          expr("(CAST(1000 AS BIGINT) * length(regexp_replace(body, " +
            "'[^a-zA-Z ]', ''))) DIV length(body)"))
          .otherwise(lit(0L)).as("alpha_milli"))
      .withColumn("kept", col("http_status") === 200 &&
        col("n_words") >= 40 && col("alpha_milli") >= 900)
  }

  /** The composed front door over a raw (media_id, payload) WARC table:
    * parse gate (unparseable archives drop, the codec contract) → HTTP
    * responses → pure-Column HTML extraction → quality gates. ONE code
    * path shared by the batch query `web_pipeline` and the streaming
    * [[graft.sinks.WebSink]] — which is what lets the streamed serving
    * table ride the SAME DuckDB oracle as the batch operator. */
  def pipeline(media: DataFrame): DataFrame = {
    val resp = warcResponses(media)
    val host = urlParts(col("target_uri")).toMap.apply("host")
    // MIME routing (r18): HTML extracts; text/plain passes through
    // with whitespace collapse only — tag-stripping a plain document
    // would be wrong on any '<' it legitimately contains
    val extracted =
      when(col("content_type") === "text/plain",
        trim(regexp_replace(col("body"), "\\s+", " ")))
        .otherwise(extractTextCol(col("body")))
    resp.select(col("media_id"), host.as("host"), col("http_status"),
        col("target_uri"), col("location"),
        extracted.as("body"))
      .select(col("media_id"), col("host"), col("http_status"),
        col("target_uri"), col("location"), col("body"),
        size(split(col("body"), "\\s+")).cast("long").as("n_words"),
        // multiply in BIGINT: 1000 * length() in INT arithmetic silently
        // wraps past ~2.1M chars under non-ANSI mode, diverging from the
        // oracle's 64-bit math (ADVICE r15)
        expr("(CAST(1000 AS BIGINT) * length(regexp_replace(body, " +
          "'[^a-zA-Z ]', ''))) DIV length(body)")
          .as("alpha_milli"))
      // the kept-gate provably excludes 3xx bodies (r17): a fetch row
      // enters the corpus only when it IS the document (status 200)
      // AND passes the quality gates
      .withColumn("kept", col("http_status") === 200 &&
        col("n_words") >= 40 && col("alpha_milli") >= 900)
  }

  // ------------------------------------------------------------------
  // robots.txt — crawl politeness (RFC 9309 subset)
  // ------------------------------------------------------------------

  /** robots.txt parse + evaluation per RFC 9309: User-agent groups,
    * Allow/Disallow path rules with `*` (any sequence) and trailing `$`
    * (end anchor) wildcards (§2.2.3), longest-PATTERN-wins with allow
    * preferred on ties, case-insensitive product-token group matching
    * (the named group whose name is the longest prefix of the agent's
    * product token wins exclusively — the Googlebot-News → googlebot
    * fallback shape), star-group fallback, default-allow when nothing
    * matches. Remaining documented deviation: precedence length counts
    * the raw pattern octets including `*`/`$` (the common-crawler
    * behavior), not the matched text. */
  object Robots {
    final case class Rule(allow: Boolean, path: String)

    /** RFC 9309 §2.2.3 pattern match: split on '*', greedy linear scan;
      * a trailing '$' anchors the end, otherwise prefix semantics. */
    def pathMatches(pattern: String, path: String): Boolean = {
      val anchored = pattern.endsWith("$")
      val pat = if (anchored) pattern.dropRight(1) else pattern
      val segs = pat.split("\\*", -1)
      if (!path.startsWith(segs.head)) return false
      var pos = segs.head.length
      var i = 1
      while (i < segs.length) {
        val s = segs(i)
        if (i == segs.length - 1 && anchored)
          // final segment must end the path (the preceding '*' absorbs
          // the gap); also covers the "/x*$" ⇒ s == "" case
          return path.length - s.length >= pos && path.endsWith(s)
        if (s.nonEmpty) {
          val at = path.indexOf(s, pos)
          if (at < 0) return false
          pos = at + s.length
        }
        i += 1
      }
      // no '*' at all: anchored means exact match, plain means prefix
      if (anchored && segs.length == 1) pos == path.length else true
    }

    /** The UA product token: chars up to the first '/' or space,
      * lowercased ("GraftBot/1.7 (+https://…)" → "graftbot"). */
    def productToken(agent: String): String =
      agent.toLowerCase.takeWhile(c => c != '/' && c != ' ')

    /** Parse to agent → rules (groups merged per agent name; later
      * groups for the same agent extend earlier ones, per the RFC). A
      * rule line before any User-agent line is a grammar error → None. */
    def parse(text: String): Option[Map[String, Vector[Rule]]] =
      parseWithDelays(text).map(_._1)

    /** Parse rules AND per-group Crawl-delay values (the de-facto
      * politeness extension every large crawler honors; non-numeric
      * values are tolerated and ignored, last numeric wins per group). */
    def parseWithDelays(text: String)
    : Option[(Map[String, Vector[Rule]], Map[String, Long])] = {
      val groups = scala.collection.mutable.Map.empty[String, Vector[Rule]]
      val delays = scala.collection.mutable.Map.empty[String, Long]
      var agents: List[String] = Nil
      var inHeader = false // consecutive User-agent lines share a group
      for (raw <- text.split("\n", -1)) {
        val line = raw.takeWhile(_ != '#').trim
        if (line.nonEmpty) {
          val k = line.indexOf(':')
          if (k <= 0) return None
          val key = line.substring(0, k).trim.toLowerCase
          val value = line.substring(k + 1).trim
          key match {
            case "user-agent" =>
              if (value.isEmpty) return None
              val a = value.toLowerCase
              agents = if (inHeader) a :: agents else List(a)
              inHeader = true
              groups.getOrElseUpdate(a, Vector.empty)
            case "allow" | "disallow" =>
              if (agents.isEmpty) return None // rule outside any group
              inHeader = false
              if (value.nonEmpty) { // empty Disallow: = no rule
                for (a <- agents)
                  groups(a) = groups(a) :+ Rule(key == "allow", value)
              }
            case "crawl-delay" =>
              if (agents.isEmpty) return None // directive outside a group
              inHeader = false
              if (value.nonEmpty && value.length <= 9 &&
                  value.forall(c => c >= '0' && c <= '9'))
                for (a <- agents) delays(a) = value.toLong
            case _ => inHeader = false // sitemap etc: tolerated
          }
        }
      }
      Some((groups.toMap, delays.toMap))
    }

    /** `Sitemap:` directive values (r17) — per RFC 9309 these are
      * FILE-level lines, not group members: collected wherever they
      * appear, case-insensitive key, order preserved. This is how a
      * real crawler DISCOVERS the sitemap index; the frontier chains
      * from here instead of assuming a location. */
    def parseSitemapUrls(text: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      for (raw <- text.split("\n", -1)) {
        val line = raw.takeWhile(_ != '#').trim
        val k = line.indexOf(':')
        if (k > 0 && line.substring(0, k).trim.toLowerCase == "sitemap") {
          val v = line.substring(k + 1).trim
          if (v.nonEmpty) out += v
        }
      }
      out.result()
    }

    /** The group key the agent resolves to: longest named group that
      * prefixes the product token, else "*", else "" (no group). */
    def selectGroup(groupKeys: Iterable[String], agent: String): String = {
      val token = productToken(agent)
      val named = groupKeys.iterator
        .filter(n => n != "*" && token.startsWith(n)).toSeq
      if (named.nonEmpty) named.maxBy(_.length)
      else if (groupKeys.exists(_ == "*")) "*"
      else ""
    }

    /** (allowed, matched rule pattern — "" when no rule matched).
      * Group selection: longest named group that is a prefix of the
      * agent's product token, else the `*` group, else default-allow;
      * rule selection: longest pattern wins, allow preferred on ties. */
    def evaluate(groups: Map[String, Vector[Rule]], agent: String,
        path: String): (Boolean, String) = {
      val rules = groups.getOrElse(selectGroup(groups.keys, agent),
        Vector.empty)
      val hits = rules.filter(r => pathMatches(r.path, path))
      if (hits.isEmpty) (true, "")
      else {
        val best = hits.maxBy(r => (r.path.length, r.allow)) // allow ties
        (best.allow, best.path)
      }
    }
  }

  /** Deterministic robots.txt for synth domain k — the JVM twin of the
    * `web_robots_gate` oracle's decision table. Exercises group
    * selection via the mixed-case "GraftBot" group on k%5==0 (the
    * agent string is "GraftBot/1.7" — product-token + case folding),
    * `*`/`$` wildcard rules with pattern-length precedence (k%3==1:
    * the star-7-anchor Disallow outweighs the plain "docs" Disallow;
    * k%3==0: the star-9-anchor Disallow outweighs the Allow), the
    * equal-length allow/disallow TIE (k=3: allow wins), an uppercase
    * directive key, a never-matching wildcard rule on every domain,
    * and default-allow. (Rule text spelled out here to keep the
    * literal slash-star sequence out of this NESTING block comment.) */
  def buildRobots(k: Long): String = {
    val sb = new StringBuilder
    sb ++= "# synth robots for example" + k + ".com\n"
    // the discovery entry point (r17): the sitemap INDEX is declared
    // here, not assumed — crawlFrontier chains from this line
    sb ++= "Sitemap: https://www.example" + k + ".com/sitemap-index.xml\n"
    sb ++= "User-Agent: *\n"
    sb ++= "Disallow: /private/\n"
    sb ++= "Disallow: /*.tmp$\n"
    if (k % 2 == 1) sb ++= "Disallow: /docs/\n"
    if (k % 3 == 0) sb ++= "Allow: /docs/\n"
    if (k % 3 == 1) sb ++= "DISALLOW: /docs/*7$\n"
    if (k % 3 == 0) sb ++= "Disallow: /docs/*9$\n"
    sb ++= "Crawl-delay: " + (k + 1) + "\n"
    if (k % 5 == 0) {
      sb ++= "\nUser-agent: GraftBot\n"
      sb ++= "Disallow: /docs/9\n"
      sb ++= "Crawl-delay: 2\n" // the named group's own politeness rate
    }
    sb.result()
  }

  /** The agent string the synth gate crawls as — version + comment
    * exercise the product-token extraction and case folding. */
  val crawlAgent = "GraftBot/1.7 (+https://graft.invalid/bot)"

  /** The crawl-politeness gate over the synth corpus: each document's
    * URL path evaluated for [[crawlAgent]] against its domain's PARSED
    * robots.txt (real parse per row — the codec seam), emitting the
    * verdict and the matched rule pattern. */
  def robotsGate(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      // one parse per distinct domain per partition (7 domains)
      val cache = scala.collection.mutable.Map
        .empty[Long, (Map[String, Vector[Robots.Rule]], Map[String, Long])]
      ids.map { id =>
        val k = id % 7
        val (groups, delays) = cache.getOrElseUpdate(k,
          Robots.parseWithDelays(buildRobots(k)).get)
        val path = s"/docs/$id"
        val (allowed, rule) = Robots.evaluate(groups, crawlAgent, path)
        // the SELECTED group's Crawl-delay (0 = none declared there)
        val delay =
          delays.getOrElse(Robots.selectGroup(groups.keys, crawlAgent), 0L)
        (id, s"example$k.com", path, allowed, rule, delay)
      }
    }.toDF("media_id", "domain", "path", "allowed", "matched_rule",
      "crawl_delay")
  }

  // ------------------------------------------------------------------
  // sitemap discovery — <sitemapindex> → gzipped <urlset> files (r16)
  // ------------------------------------------------------------------

  /** One `<url>` entry — keep in lockstep with the `web_sitemap_urls`
    * query and the frontier oracle. */
  def sitemapEntryCol(id: Column): Column = concat(
    lit("<url><loc>https://www.example"), (id % 7).cast("string"),
    lit(".com/docs/"), id.cast("string"),
    lit("</loc><lastmod>2026-0"), ((id % 9) + 1).cast("string"),
    lit("-01</lastmod></url>"))

  /** The two-level sitemap corpus, the shape real discovery crawls hit:
    * per domain k, a PLAIN `<sitemapindex>` naming two GZIPPED
    * `<urlset>` files (part = (doc_id DIV 7) % 2; part 0 hand-rolled
    * STORED, part 1 Deflater — both inflate paths exercised), each
    * urlset holding its docs' entries id-ordered. Rows:
    * (domain_k, kind ∈ {index, urlset-0, urlset-1}, payload). The
    * per-domain aggregate is bounded by the sitemap spec's 50k-URLs-
    * per-file cap at any corpus size — a real crawl shards into more
    * parts, which this layout already models. */
  def sitemapTable(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val parts = docs
      .select((col("doc_id") % 7).as("domain_k"),
        expr("(doc_id DIV 7) % 2").as("part"), col("doc_id"),
        sitemapEntryCol(col("doc_id")).as("frag"))
      .groupBy("domain_k", "part")
      .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(sort_array(
          collect_list(struct(col("doc_id"), col("frag")))),
          x => x.getField("frag")), ""),
        lit("</urlset>")).as("xml"))
    val urlsets = parts.select(col("domain_k"), col("part"), col("xml"))
      .as[(Long, Long, String)]
      .mapPartitions(_.map { case (k, p, xml) =>
        val data = xml.getBytes("UTF-8")
        (k, s"urlset-$p",
          if (p == 0L) gzipStored(data)
          else gzipDeflate(data, s"sitemap-$p.xml"))
      }).toDF("domain_k", "kind", "payload")
    val index = docs.select((col("doc_id") % 7).as("domain_k")).distinct()
      .as[Long].mapPartitions(_.map { k =>
        val xml = "<?xml version=\"1.0\"?><sitemapindex>" +
          (0 to 1).map(p =>
            s"<sitemap><loc>https://www.example$k.com/sitemap-$p" +
              ".xml.gz</loc></sitemap>").mkString +
          "</sitemapindex>"
        (k, "index", xml.getBytes("UTF-8"))
      }).toDF("domain_k", "kind", "payload")
    urlsets.unionByName(index)
  }

  private val SitemapUrlRe =
    "<url><loc>([^<]*)</loc><lastmod>([^<]*)</lastmod></url>".r

  /** The crawl-frontier composition — discovery chained into the
    * politeness gate in ONE query: parse each domain's robots.txt for
    * its `Sitemap:` declaration (r17 — the index location is
    * DISCOVERED, not assumed) → parse the declared sitemapindex →
    * resolve the gzipped urlset refs (broadcast join against the tiny
    * per-domain sitemap table) → inflate + parse each urlset → one row
    * per URL, evaluated against the domain's PARSED robots.txt for
    * [[crawlAgent]]. Output is exactly the frontier a fetcher would
    * enqueue: url + lastmod + allowed + matched rule. */
  def crawlFrontier(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val table = sitemapTable(docs)
    val refs = table.where(col("kind") === "index")
      .select(col("domain_k"),
        explode(regexp_extract_all(decode(col("payload"), "UTF-8"),
          lit("<loc>([^<]*)</loc>"), lit(1))).as("sitemap_url"))
      .select(col("domain_k"), col("sitemap_url"),
        concat(lit("urlset-"), regexp_extract(col("sitemap_url"),
          "sitemap-([0-9]+)\\.xml\\.gz$", 1)).as("kind"))
    val joined = refs.join(
      broadcast(table.where(col("kind") =!= "index")),
      Seq("domain_k", "kind"))
    joined.select(col("domain_k"), col("sitemap_url"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        val cache = scala.collection.mutable.Map
          .empty[Long, Map[String, Vector[Robots.Rule]]]
        rows.flatMap { case (k, smUrl, payload) =>
          // discovery provenance (r17): the sitemap INDEX must be the
          // one the domain's robots.txt DECLARES — a urlset whose index
          // robots does not name is not discoverable and emits nothing
          val robotsTxt = buildRobots(k)
          val declared = Robots.parseSitemapUrls(robotsTxt)
          val expectIndex = s"https://www.example$k.com/sitemap-index.xml"
          if (!declared.contains(expectIndex)) Iterator.empty
          else gunzipMembers(payload).toSeq.flatMap { members =>
            val xml = new String(members.toArray.flatten, "UTF-8")
            SitemapUrlRe.findAllMatchIn(xml).map { m =>
              val url = m.group(1)
              val lastmod = m.group(2)
              val path = url.replaceFirst("^https://[^/]+", "")
              val g = cache.getOrElseUpdate(k,
                Robots.parse(robotsTxt).get)
              val (allowed, rule) = Robots.evaluate(g, crawlAgent, path)
              val id = url.substring(url.lastIndexOf('/') + 1).toLong
              (id, s"example$k.com", expectIndex, smUrl, url, lastmod,
                allowed, rule)
            }
          }
        }
      }.toDF("media_id", "domain", "robots_sitemap", "sitemap_url", "url",
        "lastmod", "allowed", "matched_rule")
  }

  // ------------------------------------------------------------------
  // outlink extraction → frontier (r19, VERDICT r18 "what's missing"
  // 1): real crawls discover most URLs from in-page <a href>, not
  // sitemaps. Extraction is pure Column; the IDN fold and the robots
  // verdict run in narrow codec seams (no shuffle).
  // ------------------------------------------------------------------

  /** Anchor extraction over (media_id, target_uri, body) pages:
    * comments strip FIRST (a commented-out `<a>` is not a link — the
    * planted /ghost/ axis), then every `<a href="…">` in document
    * order; the `&amp;`-escaped attribute form decodes (the only
    * entity the corpus plants in attributes), and each href resolves
    * RFC 3986 §5 against the page's `<base href>` — falling back to
    * the page URL when the base is absent (e.g. a truncated capture
    * that lost its head). One row per (page, link_index). */
  def pageOutlinks(pages: DataFrame): DataFrame = {
    val noC = stripCommentsCol(col("body"))
    val baseHref = regexp_extract(noC, "<base href=\"([^\"]*)\">", 1)
    val hrefs = regexp_extract_all(noC, lit("<a href=\"([^\"]*)\""), lit(1))
    pages
      .select(col("media_id"),
        when(baseHref === "", col("target_uri"))
          .otherwise(baseHref).as("base_uri"),
        posexplode(hrefs).as(Seq("link_index", "href_raw")))
      .select(col("media_id"), col("link_index"),
        regexp_replace(col("href_raw"), "&amp;", "&").as("href"),
        col("base_uri"))
      .withColumn("resolved", urlResolveCol(col("base_uri"), col("href")))
  }

  final case class OutlinkRow(
      media_id: Long, link_index: Int, href: String, canonical: String,
      domain: String, allowed: Boolean, matched_rule: String)

  /** Outlinks normalized to the frontier key and robots-gated: IDN
    * fold (seam — identity on the ASCII hosts that dominate any real
    * corpus), §6 canonicalization + tracking-param strip (Column),
    * then a per-link robots verdict for [[crawlAgent]] keyed by the
    * link's registrable domain (robots parse cached per domain per
    * partition; the verdict uses the canonical PATH, matching
    * [[robotsGate]]'s path-only convention). Narrow end to end —
    * no shuffle until a caller aggregates. */
  def outlinkFrontierRows(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val folded = pageOutlinks(pages)
      .select(col("media_id"), col("link_index"), col("href"),
        col("resolved"))
      .as[(Long, Int, String, String)]
      .mapPartitions(_.map { case (id, i, href, r) =>
        (id, i, href, idnUrlHostToAscii(r))
      })
      .toDF("media_id", "link_index", "href", "folded")
    folded
      .withColumn("canonical",
        stripTrackingParamsCol(urlCanonicalCol(col("folded"))))
      .select(col("media_id"), col("link_index"), col("href"),
        col("canonical"))
      .as[(Long, Int, String, String)]
      .mapPartitions { rows =>
        val cache = scala.collection.mutable.Map
          .empty[Long, Map[String, Vector[Robots.Rule]]]
        val kRe = "example([0-9]+)\\.com$".r
        rows.map { case (id, i, href, c) =>
          val hostStart = c.indexOf("//") + 2
          val pathStart = c.indexOf('/', hostStart)
          val host =
            if (pathStart < 0) c.substring(hostStart)
            else c.substring(hostStart, pathStart)
          val path =
            if (pathStart < 0) "/"
            else c.substring(pathStart).takeWhile(_ != '?')
          kRe.findFirstMatchIn(host).map(_.group(1).toLong) match {
            case Some(k) =>
              val g = cache.getOrElseUpdate(k, Robots.parse(buildRobots(k)).get)
              val (allowed, rule) = Robots.evaluate(g, crawlAgent, path)
              OutlinkRow(id, i, href, c, s"example$k.com", allowed, rule)
            case None =>
              // a domain with no robots known: crawlable by default
              OutlinkRow(id, i, href, c, host, allowed = true, "")
          }
        }
      }.toDF()
  }

  /** The COMPLETE discovery frontier: sitemap-declared URLs ∪
    * link-discovered candidates. Link candidates dedup against the
    * already-fetched canonical set (EVERY capture's canonicalized
    * target, 404s and 3xx aliases included — a dead or aliased URL is
    * KNOWN, not re-crawlable) via a keyed LEFT ANTI join — both sides
    * are corpus-scale, so the join shuffles on the canonical key,
    * never broadcasts — then groups per canonical with the
    * linking-page count real frontiers prioritize by. */
  def crawlFrontierAll(docs: DataFrame): DataFrame = {
    val sm = crawlFrontier(docs).select(
      col("url"), col("domain"), lit("sitemap").as("via"),
      lit(1L).as("n_sources"), col("allowed"), col("matched_rule"))
    // ONE front-door pass (r19 optimization, guide §2.4): the fetched-
    // canonical side and the page side previously each re-ran the full
    // synth+parse codec chain (webWarc + warcResponses twice). Fence
    // the decoded responses once — batch-only builder (the streaming
    // sinks never call this), so the localCheckpoint barrier is safe.
    val resp = warcResponses(webWarc(docs))
      .withColumn("fetched_canonical", stripTrackingParamsCol(
        urlCanonicalCol(col("target_uri"))))
      .localCheckpoint(false)
    val fetchedCanon = resp
      .select(col("fetched_canonical").as("canonical"))
      .distinct()
    val pages = resp.where(col("http_status") === 200 &&
      col("content_type") === "text/html")
    val fresh = outlinkFrontierRows(pages)
      .join(fetchedCanon, Seq("canonical"), "left_anti")
      .groupBy(col("canonical"), col("domain"), col("allowed"),
        col("matched_rule"))
      .agg(count_distinct(col("media_id")).as("n_sources"))
      .select(col("canonical").as("url"), col("domain"),
        lit("link").as("via"), col("n_sources"), col("allowed"),
        col("matched_rule"))
    sm.unionByName(fresh)
  }

  /** Percent-encoding normalization (RFC 3986 §6.2.2.1–2), pure
    * Column: every %XX triplet is marked in ONE regex pass (the entity
    * decoder's sentinel trick), then each either DECODES — when the
    * octet is unreserved (ALPHA / DIGIT / '-' '.' '_' '~'), since
    * "%41" and "A" identify the same resource — or re-emits with
    * UPPERCASE hex. Reserved and non-ASCII octets stay encoded. */
  /** Column-level LET BINDING (r19 optimization round): evaluate `v`
    * ONCE per row and hand the bound value to `f` as a lambda
    * variable. Catalyst has no cross-reference reuse inside one
    * expression tree - a Column referenced k times is COPIED k times
    * and re-executed k times per row (codegen subexpression
    * elimination only covers unconditional codegen-able subtrees, and
    * this file's URL/entity chains sit inside higher-order-function
    * lambdas, which are CodegenFallback). A single-element `transform`
    * gives the value a NamedLambdaVariable: every reference inside `f`
    * is a slot read, not a re-evaluation. Measured before the rewrite
    * (web_frontier_links): ONE projection carried 102 regexp_replace /
    * 30 transform() occurrences (~51 KB of expression) because
    * stripTrackingParamsCol copied its urlCanonicalCol argument ~5x
    * and dotSegRemoveCol re-derived the whole pctNormCol chain per
    * path segment (guide section 1.2 step 2). Value-identical by
    * construction: the bound expression and its null propagation are
    * unchanged, only the evaluation count drops. */
  private[graft] def letCol(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  def pctNormCol(c: Column): Column = {
    val marked = regexp_replace(c, "%([0-9A-Fa-f]{2})", "\u0001$1\u0002")
    val parts = split(marked, "\u0001", -1)
    val dec = transform(parts, s =>
      // hx was referenced 3x and the conv-derived codepoint 7x per
      // %XX part - bound once each (letCol), the per-part work drops
      // to one substring_index + one conv
      letCol(upper(substring_index(s, "\u0002", 1))) { hx =>
        letCol(conv(hx, 16, 10).cast("int")) { cp =>
          val tail = substring_index(s, "\u0002", -1)
          val unreserved =
            (cp >= 0x41 && cp <= 0x5a) || (cp >= 0x61 && cp <= 0x7a) ||
              (cp >= 0x30 && cp <= 0x39) ||
              cp === 0x2d || cp === 0x2e || cp === 0x5f || cp === 0x7e
          val decoded = when(unreserved, decode(unhex(hx), "UTF-8"))
            .otherwise(concat(lit("%"), hx))
          when(instr(s, "\u0002") > 0, concat(decoded, tail)).otherwise(s)
        }
      })
    array_join(dec, "")
  }

  /** Dot-segment removal (RFC 3986 §5.2.4 over an absolute path),
    * pure Column: ONE aggregate() fold over the '/'-split segments
    * with a stack accumulator — '.' drops, '..' pops, a TRAILING dot
    * segment leaves the trailing slash (the RFC output), empty
    * segments (double slashes, trailing slash) pass through
    * unchanged. An empty path canonicalizes to "/" (§6.2.3). */
  def dotSegRemoveCol(path: Column): Column =
    // segs/n were re-derived from the full upstream chain on EVERY
    // fold step (the merge lambda references n per element), turning
    // an O(segments) fold into O(segments x pctNorm-chain) - bind both
    letCol(split(path, "/", -1)) { segs =>
    letCol(size(segs)) { n =>
    val paired = zip_with(segs, sequence(lit(1), n),
      (s, i) => struct(s.as("s"), i.as("i")))
    aggregate(paired,
      struct(array().cast("array<string>").as("st"),
        lit(false).as("slash")),
      (acc, e) => {
        val s = e.getField("s")
        val i = e.getField("i")
        val st = acc.getField("st")
        val isLast = (i === n).as("slash")
        // i==1 is the empty segment before the leading '/' (or the
        // whole of an empty path) — structural, never content
        when(i === 1, acc)
          .when(s === ".", struct(st.as("st"), isLast))
          .when(s === "..",
            struct(when(size(st) > 0, slice(st, lit(1), size(st) - 1))
              .otherwise(st).as("st"), isLast))
          .otherwise(struct(concat(st, array(s)).as("st"),
            lit(false).as("slash")))
      },
      acc => concat(lit("/"), array_join(acc.getField("st"), "/"),
        when(acc.getField("slash") && size(acc.getField("st")) > 0,
          lit("/")).otherwise(lit(""))))
    }}

  /** Full RFC 3986 §6 syntax-based canonicalization, pure Column:
    * fragment dropped, scheme+host lowercased, the scheme's default
    * port stripped (https:443 / http:80), percent-encoding normalized
    * over path AND query ([[pctNormCol]]), dot segments removed from
    * the path ([[dotSegRemoveCol]]), empty path → "/". The frontier /
    * revisit-dedup key: trivially-aliased URLs (case, default port,
    * ./.. segments, %-encoded unreserved chars) collapse to one form. */
  def urlCanonicalCol(url: Column): Column =
    // noFrag fed four regexp_extracts, scheme/hostRaw three branches
    // each - bound once, each regex runs once per row
    letCol(regexp_replace(url, "#.*$", "")) { noFrag =>
    letCol(lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))) { scheme =>
    letCol(lower(regexp_extract(noFrag, "^[A-Za-z]+://([^/?#]+)", 1))) {
      hostRaw =>
    letCol(pctNormCol(regexp_extract(noFrag, "\\?([^#]*)", 1))) { query =>
    val host = when(scheme === "https", regexp_replace(hostRaw, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostRaw, ":80$", ""))
      .otherwise(hostRaw)
    val path = dotSegRemoveCol(pctNormCol(
      regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)))
    concat(scheme, lit("://"), host, path,
      when(query =!= "", concat(lit("?"), query)).otherwise(lit("")))
    }}}}

  /** RFC 3986 §5.2 reference resolution (syntax subset), pure Column:
    * a ref with a scheme is already absolute; "//host/…" adopts the
    * base scheme (network-path); "/…" adopts the base origin
    * (absolute-path — the form real Location headers use); an empty
    * ref is the base sans fragment; anything else is a relative path
    * merged onto the base path's directory (§5.3 merge; the later
    * [[urlCanonicalCol]] pass removes any dot segments the merge
    * introduces). */
  def urlResolveCol(base: Column, ref: Column): Column =
    // base and ref are often whole derivation chains at the call
    // sites (resolved Location headers, page-synth URLs) - bind both
    // so the when-ladder reads slots instead of re-deriving them
    letCol(base) { b =>
    letCol(ref) { r =>
    val scheme = lower(regexp_extract(b, "^([A-Za-z]+)://", 1))
    val origin = regexp_extract(b, "^([A-Za-z]+://[^/?#]+)", 1)
    // base path up to and including its LAST '/' (greedy), fragment
    // and query stripped first; empty (no path) merges at the root
    val baseDir = regexp_extract(
      regexp_replace(b, "[?#].*$", ""),
      "^[A-Za-z]+://[^/?#]+(.*/)", 1)
    when(r.rlike("^[A-Za-z][A-Za-z0-9+.\\-]*:"), r)
      .when(r.startsWith("//"), concat(scheme, lit(":"), r))
      .when(r.startsWith("/"), concat(origin, r))
      .when(r === "", regexp_replace(b, "#.*$", ""))
      .otherwise(concat(origin,
        when(baseDir === "", lit("/")).otherwise(baseDir), r))
    }}

  /** Tracking-parameter stripping (r18) — the step real crawl
    * canonicalizers run BEYOND RFC 3986: `utm_*` / gclid / fbclid /
    * msclkid query parameters identify campaigns, not resources, so
    * URLs differing only in them are the same page and a frontier that
    * keeps them over-crawls. Pure Column: filter the '&'-split query
    * segments against the tracker pattern, rejoin, drop a now-empty
    * '?'. Composes AFTER [[urlCanonicalCol]]; non-tracking params
    * (and their order) are untouched. (DuckDB twin: list_filter +
    * regexp_matches over the same pattern.) */
  val trackingParamRe = "^(utm_[a-z0-9_]+|gclid|fbclid|msclkid)="
  def stripTrackingParamsCol(url: Column): Column =
    // `url` is usually the FULL urlCanonicalCol chain at the call
    // sites and was copied ~5x into base/qs/kept - bind url, qs, base
    // and the rebuilt query string once each
    letCol(url) { u =>
    letCol(regexp_replace(u, "\\?.*$", "")) { base =>
    letCol(regexp_extract(u, "\\?(.*)$", 1)) { qs =>
    letCol(array_join(filter(split(qs, "&"),
      s => !s.rlike(trackingParamRe)), "&")) { newQs =>
    when(qs === "" || newQs === "", base)
      .otherwise(concat(base, lit("?"), newQs))
    }}}}

  /** URL normalization: drop the fragment, lowercase scheme+host, strip
    * the https default port. Returns (normalized, scheme, host, path,
    * query, registered domain) as a struct-free tuple of Columns via a
    * helper — callers select the pieces. */
  def urlParts(url: Column): Seq[(String, Column)] = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    val hostRaw = lower(regexp_extract(noFrag, "^[A-Za-z]+://([^/?#]+)", 1))
    val host = regexp_replace(hostRaw, ":443$", "")
    val path = regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val domain = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    val norm = concat(scheme, lit("://"), host, path,
      when(query =!= "", concat(lit("?"), query)).otherwise(lit("")))
    Seq("url_norm" -> norm, "scheme" -> scheme, "host" -> host,
      "path" -> path, "qs" -> query, "domain" -> domain)
  }

  // ------------------------------------------------------------------
  // IDN / punycode host folding (r18, VERDICT r17 item 6) — RFC 3490
  // ToASCII via java.net.IDN (public JDK API; RFC 3492 punycode
  // underneath). Runs in the codec seam: the per-label algorithm is
  // not Column-expressible, and the fold is identity on the ASCII
  // hosts that dominate any real corpus, so the seam is cheap.
  // ------------------------------------------------------------------

  /** RFC 3490 ToASCII over a host (port preserved, untouched).
    * ASCII hosts — including already-punycode `xn--` labels — return
    * unchanged; an unfoldable host returns unchanged rather than
    * throwing (the never-throw codec contract). */
  def idnHostToAscii(host: String): String = {
    val colonAt = host.indexOf(':')
    val (name, port) =
      if (colonAt >= 0) (host.substring(0, colonAt), host.substring(colonAt))
      else (host, "")
    if (name.forall(_ < 0x80)) host
    else {
      val folded =
        try java.net.IDN.toASCII(name).toLowerCase(java.util.Locale.ROOT)
        catch { case _: IllegalArgumentException => name }
      folded + port
    }
  }

  /** [[idnHostToAscii]] over a URL's authority; non-URL strings (e.g.
    * relative Location references, which have no host of their own)
    * pass through unchanged. */
  def idnUrlHostToAscii(url: String): String = {
    val i = url.indexOf("//")
    if (i < 0) return url
    val hostStart = i + 2
    var j = hostStart
    while (j < url.length && url.charAt(j) != '/' &&
      url.charAt(j) != '?' && url.charAt(j) != '#') j += 1
    val host = url.substring(hostStart, j)
    if (host.forall(_ < 0x80)) url
    else url.substring(0, hostStart) + idnHostToAscii(host) +
      url.substring(j)
  }

  /** Seam twin of [[idnHostToAscii]] over (media_id, unicode_host,
    * punycode_host) rows — appends the folded host column. */
  def idnFoldHosts(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("unicode_host"), col("punycode_host"))
      .as[(Long, String, String)]
      .map { case (id, u, p) => (id, u, p, idnHostToAscii(u)) }
      .toDF("media_id", "unicode_host", "punycode_host", "folded_host")
  }

  /** The slim per-record FETCH LOG — what a real crawler materializes
    * beside the payload store (status, Location, Retry-After, capture
    * instant per target URI): the serving source for the frontier /
    * recrawl / chase decision queries, so none of them re-parse
    * archives. One projection of [[warcRecords]]; row identity
    * (media_id, rec_index). */
  def fetchLog(media: DataFrame): DataFrame =
    warcRecords(media).select("media_id", "rec_index", "warc_type",
      "target_uri", "http_status", "location", "retry_after", "warc_date",
      "truncated", "content_type",
      // the content identity (codepoint count + order-weighted
      // checksum) — what crawl-time dedup and revisit verification
      // key on without touching the payload store
      "body_chars", "body_ck")

  /** Multi-hop redirect CHASE (r18, VERDICT r17 item 5): every 3xx
    * capture chased to its terminal — resolve the Location against its
    * base (RFC 3986 §5), IDN-fold its host to the punycode spelling
    * WARC captures store (so the unicode-Location → punycode-capture
    * hop joins), canonicalize (§6), and follow while the target is
    * itself a captured redirect, up to 5 hops, flagging A→…→A
    * LOOPS via a visited-set check per chased start. The iteration is
    * the bounded pointer-jumping shape: 4 keyed joins
    * against the (localCheckpoint-ed, parsed-once) edge table — at
    * corpus scale each hop is one shuffle on the canonical-URL key,
    * never a cartesian, never a driver-side walk. */
  def redirectChaseMulti(docs: DataFrame): DataFrame =
    chaseMultiOver(warcRecords(webWarc(docs)))

  /** The multi-hop chase over ANY fetch-shaped table — (media_id,
    * target_uri, http_status, location) — so the served variant reads
    * the streamed [[graft.sinks.WebSink]] fetch log instead of
    * re-parsing archives. */
  def chaseMultiOver(recs: DataFrame,
      maxBroadcastEdges: Long = 4000000L): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    val r3 = recs
      .where(col("http_status") >= 300 && col("http_status") < 400)
      .select(col("media_id"), col("target_uri"), col("location"))
      // the seam: fold any non-ASCII Location host to its punycode
      // form BEFORE resolution (absolute Locations carry the host;
      // relative ones adopt the — already-ASCII — base host)
      .as[(Long, String, String)]
      .map { case (id, u, l) => (id, u, idnUrlHostToAscii(l)) }
      .toDF("media_id", "target_uri", "location")
    val edges = r3.select(col("media_id"),
        col("target_uri").as("start_uri"),
        urlCanonicalCol(col("target_uri")).as("alias_c"),
        urlCanonicalCol(urlResolveCol(col("target_uri"), col("location")))
          .as("target_c"))
      // materialize ONCE: the corpus parse must not re-run per hop
      .localCheckpoint(true)
    // SIZE-GATED hop side (r19, VERDICT r18 performance caveat): the
    // 3xx edge table is tiny at test scale, but at 100 TB with ~25%
    // redirect captures the distinct alias→target set can exceed any
    // broadcast limit. Edges are already materialized, so the count is
    // a free metadata pass; past the gate each hop joins KEYED on the
    // canonical-URL key (shuffle hash/sort-merge — one shuffle of the
    // slim chase state per hop, still never cartesian).
    val hopBase = edges.select(col("alias_c").as("e_alias"),
      col("target_c").as("e_target"))
    val hop =
      if (edges.count() <= maxBroadcastEdges) broadcast(hopBase)
      // the hint is load-bearing: a checkpointed edge table has no
      // size statistics, so the planner (and AQE at runtime) would
      // re-elect a broadcast join the gate just ruled out
      else hopBase.hint("shuffle_hash")
    var state = edges.select(col("media_id"), col("start_uri"),
      col("target_c").as("cur"),
      lit(1).as("hops"), array(col("alias_c")).as("path"),
      lit(false).as("loop"), lit(false).as("done"))
    for (_ <- 2 to 5) { // up to 5 hops
      state = state.join(hop, col("cur") === col("e_alias"), "left")
        .select(col("media_id"), col("start_uri"),
          when(col("done") || col("e_target").isNull, col("cur"))
            .otherwise(col("e_target")).as("cur"),
          when(col("done") || col("e_target").isNull, col("hops"))
            .otherwise(col("hops") + 1).as("hops"),
          when(col("done") || col("e_target").isNull, col("path"))
            .otherwise(array_union(col("path"), array(col("cur"))))
            .as("path"),
          (col("loop") || (!col("done") && col("e_target").isNotNull &&
            array_contains(col("path"), col("e_target")))).as("loop"),
          (col("done") || col("e_target").isNull ||
            array_contains(col("path"), col("e_target"))).as("done"))
    }
    val fetched = recs.where(col("http_status") === 200)
      .select(urlCanonicalCol(col("target_uri")).as("fetched_c"))
      .distinct()
    state.select(col("media_id"), col("start_uri"),
        col("cur").as("final_canonical"), col("hops"), col("loop"))
      .join(fetched, col("final_canonical") === col("fetched_c"), "left")
      .withColumn("already_fetched", col("fetched_c").isNotNull)
      .drop("fetched_c")
  }

}

/** Little-endian byte helpers shared by the ingestion codecs (gzip
  * trailers, zip headers) — one copy, package-private (review r15:
  * WebCodec and ArchiveCodec each carried an identical private set). */
private[ext] object Le {
  def le16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  def le32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
  def w16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
  }
  def w32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
    o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
    o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
  }
}
