package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions._

/** WARC container ingestion (r15; crawl-realistic since r16; fully
  * STREAMING since r17 — VERDICT r16 item 1): Common-Crawl ships HTML
  * inside WARC files (ISO 28500 — version line, named headers, a
  * blank line, then a Content-Length-framed body per record), so the
  * crawl front door in practice is container → records → HTTP body →
  * charset decode → [[HtmlText.htmlToText]]. This parser handles the
  * read side:
  *
  *  - `.warc.gz` files (the ONLY form Common Crawl actually ships) are
  *    detected by the gzip magic and inflated MEMBER-AT-A-TIME through
  *    one GZIPInputStream feeding the record scanner incrementally —
  *    the r16 whole-shard inflation (which silently truncated past the
  *    ~2 GiB JVM-array cap, below the 3-4 GiB a real CC shard inflates
  *    to) is gone; memory is O(largest record), a truncated or corrupt
  *    trailing member loses only itself, and incomplete containers are
  *    ACCOUNTED, not silent ([[WarcRecords.truncated]] →
  *    `src_warc_report`);
  *  - records are located by their `WARC/1.0` version line and framed
  *    by `Content-Length` (the body may contain ANYTHING, including
  *    `WARC/1.0` lookalikes — framing, not scanning, delimits records;
  *    a record with a missing/garbled/oversized length falls back to
  *    scanning for the next version line, losing only itself — a body
  *    read that overruns the stream is pushed back so an intact record
  *    inside it still parses, the same recovery the whole-file scan
  *    gave). Header names compare case-insensitively (ISO 28500 §5.1 /
  *    RFC 9110 field names are case-insensitive — a real writer's
  *    `content-length` must frame, not drop, the record) and lengths
  *    parse as Long, with lengths beyond the per-record array bound
  *    treated as unframeable rather than allocated;
  *  - only `WARC-Type: response` records carry page payloads;
  *    warcinfo/request/metadata records are skipped whole;
  *  - the HTTP response inside a response record is split at its
  *    header/body blank line; the body's charset is resolved from the
  *    HTTP `Content-Type` charset parameter, else a `<meta charset>` /
  *    http-equiv scan of the body head, else strict UTF-8 with a
  *    Latin-1 fallback on malformed bytes ([[decodeBody]] — ~98% of
  *    real crawl pages are UTF-8; the r15 unconditional ISO-8859-1
  *    mojibaked every multibyte character, poisoning chunking, dedup
  *    shingles and embeddings downstream);
  *  - the decoded body goes through the same HTML chain the bare-page
  *    path uses, keyed by `WARC-Target-URI` (real crawls have no
  *    integer doc ids — the URL IS the key, and the `dedup_url`
  *    operator canonicalizes it downstream).
  *
  * Scale shape: one WARC file parses in one linear pass inside a
  * narrow map holding ONE record at a time — real use reads
  * `.warc(.gz)` files via the binaryFile source and flatMaps
  * [[recordIterator]] per file, embarrassingly parallel across files
  * (CC shards are ~1 GB each: one task apiece, no shuffle; the
  * binaryFile source holds the COMPRESSED bytes whole, the inflation
  * never materializes). The gate corpus synthesizes multi-record
  * files from the documents table ([[WarcGen.warcFile]]) with
  * doc_id%6 charset/transfer classes — plain ASCII, HTTP-declared
  * UTF-8, meta-declared EUC-KR, undeclared UTF-8 with an astral-plane
  * emoji, UTF-16LE behind a BOM, and a chunked-transfer gzip entity —
  * so record framing, gzip member inflation, charset resolution, BOM
  * handling, de-chunking, entity inflation, type skipping, and HTTP
  * header stripping are all on the hash-checked path.
  */
object WarcText {

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** One parsed response record: target URI, the HTTP Content-Type
    * header verbatim (if any), and the raw body bytes after the HTTP
    * head — bytes, not chars, because the charset is per-record. */
  private[graft] final case class Response(
    uri: String, contentType: Option[String], body: Array[Byte])

  private[graft] def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(0) & 0xFF) == 0x1F && (bytes(1) & 0xFF) == 0x8B

  /** Per-payload inflation cap: a JVM array tops out just under
    * 2 GiB, and ByteArrayOutputStream past it dies with an
    * OutOfMemoryError that NO catch sees (OOME is fatal). Since r17
    * this bounds only a single record's `Content-Encoding: gzip`
    * ENTITY (container-level inflation is member-at-a-time streaming
    * with no whole-shard buffer — the r16 shard-level cap silently
    * truncated real CC shards, whose 3-4 GiB inflated size exceeds
    * it). A single HTTP entity past 2 GiB is not representable as a
    * JVM array at all; the decoded prefix is kept. */
  private val MaxInflatedBytes: Int = Int.MaxValue - 64

  /** Per-RECORD framing bound: a declared Content-Length beyond the
    * JVM array limit cannot be materialized and is treated as
    * unframeable (the record loses itself; the scan resynchronizes),
    * never allocated. */
  private[graft] val MaxRecordBytes: Long = Int.MaxValue.toLong - 64

  /** Header-block search bound: the record's `\r\n\r\n` terminator
    * must appear within 1 MiB of its version line (ISO 28500 headers
    * are a few hundred bytes; 1 MiB is three orders of magnitude of
    * slack). Without a bound, a corrupt terminator-free container
    * would buffer the whole remaining stream looking for one —
    * exactly the unbounded memory this streaming parser removes. */
  private[graft] val HeaderCap: Int = 1 << 20

  private[sources] val VersionPat: Array[Byte] =
    "WARC/".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private[sources] val HeadEndPat: Array[Byte] =
    "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Inflate a gzip payload held in memory — since r17 used ONLY for a
    * single record's `Content-Encoding: gzip` HTTP entity (bounded by
    * the record, which is itself bounded by [[MaxRecordBytes]]); the
    * container level streams instead ([[recordIterator]]). Total: a
    * truncated/corrupt stream keeps the decoded prefix. */
  private[graft] def gunzipMembers(bytes: Array[Byte]): Array[Byte] = {
    // initial capacity: 4x the compressed size, clamped to [64, 64 MiB]
    // in Long arithmetic (bytes.length * 4 overflows Int at 512 MiB)
    val cap = math.max(64L, math.min(bytes.length.toLong * 4, 64L << 20)).toInt
    val out = new java.io.ByteArrayOutputStream(cap)
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0 && out.size() <= MaxInflatedBytes - n) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    out.toByteArray
  }

  // charset=... inside a Content-Type value or a meta tag; the token
  // charset covers every IANA name shape (alnum, -, _, ., :)
  private val CtCharset = java.util.regex.Pattern.compile(
    "(?i)charset\\s*=\\s*[\"']?\\s*([a-zA-Z0-9_\\-.:]+)")
  // one pattern covers <meta charset="..."> AND the http-equiv form
  // (both carry charset= inside the tag); bounded tag scan, never
  // across a '>'
  private val MetaCharset = java.util.regex.Pattern.compile(
    "(?i)<meta[^>]{0,256}?charset\\s*=\\s*[\"']?\\s*([a-zA-Z0-9_\\-.:]+)")

  /** Declared charset name for a response: the HTTP Content-Type
    * charset parameter wins; else a meta scan over the body's first
    * 2 KiB (meta declarations are ASCII, so the Latin-1 view of the
    * head is exact for scanning regardless of the true charset). */
  private[graft] def declaredCharset(r: Response): Option[String] = {
    val fromCt = r.contentType.flatMap { ct =>
      val m = CtCharset.matcher(ct)
      if (m.find()) Some(m.group(1)) else None
    }
    fromCt.orElse {
      val head = new String(r.body, 0, math.min(r.body.length, 2048), Latin1)
      val m = MetaCharset.matcher(head)
      if (m.find()) Some(m.group(1)) else None
    }
  }

  /** Decode body bytes: a BOM wins outright (the byte-order mark IS
    * the encoding declaration — browsers rank it above the HTTP
    * header), then the declared charset strictly, then strict UTF-8
    * (the real-crawl default), then Latin-1 (total — every byte
    * sequence is valid Latin-1, so the chain never throws and never
    * drops a record; a binary payload surfaces as garbage text for
    * the downstream quality gate to kill, exactly like PdfText's
    * malformed channel). A BOM whose strict decode fails falls
    * through the same chain over the full bytes. */
  private[graft] def decodeBody(bytes: Array[Byte], declared: Option[String]): String = {
    def strict(cs: java.nio.charset.Charset, from: Int = 0): Option[String] =
      try {
        val dec = cs.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        Some(dec.decode(java.nio.ByteBuffer.wrap(bytes, from, bytes.length - from)).toString)
      } catch { case _: java.nio.charset.CharacterCodingException => None }
    def b(i: Int): Int = bytes(i) & 0xFF
    val viaBom: Option[String] =
      if (bytes.length >= 3 && b(0) == 0xEF && b(1) == 0xBB && b(2) == 0xBF)
        strict(Utf8, 3)
      else if (bytes.length >= 2 && b(0) == 0xFF && b(1) == 0xFE)
        strict(java.nio.charset.StandardCharsets.UTF_16LE, 2)
      else if (bytes.length >= 2 && b(0) == 0xFE && b(1) == 0xFF)
        strict(java.nio.charset.StandardCharsets.UTF_16BE, 2)
      else None
    val declaredCs = declared.flatMap(name =>
      try Some(java.nio.charset.Charset.forName(name.trim))
      catch { case scala.util.control.NonFatal(_) => None })
    viaBom
      .orElse(declaredCs.flatMap(strict(_)))
      .orElse(strict(Utf8))
      .getOrElse(new String(bytes, Latin1))
  }

  /** Undo HTTP/1.1 chunked transfer framing over the Latin-1 byte
    * view: hex-size line (chunk extensions after ';' ignored), chunk
    * data, CRLF, …, terminated by the 0-chunk (trailers ignored).
    * None on any malformed framing — the caller keeps the raw body
    * (total, never throws; the quality gate downstream owns garbage). */
  private[graft] def dechunk(body: String): Option[String] = {
    val sb = new java.lang.StringBuilder(body.length)
    var i = 0
    while (true) {
      val eol = body.indexOf("\r\n", i)
      if (eol < 0) return None
      val sizeTok = {
        val line = body.substring(i, eol)
        val semi = line.indexOf(';')
        (if (semi < 0) line else line.substring(0, semi)).trim
      }
      val size =
        try java.lang.Long.parseLong(sizeTok, 16)
        catch { case _: NumberFormatException => return None }
      if (size < 0 || eol + 2 + size > body.length) return None
      if (size == 0) return Some(sb.toString) // trailers ignored
      val dataStart = eol + 2
      val dataEnd = dataStart + size.toInt
      sb.append(body, dataStart, dataEnd)
      // the CRLF after each chunk is mandatory; tolerate a missing one
      // only at end-of-input (truncated capture) — the full chunk data
      // already decoded, so keep the prefix instead of regressing to
      // the raw chunk-framed view. A present-but-WRONG byte after the
      // data is corrupt framing, not truncation (review r16): raw body.
      if (dataEnd + 2 <= body.length) {
        if (body.charAt(dataEnd) != '\r' || body.charAt(dataEnd + 1) != '\n') return None
        i = dataEnd + 2
      } else {
        if (dataEnd < body.length && body.charAt(dataEnd) != '\r') return None
        return Some(sb.toString)
      }
    }
    None // unreachable
  }

  /** Build a [[Response]] from a framed response record's body bytes:
    * strip the HTTP response head (status line + headers), keeping
    * Content-Type (charset), Transfer-Encoding and Content-Encoding
    * (entity recovery) — real captures store the response AS SENT,
    * chunk framing and body compression included. Per-record memory
    * only; the Latin-1 String view is a byte bijection. */
  private[sources] def buildResponse(uri: String, bodyBytes: Array[Byte]): Response = {
    val body = new String(bodyBytes, Latin1)
    val split = body.indexOf("\r\n\r\n")
    val (head, payload) =
      if (split < 0) ("", body) else (body.substring(0, split), body.substring(split + 4))
    val lh = head.toLowerCase(java.util.Locale.ROOT)
    def httpHeader(name: String): Option[String] = {
      val k = "\r\n" + name + ":"
      val i = lh.indexOf(k)
      if (i < 0) None
      else {
        val vStart = i + k.length
        val vEnd = head.indexOf("\r\n", vStart)
        Some(head.substring(vStart,
          if (vEnd < 0) head.length else vEnd).trim)
      }
    }
    val ct = httpHeader("content-type")
    // receive order inverts send order: un-chunk the transfer
    // framing, then undo the body compression
    val unchunked =
      if (httpHeader("transfer-encoding")
          .exists(_.toLowerCase(java.util.Locale.ROOT).contains("chunked")))
        dechunk(payload).getOrElse(payload) // malformed: keep raw
      else payload
    val entity = {
      val raw = unchunked.getBytes(Latin1)
      val gzipped = httpHeader("content-encoding")
        .map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .exists(e => e == "gzip" || e == "x-gzip")
      if (gzipped && isGzip(raw)) gunzipMembers(raw) else raw
    }
    Response(uri, ct, entity)
  }

  /** Streaming record iterator over one WARC container (VERDICT r16
    * item 1): `.warc.gz` inflates member-at-a-time through
    * [[GzipMembers]] — no whole-shard buffer exists anywhere, memory
    * is O(largest record), and a CC shard inflating past the old
    * 2 GiB cap now yields ALL its records (pinned by SourceSpec's
    * >2 GiB shard class). A truncated or corrupt member — ANYWHERE in
    * the shard, not just trailing — ends the stream with an error;
    * records decoded before it are kept and the loss is accounted
    * ([[WarcRecords.truncated]]). The r17 review found the previous
    * JDK GZIPInputStream SWALLOWED mid-shard member corruption as a
    * clean EOF (its readTrailer treats an unparseable next header as
    * end-of-stream), so the rest of the shard vanished with
    * truncated=false — the exact lost volume `src_warc_report` exists
    * to expose; the hand-rolled member walk makes every corruption an
    * IOException that [[ByteScan]] records as a stream death. */
  private[graft] def recordIterator(file: Array[Byte]): WarcRecords = {
    val in: java.io.InputStream =
      if (isGzip(file)) new GzipMembers(file)
      else new java.io.ByteArrayInputStream(file)
    new WarcRecords(in)
  }

  /** Strict view of [[recordIterator]] — fixture-sized callers
    * (specs, fuzz harnesses) that want the whole record list. */
  private[graft] def records(file: Array[Byte]): Seq[Response] =
    recordIterator(file).toSeq

  /** Decode one response end-to-end: charset resolve → strict decode
    * with fallback → HTML chain. */
  private[graft] def responseText(r: Response): String =
    HtmlText.htmlToText(decodeBody(r.body, declaredCharset(r)))

  /** (url, text) from a (path, content binary) frame of WARC files —
    * the real-use entry point: narrow flatMap per file, gzip members
    * inflated, charset resolved per record, keyed by the target URI
    * (real crawls have no integer ids — the r15 trailing-integer key
    * silently discarded almost every real URI; it survives only as
    * the gate adapter [[utlWarcToText]]). */
  def warcToText(s: SparkSession, files: DataFrame): DataFrame = {
    import s.implicits._
    files.select("content")
      .as[Array[Byte]]
      .mapPartitions(_.flatMap(bytes =>
        recordIterator(bytes).map(r => (r.uri, responseText(r)))))
      .toDF("url", "text")
  }

  /** Per-file parse accounting over a (path, content) frame of WARC
    * files (VERDICT r16 item 5 — the `doc_extract_report` status
    * channel for the container path): how many response records
    * parsed, how many non-response records were framed and skipped,
    * how many records were unframeable (bad/absent/oversized length,
    * unterminated header block), and whether the container itself was
    * incomplete (a body read overran the stream, or the gzip stream
    * died mid-shard). At 100 TB lost-volume accounting is then a
    * plain sum over this frame — no grep through executor logs.
    * Narrow map, one record in memory at a time, no shuffle. */
  def warcReport(s: SparkSession, files: DataFrame): DataFrame = {
    import s.implicits._
    files.select("path", "content")
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (path, bytes) =>
        val it = recordIterator(bytes)
        while (it.hasNext) it.next()
        (path, it.nResponses, it.nOther, it.nMalformed,
          if (it.truncated) 1L else 0L)
      })
      .toDF("path", "n_responses", "n_other", "n_malformed", "truncated")
  }

  /** Gate adapter over the real-use path: the synthetic corpus encodes
    * doc_id as the URI's trailing integer so the oracle can join back
    * to the documents table. Gate-only — real use keys by URL via
    * [[warcToText]]. */
  def utlWarcToText(s: SparkSession, files: DataFrame): DataFrame = {
    import s.implicits._
    files.select("content")
      .as[Array[Byte]]
      .mapPartitions(_.flatMap(bytes => recordIterator(bytes).flatMap { r =>
        val tail = r.uri.reverse.takeWhile(_.isDigit).reverse
        (try Some(tail.toLong) catch { case _: NumberFormatException => None })
          .map(id => (id, responseText(r)))
      }))
      .toDF("doc_id", "text")
  }
}

/** Growable sliding-window byte scanner over an InputStream — the
  * streaming substrate under [[WarcRecords]]: pattern scans consume as
  * they go (keeping only a pattern-length overlap tail), bounded
  * lookahead for the header-block search, exact-length body reads with
  * incremental allocation (a lying multi-GB declared length against a
  * 10 KB stream allocates 10 KB, not the lie), and pushback so an
  * overrunning body read can return its consumed bytes to the window
  * for resynchronization. A read error (truncated/corrupt gzip member)
  * reads as EOF and is remembered in [[died]] — totality at this layer
  * is what lets every caller above stay exception-free. */
/** Member-at-a-time gzip inflation over an in-memory `.warc.gz` shard
  * (RFC 1952 framing by hand + `Inflater(nowrap)`): each member's
  * header is parsed explicitly (magic, CM=8, FLG-driven FEXTRA/FNAME/
  * FCOMMENT/FHCRC fields), its deflate stream inflated to exhaustion,
  * and the cursor advanced past the 8-byte trailer using
  * `Inflater.getRemaining` for an EXACT compressed-byte account — so
  * a malformed member header mid-shard, a truncated deflate stream,
  * or a cut trailer is an `IOException` at the precise member, never
  * a silent clean EOF. (JDK GZIPInputStream's multi-member mode
  * cannot do this: its readTrailer catches the next header's parse
  * failure internally and reports end-of-stream, losing the rest of
  * the shard unaccounted — the r17 review finding.) Memory is the
  * inflater's window; nothing inflated is buffered here. */
private[sources] final class GzipMembers(data: Array[Byte]) extends java.io.InputStream {
  private var memberStart = 0   // cursor: start of the next member
  private var dataStart = 0     // current member's deflate offset
  private var inf: java.util.zip.Inflater = null
  private val one = new Array[Byte](1)

  private def fail(msg: String): Nothing = {
    if (inf != null) { inf.end(); inf = null }
    throw new java.io.IOException(msg + " at offset " + memberStart)
  }

  /** Position the inflater at the next member's deflate data; false on
    * a clean end (cursor exactly at the shard's end). */
  private def startMember(): Boolean = {
    if (memberStart >= data.length) return false
    if (memberStart + 10 > data.length) fail("truncated gzip member header")
    if ((data(memberStart) & 0xFF) != 0x1F || (data(memberStart + 1) & 0xFF) != 0x8B)
      fail("bad gzip magic")
    if ((data(memberStart + 2) & 0xFF) != 8) fail("unknown gzip method")
    val flg = data(memberStart + 3) & 0xFF
    var p = memberStart + 10
    if ((flg & 0x04) != 0) { // FEXTRA: LE16 length + payload
      if (p + 2 > data.length) fail("truncated FEXTRA")
      p += 2 + ((data(p) & 0xFF) | ((data(p + 1) & 0xFF) << 8))
    }
    if ((flg & 0x08) != 0) { // FNAME: NUL-terminated
      while (p < data.length && data(p) != 0) p += 1
      p += 1
    }
    if ((flg & 0x10) != 0) { // FCOMMENT
      while (p < data.length && data(p) != 0) p += 1
      p += 1
    }
    if ((flg & 0x02) != 0) p += 2 // FHCRC
    if (p > data.length) fail("truncated gzip member header fields")
    inf = new java.util.zip.Inflater(true)
    inf.setInput(data, p, data.length - p)
    dataStart = p
    true
  }

  override def read(): Int = {
    val n = read(one, 0, 1)
    if (n < 0) -1 else one(0) & 0xFF
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    while (true) {
      if (inf == null && !startMember()) return -1
      val n =
        try inf.inflate(b, off, len)
        catch { case _: java.util.zip.DataFormatException =>
          fail("corrupt deflate data") }
      if (n > 0) return n
      if (inf.finished()) {
        // exact advance: compressed bytes consumed + the 8-byte
        // CRC32/ISIZE trailer
        val consumed = (data.length - dataStart) - inf.getRemaining
        inf.end(); inf = null
        memberStart = dataStart + consumed + 8
        if (memberStart > data.length) fail("truncated gzip trailer")
        // loop: next member (or clean end)
      } else if (inf.needsInput() || inf.needsDictionary()) {
        fail("truncated deflate stream")
      }
    }
    -1 // unreachable
  }
}

private[sources] final class ByteScan(in: java.io.InputStream) {
  private var buf = new Array[Byte](64 * 1024)
  private var pos = 0
  private var lim = 0
  private var eofSeen = false

  /** The stream ended with an error rather than a clean EOF. */
  private[sources] var died = false

  private def avail: Int = lim - pos

  /** Pull more bytes into the window; false on EOF or stream death. */
  private def fill(): Boolean = {
    if (eofSeen) return false
    if (lim == buf.length) {
      if (pos > 0) { // slide
        System.arraycopy(buf, pos, buf, 0, lim - pos); lim -= pos; pos = 0
      } else { // genuinely full: grow
        val nb = new Array[Byte](buf.length << 1)
        System.arraycopy(buf, 0, nb, 0, lim)
        buf = nb
      }
    }
    val n =
      try in.read(buf, lim, buf.length - lim)
      catch { case scala.util.control.NonFatal(_) => died = true; -1 }
    if (n <= 0) { eofSeen = true; false } else { lim += n; true }
  }

  /** Window offset of `pat` at/after window offset `from`, or -1 in
    * the current window. Patterns are 4-5 bytes; a naive scan wins. */
  private def indexIn(from: Int, pat: Array[Byte]): Int = {
    var i = pos + math.max(0, from)
    val last = lim - pat.length
    val p0 = pat(0)
    while (i <= last) {
      if (buf(i) == p0) {
        var k = 1
        while (k < pat.length && buf(i + k) == pat(k)) k += 1
        if (k == pat.length) return i - pos
      }
      i += 1
    }
    -1
  }

  /** Consume the stream until `pat` sits at the window head; false at
    * EOF (everything consumed, nothing found). */
  def skipUntil(pat: Array[Byte]): Boolean = {
    while (true) {
      val i = indexIn(0, pat)
      if (i >= 0) { pos += i; return true }
      // drop all but a pattern-overlap tail, then refill
      val keep = math.min(avail, pat.length - 1)
      pos = lim - keep
      if (!fill()) { pos = lim; return false }
    }
    false // unreachable
  }

  /** Offset of `pat` within the first `cap` window bytes, filling (and
    * buffering at most cap + |pat|) as needed; the window is NOT
    * consumed. -1 when absent within the cap or before EOF. */
  def indexWithin(pat: Array[Byte], cap: Int): Int = {
    var searchedTo = 0 // window prefix proven pattern-free
    while (true) {
      val i = indexIn(searchedTo, pat)
      if (i >= 0) return if (i <= cap) i else -1
      searchedTo = math.max(0, avail - (pat.length - 1))
      if (avail > cap + pat.length) return -1
      if (!fill()) return -1
    }
    -1 // unreachable
  }

  /** Read exactly `n` bytes (window + refills), returning what the
    * stream actually held — shorter at EOF. Allocation grows with the
    * bytes OBTAINED, never with `n`. */
  def take(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(math.max(n, 16), 256 * 1024))
    var got = 0
    while (got < n) {
      if (avail == 0 && !fill()) return out.toByteArray
      val k = math.min(n - got, avail)
      out.write(buf, pos, k)
      pos += k; got += k
    }
    out.toByteArray
  }

  /** Latin-1 view of the first `n` window bytes, consumed. Caller
    * guarantees `n <= avail` (after a successful [[indexWithin]]). */
  def takeString(n: Int): String = {
    val s = new String(buf, pos, n, java.nio.charset.StandardCharsets.ISO_8859_1)
    pos += n
    s
  }

  /** Push bytes back in FRONT of the window (an overrunning body read
    * returns its consumed bytes so resynchronization can still find an
    * intact record inside them). */
  def unread(bytes: Array[Byte]): Unit = {
    if (bytes.length == 0) return
    val navail = avail
    val nb = new Array[Byte](math.max(64 * 1024, bytes.length + navail))
    System.arraycopy(bytes, 0, nb, 0, bytes.length)
    if (navail > 0) System.arraycopy(buf, pos, nb, bytes.length, navail)
    buf = nb; pos = 0; lim = bytes.length + navail
  }
}

/** One-pass streaming iterator over a WARC container's response
  * records, with parse accounting (consume fully before reading the
  * counters — `warcReport` does). Semantics match the pre-r17
  * whole-file scan record for record on every fixture (WarcFuzzSpec
  * pins the framing attacks; SourceSpec pins the gate corpus), minus
  * the 2 GiB whole-shard truncation: memory is O(largest record). */
private[graft] final class WarcRecords private[sources] (in: java.io.InputStream)
    extends Iterator[WarcText.Response] {
  import WarcText._

  /** Emitted response records (framed, typed response, URI present). */
  var nResponses: Long = 0L
  /** Framed records skipped whole: warcinfo/request/metadata, and the
    * degenerate URI-less response. */
  var nOther: Long = 0L
  /** Unframeable records (absent/garbled/oversized Content-Length, or
    * an unterminated header block): each loses only itself. */
  var nMalformed: Long = 0L
  /** Records whose declared length overran the actual stream — the
    * container is incomplete (truncated upload, dead gzip member). */
  var nTruncatedBodies: Long = 0L

  private val sc = new ByteScan(in)
  private var nextR: Response = null
  private var atRecord = sc.skipUntil(VersionPat)

  /** The container ended mid-record or its stream died: records may
    * have been lost. Valid once exhausted. */
  def truncated: Boolean = nTruncatedBodies > 0 || sc.died

  override def hasNext: Boolean = { advance(); nextR != null }

  override def next(): Response = {
    advance()
    if (nextR == null) throw new NoSuchElementException("WarcRecords")
    val r = nextR; nextR = null; r
  }

  private def advance(): Unit =
    while (nextR == null && atRecord) step()

  /** Parse one record starting at the version line under the window
    * head; positions the scanner at the next version line (or EOF). */
  private def step(): Unit = {
    val hEnd = sc.indexWithin(HeadEndPat, HeaderCap)
    if (hEnd < 0) {
      // no header terminator within the 1 MiB cap: this record is
      // unframeable — but it must lose only ITSELF (the r17 review
      // caught the previous early-stop silently dropping every
      // subsequent intact record while warcReport showed one
      // malformed and no truncation). Step past this version line and
      // resynchronize on the next one; memory stays bounded because
      // skipUntil drops the window as it scans.
      nMalformed += 1
      sc.take(VersionPat.length)
      atRecord = sc.skipUntil(VersionPat)
      return
    }
    val headers = sc.takeString(hEnd + 4).substring(0, hEnd)
    // ASCII lowercase shadow for case-insensitive field names; values
    // are substringed from the original (case preserved)
    val lowered = {
      val a = headers.toCharArray
      var k = 0
      while (k < a.length) {
        val c = a(k); if (c >= 'A' && c <= 'Z') a(k) = (c + 32).toChar
        k += 1
      }
      new String(a)
    }
    def header(name: String): Option[String] = {
      val k = "\r\n" + name + ":"
      val i = lowered.indexOf(k)
      if (i < 0) None
      else {
        val vStart = i + k.length
        val vEnd = headers.indexOf("\r\n", vStart)
        Some(headers.substring(vStart,
          if (vEnd < 0) headers.length else vEnd).trim)
      }
    }
    // Long parse + the per-record array bound: a declared multi-GB
    // length is unframeable, never allocated (and never wraps Int)
    val len = header("content-length").flatMap(v =>
      try Some(v.toLong) catch { case _: NumberFormatException => None })
      .filter(l => l >= 0 && l <= MaxRecordBytes)
    len match {
      case Some(l) =>
        val body = sc.take(l.toInt)
        if (body.length < l) {
          // the declared length overruns the stream: unframeable; the
          // consumed bytes go back so an intact record inside them
          // still parses (WarcFuzzSpec's misattribution pins — the
          // whole-file scan's "rescan from body start", streamed)
          nTruncatedBodies += 1
          sc.unread(body)
          atRecord = sc.skipUntil(VersionPat)
        } else {
          val uri = header("warc-target-uri")
          if (header("warc-type").exists(_.equalsIgnoreCase("response"))
              && uri.isDefined) {
            nextR = buildResponse(uri.get, body)
            nResponses += 1
          } else nOther += 1
          atRecord = sc.skipUntil(VersionPat)
        }
      case None =>
        // unframeable record: skip it by scanning for the next
        // version line (loses only this record)
        nMalformed += 1
        atRecord = sc.skipUntil(VersionPat)
    }
  }
}

/** Deterministic WARC generator for the `src_warc_extract` gate:
  * packs [[HtmlGen.page]] payloads into multi-record WARC files —
  * each file opens with a warcinfo record and carries a
  * request+response pair per document, so record framing, non-
  * response skipping, and HTTP header stripping are all exercised on
  * every file. Since r16 the corpus is crawl-realistic (VERDICT r15
  * item 1):
  *
  *  - odd file keys emit `.warc.gz` — each record its own gzip
  *    member, concatenated, as Common Crawl ships;
  *  - doc_id%4 picks the charset class: 0 = ASCII body with a bare
  *    `text/html` Content-Type (the default-decode path on bytes
  *    where every charset agrees), 1 = UTF-8 body DECLARED in the
  *    HTTP Content-Type with a multibyte decoration, 2 = EUC-KR body
  *    declared ONLY via `<meta charset>` (HTTP header silent — the
  *    meta-scan path) with a Hangul decoration, 3 = UTF-8 body with
  *    NO declaration anywhere (the strict-UTF-8 default path).
  *
  * The decorations are raw characters (not entities), so a decode
  * through the wrong charset mojibakes them and diverges the
  * byte-exact oracle hash. The grouping key (doc_id /
  * [[DocsPerFile]]) only shapes the files; the output is
  * per-document, so the oracle is grouping-independent. */
object WarcGen {

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  val DocsPerFile = 8

  /** Per-class decorations (doc_id%6 → appended sentence). Class 1
    * carries em-dash and Omega (outside Latin-1, 2-3 UTF-8 bytes);
    * class 2 is Hangul (EUC-KR 2-byte codes); class 3 adds an
    * astral-plane emoji (4 UTF-8 bytes, a surrogate pair on the JVM);
    * classes 4 (UTF-16LE+BOM) and 5 (chunked transfer + gzip entity)
    * carry their own multibyte markers so a skipped or misordered
    * transform mojibakes the decoration and diverges the hash.
    * Mirrored in the oracle SQL via chr() codepoints. */
  val Decor: Map[Int, String] = Map(
    1 -> "na\u00efve caf\u00e9 \u2014 \u03a9",
    2 -> "\ud55c\uad6d\uc5b4 \ud14c\uc2a4\ud2b8",
    3 -> "data \ud83d\ude42 \u03a9",
    4 -> "utf16 \u2713 \u03a9",
    5 -> "chunked gz \u2192 \u03a9")

  private def record(headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder("WARC/1.0\r\n")
    (headers :+ ("Content-Length" -> body.length.toString)).foreach {
      case (k, v) => sb.append(k).append(": ").append(v).append("\r\n")
    }
    sb.append("\r\n")
    sb.result().getBytes(Latin1) ++ body ++ "\r\n\r\n".getBytes(Latin1)
  }

  private def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes); gz.close()
    out.toByteArray
  }

  /** HTTP/1.1 chunked transfer framing over a body (fixed 512-byte
    * chunks, hex sizes, 0-chunk terminator) — the send-side twin of
    * WarcText.dechunk. */
  private[graft] def chunked(body: Array[Byte], size: Int = 512): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length + 64)
    var i = 0
    while (i < body.length) {
      val n = math.min(size, body.length - i)
      out.write(s"${n.toHexString}\r\n".getBytes(Latin1))
      out.write(body, i, n)
      out.write("\r\n".getBytes(Latin1))
      i += n
    }
    out.write("0\r\n\r\n".getBytes(Latin1))
    out.toByteArray
  }

  /** The HTTP response bytes for one document: head is ASCII, body is
    * the page in its class charset, with the class decoration (and
    * for class 2 the meta declaration) spliced into the page; class 4
    * prepends the UTF-16LE BOM, class 5 gzips the entity then chunks
    * the transfer (send order — the reader must invert it). */
  private[graft] def httpResponse(id: Long, text: String): Array[Byte] = {
    val cls = (id % 6).toInt
    val base = HtmlGen.page(id, text)
    val withDecor = Decor.get(cls) match {
      case Some(d) => base.replace("</body>", s"<p>$d</p>\n</body>")
      case None => base
    }
    val (ctHeader, charset) = cls match {
      case 1 | 5 => ("text/html; charset=UTF-8", Utf8)
      case 2 => ("text/html", java.nio.charset.Charset.forName("EUC-KR"))
      case 3 => ("text/html", Utf8)
      case 4 => ("text/html", java.nio.charset.StandardCharsets.UTF_16LE)
      case _ => ("text/html", Latin1) // pure-ASCII body: all agree
    }
    val html =
      if (cls == 2)
        withDecor.replace("</head>", "<meta charset=\"euc-kr\">\n</head>")
      else withDecor
    val encoded = cls match {
      case 4 => Array(0xFF.toByte, 0xFE.toByte) ++ html.getBytes(charset)
      case 5 => chunked(gzipMember(html.getBytes(charset)))
      case _ => html.getBytes(charset)
    }
    val extraHeaders = if (cls == 5)
      "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n" else ""
    (s"HTTP/1.1 200 OK\r\nContent-Type: $ctHeader\r\n$extraHeaders\r\n")
      .getBytes(Latin1) ++ encoded
  }

  /** The default gate URI: doc_id as the trailing path segment, so
    * the oracle joins back by the trailing integer
    * ([[WarcText.utlWarcToText]]). */
  def gateUri(id: Long): String = s"http://crawl.example/doc/$id"

  /** One WARC file for a group of (doc_id, text) rows; gzipped =
    * per-record gzip members, concatenated (the `.warc.gz` shape).
    * `uriFor` names each document's WARC-Target-URI — the crawl
    * funnel gate ([[graft.operators.CrawlPipeline]]) passes the messy
    * URL-variant generator so URL dedup has real work to do. */
  def warcFile(docs: Seq[(Long, String)], gzipped: Boolean = false,
      uriFor: Long => String = gateUri): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def emit(rec: Array[Byte]): Unit =
      out.write(if (gzipped) gzipMember(rec) else rec)
    emit(record(
      Seq("WARC-Type" -> "warcinfo", "WARC-Record-ID" -> "<urn:graft:info>"),
      "software: graft-testgen\r\n".getBytes(Latin1)))
    docs.foreach { case (id, text) =>
      val uri = uriFor(id)
      emit(record(
        Seq("WARC-Type" -> "request", "WARC-Target-URI" -> uri),
        s"GET /doc/$id HTTP/1.1\r\nHost: crawl.example\r\n\r\n".getBytes(Latin1)))
      emit(record(
        // lowercase field names on the response record: ISO 28500
        // names are case-insensitive and real writers disagree on
        // casing, so the gate exercises the insensitive lookup
        Seq("warc-type" -> "response", "warc-target-uri" -> uri,
          "WARC-Record-ID" -> s"<urn:graft:$id>"),
        httpResponse(id, Option(text).getOrElse(""))))
    }
    out.toByteArray
  }

  /** (path, content) frame of synthetic WARC files over documents —
    * `gzFor` picks which file keys gzip-member (gate default: odd
    * keys; CrawlThroughputProbe passes constants to price all-plain
    * and all-gz mixes against the SAME builder, so the probe can
    * never drift from the gate corpus). The one shuffle here (groupBy
    * the file key) exists only to BUILD the synthetic container
    * corpus — real use reads .warc(.gz) files from storage with no
    * shuffle at all. */
  def warcTable(s: SparkSession, dir: String,
      gzFor: Long => Boolean = _ % 2 == 1,
      uriFor: Long => String = gateUri): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select("doc_id", "text")
      .as[(Long, String)]
      .groupByKey(_._1 / DocsPerFile)
      .mapGroups { (k: Long, it: Iterator[(Long, String)]) =>
        val gz = gzFor(k)
        val ext = if (gz) "warc.gz" else "warc"
        (s"graft-$k.$ext", warcFile(it.toSeq.sortBy(_._1), gz, uriFor))
      }
      .toDF("path", "content")
  }

  /** The default-variant gate corpus, materialized once per
    * (session, dir) like the PDF gate fixtures (r18): the synthetic
    * container files are the gate's INPUT — real use reads .warc(.gz)
    * from storage — so re-building (and re-gzipping) them on every
    * timing draw charged fixture construction to the extraction
    * operator under test. The charset/chunked/gzip DECODE still runs
    * in full on every draw. Non-default variants (probes,
    * pipeline_crawl's messy-url corpus) keep calling [[warcTable]]
    * directly or cache under their own key. */
  def gateTable(s: SparkSession, dir: String): DataFrame =
    graft.functions.Artifacts.frame(s, "warcGate", dir)(warcTable(s, dir))
}
