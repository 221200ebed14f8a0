package graft.sources

import java.nio.charset.{Charset, StandardCharsets}

import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** WARC (Web ARChive, ISO 28500 / WARC-1.1) ingestion - the missing
  * FIRST hop of the web tier: everything downstream of HTML (strip, C4,
  * links, robots, domain curation) already exists over parquet columns;
  * this module turns raw crawl archives (the CommonCrawl interchange
  * format) into those columns. Framing is implemented from the public
  * spec: records are `WARC/1.x` version line + CRLF-terminated
  * `Name: value` header lines + empty line + exactly `Content-Length`
  * payload bytes + CRLF CRLF separator, concatenated.
  *
  * Scale shape: WARC has NO splittable sync marker (records are
  * length-prefixed, and production archives are per-record gzip
  * members - handled: [[parseWarcPages]] auto-detects gzip and
  * inflates multi-member streams), so the unit of parallelism is the
  * FILE - exactly how CommonCrawl ships: ~1 GB segment files, tens of
  * thousands per crawl. [[readWarcFiles]] lists the files (file-level
  * tasks) and each task STREAMS its file's records through
  * [[parseWarcStream]] - memory per task is bounded by ONE record
  * (capped), never the file, so multi-GB archives read fine (the old
  * binaryFile path materialized the whole file per task: a hard 2 GiB
  * JVM ceiling and full-file memory). A 1000-executor cluster
  * saturates on file count, never on intra-file splits. Parsing is
  * refuse-don't-crash: a malformed record header or a truncated
  * payload ends that FILE's parse with the records already framed
  * (corrupt crawl segments are routine; one bad tail must not kill
  * the task).
  *
  * ONE record framer ([[records]]) serves every entry point: the
  * stream readers sniff gzip and frame the (inflated) stream; the
  * whole-blob parses and [[fetchRecords]] inflate first
  * ([[gunzipAll]]) and frame the plain bytes as a stream whose record
  * length is capped at the blob's length. Each record type has one
  * decoder (response -> [[httpPage]], revisit, conversion -> WET doc,
  * metadata -> WAT entry) shared by the blob and stream paths.
  *
  * Only `response` records carrying an HTTP payload surface as pages
  * (warcinfo/request/metadata/revisit records are framing, not
  * content); the HTTP status line and headers are parsed off the
  * payload, the declared `Content-Type`'s media type becomes `mime`,
  * and the body decodes CHARSET-AWARE into `html`: real CommonCrawl is
  * heavily non-UTF-8 (Latin-1, Windows-125x, Shift_JIS, GBK), and a
  * hard-coded UTF-8 decode silently mojibakes those pages, corrupting
  * every downstream operator (langId, dedup, quality). Detection
  * order (the HTML5 encoding-sniffing precedence): byte-order mark >
  * Content-Type `charset=` parameter > `<meta charset>` /
  * `http-equiv` sniff in the first 1024 body bytes > UTF-8 fallback;
  * malformed sequences decode with replacement (never throw), and the
  * charset actually used surfaces as the `charset` column so
  * downstream audits can slice by it.
  */
object Warc {

  /** One parsed page: target URL, WARC-Date as written, HTTP status,
    * media type (lowercased, parameters stripped), the decoded body,
    * and the charset the body was decoded with (lowercased canonical
    * java.nio name, e.g. "utf-8", "iso-8859-1", "shift_jis", "gbk").
    * On the WRITE side `charset` is the encoding the body is
    * serialized with (and declared, unless the html carries its own
    * `<meta charset>` - see [[writeWarcBytes]]).
    */
  final case class WarcPage(
      url: String,
      fetchTime: String,
      status: Int,
      mime: String,
      html: String,
      charset: String = "utf-8")

  private val CRLF = "\r\n"

  /** Decompress a gzip blob, INCLUDING multi-member streams - the
    * CommonCrawl layout gzips each WARC record as its own member and
    * concatenates them, so a conformant reader must keep inflating
    * past member boundaries (`GZIPInputStream` does, given buffered
    * input). Returns None on corrupt/truncated gzip data rather than
    * throwing - same refuse-don't-crash contract as the framing.
    * Inflated size is capped (default 1 GiB) so a gzip bomb in a
    * crawled archive cannot OOM the task. The initial buffer size is
    * computed in Long: `bytes.length * 4` as an Int overflows negative
    * past 512 MiB input and ByteArrayOutputStream would throw
    * IllegalArgumentException - on routine ~1 GB CommonCrawl segments,
    * exactly the input this module targets.
    */
  def gunzipAll(bytes: Array[Byte], maxBytes: Int = 1 << 30): Option[Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.BufferedInputStream(
          new java.io.ByteArrayInputStream(bytes)), 64 * 1024)
      val out = new java.io.ByteArrayOutputStream(
        math.min(bytes.length.toLong * 4, 1L << 20).toInt)
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size > maxBytes) return None // inflation bomb: refuse
        n = in.read(buf)
      }
      Some(out.toByteArray)
    } catch { case NonFatal(_) => None }

  private[graft] def isGzip(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 2 &&
      (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b

  /** Parse every well-formed record of one WARC blob, returning the
    * `response` pages in file order. Gzip blobs (single- OR
    * multi-member - the per-record-member CommonCrawl layout)
    * decompress transparently first. Stops (returning what it has) at
    * the first malformed record boundary - never throws on corrupt
    * input.
    */
  def parseWarcPages(raw: Array[Byte]): Seq[WarcPage] = parseBlob(raw)(httpPage)

  /** Frame one whole blob: gzip (single- or multi-member) inflates
    * first through [[gunzipAll]] - its total cap holds and a corrupt
    * gzip blob gives Nil - then the plain bytes go through the one
    * framer with the record length capped at their length.
    */
  private def parseBlob[T](raw: Array[Byte])(
      decode: (Map[String, String], Array[Byte]) => Option[T]): Seq[T] = {
    val bytes = if (isGzip(raw)) gunzipAll(raw).orNull else raw
    if (bytes == null) Nil
    else records(new java.io.ByteArrayInputStream(bytes), bytes.length)
      .flatMap { case (hs, payload) => decode(hs, payload) }.toList
  }

  /** One `revisit` record: a re-fetch whose payload was IDENTICAL to
    * an earlier capture, so the archive stores only the pointer -
    * target URL, WARC-Date, the original record's id (WARC-Refers-To)
    * and the shared payload digest. Real CommonCrawl archives carry
    * these for deduplicated recaptures; ignoring them silently
    * undercounts capture history in the CDX/recrawl tier. Resolution
    * to the original capture joins (surt(url), digest) against the
    * latest-capture view ([[graft.ops.WebOps.resolveRevisits]]).
    */
  final case class WarcRevisit(
      url: String,
      fetchTime: String,
      refersTo: String,
      digest: String)

  /** Parse the `revisit` records of one WARC blob, in file order -
    * the capture-history complement of [[parseWarcPages]] (which
    * keeps `response` records only; the two never overlap, so plain
    * page ingest is unchanged by revisits in the stream). Same
    * refuse-don't-crash framing: stops at the first malformed record
    * boundary.
    */
  def parseWarcRevisits(raw: Array[Byte]): Seq[WarcRevisit] = parseBlob(raw)(revisit)

  private def revisit(hs: Map[String, String], payload: Array[Byte]): Option[WarcRevisit] =
    if (hs.getOrElse("warc-type", "") == "revisit")
      Some(WarcRevisit(
        hs.getOrElse("warc-target-uri", ""),
        hs.getOrElse("warc-date", ""),
        hs.getOrElse("warc-refers-to", ""),
        hs.getOrElse("warc-payload-digest", "")))
    else None

  // ---------------------------------------------------------------
  // WET (extracted text) - the OTHER CommonCrawl interchange file
  // ---------------------------------------------------------------

  /** One WET document: target URL, WARC-Date as written, and the
    * extracted plain text. The WET format (CommonCrawl's *.warc.wet.gz
    * files) is WARC framing whose records are `conversion` type with a
    * `text/plain` payload - the already-extracted text, no HTTP
    * envelope, UTF-8 by definition.
    */
  final case class WetDoc(url: String, fetchTime: String, text: String)

  private def wetDoc(
      hs: Map[String, String], payload: Array[Byte]): Option[WetDoc] =
    if (hs.getOrElse("warc-type", "") == "conversion" &&
      hs.getOrElse("content-type", "").toLowerCase.startsWith("text/plain"))
      Some(WetDoc(
        url = hs.getOrElse("warc-target-uri", ""),
        fetchTime = hs.getOrElse("warc-date", ""),
        // WET is UTF-8 by spec; malformed sequences decode with
        // replacement, same contract as the page path
        text = new String(payload, StandardCharsets.UTF_8)))
    else None

  /** Parse the `conversion` documents of one WET blob (plain or gzip -
    * the CommonCrawl *.warc.wet.gz layout), in file order. Same
    * refuse-don't-crash framing as [[parseWarcPages]].
    */
  def parseWetDocs(raw: Array[Byte]): Seq[WetDoc] = parseBlob(raw)(wetDoc)

  /** Stream one WET file's documents record-at-a-time - the bounded-
    * memory reader, sharing [[parseWarcStream]]'s framer.
    */
  def parseWetStream(
      in0: java.io.InputStream,
      maxRecordBytes: Int = 1 << 30): Iterator[WetDoc] =
    parseStream(in0, maxRecordBytes)(wetDoc)

  /** Serialize docs as a spec-shaped WET blob: a `warcinfo` record then
    * one `conversion` record per document (text/plain, UTF-8) - the
    * CommonCrawl extracted-text layout. Roundtrips through
    * [[parseWetDocs]]/[[parseWetStream]] for CRLF-free header fields.
    */
  def writeWetBytes(docs: Seq[WetDoc], infoLine: String = "graft-extractor"): Array[Byte] =
    wetRecordBlocks(docs, infoLine).flatten.toArray

  /** Per-record gzip members, like [[writeWarcGzBytes]] - the actual
    * *.warc.wet.gz wire layout.
    */
  def writeWetGzBytes(docs: Seq[WetDoc], infoLine: String = "graft-extractor"): Array[Byte] =
    wetRecordBlocks(docs, infoLine).flatMap(gzMember).toArray

  private def wetRecordBlocks(docs: Seq[WetDoc], infoLine: String): Seq[Array[Byte]] =
    textRecordBlocks(infoLine, "conversion", "text/plain")(
      docs.map(d => (d.url, d.fetchTime, d.text)))

  /** Explode a binary WET-blob column into document rows beside the
    * blob's id. Output: (idCol, url, fetch_time, text).
    */
  def wetIngest(df: DataFrame, idCol: String, bytesCol: String): DataFrame =
    explode(df, idCol, bytesCol, "url", "fetch_time", "text") { (id, bytes) =>
      parseWetDocs(bytes).map(d => (id, d.url, d.fetchTime, d.text))
    }

  /** Read a directory of .wet / .warc.wet.gz files into document rows:
    * one STREAMING task per file, the same bounded-memory discipline as
    * [[readWarcFiles]]. Output: (path, url, fetch_time, text).
    */
  def readWetFiles(
      spark: SparkSession,
      path: String,
      maxRecordBytes: Int = 1 << 30): DataFrame =
    readFiles(spark, path, "*.wet*", "url", "fetch_time", "text") { (p, in) =>
      parseWetStream(in, maxRecordBytes).map(d => (p, d.url, d.fetchTime, d.text))
    }

  // ---------------------------------------------------------------
  // WAT (metadata JSON) - the THIRD CommonCrawl interchange file
  // ---------------------------------------------------------------

  /** One WAT entry: target URL, WARC-Date, and the metadata JSON
    * envelope as a raw string. WAT files (*.warc.wat.gz) are WARC
    * framing whose records are `metadata` type with an
    * `application/json` payload - per-page crawl metadata (headers,
    * extracted links, title) that downstream plans parse with Spark's
    * codegen'd JSON functions (`from_json`/`get_json_object`), never a
    * bespoke parser here: the source's job is framing, the engine's
    * job is JSON.
    */
  final case class WatEntry(url: String, fetchTime: String, json: String)

  private def watEntry(
      hs: Map[String, String], payload: Array[Byte]): Option[WatEntry] =
    if (hs.getOrElse("warc-type", "") == "metadata" &&
      hs.getOrElse("content-type", "").toLowerCase.startsWith("application/json"))
      Some(WatEntry(
        url = hs.getOrElse("warc-target-uri", ""),
        fetchTime = hs.getOrElse("warc-date", ""),
        json = new String(payload, StandardCharsets.UTF_8)))
    else None

  /** Parse the `metadata` entries of one WAT blob (plain or gzip), in
    * file order - same refuse-don't-crash framing as the page path.
    */
  def parseWatEntries(raw: Array[Byte]): Seq[WatEntry] = parseBlob(raw)(watEntry)

  /** Stream one WAT file's entries record-at-a-time (bounded memory,
    * shared framer).
    */
  def parseWatStream(
      in0: java.io.InputStream,
      maxRecordBytes: Int = 1 << 30): Iterator[WatEntry] =
    parseStream(in0, maxRecordBytes)(watEntry)

  /** Serialize entries as a WAT blob: warcinfo + one `metadata` record
    * per entry (application/json). */
  def writeWatBytes(entries: Seq[WatEntry], infoLine: String = "graft-meta"): Array[Byte] =
    watRecordBlocks(entries, infoLine).flatten.toArray

  /** Per-record gzip members - the *.warc.wat.gz wire layout. */
  def writeWatGzBytes(entries: Seq[WatEntry], infoLine: String = "graft-meta"): Array[Byte] =
    watRecordBlocks(entries, infoLine).flatMap(gzMember).toArray

  private def watRecordBlocks(entries: Seq[WatEntry], infoLine: String): Seq[Array[Byte]] =
    textRecordBlocks(infoLine, "metadata", "application/json")(
      entries.map(e => (e.url, e.fetchTime, e.json)))

  /** Explode a binary WAT-blob column into entry rows beside the blob's
    * id. Output: (idCol, url, fetch_time, json).
    */
  def watIngest(df: DataFrame, idCol: String, bytesCol: String): DataFrame =
    explode(df, idCol, bytesCol, "url", "fetch_time", "json") { (id, bytes) =>
      parseWatEntries(bytes).map(e => (id, e.url, e.fetchTime, e.json))
    }

  /** Read a directory of .wat / .warc.wat.gz files into entry rows: one
    * STREAMING task per file. Output: (path, url, fetch_time, json).
    */
  def readWatFiles(
      spark: SparkSession,
      path: String,
      maxRecordBytes: Int = 1 << 30): DataFrame =
    readFiles(spark, path, "*.wat*", "url", "fetch_time", "json") { (p, in) =>
      parseWatStream(in, maxRecordBytes).map(e => (p, e.url, e.fetchTime, e.json))
    }

  // ---------------------------------------------------------------
  // charset detection (the HTML5 encoding-sniffing precedence)
  // ---------------------------------------------------------------

  private val metaCharsetRx =
    java.util.regex.Pattern.compile(
      "(?i)<meta[^>]*charset\\s*=\\s*[\"']?\\s*([A-Za-z0-9._:-]+)")

  /** Resolve a declared charset token to a usable Charset; None for
    * unknown/illegal names (the caller falls through its chain).
    */
  private def lookupCharset(name: String): Option[Charset] = {
    val t = name.trim
    if (t.isEmpty) None
    else try Some(Charset.forName(t)) catch { case NonFatal(_) => None }
  }

  /** Pick the body charset: BOM > Content-Type `charset=` param >
    * `<meta charset>` / `http-equiv content=..charset=..` sniff in the
    * first 1024 body bytes (sniffed through an ISO-8859-1 view - the
    * ASCII-transparent decode sniffers use) > UTF-8. Returns the
    * charset plus the number of BOM bytes to skip.
    */
  private def detectCharset(
      contentType: String,
      bytes: Array[Byte],
      from: Int,
      len: Int): (Charset, Int) = {
    // 1. byte-order mark (HTML5: the BOM outranks every declaration)
    if (len >= 3 && (bytes(from) & 0xff) == 0xef &&
      (bytes(from + 1) & 0xff) == 0xbb && (bytes(from + 2) & 0xff) == 0xbf)
      return (StandardCharsets.UTF_8, 3)
    if (len >= 2 && (bytes(from) & 0xff) == 0xfe && (bytes(from + 1) & 0xff) == 0xff)
      return (StandardCharsets.UTF_16BE, 2)
    if (len >= 2 && (bytes(from) & 0xff) == 0xff && (bytes(from + 1) & 0xff) == 0xfe)
      return (StandardCharsets.UTF_16LE, 2)
    // 2. Content-Type charset parameter
    val param = contentType.split(";").iterator.map(_.trim)
      .collectFirst {
        case p if p.toLowerCase.startsWith("charset=") =>
          p.substring("charset=".length).trim.stripPrefix("\"").stripSuffix("\"")
      }
    param.flatMap(lookupCharset) match {
      case Some(cs) => return (cs, 0)
      case None => ()
    }
    // 3. meta sniff in the first 1024 bytes (covers <meta charset=..>
    //    AND <meta http-equiv=Content-Type content="..charset=..">,
    //    whose content value contains the same charset= token)
    val sniffLen = math.min(1024, len)
    val head = new String(bytes, from, sniffLen, StandardCharsets.ISO_8859_1)
    val m = metaCharsetRx.matcher(head)
    if (m.find()) lookupCharset(m.group(1)) match {
      case Some(cs) => return (cs, 0)
      case None => ()
    }
    (StandardCharsets.UTF_8, 0)
  }

  /** Decode a `response` record's HTTP payload into a [[WarcPage]].
    * None for any other record type, and when the payload is not an
    * HTTP response (missing status line or header terminator) - the
    * record is skipped, not fatal to the file. The
    * body decodes per [[detectCharset]] with REPLACEMENT on malformed
    * sequences (a mis-declared page yields U+FFFD runs, never a task
    * failure), a leading U+FEFF strips (a UTF-8 BOM declared via
    * header would otherwise leak into the text), and the charset used
    * is recorded on the page.
    */
  private def httpPage(
      warcHeaders: Map[String, String],
      bytes: Array[Byte]): Option[WarcPage] = {
    if (warcHeaders.getOrElse("warc-type", "") != "response" ||
      !warcHeaders.getOrElse("content-type", "").toLowerCase
        .startsWith("application/http")) return None
    val end = bytes.length
    val bodyAt = indexOfCrlfCrlf(bytes) match {
      case at if at >= 0 => at + 4
      case _ => return None
    }
    val head = new String(bytes, 0, bodyAt - 4, StandardCharsets.UTF_8)
    val lines = head.split("\r\n", -1)
    if (lines.isEmpty || !lines(0).startsWith("HTTP/")) return None
    val statusParts = lines(0).split(" ")
    val status =
      if (statusParts.length >= 2) statusParts(1).toIntOption.getOrElse(-1)
      else -1
    if (status < 0) return None
    val contentType = lines.drop(1).iterator
      .map { ln => val c = ln.indexOf(':'); (ln, c) }
      .collectFirst {
        case (ln, c) if c > 0 &&
          ln.substring(0, c).trim.equalsIgnoreCase("content-type") =>
          ln.substring(c + 1).trim
      }
      .getOrElse("")
    val mime = contentType.split(";")(0).trim.toLowerCase
    val (cs, bomSkip) = detectCharset(contentType, bytes, bodyAt, end - bodyAt)
    // String(bytes, Charset) decodes with REPLACE on malformed input -
    // exactly the refuse-don't-crash discipline the framing keeps
    val decoded = new String(bytes, bodyAt + bomSkip, end - bodyAt - bomSkip, cs)
    val html = if (decoded.nonEmpty && decoded.charAt(0) == '\uFEFF')
      decoded.substring(1) else decoded
    Some(WarcPage(
      url = warcHeaders.getOrElse("warc-target-uri", ""),
      fetchTime = warcHeaders.getOrElse("warc-date", ""),
      status = status,
      mime = mime,
      html = html,
      charset = cs.name().toLowerCase(java.util.Locale.ROOT)))
  }

  private def indexOfCrlfCrlf(bytes: Array[Byte]): Int = {
    var i = 0
    val last = bytes.length - 4
    while (i <= last) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
        bytes(i + 2) == '\r' && bytes(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  // ---------------------------------------------------------------
  // streaming record reader: bounded memory per task, any file size
  // ---------------------------------------------------------------

  /** Stream the `response` pages of one WARC stream (plain or gzip -
    * auto-detected off the first two bytes) record-at-a-time: memory
    * is bounded by ONE record's payload (capped at `maxRecordBytes`,
    * refused past it), never the file - the reader multi-GB archives
    * need where [[parseWarcPages]]' whole-blob materialization hits
    * the 2 GiB JVM array ceiling. Same refuse-don't-crash contract:
    * any framing violation, oversized record, or IO error ends the
    * iteration with the pages already framed; nothing throws. The
    * caller owns closing `in0`.
    */
  def parseWarcStream(
      in0: java.io.InputStream,
      maxRecordBytes: Int = 1 << 30): Iterator[WarcPage] =
    parseStream(in0, maxRecordBytes)(httpPage)

  /** Frame one stream: gzip is sniffed off the first two bytes and
    * inflated member-wise in-stream, then the records go through the
    * one framer, each capped at `maxRecordBytes`. The caller owns
    * closing `in0`.
    */
  private def parseStream[T](in0: java.io.InputStream, maxRecordBytes: Int)(
      decode: (Map[String, String], Array[Byte]) => Option[T]): Iterator[T] = {
    val buffered = new java.io.BufferedInputStream(in0, 64 * 1024)
    val in: java.io.InputStream =
      try {
        buffered.mark(2)
        val b0 = buffered.read(); val b1 = buffered.read()
        buffered.reset()
        if (b0 == 0x1f && b1 == 0x8b)
          new java.util.zip.GZIPInputStream(buffered, 64 * 1024)
        else buffered
      } catch { case NonFatal(_) => buffered }
    records(in, maxRecordBytes).flatMap { case (hs, payload) => decode(hs, payload) }
  }

  /** THE record framer behind every parse entry point: (lowercased
    * headers, payload) per record, in stream order. It frames `in` as
    * given - callers inflate gzip first - and refuses a record whose
    * Content-Length exceeds `maxRecordBytes`. Memory is bounded by ONE
    * record: headers scan a small read window in place, and a
    * payload's buffer grows as its bytes arrive, so a corrupt
    * Content-Length costs what the stream holds, not what it declares
    * (a real record peaks at about twice its size). Refuse-don't-crash:
    * any framing violation (bad version line, colon-less header line,
    * missing or non-numeric Content-Length, missing CRLF CRLF
    * separator), oversized record, truncation, or IO error ends the
    * iteration with the records already framed; nothing throws.
    */
  private def records(
      in: java.io.InputStream,
      maxRecordBytes: Int): Iterator[(Map[String, String], Array[Byte])] = {
    val headerCap = 1 << 20 // a sane WARC header block is < 1 KB
    // headers scan this window in place, refilling it as they go (a WARC
    // header block is typically under 1 KB); payload bytes past it read
    // straight into the payload's own buffer
    val window = new Array[Byte](1024)
    var pos = 0 // window(pos until lim) is read but not yet framed
    var lim = 0
    def fill(): Boolean = {
      pos = 0
      lim = math.max(in.read(window), 0)
      lim > 0
    }

    // the header block up to CRLF CRLF (exclusive); None on EOF (clean
    // at a record boundary, truncated inside a block) or past the cap
    def readHeaderBlock(): Option[String] = {
      val out = new java.io.ByteArrayOutputStream(512)
      var state = 0 // run length of the \r\n\r\n suffix matched so far
      while (state < 4) {
        if (pos == lim && !fill()) return None
        val from = pos
        while (pos < lim && state < 4) {
          val b = window(pos)
          state =
            if (b == '\r') (if (state == 2) 3 else 1)
            else if (b == '\n' && (state == 1 || state == 3)) state + 1
            else 0
          pos += 1
        }
        out.write(window, from, pos - from)
        if (out.size > headerCap) return None
      }
      Some(new String(out.toByteArray, 0, out.size - 4, StandardCharsets.UTF_8))
    }

    // exactly n bytes, the buffer doubling as they arrive; None on EOF
    def readFully(n: Int): Option[Array[Byte]] = {
      var buf = new Array[Byte](math.min(n, 64 * 1024))
      var off = 0
      while (off < n) {
        if (off == buf.length)
          buf = java.util.Arrays.copyOf(buf, math.min(n.toLong, 2L * off).toInt)
        val r =
          if (pos < lim) {
            val k = math.min(lim - pos, buf.length - off)
            System.arraycopy(window, pos, buf, off, k)
            pos += k
            k
          } else in.read(buf, off, buf.length - off)
        if (r < 0) return None
        off += r
      }
      Some(buf)
    }

    // one record: (headers, payload); None ends the stream
    def readRecord(): Option[(Map[String, String], Array[Byte])] = {
      val lines = readHeaderBlock() match {
        case Some(head) => head.split("\r\n", -1)
        case None => return None
      }
      if (!lines(0).startsWith("WARC/1.")) return None
      val headers = Map.newBuilder[String, String]
      var li = 1
      while (li < lines.length) {
        val ln = lines(li)
        val c = ln.indexOf(':')
        if (c <= 0) return None // header without a colon: malformed block
        headers += (ln.substring(0, c).trim.toLowerCase -> ln.substring(c + 1).trim)
        li += 1
      }
      val hs = headers.result()
      val len = hs.get("content-length").flatMap(_.toIntOption).getOrElse(-1)
      if (len < 0 || len > maxRecordBytes) return None // oversized record: refuse
      for {
        payload <- readFully(len)
        sep <- readFully(4)
        if sep(0) == '\r' && sep(1) == '\n' && sep(2) == '\r' && sep(3) == '\n'
      } yield (hs, payload)
    }

    new Iterator[(Map[String, String], Array[Byte])] {
      private var nextRec: (Map[String, String], Array[Byte]) = _
      private var done = false
      private def advance(): Unit = {
        nextRec = null
        if (!done) {
          try {
            readRecord() match {
              case Some(r) => nextRec = r
              case None => done = true
            }
          } catch { case NonFatal(_) => done = true } // refuse, never throw
        }
      }
      advance()
      override def hasNext: Boolean = nextRec != null
      override def next(): (Map[String, String], Array[Byte]) = {
        val r = nextRec; advance(); r
      }
    }
  }

  // ---------------------------------------------------------------
  // writer side: spec-compliant WARC synthesis (the synthPng pattern -
  // fixtures the reader is proven against, and a usable archiver)
  // ---------------------------------------------------------------

  /** Serialize pages as a spec-compliant WARC/1.1 blob: a `warcinfo`
    * record, then per page a `request` record followed by its
    * `response` record (the CommonCrawl layout). Byte-exact framing:
    * Content-Length counts payload bytes (in the page's charset),
    * every line ends CRLF, records separate with CRLF CRLF. The body
    * encodes with `page.charset` and the HTTP Content-Type declares it
    * - UNLESS the html carries its own `<meta charset>` declaration,
    * in which case the header stays parameter-less and the reader must
    * sniff (how meta-declared pages are served in the wild; this is
    * what makes the sniffing path provable end-to-end). So
    * [[parseWarcPages]] ([[writeWarcBytes]] x) == x for any pages
    * whose fields are CRLF-free, charset names are lowercase-canonical
    * java.nio names, and bodies are encodable in their charset.
    */
  def writeWarcBytes(pages: Seq[WarcPage], infoLine: String = "graft-crawler"): Array[Byte] =
    recordBlocks(pages, infoLine).flatten.toArray

  /** The CommonCrawl wire layout: each WARC record gzipped as its OWN
    * member, members concatenated - a reader can then seek to a record
    * offset and inflate just that member, while a conformant stream
    * reader (like [[gunzipAll]]) inflates the whole file. Parses back
    * through the same [[parseWarcPages]] entry point (gzip
    * auto-detected).
    */
  def writeWarcGzBytes(pages: Seq[WarcPage], infoLine: String = "graft-crawler"): Array[Byte] =
    recordBlocks(pages, infoLine).flatMap(gzMember).toArray

  private def gzMember(rec: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(rec); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** One WARC/1.1 record: version line, `headers`, the payload's
    * Content-Length, blank line, payload, CRLF CRLF separator - every
    * line CRLF-terminated, the layout [[records]] frames.
    */
  private def record(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.1").append(CRLF)
    headers.foreach { case (k, v) => head.append(k).append(": ").append(v).append(CRLF) }
    head.append("Content-Length: ").append(payload.length).append(CRLF).append(CRLF)
    head.toString.getBytes(StandardCharsets.UTF_8) ++ payload ++
      (CRLF + CRLF).getBytes(StandardCharsets.UTF_8)
  }

  private def warcinfo(infoLine: String): Array[Byte] =
    record(
      Seq("WARC-Type" -> "warcinfo", "Content-Type" -> "application/warc-fields"),
      s"software: $infoLine$CRLF".getBytes(StandardCharsets.UTF_8))

  /** warcinfo, then one `warcType` record per (url, date, text) with a
    * UTF-8 `contentType` payload - the WET and WAT layouts.
    */
  private def textRecordBlocks(infoLine: String, warcType: String, contentType: String)(
      docs: Seq[(String, String, String)]): Seq[Array[Byte]] =
    warcinfo(infoLine) +: docs.map { case (url, date, text) =>
      record(
        Seq("WARC-Type" -> warcType,
          "WARC-Target-URI" -> url,
          "WARC-Date" -> date,
          "Content-Type" -> contentType),
        text.getBytes(StandardCharsets.UTF_8))
    }

  /** CDX coordinates of one response record's own gzip member within
    * a [[writeWarcGzBytesIndexed]] archive: `offset`/`length` delimit
    * the member exactly (seek + read + inflate fetches the record with
    * no scan) - the filename/offset/length triple a CDX index stores.
    */
  final case class GzMember(url: String, fetchTime: String, offset: Long, length: Long)

  /** [[writeWarcGzBytes]] plus the index: byte-identical archive bytes
    * (same member-per-record layout - the spec pins the identity), and
    * for every RESPONSE record the (offset, length) of its gzip member.
    * This is the write half of the archive-index lifecycle; the CDX
    * built from these coordinates drives [[fetchRecords]]' ranged
    * point-lookups without re-scanning archives (reference analog: the
    * query-through-INDEX path, /root/reference/PrefixTree.ecl:612-640).
    */
  def writeWarcGzBytesIndexed(
      pages: Seq[WarcPage],
      infoLine: String = "graft-crawler"): (Array[Byte], Seq[GzMember]) = {
    val blocks = recordBlocks(pages, infoLine).map(gzMember)
    val out = new java.io.ByteArrayOutputStream()
    val members = Seq.newBuilder[GzMember]
    var off = 0L
    blocks.zipWithIndex.foreach { case (b, i) =>
      // recordBlocks layout: info, then (request, response) per page -
      // response members sit at block indexes 2, 4, 6, ...
      if (i >= 2 && i % 2 == 0) {
        val p = pages((i - 2) / 2)
        members += GzMember(p.url, p.fetchTime, off, b.length.toLong)
      }
      out.write(b)
      off += b.length
    }
    (out.toByteArray, members.result())
  }

  private def recordBlocks(pages: Seq[WarcPage], infoLine: String): Seq[Array[Byte]] =
    warcinfo(infoLine) +: pages.flatMap { p =>
      val req = record(
        Seq("WARC-Type" -> "request",
          "WARC-Target-URI" -> p.url,
          "WARC-Date" -> p.fetchTime,
          "Content-Type" -> "application/http;msgtype=request"),
        s"GET ${p.url} HTTP/1.1${CRLF}User-Agent: graft$CRLF$CRLF"
          .getBytes(StandardCharsets.UTF_8))
      val cs = lookupCharset(p.charset).getOrElse(StandardCharsets.UTF_8)
      val body = p.html.getBytes(cs)
      // a page that declares its charset in-document is served without
      // the header parameter (the sniffing path); otherwise declare it
      val declared =
        if (metaCharsetRx.matcher(p.html).find()) p.mime
        else s"${p.mime}; charset=${p.charset}"
      val httpHead =
        s"HTTP/1.1 ${p.status} OK${CRLF}Content-Type: $declared$CRLF" +
          s"Content-Length: ${body.length}$CRLF$CRLF"
      val resp = record(
        Seq("WARC-Type" -> "response",
          "WARC-Target-URI" -> p.url,
          "WARC-Date" -> p.fetchTime,
          "Content-Type" -> "application/http;msgtype=response"),
        httpHead.getBytes(StandardCharsets.UTF_8) ++ body)
      Seq(req, resp)
    }

  /** [[writeWarcBytes]] plus trailing `revisit` records - the
    * deduplicated-recapture layout real crawls ship (the WARC 1.1
    * identical-payload-digest profile: HTTP headers only as payload,
    * the body lives in the referred-to original). Revisits parse back
    * via [[parseWarcRevisits]]; [[parseWarcPages]] over the same blob
    * still returns exactly `pages` (the spec pins it).
    */
  def writeWarcBytesWithRevisits(
      pages: Seq[WarcPage],
      revisits: Seq[WarcRevisit],
      infoLine: String = "graft-crawler"): Array[Byte] =
    (recordBlocks(pages, infoLine) ++ revisitRecordBlocks(revisits)).flatten.toArray

  /** Gzip (per-record-member) variant of [[writeWarcBytesWithRevisits]]. */
  def writeWarcGzBytesWithRevisits(
      pages: Seq[WarcPage],
      revisits: Seq[WarcRevisit],
      infoLine: String = "graft-crawler"): Array[Byte] =
    (recordBlocks(pages, infoLine) ++ revisitRecordBlocks(revisits))
      .flatMap(gzMember).toArray

  private def revisitRecordBlocks(revisits: Seq[WarcRevisit]): Seq[Array[Byte]] =
    revisits.map { r =>
      record(
        Seq("WARC-Type" -> "revisit",
          "WARC-Target-URI" -> r.url,
          "WARC-Date" -> r.fetchTime,
          "WARC-Profile" ->
            "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
          "WARC-Refers-To" -> r.refersTo,
          "WARC-Payload-Digest" -> r.digest,
          "Content-Type" -> "application/http;msgtype=response"),
        // payload: the revisit's HTTP headers only - the body is elsewhere
        s"HTTP/1.1 304 Not Modified$CRLF$CRLF".getBytes(StandardCharsets.UTF_8))
    }

  // ---------------------------------------------------------------
  // Spark wiring
  // ---------------------------------------------------------------

  /** Explode a binary WARC-blob column into page rows: one output row
    * per `response` record, beside the blob's id. Typed flatMap (no
    * UDF registry, codegen'd object path); the parse is the genuinely
    * imperative per-record step, everything around it stays
    * declarative. Output: (idCol, url, fetch_time, status, mime,
    * html, charset).
    */
  def ingest(df: DataFrame, idCol: String, bytesCol: String): DataFrame =
    explode(df, idCol, bytesCol, "url", "fetch_time", "status", "mime", "html", "charset") {
      (id, bytes) =>
        parseWarcPages(bytes).map(p =>
          (id, p.url, p.fetchTime, p.status, p.mime, p.html, p.charset))
    }

  /** Explode a binary WARC-blob column into REVISIT rows - the
    * capture-history complement of [[ingest]] (same typed-flatMap
    * shape, zero overlap: a record is a response or a revisit, never
    * both). Output: (idCol, url, fetch_time, refers_to, digest).
    */
  def revisitIngest(df: DataFrame, idCol: String, bytesCol: String): DataFrame =
    explode(df, idCol, bytesCol, "url", "fetch_time", "refers_to", "digest") { (id, bytes) =>
      parseWarcRevisits(bytes).map(r => (id, r.url, r.fetchTime, r.refersTo, r.digest))
    }

  /** The typed flatMap behind every blob-column explode: `rows` turns
    * one (id, blob) into output tuples, named `idCol` +: `columns`.
    */
  private def explode[R <: Product : TypeTag](
      df: DataFrame, idCol: String, bytesCol: String, columns: String*)(
      rows: (Long, Array[Byte]) => Seq[R]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(F.col(idCol).cast("long"), F.col(bytesCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) => rows(id, bytes) }
      .toDF(idCol +: columns: _*)
  }

  /** Read a directory of .warc / .warc.gz files into page rows: one
    * task per file (the WARC unit of parallelism), each task STREAMING
    * its file through [[parseWarcStream]] - per-task memory is one
    * record (capped at `maxRecordBytes`), so files beyond the 2 GiB
    * JVM array ceiling read fine and an oversized RECORD refuses that
    * file's tail instead of OOMing the task. Executors open the files
    * through a default-resource Hadoop `Configuration` (core-site.xml
    * etc. on the executor classpath - the standard deployment); gzip
    * members decompress inside the task.
    * Output: (path, url, fetch_time, status, mime, html, charset).
    */
  def readWarcFiles(
      spark: SparkSession,
      path: String,
      maxRecordBytes: Int = 1 << 30): DataFrame =
    readFiles(spark, path, "*.warc*",
      "url", "fetch_time", "status", "mime", "html", "charset") { (p, in) =>
      parseWarcStream(in, maxRecordBytes)
        .map(pg => (p, pg.url, pg.fetchTime, pg.status, pg.mime, pg.html, pg.charset))
    }

  /** The directory reader behind [[readWarcFiles]], [[readWetFiles]] and
    * [[readWatFiles]]: the files matching `glob` under `path`, sorted,
    * ONE task per file, each streaming its file through `rows` (path,
    * stream) into tuples named "path" +: `columns`. No match gives the
    * empty frame with the same schema.
    */
  private def readFiles[R <: Product : TypeTag](
      spark: SparkSession, path: String, glob: String, columns: String*)(
      rows: (String, java.io.InputStream) => Iterator[R]): DataFrame = {
    import spark.implicits._
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(hPath, glob))
    val paths = if (files == null) Seq.empty[String]
      else files.toSeq.filter(_.isFile).map(_.getPath.toString).sorted
    val schema = "path" +: columns
    if (paths.isEmpty) return spark.emptyDataset[R].toDF(schema: _*)
    spark.createDataset(paths)
      .repartition(paths.length) // one task per file
      .flatMap { p =>
        val fp = new org.apache.hadoop.fs.Path(p)
        val efs = fp.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val in = efs.open(fp)
        // the row iterator is consumed LAZILY downstream (that is the
        // bounded-memory point), so the stream closes at task completion,
        // not in a try/finally that would fire before consumption
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try in.close() catch { case NonFatal(_) => () }
          })
        rows(p, in)
      }
      .toDF(schema: _*)
  }

  /** Ranged record fetch by CDX index coordinates - the point-lookup
    * half of the archive-index lifecycle, and the reason CommonCrawl
    * publishes the index at all: a consumer holding
    * (filename, offset, length) rows reads each record with ONE
    * seek + ranged read + single-member inflate, never re-scanning
    * whole archive files ([[readWarcFiles]] is the full-scan path).
    * Per-record gzip members ([[writeWarcGzBytes]]' CommonCrawl
    * layout) make the ranged read exact: offset/length delimit a
    * member. Reference analog: the query-through-INDEX path,
    * /root/reference/PrefixTree.ecl:612-640.
    *
    * `index` must carry filename/offset/length columns (strings
    * accepted - CDX wire fidelity; non-numeric values drop via
    * try_cast). `filename` resolves against `archiveRoot`.
    *
    * Scale shape: index rows repartition BY FILENAME and sort by
    * offset, so each task streams its archive files once in offset
    * order through a single open handle - reads are positioned
    * (pread), the handle is reused across consecutive records of the
    * same file, and a 100-TB archive tree fans out by file exactly
    * like the full-scan reader. Refuse-don't-crash: coordinates past
    * EOF, non-gzip bytes at the offset, a truncated/corrupt member,
    * an oversized record, or a non-response record drop that index
    * row; nothing throws.
    *
    * Output: (filename, offset, url, fetch_time, status, mime, html,
    * charset) - offset as BIGINT, the join-back key to the index row.
    */
  def fetchRecords(
      index: DataFrame,
      archiveRoot: String,
      maxRecordBytes: Int = 1 << 30): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val keyed = index.select(
        F.col("filename").cast("string").as("gr_f"),
        F.expr("try_cast(cast(`offset` AS STRING) AS BIGINT)").as("gr_o"),
        F.expr("try_cast(cast(`length` AS STRING) AS BIGINT)").as("gr_l"))
      .filter(F.col("gr_f").isNotNull && F.col("gr_o").isNotNull &&
        F.col("gr_l").isNotNull && F.col("gr_o") >= 0L &&
        F.col("gr_l") > 0L && F.col("gr_l") <= maxRecordBytes.toLong)
      .repartition(F.col("gr_f"))
      .sortWithinPartitions(F.col("gr_f"), F.col("gr_o"))
      .as[(String, Long, Long)]
    keyed.mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      var curName: String = null
      var curIn: org.apache.hadoop.fs.FSDataInputStream = null
      var curLen: Long = -1L
      def closeCur(): Unit = {
        if (curIn != null) {
          try curIn.close() catch { case NonFatal(_) => () }
          curIn = null; curName = null; curLen = -1L
        }
      }
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => closeCur()))
      it.flatMap { case (name, off, len) =>
        try {
          if (name != curName) {
            closeCur()
            val p = if (archiveRoot.isEmpty) new org.apache.hadoop.fs.Path(name)
              else new org.apache.hadoop.fs.Path(archiveRoot, name)
            val fs = p.getFileSystem(conf)
            curLen = fs.getFileStatus(p).getLen
            curIn = fs.open(p)
            curName = name
          }
          if (off + len > curLen) None // coordinates past EOF: refuse
          else {
            val buf = new Array[Byte](len.toInt)
            curIn.readFully(off, buf) // positioned read: no seek state
            val rec = if (isGzip(buf)) gunzipAll(buf, maxRecordBytes).orNull else buf
            if (rec == null) None
            else records(new java.io.ByteArrayInputStream(rec), rec.length).nextOption()
              .flatMap { case (hs, payload) => httpPage(hs, payload) }
              .map(pg => (name, off, pg.url, pg.fetchTime, pg.status, pg.mime,
                pg.html, pg.charset))
          }
        } catch { case NonFatal(_) => closeCur(); None }
      }
    }.toDF("filename", "offset", "url", "fetch_time", "status", "mime",
      "html", "charset")
  }
}
