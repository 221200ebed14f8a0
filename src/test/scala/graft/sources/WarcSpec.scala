package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.sources.Warc.WarcPage

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private val pages = Seq(
    WarcPage("https://a.example.org/1", "2024-01-02T03:00:00Z", 200,
      "text/html", "<html><body>hello <b>world</b></body></html>"),
    WarcPage("https://b.example.com/x?q=1", "2024-02-03T04:05:06Z", 404,
      "text/plain", "not here"),
    WarcPage("https://c.example.net/", "2024-03-04T05:06:07Z", 200,
      "text/html", "umlauts äöü and 中文 survive"))

  test("write -> parse roundtrip: all response pages, in order, byte-exact fields") {
    val parsed = Warc.parseWarcPages(Warc.writeWarcBytes(pages))
    assert(parsed == pages)
  }

  test("non-response records (warcinfo, request) never surface as pages") {
    val bytes = Warc.writeWarcBytes(pages)
    // the blob holds 1 warcinfo + 3 requests + 3 responses = 7 records;
    // exactly the 3 responses come back
    assert(Warc.parseWarcPages(bytes).length == 3)
  }

  test("multi-byte bodies frame by BYTE length, not char length") {
    val p = pages(2)
    val round = Warc.parseWarcPages(Warc.writeWarcBytes(Seq(p)))
    assert(round == Seq(p))
    assert(p.html.getBytes(StandardCharsets.UTF_8).length > p.html.length)
  }

  test("truncated payload refuses the tail but keeps prior records") {
    val bytes = Warc.writeWarcBytes(pages)
    val cut = java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 10)
    val parsed = Warc.parseWarcPages(cut)
    // the last response record is truncated: everything before it parses
    assert(parsed == pages.take(2))
  }

  test("garbage and malformed version lines refuse without throwing") {
    assert(Warc.parseWarcPages(null) == Nil)
    assert(Warc.parseWarcPages(Array[Byte]()) == Nil)
    assert(Warc.parseWarcPages("not a warc at all".getBytes) == Nil)
    val bad = Warc.writeWarcBytes(pages.take(1))
    bad(0) = 'X' // corrupt the WARC/1.1 magic
    assert(Warc.parseWarcPages(bad) == Nil)
    // non-numeric Content-Length: flip a digit to a letter
    val s = new String(Warc.writeWarcBytes(pages.take(1)), StandardCharsets.ISO_8859_1)
    val hacked = s.replaceFirst("Content-Length: [0-9]", "Content-Length: x")
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(Warc.parseWarcPages(hacked) == Nil)
  }

  test("header names parse case-insensitively") {
    val blob = new String(Warc.writeWarcBytes(pages.take(1)), StandardCharsets.ISO_8859_1)
      .replace("WARC-Type: response", "warc-TYPE: response")
      .replace("WARC-Target-URI", "warc-target-uri")
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(Warc.parseWarcPages(blob) == pages.take(1))
  }

  test("a response without an HTTP payload is skipped, not fatal") {
    val good = pages.take(1)
    val raw = Warc.writeWarcBytes(good)
    // append a response record whose payload is NOT an HTTP message
    val payload = "just bytes".getBytes(StandardCharsets.UTF_8)
    val head = ("WARC/1.1\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://broken.example/\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8)
    val blob = raw ++ head ++ payload ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    assert(Warc.parseWarcPages(blob) == good)
  }

  test("gzip WARC: per-record members (CommonCrawl layout) parse identically") {
    val gz = Warc.writeWarcGzBytes(pages)
    assert((gz(0) & 0xff) == 0x1f && (gz(1) & 0xff) == 0x8b)
    // per-record members concatenated: the multi-member stream inflates
    // whole and frames exactly like the plain file
    assert(Warc.parseWarcPages(gz) == pages)
    // single-member gzip of the whole plain file also parses
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(bos)
    out.write(Warc.writeWarcBytes(pages)); out.finish(); out.close()
    assert(Warc.parseWarcPages(bos.toByteArray) == pages)
    // corrupt gzip refuses without throwing
    val bad = gz.clone(); bad(gz.length / 2) = (bad(gz.length / 2) ^ 0x55).toByte
    val parsed = Warc.parseWarcPages(bad) // prefix may survive; must not throw
    assert(parsed.length <= pages.length)
    val cut = java.util.Arrays.copyOfRange(gz, 0, gz.length / 2)
    assert(Warc.parseWarcPages(cut).length <= pages.length)
  }

  test("gunzipAll refuses an inflation bomb at the cap") {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(bos)
    out.write(new Array[Byte](4 * 1024 * 1024)); out.finish(); out.close()
    assert(Warc.gunzipAll(bos.toByteArray, maxBytes = 1024 * 1024).isEmpty)
    assert(Warc.gunzipAll(bos.toByteArray).exists(_.length == 4 * 1024 * 1024))
  }

  test("property: parseWarcPages never throws - arbitrary bytes and mutated real archives") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val junk = Gen.chooseNum(0, 400).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
    val revisits = Seq(Warc.WarcRevisit("https://a.example.org/1",
      "2024-03-01T00:00:00Z", "<urn:uuid:orig-1>", "sha1:AAAA"))
    val docs = Seq(Warc.WetDoc("https://a.example.org/1", "2024-01-02T03:00:00Z",
      "extracted text.\nsecond line."))
    val entries = Seq(Warc.WatEntry("https://a.example.org/1", "2024-01-02T03:00:00Z",
      """{"Envelope":{"Title":"t"}}"""))
    // every record type, plain and gzip: responses + revisits, WET, WAT
    val real = Seq(
      Warc.writeWarcBytesWithRevisits(pages, revisits), Warc.writeWetBytes(docs),
      Warc.writeWatBytes(entries))
    val realGz = Seq(
      Warc.writeWarcGzBytesWithRevisits(pages, revisits), Warc.writeWetGzBytes(docs),
      Warc.writeWatGzBytes(entries))
    // three hostile families: pure noise, a real archive with one byte
    // flipped anywhere, and a gzip archive cut anywhere
    val mutated = for {
      base <- Gen.oneOf(real ++ realGz)
      i <- Gen.chooseNum(0, base.length - 1)
      b <- Gen.chooseNum(-128, 127).map(_.toByte)
    } yield { val c = base.clone(); c(i) = b; c }
    val truncated = for {
      base <- Gen.oneOf(realGz)
      n <- Gen.chooseNum(0, base.length - 1)
    } yield java.util.Arrays.copyOfRange(base, 0, n)
    val anyBytes = Gen.oneOf(junk.map(_.toArray), mutated, truncated)
    val prop = Prop.forAll(anyBytes) { bytes =>
      // every parse must return, never throw; blob == stream wherever the
      // blob inflates (a corrupt gzip blob refuses whole, the stream
      // keeps the members before the damage)
      val inflates = !Warc.isGzip(bytes) || Warc.gunzipAll(bytes).isDefined
      def stream = new java.io.ByteArrayInputStream(bytes)
      def parity[T](blob: Seq[T], streamed: Iterator[T]): Boolean = {
        val s = streamed.toList
        if (inflates) blob == s else blob.isEmpty
      }
      Warc.parseWarcRevisits(bytes)
      parity(Warc.parseWarcPages(bytes), Warc.parseWarcStream(stream)) &&
        parity(Warc.parseWetDocs(bytes), Warc.parseWetStream(stream)) &&
        parity(Warc.parseWatEntries(bytes), Warc.parseWatStream(stream))
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(400).withInitialSeed(Seed(11L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("ingest explodes blob rows into page rows beside the id") {
    val df = Seq(
      (10L, Warc.writeWarcBytes(pages.take(2))),
      (20L, Warc.writeWarcBytes(pages.drop(2)))
    ).toDF("blob_id", "blob")
    val out = Warc.ingest(df, "blob_id", "blob")
      .orderBy("blob_id", "url")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getString(4), r.getString(5), r.getString(6)))
    assert(out.toSeq == Seq(
      (10L, pages(0).url, pages(0).fetchTime, 200, "text/html", pages(0).html, "utf-8"),
      (10L, pages(1).url, pages(1).fetchTime, 404, "text/plain", pages(1).html, "utf-8"),
      (20L, pages(2).url, pages(2).fetchTime, 200, "text/html", pages(2).html, "utf-8")))
  }

  // ---------------------------------------------------------------
  // charset-aware decode (the HTML5 sniffing precedence)
  // ---------------------------------------------------------------

  test("charset roundtrip: header-declared Latin-1, Shift_JIS, GBK, cp1251 decode back exactly") {
    val exotic = Seq(
      WarcPage("https://l1.example.org/", "2024-01-01T00:00:00Z", 200,
        "text/html", "<html><body>café déjà vu ñandú</body></html>",
        "iso-8859-1"),
      WarcPage("https://sj.example.org/", "2024-01-01T00:00:00Z", 200,
        "text/html", "<html><body>日本語のテキスト</body></html>",
        "shift_jis"),
      WarcPage("https://gb.example.org/", "2024-01-01T00:00:00Z", 200,
        "text/html", "<html><body>中文文本处理</body></html>",
        "gbk"),
      WarcPage("https://ru.example.org/", "2024-01-01T00:00:00Z", 200,
        "text/html", "<html><body>русский текст</body></html>",
        "windows-1251"))
    assert(Warc.parseWarcPages(Warc.writeWarcBytes(exotic)) == exotic)
    // the non-UTF-8 bodies are NOT valid UTF-8: a hard-coded UTF-8
    // decode would have mojibake'd them (this is what the chain fixes)
    val sjBytes = exotic(1).html.getBytes("shift_jis")
    assert(new String(sjBytes, StandardCharsets.UTF_8) != exotic(1).html)
  }

  test("charset sniff: meta-declared pages serve without the header param and decode via the meta") {
    val metaPage = WarcPage("https://m.example.org/", "2024-01-01T00:00:00Z", 200,
      "text/html",
      "<html><head><meta charset=windows-1251></head><body>привет мир</body></html>",
      "windows-1251")
    val bytes = Warc.writeWarcBytes(Seq(metaPage))
    // the writer left the Content-Type parameter-less (meta present)
    val raw = new String(bytes, StandardCharsets.ISO_8859_1)
    assert(raw.contains("Content-Type: text/html\r\n"))
    assert(!raw.contains("text/html; charset"))
    assert(Warc.parseWarcPages(bytes) == Seq(metaPage))
    // http-equiv form sniffs through the same charset= token
    val equivPage = metaPage.copy(html =
      "<html><head><meta http-equiv=\"Content-Type\" content=\"text/html; charset=windows-1251\"></head><body>да</body></html>")
    assert(Warc.parseWarcPages(Warc.writeWarcBytes(Seq(equivPage))) == Seq(equivPage))
  }

  test("charset precedence: BOM outranks a (wrong) header declaration; BOM strips from the text") {
    // hand-build an HTTP payload: UTF-8 BOM + UTF-8 body, header LYING iso-8859-1
    val body = "élève 中文".getBytes(StandardCharsets.UTF_8)
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte)
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=iso-8859-1\r\n" +
      s"Content-Length: ${bom.length + body.length}\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8) ++ bom ++ body
    val rec = ("WARC/1.1\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://bom.example/\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++
      http ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    val parsed = Warc.parseWarcPages(rec)
    assert(parsed.length == 1)
    assert(parsed.head.charset == "utf-8")
    assert(parsed.head.html == "élève 中文") // BOM stripped
    // UTF-16 BOMs resolve too
    val b16 = "hi".getBytes(StandardCharsets.UTF_16BE)
    val bom16 = Array[Byte](0xfe.toByte, 0xff.toByte)
    val http16 = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      s"Content-Length: ${bom16.length + b16.length}\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8) ++ bom16 ++ b16
    val rec16 = ("WARC/1.1\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://bom16.example/\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${http16.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++
      http16 ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    val p16 = Warc.parseWarcPages(rec16)
    assert(p16.head.charset == "utf-16be" && p16.head.html == "hi")
  }

  test("charset fallbacks refuse-don't-crash: unknown names and mis-declared bytes") {
    // unknown charset name falls through to UTF-8
    val body = "plain ascii.".getBytes(StandardCharsets.UTF_8)
    def respond(ct: String): Array[Byte] = {
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++ body
      ("WARC/1.1\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: https://x.example/\r\n" +
        "Content-Type: application/http;msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++
        http ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    }
    val unk = Warc.parseWarcPages(respond("text/html; charset=not-a-charset"))
    assert(unk.head.charset == "utf-8" && unk.head.html == "plain ascii.")
    val quoted = Warc.parseWarcPages(respond("text/html; charset=\"iso-8859-1\""))
    assert(quoted.head.charset == "iso-8859-1")
    // bytes invalid in the declared charset decode with replacement, not a
    // throw (0xff is never valid UTF-8; deliberately NOT a BOM prefix -
    // a leading FF FE would legitimately win as UTF-16LE)
    val junk = Array[Byte](0x41, 0xff.toByte, 0x42) // declared utf-8
    val httpJ = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      s"Content-Length: ${junk.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++ junk
    val recJ = ("WARC/1.1\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://j.example/\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${httpJ.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++
      httpJ ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    val pj = Warc.parseWarcPages(recJ)
    assert(pj.length == 1 && pj.head.html.contains("�"))
  }

  // ---------------------------------------------------------------
  // streaming record reader (bounded memory, any file size)
  // ---------------------------------------------------------------

  test("parseWarcStream frames identically to the whole-blob parse, plain and gzip") {
    val plain = Warc.writeWarcBytes(pages)
    val gz = Warc.writeWarcGzBytes(pages)
    def stream(bytes: Array[Byte]) =
      Warc.parseWarcStream(new java.io.ByteArrayInputStream(bytes)).toSeq
    assert(stream(plain) == pages)
    assert(stream(gz) == pages)
    // truncated tail keeps prior records, never throws
    val cut = java.util.Arrays.copyOfRange(plain, 0, plain.length - 10)
    assert(stream(cut) == pages.take(2))
    assert(stream(Array[Byte]()) == Nil)
    assert(stream("garbage".getBytes) == Nil)
  }

  test("parseWarcStream refuses an oversized record, keeping everything before it") {
    // third page's response record blows past the cap; every record
    // before it (info, requests, first two responses) stays under it
    val local = pages.take(2) :+ pages(2).copy(html = "x" * 5000)
    val blob = Warc.writeWarcBytes(local)
    val got = Warc.parseWarcStream(
      new java.io.ByteArrayInputStream(blob), maxRecordBytes = 2000).toSeq
    assert(got == local.take(2))
  }

  test("a corrupt Content-Length costs what the stream holds, not what it declares") {
    // a short tail whose header declares 512 MiB: the records before it
    // frame, and the framer never allocates the declared length
    val tail = ("WARC/1.1\r\nWARC-Type: response\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      "Content-Length: 536870912\r\n\r\n" + "x" * 200).getBytes(StandardCharsets.UTF_8)
    val bytes = Warc.writeWarcBytes(pages) ++ tail
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    val streamed = Warc.parseWarcStream(new java.io.ByteArrayInputStream(bytes)).toList
    val blob = Warc.parseWarcPages(bytes)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(streamed == pages && blob == pages)
    assert(allocated < 64L * 1024 * 1024, s"allocated $allocated bytes")
  }

  test("property: parseWarcStream never throws on mutated archives") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val real = Warc.writeWarcBytes(pages)
    val realGz = Warc.writeWarcGzBytes(pages)
    val mutated = for {
      base <- Gen.oneOf(real, realGz)
      i <- Gen.chooseNum(0, base.length - 1)
      b <- Gen.chooseNum(-128, 127).map(_.toByte)
    } yield { val c = base.clone(); c(i) = b; c }
    val prop = Prop.forAll(mutated) { bytes =>
      Warc.parseWarcStream(new java.io.ByteArrayInputStream(bytes)).foreach(_ => ())
      true
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(200).withInitialSeed(Seed(13L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("WET: conversion-record roundtrip plain + gzip, stream == blob, framing shared") {
    val docs = Seq(
      Warc.WetDoc("https://a.example.org/1", "2024-01-02T03:00:00Z",
        "first extracted text.\nwith a second line."),
      Warc.WetDoc("https://b.example.com/x", "2024-02-03T04:05:06Z",
        "umlauts äöü and 中文 survive"),
      Warc.WetDoc("https://c.example.net/", "2024-03-04T05:06:07Z", ""))
    assert(Warc.parseWetDocs(Warc.writeWetBytes(docs)) == docs)
    val gz = Warc.writeWetGzBytes(docs)
    assert((gz(0) & 0xff) == 0x1f && (gz(1) & 0xff) == 0x8b)
    assert(Warc.parseWetDocs(gz) == docs)
    def stream(bytes: Array[Byte]) =
      Warc.parseWetStream(new java.io.ByteArrayInputStream(bytes)).toSeq
    assert(stream(Warc.writeWetBytes(docs)) == docs)
    assert(stream(gz) == docs)
    // a WET file's warcinfo record never surfaces; a WARC PAGE file has
    // no conversion records, so the WET view of it is empty (and vice
    // versa: the page view of a WET file is empty)
    assert(Warc.parseWetDocs(Warc.writeWarcBytes(pages)).isEmpty)
    assert(Warc.parseWarcPages(Warc.writeWetBytes(docs)).isEmpty)
    // truncation refuses the tail, keeps prior docs
    val cut = Warc.writeWetBytes(docs)
    assert(Warc.parseWetDocs(
      java.util.Arrays.copyOfRange(cut, 0, cut.length - 6)) == docs.take(2))
  }

  test("WAT: metadata-record roundtrip plain + gzip, stream == blob, cross-format empty") {
    val entries = Seq(
      Warc.WatEntry("https://a.example.org/1", "2024-01-02T03:00:00Z",
        """{"Envelope":{"Links":[{"url":"https://x.example/"}]}}"""),
      Warc.WatEntry("https://b.example.com/x", "2024-02-03T04:05:06Z",
        """{"Envelope":{"Title":"中文 title"}}"""))
    assert(Warc.parseWatEntries(Warc.writeWatBytes(entries)) == entries)
    val gz = Warc.writeWatGzBytes(entries)
    assert(Warc.parseWatEntries(gz) == entries)
    assert(Warc.parseWatStream(new java.io.ByteArrayInputStream(gz)).toSeq == entries)
    // page / wet / wat views are mutually exclusive record types
    assert(Warc.parseWatEntries(Warc.writeWarcBytes(pages)).isEmpty)
    assert(Warc.parseWarcPages(Warc.writeWatBytes(entries)).isEmpty)
    assert(Warc.parseWetDocs(Warc.writeWatBytes(entries)).isEmpty)
  }

  test("readWetFiles: one .wet file per task, directory scan roundtrip") {
    val docs = Seq(
      Warc.WetDoc("https://a.example.org/1", "2024-01-02T03:00:00Z", "text one."),
      Warc.WetDoc("https://b.example.org/2", "2024-01-02T03:00:00Z", "text two."))
    val dir = java.nio.file.Files.createTempDirectory("wetsrc")
    dir.toFile.deleteOnExit()
    java.nio.file.Files.write(dir.resolve("a.warc.wet.gz"),
      Warc.writeWetGzBytes(docs.take(1)))
    java.nio.file.Files.write(dir.resolve("b.wet"), Warc.writeWetBytes(docs.drop(1)))
    java.nio.file.Files.write(dir.resolve("ignore.warc"), Warc.writeWarcBytes(pages))
    val out = Warc.readWetFiles(spark, dir.toString)
    assert(out.select("url").as[String].collect().sorted.toSeq ==
      docs.map(_.url).sorted)
    // WAT files beside them: one plain, one gzip, each read by its own glob
    val entries = Seq(
      Warc.WatEntry("https://a.example.org/1", "2024-01-02T03:00:00Z", """{"n":1}"""),
      Warc.WatEntry("https://b.example.org/2", "2024-01-02T03:00:00Z", """{"n":2}"""))
    java.nio.file.Files.write(dir.resolve("c.wat"), Warc.writeWatBytes(entries.take(1)))
    java.nio.file.Files.write(dir.resolve("d.warc.wat.gz"),
      Warc.writeWatGzBytes(entries.drop(1)))
    val wat = Warc.readWatFiles(spark, dir.toString)
      .select("url", "fetch_time", "json").as[(String, String, String)].collect()
    assert(wat.sortBy(_._1).toSeq == entries.map(e => (e.url, e.fetchTime, e.json)))
    assert(Warc.readWetFiles(spark, dir.toString).count() == docs.length)
  }

  test("readWarcFiles, readWetFiles, readWatFiles: documented schema on an empty directory") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("warcempty")
    dir.toFile.deleteOnExit()
    def str(n: String) = StructField(n, StringType, nullable = true)
    val warc = StructType(Seq(str("path"), str("url"), str("fetch_time"),
      StructField("status", IntegerType, nullable = false), str("mime"), str("html"),
      str("charset")))
    val wet = StructType(Seq("path", "url", "fetch_time", "text").map(str))
    val wat = StructType(Seq("path", "url", "fetch_time", "json").map(str))
    val empties = Seq(Warc.readWarcFiles(spark, dir.toString),
      Warc.readWetFiles(spark, dir.toString), Warc.readWatFiles(spark, dir.toString))
    assert(empties.map(_.schema) == Seq(warc, wet, wat))
    assert(empties.map(_.count()) == Seq(0L, 0L, 0L))
    // a non-empty scan carries the same schema
    java.nio.file.Files.write(dir.resolve("a.warc"), Warc.writeWarcBytes(pages))
    java.nio.file.Files.write(dir.resolve("a.wet"), Warc.writeWetBytes(Nil))
    java.nio.file.Files.write(dir.resolve("a.wat"), Warc.writeWatBytes(Nil))
    assert(Seq(Warc.readWarcFiles(spark, dir.toString),
      Warc.readWetFiles(spark, dir.toString),
      Warc.readWatFiles(spark, dir.toString)).map(_.schema) == Seq(warc, wet, wat))
  }

  test("readWarcFiles: one .warc file per task, directory scan roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("warcsrc")
    dir.toFile.deleteOnExit()
    java.nio.file.Files.write(dir.resolve("a.warc"), Warc.writeWarcBytes(pages.take(2)))
    java.nio.file.Files.write(dir.resolve("b.warc"), Warc.writeWarcBytes(pages.drop(2)))
    java.nio.file.Files.write(dir.resolve("ignore.txt"), "noise".getBytes)
    val out = Warc.readWarcFiles(spark, dir.toString)
    assert(out.count() == 3)
    assert(out.select("url").as[String].collect().sorted.toSeq ==
      pages.map(_.url).sorted)
    // the glob keeps the non-warc file out of the scan entirely
    assert(!out.select("path").as[String].collect().exists(_.endsWith("ignore.txt")))
  }

  test("revisit records: roundtrip plain + gzip; page ingest UNCHANGED by revisits") {
    val revisits = Seq(
      Warc.WarcRevisit("https://a.example.org/1", "2024-03-01T00:00:00Z",
        "<urn:uuid:orig-1>", "sha1:AAAA"),
      Warc.WarcRevisit("https://b.example.com/x?q=1", "2024-03-02T00:00:00Z",
        "<urn:uuid:orig-2>", "sha1:BBBB"))
    val blob = Warc.writeWarcBytesWithRevisits(pages, revisits)
    assert(Warc.parseWarcRevisits(blob) == revisits)
    // the same blob's PAGE parse is exactly the pages - revisits never
    // surface as responses, responses never surface as revisits
    assert(Warc.parseWarcPages(blob) == pages)
    val gz = Warc.writeWarcGzBytesWithRevisits(pages, revisits)
    assert(Warc.parseWarcRevisits(gz) == revisits)
    assert(Warc.parseWarcPages(gz) == pages)
    // a revisit-free archive parses to zero revisits
    assert(Warc.parseWarcRevisits(Warc.writeWarcBytes(pages)) == Nil)
    // junk never throws
    assert(Warc.parseWarcRevisits("not a warc".getBytes) == Nil)
  }

  test("revisitIngest explodes revisit rows beside the id; resolveRevisits joins the index") {
    val revisits = Seq(
      Warc.WarcRevisit("https://a.example.org/1", "2024-03-01T00:00:00Z",
        "<urn:uuid:orig-1>", "sha1:AAAA"),
      Warc.WarcRevisit("https://gone.example.net/z", "2024-03-02T00:00:00Z",
        "<urn:uuid:orig-9>", "sha1:ZZZZ"))
    val blobs = Seq((7L, Warc.writeWarcBytesWithRevisits(pages.take(1), revisits)))
      .toDF("id", "blob")
    val rv = Warc.revisitIngest(blobs, "id", "blob")
    assert(rv.columns.toSeq ==
      Seq("id", "url", "fetch_time", "refers_to", "digest"))
    assert(rv.count() == 2)
    // index: the original capture of a.example.org/1 (surt
    // org,example,a)/1) with the matching digest; gone.example.net has
    // no entry -> dangling
    val index = Seq(
      ("org,example,a)/1", "20240102030000", "sha1:AAAA", "seg/f.warc.gz", "100", "2345"))
      .toDF("surt_key", "cdx_ts", "digest", "filename", "offset", "length")
    val got = graft.ops.WebOps.resolveRevisits(rv, "url", "digest", index)
      .select($"url", $"resolved", $"orig_ts", $"orig_filename")
      .as[(String, Boolean, Option[String], Option[String])].collect().toSet
    assert(got == Set(
      ("https://a.example.org/1", true, Some("20240102030000"), Some("seg/f.warc.gz")),
      ("https://gone.example.net/z", false, None, None)), got.toString)
    // digest mismatch (content changed since the capture) is NOT a match
    val stale = graft.ops.WebOps.resolveRevisits(
      rv.filter($"url".contains("a.example")), "url", "digest",
      index.withColumn("digest", lit("sha1:OTHER")))
    assert(stale.select("resolved").as[Boolean].collect().toSeq == Seq(false))
  }

  test("indexed gz writer: byte-identical archive, members delimit response records") {
    val (bytes, members) = Warc.writeWarcGzBytesIndexed(pages)
    assert(bytes.sameElements(Warc.writeWarcGzBytes(pages)),
      "indexed writer must produce byte-identical archives")
    assert(members.map(_.url) == pages.map(_.url))
    // every member inflates standalone to exactly its response record
    members.zip(pages).foreach { case (m, p) =>
      val slice = bytes.slice(m.offset.toInt, (m.offset + m.length).toInt)
      val got = Warc.parseWarcPages(slice)
      assert(got == Seq(p), s"member at ${m.offset}+${m.length} -> $got")
    }
  }

  test("fetchRecords: ranged point-lookups by (filename, offset, length)") {
    val dir = java.nio.file.Files.createTempDirectory("warcfetch")
    dir.toFile.deleteOnExit()
    val (aBytes, aMembers) = Warc.writeWarcGzBytesIndexed(pages.take(2))
    val (bBytes, bMembers) = Warc.writeWarcGzBytesIndexed(pages.drop(2))
    java.nio.file.Files.write(dir.resolve("a.warc.gz"), aBytes)
    java.nio.file.Files.write(dir.resolve("b.warc.gz"), bBytes)
    val index = (aMembers.map(("a.warc.gz", _)) ++ bMembers.map(("b.warc.gz", _)))
      .map { case (f, m) => (f, m.offset.toString, m.length.toString, m.url) }
      .toDF("filename", "offset", "length", "idx_url")
    val got = Warc.fetchRecords(index, dir.toString)
      .select($"url", $"fetch_time", $"status", $"mime", $"html")
      .as[(String, String, Int, String, String)].collect().toSet
    assert(got == pages.map(p => (p.url, p.fetchTime, p.status, p.mime, p.html)).toSet)
    // subset fetch reads ONLY the requested records
    val one = Warc.fetchRecords(index.filter($"idx_url".contains("b.example")), dir.toString)
    assert(one.select("url").as[String].collect().toSeq ==
      Seq("https://b.example.com/x?q=1"))
  }

  test("fetchRecords refuses corrupt coordinates, truncated members, and junk - never throws") {
    val dir = java.nio.file.Files.createTempDirectory("warcfetchbad")
    dir.toFile.deleteOnExit()
    val (bytes, members) = Warc.writeWarcGzBytesIndexed(pages)
    java.nio.file.Files.write(dir.resolve("a.warc.gz"), bytes)
    val m = members.head
    val bad = Seq(
      // offset past EOF
      ("a.warc.gz", (bytes.length + 10).toString, "100"),
      // length runs past EOF (truncated member)
      ("a.warc.gz", m.offset.toString, (bytes.length + 1).toString),
      // mid-member offset: not a gzip header, not a WARC record
      ("a.warc.gz", (m.offset + 7).toString, m.length.toString),
      // short length: gzip member truncated
      ("a.warc.gz", m.offset.toString, (m.length - 5).toString),
      // non-numeric wire values (CDX strings)
      ("a.warc.gz", "xyz", m.length.toString),
      ("a.warc.gz", m.offset.toString, "-3"),
      // missing file
      ("nope.warc.gz", m.offset.toString, m.length.toString))
      .toDF("filename", "offset", "length")
    assert(Warc.fetchRecords(bad, dir.toString).count() == 0)
    // a good row BESIDE the corrupt ones still fetches (same file handle path)
    val mixed = bad.union(Seq(("a.warc.gz", m.offset.toString, m.length.toString))
      .toDF("filename", "offset", "length"))
    assert(Warc.fetchRecords(mixed, dir.toString)
      .select("url").as[String].collect().toSeq == Seq(pages.head.url))
  }
}
