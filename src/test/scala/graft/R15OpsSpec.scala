package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import graft.multimodal.PdfLite
import graft.sources.{GraftFs, WarcLite}
import graft.text.HtmlExtract

/** Round-15 operators: real ISO 28500 `WARC/1.0` record syntax (CRLF
  * headers, HTTP response blocks, record-id urns), the bounded-window
  * streaming gzip member walk, the GraftFs storage seam, and the r14
  * advice fixes (literal-string EOL normalization, depth-tracked
  * object dicts). */
class R15OpsSpec extends SparkSpec {
  import spark.implicits._

  // --- real WARC/1.0 record syntax --------------------------------------

  private def realBytes(r: WarcLite.WarcRecord): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    WarcLite.frameReal(out, r)
    out.toByteArray
  }

  test("warc-real: our writer's record round-trips; bytes are genuine WARC/1.0") {
    val rec = WarcLite.WarcRecord(42L, "https://example.org/doc/42",
      "<html>body text</html>".getBytes(UTF_8))
    val bytes = realBytes(rec)
    val s = new String(bytes, UTF_8)
    // the on-disk form is the real thing: version line, CRLF line ends,
    // mandatory named fields, an HTTP response block
    assert(s.startsWith("WARC/1.0\r\n"))
    assert(s.contains("WARC-Record-ID: <urn:graft:doc:42>\r\n"))
    assert(s.contains("WARC-Target-URI: https://example.org/doc/42\r\n"))
    assert(s.contains("\r\nHTTP/1.1 200 OK\r\n"))
    val back = WarcLite.parse(bytes, "t").toSeq
    assert(back.length == 1)
    assert(back.head.doc_id == 42L)
    assert(back.head.url == rec.url)
    // the HTTP response header is stripped: payload is the body
    assert(java.util.Arrays.equals(back.head.payload, rec.payload))
  }

  test("warc-real: length framing — payloads containing WARC/1.0 and CRLF runs") {
    // the adversarial payload: a complete fake WARC record INSIDE the
    // body, plus CRLF CRLF runs — a delimiter-scanning parser would
    // split here; the length-framed one must not
    val evil = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:graft:doc:999>\r\nContent-Length: 0\r\n\r\n" +
      "\r\n\r\n and some trailing text").getBytes(UTF_8)
    val recs = Seq(
      WarcLite.WarcRecord(1L, "https://x/1", evil),
      WarcLite.WarcRecord(2L, "https://x/2", "after".getBytes(UTF_8)))
    val out = new java.io.ByteArrayOutputStream()
    recs.foreach(WarcLite.frameReal(out, _))
    val back = WarcLite.parse(out.toByteArray, "t").toSeq
    assert(back.map(_.doc_id) == Seq(1L, 2L))
    assert(java.util.Arrays.equals(back.head.payload, evil))
    assert(new String(back(1).payload, UTF_8) == "after")
  }

  test("warc-real: foreign-writer tolerance — case, folding, unknown fields, no-colon-space") {
    // headers as a wild writer might emit them: mixed case, value
    // folded onto a continuation line, unknown fields, `name:value`
    // without the space, a non-graft record id
    val body = "HTTP/1.1 200 OK\r\nServer: x\r\n\r\npayload body"
    val rec = ("WARC/1.0\r\n" +
      "warc-type: RESPONSE\r\n" +
      "WARC-RECORD-ID:<urn:uuid:9b1c5c7e-6bde-4f4a-8c9f-0123456789ab>\r\n" +
      "WARC-Date: 2019-08-01T12:00:00Z\r\n" +
      "WARC-Target-URI: https://foreign.example/page\r\n" +
      "WARC-Payload-Digest: sha1:ABCDEF\r\n" +
      "Content-Type: application/http;\r\n" +
      "\tmsgtype=response\r\n" +
      s"Content-Length: ${body.length}\r\n" +
      "\r\n" + body + "\r\n\r\n").getBytes(UTF_8)
    val back = WarcLite.parse(rec, "t").toSeq
    assert(back.length == 1)
    assert(back.head.url == "https://foreign.example/page")
    assert(new String(back.head.payload, UTF_8) == "payload body")
    // a foreign record id gets a deterministic positive surrogate
    val sid = WarcLite.surrogateId("<urn:uuid:9b1c5c7e-6bde-4f4a-8c9f-0123456789ab>")
    assert(back.head.doc_id == sid && sid > 0L)
    // …and our own urn decodes verbatim, not through the hash
    assert(WarcLite.surrogateId("<urn:graft:doc:7001>") == 7001L)
  }

  test("warc-real: non-response records keep their whole block as payload") {
    val info = "software: graft\r\nformat: WARC/1.0"
    val rec = ("WARC/1.0\r\n" +
      "WARC-Type: warcinfo\r\n" +
      "WARC-Record-ID: <urn:graft:doc:5>\r\n" +
      s"Content-Length: ${info.length}\r\n" +
      "\r\n" + info + "\r\n\r\n").getBytes(UTF_8)
    val back = WarcLite.parse(rec, "t").toSeq
    assert(back.length == 1 && back.head.doc_id == 5L)
    assert(new String(back.head.payload, UTF_8) == info)
    assert(back.head.url == "") // warcinfo has no target URI
  }

  test("warc-real: corruption fails loudly — missing id, bad length, bad separator, headerless http") {
    def parseAll(s: String): Seq[WarcLite.WarcRecord] =
      WarcLite.parse(s.getBytes(UTF_8), "t").toSeq
    // missing WARC-Record-ID (mandatory, ISO 28500 §5.2)
    intercept[IllegalArgumentException] {
      parseAll("WARC/1.0\r\nContent-Length: 2\r\n\r\nab\r\n\r\n")
    }
    // missing Content-Length
    intercept[IllegalArgumentException] {
      parseAll("WARC/1.0\r\nWARC-Record-ID: <urn:graft:doc:1>\r\n\r\nab\r\n\r\n")
    }
    // overrunning Content-Length
    intercept[IllegalArgumentException] {
      parseAll("WARC/1.0\r\nWARC-Record-ID: <urn:graft:doc:1>\r\nContent-Length: 99\r\n\r\nab\r\n\r\n")
    }
    // missing CRLF CRLF separator after the block
    intercept[IllegalArgumentException] {
      parseAll("WARC/1.0\r\nWARC-Record-ID: <urn:graft:doc:1>\r\nContent-Length: 2\r\n\r\nab\r\n")
    }
    // a response record whose block has no HTTP header terminator
    intercept[IllegalArgumentException] {
      parseAll("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:graft:doc:1>\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        "Content-Length: 7\r\n\r\nno-sep!\r\n\r\n")
    }
    // an unknown version line is still rejected
    intercept[IllegalArgumentException] { parseAll("WARC/9.9\r\n\r\n\r\n\r\n") }
  }

  test("warc-real: gz container round trip + cdx fetch over real-syntax members") {
    val recs = Seq(
      WarcLite.WarcRecord(1L, "https://x/1", "first page".getBytes(UTF_8)),
      WarcLite.WarcRecord(2L, "https://x/2", Array.emptyByteArray),
      WarcLite.WarcRecord(3L, "https://x/3",
        "body with\r\n\r\nCRLF runs and WARC/1.0 text".getBytes(UTF_8)))
    val dir = java.nio.file.Files.createTempDirectory("warc-real-gz").toString
    WarcLite.writeRealGz(recs.toDS().repartition(2), dir)
    val back = WarcLite.readGz(spark, dir).collect().sortBy(_.doc_id)
    assert(back.map(_.doc_id).toSeq == Seq(1L, 2L, 3L))
    back.zip(recs).foreach { case (b, w) =>
      assert(java.util.Arrays.equals(b.payload, w.payload), s"doc ${w.doc_id}")
      assert(b.url == w.url)
    }
    // the CDX fan-out path reads the same real-syntax members
    val viaCdx = WarcLite.readGzCdx(spark, dir).collect().sortBy(_.doc_id)
    assert(viaCdx.map(_.doc_id).toSeq == Seq(1L, 2L, 3L))
    viaCdx.zip(recs).foreach { case (b, w) =>
      assert(java.util.Arrays.equals(b.payload, w.payload), s"doc ${w.doc_id}")
    }
  }

  test("warc-real: whole-corpus query == direct extraction, bit for bit (sf0.001)") {
    val a = HtmlExtract.qHtmlExtract(spark, sf0001).collect().toSeq
    val b = HtmlExtract.qWarcExtractReal(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  // --- streaming gzip member walk ---------------------------------------

  /** A SeekableIn over in-memory bytes whose read() returns SMALL
    * chunks — exercises refill/compaction paths a real file rarely
    * hits. */
  private final class ChunkyIn(bytes: Array[Byte], chunk: Int)
      extends GraftFs.SeekableIn {
    private var pos = 0
    override def seek(off: Long): Unit = pos = off.toInt
    override def readFully(buf: Array[Byte]): Unit = {
      require(pos + buf.length <= bytes.length)
      System.arraycopy(bytes, pos, buf, 0, buf.length); pos += buf.length
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      if (pos >= bytes.length) return -1
      val k = math.min(math.min(len, chunk), bytes.length - pos)
      System.arraycopy(bytes, pos, buf, off, k); pos += k; k
    }
    override def close(): Unit = ()
  }

  test("gz stream walk: identical to the in-memory walk at every buffer size") {
    val rnd = new scala.util.Random(1515)
    // 60 members with payloads from empty to ~3x the smallest window —
    // member boundaries land everywhere relative to refills
    val members = (1 to 60).map { i =>
      val payload = new Array[Byte](rnd.nextInt(3000))
      rnd.nextBytes(payload)
      val f = new java.io.ByteArrayOutputStream()
      WarcLite.frame(f, WarcLite.WarcRecord(i.toLong, s"https://r/$i", payload))
      WarcLite.gzWrap(f.toByteArray)
    }
    val container = members.reduce(_ ++ _)
    val viaMem = WarcLite.gzMembers(container, "mem").toSeq
    for (bufSize <- Seq(1024, 1031, 4096, 1 << 16);
         chunk <- Seq(7, 997, 1 << 20)) {
      val viaStream = WarcLite.gzMembersStream(
        new ChunkyIn(container, chunk), "stream", bufSize).toSeq
      assert(viaStream.length == viaMem.length, s"buf=$bufSize chunk=$chunk")
      viaStream.zip(viaMem).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a, b), s"buf=$bufSize chunk=$chunk")
      }
    }
  }

  test("gz stream walk: a record larger than the window still inflates (window bounds the container, not the record)") {
    val big = new Array[Byte](64 * 1024) // payload 64x the 1 KiB window
    new scala.util.Random(7).nextBytes(big)
    val f = new java.io.ByteArrayOutputStream()
    WarcLite.frame(f, WarcLite.WarcRecord(1L, "https://big/1", big))
    val container = WarcLite.gzWrap(f.toByteArray)
    val got = WarcLite.gzMembersStream(
      new ChunkyIn(container, 1 << 20), "big", bufSize = 1024).toSeq
    assert(got.length == 1)
    val rec = WarcLite.parse(got.head, "big").next()
    assert(java.util.Arrays.equals(rec.payload, big))
  }

  test("gz stream walk: foreign optional header fields spanning refills are skipped per RFC 1952") {
    // FNAME longer than the whole window forces the zero-terminated
    // skip across multiple refills
    val frame0 = new java.io.ByteArrayOutputStream()
    WarcLite.frame(frame0, WarcLite.WarcRecord(9L, "u", "hi".getBytes(UTF_8)))
    val ours = WarcLite.gzWrap(frame0.toByteArray)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0x08, 0, 0, 0, 0, 0, 0))
    out.write(("f" * 5000).getBytes(UTF_8)); out.write(0) // huge FNAME
    out.write(java.util.Arrays.copyOfRange(ours, 10, ours.length))
    val got = WarcLite.gzMembersStream(
      new ChunkyIn(out.toByteArray, 333), "foreign", bufSize = 1024).toSeq
    assert(got.length == 1)
    assert(WarcLite.parse(got.head, "foreign").next().doc_id == 9L)
  }

  test("gz stream walk: corruption fails loudly — magic, truncation, CRC") {
    def walk(bytes: Array[Byte]): Seq[Array[Byte]] =
      WarcLite.gzMembersStream(new ChunkyIn(bytes, 97), "t", 1024).toSeq
    val f = new java.io.ByteArrayOutputStream()
    WarcLite.frame(f, WarcLite.WarcRecord(3L, "u", ("x" * 4000).getBytes(UTF_8)))
    val good = WarcLite.gzWrap(f.toByteArray)
    intercept[IllegalArgumentException] {
      val b = good.clone(); b(0) = 0x1e; walk(b)
    }
    intercept[IllegalArgumentException] {
      walk(java.util.Arrays.copyOf(good, good.length - 5)) // cut trailer
    }
    intercept[IllegalArgumentException] {
      walk(java.util.Arrays.copyOf(good, good.length / 2)) // cut deflate
    }
    intercept[IllegalArgumentException] {
      val b = good.clone()
      b(b.length - 8) = (b(b.length - 8) ^ 0x01).toByte // flip CRC
      walk(b)
    }
  }

  test("gz paths: lite containers still read identically through the streaming readGz (sf0.001)") {
    val a = HtmlExtract.qWarcExtractGz(spark, sf0001).collect().toSeq
    val b = HtmlExtract.qHtmlExtract(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  // --- GraftFs seam -----------------------------------------------------

  test("GraftFs.Local: atomic create — nothing visible until close, then exact bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graftfs").toString
    val out = GraftFs.Local.create(s"$dir/sub/data.bin")
    out.write("hello ".getBytes(UTF_8))
    // mid-write: target absent (temp sibling is dot-prefixed and
    // filtered from list)
    assert(!new java.io.File(s"$dir/sub/data.bin").exists())
    assert(GraftFs.Local.list(s"$dir/sub", ".bin").isEmpty)
    out.write("world".getBytes(UTF_8))
    out.close()
    assert(GraftFs.Local.list(s"$dir/sub", ".bin") == Seq(s"$dir/sub/data.bin"))
    val in = GraftFs.Local.openSeekable(s"$dir/sub/data.bin")
    try {
      in.seek(6)
      val buf = new Array[Byte](5)
      in.readFully(buf)
      assert(new String(buf, UTF_8) == "world")
    } finally in.close()
    // listing is sorted and suffix-filtered
    GraftFs.Local.create(s"$dir/sub/a.bin").close()
    GraftFs.Local.create(s"$dir/sub/z.txt").close()
    assert(GraftFs.Local.list(s"$dir/sub", ".bin") ==
      Seq(s"$dir/sub/a.bin", s"$dir/sub/data.bin"))
    assert(GraftFs.Local.list(s"$dir/nope", ".bin").isEmpty)
  }

  // --- r14 advice fixes (PdfLite) ---------------------------------------

  // a structurally-valid single-page PDF around an arbitrary content
  // stream body (the R14OpsSpec fixture, kept in sync by hand)
  private def miniPdf(body: String, filter: String = "",
      extraDict: String = ""): Array[Byte] = {
    val objs = Seq(
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
      "3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj\n",
      s"4 0 obj << /Length ${body.length}$extraDict$filter >> stream\n$body" +
        "endstream endobj\n",
      "5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    val head = "%PDF-1.4\n"
    val offsets = objs.scanLeft(head.length)((o, s) => o + s.length)
    val xref = new StringBuilder("xref\n0 6\n0000000000 65535 f \n")
    offsets.dropRight(1).foreach(o => xref.append(f"$o%010d 00000 n \n"))
    (head + objs.mkString + xref +
      s"trailer << /Size 6 /Root 1 0 R >>\nstartxref\n${offsets.last}\n%%EOF\n")
      .getBytes(ISO_8859_1)
  }

  test("pdf: unescaped EOLs inside literal strings record as single LF (§3.2.3)") {
    // CR, CRLF and LF inside (…) must all extract as \n
    val r = PdfLite.extract(1L, miniPdf("BT (a\rb\r\nc\nd) Tj ET\n"))
    assert(r.n_text_ops == 1L)
    assert(r.extract_md5 == md5hex("a\nb\nc\nd"))
    // …while ESCAPED \r stays a carriage return (the escape table wins)
    val r2 = PdfLite.extract(2L, miniPdf("BT (x\\ry) Tj ET\n"))
    assert(r2.extract_md5 == md5hex("x\ry"))
  }

  test("pdf: a nested dict before /Filter no longer hides the declaration") {
    val plain = "BT (deep dict text) Tj ET\n"
    val comp = new String(
      Zlib.deflate(plain.getBytes(ISO_8859_1), 6, nowrap = false), ISO_8859_1)
    // the ADVICE shape: /DecodeParms << … >> BEFORE /Filter — the old
    // first-'>>' cut ended the header before the filter declaration and
    // tokenized compressed bytes as text (silent wrong md5)
    val r = PdfLite.extract(1L, miniPdf(comp,
      filter = " /Filter /FlateDecode",
      extraDict = " /DecodeParms << /Columns 1 /Predictor 1 >>"))
    assert(r.n_text_ops == 1L)
    assert(r.extract_md5 == md5hex("deep dict text"))
    // a dict value STRING containing '>>' must not end the dict either
    val r2 = PdfLite.extract(2L, miniPdf(comp,
      filter = " /Filter /FlateDecode",
      extraDict = " /GraftNote (contains >> inside a string)"))
    assert(r2.extract_md5 == md5hex("deep dict text"))
  }

  // --- PDF 1.5: xref streams + object streams ---------------------------

  test("pdf 1.5: build15 round-trips; surface identical to the 1.4 generation") {
    val texts = Seq("", "short", "a(b)c\\d" + ("x" * 70) + "(()",
      "héllo 日本語 𝄞 🎵 — unicode through an object stream",
      "long multi-page " + ("paragraph text " * 400))
    texts.zipWithIndex.foreach { case (text, k) =>
      val r15 = PdfLite.extract(k.toLong, PdfLite.build15(text))
      val r14 = PdfLite.extract(k.toLong, PdfLite.build(text))
      assert(r15 == r14, s"text $k: 1.5 surface must equal 1.4's")
      assert(r15.extract_md5 == md5hex(text), s"text $k md5")
      assert(r15.xref_valid, s"text $k xref")
    }
    // the container genuinely is the 1.5 layout
    val s = new String(PdfLite.build15("probe"), ISO_8859_1)
    assert(s.startsWith("%PDF-1.5\n"))
    assert(s.contains("/Type /XRef") && s.contains("/Type /ObjStm"))
    assert(!s.contains("trailer")) // 1.5: the XRef dict IS the trailer
    // …and the catalog/page objects are NOT direct objects
    assert(!s.contains("1 0 obj << /Type /Catalog"))
  }

  test("pdf 1.5: hand-built xref stream with /Index subsections and PNG Up predictor") {
    // a wild-shaped 1.5 file: direct objects, an xref STREAM whose
    // entries are PNG-Up-filtered (/Predictor 12 — what Acrobat and
    // pdflib actually emit), declared via a NESTED /DecodeParms dict,
    // and a split /Index [0 4 4 3]
    val body = "BT (predictor text) Tj ET\n"
    val objs = scala.collection.mutable.ArrayBuffer.empty[String]
    objs += "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
    objs += "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
    objs += ("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj\n")
    objs += s"4 0 obj << /Length ${body.length} >> stream\n${body}endstream endobj\n"
    objs += "5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n"
    val head = "%PDF-1.5\n"
    val offs = objs.scanLeft(head.length)((o, s2) => o + s2.length)
    val xrefOff = offs.last
    // 7-byte raw rows for objects 0..6 (/W [1 4 2])
    def row(t: Int, a: Int, b: Int): Array[Byte] =
      Array(t.toByte, (a >> 24).toByte, (a >> 16).toByte, (a >> 8).toByte,
        a.toByte, (b >> 8).toByte, b.toByte)
    val raws = (row(0, 0, 0xffff) +: offs.dropRight(1).map(o => row(1, o, 0))) :+
      row(1, xrefOff, 0)
    // PNG Up filter: each stored row = 0x02 then raw - rawAbove (mod 256)
    val filtered = new java.io.ByteArrayOutputStream()
    raws.zipWithIndex.foreach { case (r, i) =>
      filtered.write(2)
      val above = if (i == 0) new Array[Byte](7) else raws(i - 1)
      (0 until 7).foreach(c => filtered.write((r(c) - above(c)) & 0xff))
    }
    val xdata = Zlib.deflate(filtered.toByteArray, 6, nowrap = false)
    val xrefObj =
      s"6 0 obj << /Type /XRef /Size 7 /W [1 4 2] /Index [0 4 4 3] /Root 1 0 R " +
        s"/DecodeParms << /Predictor 12 /Columns 7 >> /Filter /FlateDecode " +
        s"/Length ${xdata.length} >> stream\n" +
        new String(xdata, ISO_8859_1) + "\nendstream endobj\n"
    val pdf = (head + objs.mkString + xrefObj +
      s"startxref\n$xrefOff\n%%EOF\n").getBytes(ISO_8859_1)
    val r = PdfLite.extract(1L, pdf)
    assert(r.xref_valid, r.toString)
    assert(r.n_objects == 5L && r.n_pages == 1L && r.n_text_ops == 1L)
    assert(r.extract_md5 == md5hex("predictor text"))
  }

  test("pdf 1.5: corruption and fences fail loudly") {
    val good = PdfLite.build15("fence probe text")
    val s = new String(good, ISO_8859_1)
    // a /Prev pointing at garbage (byte 9 is mid-header) is loud —
    // same-length patch: /Root becomes /Prev (keeps offsets valid)
    val withPrev = s.replace("/Root 1 0 R", "/Prev 9 0 R ")
    intercept[IllegalArgumentException] {
      PdfLite.extract(1L, withPrev.getBytes(ISO_8859_1))
    }
    // …and on the 1.4 table generation too
    val t14 = new String(PdfLite.build("x"), ISO_8859_1)
      .replace("/Root 1 0 R", "/Prev 9 0 R ")
    intercept[IllegalArgumentException] {
      PdfLite.extract(2L, t14.getBytes(ISO_8859_1))
    }
    // a /Prev CYCLE (section pointing at itself) is loud, not a hang:
    // inserting into the trailer shifts no object offsets (the trailer
    // is after the xref table) and startxref's value is unchanged
    val base = new String(PdfLite.build("cycle probe"), ISO_8859_1)
    val sxAt = base.lastIndexOf("\nstartxref\n")
    val ownXref = base.substring(sxAt + 11,
      base.indexOf('\n', sxAt + 11)).trim
    val cyc = base.replace("trailer << ", s"trailer << /Prev $ownXref ")
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(6L, cyc.getBytes(ISO_8859_1))
    }.getMessage.contains("cycle"))
    // a /XRefStm pointing at garbage (byte 99 is mid-file, not an
    // object) is loud — the side stream is required, never skipped
    val hyb = base.replace("trailer << ", "trailer << /XRefStm 99 ")
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(7L, hyb.getBytes(ISO_8859_1))
    }.getMessage.contains("/XRefStm"))
    // an indirect /Length in the xref stream's own dict (spec requires
    // direct entries there) is loud: patch the 1.5 xref stream's
    // /Length N to /Length N 0 R via same-length-irrelevant tail edit
    val xsAt = s.lastIndexOf("0 obj << /Type /XRef")
    val lenM = "/Length (\\d+)".r.findFirstMatchIn(s.substring(xsAt)).get
    val indirectXref = s.substring(0, xsAt) + s.substring(xsAt)
      .replaceFirst("/Length \\d+", s"/Length 4 0 R")
    assert(lenM != null && intercept[IllegalArgumentException] {
      PdfLite.extract(8L, indirectXref.getBytes(ISO_8859_1))
    }.getMessage.contains("xref stream"))
    // a flipped byte inside the compressed xref stream is loud (zlib
    // adler32 or entry-shape check), never a silently wrong walk
    val xrefDataAt = s.lastIndexOf("stream\n") + 7
    val corrupt = good.clone()
    corrupt(xrefDataAt + 6) = (corrupt(xrefDataAt + 6) ^ 0x55).toByte
    intercept[IllegalArgumentException] { PdfLite.extract(3L, corrupt) }
    // an unknown /W shape is rejected
    val badW = s.replace("/W [1 4 2]", "/W [9 9 9]")
    intercept[IllegalArgumentException] {
      PdfLite.extract(4L, badW.getBytes(ISO_8859_1))
    }
    // unsupported header versions stay loud
    intercept[IllegalArgumentException] {
      PdfLite.extract(5L, "%PDF-1.3\nxx".getBytes(ISO_8859_1))
    }
  }

  test("pdf incremental update: /Prev chain surface == direct build surface") {
    // the update replaces a draft page tree; newest-wins + free-entry
    // shadowing must leave a surface identical to building the final
    // text directly — across scripts, page counts, and filters
    val texts = Seq("", "short ascii", "日本語のテキストです — 混合 scripts",
      "x" * 5000, "emoji 😀 and accents éàü")
    texts.zipWithIndex.foreach { case (t, i) =>
      Seq(false, true).foreach { fl =>
        val inc = PdfLite.extract(i.toLong,
          PdfLite.buildIncremental(t, flate = fl))
        val direct = PdfLite.extract(i.toLong, PdfLite.build(t, flate = fl))
        assert(inc == direct, s"text #$i flate=$fl: $inc != $direct")
      }
    }
    // a draft LONGER than the final text (more freed objects than new
    // ones) and one that spans pages exercise uneven free subsections
    val longDraft = "draft " * 2000
    val r = PdfLite.extract(9L, PdfLite.buildIncremental("tiny", longDraft))
    assert(r == PdfLite.extract(9L, PdfLite.build("tiny")), r.toString)
    // the deleted draft text must NOT leak into the extraction — the
    // md5 pins it, but assert the op count too: a resurrected draft
    // content stream would inflate n_text_ops
    assert(r.n_text_ops == 1L && r.n_pages == 1L)
  }

  test("pdf incremental CHAIN: k saves deep, surface == final build at every k") {
    // each save replaces the page tree; the newest-first walk must
    // land on the LAST save's surface at any chain depth — drafts of
    // varying page counts exercise uneven freed ranges at every level
    val saves = Seq("v1 first draft", "v2 " + ("longer " * 900),
      "v3 日本語版", "", "v5 final — released")
    (2 to saves.length).foreach { k =>
      Seq(false, true).foreach { fl =>
        val chain = PdfLite.extract(k.toLong,
          PdfLite.buildIncrementalChain(saves.take(k), flate = fl))
        val direct = PdfLite.extract(k.toLong,
          PdfLite.build(saves(k - 1), flate = fl))
        assert(chain == direct, s"depth $k flate=$fl: $chain != $direct")
      }
    }
    // a 12-deep chain stays linear and exact (the reader's 64-section
    // fence is far above any real save count)
    val deep = (0 until 12).map(i => s"revision $i") :+ "the final text"
    val r = PdfLite.extract(99L, PdfLite.buildIncrementalChain(deep))
    assert(r == PdfLite.extract(99L, PdfLite.build("the final text")))
    assert(r.n_text_ops == 1L && r.xref_valid)
  }

  test("pdf indirect /Length: resolved through the xref, same surface") {
    Seq("", "plain", "unicode — テスト", "y" * 4000).zipWithIndex.foreach {
      case (t, i) =>
        val ind = PdfLite.extract(i.toLong, PdfLite.build(t, indirectLen = true))
        val direct = PdfLite.extract(i.toLong, PdfLite.build(t))
        // /Length helper integers are format plumbing: excluded from
        // n_objects so both layouts publish the same surface
        assert(ind == direct, s"text #$i: $ind != $direct")
    }
    // a dangling /Length target is loud, not a silent mis-frame —
    // same-length patch (object 6 → absent object 9) so no offset
    // shifts: the failure must come from the resolver, nothing else
    val b = new String(PdfLite.build("dangle", indirectLen = true), ISO_8859_1)
    val broken = b.replaceFirst("/Length 6 0 R", "/Length 9 0 R")
    assert(broken != b)
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(1L, broken.getBytes(ISO_8859_1))
    }.getMessage.contains("/Length"))
  }

  test("pdf hybrid-reference: /XRefStm side stream wins over the table's free rows") {
    Seq("", "hybrid probe", "ハイブリッド — mixed", "z" * 5000).zipWithIndex
      .foreach { case (t, i) =>
        val hyb = PdfLite.extract(i.toLong, PdfLite.buildHybrid(t))
        val direct = PdfLite.extract(i.toLong, PdfLite.build(t))
        // the classic table marks the catalog/pages/font FREE; only
        // the side stream's type-2 entries make them readable — a
        // reader that applies the table first (or skips the side
        // stream) loses the whole page tree, so surface equality IS
        // the precedence check
        assert(hyb == direct, s"text #$i: $hyb != $direct")
      }
    // structure sanity: the hybrid bytes really do carry a classic
    // table with free member rows AND a /XRefStm trailer key
    val b = new String(PdfLite.buildHybrid("x"), ISO_8859_1)
    assert(b.contains("/XRefStm") && b.contains("0000000000 00000 f"))
    val sx = b.substring(b.lastIndexOf("\nstartxref\n") + 11).trim
      .takeWhile(_.isDigit).toInt
    assert(b.startsWith("xref", sx)) // startxref addresses the TABLE
    // §7.5.8.4: the hybrid side stream shall not carry /Prev — loud.
    // Same-length patch inside the side stream's dict (/Root → /Prev
    // keeps every offset valid; the target value 1 is never read)
    val xsAt = b.lastIndexOf("0 obj << /Type /XRef")
    val withPrev = b.substring(0, xsAt) +
      b.substring(xsAt).replaceFirst("/Root 1 0 R", "/Prev 1 0 R")
    assert(withPrev != b)
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(1L, withPrev.getBytes(ISO_8859_1))
    }.getMessage.contains("/Prev"))
  }

  test("pdf rc4 encryption: owner-locked files decrypt, surface == direct build") {
    // both RC4 generations (V1/R2 40-bit, V2/R3 128-bit), flate on/off,
    // across scripts and page counts: authenticate-derive-decrypt must
    // reproduce the unencrypted surface exactly
    Seq("", "secret text", "暗号化テスト — mixed", "s" * 5000).zipWithIndex
      .foreach { case (t, i) =>
        Seq(false, true).foreach { fl =>
          val direct = PdfLite.extract(i.toLong, PdfLite.build(t, flate = fl))
          Seq(false, true).foreach { r3 =>
            val enc = PdfLite.extract(i.toLong,
              PdfLite.buildEncrypted(t, flate = fl, r3 = r3))
            assert(enc == direct, s"#$i flate=$fl r3=$r3: $enc != $direct")
          }
          // the crypt-filter generations: V4/R4 AES-128-CBC streams
          // (IV ‖ PKCS#5 ciphertext), V4/R4 RC4-named-through-the-
          // filter, and V5/R6 AES-256 (Algorithm-2.B hash + /UE
          // key unwrap)
          Seq("AESV2", "V2", "AESV3").foreach { m =>
            val enc = PdfLite.extract(i.toLong,
              PdfLite.buildEncrypted(t, flate = fl, cfm = Some(m)))
            assert(enc == direct, s"#$i flate=$fl cfm=$m: $enc != $direct")
          }
        }
      }
  }

  test("pdf aes encryption: fences and corruption fail loudly") {
    val b = new String(
      PdfLite.buildEncrypted("aes probe", flate = true, cfm = Some("AESV2")),
      ISO_8859_1)
    // flipped /U byte = a real user password: loud authentication fail
    val uAt = b.indexOf("/U <") + 4
    val flipped = b.substring(0, uAt) +
      (if (b.charAt(uAt) == '0') '1' else '0') + b.substring(uAt + 1)
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(1L, flipped.getBytes(ISO_8859_1))
    }.getMessage.contains("password"))
    // an unknown crypt-filter method is loud (same-length name patch)
    val v3 = b.replace("/CFM /AESV2 ", "/CFM /AESV3 ")
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(2L, v3.getBytes(ISO_8859_1))
    }.getMessage.contains("AESV3"))
    // /StmF Identity (unencrypted streams in an encrypted file) is a
    // refuse-loudly case, not a half-read (same-length name patch)
    val ident = b.replace("/StmF /StdCF /StrF", "/StmF /StdCZ /StrF")
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(3L, ident.getBytes(ISO_8859_1))
    }.getMessage.contains("StdCZ"))
    // a flipped ciphertext byte: CBC decrypts to garbage and either
    // the PKCS#5 padding or the zlib adler32 fails — always loud
    val bf = PdfLite.buildEncrypted("corrupt me", flate = true,
      cfm = Some("AESV2"))
    val sAt = new String(bf, ISO_8859_1).indexOf("stream\n") + 7
    bf(sAt + 20) = (bf(sAt + 20) ^ 0x55).toByte
    intercept[IllegalArgumentException] { PdfLite.extract(4L, bf) }
    // a V4 dict mislabeled /V 5 /R 6 fails loudly in the R6 machinery
    // (its /CFM /AESV2 is not a /V 5 cipher)
    val v5 = b.replace("/V 4 /R 4", "/V 5 /R 6")
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(5L, v5.getBytes(ISO_8859_1))
    }.getMessage.contains("/V 5"))
  }

  test("pdf aes-256 (V5/R6): fences and corruption fail loudly") {
    val b = new String(
      PdfLite.buildEncrypted("v5 probe", flate = true, cfm = Some("AESV3")),
      ISO_8859_1)
    // a flipped byte in /U's validation-salt region changes the
    // Algorithm-2.B input: empty-password authentication fails loudly
    val uHex = "/U <([0-9a-f]+)>".r.findFirstMatchIn(b).get.group(1)
    assert(uHex.length == 96)
    val saltPos = 64 + 2 // first hex digit of the validation salt
    val flippedU = uHex.substring(0, saltPos) +
      (if (uHex.charAt(saltPos) == '0') '1' else '0') +
      uHex.substring(saltPos + 1)
    val bU = b.replace(s"/U <$uHex>", s"/U <$flippedU>")
    assert(bU != b && intercept[IllegalArgumentException] {
      PdfLite.extract(1L, bU.getBytes(ISO_8859_1))
    }.getMessage.contains("password"))
    // a flipped /UE byte unwraps a WRONG file key — the /Perms seal
    // catches it loudly before any stream is mis-decrypted
    val ueHex = "/UE <([0-9a-f]+)>".r.findFirstMatchIn(b).get.group(1)
    val flippedUe = (if (ueHex.charAt(0) == '0') "1" else "0") + ueHex.substring(1)
    val bUe = b.replace(s"/UE <$ueHex>", s"/UE <$flippedUe>")
    assert(bUe != b && intercept[IllegalArgumentException] {
      PdfLite.extract(2L, bUe.getBytes(ISO_8859_1))
    }.getMessage.contains("Perms"))
    // a tampered /P (same-length digit patch) disagrees with the
    // sealed /Perms record: loud
    val bp = b.replace("/P -44 ", "/P -45 ")
    assert(bp != b && intercept[IllegalArgumentException] {
      PdfLite.extract(3L, bp.getBytes(ISO_8859_1))
    }.getMessage.contains("/P"))
    // a flipped ciphertext byte: CBC garbage → padding or adler32
    // failure, never silent
    val bf = PdfLite.buildEncrypted("corrupt v5", flate = true,
      cfm = Some("AESV3"))
    val sAt = new String(bf, ISO_8859_1).indexOf("stream\n") + 7
    bf(sAt + 20) = (bf(sAt + 20) ^ 0x55).toByte
    intercept[IllegalArgumentException] { PdfLite.extract(4L, bf) }
  }

  test("pdf rc4 encryption: fences and corruption fail loudly") {
    val b = new String(PdfLite.buildEncrypted("fence probe"), ISO_8859_1)
    // a REAL (non-empty) user password: flipping a /U byte makes the
    // empty-password authentication fail — loud, never a garbage md5
    val uAt = b.indexOf("/U <") + 4
    val flipped = b.substring(0, uAt) +
      (if (b.charAt(uAt) == '0') '1' else '0') + b.substring(uAt + 1)
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(1L, flipped.getBytes(ISO_8859_1))
    }.getMessage.contains("password"))
    // the /ID is key material: corrupting it breaks authentication
    val idAt = b.indexOf("/ID [<") + 6
    val badId = b.substring(0, idAt) +
      (if (b.charAt(idAt) == '0') '1' else '0') + b.substring(idAt + 1)
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(2L, badId.getBytes(ISO_8859_1))
    }.getMessage.contains("password"))
    // AES generations are a loud fence (same-length patch: V 2 -> V 4)
    val aes = b.replace("/V 2 ", "/V 4 ")
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(3L, aes.getBytes(ISO_8859_1))
    }.getMessage.contains("/V 4"))
    // a non-Standard handler is loud (same-length name patch)
    val foreign = b.replace("/Filter /Standard", "/Filter /Standare")
    assert(intercept[IllegalArgumentException] {
      PdfLite.extract(4L, foreign.getBytes(ISO_8859_1))
    }.getMessage.contains("non-Standard"))
    // a flipped byte inside an encrypted flate stream decrypts to
    // garbage and the zlib adler32 fails loudly — corruption cannot
    // silently survive the decrypt layer
    val bf = PdfLite.buildEncrypted("corrupt me please", flate = true)
    val sAt = new String(bf, ISO_8859_1).indexOf("stream\n") + 7
    bf(sAt + 4) = (bf(sAt + 4) ^ 0x55).toByte
    intercept[IllegalArgumentException] { PdfLite.extract(5L, bf) }
    // wild-writer form: /O and /U as LITERAL strings with escapes must
    // parse to the same 32 bytes (re-encode our hex O/U as literals)
    def lit(hex: String): String = "(" + hex.grouped(2).map { h =>
      val v = Integer.parseInt(h, 16)
      f"\\${v}%03o" // octal-escape every byte: always legal
    }.mkString + ")"
    val oHex = "/O <([0-9a-f]+)>".r.findFirstMatchIn(b).get.group(1)
    val uHex = "/U <([0-9a-f]+)>".r.findFirstMatchIn(b).get.group(1)
    val asLit = b.replace(s"/O <$oHex>", s"/O ${lit(oHex)}")
      .replace(s"/U <$uHex>", s"/U ${lit(uHex)}")
    assert(asLit != b)
    // the literal form is longer than hex, which shifts the xref
    // TABLE (the dict is the last object); every object offset in the
    // table is still valid — only startxref needs the delta applied
    val delta = asLit.length - b.length
    val sxAt = asLit.lastIndexOf("\nstartxref\n")
    val numEnd = asLit.indexOf('\n', sxAt + 11)
    val fixed = asLit.substring(0, sxAt + 11) +
      (asLit.substring(sxAt + 11, numEnd).trim.toInt + delta) +
      asLit.substring(numEnd)
    val r = PdfLite.extract(6L, fixed.getBytes(ISO_8859_1))
    assert(r == PdfLite.extract(6L, PdfLite.build("fence probe")), r.toString)
  }

  test("pdf 1.5: whole-corpus mixed-generation query == plain query (sf0.001)") {
    val a = PdfLite.qPdfExtract(spark, sf0001).collect().toSeq
    val b = PdfLite.qPdfExtractXref15(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  // --- r15 review fixes -------------------------------------------------

  test("warc: framers reject urls with EOLs and real framing rejects negative ids") {
    val out = new java.io.ByteArrayOutputStream()
    // a CRLF inside a url would inject header lines — loud at write
    intercept[IllegalArgumentException] {
      WarcLite.frame(out, WarcLite.WarcRecord(1L,
        "https://x/a\r\nWARC-Type: warcinfo", "b".getBytes(UTF_8)))
    }
    intercept[IllegalArgumentException] {
      WarcLite.frameReal(out, WarcLite.WarcRecord(1L,
        "https://x/a\nInjected: yes", "b".getBytes(UTF_8)))
    }
    // a negative id can't survive the graft urn's \d+ — loud at write,
    // not a silent re-id through the foreign-surrogate hash
    intercept[IllegalArgumentException] {
      WarcLite.frameReal(out, WarcLite.WarcRecord(-5L, "https://x/a",
        "b".getBytes(UTF_8)))
    }
  }

  test("warc: readGz of a missing or container-less dir is loud; empty write leaves a dir") {
    val e = intercept[IllegalArgumentException] {
      WarcLite.readGz(spark, "/tmp/definitely-not-a-warc-dir-xyz")
    }
    assert(e.getMessage.contains("no .warc.gz containers"))
    // an all-empty-partition write still creates the directory (the
    // pre-seam java.io behavior restored by GraftFs.mkdirs)
    val dir = java.nio.file.Files.createTempDirectory("warc-empty").toString + "/sub"
    WarcLite.writeGz(spark.emptyDataset[WarcLite.WarcRecord], dir)
    assert(new java.io.File(dir).isDirectory)
  }

  test("bench: numeric JSON fields are locale-pinned (Locale.ROOT)") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // comma decimals
      assert(Bench.num(1234.5678, 3) == "1234.568")
      assert(Bench.num(0.0, 2) == "0.00")
      val ok = Bench.Load.Cpu(1000L, 600L, 10L)
      val ok2 = Bench.Load.Cpu(2000L, 1200L, 20L)
      val d = Bench.Load.deltaFields(ok, ok2)
      assert(d == """"busy_pct":40.0,"steal_pct":1.0""", d)
    } finally java.util.Locale.setDefault(prev)
  }

  test("bench: a per-query record parses under a comma-decimal locale") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val rec = Bench.recordJson(1234.5, 2, 3, 40, 1500L,
        Bench.Load.Cpu(1000L, 600L, 10L), Bench.Load.Cpu(2000L, 1200L, 20L))
      val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(rec)
      assert(j.get("construct_s").asDouble == 1234.5, rec)
      assert(j.get("construct_jobs").asInt == 2 && j.get("jobs").asInt == 3, rec)
      assert(j.get("tasks").asInt == 40, rec)
      assert(j.get("codegen_compiles").asLong == 1500L, rec)
      assert(j.get("busy_pct").asDouble == 40.0 && j.get("steal_pct").asDouble == 1.0, rec)
      assert(j.size == 7, rec)
    } finally java.util.Locale.setDefault(prev)
  }

  test("bench: the last stdout line fits in 300 chars and parses") {
    val line = Bench.totalsLine(12345.678, 341, 2, "/data/" + "nested/" * 40 + "sf0.1")
    assert(line.length < 300, line)
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(j.get("metric").asText == "bench_totals")
    assert(j.get("total").asDouble == 12345.678)
    assert(j.get("n_queries").asInt == 341 && j.get("n_failed").asInt == 2)
    assert(j.get("sf").asText == "sf0.1")
    assert(j.get("summary").asText == Bench.SummaryPath)
  }
}
