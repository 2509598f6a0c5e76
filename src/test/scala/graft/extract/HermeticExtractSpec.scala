package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Extractor fixtures built inside the test, covering the code paths of
  * the reference-fixture specs (CharsetSpec, XmlExtractSpec,
  * UpstreamGoldensSpec) without the Zeno checkout. Every expectation
  * follows from the format specs, not from a run of the extractor:
  *  - GBK: the HTML encoding sniffing order (a Content-Type charset is
  *    certain, a <meta charset> prescan tentative), and the URL spec's
  *    query percent-encoding in the document's encoding. The GBK bytes of
  *    世界 and 再见 are CA C0 BD E7 and D4 D9 BC FB.
  *  - RSS 2.0: element text and attribute values that start with "http"
  *    are links; those whose last path segment has an extension are
  *    assets, the rest outlinks, each in document order.
  *  - CSS: url() values are links; @import targets count only before the
  *    first style rule (CSS Cascade §6.1), and a quoted string outside
  *    url() is no link.
  *  - PDF (ISO 32000-1): a Link annotation's URI action holds its target
  *    as a string; a literal string escapes parens as \( \), needs no
  *    escape for balanced ones and writes \ddd for an octal byte
  *    (§7.3.4.2); a hex string is two hex digits per byte, whitespace
  *    ignored (§7.3.4.3). A file ends with startxref and %%EOF (§7.5.5).
  */
class HermeticExtractSpec extends AnyFunSuite {
  private val ISO = java.nio.charset.StandardCharsets.ISO_8859_1

  /** A one-page PDF 1.5 file whose Link annotations, one per URI string
    * in `uriStrings`, sit in a FlateDecode object stream (§7.5.7) indexed
    * by a cross-reference stream (§7.5.8).
    */
  private def linkPdf(uriStrings: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    def put(s: String): Unit = out.write(s.getBytes(ISO))
    def obj(n: Int, body: String): Unit = { offsets(n) = out.size; put(s"$n 0 obj\n$body\nendobj\n") }
    def streamObj(n: Int, dict: String, data: Array[Byte]): Unit = {
      offsets(n) = out.size
      put(s"$n 0 obj\n<< $dict /Length ${data.length} >>\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
    }
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b)
      d.finish()
      val acc = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) acc.write(buf, 0, d.deflate(buf))
      d.end()
      acc.toByteArray
    }
    // 1 catalog, 2 page tree, 3 page, 4 object stream, 5.. annotations,
    // then the cross-reference stream
    val annots = uriStrings.indices.map(5 + _)
    put("%PDF-1.7\n%\u00e2\u00e3\u00cf\u00d3\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Annots [" +
      annots.map(n => s"$n 0 R").mkString(" ") + "] >>")
    val bodies = uriStrings.map(u =>
      s"<< /Type /Annot /Subtype /Link /Rect [72 700 300 720] /A << /S /URI /URI $u >> >>\n")
    val header = annots.zip(bodies.scanLeft(0)(_ + _.length))
      .map { case (n, at) => s"$n $at" }.mkString("", " ", "\n")
    streamObj(4, s"/Type /ObjStm /N ${annots.size} /First ${header.length} /Filter /FlateDecode",
      deflate((header + bodies.mkString).getBytes(ISO)))
    val xref = 5 + annots.size
    val xrefAt = out.size
    // /W [1 4 2]: entry type, then offset or object-stream number, then
    // generation or index within the object stream
    val rows = Seq((0, 0, 65535)) ++ (1 to 4).map(n => (1, offsets(n), 0)) ++
      annots.indices.map(i => (2, 4, i)) :+ ((1, xrefAt, 0))
    val entries = rows.flatMap { case (t, f2, f3) =>
      Seq(t, f2 >>> 24, f2 >>> 16, f2 >>> 8, f2, f3 >>> 8, f3).map(_.toByte) }
    streamObj(xref, s"/Type /XRef /Size ${xref + 1} /W [1 4 2] /Root 1 0 R", entries.toArray)
    put(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  test("PDF: /URI literal and hex strings inside a FlateDecode object stream") {
    val uris = Seq("https://example.com/a(1).html", "https://example.org/b?q=1&r=2",
      "https://example.net/c/(y)/~z")
    val hex = uris(1).getBytes(ISO).map(b => f"$b%02x").grouped(8).map(_.mkString).mkString("\n")
    assert(hex.startsWith("68747470733a2f2f")) // "https://"
    val pdf = linkPdf(Seq(
      """(https://example.com/a\(1\).html)""",
      s"<$hex>",
      """(https://example.net/c/(y)/\176z)"""))
    assert(!new String(pdf, ISO).contains("/URI"), "every URI is behind the Flate filter")
    assert(Pdf.outlinks(pdf) == Right(uris))
    val r = Extract.page(PageInput("https://example.com/doc.pdf", "application/pdf", bodyBytes = pdf))
    assert(r.outlinks == uris, r)

    // the same file without its %%EOF marker is corrupt
    val eof = "%%EOF\n".getBytes(ISO)
    assert(pdf.endsWith(eof))
    val truncated = pdf.dropRight(eof.length)
    assert(Pdf.outlinks(truncated).isLeft)
    assert(Extract.page(PageInput("https://example.com/doc.pdf", "application/pdf",
      bodyBytes = truncated)).outlinks.isEmpty)
  }

  test("GBK page: charset detection and query re-encoded in GBK, path kept") {
    val gbkQuery = "%CA%C0%BD%E7=%D4%D9%BC%FB"
    assert("世界".getBytes("GBK").map(b => f"%%${b & 0xff}%02X").mkString == "%CA%C0%BD%E7")
    val body = """<a href="/1111你好?世界=再见">x</a><img src="/img/你好.png?世界=再见">"""
    val plain = s"<html><head><title>你好</title></head><body>$body</body></html>"
    val meta = s"""<html><head><meta charset="gbk"><title>你好</title></head><body>$body</body></html>"""

    assert(Charsets.detect(plain.getBytes("GBK"), "text/html; charset=gbk") == ("gbk", true))
    assert(Charsets.detect(meta.getBytes("GBK"), "text/html") == ("gbk", false))

    for ((html, ct) <- Seq(plain -> "text/html; charset=gbk", meta -> "text/html")) {
      val r = Extract.page(PageInput("http://ex.com/raw", ct, bodyBytes = html.getBytes("GBK")))
      assert(r.outlinks.size == 1 && r.assets.size == 1, r)
      val Seq(out) = r.outlinks
      val Seq(img) = r.assets
      assert(out.endsWith(s"/1111你好?$gbkQuery"), out)
      assert(img.endsWith(s"/img/你好.png?$gbkQuery"), img)
    }
  }

  test("RSS 2.0 feed: link, guid and enclosure URLs") {
    val feed =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<rss version="2.0">
        |<channel>
        |  <title>Example feed</title>
        |  <link>https://example.com/</link>
        |  <description>Read more at https://example.com/about today</description>
        |  <item>
        |    <title>First post</title>
        |    <link>https://example.com/posts/first</link>
        |    <guid isPermaLink="false">https://example.com/?p=1</guid>
        |    <enclosure url="https://cdn.example.com/audio/ep1.mp3" length="1024" type="audio/mpeg"/>
        |  </item>
        |  <item>
        |    <title>Second post</title>
        |    <link>https://example.com/posts/second</link>
        |    <guid>https://example.com/?p=2</guid>
        |    <enclosure url="https://cdn.example.com/img/cover.jpg" length="2048" type="image/jpeg"/>
        |  </item>
        |</channel>
        |</rss>""".stripMargin
    val r = Extract.page(PageInput("https://example.com/feed", "application/rss+xml",
      bodyBytes = feed.getBytes("UTF-8")))
    assert(r.outlinks == Seq(
      "https://example.com/", "https://example.com/about",
      "https://example.com/posts/first", "https://example.com/?p=1",
      "https://example.com/posts/second", "https://example.com/?p=2"))
    assert(r.assets == Seq(
      "https://cdn.example.com/audio/ep1.mp3", "https://cdn.example.com/img/cover.jpg"))
  }

  test("CSS file: url() links and @import targets") {
    val css =
      """@charset "utf-8";
        |@import url("base.css");
        |@import 'print.css' print;
        |@import url(https://fonts.example.com/css?family=Roboto) screen;
        |body { background: url(img/bg.png) no-repeat; }
        |@font-face {
        |  font-family: "X";
        |  src: url("fonts/x.woff2") format("woff2"), url('fonts/x.woff') format("woff");
        |}
        |@import url("late.css");
        |.logo:after { content: "url(not-a-link.png)"; }
        |""".stripMargin
    val links = Seq("img/bg.png", "fonts/x.woff2", "fonts/x.woff")
    val imports = Seq("base.css", "print.css", "https://fonts.example.com/css?family=Roboto")
    assert(Css.extract(css, inline = false) == (links, imports))
    val r = Extract.page(PageInput("https://example.com/static/site.css", "text/css",
      bodyBytes = css.getBytes("UTF-8")))
    assert(r.assets == links && r.atImports == imports, r)
  }
}
