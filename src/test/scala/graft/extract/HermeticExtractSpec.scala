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
  */
class HermeticExtractSpec extends AnyFunSuite {

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
