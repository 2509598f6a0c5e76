package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{PageRow, FetchMeta, RobotsRule}

/** Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1.1).
  *
  * Structure is controlled per-index by a pure function, so generation
  * scales out with spark.range — no driver-side loops. Includes, per the
  * fixture plan: a mega-host holding ~30% of pages (skew), redirect
  * chains, crawler traps, sitemaps, CSS with @import chains, JSON APIs,
  * image assets, robots-disallowed sections, and hosts that rate-limit
  * (429) or error (500) to exercise politeness penalties.
  */
object Corpus {

  final case class Spec(
      nPages: Long = 2000,
      nHosts: Int = 20,
      megaShare: Double = 0.3,
      seed: Long = 42L,
      bodyBytes: Int = 800 // approximate article body weight (real web ≈ 10-70 KB)
  ) {
    def megaPages: Long = (nPages * megaShare).toLong
    def tailPages: Long = nPages - megaPages
    def perTail: Long = math.max(1, tailPages / math.max(1, nHosts - 1))
  }

  def hostName(h: Int): String =
    if (h == 0) "mega.example.com"
    else if (h == 1) "flaky.example.net" // 429s
    else if (h == 2) "down.example.net" // 500s
    else s"host$h.example.org"

  /** Global page index → (host index, page index within host). */
  def locate(i: Long, spec: Spec): (Int, Long) = {
    if (i < spec.megaPages) (0, i)
    else {
      val r = i - spec.megaPages
      val h = 1 + (r % (spec.nHosts - 1)).toInt
      (h, r / (spec.nHosts - 1))
    }
  }

  def urlOf(h: Int, j: Long): String = {
    val host = hostName(h)
    if (j == 0) s"http://$host/"
    else s"http://$host/p/$j"
  }

  sealed trait PageKind
  case object Home extends PageKind
  case object Article extends PageKind
  case object RedirectPage extends PageKind
  case object CssPage extends PageKind
  case object JsonPage extends PageKind
  case object ImagePage extends PageKind
  case object SitemapPage extends PageKind
  case object PrivatePage extends PageKind

  def kindOf(h: Int, j: Long): PageKind =
    if (j == 0) Home
    else if (j == 1) SitemapPage
    else if (j % 17 == 3) RedirectPage
    else if (j % 23 == 5) CssPage
    else if (j % 19 == 7) JsonPage
    else if (j % 29 == 11) ImagePage
    else if (j % 31 == 13) PrivatePage
    else Article

  /** URL actually used for special families (stable paths). */
  def pageUrl(h: Int, j: Long): String = {
    val host = hostName(h)
    kindOf(h, j) match {
      case Home => s"http://$host/"
      case SitemapPage => s"http://$host/sitemap.xml"
      case RedirectPage => s"http://$host/r/$j"
      case CssPage => s"http://$host/static/s$j.css"
      case JsonPage => s"http://$host/api/$j.json"
      case ImagePage => s"http://$host/img/$j.png"
      case PrivatePage => s"http://$host/private/$j"
      case Article => s"http://$host/p/$j"
    }
  }

  private def mix(spec: Spec, i: Long, salt: Long): Long = {
    var x = spec.seed ^ (i * 0x9e3779b97f4a7c15L) ^ (salt * 0xbf58476d1ce4e5b9L)
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Pure page synthesis for global index i. */
  def pageFor(i: Long, spec: Spec): (PageRow, FetchMeta) = {
    val (h, j) = locate(i, spec)
    val host = hostName(h)
    val url = pageUrl(h, j)
    val kind = kindOf(h, j)
    val ts = new java.sql.Timestamp(1700000000000L + i * 1000L)

    def linkTo(dh: Int, dj: Long): String = {
      val t = pageUrl(dh, dj)
      t
    }
    // deterministic neighbors within host + a couple of cross-host links
    val within = spec match { case s => if (h == 0) s.megaPages else s.perTail }
    def nj(salt: Long): Long = math.abs(mix(spec, i, salt)) % math.max(1, within)
    val crossH = 1 + (math.abs(mix(spec, i, 77)) % (spec.nHosts - 1)).toInt

    val (html, text, status, ct, location): (String, String, Int, String, String) = kind match {
      case Home =>
        val links = (1L to 6L).map(s => s"""<a href="${linkTo(h, nj(s))}">l$s</a>""").mkString("\n")
        val body =
          s"""<html><head><title>$host home</title>
             |<link rel="stylesheet" href="/static/s5.css"></head>
             |<body><h1>Welcome to $host</h1>
             |$links
             |<a href="/sitemap.xml">sitemap</a>
             |<a href="${linkTo(crossH, 0)}">partner</a>
             |<img src="/img/11.png">
             |<p>Contact http://${hostName(crossH)}/p/2 for details.</p>
             |</body></html>""".stripMargin
        (body, s"Welcome to $host. Contact http://${hostName(crossH)}/p/2 for details.",
          200, "text/html", "")
      case Article =>
        val next = linkTo(h, (j + 1) % math.max(1, within))
        val prev = linkTo(h, nj(13))
        val cross = linkTo(crossH, nj(17))
        val trap = s"http://$host/t/a/b/a/b/a/b/a/b/x"
        // filler paragraphs: realistic page weight so extraction cost per
        // row resembles real web pages; a few contain plain-text URLs (E15)
        val filler = {
          val sb = new StringBuilder
          var p = 0
          while (sb.length < spec.bodyBytes) {
            val w = math.abs(mix(spec, i, 1000 + p))
            sb.append(s"<p>Paragraph $p of article $j discusses topic ${w % 97} ")
              .append("with considerable detail and several sentences of prose that ")
              .append(s"resemble the shape of real web text, token${w % 1013} ")
            if (p % 7 == 3)
              sb.append(s"citing http://${hostName(((w % (spec.nHosts - 1)) + 1).toInt)}/p/${(w >>> 8) % 50} inline ")
            sb.append("before wrapping up the thought.</p>\n")
            p += 1
          }
          sb.toString
        }
        val body =
          s"""<html><head><meta charset="utf-8"></head><body>
             |<h2>Article $j on $host</h2>
             |<a href="$next">next</a> <a href="$prev">related</a>
             |<a href="$cross">cross</a>
             |<a href="$trap">archive</a>
             |<a href="javascript:void(0)">menu</a>
             |<img src="/img/${(j % 29) / 29 * 29 + 11}.png" data-src="/img/40.png">
             |<p>Article body $j. See also http://${hostName(crossH)}/ and mailto:x@$host.</p>
             |$filler
             |</body></html>""".stripMargin
        (body, s"Article $j on $host. See also http://${hostName(crossH)}/ plain text.",
          if (h == 1 && j % 5 == 2) 429
          else if (h == 2 && j % 3 == 1) 500
          else if ((h == 3 || h == 4) && j % 5 == 2) 403 // challenge pages
          else 200,
          "text/html", "")
      case RedirectPage =>
        ("", "", 301, "text/html", linkTo(h, (j + 1) % math.max(1, within)))
      case CssPage =>
        val imp = if (j % 2 == 0) s"""@import "/static/s${(j + 23) % math.max(1, within)}.css";""" else ""
        val body =
          s"""$imp
             |body { background: url("/img/${j % 50}.png"); }
             |.h { background-image: url('http://$host/img/banner$j.jpg'); }""".stripMargin
        (body, "", 200, "text/css", "")
      case JsonPage =>
        val body =
          s"""{"id": $j, "host": "$host",
             |"asset": "http://$host/img/data$j.png",
             |"next": "${linkTo(h, nj(23))}"}""".stripMargin
        (body, "", 200, "application/json", "")
      case ImagePage =>
        ("PNG-fake-bytes-" + j, "", 200, "image/png", "")
      case SitemapPage =>
        val urls = (0L until math.min(10, within)).map(x =>
          s"  <url><loc>${linkTo(h, x)}</loc></url>").mkString("\n")
        val body =
          s"""<?xml version="1.0" encoding="UTF-8"?>
             |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
             |$urls
             |</urlset>""".stripMargin
        (body, "", 200, "application/xml", "")
      case PrivatePage =>
        (s"""<html><body><a href="${linkTo(h, nj(31))}">leak</a></body></html>""",
          s"private $j", 200, "text/html", "")
    }

    val linkHeader =
      if (kind == JsonPage && j % 2 == 1) s"""<${linkTo(h, nj(41))}>; rel="next"""" else ""
    // challenge hosts: host3 serves Cloudflare challenge pages (403 +
    // cf-mitigated: challenge), host4 Akamai ones (403 + Server:
    // AkamaiGHost) — the discard hook chain must drop them unextracted
    val (server, cfMitigated) =
      if (kind == Article && j % 5 == 2 && h == 3) ("cloudflare", "challenge")
      else if (kind == Article && j % 5 == 2 && h == 4) ("AkamaiGHost", "")
      else ("", "")
    val page = PageRow(url, ts,
      html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      text, if (i % 7 == 0) "de" else "en")
    val meta = FetchMeta(url, status, ct, server, linkHeader, location, cfMitigated)
    (page, meta)
  }

  /** Robots rules: odd-indexed hosts disallow /private/; every 4th-indexed
    * host additionally carves back /private/1… with a LONGER allow rule,
    * so longest-prefix-wins (with allow beating disallow on ties) is
    * exercised by real overlapping rules, not just single-prefix matches.
    */
  def robots(spec: Spec): Seq[RobotsRule] =
    (0 until spec.nHosts).filter(_ % 2 == 1).flatMap { h =>
      RobotsRule(hostName(h), "/private/", allow = false) +:
        (if (h % 4 == 1) Seq(RobotsRule(hostName(h), "/private/1", allow = true))
         else Nil)
    }

  def robotsMap(spec: Spec): Map[String, Seq[(String, Boolean)]] =
    robots(spec).groupBy(_.host).map { case (h, rs) =>
      h -> rs.map(r => (r.path_prefix, r.allow))
    }

  /** Generate and write pages + fetch_meta + robots parquet under dir,
    * plus the pre-merged `web` table (pages ⋈ fetch_meta on url) that the
    * crawl loop fetches against — merged once at ingest so each wave
    * shuffles the corpus zero times.
    */
  def write(spark: SparkSession, dir: String, spec: Spec): Unit = {
    import spark.implicits._
    val specB = spark.sparkContext.broadcast(spec)
    val both = spark.range(spec.nPages).map { i => pageFor(i, specB.value) }
    both.map(_._1).write.mode("overwrite").parquet(s"$dir/pages")
    both.map(_._2).write.mode("overwrite").parquet(s"$dir/fetch_meta")
    robots(spec).toDS().write.mode("overwrite").parquet(s"$dir/robots")
    val web = both.map { case (p, m) =>
      (p.url, p.warc_ts, p.html, p.text, p.lang,
        m.status_code, m.content_type, m.server, m.link_header, m.location,
        m.cf_mitigated)
    }.toDF("url", "warc_ts", "html", "text", "lang",
        "status_code", "content_type", "server", "link_header", "location",
        "cf_mitigated")
    writeWeb(spark, dir, web)
  }

  /** Write `web` as the crawl loop's fetch corpus under `dir`: the
    * hash-bucketed layout on the fetch-join key (≙ an Iceberg
    * bucket(N, url) partition transform), so the per-wave fetch join
    * co-locates by exchanging only the SMALL claimed side — no
    * driver-serial broadcast build, still zero corpus shuffle. The
    * pre-repartition uses the same HashPartitioning as bucketBy, so each
    * task writes exactly its own bucket (numBuckets files total). The
    * bucket count follows the row count ([[webBuckets]]).
    */
  def writeWeb(spark: SparkSession, dir: String, web: DataFrame): Unit = {
    val buckets = webBuckets(web.count())
    val tbl = tableNameFor(dir)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    web.repartition(buckets, col("url"))
      .write.mode("overwrite")
      .bucketBy(buckets, "url")
      .option("path", s"$dir/web")
      .saveAsTable(tbl)
    // sidecar so other sessions/JVMs can re-register the bucket spec
    // (≙ the table metadata a shared catalog would hold on a cluster);
    // serialized with Jackson so any future column name/type is escaped
    // correctly (hand-built interpolation only handled double-quotes)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("numBuckets", buckets)
    node.put("schema", web.schema.toDDL)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/web_bucketspec.json"),
      mapper.writeValueAsBytes(node))
  }

  /** Bucket count for a web table of `rows` pages: enough for full scan
    * parallelism at sandbox scale; at 100 TB the same layout uses
    * thousands of buckets.
    */
  def webBuckets(rows: Long): Int =
    math.min(512, math.max(32, (rows / 20000L).toInt))

  /** Catalog table name for a corpus dir: full-width SHA-1 of the absolute
    * path, so distinct dirs can never collide (Int.hashCode could — and
    * abs(Int.MinValue) is negative, an invalid identifier).
    */
  def tableNameFor(dir: String): String = {
    val abs = java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(abs.getBytes("UTF-8"))
    "zeno_web_" + sha.map(b => f"$b%02x").mkString
  }

  def pages(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/pages")
  def fetchMeta(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/fetch_meta")
}
