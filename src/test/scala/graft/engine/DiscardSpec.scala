package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.loop.CrawlLoop
import graft.model.FetchMeta

/** Discard hook chain semantics (archiver/discard/discard.go:30-38 and the
  * cloudflare204 e2e scenario): challenge pages (Cloudflare 403 +
  * cf-mitigated: challenge, Akamai 403 + Server: AkamaiGHost) are
  * DISCARDED — counted, never extracted, and fed into the per-host
  * failure adjustment like rate-limit statuses (archiver.go:114-118);
  * --warc-discard-status and --max-content-length discards are flag-gated
  * and do NOT penalize the host.
  */
class DiscardSpec extends AnyFunSuite {
  import EngineSpec._

  /** Corpus writer with full FetchMeta control (server / cf_mitigated). */
  private def writeCorpusFull(dir: String,
                              rows: Seq[(String, String, FetchMeta)]): Unit =
    writeWeb(dir, rows.map { case (u, html, _) => (u, html) }, rows.map(_._3))
  private def html(links: String*): String =
    "<html><body>" + links.map(l => s"""<a href="$l">x</a>""").mkString + "</body></html>"
  private def meta(u: String, status: Int = 200, server: String = "",
                   cf: String = ""): FetchMeta =
    FetchMeta(u, status, "text/html", server, "", "", cf)

  test("cloudflare challenge page: DISCARDED, unextracted, host penalized") {
    val corpus = tmpDir("corpus")
    writeCorpusFull(corpus, Seq(
      ("http://a.com/", html("http://cf.com/c", "http://a.com/ok"),
        meta("http://a.com/")),
      ("http://cf.com/c", html("http://cf.com/leak"),
        meta("http://cf.com/c", 403, "cloudflare", "challenge")),
      ("http://a.com/ok", html(), meta("http://a.com/ok"))))
    val loop = new CrawlLoop(spark, testConf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    val counters = loop.run(4)
    assert(counters.map(_.discarded).sum == 1, s"one challenge discard: $counters")
    assert(counters.map(_.failed).sum == 0, "challenge 403 is DISCARDED, not FAILED")
    // the challenge page's links must never have been extracted
    val allSeen = loop.seen.count()
    assert(!loop.frontier.select("url_canon").collect()
      .exists(_.getString(0).contains("leak")), "discarded body never extracted")
    assert(allSeen == 3, "a.com/, cf.com/c, a.com/ok processed; leak never discovered")
    // challenge discards feed AdjustOnFailure like 429s (archiver.go:114-121)
    val hs = loop.hostState.filter(col("host") === "cf.com").collect()
    assert(hs.length == 1 && hs(0).getAs[Int]("failure_count") >= 1,
      "challenge host carries a failure adjustment")
  }

  test("akamai challenge page (403 + Server: AkamaiGHost) is DISCARDED") {
    val corpus = tmpDir("corpus")
    writeCorpusFull(corpus, Seq(
      ("http://ak.com/x", html("http://ak.com/leak"),
        meta("http://ak.com/x", 403, "AkamaiGHost"))))
    val loop = new CrawlLoop(spark, testConf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://ak.com/x"))
    val counters = loop.run(2)
    assert(counters.map(_.discarded).sum == 1)
    assert(loop.frontier.count() == 0)
  }

  test("plain 403 (no challenge header) stays FAILED, not DISCARDED") {
    val corpus = tmpDir("corpus")
    writeCorpusFull(corpus, Seq(
      ("http://a.com/f", html(), meta("http://a.com/f", 403))))
    val loop = new CrawlLoop(spark, testConf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/f"))
    val counters = loop.run(2)
    assert(counters.map(_.failed).sum == 1)
    assert(counters.map(_.discarded).sum == 0)
  }

  test("cloudflare204 twin: a 204 is archived by default, discarded only under --warc-discard-status") {
    val corpus = tmpDir("corpus")
    writeCorpusFull(corpus, Seq(
      ("http://cp.cloudflare.com/", "", meta("http://cp.cloudflare.com/", 204))))
    def run(conf: graft.conf.ZenoConf) = {
      val loop = new CrawlLoop(spark, conf, tmpDir("store"), corpus, Map.empty)
      loop.init(Seq("http://cp.cloudflare.com/"))
      loop.run(2)
    }
    val archived = run(testConf)
    assert(archived.map(_.fetched).sum == 1 && archived.map(_.discarded).sum == 0,
      "204 archived (e2e/test/cloudflare204)")
    val discarded = run(testConf.copy(warcDiscardStatus = Seq(204)))
    assert(discarded.map(_.fetched).sum == 0 && discarded.map(_.discarded).sum == 1,
      "204 discarded when listed in --warc-discard-status")
  }

  test("content-length discard: over-budget 200 body is dropped unextracted, host unpenalized") {
    val corpus = tmpDir("corpus")
    val big = "<html><body>" + ("x" * (1024 * 1024)) +
      """<a href="http://a.com/leak">l</a></body></html>"""
    writeCorpusFull(corpus, Seq(("http://a.com/big", big, meta("http://a.com/big"))))
    val conf = testConf.copy(maxContentLengthMiB = 1)
    val loop = new CrawlLoop(spark, conf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/big"))
    val counters = loop.run(2)
    assert(counters.map(_.discarded).sum == 1)
    assert(loop.frontier.count() == 0, "over-length body never extracted")
    // non-challenge discard: no failure adjustment (archiver.go:114 only
    // covers bad statuses + challenge pages)
    val hs = loop.hostState.filter(col("host") === "a.com").collect()
    assert(hs.forall(_.getAs[Int]("failure_count") == 0))
  }

  test("a corpus without the cf_mitigated column is rejected, naming the column") {
    val corpus = tmpDir("corpus")
    graft.gen.Corpus.writeWeb(spark, corpus, spark.range(1)
      .select(lit("http://a.com/").as("url"), lit(200).as("status_code")))
    val e = intercept[IllegalArgumentException](
      new CrawlLoop(spark, testConf, tmpDir("store"), corpus, Map.empty))
    assert(e.getMessage.contains("cf_mitigated"), e.getMessage)
  }
}
