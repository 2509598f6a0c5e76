package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.conf.ZenoConf
import graft.gen.Corpus
import graft.loop.CrawlLoop
import graft.model.{PageRow, FetchMeta}

object EngineSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("zenospark-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // hold a full crawl wave's ~113 codegen units (STATIC conf; the
    // 100-entry default LRU defeats cross-wave class reuse — see
    // spark/LongParam and CodegenStabilitySpec)
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Hand-built corpus: (url, html, contentType, status, location). */
  def writeCorpus(dir: String,
                  pages: Seq[(String, String, String, Int, String)]): Unit =
    writeWeb(dir, pages.map { case (u, html, _, _, _) => (u, html) },
      pages.map { case (u, _, ct, status, loc) => FetchMeta(u, status, ct, "", "", loc) })

  /** Url-bucketed corpus (Corpus.writeWeb) of page bodies ⟗ fetch metadata
    * on url.
    */
  def writeWeb(dir: String, bodies: Seq[(String, String)], meta: Seq[FetchMeta]): Unit = {
    val s = spark
    import s.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    val pagesDf = bodies.map { case (u, html) =>
      PageRow(u, ts, html.getBytes("UTF-8"), "", "en")
    }.toDS().toDF()
    Corpus.writeWeb(spark, dir, pagesDf.join(meta.toDS().toDF(), Seq("url"), "full_outer"))
  }

  def page(u: String, links: Seq[String]): (String, String, String, Int, String) = {
    val html = "<html><body>" +
      links.map(l => s"""<a href="$l">x</a>""").mkString + "</body></html>"
    (u, html, "text/html", 200, "")
  }
  def redirect(u: String, to: String): (String, String, String, Int, String) =
    (u, "", "text/html", 301, to)

  val testConf: ZenoConf = ZenoConf(maxHops = 5, disableAssetsCapture = true)
}

/** Conformance with the reference order model (north_rule): wave-by-wave
  * claimed sets under (hops ASC, ts ASC) order + per-host politeness
  * budget; URL-seen set equality; resume-from-snapshot equivalence.
  */
class EngineSpec extends AnyFunSuite {
  import EngineSpec._

  private def claimedUrls(loop: CrawlLoop, wave: Int): Set[String] = {
    val snap = loop.store.latest.get
    spark.read.parquet(s"${loop.store.workDir}/data/w${"%05d".format(wave)}-log")
      .filter(org.apache.spark.sql.functions.col("row_type") === "claimed")
      .select("url_canon").collect().map(_.getString(0)).toSet
  }

  test("crawl ordering: hops-first BFS with per-host budget") {
    // host a.com has 4 pages; budget 2/wave → claims 2 per wave in hop order
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(
      page("http://a.com/", Seq("/1", "/2", "/3")),
      page("http://a.com/1", Seq("/4")),
      page("http://a.com/2", Nil),
      page("http://a.com/3", Nil),
      page("http://a.com/4", Nil)))
    val conf = testConf.copy(rateLimitRefillRate = 2.0, wavePeriodSeconds = 1.0) // budget 2
    val loop = new CrawlLoop(spark, conf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    val counters = loop.run(10)
    // wave 1: only the seed (hops 0). wave 2: two of /1 /2 /3 (hops 1, budget 2)
    assert(claimedUrls(loop, 1) == Set("http://a.com/"))
    assert(claimedUrls(loop, 2) == Set("http://a.com/1", "http://a.com/2"))
    // wave 3: /3 (remaining hops-1) + /4 (hops 2, enqueued wave 2)
    assert(claimedUrls(loop, 3) == Set("http://a.com/3", "http://a.com/4"))
    assert(counters.map(_.claimed).sum == 5)
    assert(counters.map(_.failed).sum == 0)
  }

  test("facebook post page synthesizes the embed child (E18, flag-gated)") {
    val post = "https://www.facebook.com/zuck/posts/101"
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(page(post, Nil)))
    def wave2Claims(fb: Boolean): Set[String] = {
      val loop = new CrawlLoop(spark, testConf.copy(facebookEmbeds = fb),
        tmpDir(s"store-fb-$fb"), corpus, Map.empty)
      loop.init(Seq(post))
      loop.run(2)
      if (loop.store.latest.exists(_.wave >= 2)) claimedUrls(loop, 2) else Set.empty
    }
    val withEmbed = wave2Claims(fb = true)
    assert(withEmbed.exists(u => u.contains("/plugins/post.php") &&
      u.contains("href=https%3A%2F%2Fwww.facebook.com%2Fzuck%2Fposts%2F101")),
      s"embed child expected in wave 2, got $withEmbed")
    assert(!wave2Claims(fb = false).exists(_.contains("/plugins/post.php")),
      "default (reference parity): no embed synthesis")
  }

  test("seen-set equality and single-fetch per URL") {
    // /shared linked from both seeds; must be fetched exactly once
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(
      page("http://a.com/", Seq("http://c.com/shared")),
      page("http://b.com/", Seq("http://c.com/shared")),
      page("http://c.com/shared", Nil)))
    val loop = new CrawlLoop(spark, testConf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/", "http://b.com/"))
    val counters = loop.run(10)
    val fetchedTotal = counters.map(_.fetched).sum
    assert(fetchedTotal == 3, s"each URL fetched once: $counters")
    // seen contains exactly the 3 processed urls
    val seenHashes = loop.seen.select("url_hash").collect().map(_.getLong(0)).toSet
    val expected = Set("http://a.com/", "http://b.com/", "http://c.com/shared")
      .map(graft.canon.Canon.fnv64a)
    assert(seenHashes == expected)
  }

  test("redirect synthesis follows 3xx chains with cap") {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(
      redirect("http://a.com/", "http://a.com/v2"),
      redirect("http://a.com/v2", "http://a.com/v3"),
      page("http://a.com/v3", Nil)))
    val loop = new CrawlLoop(spark, testConf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    val counters = loop.run(10)
    assert(counters.map(_.claimed).sum == 3)
    val seen = loop.seen.count()
    assert(seen == 3)
  }

  test("robots rules exclude disallowed prefixes") {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(
      page("http://a.com/", Seq("/private/x", "/public/y")),
      page("http://a.com/private/x", Nil),
      page("http://a.com/public/y", Nil)))
    val robots = Map("a.com" -> Seq(("/private/", false)))
    val loop = new CrawlLoop(spark, testConf, tmpDir("store"), corpus, robots)
    loop.init(Seq("http://a.com/"))
    val counters = loop.run(10)
    val claimed = (1 to counters.length).flatMap(w => claimedUrls(loop, w)).toSet
    assert(claimed == Set("http://a.com/", "http://a.com/public/y"))
    assert(counters.map(_.excluded).sum >= 1)
  }

  test("politeness penalty pauses 429 hosts") {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(
      page("http://a.com/", Seq("http://slow.com/1", "http://a.com/2")),
      (s"http://slow.com/1", "", "text/html", 429, ""),
      page("http://a.com/2", Nil)))
    val conf = testConf.copy(wavePeriodSeconds = 1.0)
    val loop = new CrawlLoop(spark, conf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    loop.run(3)
    val hs = loop.hostState.filter(col("host") === "slow.com").collect()
    assert(hs.length == 1)
    assert(hs(0).getAs[Long]("penalty_until") > 0, "429 host must carry a penalty")
    assert(hs(0).getAs[Int]("failure_count") == 1)
  }

  test("resume from snapshot equals uninterrupted run") {
    val corpus = tmpDir("corpus")
    val pages = (0 until 12).map { i =>
      page(s"http://h${i % 3}.com/p$i",
        Seq(s"http://h${(i + 1) % 3}.com/p${(i + 1) % 12}", s"/p${(i + 5) % 12}"))
    }
    writeCorpus(corpus, pages)
    val seeds = Seq("http://h0.com/p0")

    // uninterrupted: 4 waves
    val loopA = new CrawlLoop(spark, testConf, tmpDir("storeA"), corpus, Map.empty)
    loopA.init(seeds)
    loopA.run(4)

    // interrupted: 2 waves, reopen, 2 more
    val storeB = tmpDir("storeB")
    val loopB1 = new CrawlLoop(spark, testConf, storeB, corpus, Map.empty)
    loopB1.init(seeds)
    loopB1.run(2)
    val loopB2 = new CrawlLoop(spark, testConf, storeB, corpus, Map.empty)
    loopB2.init(seeds) // no-op on resume
    loopB2.run(2)

    def state(l: CrawlLoop) = (
      l.frontier.select("url_canon").collect().map(_.getString(0)).toSet,
      l.seen.select("url_hash").collect().map(_.getLong(0)).toSet)
    assert(state(loopA) == state(loopB2), "resumed crawl must equal uninterrupted crawl")
  }

  test("bloom seen-filter: no false negatives across base and delta layers") {
    val corpus = tmpDir("corpus")
    val pages = (0 until 20).map { i =>
      page(s"http://h${i % 4}.com/p$i",
        Seq(s"http://h${(i + 1) % 4}.com/p${(i + 3) % 20}", s"/p${(i + 7) % 20}"))
    }
    writeCorpus(corpus, pages)
    val seeds = Seq("http://h0.com/p0", "http://h1.com/p1")
    val loop = new CrawlLoop(spark, testConf.copy(bloomExpectedPerShard = 1000),
      tmpDir("store-bloom"), corpus, Map.empty)
    loop.init(seeds)
    val cs = loop.run(5)
    // page p_i lives on h(i mod 4), so none of the four links of p0/p1
    // (h1/p3, h0/p7, h2/p4, h1/p8) is in the corpus: wave 1 fetches both
    // seeds and queues 4 URLs (each absolute link is found twice, by the
    // <a> scan and the text scan: 2 deduped), wave 2 claims them and
    // every fetch fails
    assert(cs.map(c => (c.claimed, c.fetched, c.deduped, c.queued)) ==
      Seq((2, 2, 2, 4), (4, 0, 0, 0)))
    assert(loop.frontier.count() == 0)

    val s = loop.store.latest.get
    val seen = loop.seen
    val seenKeys = seen.select("url_hash", "host_bucket").distinct()
    val n = seenKeys.count()
    assert(n == 6 && s.bloom.length == 2, s"6 seen URLs over 2 delta layers: $s")
    val unseenKeys = spark.createDataFrame((0L until n).map(i =>
      (graft.canon.Canon.fnv64a(s"http://h${i % 4}.com/unseen$i"), (i % 4).toInt)))
      .toDF("url_hash", "host_bucket")
    val keys = seenKeys.unionByName(unseenKeys)
    def hits(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val exact = hits(graft.wave.Wave.seenLookup(seen, keys))
    assert(exact.size == n)
    // the committed per-wave delta layers, then the base a fold rebuilds
    for (layers <- Seq(s.bloom, loop.fold(s, "test-").bloom)) {
      val ref = graft.frontier.BloomShards.Ref(layers.mkString(","),
        loop.store.readTable(spark, layers, graft.frontier.BloomShards.ShardDdl))
      assert(hits(graft.wave.Wave.seenLookup(seen,
        graft.frontier.BloomShards.maybeSeenKeys(keys, Some(ref)))) == exact,
        s"Bloom pre-filter dropped a seen URL (layers $layers)")
    }
  }

  test("auto-finish on drained frontier") {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(page("http://a.com/", Nil)))
    val loop = new CrawlLoop(spark, testConf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    val counters = loop.run(10)
    assert(counters.length == 1, "one wave then auto-finish")
    assert(loop.step().isEmpty)
  }

  test("asset hop inheritance and outlink hop+1") {
    val corpus = tmpDir("corpus")
    val html = """<html><body><a href="/out">o</a><img src="/img.png"></body></html>"""
    writeCorpus(corpus, Seq(
      ("http://a.com/", html, "text/html", 200, ""),
      page("http://a.com/out", Nil),
      ("http://a.com/img.png", "x", "image/png", 200, "")))
    val conf = testConf.copy(disableAssetsCapture = false)
    val loop = new CrawlLoop(spark, conf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    loop.run(1)
    val rows = loop.frontier.select("url_canon", "hops", "kind", "depth")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
    assert(rows == Set(
      ("http://a.com/out", 1, "seed", 0),
      ("http://a.com/img.png", 0, "asset", 1)))
  }
}
