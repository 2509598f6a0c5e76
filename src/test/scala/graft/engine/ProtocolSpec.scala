package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.frontier.FrontierStore
import graft.loop.CrawlLoop

/** Protocol-level behaviors called out by the round-1 review:
  *  - R3 success recovery (refill rate climbs back toward ideal after a
  *    5xx halving; ratelimiter_test.go:89-199 semantics, wave-discretized)
  *  - redirect-mid-chain depth parity: cumulative redirect-edge count so
  *    asset-of-asset extraction keeps working past a redirect
  *    (GetDepthWithoutRedirections, pkg/models/item.go:196-211)
  *  - domains-crawl extract-then-filter: hop budget enforced at enqueue
  *    (item.go:141-147)
  *  - multi-writer snapshot commits: optimistic concurrency (exactly one
  *    winner per version) + alternating writers over one store
  */
class ProtocolSpec extends AnyFunSuite {
  import EngineSpec._

  private def claimedUrls(loop: CrawlLoop, wave: Int): Set[String] =
    spark.read.parquet(s"${loop.store.workDir}/data/w${"%05d".format(wave)}-log")
      .filter(col("row_type") === "claimed")
      .select("url_canon").collect().map(_.getString(0)).toSet

  test("R3: refill rate halves on 5xx then recovers 10% toward ideal per good wave") {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(
      page("http://a.com/", Seq("http://slow.com/1", "http://slow.com/2")),
      ("http://slow.com/1", "", "text/html", 500, ""),
      page("http://slow.com/2", Seq("http://slow.com/3", "http://slow.com/4")),
      page("http://slow.com/3", Nil),
      page("http://slow.com/4", Nil)))
    val loop = new CrawlLoop(spark, testConf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    def refill(): Double = loop.hostState.filter(col("host") === "slow.com")
      .select("refill_rate").collect().headOption.map(_.getDouble(0)).getOrElse(-1.0)
    loop.run(2) // wave2 claims slow.com/1 (500) + /2 → halved
    val afterFail = refill()
    assert(afterFail == 25.0, s"5xx must halve the refill rate, got $afterFail")
    loop.run(1) // wave3 claims /3,/4 — all succeed → +10% toward ideal (50)
    val afterRecover = refill()
    assert(afterRecover == 27.5, s"success must recover 10% toward ideal, got $afterRecover")
    assert(loop.hostState.filter(col("host") === "slow.com")
      .select("failure_count").collect().head.getInt(0) == 0,
      "failure count decays on success")
  }

  test("redirect mid-chain keeps asset-of-asset extraction (cumulative redirect count)") {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(
      // seed → c1.css (asset) → 301 → c1b.css → c2.css (asset of asset,
      // behind the redirect) → c3.png; with per-child redirect reset the
      // c2.css page would sit at depth-without-redirections 3 and never
      // extract c3.png
      ("http://a.com/", """<html><link rel="stylesheet" href="/c1.css"></html>""",
        "text/html", 200, ""),
      ("http://a.com/c1.css", "", "text/css", 301, "http://a.com/c1b.css"),
      ("http://a.com/c1b.css", "@import url(/c2.css);", "text/css", 200, ""),
      ("http://a.com/c2.css", "body { background: url(/c3.png); }", "text/css", 200, ""),
      ("http://a.com/c3.png", "", "image/png", 200, "")))
    val conf = testConf.copy(disableAssetsCapture = false, maxHops = 1)
    val loop = new CrawlLoop(spark, conf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    loop.run(6)
    val seenUrls = (1 to 6).flatMap { w =>
      try claimedUrls(loop, w) catch { case _: Exception => Set.empty[String] }
    }.toSet
    assert(seenUrls.contains("http://a.com/c2.css"), "asset behind redirect crawled")
    assert(seenUrls.contains("http://a.com/c3.png"),
      "asset-of-asset past a mid-chain redirect must still be extracted")
  }

  test("domains-crawl enqueue filter: non-matching outlinks dropped at the hop limit") {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(
      page("http://other.net/a", Seq("http://other.net/b")),
      page("http://other.net/b", Seq("http://other.net/c", "http://watched.org/w")),
      page("http://other.net/c", Nil),
      page("http://watched.org/w", Nil)))
    val conf = testConf.copy(maxHops = 1, domainsCrawl = Seq("watched.org"))
    val loop = new CrawlLoop(spark, conf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://other.net/a"))
    loop.run(2) // wave2 claims b (hops=1=maxHops): extraction bypasses the
    // gate, the enqueue filter applies the budget per-outlink
    val rows = loop.frontier.select("url_canon", "hops")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows.contains("http://watched.org/w") && rows("http://watched.org/w") == 0,
      "matching outlink kept with hop reset")
    assert(!rows.contains("http://other.net/c"),
      "non-matching outlink of an at-limit parent dropped at enqueue")
  }

  test("multi-writer: snapshot commit is first-writer-wins (OCC)") {
    val dir = tmpDir("occ")
    val a = new FrontierStore(dir)
    val b = new FrontierStore(dir)
    a.commit(0, Nil, Nil, Nil, 0L)
    // both writers read latest = v0 and target v1; a links first
    val winner = a.commit(1, Nil, Nil, Nil, 1L, atVersion = Some(1))
    assert(winner.version == 1)
    intercept[FrontierStore.CommitConflict] {
      b.commit(1, Nil, Nil, Nil, 2L, atVersion = Some(1))
    }
    // the loser's content must NOT have replaced the winner's
    assert(b.latest.get.frontierRows == 1L)
  }

  test("a manifest without frontier_rows is rejected, naming the manifest") {
    val dir = tmpDir("no-rows")
    val store = new FrontierStore(dir)
    val manifest = java.nio.file.Paths.get(dir, "snapshots", "v00000.json")
    java.nio.file.Files.write(manifest,
      """{"wave":0,"version":0,"frontier":[],"seen":[]}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](store.latest)
    assert(e.getMessage.contains(manifest.toString), e.getMessage)
  }

  /** A one-wave crawl with live frontier rows left, whose latest snapshot
    * is then re-committed through `edit`. Returns the loop.
    */
  private def oneWaveThen(edit: FrontierStore#Snapshot => (Seq[String], Seq[String])): CrawlLoop = {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(page("http://a.com/", Seq("/1")), page("http://a.com/1", Nil)))
    val loop = new CrawlLoop(spark, testConf, tmpDir("store"), corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    assert(loop.run(1).size == 1)
    val s = loop.store.latest.get
    assert(s.frontierRows > 0 && s.seen.nonEmpty && s.bloom.nonEmpty && s.seedCounts.nonEmpty)
    val (bloom, seedCounts) = edit(s)
    loop.store.commit(s.wave, s.frontier, s.seen, s.hostState, s.frontierRows, bloom,
      s.waveCounters, frontierDeletes = s.frontierDeletes, seedCounts = seedCounts)
    loop
  }

  test("a wave rejects a snapshot with seen files but no Bloom layers") {
    val loop = oneWaveThen(s => (Nil, s.seedCounts))
    val e = intercept[IllegalArgumentException](loop.step())
    assert(e.getMessage.contains("wave 2") && e.getMessage.contains("no Bloom layers"),
      e.getMessage)
  }

  test("a wave rejects a snapshot without a seed-count list") {
    val loop = oneWaveThen(s => (s.bloom, Nil))
    val e = intercept[IllegalArgumentException](loop.step())
    assert(e.getMessage.contains("wave 2") && e.getMessage.contains("no seed-count list"),
      e.getMessage)
  }

  test("vacuum keeps every live table (including delta subdir references) and the crawl resumes") {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(
      page("http://a.com/", Seq("http://a.com/1", "http://a.com/2")),
      page("http://a.com/1", Seq("http://a.com/3")),
      page("http://a.com/2", Nil),
      page("http://a.com/3", Nil)))
    val store = tmpDir("store")
    val loop = new CrawlLoop(spark, testConf, store, corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    loop.run(2)
    val beforeFrontier = loop.frontier.select("url_canon").collect().map(_.getString(0)).toSet
    val beforeSeen = loop.seen.count()
    loop.store.vacuum() // must not delete dirs referenced via row_type= subpaths
    val reopened = new CrawlLoop(spark, testConf, store, corpus, Map.empty)
    assert(reopened.frontier.select("url_canon").collect().map(_.getString(0)).toSet
      == beforeFrontier, "frontier intact after vacuum")
    assert(reopened.seen.count() == beforeSeen, "seen intact after vacuum")
    assert(reopened.run(2).nonEmpty, "crawl resumes over the vacuumed store")
  }

  test("soak: 30+ waves with background compaction — bounded fragmentation, " +
    "constant per-wave write bytes, resume across compaction boundaries") {
    val corpus = tmpDir("corpus")
    val n = 35
    // a chain crawls one URL per wave (each page reveals only the next),
    // plus a link back to p0 so the seen/dedupe path fires every wave
    val pages = (0 until n).map { i =>
      val links = (if (i + 1 < n) Seq(s"http://chain.com/p${i + 1}") else Nil) ++
        Seq("http://chain.com/p0")
      page(s"http://chain.com/p$i", links)
    }
    writeCorpus(corpus, pages)
    val conf = testConf.copy(maxHops = 100)

    import scala.jdk.CollectionConverters._
    def dirBytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }

    val storeA = tmpDir("soak-a")
    val a = new CrawlLoop(spark, conf, storeA, corpus, Map.empty)
    a.init(Seq("http://chain.com/p0"))
    val countersA = a.run(n + 5)
    assert(countersA.map(_.claimed).sum == n, "every chain page claimed exactly once")

    val hist = a.store.history
    assert(hist.count(_.isCompaction) >= 2,
      s"background compaction must have committed repeatedly; history: ${hist.size}")
    // fragmentation stays bounded across ALL snapshots (compactor keeps up,
    // no wave ever hit the inline valve at this scale)
    val worst = hist.map(s => s.frontier.length + s.frontierDeletes.length).max
    assert(worst <= 40, s"frontier file-list length must stay bounded, worst=$worst")
    assert(hist.map(_.seen.length).max <= 40, "seen file-list bounded")
    // per-wave DELTA write bytes stay flat (∝ wave size, not frontier/seen
    // size) even in waves where compaction also ran
    val deltaDirs = (5 to n).flatMap { w =>
      val p = java.nio.file.Paths.get(storeA, "data", f"w$w%05d-delta")
      if (java.nio.file.Files.exists(p)) Some(dirBytes(p)) else None
    }
    assert(deltaDirs.max <= deltaDirs.min * 4,
      s"per-wave delta bytes must not grow with crawl age: min=${deltaDirs.min} max=${deltaDirs.max}")
    // counters lineage: exactly one row per wave, compaction snapshots invisible
    assert(a.counters.count() == n.toLong, "one counter row per wave")

    // resume equivalence across compaction boundaries: stop mid-crawl
    // (after compactions have fired), reopen, finish — same end state
    val storeB = tmpDir("soak-b")
    val b1 = new CrawlLoop(spark, conf, storeB, corpus, Map.empty)
    b1.init(Seq("http://chain.com/p0"))
    b1.run(18)
    val b2 = new CrawlLoop(spark, conf, storeB, corpus, Map.empty)
    b2.run(n) // resumes; auto-finishes when the chain drains
    def endState(l: CrawlLoop) = (
      l.frontier.select("url_canon").collect().map(_.getString(0)).toSet,
      l.seen.select("url_hash").collect().map(_.getLong(0)).toSet,
      l.counters.agg(sum("claimed"), sum("queued"), sum("deduped"))
        .collect().head.toSeq)
    assert(endState(a) == endState(b2),
      "interrupted+resumed crawl across compaction boundaries ≡ straight run")
  }

  test("fold preserves the live view: frontier, seen kinds, per-seed counts; " +
    "Bloom folds to one layer") {
    val corpus = tmpDir("corpus")
    // two hosts of linked pages with image assets, 2 claims per host and
    // wave: the frontier keeps live rows and accumulates delete files, and
    // every wave adds a seen, seed-count and Bloom delta
    val pages = for (h <- Seq("a.com", "b.com"); i <- 0 until 8) yield {
      val html = s"""<html><body><a href="/p${i + 1}">n</a><a href="/p${i + 2}">n</a>""" +
        s"""<img src="/img$i.png"></body></html>"""
      (s"http://$h/p$i", html, "text/html", 200, "")
    }
    writeCorpus(corpus, pages)
    val conf = testConf.copy(disableAssetsCapture = false, rateLimitCapacity = 2.0)
    val loop = new CrawlLoop(spark, conf, tmpDir("fold"), corpus, Map.empty)
    loop.init(Seq("http://a.com/p0", "http://b.com/p0"))
    assert(loop.run(3).size == 3)
    val s = loop.store.latest.get
    assert(s.frontierDeletes.nonEmpty && s.bloom.length > 1 && s.seedCounts.length > 1,
      "the snapshot must carry deltas to fold")

    val f = loop.fold(s, "test-")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def frontier(x: loop.store.Snapshot) =
      rows(loop.store.readFrontierAt(spark, x.frontier, x.frontierDeletes))
    def seenKinds(x: loop.store.Snapshot) = rows(graft.wave.Wave.seenKinds(
      loop.store.readTable(spark, x.seen, FrontierStore.seenDdl)))
    def liveSeeds(x: loop.store.Snapshot) = rows(
      loop.store.readTable(spark, x.seedCounts, FrontierStore.seedCountDdl)
        .groupBy("seed_id").agg(sum("cnt").as("n")).filter(col("n") > 0))
    assert(frontier(s).nonEmpty && frontier(f) == frontier(s), "live frontier unchanged")
    assert(f.frontierDeletes.isEmpty, "deletes are folded into the frontier")
    assert(seenKinds(f) == seenKinds(s), "seen kinds unchanged")
    assert(liveSeeds(f) == liveSeeds(s), "per-seed live counts unchanged")
    assert(f.bloom.length == 1, s"Bloom folds to one layer, got ${f.bloom}")
  }

  test("a failed background compaction makes run() throw") {
    val corpus = tmpDir("corpus")
    writeCorpus(corpus, Seq(page("http://a.com/", Seq("/1")),
      page("http://a.com/1", Seq("/2")), page("http://a.com/2", Nil)))
    val work = tmpDir("compact-fail")
    val loop = new CrawlLoop(spark, testConf, work, corpus, Map.empty)
    loop.init(Seq("http://a.com/"))
    assert(loop.run(1).size == 1)
    // a fragmented snapshot whose seen list names missing table dirs
    val s = loop.store.latest.get
    val missing = (0 to CrawlLoop.compactThreshold).map(i => s"$work/data/missing-$i")
    loop.maybeCompact(s.copy(seen = s.seen ++ missing))
    val e = intercept[IllegalStateException](loop.run(1))
    assert(e.getMessage.contains("background compaction"), e.getMessage)
    assert(loop.store.latest.get.wave == 2, "the wave itself still commits")
    assert(loop.run(1).size == 1, "the failure is reported once")
  }

  test("multi-writer: alternating loops over one store equal a single writer") {
    val corpus = tmpDir("corpus")
    val pages = (0 until 10).map(i =>
      page(s"http://h${i % 2}.com/p$i", Seq(s"http://h${(i + 1) % 2}.com/p${(i + 1) % 10}")))
    writeCorpus(corpus, pages)
    val seeds = Seq("http://h0.com/p0")

    val storeA = tmpDir("single")
    val single = new CrawlLoop(spark, testConf, storeA, corpus, Map.empty)
    single.init(seeds)
    single.run(4)

    // two independent loop instances alternate waves on the SAME store:
    // each claim transaction reads the latest committed snapshot, so the
    // claims are disjoint by construction
    val storeB = tmpDir("multi")
    val w1 = new CrawlLoop(spark, testConf, storeB, corpus, Map.empty)
    val w2 = new CrawlLoop(spark, testConf, storeB, corpus, Map.empty)
    w1.init(seeds)
    w1.run(1); w2.run(1); w1.run(1); w2.run(1)

    def state(l: CrawlLoop) = (
      l.frontier.select("url_canon").collect().map(_.getString(0)).toSet,
      l.seen.select("url_hash").collect().map(_.getLong(0)).toSet)
    assert(state(single) == state(w2), "alternating writers ≡ single writer")
    // and no URL was claimed twice across the two writers
    val logs = (1 to 4).flatMap(w => claimedUrls(w1, w))
    assert(logs.size == logs.toSet.size, "claims across writers are disjoint")
  }
}
