package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.conf.ZenoConf
import graft.gen.{Corpus, OracleData}
import graft.loop.CrawlLoop
import graft.spark.PlanShapes
import graft.wave.Wave
import graft.frontier.FrontierStore

/** Mega-host salting under the claim window (north-star: "skew from
  * mega-hosts is handled explicitly with salted host keys"). The salted
  * claim is two-phase — per-(host, salt) top-k, then per-host top-k over
  * the survivors — so the claimed set is bit-identical to the unsalted
  * window under the same total order, while the first exchange spreads a
  * mega-host's reduce-side ranking over `hostSaltBuckets` reducers.
  */
class SaltedClaimSpec extends AnyFunSuite {
  import EngineSpec.{spark, tmpDir}

  test("salted claim ≡ unsalted claim on the mega-host corpus (counters + seen), " +
      "plan shows a per-salt WindowGroupLimit") {
    // OracleData's corpus has a mega-host (30% of pages on host 0)
    OracleData.ensure(spark)
    val robots = Corpus.robotsMap(OracleData.spec)
    val seeds = (0 until 10).map(h => Corpus.urlOf(h, 0))
    def runLoop(conf: ZenoConf, tag: String) = {
      val loop = new CrawlLoop(spark, conf, tmpDir(s"salt-$tag"),
        OracleData.Dir, robots)
      loop.init(seeds)
      (loop, loop.run(2))
    }
    // budget (perHostWaveBudget = 50) is NOT a multiple of s = 4: the
    // two-phase construction is exact regardless, which is the stronger
    // equivalence than per-salt budget splitting would give
    val (loopOff, cOff) = runLoop(ZenoConf(maxHops = 2), "off")
    val (loopOn, cOn) = runLoop(ZenoConf(maxHops = 2, hostSaltBuckets = 4), "on")
    assert(cOn == cOff, "salting must not change any crawl counter")
    def seenOf(l: CrawlLoop) =
      l.seen.select("url_hash").collect().map(_.getLong(0)).toSet
    assert(seenOf(loopOn) == seenOf(loopOff), "seen sets must be identical")

    // plan shape: both window phases keep the map-side group limit, and
    // the first one groups by (host, host_salt)
    val snap = loopOn.store.latest.get
    val frontier = loopOn.store.readFrontier(spark, snap)
    val seen = loopOn.store.readTable(spark, snap.seen, FrontierStore.seenDdl)
    val host = loopOn.store.readTable(spark, snap.hostState, FrontierStore.hostStateDdl)
    val logs = Wave.run(spark, ZenoConf(maxHops = 2, hostSaltBuckets = 4), 3,
      frontier, seen, host, loopOn.web, robots, None, checkSeenAtClaim = false)
    val wgls = PlanShapes.flatten(logs.unified.queryExecution.executedPlan)
      .filter(_.nodeName.contains("WindowGroupLimit"))
    assert(wgls.size >= 2, s"salted claim must keep BOTH window group limits, got ${wgls.size}")
    assert(wgls.exists(_.toString.contains("host_salt")),
      "one WindowGroupLimit must group by (host, host_salt)")
    logs.cached.foreach(_.unpersist())
  }
}
