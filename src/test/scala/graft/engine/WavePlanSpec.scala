package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.conf.ZenoConf
import graft.frontier.{BloomShards, FrontierStore}
import graft.gen.{Corpus, OracleData}
import graft.loop.CrawlLoop
import graft.spark.PlanShapes
import graft.wave.Wave

/** Plan-shape regression tests for the 100-TB invariants:
  *
  *  1. the web corpus NEVER shuffles in a wave plan — the fetch is a
  *     left-outer ShuffledHashJoin over the url-bucketed corpus that
  *     builds on the claimed side: only the claimed rows exchange to the
  *     corpus's bucketing. A plan that loses the bucketing (or builds on
  *     the corpus) reintroduces a full-corpus Exchange and fails here.
  *  2. the seen table is consumed scan-side only: the first join-or-
  *     exchange above its scan is a BroadcastHashJoin (Wave.seenLookup),
  *     never a shuffle of the seen set itself.
  *  3. the frontier claim keeps Catalyst's WindowGroupLimit (map-side
  *     per-host top-k below the exchange) with the merge-on-read view
  *     (deletes anti-join) underneath.
  */
class WavePlanSpec extends AnyFunSuite {
  import EngineSpec.{spark, tmpDir}

  private val robots = Corpus.robotsMap(OracleData.spec)

  private def corpusUnshuffled(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(PlanShapes.flatten(plan).exists(PlanShapes.isScanOf(_, "/web")),
      s"$what: plan must scan the corpus")
    val bad = PlanShapes.shufflesAbove(plan, "/web")
    assert(bad.isEmpty,
      s"$what: corpus must never shuffle; offending exchanges:\n" +
        bad.map(_.nodeName).mkString("\n"))
  }

  test("first wave (seen check at claim): corpus never shuffles") {
    OracleData.ensure(spark)
    val work = tmpDir("planspec1")
    val conf = ZenoConf(maxHops = 2)
    val loop = new CrawlLoop(spark, conf, work, OracleData.Dir, robots)
    loop.init((0 until 10).map(h => Corpus.urlOf(h, 0)))
    val snap = loop.store.latest.get
    val frontier = loop.store.readFrontier(spark, snap)
    val seen = loop.store.readTable(spark, snap.seen, FrontierStore.seenDdl)
    val host = loop.store.readTable(spark, snap.hostState, FrontierStore.hostStateDdl)
    val logs = Wave.run(spark, conf, 1, frontier, seen, host, loop.web, robots,
      None, checkSeenAtClaim = true)
    corpusUnshuffled(logs.unified, "wave-1 unified log")
    logs.cached.foreach(_.unpersist())
  }

  test("steady-state wave with bloom + MOR deletes: corpus and seen plan shapes") {
    OracleData.ensure(spark)
    val work = tmpDir("planspec2")
    val conf = ZenoConf(maxHops = 2)
    val loop = new CrawlLoop(spark, conf, work, OracleData.Dir, robots)
    loop.init((0 until 10).map(h => Corpus.urlOf(h, 0)))
    assert(loop.run(2).size == 2)

    val snap = loop.store.latest.get
    assert(snap.frontierDeletes.nonEmpty, "MOR delete files must accumulate")
    val frontier = loop.store.readFrontier(spark, snap)
    val seen = loop.store.readTable(spark, snap.seen, FrontierStore.seenDdl)
    val host = loop.store.readTable(spark, snap.hostState, FrontierStore.hostStateDdl)
    val bloom = Some(BloomShards.Ref(snap.bloom.mkString(","),
      loop.store.readTable(spark, snap.bloom, BloomShards.ShardDdl)))

    val logs = Wave.run(spark, conf, 3, frontier, seen, host, loop.web, robots,
      bloom, checkSeenAtClaim = false)
    corpusUnshuffled(logs.unified, "wave-3 unified log")
    assert(PlanShapes.flatten(logs.unified.queryExecution.executedPlan)
      .exists(_.nodeName.contains("WindowGroupLimit")),
      "claim must keep the map-side per-host top-k (WindowGroupLimit)")

    // finish-phase plan: seen reached only through a broadcast join
    val fin = Wave.finish(spark, conf, 3, frontier, seen,
      logs.claimedLog, logs.candidateLog, bloom)
    val finPlan = fin.enqueued.queryExecution.executedPlan
    PlanShapes.firstJoinOrShuffleAboveScan(finPlan, "row_type=seen") match {
      case Some(_: BroadcastHashJoinExec) => // seen streams scan-side: OK
      case Some(other) => fail(
        s"seen table must be consumed via BroadcastHashJoin, got ${other.nodeName}")
      case None => fail("finish plan must scan the seen table")
    }
    // the frontier likewise: the J2 enqueue-dedupe must stream the frontier
    // scan-side (semi vs broadcast wave keys), never broadcast or shuffle
    // the frontier itself
    PlanShapes.firstJoinOrShuffleAboveScan(finPlan, "-frontier") match {
      case Some(_: BroadcastHashJoinExec) => // frontier streams scan-side: OK
      case Some(other) => fail(
        s"frontier must be consumed via BroadcastHashJoin in finish, got ${other.nodeName}")
      case None => fail("finish plan must scan the frontier")
    }
    val frontierShuffles = PlanShapes.shufflesAbove(finPlan, "-frontier")
    assert(frontierShuffles.isEmpty,
      "frontier must never shuffle in the finish plan; offending:\n" +
        frontierShuffles.map(_.nodeName).mkString("\n"))
    (logs.cached ++ fin.cached).foreach(_.unpersist())
  }

  test("MOR delete mask: long-keyed broadcast build, exact vs string-keyed recompute") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    OracleData.ensure(spark)
    val loop = new CrawlLoop(spark, ZenoConf(maxHops = 2),
      tmpDir("planspec-mor"), OracleData.Dir, robots)
    loop.init((0 until 10).map(h => Corpus.urlOf(h, 0)))
    assert(loop.run(2).size == 2)
    val snap = loop.store.latest.get
    assert(snap.frontierDeletes.nonEmpty)
    val view = loop.store.readFrontierAt(spark, snap.frontier, snap.frontierDeletes)
    // the driver-side hash-relation build is paid on every frontier read
    // (claim + finish per wave): it must key on the 8-byte fnv64, never
    // the URL string
    val bhj = PlanShapes.flatten(view.queryExecution.executedPlan)
      .collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "delete mask must plan as a broadcast hash join")
    assert(bhj.forall(j =>
      j.leftKeys.forall(_.dataType == LongType) &&
        j.rightKeys.forall(_.dataType == LongType)),
      s"delete-mask join keys must be LongType, got ${bhj.map(j => j.leftKeys.map(_.dataType))}")
    // collision-exactness: identical live view as the string-keyed recompute
    val base = loop.store.readTable(spark, snap.frontier, FrontierStore.frontierDdl)
    val dels = loop.store
      .readTable(spark, snap.frontierDeletes, FrontierStore.frontierDeleteDdl)
      .groupBy(col("url_canon")).agg(max(col("del_wave")).as("dw"))
    val expected = base.join(dels, Seq("url_canon"), "left")
      .filter(col("dw").isNull || col("ts") >= col("dw"))
    def key(df: DataFrame) =
      df.select("url_canon", "ts").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(key(view) == key(expected), "hash-keyed mask ≡ string-keyed mask")
  }

  test("bucketed corpus: shuffled-hash fetch join (claimed side exchanges), " +
      "corpus never shuffles") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("bucketed-corpus")
    val spec = Corpus.Spec(nPages = 400, nHosts = 8)
    Corpus.write(spark, dir, spec)
    assert(Files.exists(Paths.get(s"$dir/web_bucketspec.json")))
    val rb = Corpus.robotsMap(spec)
    val conf = ZenoConf(maxHops = 2)
    val seeds = (0 until 8).map(h => Corpus.urlOf(h, 0))

    // plan shape on a fresh wave over the bucketed corpus
    val probe = new CrawlLoop(spark, conf, tmpDir("store-probe"), dir, rb)
    probe.init(seeds)
    val snap = probe.store.latest.get
    val frontier = probe.store.readFrontier(spark, snap)
    val seen = probe.store.readTable(spark, snap.seen, FrontierStore.seenDdl)
    val host = probe.store.readTable(spark, snap.hostState, FrontierStore.hostStateDdl)
    val logs = Wave.run(spark, conf, 1, frontier, seen, host, probe.web, rb,
      None, checkSeenAtClaim = true)
    val plan = logs.unified.queryExecution.executedPlan
    val bad = PlanShapes.shufflesAbove(plan, "/web")
    assert(bad.isEmpty, "bucketed corpus must never shuffle; offending:\n" +
      bad.map(_.nodeName).mkString("\n"))
    assert(PlanShapes.flatten(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
      "bucketed fetch must plan as ShuffledHashJoin (claimed side exchanges), " +
        "not a driver-built broadcast")
    logs.cached.foreach(_.unpersist())
  }
}
