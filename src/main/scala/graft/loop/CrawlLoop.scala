package graft.loop

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.conf.ZenoConf
import graft.frontier.{BloomShards, FrontierStore}
import graft.model.CounterRow
import graft.spark.Udfs
import graft.wave.Wave

/** The crawl loop: iterative batch over waves (the reference's channel
  * pipeline becomes a driver `while` over Dataset transforms — SURVEY.md
  * §2.8; there are no event-time windows in the reference, so Structured
  * Streaming would add machinery without semantics).
  *
  * Each wave: read latest snapshot → Wave.run → write parquet DELTAS
  * (enqueue append + claimed-key delete file + seen append) → atomic
  * manifest commit. Per-wave write bytes are proportional to WAVE size,
  * not frontier size — the frontier is merge-on-read (FrontierStore) and
  * only folds during compaction. Crash/stop between commits loses nothing
  * but the in-flight wave (Zeno's reset-on-shutdown, lq.go:75-93, for
  * free). Auto-finish when the frontier is empty (lq/consumer.go:226-261).
  */
final class CrawlLoop(
    spark: SparkSession,
    conf: ZenoConf,
    workDir: String,
    corpusDir: String,
    robots: Map[String, Seq[(String, Boolean)]]
) {
  import spark.implicits._

  val store = new FrontierStore(workDir)
  /** The fetch corpus: the url-bucketed `web` table written by
    * [[graft.gen.Corpus.writeWeb]]. Its sidecar `web_bucketspec.json`
    * carries the bucket spec (≙ shared-catalog metadata), so the fetch
    * join co-locates by exchanging only the claimed side.
    */
  private[graft] val web: DataFrame = {
    val sidecar = java.nio.file.Paths.get(s"$corpusDir/web_bucketspec.json")
    require(java.nio.file.Files.exists(sidecar),
      s"$corpusDir is not a url-bucketed corpus (no $sidecar); " +
        "write its web table with graft.gen.Corpus.writeWeb")
    val node = graft.extract.Json.parse(
      new String(java.nio.file.Files.readAllBytes(sidecar), "UTF-8"))
      .getOrElse(sys.error(s"unreadable bucket spec: $sidecar"))
    val buckets = node.path("numBuckets").asInt()
    val schema = node.path("schema").asText()
    val tbl = graft.gen.Corpus.tableNameFor(corpusDir)
    // a pre-existing registration must actually describe THIS corpus:
    // verify location + bucket count against the sidecar, recreate on any
    // mismatch (stale catalog entries would silently crawl the wrong data)
    if (spark.catalog.tableExists(tbl)) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      val locOk = meta.storage.locationUri.exists { u =>
        java.nio.file.Paths.get(u.getPath).toAbsolutePath.normalize ==
          java.nio.file.Paths.get(s"$corpusDir/web").toAbsolutePath.normalize
      }
      val bucketsOk = meta.bucketSpec.exists(_.numBuckets == buckets)
      if (!locOk || !bucketsOk) spark.sql(s"DROP TABLE $tbl")
    }
    if (!spark.catalog.tableExists(tbl))
      spark.sql(s"CREATE TABLE $tbl ($schema) USING parquet " +
        s"CLUSTERED BY (url) INTO $buckets BUCKETS LOCATION '$corpusDir/web'")
    spark.table(tbl)
  }

  /** Seed insertion (S1/S2): canonicalize, filter, build frontier rows,
    * commit snapshot v0. No-op if the store already has snapshots (resume).
    */
  def init(seeds: Seq[String]): Unit = {
    if (store.latest.isDefined) return
    val canonUdf = Udfs.canonicalizer(conf)
    val filterUdf = Udfs.filterTest(conf)
    val rows = seeds.toDF("url")
      .withColumn("c", canonUdf($"url", lit(null).cast("string")))
      .filter($"c.href".isNotNull)
      .filter(filterUdf($"c.href", $"c.host"))
      .select(
        $"c.href".as("id"), $"url", $"c.href".as("url_canon"),
        $"c.host".as("host"),
        pmod(xxhash64($"c.host"), lit(conf.hostBuckets)).cast("int").as("host_bucket"),
        $"c.href".as("seed_id"), lit("").as("via"), lit("seed").as("kind"),
        lit(0).as("depth"), lit(0).as("hops"), lit(0).as("redirects"),
        lit(0).as("css_jump"), lit(0L).as("ts"))
      .dropDuplicates("url_canon")
    val dir = store.newTableDir(0, "frontier")
    val obs = new org.apache.spark.sql.Observation("seed-init")
    FrontierStore.encodeFrontier(rows.observe(obs, count(lit(1)).as("rows")))
      .repartition(col("host_bucket")).write.mode("overwrite").parquet(dir)
    // per-seed live-row count baseline (+1 per seed row) — incrementally
    // maintained by wave deltas so seeds-finished never re-scans the frontier
    val cntDir = store.newTableDir(0, "seedcnt")
    store.readFrontierAt(spark, Seq(dir), Nil)
      .groupBy($"seed_id").agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(cntDir)
    store.commit(0, Seq(dir), Nil, Nil, Nil,
      obs.get.getOrElse("rows", 0L).asInstanceOf[Long],
      seedCounts = Seq(cntDir))
  }

  def frontier: DataFrame = {
    val snap = store.latest.getOrElse(sys.error("store not initialized"))
    store.readFrontier(spark, snap)
  }
  def seen: DataFrame = {
    val snap = store.latest.getOrElse(sys.error("store not initialized"))
    store.readTable(spark, snap.seen, FrontierStore.seenDdl)
  }
  /** Per-wave counters, reconstructed from the snapshot lineage
    * (compaction snapshots are view-preserving rewrites, not waves).
    */
  def counters: DataFrame = {
    import spark.implicits._
    store.history.filter(s => s.wave > 0 && !s.isCompaction).map { s =>
      val c = s.waveCounters
      CounterRow(s.wave, c.getOrElse("claimed", 0L), c.getOrElse("fetched", 0L),
        c.getOrElse("failed", 0L), c.getOrElse("deduped", 0L),
        c.getOrElse("excluded", 0L), c.getOrElse("queued", 0L),
        c.getOrElse("seeds_finished", 0L), c.getOrElse("discarded", 0L))
    }.toDS().toDF()
  }
  def hostState: DataFrame = {
    val snap = store.latest.getOrElse(sys.error("store not initialized"))
    store.readTable(spark, snap.hostState, FrontierStore.hostStateDdl)
  }

  // first wave of this loop instance checks seen at claim (resume guard);
  // steady-state waves rely on the enqueue-time pruning invariant
  private var firstStep = true

  /** Cumulative wall seconds per wave phase (log-write / delta-write /
    * seeds-finished / valve-compact), accumulated on every wave (3
    * nanoTime calls). The bench children (CrawlBenchChild, perfbench)
    * read it for their per-phase decomposition.
    */
  val phaseSums: scala.collection.concurrent.TrieMap[String, Double] =
    scala.collection.concurrent.TrieMap.empty
  private def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val secs = (System.nanoTime() - t0) / 1e9
    phaseSums.updateWith(phase) { v => Some(v.getOrElse(0.0) + secs) }
    r
  }

  /** Run one wave. Returns the wave's counters, or None if the frontier
    * was empty (auto-finish, S8). Per-wave counters ride the log writes as
    * Dataset.observe metrics (A3) — no extra aggregation jobs.
    */
  def step(): Option[CounterRow] = {
    val snap = store.latest.getOrElse(sys.error("store not initialized"))
    val wave = snap.wave + 1
    if (snap.frontierRows == 0) return None
    val frontierDf = store.readFrontier(spark, snap)
    val oldRows =
      if (snap.frontierRows >= 0) snap.frontierRows else frontierDf.count()
    if (oldRows == 0) return None
    // raw append-only seen table — never re-aggregated; Wave.seenLookup
    // streams it scan-side against the broadcast candidate hashes
    val seenDf = store.readTable(spark, snap.seen, FrontierStore.seenDdl)
    val hostDf = store.readTable(spark, snap.hostState, FrontierStore.hostStateDdl)

    // partitioned Bloom seen-filter shards (north-star): referenced as a
    // DataFrame and cogrouped on host_bucket — nothing collects. The layer
    // list (base + per-wave deltas) carries forward; this wave appends its
    // own delta below.
    val bloomBase: Seq[String] =
      if (!conf.useBloomSeenFilter) Nil
      else if (snap.bloom.nonEmpty) snap.bloom
      else if (snap.seen.nonEmpty) {
        // resume into a store without shards: rebuild from the full seen set
        val rebuilt = BloomShards.build(spark,
          seenDf, conf.bloomExpectedPerShard, conf.bloomFpp)
        val dir = store.newTableDir(wave, "bloom-rebuild")
        rebuilt.write.mode("overwrite").parquet(dir)
        Seq(dir)
      } else Nil
    val bloomRef: Option[BloomShards.Ref] =
      if (bloomBase.isEmpty) None
      else Some(BloomShards.Ref(bloomBase.mkString(","),
        store.readTable(spark, bloomBase, BloomShards.ShardDdl))) // fresh store: nothing seen yet — exact lookup is a no-op

    val logs = Wave.run(spark, conf, wave, frontierDf, seenDf, hostDf,
      web, robots, bloomRef, checkSeenAtClaim = firstStep)
    firstStep = false

    val dirs = Map(
      "log" -> store.newTableDir(wave, "log"),
      "delta" -> store.newTableDir(wave, "delta"))

    // phase-1: ONE lineage-log write (claimed + candidate rows unified) —
    // the cached extraction is traversed once, in a single job. Written in
    // the Wave.encodeLog storage form (redundant URL strings nulled,
    // disposition as a tiny-int code); decodeLog below restores the
    // logical schema for phase 2.
    val obsClaimed = new org.apache.spark.sql.Observation(s"log-$wave")
    val isClaimed = $"row_type" === "claimed"
    val passCode = lit(Wave.CandDisp.passCode)
    timed("log-write") { Wave.encodeLog(logs.unified).observe(obsClaimed,
      sum(when(isClaimed, 1L).otherwise(0L)).as("claimed"),
      sum(when(isClaimed && $"disposition".isin("FETCHED", "REDIRECT"), 1L)
        .otherwise(0L)).as("fetched"),
      sum(when(isClaimed && $"disposition" === "FAILED", 1L).otherwise(0L)).as("failed"),
      sum(when(isClaimed && $"disposition" === "DISCARDED", 1L).otherwise(0L)).as("discarded"),
      sum(when(isClaimed && $"disposition" === "SEEN", 1L).otherwise(0L)).as("seen"),
      sum(when(!isClaimed && $"cand_disposition" =!= passCode, 1L).otherwise(0L)).as("excluded"),
      sum(when(!isClaimed && $"cand_disposition" === passCode, 1L).otherwise(0L)).as("passed"))
      .write.mode("overwrite").parquet(dirs("log")) }
    val obsCands = obsClaimed
    logs.cached.foreach(_.unpersist())

    // phase-2: ONE union-schema delta write per wave. The frontier is
    // never rewritten — the wave contributes row_type-partitioned subsets
    // (add = enqueue rows, del = claimed keys, seen = processed hashes,
    // host = rate-limiter state, bloom = this wave's delta shards), each
    // referenced from the manifest as its own table path. Fusing five
    // writes into one job cuts the per-wave driver-serial floor that caps
    // N→4N scaling efficiency.
    // explicit schema (known from the DataFrame just written) — parquet
    // schema inference re-reads file footers on the driver every wave
    val waveLog = Wave.decodeLog(spark.read
      .schema(Wave.encodedLogSchema(logs.unified.schema)).parquet(dirs("log")))
    val claimedLog = waveLog.filter($"row_type" === "claimed")
    val candLog = waveLog.filter($"row_type" === "cand")
    val fin =
      Wave.finish(spark, conf, wave, frontierDf, seenDf, claimedLog, candLog, bloomRef)

    val deletes = claimedLog.select($"url_canon",
      graft.spark.LongParam.col(wave.toLong).as("del_wave"))
    val hostNext = Wave.nextHostState(spark, conf, wave, hostDf, claimedLog)
    // per-wave Bloom DELTA shards: one small filter per bucket this wave
    // touched (write/shuffle bytes ∝ wave size — a full shard merge would
    // move the entire filter set, ~12 GB/wave at 10^10 seen). Layers fold
    // only when the list fragments, from the already-compacted seen table.
    val bloomNext: Option[DataFrame] =
      if (!conf.useBloomSeenFilter) None
      else Some(BloomShards.buildDelta(spark, fin.seenAppend, conf.bloomFpp))
    // per-seed live-row count delta: −1 per claim, +1 per enqueue — ONE
    // map-side-combinable aggregation over the union (not one shuffle each)
    val seedDelta = claimedLog.select($"seed_id", lit(-1L).as("d"))
      .unionByName(fin.enqueued.select($"seed_id", lit(1L).as("d")))
      .groupBy($"seed_id").agg(sum($"d").as("cnt"))
    // resume into a store without count history: rebuild the baseline from
    // the live view once (same seam as the bloom rebuild)
    val seedCountBase: Seq[String] =
      if (snap.seedCounts.nonEmpty) snap.seedCounts
      else {
        val d = store.newTableDir(wave, "seedcnt-rebuild")
        frontierDf.groupBy($"seed_id").agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(d)
        Seq(d)
      }
    // the add subset is stored in the frontier's physical encoding (id
    // elided, url/seed_id nulled where redundant); seedDelta above reads
    // the LOGICAL fin.enqueued, so its seed_id grouping is unaffected
    val delta = CrawlLoop.unionBySchema(
      Seq("add" -> FrontierStore.encodeFrontier(fin.enqueued), "del" -> deletes,
        "seen" -> fin.seenAppend,
        "host" -> hostNext, "seedcnt" -> seedDelta) ++ bloomNext.map("bloom" -> _))

    val obsEnq = new org.apache.spark.sql.Observation(s"delta-$wave")
    timed("delta-write") {
      delta.observe(obsEnq,
          sum(when($"row_type" === "add", 1L).otherwise(0L)).as("queued"))
        .write.partitionBy("row_type").mode("overwrite").parquet(dirs("delta")) }
    def sub(rt: String): Seq[String] = {
      val p = s"${dirs("delta")}/row_type=$rt"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(p))) Seq(p) else Nil
    }
    // seeds finished = seeds whose live-row count (Σ of the incremental ±1
    // deltas, including this wave's) reaches 0 THIS wave — a scan of the
    // wave-sized count-delta history semi-joined against the broadcast
    // seed set of THIS wave's delta; the frontier is NOT re-scanned and
    // neither is the wave-sized claimed log: a seed's sum can cross to ≤0
    // only on a wave that claimed it, and any claimed seed has a row in
    // the wave's aggregated seedcnt delta (−1 per claim survives the
    // groupBy even when enqueues cancel it to 0), so the tiny pre-
    // aggregated delta is an exact stand-in for the claimed-seed set.
    // Seeds that finished on an EARLIER wave have no delta row this wave
    // (no live rows → no claims; rediscovered URLs are seen-pruned before
    // enqueue) and cannot be re-counted. Reads the delta from the WRITTEN
    // parquet (recomputing it from lineage would re-execute the whole
    // finish DAG — J1 window, J2 semi/anti, J3 lookup — a second time).
    val finished = timed("seeds-finished") {
      val waveDelta = sub("seedcnt")
      if (waveDelta.isEmpty) 0L
      else {
        // no .distinct(): the broadcast semi hash build dedupes, a distinct
        // would add a shuffle + agg stage per wave
        val touchedSeeds = store
          .readTable(spark, waveDelta, FrontierStore.seedCountDdl)
          .select($"seed_id")
        store.readTable(spark, seedCountBase ++ waveDelta, FrontierStore.seedCountDdl)
          .join(broadcast(touchedSeeds), Seq("seed_id"), "left_semi")
          .groupBy($"seed_id").agg(sum($"cnt").as("n"))
          .filter($"n" <= 0)
          .count()
      }
    }
    fin.cached.foreach(_.unpersist())
    val dataPaths = snap.frontier ++ sub("add")
    val delPaths = snap.frontierDeletes ++ sub("del")
    val hostPaths = if (sub("host").nonEmpty) sub("host") else snap.hostState

    def m(o: org.apache.spark.sql.Observation, k: String): Long =
      o.get.get(k).collect { case l: Long => l }.getOrElse(0L)
    val claimed = m(obsClaimed, "claimed")
    val queued = m(obsEnq, "queued")
    // live-row arithmetic: every claimed row leaves the view (claimed ⊆
    // frontier by construction), every enqueued row enters it
    val newRows = oldRows - claimed + queued
    val counterRow = CounterRow(wave,
      claimed = claimed,
      fetched = m(obsClaimed, "fetched"),
      failed = m(obsClaimed, "failed"),
      // dedupe = seencheck hits at claim + candidates dropped by J1/J2/J3
      deduped = m(obsClaimed, "seen") + (m(obsCands, "passed") - queued),
      excluded = m(obsCands, "excluded"),
      queued = queued,
      seeds_finished = finished,
      discarded = m(obsClaimed, "discarded"))

    // SAFETY VALVE: compaction normally runs in the BACKGROUND between
    // waves (maybeCompact, the Iceberg rewrite_data_files seam) — a wave
    // never stalls on a full-table rewrite. Only if the compactor has
    // fallen far behind (starved, crashed) does the wave fold inline, so
    // the delete-mask broadcast and scan fan-in stay bounded.
    val waveView = snap.copy(wave = wave, frontier = dataPaths,
      frontierDeletes = delPaths, seen = snap.seen ++ sub("seen"),
      bloom = bloomBase ++ sub("bloom"), seedCounts = seedCountBase ++ sub("seedcnt"))
    val valveFired = fragmented(waveView, CrawlLoop.valveThreshold)
    val v =
      if (!valveFired) waveView
      else timed("valve-compact") { fold(waveView, "") }

    val wcMap = Map(
      "claimed" -> counterRow.claimed, "fetched" -> counterRow.fetched,
      "failed" -> counterRow.failed, "deduped" -> counterRow.deduped,
      "excluded" -> counterRow.excluded, "queued" -> counterRow.queued,
      "seeds_finished" -> counterRow.seeds_finished,
      "discarded" -> counterRow.discarded)

    // Commit with compaction-aware rebase: if the background compactor
    // landed a (view-preserving) snapshot while this wave was computing,
    // re-derive the path lists on top of it — the wave's deltas are
    // view-level facts, valid over any equivalent base. External writers
    // keep the pre-existing OCC semantics (ProtocolSpec).
    var committed: Option[store.Snapshot] = None
    while (committed.isEmpty) {
      val l = store.latest.getOrElse(snap)
      val base =
        if (l.version != snap.version && l.isCompaction && !valveFired) l else snap
      val (cF, cD, cSe, cBl, cSc) =
        if (valveFired || base.version == snap.version)
          (v.frontier, v.frontierDeletes, v.seen, v.bloom, v.seedCounts)
        else (
          base.frontier ++ sub("add"),
          base.frontierDeletes ++ sub("del"),
          base.seen ++ sub("seen"),
          (if (base.bloom.nonEmpty) base.bloom else bloomBase) ++ sub("bloom"),
          (if (base.seedCounts.nonEmpty) base.seedCounts else seedCountBase)
            ++ sub("seedcnt"))
      try committed = Some(store.commit(wave, cF, cSe, hostPaths, Nil, newRows,
        if (conf.useBloomSeenFilter) cBl else Nil, wcMap,
        frontierDeletes = cD, atVersion = Some(l.version + 1), seedCounts = cSc))
      catch { case _: FrontierStore.CommitConflict => () } // re-read, retry
    }
    maybeCompact(committed.get)
    Some(counterRow)
  }

  // ---- background compaction (off the wave critical path) ----

  @volatile private var compactionInFlight: Option[scala.concurrent.Future[Unit]] = None

  /** Block until any in-flight background compaction has committed, and
    * rethrow its exception if it failed. Called at the end of run() so
    * callers observe a quiescent store; never called inside the wave loop.
    */
  def awaitBackgroundWork(): Unit = compactionInFlight.foreach { f =>
    scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)
    compactionInFlight = None
    f.value.get.get
  }

  /** True when any of `s`'s file lists is longer than `threshold`. */
  private def fragmented(s: store.Snapshot, threshold: Int): Boolean =
    s.frontier.length + s.frontierDeletes.length > threshold ||
      s.seen.length > threshold || s.seedCounts.length > threshold ||
      s.bloom.length > threshold

  /** Kick off a background fold of fragmented tables from the committed
    * snapshot `s`. At most one compactor runs per loop; its commit rebases
    * onto any waves that landed meanwhile (Iceberg rewrite_data_files
    * semantics: a compaction only swaps files it read for their folded
    * equivalent, carrying every newer delta forward untouched). A failed
    * compaction is kept for awaitBackgroundWork to rethrow and starts no
    * new one; the waves' inline valve bounds fragmentation meanwhile.
    */
  private[graft] def maybeCompact(s: store.Snapshot): Unit = {
    val busy = compactionInFlight.exists(f => !f.isCompleted || f.value.exists(_.isFailure))
    if (busy || !fragmented(s, CrawlLoop.compactThreshold)) return
    implicit val ec: scala.concurrent.ExecutionContext = CrawlLoop.waveEc
    compactionInFlight = Some(scala.concurrent.Future(compactFrom(s)).transform(identity,
      e => new IllegalStateException(s"background compaction of wave ${s.wave} failed", e)))
  }

  /** Rewrite the tables of snapshot `s` into folded form, each into a fresh
    * `w{wave}-{prefix}{table}` directory, and return `s` with the folded
    * lists. Every rewrite preserves the live view exactly: the frontier
    * folds its delete files in, seen collapses to (url_hash, max kind),
    * seed counts fold their ± deltas (dropping finished seeds), and the
    * Bloom base is rebuilt from the folded seen rows (delta layers of
    * differing filter sizes cannot merge bitwise). An empty seed-count or
    * Bloom list stays empty. Callers use distinct prefixes, so a fold
    * never overwrites another fold's input.
    */
  private[graft] def fold(s: store.Snapshot, prefix: String): store.Snapshot = {
    def dir(table: String) = store.newTableDir(s.wave, prefix + table)
    val fDir = dir("frontier-compact")
    FrontierStore.encodeFrontier(
        store.readFrontierAt(spark, s.frontier, s.frontierDeletes))
      .repartition(col("host_bucket"))
      .write.mode("overwrite").parquet(fDir)
    val seenDir = dir("seen-compact")
    store.readTable(spark, s.seen, FrontierStore.seenDdl)
      .groupBy($"url_hash", $"host_bucket").agg(max($"kind").as("kind"))
      .select($"url_hash", $"kind", $"host_bucket")
      .write.mode("overwrite").parquet(seenDir)
    val seedDirs =
      if (s.seedCounts.isEmpty) Nil
      else {
        val d = dir("seedcnt-compact")
        store.readTable(spark, s.seedCounts, FrontierStore.seedCountDdl)
          .groupBy($"seed_id").agg(sum($"cnt").as("cnt"))
          .filter($"cnt" > 0)
          .write.mode("overwrite").parquet(d)
        Seq(d)
      }
    val bloomDirs =
      if (!conf.useBloomSeenFilter || s.bloom.isEmpty) Nil
      else {
        val d = dir("bloom-fold")
        BloomShards.build(spark, store.readTable(spark, Seq(seenDir), FrontierStore.seenDdl),
          conf.bloomExpectedPerShard, conf.bloomFpp)
          .write.mode("overwrite").parquet(d)
        Seq(d)
      }
    s.copy(frontier = Seq(fDir), frontierDeletes = Nil, seen = Seq(seenDir),
      seedCounts = seedDirs, bloom = bloomDirs)
  }

  /** Fold snapshot `s` (prefix `bg-`), then commit with a CAS-rebase loop.
    * The compactor thread enters here; the benchmark tracer attributes
    * compaction jobs by this method's stack frame.
    */
  private def compactFrom(s: store.Snapshot): Unit = {
    val f = fold(s, "bg-")

    // CAS-rebase commit: swap s's file lists for the folded dirs, keep
    // every path added after s. Abort if anything of s's lists has already
    // been folded by someone else (the inline safety valve) — the folded
    // dirs would double-count rows.
    var done = false
    while (!done) {
      val l = store.latest.getOrElse(s)
      def subsetOk(a: Seq[String], b: Seq[String]) = a.toSet.subsetOf(b.toSet)
      if (!subsetOk(s.frontier, l.frontier) ||
          !subsetOk(s.frontierDeletes, l.frontierDeletes) ||
          !subsetOk(s.seen, l.seen) || !subsetOk(s.seedCounts, l.seedCounts) ||
          !subsetOk(s.bloom, l.bloom)) return
      def rebase(folded: Seq[String], old: Seq[String], cur: Seq[String]) =
        folded ++ cur.filterNot(old.toSet)
      try {
        store.commit(l.wave,
          rebase(f.frontier, s.frontier, l.frontier),
          rebase(f.seen, s.seen, l.seen),
          l.hostState, Nil, l.frontierRows,
          rebase(f.bloom, s.bloom, l.bloom),
          Map.empty,
          frontierDeletes = l.frontierDeletes.filterNot(s.frontierDeletes.toSet),
          atVersion = Some(l.version + 1),
          seedCounts = rebase(f.seedCounts, s.seedCounts, l.seedCounts),
          isCompaction = true)
        done = true
      } catch { case _: FrontierStore.CommitConflict => () } // re-read, retry
    }
  }

  /** Run until auto-finish or maxWaves. Waits for any in-flight
    * background compaction before returning (never inside the loop), so
    * callers observe a quiescent store.
    */
  def run(maxWaves: Int): Seq[CounterRow] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[CounterRow]
    var continue = true
    while (continue && acc.length < maxWaves) {
      step() match {
        case Some(c) => acc += c
        case None => continue = false
      }
    }
    awaitBackgroundWork()
    acc.toSeq
  }
}

object CrawlLoop {
  /** File-list length at which the BACKGROUND compactor kicks in. */
  val compactThreshold = 12
  /** File-list length at which a wave folds INLINE (compactor starved —
    * keeps the delete-mask broadcast and scan fan-in bounded even then).
    */
  val valveThreshold = 64

  /** Union heterogeneous per-wave delta tables into ONE row_type-tagged
    * DataFrame (absent columns null-padded), so a single
    * partitionBy(row_type) write replaces five separate write jobs. The
    * manifest then references each row_type subdirectory as its own table.
    */
  def unionBySchema(parts: Seq[(String, DataFrame)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val types = parts.flatMap(_._2.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    val all = parts.flatMap(_._2.columns).distinct
    parts.map { case (rt, df) =>
      val have = df.columns.toSet
      df.select(all.map(c =>
        if (have.contains(c)) col(c) else lit(null).cast(types(c)).as(c)): _*)
        .withColumn("row_type", lit(rt))
    }.reduce(_ unionByName _)
  }

  /** Shared daemon pool for concurrent per-wave job submission. */
  val waveEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4, r => {
        val t = new Thread(r, "wave-io")
        t.setDaemon(true)
        t
      }))
}
