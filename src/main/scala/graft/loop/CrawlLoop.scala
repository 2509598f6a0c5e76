package graft.loop

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
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
    // the discard chain reads cf_mitigated (graft.model.FetchMeta)
    require(org.apache.spark.sql.types.StructType.fromDDL(schema)
      .fieldNames.contains("cf_mitigated"),
      s"$sidecar: the web schema has no cf_mitigated column")
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
    val obs = new Observation("seed-init")
    FrontierStore.encodeFrontier(rows.observe(obs, count(lit(1)).as("rows")))
      .repartition(col("host_bucket")).write.mode("overwrite").parquet(dir)
    // per-seed live-row count baseline (+1 per seed row) — incrementally
    // maintained by wave deltas so seeds-finished never re-scans the frontier
    val cntDir = store.newTableDir(0, "seedcnt")
    store.readFrontierAt(spark, Seq(dir), Nil)
      .groupBy($"seed_id").agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(cntDir)
    store.commit(store.Snapshot(0, 0, Seq(dir), Nil, Nil,
      obs.get.getOrElse("rows", 0L).asInstanceOf[Long], seedCounts = Seq(cntDir)))
  }

  private def latest: store.Snapshot = store.latest.getOrElse(sys.error("store not initialized"))
  def frontier: DataFrame = store.readFrontier(spark, latest)
  def seen: DataFrame = store.readTable(spark, latest.seen, FrontierStore.seenDdl)
  def hostState: DataFrame = store.readTable(spark, latest.hostState, FrontierStore.hostStateDdl)
  /** Per-wave counters, reconstructed from the snapshot lineage
    * (compaction snapshots are view-preserving rewrites, not waves).
    */
  def counters: DataFrame = store.history.filter(s => s.wave > 0 && !s.isCompaction)
    .map(s => CounterRow.fromWaveCounters(s.wave, s.waveCounters)).toDS().toDF()

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
    * was empty (auto-finish, S8). Per-wave counters ride the log and delta
    * writes as Dataset.observe metrics (A3) — no extra aggregation jobs.
    */
  def step(): Option[CounterRow] = open().map { in =>
    val (waveLog, logObs) = writeLog(in)
    val (deltaDir, deltaObs) = writeDelta(in, waveLog)
    val finished = seedsFinished(in, deltaDir)
    val c = countersOf(in.wave, logObs, deltaObs, finished)
    maybeCompact(commit(in, deltaDir, c))
    c
  }

  /** What a wave reads from its base snapshot. */
  private final class Opened(val snap: store.Snapshot, val frontier: DataFrame,
      val seen: DataFrame, val hosts: DataFrame, val bloom: Option[BloomShards.Ref]) {
    def wave: Int = snap.wave + 1
  }

  /** Stage open: the latest snapshot's tables, or None when its frontier is
    * empty. Init writes the seed-count base and each wave writes its seen
    * and Bloom deltas from one seen append, so a snapshot without counts,
    * or with seen rows but no Bloom layers, is rejected: delta-only layers
    * would skip the exact lookup for everything seen before them.
    */
  private def open(): Option[Opened] = {
    val snap = latest
    if (snap.frontierRows == 0) return None
    val wave = snap.wave + 1
    require(snap.seedCounts.nonEmpty,
      s"wave $wave: snapshot v${snap.version} has no seed-count list")
    require(snap.seen.isEmpty || snap.bloom.nonEmpty,
      s"wave $wave: snapshot v${snap.version} has seen files but no Bloom layers")
    // Bloom layers are cogrouped on host_bucket — nothing collects; a fresh
    // store has none, and its exact lookup is a no-op
    val bloom =
      if (snap.bloom.isEmpty) None
      else Some(BloomShards.Ref(snap.bloom.mkString(","),
        store.readTable(spark, snap.bloom, BloomShards.ShardDdl)))
    // raw append-only seen table — never re-aggregated; Wave.seenLookup
    // streams it scan-side against the broadcast candidate hashes
    Some(new Opened(snap, store.readFrontier(spark, snap),
      store.readTable(spark, snap.seen, FrontierStore.seenDdl),
      store.readTable(spark, snap.hostState, FrontierStore.hostStateDdl), bloom))
  }

  /** Stage log-write: ONE lineage-log write (claimed + candidate rows
    * unified), traversing the extraction once, in the Wave.encodeLog
    * storage form. Returns the log read back in the logical schema, and
    * its observed counts.
    */
  private def writeLog(in: Opened): (DataFrame, Observation) = {
    val logs = Wave.run(spark, conf, in.wave, in.frontier, in.seen, in.hosts,
      web, robots, in.bloom, checkSeenAtClaim = firstStep)
    firstStep = false
    val dir = store.newTableDir(in.wave, "log")
    val obs = new Observation(s"log-${in.wave}")
    val isClaimed = $"row_type" === "claimed"
    val passCode = lit(Wave.CandDisp.passCode)
    timed("log-write") { Wave.encodeLog(logs.unified).observe(obs,
      sum(when(isClaimed, 1L).otherwise(0L)).as("claimed"),
      sum(when(isClaimed && $"disposition".isin("FETCHED", "REDIRECT"), 1L)
        .otherwise(0L)).as("fetched"),
      sum(when(isClaimed && $"disposition" === "FAILED", 1L).otherwise(0L)).as("failed"),
      sum(when(isClaimed && $"disposition" === "DISCARDED", 1L).otherwise(0L)).as("discarded"),
      sum(when(isClaimed && $"disposition" === "SEEN", 1L).otherwise(0L)).as("seen"),
      sum(when(!isClaimed && $"cand_disposition" =!= passCode, 1L).otherwise(0L)).as("excluded"),
      sum(when(!isClaimed && $"cand_disposition" === passCode, 1L).otherwise(0L)).as("passed"))
      .write.mode("overwrite").parquet(dir) }
    logs.cached.foreach(_.unpersist())
    // explicit schema (known from the DataFrame just written) — parquet
    // schema inference re-reads file footers on the driver every wave
    (Wave.decodeLog(spark.read
      .schema(Wave.encodedLogSchema(logs.unified.schema)).parquet(dir)), obs)
  }

  /** Stage delta-write: ONE union-schema write of the wave's row_type
    * subsets (add = enqueue rows, del = claimed keys, seen = processed
    * hashes, host = rate-limiter state, seedcnt = per-seed count deltas,
    * bloom = delta shards), each a table path of the manifest ([[sub]]).
    * The frontier is never rewritten, and one job instead of six cuts the
    * per-wave driver-serial floor. Returns the dir and the queued count.
    */
  private def writeDelta(in: Opened, waveLog: DataFrame): (String, Observation) = {
    val claimedLog = waveLog.filter($"row_type" === "claimed")
    val candLog = waveLog.filter($"row_type" === "cand")
    val fin = Wave.finish(spark, conf, in.wave, in.frontier, in.seen,
      claimedLog, candLog, in.bloom)
    val deletes = claimedLog.select($"url_canon",
      graft.spark.LongParam.col(in.wave.toLong).as("del_wave"))
    val hostNext = Wave.nextHostState(spark, conf, in.wave, in.hosts, claimedLog)
    // per-wave Bloom DELTA shards: one small filter per bucket this wave
    // touched (write/shuffle bytes ∝ wave size — a full shard merge would
    // move the entire filter set, ~12 GB/wave at 10^10 seen). Layers fold
    // only when the list fragments, from the already-compacted seen table.
    val bloomNext = BloomShards.buildDelta(spark, fin.seenAppend, conf.bloomFpp)
    // per-seed live-row count delta: −1 per claim, +1 per enqueue — ONE
    // map-side-combinable aggregation over the union (not one shuffle each)
    val seedDelta = claimedLog.select($"seed_id", lit(-1L).as("d"))
      .unionByName(fin.enqueued.select($"seed_id", lit(1L).as("d")))
      .groupBy($"seed_id").agg(sum($"d").as("cnt"))
    // the add subset is stored in the frontier's physical encoding (id
    // elided, url/seed_id nulled where redundant); seedDelta above reads
    // the LOGICAL fin.enqueued, so its seed_id grouping is unaffected
    val delta = Seq(
      "add" -> FrontierStore.encodeFrontier(fin.enqueued), "del" -> deletes,
      "seen" -> fin.seenAppend, "host" -> hostNext, "seedcnt" -> seedDelta,
      "bloom" -> bloomNext)
      .map { case (rt, df) => df.withColumn("row_type", lit(rt)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val dir = store.newTableDir(in.wave, "delta")
    val obs = new Observation(s"delta-${in.wave}")
    timed("delta-write") {
      delta.observe(obs,
          sum(when($"row_type" === "add", 1L).otherwise(0L)).as("queued"))
        .write.partitionBy("row_type").mode("overwrite").parquet(dir) }
    fin.cached.foreach(_.unpersist())
    (dir, obs)
  }

  /** The row_type subset `rt` of a delta dir, if the wave wrote any. */
  private def sub(deltaDir: String, rt: String): Seq[String] = {
    val p = s"$deltaDir/row_type=$rt"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(p))) Seq(p) else Nil
  }

  /** Stage seeds-finished: seeds whose live-row count (Σ of the ±1 deltas,
    * this wave's included) reaches 0 THIS wave. Neither the frontier nor
    * the claimed log is re-scanned: a seed's sum can cross to ≤0 only on a
    * wave that claimed it, and every claimed seed has a row in the wave's
    * aggregated seedcnt delta (−1 per claim survives the groupBy even when
    * enqueues cancel it to 0), so that tiny delta, broadcast, stands in
    * for the claimed-seed set. Seeds finished on an EARLIER wave have no
    * delta row (no live rows → no claims; rediscovered URLs are seen-
    * pruned before enqueue). The delta is read from the WRITTEN parquet:
    * recomputing it would re-run the whole finish DAG.
    */
  private def seedsFinished(in: Opened, deltaDir: String): Long =
    timed("seeds-finished") {
      val waveDelta = sub(deltaDir, "seedcnt")
      if (waveDelta.isEmpty) 0L
      else {
        // no .distinct(): the broadcast semi hash build dedupes, a distinct
        // would add a shuffle + agg stage per wave
        val touchedSeeds = store
          .readTable(spark, waveDelta, FrontierStore.seedCountDdl)
          .select($"seed_id")
        store.readTable(spark, in.snap.seedCounts ++ waveDelta, FrontierStore.seedCountDdl)
          .join(broadcast(touchedSeeds), Seq("seed_id"), "left_semi")
          .groupBy($"seed_id").agg(sum($"cnt").as("n"))
          .filter($"n" <= 0)
          .count()
      }
    }

  /** Stage counters: the wave's counters from the observed metrics. */
  private def countersOf(wave: Int, log: Observation, delta: Observation,
                         finished: Long): CounterRow = {
    def m(o: Observation, k: String): Long =
      o.get.get(k).collect { case l: Long => l }.getOrElse(0L)
    val queued = m(delta, "queued")
    // dedupe = seencheck hits at claim + candidates dropped by J1/J2/J3
    CounterRow(wave, claimed = m(log, "claimed"), fetched = m(log, "fetched"),
      failed = m(log, "failed"), deduped = m(log, "seen") + (m(log, "passed") - queued),
      excluded = m(log, "excluded"), queued = queued, seeds_finished = finished,
      discarded = m(log, "discarded"))
  }

  /** Stage commit. SAFETY VALVE: compaction normally runs in the
    * BACKGROUND between waves (maybeCompact, the Iceberg rewrite_data_files
    * seam); only if the compactor has fallen far behind does the wave fold
    * inline, so the delete-mask broadcast and scan fan-in stay bounded.
    * Otherwise the wave lands on whatever the store's CAS loop reads as
    * latest ([[waveOnto]]).
    */
  private def commit(in: Opened, deltaDir: String, c: CounterRow): store.Snapshot = {
    val waveView = waveOnto(in.snap, in.snap, deltaDir, c)
    val folded =
      if (!fragmented(waveView, CrawlLoop.valveThreshold)) None
      else Some(timed("valve-compact") { fold(waveView, "") })
    store.update { l =>
      val landed = waveOnto(in.snap, l, deltaDir, c) // throws on a stale base
      Some(folded.getOrElse(landed))
    }.get
  }

  /** The wave commit's edit: the wave that read `base` and wrote `deltaDir`
    * lands on `latest`. Compactions are view-preserving rewrites, so the
    * wave's deltas (view-level facts) stay valid over any that landed since
    * `base`. Another writer's wave does not: committing over it would drop
    * its deltas, so this throws instead of committing on a stale base.
    */
  private[graft] def waveOnto(base: store.Snapshot, latest: store.Snapshot,
                              deltaDir: String, c: CounterRow): store.Snapshot = {
    if (latest.wave != base.wave) throw new IllegalStateException(
      s"stale base: wave ${c.wave} read v${base.version} (wave ${base.wave}), " +
        s"but v${latest.version} holds wave ${latest.wave} from another writer")
    val hosts = sub(deltaDir, "host")
    // live-row arithmetic: every claimed row leaves the view (claimed ⊆
    // frontier by construction), every enqueued row enters it
    latest.copy(wave = c.wave,
      frontier = latest.frontier ++ sub(deltaDir, "add"),
      frontierDeletes = latest.frontierDeletes ++ sub(deltaDir, "del"),
      seen = latest.seen ++ sub(deltaDir, "seen"),
      hostState = if (hosts.nonEmpty) hosts else latest.hostState,
      bloom = latest.bloom ++ sub(deltaDir, "bloom"),
      seedCounts = latest.seedCounts ++ sub(deltaDir, "seedcnt"),
      frontierRows = base.frontierRows - c.claimed + c.queued,
      waveCounters = c.waveCounters, isCompaction = false)
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
      if (s.bloom.isEmpty) Nil
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

  /** Fold snapshot `s` (prefix `bg-`), then commit through the store's CAS
    * loop: swap s's file lists for the folded dirs and keep every path added
    * after s. Commit nothing if any of s's lists was already folded by
    * someone else (the inline safety valve): the folded dirs would
    * double-count rows. The compactor thread enters here; the benchmark
    * tracer attributes compaction jobs by this method's stack frame.
    */
  private def compactFrom(s: store.Snapshot): Unit = {
    val f = fold(s, "bg-")
    def intact(old: Seq[String], cur: Seq[String]) = old.toSet.subsetOf(cur.toSet)
    def rebase(folded: Seq[String], old: Seq[String], cur: Seq[String]) =
      folded ++ cur.filterNot(old.toSet)
    store.update { l =>
      if (!intact(s.frontier, l.frontier) || !intact(s.frontierDeletes, l.frontierDeletes) ||
          !intact(s.seen, l.seen) || !intact(s.seedCounts, l.seedCounts) ||
          !intact(s.bloom, l.bloom)) None
      else Some(l.copy(
        frontier = rebase(f.frontier, s.frontier, l.frontier),
        frontierDeletes = rebase(f.frontierDeletes, s.frontierDeletes, l.frontierDeletes),
        seen = rebase(f.seen, s.seen, l.seen),
        bloom = rebase(f.bloom, s.bloom, l.bloom),
        seedCounts = rebase(f.seedCounts, s.seedCounts, l.seedCounts),
        waveCounters = Map.empty, isCompaction = true))
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

  /** Shared daemon pool for concurrent per-wave job submission. */
  val waveEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4, r => {
        val t = new Thread(r, "wave-io")
        t.setDaemon(true)
        t
      }))
}
