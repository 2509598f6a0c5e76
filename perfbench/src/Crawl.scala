package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.conf.ZenoConf
import graft.gen.Corpus
import graft.loop.CrawlLoop
import org.apache.spark.metrics.source.CodegenMetrics

/** The closed-loop crawl workload: one driver thread runs one wave after
  * another through the public `CrawlLoop` entry points. A run is a warm-up
  * crawl (set-up) followed by timed episodes until the time budget is
  * spent; every episode starts a fresh store from the same seed list, so
  * every episode does identical work and its counters must repeat exactly.
  *
  * A traced run continues its last episode into the crawl's politeness-
  * bound tail (only the mega-host still has URLs, 150 per wave) until the
  * store has fragmented past the compaction threshold and the background
  * compactor has run: the loop and frontier layers are measured there.
  */
object Crawl {
  final case class Shape(name: String, nPages: Long, nHosts: Int, bodyBytes: Int,
                         seedStep: Int, waves: Int, tailWaves: Int) {
    def spec(variant: Int): Corpus.Spec = Corpus.Spec(nPages = nPages, nHosts = nHosts,
      bodyBytes = bodyBytes, seed = variant.toLong)
    def corpusKey(variant: Int): String = s"$name-$nPages-$nHosts-$bodyBytes-v$variant"
  }

  /** The north-star shape at 60% scale: 120k pages with 16 KB bodies over
    * 2400 hosts (the mega-host holds 30%), every 2nd page a seed; two timed
    * waves do 1.53M URLs of work. The full 200k-page shape made a traced run
    * (with its local[1] child) take 150-170 s of the 180 s a run may take.
    * The tail adds five waves, so the store passes the compaction threshold
    * after wave 6 and the compactor runs during wave 7.
    */
  val shapes: Map[String, Shape] = Map(
    "crawl_wide" -> Shape("crawl_wide", 120000L, 2400, 16000, seedStep = 2, waves = 2, tailWaves = 5))

  /** The warm-up crawls the same corpus from every 32nd seed for 2 waves:
    * both plan shapes (wave 1 and steady state) compile, the corpus is
    * scanned once, at a fraction of a timed episode's cost.
    */
  val warmWaves = 2
  val warmSeedDiv = 32

  /** 150 URLs per host per wave: the reference's token-bucket burst. */
  val conf: ZenoConf = ZenoConf(maxHops = 4, wavePeriodSeconds = 3.0)

  final class Episode {
    val counters = mutable.ArrayBuffer.empty[Seq[Long]]
    val stepSecs = mutable.ArrayBuffer.empty[Double]
    val stepWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    val stepCompiles = mutable.ArrayBuffer.empty[Long]
    var openSecs = 0.0
    var initSecs = 0.0
    var awaitSecs = 0.0
    var window: (Long, Long) = (0L, 0L)
    var rows0 = 0L
    var chainOk = true
    var compactions = 0
    var logBytes = 0L
    var deltaBytes = 0L
    var phases: Map[String, Double] = Map.empty
    def work: Long = counters.map(c => c(0) + c(3) + c(5)).sum // claimed + deduped + queued
    def toMap: Map[String, Any] = Map("counters" -> counters,
      "step_s" -> stepSecs, "open_s" -> openSecs, "init_s" -> initSecs,
      "await_s" -> awaitSecs, "work" -> work, "rows0" -> rows0, "chain_ok" -> chainOk,
      "compactions" -> compactions, "log_bytes" -> logBytes, "delta_bytes" -> deltaBytes,
      "phases" -> phases)
  }

  def seeds(spec: Corpus.Spec, step: Int): Seq[String] =
    (0L until spec.nPages by step.toLong).map { i =>
      val (h, j) = Corpus.locate(i, spec)
      Corpus.pageUrl(h, j)
    }

  /** Corpus dir for a shape and variant, written on first use (`prepare`)
    * and reused by later runs in the same checkout. Returns (dir, seconds
    * spent writing).
    */
  def corpus(spark: SparkSession, cacheRoot: Path, shape: Shape, variant: Int): (String, Double) = {
    val dir = cacheRoot.resolve("corpora").resolve(shape.corpusKey(variant))
    val ready = dir.resolve("_BENCH_READY")
    if (Files.exists(ready)) (dir.toString, 0.0)
    else {
      val t0 = System.nanoTime()
      Fs.delete(dir)
      Files.createDirectories(dir)
      Corpus.write(spark, dir.toString, shape.spec(variant))
      Files.createFile(ready)
      (dir.toString, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Writes the corpus of every shape for input variants 0 until `variants`. */
  def prepare(ctx: Child.Ctx, variants: Int): Map[String, Any] = {
    val spark = ctx.session(crawl = true)
    val secs = for (shape <- shapes.values.toSeq; v <- 0 until variants)
      yield corpus(spark, ctx.cache, shape, v)._2
    spark.stop()
    Map("gen_s" -> secs.sum)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def tableBytes(work: Path, suffix: String): Long = {
    val data = work.resolve("data")
    if (!Files.exists(data)) 0L
    else {
      val s = Files.list(data)
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.matches(s"w\\d+-$suffix")).map(dirBytes).sum
      finally s.close()
    }
  }

  /** One episode: open the corpus, seed a fresh store, run `waves` waves,
    * wait for background compaction. The store is left on disk for the
    * caller's checks and for `steps` to continue.
    */
  def episode(spark: SparkSession, tr: Tracer, corpusDir: String, spec: Corpus.Spec,
              seedUrls: Seq[String], waves: Int, work: Path): (Episode, CrawlLoop) = {
    val ep = new Episode
    val loop = tr.span("loop.episode") {
      var t = System.nanoTime()
      val loop = tr.span("loop.open") {
        new CrawlLoop(spark, conf, work.toString, corpusDir, Corpus.robotsMap(spec))
      }
      ep.openSecs = (System.nanoTime() - t) / 1e9
      t = System.nanoTime()
      tr.span("loop.init") { loop.init(seedUrls) }
      ep.initSecs = (System.nanoTime() - t) / 1e9
      steps(tr, loop, ep, waves, work)
      loop
    }
    ep.rows0 = loop.store.history.find(_.wave == 0).map(_.frontierRows).getOrElse(-1L)
    (ep, loop)
  }

  /** Runs up to `waves` more waves of `loop` into `ep`, then waits for the
    * background compactor; records the lineage figures of the store.
    */
  def steps(tr: Tracer, loop: CrawlLoop, ep: Episode, waves: Int, work: Path): Unit = {
    val w0 = System.currentTimeMillis()
    val phases0 = loop.phaseSums.toMap
    tr.span("loop.waves") {
      var more = true
      var n = 0
      while (more && n < waves) {
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val m0 = System.currentTimeMillis()
        val t1 = System.nanoTime()
        val r = tr.span("loop.step") { loop.step() }
        val secs = (System.nanoTime() - t1) / 1e9
        r match {
          case Some(c) =>
            ep.counters += Seq(c.claimed, c.fetched, c.failed, c.deduped,
              c.excluded, c.queued, c.seeds_finished, c.discarded)
            ep.stepSecs += secs
            ep.stepWindows += ((m0, System.currentTimeMillis()))
            ep.stepCompiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
            n += 1
          case None => more = false
        }
      }
      val t = System.nanoTime()
      tr.span("loop.await") { loop.awaitBackgroundWork() }
      ep.awaitSecs = (System.nanoTime() - t) / 1e9
    }
    ep.window = (w0, System.currentTimeMillis())
    ep.phases = loop.phaseSums.toMap.map { case (k, v) => k -> (v - phases0.getOrElse(k, 0.0)) }
    val hist = loop.store.history
    ep.compactions = hist.count(_.isCompaction)
    // live-row arithmetic along the committed lineage:
    // rows_after = rows_before − claimed + queued for every wave
    var prev = hist.find(_.wave == 0).map(_.frontierRows).getOrElse(-1L)
    hist.filter(s => s.wave > 0 && !s.isCompaction).sortBy(_.version).foreach { s =>
      val c = s.waveCounters
      val expect = prev - c.getOrElse("claimed", 0L) + c.getOrElse("queued", 0L)
      if (s.frontierRows != expect) ep.chainOk = false
      prev = s.frontierRows
    }
    ep.logBytes = tableBytes(work, "log")
    ep.deltaBytes = tableBytes(work, "delta")
  }

  /** Output checks on a finished store: the live frontier has no duplicate
    * `url_canon`, and its row count equals the seeded rows plus the
    * lineage's queued minus claimed.
    */
  def finalChecks(loop: CrawlLoop, rows0: Long, counters: Seq[Seq[Long]]): Map[String, Any] = {
    val f = loop.frontier
    val live = f.count()
    val dups = f.groupBy(col("url_canon")).count().filter(col("count") > 1).count()
    val expected = rows0 + counters.map(c => c(5) - c(0)).sum
    val snapRows = loop.store.latest.map(_.frontierRows).getOrElse(-1L)
    Map("live_rows" -> live, "expected_live_rows" -> expected,
      "snapshot_rows" -> snapRows, "dup_urls" -> dups)
  }

  /** Frontier-layer figures on the final snapshot of a finished store. */
  def frontierLayer(spark: SparkSession, tr: Tracer, loop: CrawlLoop, live: Long): Map[String, Double] = {
    val st = loop.store
    val snap = st.latest.get
    def files(paths: Seq[String]): Int = paths.map { p =>
      val d = Paths.get(p)
      if (!Files.exists(d)) 0
      else {
        val s = Files.walk(d)
        try s.iterator().asScala.count(x => x.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
    }.sum
    val scans = (0 until 3).map { _ =>
      val t = System.nanoTime()
      tr.span("frontier.scan") {
        st.readFrontier(spark, snap).write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t) / 1e9
    }
    val all = snap.frontier ++ snap.frontierDeletes ++ snap.seen ++ snap.bloom ++
      snap.hostState ++ snap.seedCounts
    val bytes = all.distinct.map(p => dirBytes(Paths.get(p))).sum
    Map(
      "frontier.scan_s" -> Stats.median(scans),
      "frontier.data_files" -> files(snap.frontier).toDouble,
      "frontier.delete_files" -> files(snap.frontierDeletes).toDouble,
      "frontier.seen_files" -> files(snap.seen).toDouble,
      "frontier.bloom_layers" -> snap.bloom.length.toDouble,
      "frontier.store_bytes" -> bytes.toDouble,
      "frontier.bytes_per_live_url" -> (if (live > 0) bytes.toDouble / live else 0.0))
  }

  private def jobsIn(eps: Seq[Episode], jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => eps.exists(_.stepWindows.exists { case (a, b) => j.startMs >= a && j.startMs <= b }))

  /** Wave-layer figures of the timed episodes, per wave. */
  def waveLayers(eps: Seq[Episode], jobs: Seq[JobRec], cores: Int): Map[String, Double] = {
    val waves = eps.map(_.counters.length).sum.max(1)
    val wall = eps.map(_.stepSecs.sum).sum
    val inSteps = jobsIn(eps, jobs)
    val runS = inSteps.map(_.runMs).sum / 1e3
    val cpuS = inSteps.map(_.cpuNs).sum / 1e9
    val work = eps.map(_.work).sum.max(1L)
    def tot(i: Int): Long = eps.flatMap(_.counters).map(_(i)).sum
    def phase(p: String): Double = eps.map(_.phases.getOrElse(p, 0.0)).sum / waves
    Map(
      "wave.log_write_s" -> phase("log-write"),
      "wave.delta_write_s" -> phase("delta-write"),
      "wave.seeds_finished_s" -> phase("seeds-finished"),
      "wave.task_run_s" -> runS / waves,
      "wave.task_cpu_s" -> cpuS / waves,
      "wave.gc_s" -> inSteps.map(_.gcMs).sum / 1e3 / waves,
      "wave.util" -> (if (wall > 0) runS / (cores * wall) else 0.0),
      "wave.cpu_per_run" -> (if (runS > 0) cpuS / runS else 0.0),
      "wave.shuffle_read_bytes" -> inSteps.map(_.shuffleRead).sum.toDouble / waves,
      "wave.shuffle_write_bytes" -> inSteps.map(_.shuffleWrite).sum.toDouble / waves,
      "wave.log_bytes_per_url" -> eps.map(_.logBytes).sum.toDouble / work,
      "wave.delta_bytes_per_url" -> eps.map(_.deltaBytes).sum.toDouble / work,
      // candidates that passed the filters = queued + deduped (claim-time
      // seen hits are 0 on a fresh store)
      "wave.queued_per_passed" -> tot(5).toDouble / math.max(1L, tot(5) + tot(3)),
      "wave.fetched_per_claimed" -> tot(1).toDouble / math.max(1L, tot(0)),
      // comparable with the untraced runs' step_p50_s: the tracing overhead
      "wave.step_p50_s" -> Stats.median(eps.flatMap(_.stepSecs)),
      "loop.init_s" -> Stats.median(eps.map(_.initSecs)))
  }

  /** Loop-layer figures of the tail waves: step walls, jobs, driver idle
    * (wall minus the union of job intervals), compaction (union of the
    * compactor's job intervals) and exact codegen compile deltas.
    */
  def loopLayers(tail: Episode, jobs: Seq[JobRec], tr: Tracer): Map[String, Double] = {
    val waves = tail.counters.length.max(1)
    val intervals = jobs.map(j => (j.startMs, j.endMs))
    val idle = tail.stepWindows.map { case (a, b) => ((b - a) - Tracer.unionMs(intervals, a, b)) / 1e3 }
    val compaction = Tracer.unionMs(jobs.filter(tr.isCompaction).map(j => (j.startMs, j.endMs)),
      tail.window._1, tail.window._2) / 1e3
    val steps = tail.stepSecs.toSeq
    Map(
      "loop.step_s" -> Stats.median(steps),
      "loop.step_max_s" -> steps.maxOption.getOrElse(0.0),
      "loop.jobs_per_wave" -> jobsIn(Seq(tail), jobs).length.toDouble / waves,
      "loop.driver_idle_s" -> idle.sum / waves,
      "loop.driver_idle_min_s" -> idle.minOption.getOrElse(0.0),
      "loop.compaction_s" -> compaction,
      "loop.compactions" -> tail.compactions.toDouble,
      "spark.codegen_compiles" -> tail.stepCompiles.sum.toDouble,
      "spark.codegen_compiles_min" -> tail.stepCompiles.minOption.getOrElse(0L).toDouble)
  }

  def run(ctx: Child.Ctx): Map[String, Any] = {
    val shape = shapes(ctx.workload)
    val spec = shape.spec(ctx.variant)
    val spark = ctx.session(crawl = true)
    val sessionS = ctx.sinceStart
    val (corpusDir, genS) = corpus(spark, ctx.cache, shape, ctx.variant)
    val tr = new Tracer(if (ctx.trace) Some(spark.sparkContext) else None)
    val seedUrls = seeds(spec, shape.seedStep)
    val stores = ctx.tmp.resolve("stores")
    var n = 0
    def freshStore(): Path = { n += 1; stores.resolve(s"ep$n") }

    if (ctx.record) {
      val work = freshStore()
      val (ep, loop) = episode(spark, tr, corpusDir, spec, seedUrls, shape.waves, work)
      val tail = new Episode
      steps(tr, loop, tail, shape.tailWaves, work)
      spark.stop()
      return Map("waves" -> ep.counters, "tail" -> tail.counters, "gen_s" -> genS)
    }

    // set-up: a warm-up crawl (JIT, codegen for the wave-1 and steady-state
    // plan shapes, page cache over the corpus)
    val tw = System.nanoTime()
    tr.run = "warmup"
    val warmSeeds = seedUrls.indices.by(warmSeedDiv).map(seedUrls)
    episode(spark, tr, corpusDir, spec, warmSeeds, warmWaves, freshStore())
    val warmS = (System.nanoTime() - tw) / 1e9
    Fs.delete(stores)

    tr.enable(ctx.trace)
    tr.run = if (ctx.trace) "traced" else "untraced"
    val eps = mutable.ArrayBuffer.empty[Episode]
    var last: (CrawlLoop, Path) = null
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (eps.isEmpty || System.nanoTime() < deadline) {
      if (last != null) Fs.delete(last._2)
      val work = freshStore()
      val (ep, loop) = episode(spark, tr, corpusDir, spec, seedUrls, shape.waves, work)
      eps += ep
      last = (loop, work)
    }
    val (loop, work) = last
    var counters = eps.last.counters.toSeq
    var tail: Option[Episode] = None
    var layers = Map.empty[String, Double]
    if (ctx.trace) {
      val t = new Episode
      tr.span("loop.tail") { steps(tr, loop, t, shape.tailWaves, work) }
      counters ++= t.counters
      tail = Some(t)
    }
    val checks = tr.span("bench.checks") { finalChecks(loop, eps.last.rows0, counters) }
    if (ctx.trace) {
      val jobs = tr.jobRecs
      layers ++= waveLayers(eps.toSeq, jobs, ctx.cores)
      layers ++= loopLayers(tail.get, jobs, tr)
      layers ++= frontierLayer(spark, tr, loop, checks("live_rows").asInstanceOf[Long])
      layers ++= Kernels.run(spec, ctx.seed, 1.0, tr)
      ctx.writeTrace(tr.spans)
    }
    // the stores stay for run.py to remove at its next run
    spark.stop()
    Map("session_s" -> sessionS, "gen_s" -> genS, "warm_s" -> warmS,
      "episodes" -> eps.map(_.toMap), "tail" -> tail.map(_.toMap), "final" -> checks,
      "layers" -> layers)
  }
}
