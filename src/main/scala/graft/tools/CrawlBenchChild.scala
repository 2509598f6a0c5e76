package graft.tools

import org.apache.spark.sql.SparkSession
import graft.conf.ZenoConf
import graft.gen.Corpus
import graft.loop.CrawlLoop
import scala.jdk.CollectionConverters._

/** One timed crawl in a fresh JVM (spawned by graft.Bench) so JIT/GC state
  * never bleeds between the N-core and 4N-core measurements.
  * Prints CRAWL_PHASES <phase>=<secs>... (per-phase wall decomposition of
  * the timed waves) and exactly one line: CRAWL_RESULT <work> <secs>
  *
  * waves == 0 is corpus-build-only mode: write the corpus (if missing)
  * and exit — the campaign driver uses it for the untimed generation pass
  * at full parallelism instead of paying a whole crawl at the timed level.
  *
  * args: corpusDir cores waves nPages nHosts
  */
object CrawlBenchChild {
  def main(args: Array[String]): Unit = {
    val Array(corpusDir, coresS, wavesS, nPagesS, nHostsS) = args.take(5)
    val bodyBytes = if (args.length > 5) args(5).toInt else 12000
    val seedStep = if (args.length > 6) args(6).toInt else 4
    val cores = coresS.toInt
    // shuffle partitions scale with cores ×a fixed multiplier (same at
    // every level, like a real cluster's partitions ∝ total cores): >1
    // shrinks each reduce task's resident working set, trading task count
    // for cache locality under concurrent reducers
    val shufMult = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_MULT", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"zenospark-bench-child-$cores")
      .config("spark.sql.shuffle.partitions", cores * shufMult)
      // the per-wave delta is ONE partitionBy(row_type) write; the default
      // sort-based writer re-sorts every task's rows by partition value —
      // pure memory traffic. 8 concurrent open writers cover the 6
      // row_type values, skipping the sort entirely.
      .config("spark.sql.maxConcurrentOutputFileWriters",
        sys.env.getOrElse("SPARK_GRAFT_CONC_WRITERS", "8"))
      // AQE default OFF for the crawl: the wave DAG already fixes its join
      // strategies (explicit broadcast()/shuffle_hash hints) and handles
      // skew below the exchange (WindowGroupLimit), so adaptive re-planning
      // only adds per-stage driver serial — measured 3-6% slower at BOTH 2
      // and 8 cores (4 interleaved pairs, round 3)
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // identical at every level (like a real cluster's fixed split size).
      // Larger splits amortize fixed per-task cost (task deser includes a
      // gzip'd Hadoop-conf decode, ~3% of a 1-core wave at 8m), but an
      // interleaved 8m-vs-32m pair at 300k/1-core measured 32m ~12% WORSE
      // (Σ task run 144→166 s on identical work) — per-task run-time
      // inflation beats the overhead saved, so 8m stands.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "8m"))
      // vectorized-reader batch rows (identical at every level). The
      // corpus carries ~16 KB body blobs, so the default 4096-row batch
      // materializes ~64 MB per ColumnarBatch before the scan's consumer
      // touches row 0. A/B'd at 2.4M/4-core (interleaved, clean probes):
      // 512 rows = 223.6 s vs base 213.2 s (~5% WORSE — per-batch setup
      // overhead beats the locality win), 1024 = 214.1 s (neutral), so
      // the 4096 default stands; the knob stays for other body sizes
      .config("spark.sql.parquet.columnarReaderBatchSize",
        sys.env.getOrElse("SPARK_GRAFT_READER_BATCH", "4096"))
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // wave-write parquet codec (log + delta). Default snappy; zstd
      // trades CPU for bytes — on a shared-bus box the written bytes are
      // memory traffic (page cache), so a byte cut can relieve the
      // multi-thread level more than the CPU costs it
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
      .config("spark.sql.session.timeZone", "UTC")
      // whole-stage-codegen class cache (STATIC conf, default 100 entries).
      // One crawl wave compiles ~113 codegen units, so at the default size
      // the LRU evicts wave N's classes before wave N+1 re-requests them —
      // measured 226 Janino recompiles / ~1.5 s driver-serial per 2 timed
      // waves even with value-stable source text (LongParam). A long-lived
      // crawl loop re-executes the SAME plan shapes every wave; sizing the
      // cache past the working set makes every wave after the first a
      // cache hit.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val spec = Corpus.Spec(nPages = nPagesS.toLong, nHosts = nHostsS.toInt, bodyBytes = bodyBytes)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$corpusDir/pages")))
      Corpus.write(spark, corpusDir, spec)
    if (wavesS.toInt == 0) { // corpus-build-only pass
      println("CRAWL_RESULT 0 0.001")
      spark.stop()
      return
    }

    // budget 150/host/wave = the reference's token-bucket burst capacity
    // (rate-limit-capacity 150, cmd/get.go:114)
    val conf = ZenoConf(maxHops = 4, wavePeriodSeconds = 3.0)
    val seeds = (0L until spec.nPages by seedStep.toLong).map { i =>
      val (h, j) = Corpus.locate(i, spec)
      Corpus.pageUrl(h, j)
    }

    // in-JVM warmup: one wave on a throwaway store (JIT + page cache; the
    // fetch join streams the FULL corpus scan-side regardless of seed
    // count, so a 1/warmDiv-size seed set warms the page cache just as
    // well while the wave itself costs ~1/warmDiv of a timed one)
    val warmDiv = sys.env.getOrElse("SPARK_GRAFT_WARM_DIV", "8").toLong
    val warmSeeds = (0L until spec.nPages by (seedStep.toLong * warmDiv)).map { i =>
      val (h, j) = Corpus.locate(i, spec)
      Corpus.pageUrl(h, j)
    }
    // plan-shape pre-warm on a TINY throwaway corpus, 2 waves: wave ≥2
    // plans differ structurally from wave 1 (delete masks, bloom layers,
    // seed-count deltas exist only after a wave has committed), so a
    // 1-wave warmup leaves the steady-state shape's whole-stage codegen
    // uncompiled — measured ~1.4 s of pure driver-serial re-Janino per
    // timed run. Two waves here compile BOTH shapes for a few seconds of
    // child wall (the tiny corpus scan is negligible; the full-corpus warm
    // below still does the page-cache warming).
    // plan SHAPES don't depend on corpus or body size, so keep this as
    // small as the host/seed structure allows — at 1 core the prewarm's
    // jobs are pure serial child wall eaten out of the campaign budget
    // (measured 4000-page/16KB version: ~50 s of the 1-core anchor)
    val tinySpec = Corpus.Spec(nPages = 400, nHosts = 20, bodyBytes = 2000)
    val tinyCorpus = java.nio.file.Files.createTempDirectory("bench-warm-tinyc").toString
    Corpus.write(spark, tinyCorpus, tinySpec)
    val tinySeeds = (0L until tinySpec.nPages by seedStep.toLong).map { i =>
      val (h, j) = Corpus.locate(i, tinySpec)
      Corpus.pageUrl(h, j)
    }
    val tinyWork = java.nio.file.Files.createTempDirectory("bench-warm-tinyw").toString
    val tinyLoop = new CrawlLoop(spark, conf, tinyWork, tinyCorpus, Corpus.robotsMap(tinySpec))
    tinyLoop.init(tinySeeds)
    tinyLoop.run(2)

    val warmDir = java.nio.file.Files.createTempDirectory("bench-warm").toString
    val warmLoop = new CrawlLoop(spark, conf, warmDir, corpusDir, Corpus.robotsMap(spec))
    warmLoop.init(warmSeeds)
    warmLoop.run(1)

    val work = java.nio.file.Files.createTempDirectory(s"bench-crawl-$cores").toString
    val loop = new CrawlLoop(spark, conf, work, corpusDir, Corpus.robotsMap(spec))
    loop.init(seeds)
    // task-time accounting over the timed waves: Σ executor run/CPU/GC time
    // lets the campaign separate "threads were idle" (driver-serial floor /
    // scheduling gaps → low run/(cores·wall)) from "threads were busy but
    // slower" (memory-bus contention → run-time inflation on identical work)
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
    val taskGcMs = new java.util.concurrent.atomic.AtomicLong
    val taskN = new java.util.concurrent.atomic.AtomicLong
    // job intervals over the timed waves. Timed wall − their UNION = time
    // the driver spent OUTSIDE any running job — Catalyst optimize +
    // whole-stage codegen compile + commit + manifest IO — i.e. the
    // per-wave serial floor that caps N→4N scaling (task-time accounting
    // can't see it: no task is running). Jobs overlap (the wave-io pool,
    // the background compactor), so wall − Σ job wall can go negative.
    val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val jobStartTs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskRunMs.addAndGet(m.executorRunTime)
          taskCpuNs.addAndGet(m.executorCpuTime)
          taskGcMs.addAndGet(m.jvmGCTime)
          taskN.incrementAndGet()
        }
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobStartTs.put(e.jobId, e.time); ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = jobStartTs.remove(e.jobId)
        if (t0 != null) { jobSpans.add((t0.longValue, e.time)); () }
      }
    })
    // codegen-compile attribution over the timed waves: the Janino source
    // cache keys on generated source text, and any per-wave literal (wave
    // number, paths in scans don't reach codegen) forces a recompile of
    // every whole-stage unit — pure driver-serial that the job-wall gap
    // above cannot decompose on its own. Only the count is exact: the
    // compile-time histogram samples its values and keeps no sum.
    import org.apache.spark.metrics.source.CodegenMetrics
    val compile0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val counters = loop.run(wavesS.toInt)
    val secs = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    val compileN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compile0
    // union of the job intervals, clipped to the timed window
    val spans = jobSpans.asScala.toSeq
    var (busyMs, curEnd) = (0L, wall0)
    spans.map { case (a, b) => (math.max(a, wall0), math.min(b, wall1)) }.sortBy(_._1)
      .foreach { case (a, b) => if (b > curEnd) { busyMs += b - math.max(a, curEnd); curEnd = b } }
    val workDone = counters.map(c => c.claimed + c.queued + c.deduped).sum
    val phases = loop.phaseSums.toSeq.sortBy(_._1)
      .map { case (p, s) => f"$p=$s%.2f" }.mkString(" ")
    println(s"CRAWL_PHASES $phases")
    println(f"CRAWL_UTIL run=${taskRunMs.get / 1e3}%.1f cpu=${taskCpuNs.get / 1e9}%.1f " +
      f"gc=${taskGcMs.get / 1e3}%.1f tasks=${taskN.get}%d " +
      f"util=${taskRunMs.get / 1e3 / (cores * secs)}%.3f")
    println(f"CRAWL_DRIVER job_wall=${spans.map(s => s._2 - s._1).sum / 1e3}%.1f " +
      f"jobs=${spans.size}%d gap=${(wall1 - wall0 - busyMs) / 1e3}%.1f compile_n=$compileN%d")
    println(f"CRAWL_RESULT $workDone $secs%.3f")
    spark.stop()
    // the per-run crawl stores are ~GB-sized and a campaign forks many
    // children — delete them or the box's /tmp fills mid-campaign (the
    // shared corpus dir is the only thing worth keeping warm)
    Seq(tinyCorpus, tinyWork, warmDir, work).foreach(FsUtil.deleteRecursively)
  }
}
