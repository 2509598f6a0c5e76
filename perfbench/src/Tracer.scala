package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** A span: one call the benchmark makes into a layer, or one Spark job.
  * Times are epoch milliseconds so benchmark spans and listener events
  * share one clock; `nanos` is the precise wall of a benchmark span.
  */
final class Span(val id: Int, val name: String, val run: String, val startMs: Long) {
  var parent: Int = -1
  var endMs: Long = -1L
  var nanos: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "run" -> run,
    "kind" -> "bench", "parent" -> parent, "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
}

/** Job-level record filled by the listener. Task metrics are summed over
  * the job's completed stages.
  */
final class JobRec(val id: Int, val stageName: String, val details: String, val startMs: Long,
                   val sqlExecution: Option[Long]) {
  @volatile var endMs: Long = -1L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var outputBytes = 0L
  var tasks = 0L
}

/** Spans around every benchmark call into a layer, plus a SparkListener
  * that turns each Spark job into a child span of the benchmark span that
  * was open when the job started (time containment, so jobs submitted by
  * the background compactor attach to whatever the driver loop was doing).
  * Everything stays in memory until `spans` is read at the end of the run.
  * A disabled tracer runs the body and records nothing, with no listener
  * attached.
  */
final class Tracer(sc: Option[SparkContext]) {
  private val bench = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sqlCallSite = new ConcurrentHashMap[Long, (String, String)]()
  @volatile private var attached = false
  /** Label stamped on spans opened from now on (warmup, untraced, traced). */
  var run: String = "warmup"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val rec = new JobRec(e.jobId, last.map(_.name).getOrElse("job"),
        last.map(_.details).getOrElse(""), e.time, exec)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlCallSite.put(s.executionId, (s.description, s.details))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val m = info.taskMetrics
      val j = stageJob.get(info.stageId)
      val rec = if (m == null) null else jobs.get(j)
      if (rec != null) rec.synchronized {
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.outputBytes += m.outputMetrics.bytesWritten
        rec.tasks += info.numTasks
      }
    }
  }

  /** Attach (true) or detach (false) the listener; drains the bus first so
    * no event of a traced span is lost.
    */
  def enable(on: Boolean): Unit = sc.foreach { c =>
    if (on != attached) {
      org.apache.spark.BenchAccess.drain(c)
      if (on) c.addSparkListener(listener) else c.removeSparkListener(listener)
      attached = on
    }
  }

  /** Run `f` inside a span named `name` when tracing; plain call otherwise. */
  def span[T](name: String)(f: => T): T =
    if (!attached) f
    else {
      val s = new Span(nextId, name, run, System.currentTimeMillis())
      nextId += 1
      s.parent = stack.headOption.map(_.id).getOrElse(-1)
      stack = s :: stack
      bench += s
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      try f
      finally {
        s.nanos = System.nanoTime() - t0
        s.endMs = System.currentTimeMillis()
        // exact counter delta: Histogram.getCount counts every update;
        // only its snapshot (mean, quantiles) is sampled
        s.attrs("codegen_compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        stack = stack.tail
      }
    }

  /** Completed jobs, after draining the listener bus. */
  def jobRecs: Seq[JobRec] = {
    sc.foreach(org.apache.spark.BenchAccess.drain)
    jobs.values.asScala.filter(_.endMs >= 0).toSeq.sortBy(_.id)
  }

  /** A job's SQL call site (e.g. `parquet at CrawlLoop.scala:220`): the
    * description of the SQL execution that ran it, so broadcast and
    * subquery jobs submitted from helper threads carry their query's call
    * site; the result stage's name otherwise.
    */
  def jobName(j: JobRec): String = sql(j).map(_._1).getOrElse(j.stageName)

  private def sql(j: JobRec): Option[(String, String)] =
    j.sqlExecution.flatMap(x => Option(sqlCallSite.get(x)))

  /** A job submitted by `CrawlLoop`'s background compactor (its call stack
    * runs through `compactFrom`).
    */
  def isCompaction(j: JobRec): Boolean =
    (j.details +: sql(j).map(_._2).toSeq).exists(_.contains("compactFrom"))

  /** Innermost benchmark span containing time `t` (-1 if none). */
  private def parentAt(t: Long): Int = {
    val hits = bench.filter(s => s.startMs <= t && (s.endMs < 0 || t <= s.endMs))
    if (hits.isEmpty) -1 else hits.maxBy(s => (s.startMs, s.id)).id
  }

  /** All spans, jobs included, as plain maps for the trace file. */
  def spans: Seq[Map[String, Any]] = {
    val jobSpans = jobRecs.map { j =>
      val p = parentAt(j.startMs)
      Map[String, Any]("id" -> s"job-${j.id}", "name" -> jobName(j), "kind" -> "job",
        "run" -> bench.find(_.id == p).map(_.run).getOrElse(run),
        "parent" -> p, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "compaction" -> isCompaction(j), "task_run_ms" -> j.runMs,
        "task_cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs, "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "output_bytes" -> j.outputBytes,
        "tasks" -> j.tasks)
    }
    bench.map(_.toMap).toSeq ++ jobSpans
  }
}

object Tracer {
  /** Total length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }
}
