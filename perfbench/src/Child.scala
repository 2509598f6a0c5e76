package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    } finally s.close()
  }
}

/** `OracleData.Dir` (and `SparkEntry`'s copy of it) is an absolute path
  * fixed at compile time. The benchmark points both at the fixture tables
  * of the checkout it runs in, so the sweep reads the committed fixtures
  * and writes nothing outside the checkout.
  */
object OracleFixture {
  def redirect(dir: Path): Unit = {
    val d = dir.toAbsolutePath.normalize.toString
    require(Files.exists(dir.resolve("_SUCCESS")), s"oracle fixtures missing under $d")
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    val u = f.get(null).asInstanceOf[sun.misc.Unsafe]
    Seq("graft.gen.OracleData$" -> "Dir", "graft.SparkEntry$" -> "O").foreach { case (cls, name) =>
      val fld = Class.forName(cls).getDeclaredField(name)
      u.putObject(u.staticFieldBase(fld), u.staticFieldOffset(fld), d)
    }
    require(graft.gen.OracleData.Dir == d, "oracle fixture redirect failed")
  }
}

/** One benchmark child JVM. Writes a JSON result file for `run.py`.
  *
  * args: --workload W --variant V --seed S --seconds N --trace 0|1
  *       --cores C --root DIR --out FILE [--record 1] [--probe 1]
  */
object Child {
  final class Ctx(a: Map[String, String]) {
    val workload: String = a("workload")
    val variant: Int = a("variant").toInt
    val seed: Long = a("seed").toLong
    val seconds: Double = a("seconds").toDouble
    val trace: Boolean = a.getOrElse("trace", "0") == "1"
    val cores: Int = a("cores").toInt
    val record: Boolean = a.getOrElse("record", "0") == "1"
    val probe: Boolean = a.getOrElse("probe", "0") == "1"
    val root: Path = Paths.get(a("root")).toAbsolutePath.normalize
    val cache: Path = root.resolve(".bench_build").resolve("cache")
    val tmp: Path = Paths.get(System.getProperty("java.io.tmpdir"))
    val out: Path = Paths.get(a("out"))
    private val startNs = System.nanoTime()
    private val jvmUptime0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    /** Seconds since the JVM started. */
    def sinceStart: Double = jvmUptime0 / 1e3 + (System.nanoTime() - startNs) / 1e9

    def session(crawl: Boolean): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload-$cores")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", tmp.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val s = if (crawl) {
        // the crawl engine's tuned session (see graft.tools.CrawlBenchChild)
        b.config("spark.sql.shuffle.partitions", cores * 4)
          .config("spark.sql.maxConcurrentOutputFileWriters", "8")
          .config("spark.sql.adaptive.enabled", "false")
          .config("spark.sql.codegen.cache.maxEntries", "4096")
          .getOrCreate()
      } else {
        // the query sweep's session (see graft.Bench)
        b.config("spark.sql.shuffle.partitions", cores)
          .config("spark.sql.adaptive.enabled", "true")
          .getOrCreate()
      }
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def writeTrace(spans: Seq[Map[String, Any]]): Unit = {
      val p = Paths.get(out.toString.stripSuffix(".json") + ".trace.json")
      Child.json.writeValue(p.toFile, Map("workload" -> workload, "seed" -> seed, "spans" -> spans))
    }
  }

  val json: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Peak resident set of this JVM in MiB (Linux VmHWM). */
  def peakRssMb: Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val ctx = new Ctx(a)
    val res = ctx.workload match {
      case "prepare" => Crawl.prepare(ctx, a("variants").toInt)
      case "query_sweep" => Sweep.run(ctx)
      case w if Crawl.shapes.contains(w) => Crawl.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val rss = peakRssMb
    val probe =
      if (ctx.probe) {
        val (ser, par) = graft.Bench.windowProbe(4)
        Map("serial_s" -> ser, "parallel_s" -> par)
      } else Map.empty[String, Double]
    json.writeValue(ctx.out.toFile, res ++ Map("peak_rss_mb" -> rss, "probe" -> probe,
      "cores" -> ctx.cores))
  }
}
