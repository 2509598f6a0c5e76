package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry

/** The query sweep: the 41 `SparkEntry.queries` plus the five scale twins
  * of the fixture-pinned dedup/ANN operators, in one local[4] session.
  * The first pass is set-up; at least one timed pass follows, more
  * while the time budget lasts. `TracedOnly` entries run in traced runs
  * only. Every pass consumes each entry's output as a row count and
  * content hash, which `run.py` checks against the recorded ones.
  */
object Sweep {
  type Query = (SparkSession, String) => DataFrame

  /** The scale twins: the same public operators the fixture queries pin,
    * run over the sf0.1 `documents` and `embeddings` tables (as `graft.Bench`
    * defines them).
    */
  val twins: Map[String, Query] = {
    def sf(s: SparkSession, dir: String, name: String) = s.read.parquet(s"$dir/$name.parquet")
    Map(
      "bench_minhash_sf" -> ((s, dir) =>
        graft.functions.Dedup.minhashSignatures(sf(s, dir, "documents"), k = 16)),
      "bench_simhash_sf" -> ((s, dir) =>
        graft.functions.Dedup.simhash(sf(s, dir, "documents"))),
      "bench_fingerprints_sf" -> ((s, dir) =>
        graft.functions.Dedup.fingerprints(sf(s, dir, "documents"))),
      "bench_ann_lsh_sf" -> ((s, dir) =>
        graft.functions.Similarity.cosineLshBuckets(sf(s, dir, "embeddings"),
          nBits = 12, dim = 64)
          .groupBy(col("lsh_bucket")).agg(count(lit(1)).as("n_vectors"))),
      "bench_ann_ivf_sf" -> ((s, dir) => {
        val e = sf(s, dir, "embeddings")
        graft.functions.Similarity.ivfTopK(e,
          e.filter(col("vec_id") < 10), k = 5, nCells = 8, nProbe = 3)
      }))
  }

  def entries: Map[String, Query] = SparkEntry.queries ++ twins

  /** Entries run only in a traced run, once, after the timed passes:
    * `crawl_2waves` is two full crawl waves on the fixture corpus (the wave
    * code `crawl_wide` measures), cold it costs a third of the cold pass,
    * and an untraced run leaves it out.
    */
  val TracedOnly: Set[String] = Set("crawl_2waves")

  /** Entries whose warm-pass time makes up `dedup_s`. */
  def isDedup(name: String): Boolean =
    Seq("dedup_", "minhash_", "ann_", "bench_").exists(name.startsWith) ||
      name == "simhash_docs" || name == "doc_fingerprints"

  /** Order-insensitive content digest: (rows, Σ xxhash64 of each row as a
    * decimal). Floating-point columns are rounded to 6 decimals first and
    * maps are compared through their JSON form.
    */
  def digest(df: DataFrame): (Long, String) = {
    val n = df.columns.length
    val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6)
        case _: MapType => to_json(col(f.name))
        case ArrayType(FloatType | DoubleType, _) =>
          transform(col(f.name), x => round(x.cast(DoubleType), 6))
        case _ => col(f.name)
      }
    }
    val r = renamed.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  /** Runs one entry to completion, consuming its output as a digest. Every
    * entry starts from a collected heap, so the garbage an earlier entry
    * left does not land in its time.
    */
  private def timed(tr: Tracer, name: String, q: Query, spark: SparkSession,
                    dir: String): (Double, (Long, String)) = {
    System.gc()
    val t = System.nanoTime()
    val d = tr.span(s"query.$name") { digest(q(spark, dir)) }
    ((System.nanoTime() - t) / 1e9, d)
  }

  def run(ctx: Child.Ctx): Map[String, Any] = {
    OracleFixture.redirect(ctx.root.resolve("data").resolve("oracle"))
    // the sf0.1 tables graft.Bench runs over (documents, embeddings,
    // lineitem, events), committed beside the benchmark
    val dir = ctx.root.resolve("perfbench").resolve("sf0.1").toString
    require(Files.exists(Paths.get(dir, "lineitem.parquet")), s"sf0.1 tables missing under $dir")
    val spark = ctx.session(crawl = false)
    val sessionS = ctx.sinceStart
    val all = entries
    val order = new scala.util.Random(ctx.seed).shuffle(all.keys.toSeq.sorted)
    val tr = new Tracer(if (ctx.trace) Some(spark.sparkContext) else None)

    type Pass = Seq[(String, (Double, (Long, String)))]
    def pass(names: Seq[String]): Pass = names.map(n => n -> timed(tr, n, all(n), spark, dir))

    if (ctx.record) {
      val d = pass(order).map { case (n, (_, dg)) => n -> dg }.toMap
      spark.stop()
      return Map("digests" -> d)
    }

    // every pass, the cold one included, digests every entry's output
    tr.run = "warmup"
    val tc = System.nanoTime()
    val warm = order.filterNot(TracedOnly)
    val cold = pass(warm)
    val coldS = (System.nanoTime() - tc) / 1e9

    tr.enable(ctx.trace)
    tr.run = if (ctx.trace) "traced" else "untraced"
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() < deadline)
      passes += tr.span("query.pass") { pass(warm) }
    var layers = Map.empty[String, Double]
    var extra: Pass = Nil
    if (ctx.trace) {
      val jobs = tr.jobRecs // the timed passes' jobs
      extra = pass(order.filter(TracedOnly))
      val secs = passes.toSeq.map(_.map(e => e._1 -> e._2._1).toMap)
      warm.foreach(n => layers += s"q.${n}_s" -> Stats.median(secs.map(_(n))))
      extra.foreach { case (n, (t, _)) => layers += s"q.${n}_s" -> t }
      layers += "query.shuffle_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble / passes.length
      layers += "sweep_s" -> Stats.median(secs.map(_.values.sum))
      layers += "dedup_s" -> Stats.median(secs.map(_.filter(e => isDedup(e._1)).values.sum))
      layers ++= Kernels.run(Crawl.shapes("crawl_wide").spec(ctx.variant), ctx.seed, 1.0, tr)
      ctx.writeTrace(tr.spans)
    }
    spark.stop()
    def asMaps(p: Pass) =
      (p.map(e => e._1 -> e._2._1).toMap, p.map(e => e._1 -> e._2._2).toMap)
    Map("session_s" -> sessionS, "cold_s" -> coldS,
      "cold_digests" -> asMaps(cold)._2,
      "passes" -> passes.map { p =>
        val (q, d) = asMaps(p)
        Map("q" -> q, "digests" -> d)
      },
      "traced_only_digests" -> asMaps(extra)._2,
      "layers" -> layers)
  }
}
