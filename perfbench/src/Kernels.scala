package perfbench

import graft.canon.Canon
import graft.conf.ZenoConf
import graft.extract.{Extract, PageInput}
import graft.gen.Corpus

/** Spark-free single-thread loops over the two per-row kernels of the
  * wave: `Extract.page` (KiB/s of body, the unit of the reference's own
  * outlink benchmark) and `Canon.canonicalize` (URLs/s) on the links the
  * extractor found. Pages are sampled by seed from a crawl corpus spec.
  */
object Kernels {
  final case class Sample(page: PageInput, bytes: Int)

  def samples(spec: Corpus.Spec, seed: Long, n: Int): Array[Sample] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually(math.floorMod(rnd.nextLong(), spec.nPages))
      .map(i => Corpus.pageFor(i, spec))
      .filter(_._2.status_code == 200)
      .take(n)
      .map { case (p, m) =>
        Sample(PageInput(p.url, Option(m.content_type).getOrElse(""),
          Option(m.server).getOrElse(""), Option(m.link_header).getOrElse(""),
          Option(p.text).getOrElse(""), bodyBytes = p.html), p.html.length)
      }.toArray
  }

  /** Runs `body` over and over until `seconds` have passed (at least once);
    * returns (passes, seconds).
    */
  private def timedLoop(seconds: Double)(body: => Unit): (Int, Double) = {
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || System.nanoTime() - t0 < seconds * 1e9) {
      body
      passes += 1
    }
    (passes, (System.nanoTime() - t0) / 1e9)
  }

  def run(spec: Corpus.Spec, seed: Long, seconds: Double, tr: Tracer): Map[String, Double] = {
    val conf = ZenoConf(maxHops = 4)
    val pages = samples(spec, seed, 300)
    def extractAll(): Array[(String, Seq[String])] = pages.map { s =>
      val r = Extract.page(s.page, conf)
      (s.page.url, r.outlinks ++ r.assets ++ r.atImports)
    }
    val links = extractAll() // warm-up pass, and the canon input
    val nLinks = links.map(_._2.size).sum
    val (ePasses, eSecs) = tr.span("extract.page") { timedLoop(seconds)(extractAll()) }
    val bytes = pages.map(_.bytes.toLong).sum
    val pairs = links.flatMap { case (parent, ls) => ls.map(l => (l, Some(parent))) }
    var rejects = 0L
    def canonAll(): Unit = {
      var r = 0L
      pairs.foreach { case (l, p) => if (Canon.canonicalize(l, p, conf).isLeft) r += 1 }
      rejects = r
    }
    canonAll()
    val (cPasses, cSecs) = tr.span("canon.canonicalize") { timedLoop(seconds)(canonAll()) }
    Map(
      "extract.kib_per_s" -> bytes * ePasses / 1024.0 / eSecs,
      "extract.links_per_page" -> nLinks.toDouble / pages.length,
      "canon.urls_per_s" -> pairs.length.toDouble * cPasses / cSecs,
      "canon.reject_ratio" -> (if (pairs.isEmpty) 0.0 else rejects.toDouble / pairs.length))
  }
}
