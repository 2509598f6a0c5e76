package graft.conf

/** Crawl configuration surface, mirroring the reference defaults.
  *
  * Reference: /root/reference/cmd/get.go:44-137 (flag defaults) and
  * /root/reference/internal/pkg/config/config.go:302-406.
  */
final case class ZenoConf(
    maxHops: Int = 0,
    maxRedirect: Int = 20,
    maxCSSJump: Int = 10,
    maxURLLength: Int = 4000,
    maxSegmentRepetition: Int = 3,
    maxSegmentRepetitionThreshold: Int = 2,
    maxOutlinks: Int = 0, // 0 = unlimited
    rateLimitCapacity: Double = 150.0,
    rateLimitRefillRate: Double = 50.0,
    includeHosts: Seq[String] = Nil,
    includeStrings: Seq[String] = Nil,
    excludeHosts: Seq[String] = Nil,
    excludeStrings: Seq[String] = Nil,
    exclusionRegexes: Seq[String] = Nil,
    // reference always excludes its own infra:
    // /root/reference/internal/pkg/config/config.go:329
    defaultExcludedHosts: Seq[String] = Seq("archive.org", "archive-it.org"),
    strictRegex: Boolean = false,
    disableAssetsCapture: Boolean = false,
    domainsCrawl: Seq[String] = Nil,
    // politeness discretization: budget per host per wave (W2) =
    // refillRate * wavePeriodSeconds, capped at capacity
    wavePeriodSeconds: Double = 1.0,
    hostBuckets: Int = 64,
    // facebook post → embed-URL child (E18); upstream dispatch exists but
    // is commented out pending a status bug (postprocessor/item.go:57-69),
    // so default-off preserves reference crawl parity
    facebookEmbeds: Boolean = false,
    // discard hook chain (archiver/discard/discard.go:30-38): challenge
    // pages are always discarded; these two are flag-gated like the
    // reference's --warc-discard-status / --max-content-length
    warcDiscardStatus: Seq[Int] = Nil,
    maxContentLengthMiB: Int = 0, // 0 = unlimited
    bloomExpectedPerShard: Long = 100000L,
    bloomFpp: Double = 0.01,
    // mega-host skew salting for the claim window (north-star shape:
    // explicit salted host keys). 0/1 = off (Catalyst's WindowGroupLimit
    // already bounds a mega-host to ≤ budget rows per MAP partition; the
    // salt additionally spreads its REDUCE-side top-k over s reducers).
    // Claimed set is bit-identical on/off: phase 1 takes the per-(host,
    // salt) top-k, phase 2 re-ranks the ≤ s·k survivors per host — the
    // global per-host top-k under one total order either way.
    hostSaltBuckets: Int = 0
) {
  def perHostWaveBudget: Int =
    math.min(rateLimitCapacity, rateLimitRefillRate * wavePeriodSeconds).toInt.max(1)
}

object ZenoConf {
  val default: ZenoConf = ZenoConf()
}
