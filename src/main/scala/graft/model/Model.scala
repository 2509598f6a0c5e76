package graft.model

/** Core row types (explicit schemas — the reference defines all schemas in
  * code, never inferred: /root/reference/internal/pkg/source/lq/schema.sql:1-11,
  * /root/reference/pkg/models/item.go:15-25, url.go:20-37).
  */

/** One page of the Common-Crawl-style corpus — exactly the driver-mandated
  * shape (BASELINE.json:input_hint).
  */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** Synthetic fetch metadata side-table: HTTP-level attributes the crawler
  * reads (status/redirects/content-type/server/link header). Replaces the
  * live HTTP client (/root/reference/internal/pkg/archiver/general/archiver.go).
  */
final case class FetchMeta(
    url: String,
    status_code: Int,
    content_type: String,
    server: String,
    link_header: String,
    location: String, // 3xx redirect target ("" if none)
    // cloudflare mitigation header ("challenge" on challenge pages —
    // discard/discarder/cloudflare/cloudflare.go:13-18)
    cf_mitigated: String = ""
)

/** One frontier row. The reference's per-seed Item tree
  * (pkg/models/item.go:15-25) is encoded relationally:
  * kind ∈ {seed, asset, redirect}, depth = tree depth, hops = page jumps.
  * Claim order mirrors the LQ queue: hops ASC, ts ASC
  * (internal/pkg/source/lq/query.sql:1-5).
  */
final case class FrontierRow(
    id: String, // stable id = url_canon (UNIQUE like schema.sql:9)
    url: String, // raw as discovered
    url_canon: String,
    host: String,
    host_bucket: Int,
    seed_id: String, // root seed url_canon
    via: String, // parent URL ("" for inserted seeds)
    kind: String, // seed | asset | redirect
    depth: Int, // edges from seed root
    hops: Int,
    redirects: Int,
    css_jump: Int,
    ts: Long // enqueue wave (FIFO tiebreak)
)

/** URL-seen set row, fnv64a-keyed like the reference's LevelDB seencheck
  * (internal/pkg/preprocessor/seencheck/seencheck.go:35-47).
  */
final case class SeenRow(url_hash: Long, kind: String, host_bucket: Int)

/** Per-host politeness state, the wave-discretized token bucket
  * (internal/pkg/archiver/ratelimiter/ratelimiter.go:24-37, adjust.go:9-60).
  */
final case class HostState(
    host: String,
    refill_rate: Double,
    ideal_rate: Double,
    penalty_until: Long, // wave number until which the host is paused
    failure_count: Int
)

/** Robots rule row. The reference has no robots.txt support (verified by
  * repo-wide grep); the north_rule requires it, so rules are broadcast-
  * joined with allow-all as the reference-equivalent default.
  */
final case class RobotsRule(host: String, path_prefix: String, allow: Boolean)

/** Per-wave counters mirroring the reference's stats module
  * (internal/pkg/stats/stats.go:13-37).
  */
final case class CounterRow(
    wave: Int,
    claimed: Long,
    fetched: Long,
    failed: Long,
    deduped: Long,
    excluded: Long,
    queued: Long,
    seeds_finished: Long,
    // responses blocked by the discard hook chain (challenge pages,
    // discard-status, over-length bodies) — archiver.go:136-141
    discarded: Long = 0L
) {
  /** The manifest's `wave_counters` entry: every counter but `wave`. */
  def waveCounters: Map[String, Long] =
    CounterRow.names.zip(productIterator.drop(1).map(_.asInstanceOf[Long])).toMap
}

object CounterRow {
  /** Counter names in field order — the `wave_counters` keys. */
  val names: Seq[String] = CounterRow(0, 0, 0, 0, 0, 0, 0, 0).productElementNames.drop(1).toSeq

  /** Inverse of [[CounterRow.waveCounters]]; absent keys count 0. */
  def fromWaveCounters(wave: Int, m: Map[String, Long]): CounterRow = {
    val v = names.map(m.getOrElse(_, 0L))
    CounterRow(wave, v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
  }
}
