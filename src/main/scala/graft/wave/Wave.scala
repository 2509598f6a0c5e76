package graft.wave

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.conf.ZenoConf
import graft.spark.Udfs

/** One crawl wave as a pure DataFrame → DataFrames transform, split in two
  * phases around the lineage writes so the expensive extraction runs once:
  *
  *   run():    claim (S3/W1/W2: windowed per-host rank) → seencheck (J3:
  *             scan-side lookup vs seen) → fetch (S11: claimed ⟕ url-
  *             bucketed corpus) → extract (E1-E17: UDF + explode) →
  *             canonicalize+filter (F1-F9) → robots (J7: broadcast) →
  *             one unified log DataFrame.
  *   finish(): from the *written* logs: per-seed dedupe (J1: window) →
  *             batch + frontier + seen dedupe (J2/J3: window + left-anti)
  *             → enqueue rows + seen appends.
  *
  * Scale notes (10^10 frontier, 1000 executors):
  *  - claim is ONE shuffle keyed by host; skew safety via Catalyst's
  *    WindowGroupLimit (map-side per-host limit below the exchange), so a
  *    mega-host contributes ≤ k rows per map partition (SURVEY.md §4).
  *  - the corpus NEVER shuffles. It is url-bucketed (Corpus.writeWeb,
  *    ≙ Iceberg bucket(N, url)), so the fetch is ONE left-outer
  *    ShuffledHashJoin building on the wave-sized claimed side (build-side
  *    outer tracking): only the claimed rows exchange — no driver-serial
  *    broadcast build — and unmatched claimed rows surface as FAILED
  *    (connection errors) in the same pass. WavePlanSpec asserts no
  *    Exchange ever sits above the corpus scan.
  *  - the seen set NEVER shuffles and is never re-aggregated globally: the
  *    exact check is seen ⋈ broadcast(candidate hashes) INNER (seen
  *    streams scan-side, column-pruned to url_hash/kind), aggregated to a
  *    tiny (url_hash, max kind) lookup that broadcasts back to the
  *    candidates. Bloom shards pre-shrink the candidate hash set.
  *  - the log writes double as checkpoint lineage AND cut re-computation;
  *    nothing collects to the driver except counters.
  */
object Wave {

  /** Column sets of the unified wave log. Claimed rows populate the first
    * block (candidate columns null), candidate rows the second (claimed
    * columns null, parent_* carrying the claiming row's lineage).
    */
  val claimedCols: Seq[String] = Seq(
    "url_canon", "host", "host_bucket", "seed_id", "kind", "depth", "hops",
    "redirects", "css_jump", "ts", "url_hash", "check_kind", "disposition",
    "status_code", "discard_reason", "n_outlinks", "n_assets")
  val candCols: Seq[String] = Seq(
    "parent_canon", "parent_seed", "parent_depth", "parent_hops",
    "parent_redirects", "parent_css_jump", "raw_link", "link_kind",
    "href", "chost", "cand_disposition")

  final case class WaveLogs(
      unified: DataFrame, // ONE row_type-tagged log (claimed ∪ cand rows),
      // produced in a SINGLE pass: each fetched row's links array explodes
      // in-pipeline to [1 claimed row] ++ [N candidate rows], so the log
      // write traverses the fetch+extract exactly once with NO block-store
      // cache of the fat links arrays in between (the former persist wrote
      // and re-read every candidate byte through the memory bus — pure
      // contention at high thread counts)
      cached: Seq[DataFrame] // handles for unpersist after log writes
  ) {
    /** Claimed-row view (disposition FETCHED/REDIRECT/FAILED/DISCARDED/SEEN). */
    def claimedLog: DataFrame = unified
      .filter(col("row_type") === "claimed").select(claimedCols.map(col): _*)
    /** Candidate-row view (cand_disposition + parent lineage). */
    def candidateLog: DataFrame = unified
      .filter(col("row_type") === "cand").select(candCols.map(col): _*)
  }

  /** Storage encoding for the written wave log — the log is by far the
    * largest per-wave write (every candidate row with full parent
    * lineage), and three of its URL-string columns are redundant on most
    * rows. At rest:
    *   - seed_id       → null when == url_canon (every seed-kind claimed
    *                     row: a seed is its own seed)
    *   - parent_seed   → null when == parent_canon (candidate rows whose
    *                     parent IS a seed — all of wave 1, most of any
    *                     BFS frontier)
    *   - raw_link      → null when == href (absolute links that
    *                     canonicalize to themselves)
    *   - cand_disposition → tiny-int code (closed 11-value set; a plain
    *                     int writer beats the per-value binary dictionary
    *                     probe on tens of millions of rows)
    * [[decodeLog]] restores the exact logical schema; encode∘decode is
    * identity (LogCodecSpec).
    */
  def encodeLog(unified: DataFrame): DataFrame = {
    val e = unified
      .withColumn("seed_id", when(col("seed_id") === col("url_canon"), lit(null)
        .cast("string")).otherwise(col("seed_id")))
      .withColumn("parent_seed", when(col("parent_seed") === col("parent_canon"),
        lit(null).cast("string")).otherwise(col("parent_seed")))
      .withColumn("raw_link", when(col("raw_link") === col("href"),
        lit(null).cast("string")).otherwise(col("raw_link")))
    e.withColumn("cand_disposition", CandDisp.toCode(col("cand_disposition")))
  }

  /** Inverse of [[encodeLog]] — apply to the log parquet right after
    * reading; every consumer sees the logical schema.
    */
  def decodeLog(df: DataFrame): DataFrame = df
    .withColumn("seed_id", coalesce(col("seed_id"), col("url_canon")))
    .withColumn("parent_seed", coalesce(col("parent_seed"), col("parent_canon")))
    .withColumn("raw_link", coalesce(col("raw_link"), col("href")))
    .withColumn("cand_disposition", CandDisp.fromCode(col("cand_disposition")))

  /** Read-side schema of the encoded log: as written, cand_disposition is
    * the tiny-int code column.
    */
  def encodedLogSchema(unified: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(unified.fields.map { f =>
      if (f.name == "cand_disposition")
        f.copy(dataType = org.apache.spark.sql.types.ByteType)
      else f
    })

  /** Closed candidate-disposition vocabulary (F1-F9 + robots outcomes —
    * Canon.Reject is sealed, so the REJECT_* arm is exhaustive).
    */
  object CandDisp {
    val values: Seq[String] = Seq(
      "PASS", "EXCLUDED", "EXCLUDED_FP_ASSET", "EXCLUDED_CSS_JUMP",
      "EXCLUDED_ROBOTS", "REJECT_PARSE_ERROR", "REJECT_UNSUPPORTED_SCHEME",
      "REJECT_UNSUPPORTED_HOST", "REJECT_TOO_LONG", "REJECT_PATH_LOOP",
      "REJECT_NO_PARENT")
    val passCode: Int = 0
    def toCode(c: Column): Column = values.zipWithIndex
      .foldLeft(when(c.isNull, lit(null).cast("int"))) { case (acc, (v, i)) =>
        acc.when(c === v, lit(i))
      } // a disposition outside the closed set is a bug, not data to drop
      .otherwise(raise_error(concat(lit("unknown cand_disposition: "), c)).cast("int"))
      .cast("byte")
    def fromCode(c: Column): Column = {
      val m = map(values.zipWithIndex
        .flatMap { case (v, i) => Seq(lit(i.toByte), lit(v)) }: _*)
      element_at(m, c.cast("byte"))
    }
  }

  /** Phase-2 output: rows to enqueue (J1/J2/J3-deduped) + seen appends. */
  final case class FinishResult(
      enqueued: DataFrame, // new frontier rows (append delta, NOT a rewrite)
      seenAppend: DataFrame,
      cached: Seq[DataFrame]
  )

  /** Exact seen lookup WITHOUT shuffling or re-aggregating the seen set:
    * seen streams scan-side (column-pruned to url_hash/kind) through an
    * inner/semi join against the broadcast candidate hashes; only the
    * matches — bounded by |keys| — are aggregated to (url_hash, max kind).
    * The result is small enough to broadcast back to the candidates.
    * Max-kind realizes the asset→seed promotion rule: "seed" > "redirect"
    * > "asset" lexically, matching seencheck.go:110-115.
    */
  def seenLookup(seen: DataFrame, keys: DataFrame): DataFrame =
    seen
      // no .distinct() on the keys: the broadcast hash build dedupes
      // anyway, and a distinct would add an exchange + agg per lookup
      .join(broadcast(keys.select(col("url_hash"))), Seq("url_hash"), "left_semi")
      .groupBy(col("url_hash")).agg(max(col("kind")).as("seen_kind"))

  def run(
      spark: SparkSession,
      conf: ZenoConf,
      wave: Int,
      frontier: DataFrame, // FRESH rows (merge-on-read view)
      seen: DataFrame, // raw append-only (url_hash, kind, host_bucket)
      hostState: DataFrame, // penalties
      web: DataFrame, // merged corpus (url, warc_ts, html, text, lang, status_code, content_type, server, link_header, location)
      robots: Map[String, Seq[(String, Boolean)]],
      bloom: Option[graft.frontier.BloomShards.Ref] = None,
      checkSeenAtClaim: Boolean = true
  ): WaveLogs = {
    import spark.implicits._

    val canonUdf = Udfs.canonicalizer(conf)
    val filterUdf = Udfs.filterTest(conf)
    val extractUdf = Udfs.extractor(conf)
    val robotsUdf = Udfs.robotsAllow(robots)

    // ---- politeness gate (R2 discretized): drop penalized hosts ----
    val penalized = hostState
      .filter($"penalty_until" > graft.spark.LongParam.col(wave.toLong))
      .select($"host")
    val eligible = frontier.join(broadcast(penalized), Seq("host"), "left_anti")

    // ---- claim (W1+W2): per-host top-k in ONE shuffle. Skew safety comes
    //      from Catalyst's WindowGroupLimit rule (Spark 3.5+): rank<=k
    //      predicates push a map-side per-group limit below the exchange,
    //      so a mega-host contributes at most k rows per input partition
    //      to the shuffle — the salted two-phase top-k built in (visible
    //      as WindowGroupLimit in the plan; asserted by PlanCheck) ----
    val k = conf.perHostWaveBudget
    val orderCols = Seq($"hops".asc, $"ts".asc, $"url_canon".asc)
    val claimed =
      if (conf.hostSaltBuckets > 1) {
        // explicit mega-host salting (flag-gated; see ZenoConf): phase 1
        // ranks per (host, salt) — its exchange spreads a mega-host over s
        // reducers and keeps the map-side WindowGroupLimit — phase 2
        // re-ranks the ≤ s·k per-host survivors for the exact same claimed
        // set as the unsalted window (one total order; SaltedClaimSpec
        // pins on/off equivalence on the mega-host fixture)
        val s = conf.hostSaltBuckets
        eligible
          .withColumn("host_salt", pmod(Udfs.fnv64($"url_canon"), lit(s.toLong)))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"host", $"host_salt").orderBy(orderCols: _*)))
          .filter($"rn" <= k).drop("rn")
          .withColumn("rn", row_number().over(
            Window.partitionBy($"host").orderBy(orderCols: _*)))
          .filter($"rn" <= k).drop("rn", "host_salt")
      } else eligible
        .withColumn("rn", row_number().over(
          Window.partitionBy($"host").orderBy(orderCols: _*)))
        .filter($"rn" <= k).drop("rn")

    // ---- seencheck at claim (J3). In steady state the enqueue-time
    //      pruning (finish()) guarantees claimed rows were never seen, so
    //      the check runs only on the FIRST wave after open/resume (stale-
    //      snapshot guard). Bloom shards pre-shrink the lookup key set;
    //      bloom-negatives simply miss the broadcast lookup (null kind) ----
    val checkKind = when($"kind" === "seed", "seed").otherwise("asset")
    val hashed = claimed
      .withColumn("url_hash", Udfs.fnv64($"url_canon"))
      .withColumn("check_kind", checkKind)
      // pruned to what the logs + children read: id/url/via ride the
      // frontier for lineage but are dead weight in the claim cache and
      // the fetch join's shuffle payload
      .select($"url_canon", $"host", $"host_bucket", $"seed_id", $"kind",
        $"depth", $"hops", $"redirects", $"css_jump", $"ts", $"url_hash",
        $"check_kind")
      // claimed is small (hosts × budget) and feeds several branches (seen
      // check keys, lookup join, fetch join, SEEN rows) — cache it once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val checked =
      if (!checkSeenAtClaim) hashed.withColumn("is_seen", lit(false))
      else {
        // bloom pre-shrink on narrow keys (cogroup — filter bytes touched
        // once per bucket, not per row); bloom-negatives simply miss the
        // broadcast lookup and stay is_seen = false
        val maybeKeys = graft.frontier.BloomShards.maybeSeenKeys(
          hashed.select($"url_hash", $"host_bucket"), bloom)
        val lookup = seenLookup(seen, maybeKeys)
        hashed.join(broadcast(lookup), Seq("url_hash"), "left")
          .withColumn("is_seen",
            $"seen_kind".isNotNull &&
              !($"seen_kind" === "asset" && $"check_kind" === "seed"))
          .drop("seen_kind")
      }

    // ---- fetch (S11): the corpus streams scan-side and NEVER shuffles.
    //      It is bucketed on url (Iceberg bucket(N, url) layout), so the
    //      join is a left-outer ShuffledHashJoin where ONLY the small
    //      claimed side exchanges to the corpus's bucketing and builds the
    //      hash table (build-side outer tracking) — no driver-serial
    //      broadcast build. Claimed URLs absent from the corpus (≙
    //      connection errors) surface with null corpus columns and become
    //      FAILED below, in the same pass ----
    val fetchable = checked.filter(!$"is_seen")
    val seenRows = checked.filter($"is_seen")
    val webR = web.withColumnRenamed("url", "page_url")
    val joined = fetchable.hint("shuffle_hash")
      .join(webR, fetchable("url_canon") === col("page_url"), "left_outer")
    val isMiss = $"page_url".isNull // connection error
    // ---- discard hook chain (archiver/discard/discard.go:30-38), first
    //      matching hook wins: cloudflare challenge (403 + cf-mitigated:
    //      challenge), akamai challenge (403 + Server: AkamaiGHost), then
    //      the flag-gated status-list and content-length discarders. A
    //      discarded response is never extracted and the item fails
    //      terminally (archiver.go:136-141; retries cannot change a static
    //      corpus response) ----
    val discardChain = Seq[(Column, String)](
      ($"status_code" === 403 && $"cf_mitigated" === "challenge", "challenge_cloudflare"),
      ($"status_code" === 403 && $"server" === "AkamaiGHost", "challenge_akamai")) ++
      (if (conf.warcDiscardStatus.nonEmpty)
        Seq(($"status_code".isin(conf.warcDiscardStatus.map(Integer.valueOf): _*),
          "warc_discard_status": String))
      else Nil) ++
      (if (conf.maxContentLengthMiB > 0)
        Seq((length($"html") > conf.maxContentLengthMiB.toLong * 1024 * 1024,
          "content_length": String))
      else Nil)
    val discardReason = discardChain.foldRight(lit(null).cast("string")) {
      case ((cond, reason), rest) => when(cond, reason).otherwise(rest)
    }
    val hits = joined
      .withColumn("status_code",
        when(isMiss, lit(null).cast("int"))
          .otherwise(coalesce($"status_code", lit(200))))
      .withColumn("discard_reason",
        when(isMiss, lit(null).cast("string")).otherwise(discardReason))
      .withColumn("disposition",
        when(isMiss, "FAILED")
          .when($"discard_reason".isNotNull, "DISCARDED")
          .when($"status_code" >= 400, "FAILED")
          .when($"status_code" >= 300, "REDIRECT")
          .otherwise("FETCHED"))

    // ---- extraction gates (postprocessor/item.go:72-89, outlinks.go:151-163).
    //      Domains-crawl bypasses BOTH gates for every fetched page (the
    //      reference extracts unconditionally so in-scope outlinks on
    //      non-matching pages are never missed; the hop budget is then
    //      enforced at enqueue in finish(), item.go:141-147) ----
    val domainsEnabled = conf.domainsCrawl.nonEmpty
    val doAssets =
      $"disposition" === "FETCHED" &&
        (lit(domainsEnabled) || // item.go:77 domainscrawl bypass
          (lit(!conf.disableAssetsCapture) &&
            ($"depth" - $"redirects") <= 2)) // asset recursion gate
    val doOutlinks =
      $"disposition" === "FETCHED" &&
        (lit(domainsEnabled) || $"hops" < conf.maxHops)

    // E1-E15 dispatch (charset handled inside, E6). The extraction output
    // feeds the unified log in ONE pipelined pass (links explode in-flight,
    // see the fused log below), so there is NO persist: a cache would
    // materialize every candidate byte into the block store and read it
    // back (two full passes of memory traffic), the single biggest
    // bus-contention source at high thread counts.
    val extracted = hits
      .withColumn("do_assets", doAssets)
      .withColumn("do_outlinks", doOutlinks)
      // the extractor reads `text` only when `html` is null (bodyBytes
      // wins inside Extract.page), but the ScalaUDF boundary eagerly
      // converts every non-null argument UTF8String→String — masking the
      // column here skips a ~KB copy per fetched row
      .withColumn("links",
        extractUdf($"url_canon", $"html", when($"html".isNull, $"text"),
          $"content_type", $"server",
          $"link_header", $"do_assets", $"do_outlinks"))
      .select($"url_canon", $"host", $"host_bucket", $"seed_id", $"kind",
        $"depth", $"hops", $"redirects", $"css_jump", $"ts", $"url_hash",
        $"check_kind", $"disposition", $"status_code", $"discard_reason",
        $"location", $"links")

    // ---- fused unified log: ONE pipelined pass. Every extracted row
    //      explodes to [sentinel → the claimed row] ++ [its candidate
    //      children: outlinks/assets (E1-E15) + E16 redirect child + E18
    //      facebook embed], then the candidate half canonicalizes (F1-F3)
    //      and takes its disposition (F4-F9 + robots) in-flight. No
    //      block-store cache sits between extraction and the log write ----
    // child struct keeps the extractor's own field names (link, kind) so
    // the extracted array concatenates as-is: the former rename to
    // (raw_link, link_kind) was a per-link `transform` — a CodegenFallback
    // higher-order function, i.e. an interpreted struct rebuild per
    // candidate on every fetched row — bought nothing but field names.
    // The synthesized children below adopt (link, kind) instead, and the
    // post-explode projection aliases to raw_link/link_kind unchanged.
    val childT = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.Encoders.product[graft.spark.ExtractedLink].schema)
    val emptyChildren = array().cast(childT)
    val redirectChild = when( // E16 (synthesized redirect child)
      $"disposition" === "REDIRECT" && $"location".isNotNull &&
        length($"location") > 0 && $"redirects" < conf.maxRedirect,
      array(struct($"location".as("link"),
        lit("redirect").as("kind"))).cast(childT))
      .otherwise(emptyChildren)
    // E18 facebook: post page → plugins/post.php embed child, hops
    // preserved (asset semantics; facebook.go:17-22). Runs on any
    // non-redirect response, matching the reference's dispatch position
    // after the redirect early-return (item.go:57-69); default-off because
    // upstream currently has the dispatch commented out.
    val facebookChild =
      if (!conf.facebookEmbeds) emptyChildren
      else when(
        $"disposition" =!= "REDIRECT" && $"status_code".isNotNull &&
          Udfs.fbIsPost($"url_canon"),
        array(struct(Udfs.fbEmbed($"url_canon").as("link"),
          lit("asset").as("kind"))).cast(childT))
        .otherwise(emptyChildren)
    // sentinel first: pos 0 becomes the claimed row, pos ≥ 1 the candidates
    val sentinel = array(struct(lit(null).cast("string").as("link"),
      lit(null).cast("string").as("kind"))).cast(childT)
    val children = concat(sentinel,
      coalesce($"links".cast(childT), emptyChildren), redirectChild, facebookChild)

    val exploded = extracted
      // native single-pass counts: size(filter(links, kind===…)) was two
      // more interpreted per-link walks per fetched row (filter is a
      // CodegenFallback higher-order function)
      .withColumn("n_outlinks", graft.spark.LinkKindCount.col($"links", "outlink"))
      .withColumn("n_assets", graft.spark.LinkKindCount.col($"links", "asset"))
      .select(claimedCols.map(col) :+
        posexplode(children).as(Seq("pos", "child")): _*)
    val isClaim = $"pos" === 0

    // ---- canonicalize (F1-F3) + dispositions in preprocessor order,
    //      candidate rows only (the outer when keeps the UDFs off the
    //      claimed rows; CollapseProject never duplicates a non-cheap
    //      ScalaUDF, so canon runs exactly once per row) ----
    val withCanon = exploded
      .withColumn("c", when(!isClaim, canonUdf($"child.link", $"url_canon")))
      .withColumn("raw_link", $"child.link")
      .withColumn("link_kind", $"child.kind")
      .withColumn("href", $"c.href")
      .withColumn("chost", $"c.host")
      .withColumn("canon_reject", $"c.reject")
      .withColumn("parent_css_jump", when(!isClaim, $"css_jump"))
      // the F6 check and the robots check both need the path. pathOf is
      // now a native byte-scan expression (graft.spark.PathOf) instead of
      // a ScalaUDF: CollapseProject inlines the cheap alias into its two
      // use sites (two ~100-byte scans per candidate row), which is still
      // far cheaper than the single former UDF invocation with its
      // per-argument UTF8String→String→UTF8String boundary copies
      .withColumn("cpath", when(!isClaim, Udfs.pathOf($"href")))
    val fpAsset = $"link_kind".isin("asset", "atimport") &&
      $"cpath".isin("", "/") // F6 false-positive asset
    val cssOver = $"link_kind" === "atimport" &&
      ($"parent_css_jump" + 1) > conf.maxCSSJump
    val candDisp =
      when($"canon_reject".isNotNull, concat(lit("REJECT_"), upper($"canon_reject")))
        .when(!filterUdf($"href", $"chost"), "EXCLUDED")
        .when(fpAsset, "EXCLUDED_FP_ASSET")
        .when(cssOver, "EXCLUDED_CSS_JUMP")
        .when(!robotsUdf($"chost", $"cpath"), "EXCLUDED_ROBOTS")
        .otherwise("PASS")

    // final unified projection: claimed columns null on cand rows and vice
    // versa (when without otherwise yields a typed null)
    val fused = withCanon.select(
      (when(isClaim, "claimed").otherwise("cand").as("row_type") +:
        claimedCols.map(cn => when(isClaim, col(cn)).as(cn))) ++
        Seq(
          when(!isClaim, $"url_canon").as("parent_canon"),
          when(!isClaim, $"seed_id").as("parent_seed"),
          when(!isClaim, $"depth").as("parent_depth"),
          when(!isClaim, $"hops").as("parent_hops"),
          when(!isClaim, $"redirects").as("parent_redirects"),
          $"parent_css_jump",
          $"raw_link", $"link_kind", $"href", $"chost",
          when(!isClaim, candDisp).as("cand_disposition")): _*)

    // seencheck hits (first wave only): claimed rows with disposition SEEN
    val fusedTypes = fused.schema.fields.map(f => f.name -> f.dataType).toMap
    val seenHave = seenRows.columns.toSet
    val seenWidened = seenRows.select(fused.columns.map {
      case "row_type" => lit("claimed").as("row_type")
      case "disposition" => lit("SEEN").as("disposition")
      case "n_outlinks" => lit(0).as("n_outlinks")
      case "n_assets" => lit(0).as("n_assets")
      case cn if seenHave.contains(cn) => col(cn)
      case cn => lit(null).cast(fusedTypes(cn)).as(cn)
    }.toSeq: _*)

    WaveLogs(fused.unionByName(seenWidened), Seq(hashed))
  }

  /** Phase 2, reading the *written* logs: new-row construction, J1/J2/J3
    * dedupe. Returns the enqueue DELTA — the caller appends it (plus the
    * claimed-key delete file) instead of rewriting the frontier.
    */
  def finish(
      spark: SparkSession,
      conf: ZenoConf,
      wave: Int,
      frontier: DataFrame, // merge-on-read view (for the J2 anti-join)
      seen: DataFrame, // raw append-only (url_hash, kind, host_bucket)
      claimedLog: DataFrame,
      candidateLog: DataFrame,
      bloom: Option[graft.frontier.BloomShards.Ref] = None
  ): FinishResult = {
    import spark.implicits._
    val domainsUdf = Udfs.domainsMatch(conf)
    val domainsEnabled = conf.domainsCrawl.nonEmpty

    // domains-crawl enforces the hop budget at ENQUEUE (extract-then-filter
    // order, item.go:141-147): non-matching outlinks of a parent already at
    // the hop limit are dropped; matching ones reset to hop 0 below
    val passing0 = candidateLog.filter($"cand_disposition" === "PASS")
    val passing =
      if (!domainsEnabled) passing0
      else passing0.filter($"link_kind" =!= "outlink" ||
        domainsUdf($"href", $"chost") || $"parent_hops" < conf.maxHops)

    // ---- slim candidate projection: everything below the J1 exchange
    //      runs on these narrow rows; the wide frontier row (3 of whose
    //      string columns duplicate href) is constructed only AFTER the
    //      dedupe, so the shuffle never carries redundant bytes ----
    val cand = passing.select($"href", $"raw_link", $"chost", $"link_kind",
        $"parent_canon", $"parent_seed", $"parent_depth", $"parent_hops",
        $"parent_redirects", $"parent_css_jump")
      .withColumn("url_hash", Udfs.fnv64($"href"))
      .withColumn("host_bucket",
        pmod(xxhash64($"chost"), lit(conf.hostBuckets)).cast("int"))
      .withColumn("kind",
        when($"link_kind" === "outlink", "seed")
          .when($"link_kind" === "redirect", "redirect")
          .otherwise("asset"))

    // ---- J2 frontier-anti + J3 seen-pruning BEFORE the J1 dedupe
    //      exchange. The three operations commute exactly: a pending or
    //      seen URL loses ALL its candidate rows either way, and under
    //      asset→seed promotion only seed-kind rows survive pruning — the
    //      same rows kr strictly prefers in the J1 window — so the J1
    //      winner of every surviving group is unchanged (seencheck.go:
    //      110-115; UNIQUE(url_canon), schema.sql:9). Running the prunes
    //      first means the only exchange of the finish DAG carries just
    //      the genuinely-new URLs plus their in-wave duplicates, not the
    //      full candidate batch (at the bench corpus most candidates hit
    //      the pending or seen sets — a multi-× shuffle-byte cut).
    //
    //      Both big tables are consumed SCAN-SIDE: a direct left-anti
    //      against the frontier would either broadcast the whole frontier
    //      (driver-serial build ∝ frontier size) or SortMergeJoin it
    //      (full-frontier shuffle per wave) — both fatal at 10^10 rows.
    //      Instead the frontier streams (column-pruned to url_canon)
    //      through a semi-join against the broadcast candidate keys; only
    //      the matches — bounded by wave size — broadcast back for the
    //      anti. The semi runs on the 8-byte fnv64 key (LongHashedRelation
    //      build, not a wave-sized string broadcast); a hash collision only
    //      lets an extra frontier row into `pendingHits` — the anti below
    //      is exact on the URL string, so results are unaffected.
    //      The frontier semi and the seen lookup probe with the SAME key
    //      set (the broadcast hash builds dedupe the multiset), so the two
    //      big-table scans are INDEPENDENT subtrees. On a fresh store (no
    //      Bloom layers yet) both probe the identical Project(url_hash)
    //      child, and ReuseExchange collapses the two builds into one. The
    //      key builds re-read the written log with href/chost-only pruned
    //      scans — cheaper than materializing the candidate multiset into
    //      the block store.
    val pendingHits = frontier.select($"url_canon")
      .withColumn("url_hash", Udfs.fnv64($"url_canon"))
      .join(broadcast(cand.select($"url_hash")), Seq("url_hash"), "left_semi")
      .select($"url_canon")
    val maybeKeys = graft.frontier.BloomShards.maybeSeenKeys(
      cand.select($"url_hash", $"host_bucket"), bloom)
    val lookup = seenLookup(seen, maybeKeys)
    val unseen = cand
      .join(broadcast(lookup), Seq("url_hash"), "left")
      .filter($"seen_kind".isNull ||
        ($"seen_kind" === "asset" && $"kind" === "seed"))
      .drop("seen_kind")
      .join(broadcast(pendingHits), $"href" === $"url_canon", "left_anti")

    // ---- J1+J2: per-seed and batch dedupe (seed wins over asset) — the
    //      ONE exchange of the finish DAG, over the pre-pruned slim rows.
    //      Ordering matches the constructed row's (kr, seed_id, via) ----
    val isOutlink = $"link_kind" === "outlink"
    val kindRank = when(isOutlink, 0)
      .when($"link_kind" === "redirect", 1).otherwise(2)
    val seedKey = when(isOutlink, $"href").otherwise($"parent_seed")
    val dedupedBatch = unseen
      .withColumn("kr", kindRank)
      .withColumn("sk", seedKey)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"href").orderBy($"kr", $"sk", $"parent_canon")))
      .filter($"rn" === 1).drop("rn", "kr", "sk")
      // two delta-job consumers (frontier add + seed-count delta) share
      // the deduped rows; everything upstream is scan + broadcast probes
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- new-row construction (hop semantics: assets.go:142-153) ----
    val hopReset = lit(domainsEnabled) && domainsUdf($"href", $"chost")
    val unique = dedupedBatch.select(
      $"href".as("url_canon"),
      $"raw_link".as("url"),
      $"chost".as("host"),
      $"host_bucket",
      when(isOutlink, $"href").otherwise($"parent_seed").as("seed_id"),
      $"parent_canon".as("via"),
      $"kind",
      when(isOutlink, 0).otherwise($"parent_depth" + 1).as("depth"),
      when(isOutlink, when(hopReset, 0).otherwise($"parent_hops" + 1))
        .otherwise($"parent_hops").as("hops"),
      // cumulative redirect-EDGE count along the chain (resets only at
      // outlinks, which start a fresh depth-0 item) so that
      // depth − redirects ≡ GetDepthWithoutRedirections (item.go:196-211)
      // even when a redirect occurs mid-chain
      when($"link_kind" === "redirect", $"parent_redirects" + 1)
        .otherwise(when(isOutlink, 0).otherwise($"parent_redirects")).as("redirects"),
      when($"link_kind" === "atimport", $"parent_css_jump" + 1)
        .otherwise(when(isOutlink, 0).otherwise($"parent_css_jump")).as("css_jump"),
      graft.spark.LongParam.col(wave.toLong).as("ts"))
      .withColumn("id", $"url_canon")

    // ---- seen appends: everything processed this wave (seencheck.go:98-108)
    val seenAppend = claimedLog.filter($"disposition" =!= "SEEN")
      .select($"url_hash", $"check_kind".as("kind"), $"host_bucket")

    FinishResult(unique, seenAppend, Seq(dedupedBatch))
  }

  /** Collapse the append-only seen table to one kind per hash
    * ("seed" wins — lexically max). Used by compaction only — the per-wave
    * path uses [[seenLookup]] and never re-aggregates the full history.
    */
  def seenKinds(seen: DataFrame): DataFrame =
    seen.groupBy(col("url_hash")).agg(max(col("kind")).as("seen_kind"))

  /** Host-state evolution after a wave (R2 penalties / R3 recovery,
    * wave-discretized; adjust.go:9-60).
    */
  def nextHostState(spark: SparkSession, conf: ZenoConf, wave: Int,
                    hostState: DataFrame, claimedLog: DataFrame): DataFrame = {
    import spark.implicits._
    // challenge-page discards feed the same failure-adjustment path as
    // rate-limit statuses (archiver.go:114-118 calls AdjustOnFailure for
    // isBadStatusCode OR discarded challenge pages); non-challenge
    // discards (status-list, content-length) do not.
    val isChallenge = $"disposition" === "DISCARDED" &&
      $"discard_reason".startsWith("challenge")
    val perHost = claimedLog.groupBy($"host").agg(
      sum(when(($"disposition" === "FAILED" || isChallenge) &&
        $"status_code".isin(429, 403, 408, 425), 1).otherwise(0)).as("rate_fails"),
      sum(when($"disposition" === "FAILED" && $"status_code" >= 500, 1)
        .otherwise(0)).as("server_fails"))
    val joined = hostState.join(perHost, Seq("host"), "full_outer")
      .na.fill(0L, Seq("rate_fails", "server_fails"))
      .withColumn("failure_count0", coalesce($"failure_count", lit(0)))
      .withColumn("refill_rate0", coalesce($"refill_rate", lit(conf.rateLimitRefillRate)))
      .withColumn("ideal_rate0", coalesce($"ideal_rate", lit(conf.rateLimitRefillRate)))
    val hadFailure = $"rate_fails" > 0 || $"server_fails" > 0
    joined.select(
      $"host",
      // 5xx: refill halved, floored at 0.5/s; success: +10% toward ideal
      when($"server_fails" > 0, greatest($"refill_rate0" / 2.0, lit(0.5)))
        .otherwise(least($"ideal_rate0",
          $"refill_rate0" + (($"ideal_rate0" - $"refill_rate0") * 0.1)))
        .as("refill_rate"),
      $"ideal_rate0".as("ideal_rate"),
      // 429-class: penalty 5s·2^(n−1) capped 30s, in waves
      when($"rate_fails" > 0,
        graft.spark.LongParam.col(wave.toLong) + ceil(least(
          lit(5.0) * pow(lit(2.0), $"failure_count0".cast("double")), lit(30.0))
          / conf.wavePeriodSeconds).cast("long"))
        .otherwise(coalesce($"penalty_until", lit(0L))).as("penalty_until"),
      when(hadFailure, $"failure_count0" + 1)
        .otherwise(greatest($"failure_count0" - 1, lit(0)))
        .cast("int").as("failure_count"))
  }
}
