package graft.frontier

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Iceberg-style snapshot/manifest layer over Parquet (no Iceberg jar in
  * this environment — see SURVEY.md §7.0). Gives the crawl loop:
  *
  *  - atomic wave commits: a wave writes new parquet dirs, then commits a
  *    manifest vN+1.json via temp-file + atomic rename. An interrupted wave
  *    is invisible — mirroring the reference's claim-transaction +
  *    reset-on-shutdown semantics (internal/pkg/source/lq/lq.go:75-93).
  *  - resumability: reopen the store → latest committed snapshot.
  *  - lineage: each snapshot records wave number, per-table file lists and
  *    the wave's counters.
  *
  * Table layout per snapshot:
  *   frontier    — MERGE-ON-READ: base/append data files + per-wave delete
  *                 files of (url_canon, del_wave) claimed keys. A wave
  *                 writes ONLY its enqueue delta and its claimed-key delete
  *                 file — write bytes ∝ wave size, never frontier size.
  *                 [[readFrontierAt]] reconstructs the live view; folding
  *                 happens in background-style compaction when the file
  *                 lists fragment (the Iceberg rewrite_data_files seam).
  *   seen        — append-only file list; compaction emits the
  *                 pre-aggregated distinct (url_hash, max kind) form.
  *   host_state  — tiny, full rewrite.
  */
final class FrontierStore(val workDir: String) {
  private val mapper = new ObjectMapper()
  private val snapDir = Paths.get(workDir, "snapshots")
  private val dataDir = Paths.get(workDir, "data")

  Files.createDirectories(snapDir)
  Files.createDirectories(dataDir)

  final case class Snapshot(
      version: Int,
      wave: Int,
      frontier: Seq[String], // base + append data files (live rows ⊇ view)
      seen: Seq[String],
      hostState: Seq[String],
      frontierRows: Long, // live-view row count → auto-finish without a Spark job
      bloom: Seq[String] = Nil, // Bloom shard table paths
      waveCounters: Map[String, Long] = Map.empty, // this wave's counters (lineage)
      frontierDeletes: Seq[String] = Nil, // merge-on-read delete files
      seedCounts: Seq[String] = Nil, // per-seed live-row count deltas
      isCompaction: Boolean = false // view-preserving rewrite, no wave counters
  )

  /** List a directory's file names, closing the stream (long crawl loops
    * would otherwise leak file descriptors until GC).
    */
  private def listNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  private def versions: Seq[Int] = listNames(snapDir)
    .filter(n => n.startsWith("v") && n.endsWith(".json"))
    .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)

  def latest: Option[Snapshot] = {
    val vs = versions
    if (vs.isEmpty) None else Some(read(vs.max))
  }

  private def read(version: Int): Snapshot = {
    val node = mapper.readTree(Files.readAllBytes(snapPath(version)))
    def arr(field: String): Seq[String] =
      if (node.has(field)) node.get(field).elements().asScala.map(_.asText()).toSeq
      else Nil
    val waveCounters =
      if (node.has("wave_counters")) {
        val wc = node.get("wave_counters")
        wc.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      } else Map.empty[String, Long]
    require(node.has("frontier_rows"),
      s"snapshot manifest ${snapPath(version)} has no frontier_rows")
    Snapshot(version, node.get("wave").asInt(), arr("frontier"), arr("seen"),
      arr("host_state"), node.get("frontier_rows").asLong(), arr("bloom"),
      waveCounters, arr("frontier_deletes"), arr("seed_counts"),
      node.has("compaction") && node.get("compaction").asBoolean())
  }

  /** All snapshots in version order (lineage walk). */
  def history: Seq[Snapshot] = versions.sorted.map(read)

  private def snapPath(version: Int): Path =
    snapDir.resolve(f"v$version%05d.json")

  /** Atomically commit the next snapshot. `atVersion` pins the version a
    * writer computed when it READ the store (the CAS expectation) — by
    * default the latest+1 at commit time.
    */
  def commit(wave: Int, frontier: Seq[String], seen: Seq[String],
             hostState: Seq[String], frontierRows: Long, bloom: Seq[String] = Nil,
             waveCounters: Map[String, Long] = Map.empty,
             frontierDeletes: Seq[String] = Nil,
             atVersion: Option[Int] = None,
             seedCounts: Seq[String] = Nil,
             isCompaction: Boolean = false): Snapshot = {
    val version = atVersion.getOrElse(latest.map(_.version + 1).getOrElse(0))
    val node: ObjectNode = mapper.createObjectNode()
    node.put("wave", wave)
    node.put("version", version)
    node.put("frontier_rows", frontierRows)
    if (isCompaction) node.put("compaction", true)
    def put(field: String, paths: Seq[String]): Unit = {
      val a = node.putArray(field)
      paths.foreach(a.add)
    }
    put("frontier", frontier)
    put("frontier_deletes", frontierDeletes)
    put("seed_counts", seedCounts)
    put("seen", seen)
    put("host_state", hostState)
    put("bloom", bloom)
    val wc = node.putObject("wave_counters")
    waveCounters.foreach { case (k, v) => wc.put(k, v) }
    val tmp = snapDir.resolve(f".v$version%05d.json.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    // optimistic concurrency: link() is atomic fail-if-exists, so of two
    // writers racing to commit the same version exactly one wins (the
    // Iceberg snapshot-CAS seam); the loser re-reads latest and retries
    // its wave against the new snapshot
    try Files.createLink(snapPath(version), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FrontierStore.CommitConflict(version)
    } finally Files.deleteIfExists(tmp)
    Snapshot(version, wave, frontier, seen, hostState, frontierRows,
      bloom, waveCounters, frontierDeletes, seedCounts, isCompaction)
  }

  /** Fresh parquet output dir for a table at a wave. */
  def newTableDir(wave: Int, table: String): String =
    dataDir.resolve(f"w$wave%05d-$table").toString

  def readTable(spark: SparkSession, paths: Seq[String], schemaDdl: String): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    else spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
      .parquet(paths: _*)

  /** Merge-on-read frontier view: data files minus claimed-key deletes.
    * A delete (url_canon, del_wave) masks rows enqueued BEFORE del_wave
    * (ts < del_wave) — so a URL legitimately re-enqueued later (asset→seed
    * promotion, seencheck.go:110-115) survives its own earlier claim.
    * The delete side is bounded by the compaction threshold × wave size
    * and broadcasts; the base never shuffles. At 10^10 scale the same
    * shape maps to Iceberg positional/equality deletes applied scan-side.
    *
    * The broadcast is keyed on the 8-byte fnv64 of the URL, not the URL
    * string: the driver-side hash-relation build is the serial cost paid
    * on EVERY frontier read (claim query + finish query per wave), and a
    * LongHashedRelation builds several times faster than a string-keyed
    * one at millions of accumulated deletes. Hash collisions are handled
    * exactly: each key carries its (url_canon, del_wave) entries and the
    * mask re-checks URL equality per entry, so the build stays unique per
    * key (no row multiplication) and results are byte-identical.
    */
  def readFrontierAt(spark: SparkSession, dataPaths: Seq[String],
                     deletePaths: Seq[String]): DataFrame = {
    val base = FrontierStore.decodeFrontier(
      readTable(spark, dataPaths, FrontierStore.frontierDdl))
    if (deletePaths.isEmpty) base
    else {
      val dels = readTable(spark, deletePaths, FrontierStore.frontierDeleteDdl)
        .groupBy(graft.spark.Udfs.fnv64(col("url_canon")).as("__del_hash"))
        .agg(collect_list(struct(col("url_canon").as("u"),
          col("del_wave").as("w"))).as("__dels"))
      base
        .join(broadcast(dels),
          graft.spark.Udfs.fnv64(base("url_canon")) === dels("__del_hash"), "left")
        .filter(col("__dels").isNull ||
          !exists(col("__dels"),
            d => d("u") === col("url_canon") && col("ts") < d("w")))
        .drop("__del_hash", "__dels")
    }
  }

  def readFrontier(spark: SparkSession, snap: Snapshot): DataFrame =
    readFrontierAt(spark, snap.frontier, snap.frontierDeletes)

  /** Drop data dirs not referenced by the latest snapshot (GC). Call only
    * on a quiescent store: CrawlLoop.run() waits for its background
    * compactor before returning, but a vacuum racing an EXTERNAL writer's
    * in-flight rewrite could collect that writer's not-yet-committed dirs
    * (the usual snapshot-GC caveat; Iceberg solves it with retention
    * windows, which a single-driver sandbox does not need).
    */
  def vacuum(): Unit = latest.foreach { snap =>
    val live = (snap.frontier ++ snap.frontierDeletes ++ snap.seen ++
      snap.hostState ++ snap.bloom ++ snap.seedCounts)
      .map(p => dataDir.relativize(Paths.get(p)).getName(0).toString).toSet
    val stale = {
      val s = Files.list(dataDir)
      try s.iterator().asScala.toSeq.filterNot(p => live.contains(p.getFileName.toString))
      finally s.close()
    }
    stale.foreach(deleteRecursively)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      val children = try s.iterator().asScala.toSeq finally s.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}

object FrontierStore {
  /** Another writer committed this snapshot version first. */
  final class CommitConflict(version: Int)
    extends RuntimeException(s"snapshot v$version already committed by another writer")

  val frontierDdl: String =
    "id string, url string, url_canon string, host string, host_bucket int, " +
    "seed_id string, via string, kind string, depth int, hops int, " +
    "redirects int, css_jump int, ts bigint"

  /** Storage encoding for frontier data files (Iceberg-style physical
    * layout choice; the logical schema is unchanged). Three of the six
    * URL-string columns are redundant on most rows and are elided at
    * rest:
    *   - id      — invariantly == url_canon (UNIQUE key, schema.sql:9);
    *               never written, re-derived on read
    *   - url     — null when == url_canon (links that canonicalize to
    *               themselves, the common case on the open web)
    *   - seed_id — null when == url_canon (every seed is its own seed)
    * [[decodeFrontier]] restores the logical view inside readFrontierAt;
    * encode∘decode is identity (LogCodecSpec). External writers that
    * write fully-materialized rows stay readable — decode's coalesce is
    * a no-op on them.
    */
  def encodeFrontier(df: DataFrame): DataFrame = df
    .drop("id")
    .withColumn("url", when(col("url") === col("url_canon"),
      lit(null).cast("string")).otherwise(col("url")))
    .withColumn("seed_id", when(col("seed_id") === col("url_canon"),
      lit(null).cast("string")).otherwise(col("seed_id")))

  def decodeFrontier(df: DataFrame): DataFrame = df
    .withColumn("id", coalesce(col("id"), col("url_canon")))
    .withColumn("url", coalesce(col("url"), col("url_canon")))
    .withColumn("seed_id", coalesce(col("seed_id"), col("url_canon")))
  val frontierDeleteDdl: String = "url_canon string, del_wave bigint"
  val seedCountDdl: String = "seed_id string, cnt bigint"
  val seenDdl: String = "url_hash bigint, kind string, host_bucket int"
  val hostStateDdl: String =
    "host string, refill_rate double, ideal_rate double, penalty_until bigint, failure_count int"
}
