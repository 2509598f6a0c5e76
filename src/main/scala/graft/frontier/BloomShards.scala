package graft.frontier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** Partitioned Bloom-filter seen-set: ONE filter shard per hash-partitioned
  * host bucket (the north-star shape). The shard table is
  * (host_bucket, bloom: binary) — at 10^10 URLs across B buckets each shard
  * holds |seen|/B keys, so shards stay cogroup-able executor-side.
  *
  * The shard set is LAYERED, Iceberg-style: a BASE table (full filters,
  * sized for the long-run seen set) plus per-wave DELTA tables holding one
  * small filter per bucket the wave touched, sized to the wave's actual
  * per-bucket key count — per-wave bloom write bytes are ∝ WAVE size, not
  * total-filter size (a full merge at 10^10 seen / 1% fpp would move
  * ~12 GB per wave). A probe tests base + all deltas (any-match); deltas
  * are never bitwise-merged (their bit arrays differ in size), instead the
  * base is REBUILT from the seen table when the layer list fragments —
  * co-scheduled with seen compaction, which scans the same rows anyway.
  *
  * The Bloom is a PRE-filter: a negative proves "never seen" and skips the
  * exact seen-set join entirely; positives (including false positives at
  * ~fpp) fall through to the exact hash anti-join — required anyway because
  * the asset→seed promotion rule (seencheck.go:110-115) needs the stored
  * kind, which a Bloom cannot carry.
  */
object BloomShards {

  val ShardDdl = "host_bucket int, bloom binary"

  /** Build BASE shards from (host_bucket, url_hash) rows via mapGroups —
    * each group builds one sketch executor-side; only the filter bytes
    * move to the shard table.
    */
  def build(spark: SparkSession, hashes: DataFrame,
            expectedPerShard: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import spark.implicits._
    hashes.select(col("host_bucket").cast("int"), col("url_hash").cast("long"))
      .as[(Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (bucket, rows) =>
        val bf = BloomFilter.create(expectedPerShard, fpp)
        rows.foreach { case (_, h) => bf.putLong(h) }
        (bucket, serialize(bf))
      }
      .toDF("host_bucket", "bloom")
  }

  /** Build a per-wave DELTA shard table from the wave's new hashes: one
    * filter per TOUCHED bucket, sized to that bucket's actual key count
    * (floored so tiny waves don't produce degenerate filters). Buckets the
    * wave did not touch get no row — their existing layers stay authoritative.
    */
  def buildDelta(spark: SparkSession, newHashes: DataFrame,
                 fpp: Double = 0.01, minExpected: Long = 1024L): DataFrame = {
    import spark.implicits._
    newHashes.select(col("host_bucket").cast("int"), col("url_hash").cast("long"))
      .as[(Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (bucket, rows) =>
        val hs = rows.map(_._2).toArray
        val bf = BloomFilter.create(math.max(minExpected, hs.length.toLong), fpp)
        hs.foreach(bf.putLong)
        (bucket, serialize(bf))
      }
      .toDF("host_bucket", "bloom")
  }

  /** Handle to a committed shard layer set: the cache key (snapshot paths)
    * + the shard DataFrame (base ∪ deltas — multiple rows per bucket).
    * Nothing collects to the driver — the filter bytes move
    * executor-to-executor through the cogroup in [[maybeSeenKeys]].
    */
  final case class Ref(key: String, shards: DataFrame)

  /** The maybe-seen subset of `keys` (columns url_hash, host_bucket) as a
    * one-column url_hash DataFrame — the exact-lookup key set.
    *
    * Co-partitioned cogroup on host_bucket: the narrow 12-byte keys
    * shuffle (parallel, wave-sized at any scale) and each bucket's filter
    * layers are deserialized ONCE per group — the probe itself is a pure
    * in-memory test against every layer (base + per-wave deltas; a key is
    * maybe-seen if ANY layer might contain it). A bucket with no shard
    * rows has never seen anything → contributes no keys; with no shards at
    * all every key falls through to the exact lookup.
    */
  def maybeSeenKeys(keys: DataFrame, bloom: Option[Ref]): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    bloom match {
      case None => keys.select(col("url_hash"))
      case Some(Ref(key, shards)) =>
        val ks = keys.select(col("host_bucket").cast("int"), col("url_hash").cast("long"))
          .as[(Int, Long)].groupByKey(_._1)
        val ss = shards.select(col("host_bucket").cast("int"), col("bloom"))
          .as[(Int, Array[Byte])].groupByKey(_._1)
        ks.cogroup(ss) { (bucket, kIt, sIt) =>
          val fs = cachedFilters(key, bucket, sIt.map(_._2))
          if (fs.isEmpty) Iterator.empty // no layers ⇒ bucket never saw anything
          else kIt.collect { case (_, h) if fs.exists(_.mightContainLong(h)) => h }
        }.toDF("url_hash")
    }
  }

  /** Executor-local deserialized-layer cache, keyed by (snapshot paths,
    * bucket) — each task deserializes a bucket's layers at most once per
    * snapshot. The bytes iterator is consumed only on a cache miss.
    */
  private val filterCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Seq[BloomFilter]]
  private def cachedFilters(key: String, bucket: Int,
                            bytes: Iterator[Array[Byte]]): Seq[BloomFilter] = {
    if (filterCache.size > 4096) filterCache.clear() // old snapshots' entries
    filterCache.getOrElseUpdate((key, bucket),
      bytes.filter(_ != null).map(deserialize).toSeq)
  }

  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
}
