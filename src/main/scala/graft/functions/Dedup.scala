package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Large-scale training-data deduplication operators over a `documents`
  * table (doc_id, text). Each is expressed Spark-first: shuffles only on
  * the candidate-generation keys (shingle / band / bucket), never all-pairs
  * except within buckets.
  */
object Dedup {

  /** Scale-adaptive parallelism floor (guide §2: derive partitioning from
    * input size, never from a constant tuned for one deployment): the
    * per-doc operators below are pure projections whose parallelism is
    * the SCAN's split count — right at scale (plenty of splits, zero
    * shuffles added), but a tiny local input reads as one split and would
    * serialize the whole compute on one core. When the scan provides
    * fewer splits than the session's default parallelism, round-robin the
    * rows out once; at real scale this is a no-op.
    */
  private[graft] def spread(docs: DataFrame): DataFrame = {
    if (docs.isStreaming) return docs // .rdd is undefined on streaming DFs
    val p = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < p) docs.repartition(p) else docs
  }

  /** Exact dedupe: one keeper (min doc_id) per identical text.
    * At 100 TB: group on xxhash64(text) first so the shuffle moves 8-byte
    * keys, verify text equality within hash groups.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-grams of one document as an array Column, computed
    * in-row: gram i = tokens[i..i+n-1] joined by " ", per-doc dedupe
    * keeping first occurrence. Same (doc, gram) set as the former
    * posexplode + window-lead + global distinct formulation, with zero
    * exchanges (guide §2.4: the window exchange on doc_id and the
    * distinct exchange both disappear — the dedupe scope was
    * per-document all along, so no data ever needed to move for it).
    *
    * Native codegen expression (graft.spark.GramArray): the intermediate
    * array-built-in form (zip_with of the token array against its own
    * shifted slices + concat_ws + array_distinct) computed the identical
    * set, but higher-order functions are CodegenFallback — an
    * interpreted expression tree per token — which made gram building
    * the dominant per-row cost of the whole dedup family once the
    * shuffles were gone. Value parity pinned in ShingleOpsSpec against
    * the HOF form verbatim.
    */
  private[functions] def gramArray(textCol: Column, n: Int): Column =
    graft.spark.ShingleOps.gramArray(textCol, n)

  /** Pairs of documents whose distinct word n-gram sets have Jaccard
    * ≥ 0.5, exact, with the integer-only test 3·common ≥ |A|+|B| (float-
    * free). Output (doc_a, doc_b, common, size_a, size_b), all long, one
    * row per pair with doc_a < doc_b. `doc_id` is the document key (the
    * oracle SQL merges rows sharing an id into one gram set; callers pass
    * one row per id). Documents with no full n-gram have no pairs.
    *
    * A factorized count probe, not a gram self-join: a self-join would
    * materialize one row per (gram, doc_a, doc_b), Σ df·(df−1)/2 rows
    * (36.5M at sf0.1 for 256 output pairs), and group them by pair.
    * Here every document travels as ONE gram-array row: the build side
    * shards the rows by doc_id into K shards, the probe side replicates
    * every row into all K, and a cogroup hands each shard its documents
    * plus every probe. The shuffle is N build rows + K·N probe rows
    * against Σdf² pair rows (at sf0.1 with K = 4: 25,000 rows of ~51
    * grams against 36.5M). Inside a shard, [[countProbe]] chains each
    * gram's postings and counts matches per probe into a dense counter.
    *
    * Exactness:
    *  - counts are complete per shard: every gram of document b lives in
    *    b's shard and every probe a reaches that shard, so common(a, b) is
    *    summed in one place and no cross-shard aggregation is needed;
    *  - each unordered pair is counted once, in doc_b's shard, by the
    *    probe doc_a < doc_b;
    *  - the size window ⌈sa/2⌉ ≤ sb ≤ 2·sa drops no pair: common ≤
    *    min(sa, sb) and 3·common ≥ sa + sb give 2·min ≥ max.
    *
    * The df cap (`maxShingleFreq`; `Int.MaxValue` = uncapped) takes the
    * hot grams (df > cap) out of the gram arrays before sharding, so they
    * count toward no pair, while sz stays the full gram-set size (the
    * oracle's size_a/size_b). Document frequency is a map-side-combinable
    * `groupBy(gram).count` (partial aggregation collapses a mega-gram per
    * input partition before the exchange); the hot list, at most
    * Σoccurrences/cap grams, is one broadcast row.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 2, maxShingleFreq: Int = 1000): DataFrame =
    jaccardJoin(docs, n, maxShingleFreq, docs.sparkSession.sparkContext.defaultParallelism)

  /** [[ngramJaccardPairs]] over a given shard count K (the public operator
    * uses the session's default parallelism).
    */
  private[functions] def jaccardJoin(docs: DataFrame, n: Int, maxShingleFreq: Int,
                                     shards: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val all = spread(docs).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), gramArray(col("text"), n).as("g"))
      .filter(size(col("g")) > 0)
      .select(col("doc_id"), size(col("g")).cast("long").as("sz"), col("g"))
    val rows =
      if (maxShingleFreq == Int.MaxValue) all
      else {
        val hot = all.select(explode(col("g")).as("gram"))
          .groupBy(col("gram")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleFreq)
          .agg(collect_list(col("gram")).as("hot"))
        all.crossJoin(broadcast(hot))
          .select(col("doc_id"), col("sz"), array_except(col("g"), col("hot")).as("g"))
          .filter(size(col("g")) > 0)
      }
    def keyed(shard: Column) =
      rows.select(shard, col("doc_id"), col("sz"), col("g")).as[Doc].groupByKey(_._1)
    val build = keyed(pmod(xxhash64(col("doc_id")), lit(shards.toLong)).cast("int"))
    val probe = keyed(explode(sequence(lit(0), lit(shards - 1))))
    build.cogroup(probe)((_, b, p) => countProbe(b, p))
      .toDF("doc_a", "doc_b", "common", "size_a", "size_b")
  }

  /** (shard, doc_id, sz, gram array) */
  private type Doc = (Int, Long, Long, Array[String])

  /** One shard's count probe. The shard's own documents are sorted by
    * (sz, doc_id) and indexed gram → chain of their positions, so every
    * chain is in size order. For each probe document a, the size window
    * becomes a position range, each chain is binary-searched to it, and
    * matches with doc_id > a are counted in a dense counter; the pairs
    * passing 3·common ≥ sa + sb are emitted and the counter reset.
    */
  private def countProbe(build: Iterator[Doc], probe: Iterator[Doc])
      : Iterator[(Long, Long, Long, Long, Long)] = {
    val docs = build.toArray.sortBy(d => (d._3, d._2))
    val ids = docs.map(_._2)
    val sizes = docs.map(_._3)
    val grow = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofInt]
    for (i <- docs.indices; gram <- docs(i)._4)
      grow.getOrElseUpdate(gram, new mutable.ArrayBuilder.ofInt) += i
    val chains = grow.map { case (gram, b) => gram -> b.result() }
    // first position whose size is ≥ s
    def from(s: Long): Int = {
      var lo = 0
      var hi = sizes.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sizes(mid) < s) lo = mid + 1 else hi = mid
      }
      lo
    }
    val counts = new Array[Int](docs.length)
    val touched = new Array[Int](docs.length)
    probe.flatMap { case (_, a, sa, g) =>
      val lo = from((sa + 1) / 2)
      val hi = from(2 * sa + 1)
      var nt = 0
      for (gram <- g) {
        val chain = chains.getOrElse(gram, null)
        if (chain != null) {
          val at = java.util.Arrays.binarySearch(chain, lo)
          var j = if (at >= 0) at else -at - 1
          while (j < chain.length && chain(j) < hi) {
            val b = chain(j)
            if (ids(b) > a) {
              if (counts(b) == 0) { touched(nt) = b; nt += 1 }
              counts(b) += 1
            }
            j += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
      for (t <- 0 until nt) {
        val b = touched(t)
        val common = counts(b).toLong
        counts(b) = 0
        if (3 * common >= sa + sizes(b)) out += ((a, ids(b), common, sa, sizes(b)))
      }
      out
    }
  }

  /** MinHash signatures: k permutations via affine transforms of xxhash64.
    * Returns (doc_id, sig: array<bigint>). All built-ins — the per-doc min
    * over shingle hashes is a groupBy aggregate (map-side combinable).
    */
  def minhashSignatures(docs: DataFrame, k: Int = 32, shingleN: Int = 2): DataFrame = {
    // permutation i = xxhash64("i:" + gram) — ANSI-safe (no wrapping
    // arithmetic), independent hash families by seed prefix; the
    // single-string form is reproducible by the plain-Scala oracle
    // implementation (graft.gen.RefImpl.minhashSig).
    //
    // The signature is a per-document property, so the whole operator is
    // a PROJECTION over the gram array — the former explode + groupBy(16
    // min-aggregates) exchange is gone (guide §2.4); min over the same
    // distinct-gram set → identical values. Docs with no full n-gram had
    // no shingle rows and were absent from the groupBy — the size>0
    // filter preserves that. The k min-scans are one native codegen pass
    // (graft.spark.MinhashSig) hashing the exact "i:"++gram bytes the
    // former k× array_min(transform(g, xxhash64(concat(...)))) chain
    // hashed — that chain was k interpreted per-element walks per row.
    spread(docs).select(col("doc_id"), gramArray(col("text"), shingleN).as("g"))
      .filter(size(col("g")) > 0)
      .select(col("doc_id"),
        graft.spark.ShingleOps.minhashSig(col("g"), k).as("sig"))
  }

  /** MinHash-LSH candidate pairs: band the signature, bucket-join on
    * (band, hash(band slice)). bands*rows = k. The join key is a single
    * 8-byte hash → minimal shuffle.
    */
  def minhashLshPairs(docs: DataFrame, k: Int = 32, bands: Int = 8,
                      shingleN: Int = 2): DataFrame = {
    val rows = k / bands
    val sig = minhashSignatures(docs, k, shingleN)
    val banded = sig.select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(concat_ws(",",
            (0 until rows).map(r => col("sig")(b * rows + r)): _*))): _*))
          .as(Seq("band", "bucket")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** SimHash (64-bit) per document: sign-sum of token-hash bits weighted by
    * term frequency; near-dups have small Hamming distance.
    */
  def simhash(docs: DataFrame): DataFrame = {
    // per bit: sum over token OCCURRENCES of (bit ? +1 : -1) — identical
    // integer totals to the former per-(doc, w) tf pre-aggregation
    // (Σ_w tf_w·s_w ≡ Σ_occurrences s_w), with one exchange instead of
    // two: the (doc_id, w) groupBy existed only to count tf, which the
    // occurrence-level sum already folds in. Partial aggregation still
    // collapses each doc to one 64-column row per map partition before
    // the exchange.
    val tokens = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"b$b")
    }
    val sums = tokens.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 64).map(b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), hash.as("simhash"))
  }

  /** SimHash near-dup pairs within Hamming distance maxDist, using the
    * pigeonhole trick: split 64 bits into (maxDist+1) blocks; any pair
    * within maxDist agrees exactly on ≥1 block → block-join, verify.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val blocks = maxDist + 1
    val width = 64 / blocks
    val sh = simhash(docs)
    val keyed = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until blocks).map(b =>
        shiftright(col("simhash"), b * width)
          .bitwiseAND((1L << width) - 1)): _*)).as(Seq("block", "key")))
    val popcount = (x: Column) => bit_count(x)
    keyed.as("a").join(keyed.as("b"),
        col("a.block") === col("b.block") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        popcount(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Rolling-hash document fingerprint (winnowing-lite): min xxhash64 over
    * each w-token window, distinct mins = fingerprint set.
    */
  def fingerprints(docs: DataFrame, window: Int = 4): DataFrame = {
    // fp at position i = min token hash over [i, i+window) — a property
    // of the row's own token sequence, so it is a projection (short tail
    // windows shrink exactly like the former rowsBetween frame / slice)
    // with first-occurrence dedupe replacing the global distinct: zero
    // exchanges where the window + distinct formulation had two (guide
    // §2.4). The hash + rolling-min + dedupe is one native codegen pass
    // (graft.spark.FingerprintSet) — the intermediate transform/
    // array_min(slice)/array_distinct chain recomputed an interpreted
    // min-scan per token. Values identical (ShingleOpsSpec pins parity).
    docs.select(col("doc_id"),
      explode(graft.spark.ShingleOps.fingerprintSet(col("text"), window)).as("fp"))
  }
}
