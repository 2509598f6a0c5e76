package graft.gen

/** Independent plain-Scala reference implementations of the hash-based
  * pipeline operators (minhash / simhash / fingerprints / LSH / IVF),
  * used by OracleData to precompute expected-output fixture tables for
  * the DuckDB oracle. These deliberately share NO code with the Spark
  * queries — xxHash64 is re-derived from the public xxHash specification
  * (https://github.com/Cyan4973/xxHash spec, BSD), tokenization and
  * aggregation are hand-rolled loops — so a regression in either side
  * (the query composition OR the hash) breaks the comparison.
  */
object RefImpl {

  // ---------- xxHash64 (64-bit, from the public spec; seed 42 matches
  // Spark's xxhash64() default) ----------
  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  def xxh64(data: Array[Byte], seed: Long = 42L): Long = {
    val len = data.length
    var i = 0
    var hash = 0L
    if (len >= 32) {
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed
      var v4 = seed - P1
      while (i + 32 <= len) {
        v1 = round(v1, readLong(data, i))
        v2 = round(v2, readLong(data, i + 8))
        v3 = round(v3, readLong(data, i + 16))
        v4 = round(v4, readLong(data, i + 24))
        i += 32
      }
      hash = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
        java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
      hash = mergeRound(hash, v1)
      hash = mergeRound(hash, v2)
      hash = mergeRound(hash, v3)
      hash = mergeRound(hash, v4)
    } else hash = seed + P5
    hash += len
    while (i + 8 <= len) {
      hash ^= round(0L, readLong(data, i))
      hash = java.lang.Long.rotateLeft(hash, 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= len) {
      hash ^= (readInt(data, i) & 0xFFFFFFFFL) * P1
      hash = java.lang.Long.rotateLeft(hash, 23) * P2 + P3
      i += 4
    }
    while (i < len) {
      hash ^= (data(i) & 0xFFL) * P5
      hash = java.lang.Long.rotateLeft(hash, 11) * P1
      i += 1
    }
    hash ^= hash >>> 33
    hash *= P2
    hash ^= hash >>> 29
    hash *= P3
    hash ^= hash >>> 32
    hash
  }

  def xxh64s(s: String): Long =
    xxh64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** xxHash64 of a long's 8-byte little-endian form — equals Spark's
    * xxhash64() of a LongType column (seed 42).
    */
  def xxh64long(v: Long, seed: Long = 42L): Long = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xFF).toByte; i += 1 }
    xxh64(b, seed)
  }

  private def round(acc: Long, input: Long): Long =
    java.lang.Long.rotateLeft(acc + input * P2, 31) * P1
  private def mergeRound(h: Long, v: Long): Long = (h ^ round(0L, v)) * P1 + P4
  private def readLong(d: Array[Byte], i: Int): Long =
    (d(i) & 0xFFL) | (d(i + 1) & 0xFFL) << 8 | (d(i + 2) & 0xFFL) << 16 |
      (d(i + 3) & 0xFFL) << 24 | (d(i + 4) & 0xFFL) << 32 | (d(i + 5) & 0xFFL) << 40 |
      (d(i + 6) & 0xFFL) << 48 | (d(i + 7) & 0xFFL) << 56
  private def readInt(d: Array[Byte], i: Int): Int =
    (d(i) & 0xFF) | (d(i + 1) & 0xFF) << 8 | (d(i + 2) & 0xFF) << 16 |
      (d(i + 3) & 0xFF) << 24

  // ---------- tokenization (mirrors split(text, " ", -1)) ----------
  def tokens(text: String): Array[String] = text.split(" ", -1)

  /** Distinct word 2..n-shingles, mirroring graft.spark.ShingleOps.grams. */
  def shingles(text: String, n: Int = 2): Set[String] = {
    val t = tokens(text)
    if (t.length < n) Set.empty
    else t.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
  }

  /** N-gram Jaccard pairs as the `dedup_ngram_jaccard` /
    * `dedup_jaccard_capped` oracle SQL defines them: a document's grams
    * are the union over its rows (null text has none), df counts the
    * documents holding a gram, grams with df > cap count toward no pair,
    * sizes are the full gram-set sizes, and a pair doc_a < doc_b sharing
    * a gram is kept when 3·common ≥ size_a + size_b. Rows are
    * (doc_a, doc_b, common, size_a, size_b). A nested loop over all pairs.
    */
  def jaccardPairs(docs: Seq[(Long, String)], n: Int = 2,
                   cap: Int = Int.MaxValue): Set[(Long, Long, Long, Long, Long)] = {
    val grams = docs.groupMapReduce(_._1)(d =>
      if (d._2 == null) Set.empty[String] else shingles(d._2, n))(_ ++ _)
      .filter(_._2.nonEmpty).toSeq.sortBy(_._1)
    val df = grams.flatMap(_._2).groupMapReduce(identity)(_ => 1)(_ + _)
    val rare = grams.map(_._2.filter(df(_) <= cap))
    (for {
      i <- grams.indices
      j <- i + 1 until grams.length
      common = rare(i).count(rare(j).contains).toLong
      (sa, sb) = (grams(i)._2.size.toLong, grams(j)._2.size.toLong)
      if common > 0 && 3 * common >= sa + sb
    } yield (grams(i)._1, grams(j)._1, common, sa, sb)).toSet
  }

  /** MinHash signature: permutation i = xxh64("i:" + gram). */
  def minhashSig(text: String, k: Int, shingleN: Int = 2): Array[Long] = {
    val sh = shingles(text, shingleN)
    Array.tabulate(k)(i => sh.iterator.map(g => xxh64s(s"$i:$g")).min)
  }

  /** MinHash-LSH candidate pairs over banded signatures. */
  def lshPairs(docs: Seq[(Long, String)], k: Int, bands: Int,
               shingleN: Int = 2): Set[(Long, Long)] = {
    val rows = k / bands
    val buckets = scala.collection.mutable.Map.empty[(Int, Long), List[Long]]
    docs.foreach { case (id, text) =>
      val sig = minhashSig(text, k, shingleN)
      (0 until bands).foreach { b =>
        val key = xxh64s((0 until rows).map(r => sig(b * rows + r)).mkString(","))
        buckets((b, key)) = id :: buckets.getOrElse((b, key), Nil)
      }
    }
    buckets.valuesIterator.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
  }

  /** 64-bit SimHash: per-bit sign of tf-weighted token-hash bits. */
  def simhash(text: String): Long = {
    val tf = scala.collection.mutable.Map.empty[String, Long]
    tokens(text).foreach(w => tf(w) = tf.getOrElse(w, 0L) + 1)
    val sums = new Array[Long](64)
    tf.foreach { case (w, c) =>
      val h = xxh64s(w)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) sums(b) += c else sums(b) -= c
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (sums(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Rolling fingerprints: distinct min token-hash over each w-token
    * window [pos, pos+w-1] (short tail windows included — mirrors
    * rowsBetween(0, w-1)).
    */
  def fingerprints(text: String, window: Int = 4): Set[Long] = {
    val hs = tokens(text).map(xxh64s)
    hs.indices.map { p =>
      var m = Long.MaxValue
      var j = p
      while (j < math.min(p + window, hs.length)) {
        if (hs(j) < m) m = hs(j)
        j += 1
      }
      m
    }.toSet
  }

  // ---------- ANN (floats multiplied in Float, accumulated in Double —
  // matching zip_with(x*y) under aggregate(double)) ----------
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0d
    var i = 0
    while (i < a.length) { acc += (a(i) * b(i)); i += 1 }
    acc
  }
  def norm(a: Array[Float]): Double = {
    var acc = 0.0d
    var i = 0
    while (i < a.length) { acc += (a(i) * a(i)); i += 1 }
    math.sqrt(acc)
  }
  def cosine(a: Array[Float], b: Array[Float]): Double = dot(a, b) / (norm(a) * norm(b))

  /** Hyperplane sign weight shared with Similarity.cosineLshBuckets —
    * ±1 from the parity of xxh64("b:d").
    */
  def lshWeight(b: Int, d: Int): Double = {
    val m = xxh64s(s"$b:$d") % 2
    if ((if (m < 0) m + 2 else m) == 0) 1.0 else -1.0
  }

  def cosLshBucket(vec: Array[Float], nBits: Int, bitOffset: Int = 0): Long = {
    var out = 0L
    var b = 0
    while (b < nBits) {
      var proj = 0.0d
      var d = 0
      while (d < vec.length) { proj += vec(d) * lshWeight(bitOffset + b, d); d += 1 }
      if (proj > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Cosine near-dup pairs mirror of Similarity.cosineNearDupPairs:
    * banded multi-table LSH — candidates collide in ANY of the nTables
    * independent nBits signatures (table t = hyperplane indices
    * [t·nBits, (t+1)·nBits)), verified once with exact cosine ≥ minCos.
    */
  def cosNearDupPairs(embs: Seq[(Long, Array[Float])], minCos: Double,
                      nBits: Int, nTables: Int = 16): Seq[(Long, Long)] = {
    val cands = scala.collection.mutable.Set.empty[(Long, Long)]
    (0 until nTables).foreach { t =>
      val byBucket = embs.groupBy { case (_, v) => cosLshBucket(v, nBits, t * nBits) }
      byBucket.valuesIterator.foreach { vs =>
        for ((ia, _) <- vs; (ib, _) <- vs if ia < ib) cands += ((ia, ib))
      }
    }
    val byId = embs.toMap
    cands.iterator
      .filter { case (a, b) => cosine(byId(a), byId(b)) >= minCos }
      .toSeq.sorted
  }

  /** Cosine of a float vector against a double centroid, in the exact
    * arithmetic order of the Spark expression (zip_with promotes each float
    * element to double; norms accumulate in float-multiply / double-add for
    * the vector, pure double for the centroid).
    */
  def cosineD(a: Array[Float], c: Array[Double]): Double = {
    var dot = 0.0d; var na = 0.0d; var nc = 0.0d
    var i = 0
    while (i < a.length) {
      dot += a(i) * c(i)
      na += (a(i) * a(i))
      nc += c(i) * c(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nc))
  }

  /** ×1000 integer quantization with HALF_UP rounding — equals Spark's
    * round(double) (BigDecimal.valueOf semantics).
    */
  def q1000(x: Float): Long =
    java.math.BigDecimal.valueOf(x.toDouble * 1000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** IVF top-k mirror of Similarity.ivfTopK: deterministic seeded-sample
    * k-means — init = the nCells vectors with smallest (xxh64(id), id),
    * then `lloydIters` Lloyd steps whose centroid update sums ×1000-
    * quantized longs (order-independent integer sums, so Spark's partition
    * order cannot perturb the result) and divides once in double.
    * Assignment ties break toward the smaller cell; rank ties toward the
    * smaller id.
    */
  def ivfTopK(embs: Seq[(Long, Array[Float])], queryIds: Seq[Long], k: Int,
              nCells: Int, nProbe: Int, lloydIters: Int = 2): Seq[(Long, Long, Int)] = {
    val dim = embs.head._2.length
    var centroids: Array[Array[Double]] =
      embs.sortBy { case (id, _) => (xxh64long(id), id) }.take(nCells)
        .map(_._2.map(_.toDouble)).toArray
    def nearestCell(v: Array[Float]): Int = {
      var best = 0; var bestSim = Double.NegativeInfinity
      var c = 0
      while (c < centroids.length) {
        val s = cosineD(v, centroids(c))
        if (s > bestSim) { bestSim = s; best = c } // strict > : ties → smaller cell
        c += 1
      }
      best
    }
    for (_ <- 1 to lloydIters) {
      val sums = Array.ofDim[Long](nCells, dim)
      val counts = new Array[Long](nCells)
      embs.foreach { case (_, v) =>
        val c = nearestCell(v)
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += q1000(v(d)); d += 1 }
      }
      centroids = Array.tabulate(nCells) { c =>
        if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
        else Array.tabulate(dim)(d => sums(c)(d).toDouble / (1000.0 * counts(c)))
      }
    }
    def nearestN(v: Array[Float], n: Int): Seq[Int] =
      centroids.indices.map(c => (c, cosineD(v, centroids(c))))
        .sortBy { case (c, s) => (-s, c) }.take(n).map(_._1)
    val byId = embs.toMap
    val byCell = embs.groupBy { case (_, v) => nearestCell(v) }
    queryIds.sorted.flatMap { q =>
      val qv = byId(q)
      val cands = nearestN(qv, nProbe).flatMap(c => byCell.getOrElse(c, Nil))
        .filter(_._1 != q)
      cands.map { case (id, v) => (id, cosine(v, qv)) }
        .sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((id, _), r) => (q, id, r + 1) }
    }
  }
}
