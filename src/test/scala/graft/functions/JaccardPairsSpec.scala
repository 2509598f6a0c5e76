package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.gen.{OracleData, RefImpl}

/** `Dedup.ngramJaccardPairs` (the sharded count probe) against
  * `RefImpl.jaccardPairs`, a nested loop over the oracle SQL's definition:
  * on the oracle documents and sf0.01, on hand-built edge documents, and
  * at several shard counts.
  */
class JaccardPairsSpec extends AnyFunSuite {
  private lazy val spark = graft.engine.EngineSpec.spark
  private type Pair = (Long, Long, Long, Long, Long)

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "text").collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
  private def pairs(df: DataFrame): Set[Pair] = {
    val out = df.collect().toSeq
    val set = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(set.size == out.length, "one row per pair")
    set
  }

  private lazy val oracleDocs = OracleData.table(spark, "documents")
  private lazy val sf001Docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

  /** Edge documents (cap 3 for the df edge). Gram sizes in the comments. */
  private val edges: Seq[(Long, String)] = Seq(
    1L -> null, 2L -> "", 3L -> "solo",
    // repeated bigrams: {x y, y x} twice over, and the single {x y}
    4L -> "x y x y x y", 5L -> "x y x y", 6L -> "x y",
    // 3·common = sa + sb exactly: sizes 4 and 5 sharing 3 grams
    10L -> "a b c d e", 11L -> "a b c d q r", 12L -> "a b c d q r s",
    // sb = 2·sa (kept at common = sa) and sb = 2·sa + 1 (never kept), with
    // the larger document on the probe side for the lower edge ⌈sa/2⌉
    20L -> "m n o", 21L -> "m n o p q", 22L -> "m n o p q r",
    23L -> "m n o p q", 24L -> "m n o",
    25L -> "u v w x", 26L -> "u v w",
    // df("k1 k2") = 3 = cap stays; df("z1 z2") = 4 = cap + 1 is dropped
    30L -> "k1 k2 z1 z2", 31L -> "z1 z2 k2 z1", 32L -> "k1 k2", 35L -> "k1 k2 k1",
    33L -> "z1 z2 w1 w2", 36L -> "w1 w2 z1 z2")
  private val edgeCap = 3
  private lazy val edgeDf = {
    import spark.implicits._
    edges.toDF("doc_id", "text")
  }

  test("equals the reference on the oracle documents and sf0.01, uncapped and cap 50") {
    for (docs <- Seq(oracleDocs, sf001Docs); cap <- Seq(Int.MaxValue, 50)) {
      val ref = RefImpl.jaccardPairs(rows(docs), 2, cap)
      assert(ref.nonEmpty)
      assert(pairs(Dedup.ngramJaccardPairs(docs, n = 2, maxShingleFreq = cap)) == ref, s"cap $cap")
    }
  }

  test("equals the reference on edge documents") {
    val uncapped = RefImpl.jaccardPairs(edges, 2)
    val capped = RefImpl.jaccardPairs(edges, 2, edgeCap)
    // the reference itself reaches every edge
    assert(Set[Pair]((4, 5, 2, 2, 2), (4, 6, 1, 2, 1), (10, 11, 3, 4, 5), (20, 21, 2, 2, 4),
      (23, 24, 2, 4, 2), (25, 26, 2, 3, 2), (30, 31, 2, 3, 3), (32, 35, 1, 1, 2)).subsetOf(uncapped))
    assert(!uncapped.exists(p => p._1 == 10 && p._2 == 12))
    assert(!uncapped.exists(p => p._1 == 20 && p._2 == 22))
    assert(capped((32, 35, 1, 1, 2)) && !capped.exists(p => p._1 == 30 && p._2 == 31))
    assert(!(uncapped ++ capped).exists(p => p._1 <= 3 || p._2 <= 3))
    assert(pairs(Dedup.ngramJaccardPairs(edgeDf, maxShingleFreq = Int.MaxValue)) == uncapped)
    assert(pairs(Dedup.ngramJaccardPairs(edgeDf, maxShingleFreq = edgeCap)) == capped)
  }

  test("shard counts 1, 2 and 7 give identical results") {
    for ((docs, cap) <- Seq((sf001Docs, Int.MaxValue), (sf001Docs, 50),
                            (edgeDf, Int.MaxValue), (edgeDf, edgeCap))) {
      val ref = RefImpl.jaccardPairs(rows(docs), 2, cap)
      for (k <- Seq(1, 2, 7))
        assert(pairs(Dedup.jaccardJoin(docs, 2, cap, k)) == ref, s"cap $cap, $k shards")
    }
  }
}
