package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Two engine-policy gates on the dedup/similarity operators:
  *
  *  1. Band recall: the 4×4-bit SimHash band join must find EVERY
  *     hamming-≤3 pair (pigeonhole: 3 differing bits cannot touch all
  *     four disjoint bands) — including pairs whose differing bits are
  *     all in the top byte, which a single high-byte band misses.
  *  2. Cache hygiene: catalog queries may persist intermediates while
  *     they run, but no InMemoryRelation may outlive a query's return
  *     (Verify/Bench run the whole catalog in one session — leaked caches
  *     accumulate in executor memory and distort later timings).
  */
class DedupHygieneSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("simhash bands find a top-byte-differing hamming-3 pair (single band misses it)") {
    import spark.implicits._
    // 0x1234 vs 0xF234: xor = 0xE000, hamming 3, all differing bits in
    // the top nibble — invisible to a high-byte band, caught by bands
    // 0-2. 0x0000 vs 0x1111: hamming 4, every band differs → no
    // candidate, and over threshold anyway.
    val sig = Seq((1L, 0x1234L), (2L, 0xF234L), (10L, 0x0000L), (11L, 0x1111L))
      .toDF("doc_id", "simhash")
    val got = DedupQueries.simhashBandPairs(sig)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L)))
  }

  test("64-bit banding: hamming-3 pairs found in every band position, incl. the sign band") {
    import spark.implicits._
    // three hamming-≤3 pairs with differing bits concentrated in one
    // 16-bit band each — including the TOP band (bits 48-63, crossing
    // the sign bit) — plus a hamming-4 pair touching all four bands
    // (never a candidate, and over threshold anyway)
    val base = 0x0123456789abcdefL
    val sig = Seq(
      1L -> base, 2L -> (base ^ 0x7L),                   // band 0, hamming 3
      3L -> base, 4L -> (base ^ 0x0003000000000000L),    // band 3, hamming 2
      5L -> base, 6L -> (base ^ 0x8000000000000000L),    // sign bit, hamming 1
      10L -> 0L, 11L -> 0x1000100010001L                 // hamming 4, all bands
    ).map { case (id, s) => (id * 100, s) } // distinct ids per row
      .toDF("doc_id", "simhash")
    val got = DedupQueries.simhashBandPairs(sig, bandBits = 16)
      .as[(Long, Long, Long)].collect().toSet
    // brute force over the same signatures
    val rows = sig.as[(Long, Long)].collect()
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(got == expected && expected.size >= 3, s"got $got, expected $expected")
  }

  test("no InMemoryRelation survives a catalog query's return") {
    val leakyProne = Seq("dedup_ngram_jaccard", "dedup_minhash_lsh",
      "dedup_simhash_pairs", "dedup_components", "sim_cos_neardup")
    leakyProne.foreach { name =>
      val df = Catalog.queries(name)(spark, sf)
      df.count() // consume the query the way Verify/Bench do
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name leaked a persisted relation")
    }
  }
}
