package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Contract of [[DedupQueries.indexDelete]] — the takedown lifecycle
  * on the at-rest dedup signature index: the serve-time tombstone
  * anti-join must equal a full index rebuild over the surviving
  * corpus (so compaction changes COST, never answers), takedown must
  * remove exactly the verdicts witnessed by tombstoned documents, and
  * a delta document whose only witness was taken down must pass the
  * gate — erasure has to actually unblock. */
class IndexDeleteSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id"), col("dup_of")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("tombstone-masked serve equals a full rebuild over the surviving corpus") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val delta = docs.filter(col("doc_id") % 10 === 9)
    val surviving = docs.filter(col("doc_id") % 10 =!= 9 &&
      col("doc_id") % 10 =!= 7)
    val served = pairs(DedupQueries.indexDelete(spark, sf))
    val rebuilt = pairs(DedupQueries.incrementalOver(delta, surviving))
    assert(served == rebuilt, s"serve=$served rebuilt=$rebuilt")
  }

  test("takedown removes exactly the tombstone-witnessed verdicts and unblocks their deltas") {
    val before = pairs(DedupQueries.incremental(spark, sf))
    val after = pairs(DedupQueries.indexDelete(spark, sf))
    assert(after == before.filterNot(_._2 % 10 == 7),
      s"before=$before after=$after")
    // the fixture stakes the claim: at least one verdict was witnessed
    // by a tombstoned doc, and its delta doc is now fully unblocked
    // (no surviving witness) — the erasure consequence, not a no-op
    val removedDeltas = before.filter(_._2 % 10 == 7).map(_._1)
    assert(removedDeltas.nonEmpty, s"fixture has no tombstoned witness")
    val unblocked = removedDeltas -- after.map(_._1)
    assert(unblocked.nonEmpty,
      s"no delta doc was fully unblocked: removed=$removedDeltas after=$after")
  }

  test("streaming twin serves the same takedown verdicts per micro-batch") {
    val streamed = pairs(StreamingQueries.streamIndexDelete(spark, sf))
    val batch = pairs(DedupQueries.indexDelete(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
  }
}
