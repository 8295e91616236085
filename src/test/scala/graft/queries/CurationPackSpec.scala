package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The shard packer's distributed two-pass prefix sum must equal the
  * naive single-window global running sum under ANY input partitioning
  * — that equivalence is exactly what makes it safe to use instead of
  * the driver-choking `Window.orderBy(doc_id)` at scale. Also pins the
  * contiguity invariants a data loader relies on. */
class CurationPackSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("distributed prefix sum equals the naive global window") {
    val packed = CurationQueries.packShards(spark, sf)
      .select("doc_id", "n_tokens", "start_offset", "shard_id")

    // naive reference: one global window (fine on test volumes only)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextShingles.tokens(col("text")))
          .cast("long").as("n_tokens"))
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = docs
      .withColumn("start_offset", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("shard_id",
        floor(col("start_offset") / lit(8192.0)).cast("long"))
      .select("doc_id", "n_tokens", "start_offset", "shard_id")

    assert(packed.exceptAll(naive).isEmpty && naive.exceptAll(packed).isEmpty,
      packed.exceptAll(naive).limit(5).collect().mkString("; "))
  }

  test("overflow packing: every full shard holds exactly the token budget, splits conserve tokens") {
    val rows = CurationQueries.packOverflow(spark, sf)
      .groupBy("shard_id").agg(sum("tokens_in_shard").as("tok"))
      .orderBy("shard_id").collect()
    assert(rows.nonEmpty)
    // all shards except the last are filled to exactly the budget —
    // the no-padding invariant a fixed-context loader relies on
    val budget = CurationQueries.ShardTokens
    rows.init.foreach(r => assert(r.getLong(1) == budget, r.toString))
    assert(rows.last.getLong(1) <= budget)
    // and the split rows conserve each document's token count
    val perDoc = CurationQueries.packOverflow(spark, sf)
      .groupBy("doc_id").agg(sum("tokens_in_shard").as("tok"))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextShingles.tokens(col("text")))
          .cast("long").as("tok"))
    assert(perDoc.exceptAll(docs).isEmpty && docs.exceptAll(perDoc).isEmpty)
  }

  test("shards are contiguous in doc_id order and start where the previous ended") {
    val rows = CurationQueries.packShards(spark, sf)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_offset", "shard_id")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.head.getLong(2) == 0L) // first doc starts at offset 0
    rows.sliding(2).foreach { case Array(a, b) =>
      // offsets are exactly cumulative: next start = prev start + prev tokens
      assert(b.getLong(2) == a.getLong(2) + a.getLong(1), s"$a -> $b")
      // shard ids never decrease along the doc order
      assert(b.getLong(3) >= a.getLong(3), s"$a -> $b")
    }
    // every shard's docs span a contiguous doc_id range (no interleaving)
    val byShard = rows.groupBy(_.getLong(3)).toSeq.sortBy(_._1)
    val ranges = byShard.map { case (sid, rs) =>
      (sid, rs.map(_.getLong(0)).min, rs.map(_.getLong(0)).max)
    }
    ranges.sliding(2).foreach {
      case Seq((_, _, aMax), (_, bMin, _)) => assert(aMax < bMin)
      case _ => ()
    }
  }
}
