package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Contract of [[CurationQueries.tokenBudget]]: the two-level
  * distributed prefix sum must reproduce the one-window spelling
  * exactly, admission must be a PREFIX of the (quality desc, doc_id)
  * order within every source (no dropped doc may outrank a kept one),
  * and the fixture must exercise both the keep and drop branches. */
class TokenBudgetSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private lazy val got = CurationQueries.tokenBudget(spark, sf)
    .collect()
    .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)))

  test("two-level prefix sum equals the single-window spelling") {
    // the plain (non-scalable) spelling: one window per source over
    // the whole relation — the oracle the distributed plan must match
    val docs = graft.sources.Tables.documents(spark, sf)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("qlvl").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val plain = docs.select(col("doc_id"), col("source"),
        size(graft.functions.TextShingles.tokens(col("text")))
          .cast(LongType).as("n_tokens"),
        (TextQueries.qualityScoreCol * 4).cast(LongType).as("qlvl"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("kept",
        (col("cum_tokens") <= CurationQueries.QualityBudgetTokens)
          .cast(LongType))
      .select(col("doc_id"), col("source"), col("qlvl"), col("n_tokens"),
        col("cum_tokens"), col("kept"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSet == plain.toSet && got.nonEmpty)
  }

  test("admission is a prefix of the (quality desc, doc_id) order per source") {
    got.groupBy(_._2).foreach { case (src, rows) =>
      val ordered = rows.sortBy(r => (-r._3, r._1)) // qlvl desc, doc_id
      val keptFlags = ordered.map(_._6)
      assert(!keptFlags.dropWhile(_ == 1L).contains(1L),
        s"$src: a dropped doc outranks a kept one")
    }
  }

  test("fixture exercises both branches; the boundary is exact") {
    val kept = got.filter(_._6 == 1L)
    val dropped = got.filter(_._6 == 0L)
    assert(kept.nonEmpty && dropped.nonEmpty)
    assert(kept.forall(_._5 <= CurationQueries.QualityBudgetTokens))
    assert(dropped.forall(_._5 > CurationQueries.QualityBudgetTokens))
  }
}
