package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream
import graft.streaming.FiniteStream.Leg

/** The contract of [[Relational.topK]]: per group, the k best rows by
  * score descending, id ascending on ties, as (keys, rank, id, score)
  * rows with a 1-based rank — for both score variants, and for a
  * streaming aggregate's buffer unpacked after it drains. */
class RelationalTopKSpec extends AnyFunSuite with SharedSpark {

  private val Big = 1L << 53

  /** (case, k, input (g, score, id), expected (g, rank, id, score)). */
  private val cases: Seq[(String, Int, Seq[(String, Long, Long)],
      Seq[(String, Long, Long, Long)])] = Seq(
    ("ties: score descending, then id ascending", 3,
      Seq(("a", 5, 9), ("a", 7, 4), ("a", 5, 2), ("a", 5, 3)),
      Seq(("a", 1, 4, 7), ("a", 2, 2, 5), ("a", 3, 3, 5))),
    ("the k bound holds per group", 2,
      Seq(("a", 1, 1), ("a", 2, 2), ("a", 3, 3), ("b", 9, 1), ("b", 8, 2),
        ("b", 7, 3), ("b", 6, 4)),
      Seq(("a", 1, 3, 3), ("a", 2, 2, 2), ("b", 1, 1, 9), ("b", 2, 2, 8))),
    ("a group with fewer than k rows keeps all of them", 5,
      Seq(("a", 4, 1), ("a", 6, 2), ("b", -1, 7)),
      Seq(("a", 1, 2, 6), ("a", 2, 1, 4), ("b", 1, 7, -1))),
    ("k = 1 keeps the best row at rank 1", 1,
      Seq(("a", 3, 8), ("a", 3, 5), ("a", 2, 1)),
      Seq(("a", 1, 5, 3))))

  private def input(rows: Seq[(String, Long, Long)],
                    longScores: Boolean): DataFrame = {
    import spark.implicits._
    val df = rows.toDF("g", "score", "id").repartition(3)
    if (longScores) df else df.withColumn("score", col("score").cast("double"))
  }

  private def ranked(df: DataFrame): Seq[(String, Long, Long, Long)] =
    df.select("g", "rank", "id", "score").collect().toSeq.map {
      case Row(g: String, r: Long, i: Long, s: Long) => (g, r, i, s)
      case Row(g: String, r: Long, i: Long, s: Double) => (g, r, i, s.toLong)
    }.sorted

  for ((name, k, rows, expected) <- cases; longScores <- Seq(false, true))
    test(s"$name (${if (longScores) "BIGINT" else "DOUBLE"} scores)") {
      val out = Relational.topK(input(rows, longScores), Seq("g"), "score",
        "id", k, longScores)
      assert(out.columns.toSeq == Seq("g", "rank", "id", "score"))
      assert(ranked(out) == expected)
    }

  test("BIGINT scores rank exactly past 2^53, where DOUBLE scores tie") {
    val rows = Seq(("a", Big, 1L), ("a", Big + 1, 2L))
    val exact = Relational.topK(input(rows, longScores = true), Seq("g"),
      "score", "id", 1, longScores = true)
    assert(exact.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // both scores round to 2^53 as doubles: the tie goes to the lower id
    val rounded = Relational.topK(input(rows, longScores = false), Seq("g"),
      "score", "id", 1, longScores = false)
    assert(rounded.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("one aggregator per (k, variant); topKRanked keeps every other column") {
    assert(Relational.topKAggregator(3, longScores = true) eq
      Relational.topKAggregator(3, longScores = true))
    assert(!(Relational.topKAggregator(3, longScores = true) eq
      Relational.topKAggregator(3, longScores = false)))
    val top = Relational.topKAggregator(2, longScores = true)
    val agg = input(cases(1)._3, longScores = true).groupBy(col("g"))
      .agg(org.apache.spark.sql.functions.count(col("id")).as("n"),
        top(col("score"), col("id")).as("top"))
    val out = Relational.topKRanked(agg, "top", "doc", "s")
    assert(out.columns.toSeq == Seq("g", "n", "rank", "doc", "s"))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted ==
      Seq(("a", 3L, 1L, 3L, 3L), ("a", 3L, 2L, 2L, 2L),
        ("b", 4L, 1L, 1L, 9L), ("b", 4L, 2L, 2L, 8L)))
  }

  test("a streaming aggregate's buffer unpacks after FiniteStream.drain") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (_, k, rows, expected) = cases(1)
    val feed = MemoryStream[(String, Long, Long)]
    rows.grouped(3).foreach(b => feed.addData(b))
    val agg = feed.toDF().toDF("g", "score", "id").groupBy(col("g"))
      .agg(Relational.topKAggregator(k, longScores = true)(
        col("score"), col("id")).as("top"))
    val Seq(table) = FiniteStream.drain(Leg(agg, "complete",
      statePartitions = 2))
    assert(ranked(Relational.topKRanked(table, "top", "id", "score")) ==
      expected)
  }
}
