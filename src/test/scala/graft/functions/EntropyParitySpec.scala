package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The native [[CharEntropy]] expression must be BIT-identical to the
  * composed explode→count→join→sum spelling — they share one DuckDB
  * oracle, so any divergence (code-unit handling, empty-string
  * degenerate, libm path, grid flooring) would show up as a silent
  * hash flip at a bigger SF. Pinned row-for-row on the real table
  * plus the hostile degenerate inputs the corpus may not contain. */
class EntropyParitySpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("native == composed on every document row") {
    import spark.implicits._
    val a = graft.queries.TextQueries.charEntropy(spark, sf)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val b = graft.queries.TextQueries.charEntropyNative(spark, sf)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("degenerate inputs: empty, single char, all-same, surrogate pair") {
    import spark.implicits._
    val probe = Seq((1L, ""), (2L, "a"), (3L, "aaaa"), (4L, "ab"),
      (5L, "a😀b")) // the emoji is TWO UTF-16 code units, like split('')
      .toDF("doc_id", "text")
    probe.createOrReplaceTempView("__ent_probe")
    val composed = spark.sql(
      """WITH c AS (
        |  SELECT doc_id, ch, COUNT(*) AS c FROM (
        |    SELECT doc_id, explode(split(text, '')) AS ch
        |    FROM __ent_probe) GROUP BY doc_id, ch),
        |t AS (SELECT doc_id, SUM(c) AS n FROM c GROUP BY doc_id)
        |SELECT c.doc_id, CAST(MAX(t.n) AS BIGINT),
        |  CAST(SUM(c.c * CAST(floor(ln(t.n / c.c) * 1000000) AS BIGINT))
        |    AS BIGINT)
        |FROM c JOIN t ON c.doc_id = t.doc_id
        |GROUP BY c.doc_id""".stripMargin)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val native = probe
      .select(org.apache.spark.sql.functions.col("doc_id"),
        CharEntropy(
          org.apache.spark.sql.functions.col("text")).as("e"))
      .selectExpr("doc_id", "e.n_chars", "e.entropy_micro_nats")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(native == composed, s"native=$native composed=$composed")
  }
}
