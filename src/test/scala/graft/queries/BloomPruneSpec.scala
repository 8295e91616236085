package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{BareSession, GraftSql, SharedSpark}

/** The bloom scan-pruning primitive (`bloom_filter_agg` /
  * `might_contain`, Spark's runtime-filter expressions made
  * SQL-reachable) and its use in [[CurationQueries.decontamBloom]]:
  * the bloom must act as a PRE-join filter on the training side, and
  * the pruned query must return exactly the un-pruned answer. */
class BloomPruneSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("bloom filter accepts every inserted key (no false negatives)") {
    import spark.implicits._
    (1L to 1000L).toDF("k").createOrReplaceTempView("keys")
    val accepted = spark.sql(
      """SELECT count(*) FROM keys
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(k), 1000L, 8000L) FROM keys),
        |  xxhash64(k))""".stripMargin).collect().head.getLong(0)
    assert(accepted == 1000L)
  }

  test("bloom filter rejects most absent keys at the sized fpp") {
    import spark.implicits._
    (1L to 1000L).toDF("k").createOrReplaceTempView("keys")
    (100001L to 110000L).toDF("k").createOrReplaceTempView("probes")
    val falsePos = spark.sql(
      """SELECT count(*) FROM probes
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(k), 1000L, 8000L) FROM keys),
        |  xxhash64(k))""".stripMargin).collect().head.getLong(0)
    // 8 bits/key ≈ 2% fpp; 10k probes → expect ~200, fail above 10×
    assert(falsePos < 2000L, s"bloom passed $falsePos of 10000 absent keys")
  }

  test("decontamBloom plan filters the train side BEFORE the join") {
    val plan = CurationQueries.decontamBloom(spark, sf)
      .queryExecution.executedPlan.toString
    val filterIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("Join")
    assert(filterIdx >= 0, "no might_contain filter in the plan")
    assert(joinIdx >= 0, "no join in the plan")
    // in the executed-plan tree dump, operators print top-down, so the
    // pre-join filter must appear BELOW the join node (greater index)
    assert(filterIdx > joinIdx,
      s"might_contain at $filterIdx is not below the join at $joinIdx:\n" +
        plan.take(2000))
  }

  test("bloom-pruned decontamination equals the exact answer") {
    val exact = CurationQueries.decontaminate(spark, sf)
      .collect().map(_.toSeq).toSet
    val bloom = CurationQueries.decontamBloom(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(bloom == exact)
    assert(exact.nonEmpty, "fixture produced no contamination evidence")
  }

  test("functions are also reachable on a registerFunctions session") {
    // per-session path: a session built without the extension (a
    // newSession() of this one would inherit it) gets the names from
    // registerFunctions
    val s2 = BareSession(spark)
    GraftSql.registerFunctions(s2)
    import s2.implicits._
    (1L to 10L).toDF("k").createOrReplaceTempView("k2")
    val n = s2.sql(
      """SELECT count(*) FROM k2
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(k)) FROM k2), xxhash64(k))"""
        .stripMargin).collect().head.getLong(0)
    assert(n == 10L)
  }
}
