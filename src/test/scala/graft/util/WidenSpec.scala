package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The scan-width guard's contract: widen narrow scans to the session
  * parallelism, change NOTHING else — never the result set, never a
  * frame that is already wide, post-shuffle, or streaming. */
class WidenSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("a narrow scan widens to defaultParallelism with the same rows") {
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(docs.rdd.getNumPartitions === 1) // the single-row-group file
    val wide = Widen(docs)
    assert(wide.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    val a = docs.collect().map(_.toString()).sorted.toSeq
    val b = wide.collect().map(_.toString()).sorted.toSeq
    assert(a === b)
  }

  test("an already-widened frame passes through (no stacked exchange)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val once = Widen(docs)
    val twice = Widen(once)
    assert(twice eq once) // the repartition guard short-circuits
  }

  test("post-shuffle frames pass through untouched (no eager .rdd under AQE)") {
    val agg = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").count()
    assert(Widen(agg) eq agg)
    val joined = graft.sources.Tables.documents(spark, sf).as("a")
      .join(graft.sources.Tables.documents(spark, sf).as("b"), Seq("doc_id"))
    assert(Widen(joined) eq joined)
  }

  test("streaming frames pass through untouched") {
    val raw = spark.read.parquet(s"$sf/documents.parquet").schema
    val stream = spark.readStream.schema(raw)
      .parquet(s"$sf/{documents}.parquet")
    assert(Widen(stream) eq stream)
  }

  test("pushable filters below the widen still reach the scan") {
    val df = Widen(graft.sources.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 5))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,5)]"), plan.take(2000))
  }
}
