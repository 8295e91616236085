package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** AQE's runtime skew-join split is the engine's FIRST line of defense
  * for hot keys (graft's `Relational.saltedJoin` is the explicit
  * fallback for keys a single task can't hold even after AQE). This
  * spec proves the claim the salted-join docs make — that AQE handles
  * the common case at runtime — by building a join where one key owns
  * most of the fact side and asserting the executed plan actually
  * split the skewed partition (`isSkewJoin`), with thresholds scaled
  * down to test volumes. Without this pin, a conf regression (e.g.
  * skewJoin.enabled flipped off globally) would silently degrade every
  * hot-key join to a straggler task.
  */
class AqeSkewJoinSpec extends AnyFunSuite with SharedSpark {

  // scale AQE's skew thresholds down to test data volumes: a
  // partition is "skewed" past 64 KiB and 2x the median, and splits
  // aim at 16 KiB chunks
  override def sessionConf = Map(
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("a hot key triggers AQE's runtime skew split in the executed plan") {
    import spark.implicits._
    // 50k fact rows, ~90% on key 0; dimension of 100 distinct keys
    val fact = spark.range(0, 50000)
      .select((when(pmod(col("id"), lit(10)) < 9, 0L)
        .otherwise(pmod(col("id"), lit(100)))).as("k"),
        concat(lit("payload-"), col("id")).as("v"))
    val dim = spark.range(0, 100).select(col("id").as("k"),
      concat(lit("dim-"), col("id")).as("dv"))
    val joined = fact.join(dim, "k")
    // AQE finalizes THIS dataframe's plan only when IT executes —
    // `.count()` would plan and run a different query
    val n = joined.collect().length
    assert(n == 50000)
    val executed = joined.queryExecution.executedPlan.toString
    assert(executed.contains("isSkewJoin=true") ||
      executed.contains("skew=true"), executed.take(4000))
  }

  test("the same shape joins correctly under the skew split (row-level parity)") {
    import spark.implicits._
    val fact = spark.range(0, 20000)
      .select((when(pmod(col("id"), lit(10)) < 9, 0L)
        .otherwise(pmod(col("id"), lit(50)))).as("k"), col("id"))
    val dim = spark.range(0, 50).select(col("id").as("k"),
      (col("id") * 2).as("dv"))
    val viaJoin = fact.join(dim, "k").agg(
      count(lit(1)).as("n"), sum(col("dv")).as("s")).collect().head
    // reference: compute the expected aggregate without a join
    val expect = fact.join(broadcast(dim), "k").agg(
      count(lit(1)).as("n"), sum(col("dv")).as("s")).collect().head
    assert(viaJoin == expect, s"$viaJoin vs $expect")
  }

  test("AQE coalesces a many-partition shuffle down to the data's real size") {
    // the flip side of the skew split: a 32-partition session
    // (production sizing) aggregating a tiny relation must NOT run 32
    // reduce tasks — AQE's coalescing collapses the post-shuffle
    // partitions to the advisory size, which is why a fixed
    // spark.sql.shuffle.partitions is safe at every SF. The spec's
    // session disables coalescing for the skew tests, so this one
    // runs in a child session with it on.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s2.conf.set("spark.sql.shuffle.partitions", "32")
    val agg = s2.range(0, 1000)
      .select(pmod(col("id"), lit(10)).as("k"))
      .groupBy("k").count()
    assert(agg.collect().length == 10)
    // the coalesced read lives inside AdaptiveSparkPlanExec's final
    // plan (not reachable by a plain collect over executedPlan), so
    // pin the rendered final plan: the 32-reducer exchange is read
    // back through an 'AQEShuffleRead coalesced' node
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(2000))
    assert(p.contains("AQEShuffleRead coalesced"), p.take(2000))
    assert(p.contains("hashpartitioning(k#") && p.contains(", 32)"),
      p.take(2000))
  }
}
