package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{TopKByScore, TopKByScoreLong}

/** Batch relational operators mirroring the reference pipeline's
  * semantics (SURVEY.md §2) as composable DataFrame transforms.
  *
  * Reference semantics (ksqlDB statements, cited in the Scaladoc of each
  * op) are re-expressed Spark-first: declarative plans that Catalyst can
  * push down, prune, and pick join strategies for. The streaming forms
  * live in `graft.streaming`; these batch forms are the DuckDB-verifiable
  * analogs the driver's correctness gate runs.
  */
object Relational {

  /** A2 `latest_by_offset` batch analog (reference README.md:434-441):
    * last-write-wins materialization of a changelog into a keyed table.
    *
    * Implemented with `max_by(value, offset)` — a built-in declarative
    * aggregate that map-side-combines (partial aggregation before the
    * shuffle), so at 100 TB the shuffle carries one row per key per map
    * partition, not the whole changelog. The window-function form
    * (`row_number over (partition by key order by offset desc) = 1`)
    * shuffles ALL rows then sorts each partition — strictly worse; we keep
    * it only as the oracle's SQL spelling.
    */
  def latestByKey(df: DataFrame, key: Column, offset: Column,
                  values: (String, Column)*): DataFrame = {
    val aggs = values.map { case (name, c) => max_by(c, offset).as(name) }
    df.groupBy(key).agg(aggs.head, aggs.tail: _*)
  }

  /** J1 stream–table LEFT OUTER equi-join batch analog (enrichment /
    * lookup join; reference README.md:448-459). The dimension side is
    * broadcast: at 100 TB the fact stream never shuffles — each executor
    * holds the (small) latest-customer snapshot. The explicit hint
    * overrides `spark.sql.autoBroadcastJoinThreshold`: the dim is
    * broadcast whatever its size, so it must fit in executor memory.
    */
  def enrichLeft(fact: DataFrame, dim: DataFrame, cond: Column): DataFrame =
    fact.join(broadcast(dim), cond, "left")

  /** J2 stream–stream interval join batch analog (reference
    * README.md:464-480, `WITHIN 7 DAYS`): equi-key plus symmetric
    * time-band predicate. The equi-key makes this a hash join with the
    * band as a post-filter — no O(n·m) range explosion. At scale both
    * sides shuffle once on the key; AQE handles skewed keys.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCond: Column,
                   leftTime: Column, rightTime: Column,
                   band: String = "7 days"): DataFrame =
    left.join(right,
      keyCond &&
        rightTime >= leftTime - expr(s"INTERVAL $band") &&
        rightTime <= leftTime + expr(s"INTERVAL $band"),
      "inner")

  /** Skew-mitigating salted join: the skewed (fact) side gets a
    * deterministic salt derived from a high-cardinality column, and the
    * build side is replicated across all salt values, so one hot key
    * spreads over `salts` shuffle partitions. Semantically identical to
    * the plain join (verified by oracle). AQE's skew-join handles most
    * cases at runtime; explicit salting is the fallback when a single
    * key exceeds what one task can hold. */
  def saltedJoin(fact: DataFrame, build: DataFrame, factKey: Column,
                 buildKey: Column, saltSource: Column, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(saltSource), lit(salts)))
    val saltedBuild = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedBuild,
        factKey === buildKey && saltedFact("__salt") === saltedBuild("__salt"))
      .drop("__salt")
  }

  /** Bounded per-group top-k: the `k` best rows of each `keys` group
    * by `score` descending, `id` ascending on ties, as ranked rows
    * (keys, `rank`, id, score) with a 1-based BIGINT `rank`.
    *
    * The naive spelling (`row_number() OVER (PARTITION BY …) <= k`)
    * shuffles and sorts every row; this one aggregates into a
    * k-bounded buffer that map-side-combines, so the shuffle carries
    * at most k rows per key per map partition. The window form stays
    * the oracle spelling. An integral `score` takes `longScores`: the
    * BIGINT variant keeps scores past 2^53 exact, where a Double
    * would merge near-ties. The id and score columns keep their
    * names in the output. */
  def topK(df: DataFrame, keys: Seq[String], score: String, id: String,
           k: Int, longScores: Boolean): DataFrame =
    topKRanked(
      df.groupBy(keys.map(col): _*)
        .agg(topKAggregator(k, longScores)(col(score), col(id)).as(TopKBuffer)),
      TopKBuffer, id, score)

  private val TopKBuffer = "__topk"

  private val topKAggregators =
    new ConcurrentHashMap[(Int, Boolean), UserDefinedFunction]()

  /** The aggregate behind [[topK]], for a caller that must hold the
    * buffer itself: beside other aggregates in one `agg`, or as a
    * streaming aggregate's state. Applied to (score, id) it gives the
    * buffer column [[topKRanked]] unpacks. One instance per
    * (k, variant) per JVM: deriving its encoders is the costly part. */
  def topKAggregator(k: Int, longScores: Boolean): UserDefinedFunction =
    topKAggregators.computeIfAbsent((k, longScores), _ =>
      if (longScores) udaf(new TopKByScoreLong(k)) else udaf(new TopKByScore(k)))

  /** The ranked rows of the [[topKAggregator]] buffer in column
    * `buffer`: every other column of `df`, then `rank` (1-based,
    * BIGINT), then the buffer's ids as `id` and scores as `score`,
    * best first. */
  def topKRanked(df: DataFrame, buffer: String, id: String,
                 score: String): DataFrame = {
    val keys = df.columns.toSeq.filter(_ != buffer).map(col)
    df.select(keys :+ posexplode(arrays_zip(
        col(s"$buffer.scores"), col(s"$buffer.ids"))).as(Seq("__pos", "__z")): _*)
      .select(keys ++ Seq((col("__pos") + 1).cast(LongType).as("rank"),
        col("__z.ids").as(id), col("__z.scores").as(score)): _*)
  }
}
