package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
    * holds the (small) latest-customer snapshot. Falls back to
    * sort-merge automatically if the dim outgrows
    * `spark.sql.autoBroadcastJoinThreshold`.
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
}
