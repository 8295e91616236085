package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Catalog.Entry
import graft.sources.Tables

/** File-format source/sink surface (the K1 "named output" analog +
  * format coverage the reference's Kafka topics imply): write a table
  * to a format, read it back, and prove losslessness against the
  * original relation's oracle. The partitioned-parquet query
  * additionally exercises partition PRUNING — the scan must touch only
  * the filtered partition directory (the 100 TB layout: data
  * partitioned by a low-cardinality key so queries skip whole
  * directories). */
object SourceQueries {

  /** Fixed per-name scratch dirs + overwrite mode: repeated harness
    * runs reuse the same paths instead of accumulating abandoned
    * table copies in /tmp. */
  private def tmp(prefix: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-roundtrips", prefix)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** CSV sink + schema-ful CSV source round-trip. */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = tmp("graft-csv-")
    val r = Tables.region(s, d)
    r.write.mode("overwrite").option("header", "true").csv(out)
    s.read.schema(r.schema).option("header", "true").csv(out)
  }

  val csvRoundtripSql: String = "SELECT r_regionkey, r_name FROM region"

  /** JSON-lines sink + source round-trip. */
  def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = tmp("graft-json-")
    val n = Tables.nation(s, d)
    n.write.mode("overwrite").json(out)
    s.read.schema(n.schema).json(out)
  }

  val jsonRoundtripSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  /** ORC sink + source round-trip (second columnar format). */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = tmp("graft-orc-")
    val p = Tables.supplier(s, d)
    p.write.mode("overwrite").orc(out)
    s.read.orc(out)
  }

  val orcRoundtripSql: String =
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"

  /** Hive-style partitioned parquet write, then a filtered read that
    * prunes to one partition directory. */
  def partitionedParquet(s: SparkSession, d: String): DataFrame = {
    val out = tmp("graft-part-")
    Tables.customer(s, d).write.mode("overwrite")
      .partitionBy("c_mktsegment").parquet(out)
    s.read.parquet(out)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
  }

  val partitionedParquetSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin

  /** SCHEMA EVOLUTION read — the lake reality that a 100 TB table's
    * files were written across schema versions: batch 1 lands without
    * a column, batch 2 adds it; `mergeSchema` unions the file
    * footers and the reader sees one schema with NULLs where the old
    * files lack the column. The oracle derives the same union from
    * the source table (n_regionkey < 3 → v1 files, missing the
    * `n_len` column → NULL). No full-table rewrite on evolution —
    * exactly how additive schema changes must land at scale. */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val out = tmp("graft-evolve-")
    val n = Tables.nation(s, d)
    // wipe, then land two schema generations side by side
    val v1 = n.filter(col("n_regionkey") < 3)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val v2 = n.filter(col("n_regionkey") >= 3)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        length(col("n_name")).cast("long").as("n_len"))
    // the registry-style gate production applies before accepting a
    // new schema version (the reference's Schema Registry enforces
    // BACKWARD by default): v2 must stay readable alongside v1 files
    val issues = graft.sources.SchemaCompat.backwardIssues(
      v1.schema, v2.schema)
    require(issues.isEmpty,
      s"schema evolution rejected: ${issues.mkString("; ")}")
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)
    s.read.option("mergeSchema", "true").parquet(out)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("n_len"))
  }

  val schemaEvolutionSql: String =
    """SELECT n_nationkey, n_name, n_regionkey,
      |  CASE WHEN n_regionkey >= 3 THEN CAST(length(n_name) AS BIGINT)
      |       END AS n_len
      |FROM nation""".stripMargin

  /** DYNAMIC PARTITION PRUNING — the 100 TB scan-killer for star
    * joins: the fact table is partitioned on the join key, the
    * dimension's selective filter runs FIRST (broadcast), and the
    * optimizer injects the surviving key set into the fact scan's
    * PartitionFilters at RUNTIME — unmatched partitions are never
    * read, no static predicate required. Here orders lands
    * partitioned by order year, a derived year-dimension keeps only
    * high-volume years, and the join key is the partition column; the
    * plan carries `dynamicpruning` on the fact scan (pinned in
    * PlanPropertiesSpec via [[dppPlan]]) reusing the dimension's
    * broadcast. The dimension's filter is on an AGGREGATE (order
    * count), deliberately NOT a function of the key — a deterministic
    * key predicate would propagate through the join constraint and
    * prune STATICALLY, which is the easy case; runtime pruning is the
    * one that matters when the surviving key set is only known from
    * data. The oracle spells the semantics as a HAVING subquery. */
  def dppPrune(s: SparkSession, d: String): DataFrame = {
    val (fact, dim) = dppPlan(s, d)
    fact.join(broadcast(dim), col("o_year") === col("y"))
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("o_totalprice") * 100).cast("long")) / 100.0)
          .as("revenue"))
  }

  /** The (partitioned fact scan, filtered year dim) pair of
    * [[dppPrune]] — exposed so the plan spec can pin the
    * `dynamicpruning` partition filter on the exact same dataflow. */
  private[graft] def dppPlan(s: SparkSession,
                             d: String): (DataFrame, DataFrame) = {
    val out = tmp("graft-dpp-")
    Tables.orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    val fact = s.read.parquet(out)
    val dim = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 100)
      .select(col("y"))
    (fact, dim)
  }

  val dppPruneSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  COUNT(*) AS n,
      |  SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
      |FROM orders
      |WHERE year(o_orderdate) IN (
      |  SELECT year(o_orderdate) FROM orders
      |  GROUP BY 1 HAVING COUNT(*) > 100)
      |GROUP BY 1""".stripMargin

  /** PARQUET BLOOM FILTERS + ZSTD — the storage-layer knobs a 100 TB
    * point-lookup table ships with: per-column bloom filters let the
    * reader skip whole row groups on equality probes over
    * high-cardinality keys (dictionary/min-max stats can't — every
    * row group spans the full key range after a shuffle), and zstd
    * trades a little CPU for the best scan-byte ratio of the built-in
    * codecs. The write options are the whole engine surface
    * (`parquet.bloom.filter.enabled#col`, `compression=zstd`); the
    * footer actually carrying the bloom offsets and ZSTD codec is
    * pinned in ParquetLayoutSpec, and this query proves the
    * round-trip is lossless under both. */
  def bloomParquet(s: SparkSession, d: String): DataFrame = {
    val out = bloomParquetPath(s, d)
    s.read.parquet(out)
      .filter(col("c_custkey") % 100 === 7)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  /** Writes (once per call) the bloom-filtered zstd customer table
    * and returns its path — shared with ParquetLayoutSpec so the
    * footer pins inspect the exact files the query reads. */
  private[graft] def bloomParquetPath(s: SparkSession, d: String): String = {
    val out = tmp("graft-bloom-")
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#c_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#c_custkey", "20000")
      .option("compression", "zstd")
      .parquet(out)
    out
  }

  val bloomParquetSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_custkey % 100 = 7""".stripMargin

  /** DYNAMIC PARTITION OVERWRITE — the idempotent-backfill primitive:
    * rewriting ONE partition must leave every other partition's files
    * untouched (static overwrite mode would drop the whole table).
    * Land customers partitioned by segment, overwrite just BUILDING
    * with a transformed copy, and read the table back: BUILDING shows
    * the rewrite, the rest the original load. At 100 TB this is the
    * difference between a per-day backfill touching one directory and
    * clobbering years of data. */
  def dynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val out = tmp("graft-dynover-")
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"))
    c.write.mode("overwrite").partitionBy("c_mktsegment").parquet(out)
    val old = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      c.filter(col("c_mktsegment") === "BUILDING")
        .withColumn("c_acctbal", round(col("c_acctbal") * 2, 2))
        .write.mode("overwrite").partitionBy("c_mktsegment").parquet(out)
    } finally {
      old.fold(s.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
        v => s.conf.set("spark.sql.sources.partitionOverwriteMode", v))
    }
    s.read.parquet(out)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"))
  }

  val dynamicOverwriteSql: String =
    """SELECT c_custkey, c_name,
      |  CASE WHEN c_mktsegment = 'BUILDING'
      |       THEN round(c_acctbal * 2, 2) ELSE c_acctbal END AS c_acctbal,
      |  c_mktsegment
      |FROM customer""".stripMargin

  /** The joined-but-not-yet-aggregated frame of [[bucketedJoin]],
    * exposed so the plan spec can assert the join itself needs NO
    * exchange (the aggregation after it legitimately shuffles). */
  private[graft] def bucketedJoinRows(s: SparkSession, d: String): DataFrame = {
    def save(df: DataFrame, key: String, table: String): Unit =
      df.write.mode("overwrite").format("parquet")
        .bucketBy(8, key).sortBy(key)
        .option("path", tmp(s"graft-bucketed-$table"))
        .saveAsTable(table)
    save(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
      "l_orderkey", "graft_bucketed_lineitem")
    save(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
      "o_orderkey", "graft_bucketed_orders")
    s.table("graft_bucketed_lineitem")
      .join(s.table("graft_bucketed_orders"),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** Bucketed co-located join — the 100 TB strategy for a fact–fact
    * join too big to broadcast: both tables are WRITTEN bucketed (and
    * sorted) on the join key, so the join reads bucket i against
    * bucket i directly and the usual both-sides shuffle disappears
    * from the plan entirely (EnsureRequirements sees the bucketed
    * scan's hashpartitioning already satisfies the join). This is the
    * write-once/join-many layout: pay one clustered write, then every
    * subsequent join on that key is exchange-free. The catalog result
    * aggregates (small, stable oracle); the plan property is pinned on
    * [[bucketedJoinRows]]. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame =
    bucketedJoinRows(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast(org.apache.spark.sql.types.LongType).as("n"),
        (sum(round(col("l_quantity") * 100)
          .cast(org.apache.spark.sql.types.LongType)) / 100.0).as("sum_qty"))

  val bucketedJoinSql: String =
    """SELECT o_orderstatus,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  SUM(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("src_csv_roundtrip", csvRoundtrip, csvRoundtripSql),
    Entry("src_json_roundtrip", jsonRoundtrip, jsonRoundtripSql),
    Entry("src_orc_roundtrip", orcRoundtrip, orcRoundtripSql),
    Entry("src_partitioned_parquet", partitionedParquet, partitionedParquetSql),
    Entry("src_schema_evolution", schemaEvolution, schemaEvolutionSql),
    Entry("src_dynamic_overwrite", dynamicOverwrite, dynamicOverwriteSql),
    Entry("src_dpp_prune", dppPrune, dppPruneSql),
    Entry("src_bloom_parquet", bloomParquet, bloomParquetSql),
    Entry("src_bucketed_join", bucketedJoin, bucketedJoinSql))
}
