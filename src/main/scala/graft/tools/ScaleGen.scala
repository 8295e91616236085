package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver's synthetic star schema
  * (TESTDATA.md): replicate each fact table `factor`× with per-copy
  * key shifts so referential integrity AND per-key cardinalities are
  * preserved — copy i's orders join copy i's lineitems and nobody
  * else's, so equi-join outputs grow linearly, exactly like a larger
  * TPC-H scale factor (rows grow, the date range does not).
  *
  * Two tables need more than a key shift to stay REPRESENTATIVE:
  *
  *  - `documents.text`: verbatim copies would put every replica pair
  *    inside MinHash/SimHash thresholds, turning 10× data into 100×
  *    candidate pairs — which is a different (quadratic) workload, not
  *    a bigger one. Every whitespace token in copy i>0 gets a `~i`
  *    suffix, making copies pairwise-disjoint in shingle space while
  *    the ORIGINAL near-dup pairs recur once per copy → dup structure
  *    scales linearly, like independently sampled new documents.
  *    `n_chars` is recomputed from the mutated text.
  *  - `embeddings.embedding`: verbatim copies would make every vector
  *    a 10-way exact dup (degenerate ANN). Copy i rotates the vector
  *    left by i components — norm- and distribution-preserving, so
  *    IVF cells stay balanced and no replica is trivially close to its
  *    original.
  *
  * All replication is `explode(sequence(0, factor-1))` — one
  * distributed pass per table, no driver-side loops; at a real 100 TB
  * this is the same shape one would use to fan out a synthetic load.
  *
  * Usage: `runMain graft.tools.ScaleGen <srcDir> <dstDir> [factor=10]`
  */
object ScaleGen {
  /** Key columns and their per-copy shift (the source max+1, from
    * TESTDATA.md's seed=42 layout: keys are dense 0..N-1). */
  private val shifts: Map[String, Map[String, Long]] = Map(
    "customer" -> Map("c_custkey" -> 15000L),
    "orders" -> Map("o_orderkey" -> 150000L, "o_custkey" -> 15000L),
    "lineitem" -> Map("l_orderkey" -> 150000L, "l_partkey" -> 20000L,
      "l_suppkey" -> 1000L),
    "part" -> Map("p_partkey" -> 20000L),
    "supplier" -> Map("s_suppkey" -> 1000L),
    // user_id spans [0,1500) in the source and must keep referencing
    // valid customer keys after the scale-up: shift by its OWN range
    "events" -> Map("event_id" -> 100000L, "user_id" -> 1500L),
    "documents" -> Map("doc_id" -> 5000L),
    "embeddings" -> Map("vec_id" -> 2000L)
  )

  /** Dimension tables copied verbatim (fixed-cardinality in TPC-H). */
  private val verbatim = Seq("region", "nation")

  /** Fail fast if any shifted column's source range exceeds its
    * assumed per-copy shift: the shifts encode the
    * seed=42 layout's DOMAIN sizes (e.g. o_custkey shifts by the
    * customer domain, which orders alone cannot reveal), so they
    * cannot simply be recomputed from this one table — but they CAN
    * be validated against it. Running ScaleGen on an input whose keys
    * exceed the assumed ranges (e.g. re-scaling an already-scaled
    * output) would otherwise silently produce cross-copy key
    * collisions and corrupt referential structure. One single-row agg
    * per table — bounded driver work at any scale. */
  private[tools] def assertShiftable(df: DataFrame, table: String): Unit = {
    val m = shifts.getOrElse(table, Map.empty)
    if (m.nonEmpty) {
      val keys = m.keys.toSeq.sorted
      val aggs = keys.map(k => max(col(k).cast("long")).as(k))
      val row = df.agg(aggs.head, aggs.tail: _*).collect().head
      keys.zipWithIndex.foreach { case (k, i) =>
        // max() over an empty table is NULL — vacuously shiftable
        // (nothing to collide), not an NPE.
        if (!row.isNullAt(i)) {
          val mx = row.getLong(i)
          require(mx < m(k),
            s"ScaleGen: $table.$k max=$mx >= shift=${m(k)} — source keys " +
              "exceed the assumed seed layout (already-scaled input?); " +
              "refusing to write cross-copy colliding keys")
        }
      }
    }
  }

  def scaleTable(df: DataFrame, table: String, factor: Int): DataFrame = {
    assertShiftable(df, table)
    val replicated = df
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
    val shifted = shifts.getOrElse(table, Map.empty).foldLeft(replicated) {
      case (d, (k, shift)) =>
        d.withColumn(k, (col(k) + col("copy") * lit(shift)).cast("long"))
    }
    val mutated = table match {
      case "documents" =>
        shifted
          .withColumn("text", when(col("copy") === 0, col("text"))
            .otherwise(concat_ws(" ",
              transform(split(col("text"), " "),
                w => concat(w, lit("~"), col("copy").cast("string"))))))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // rotate left by `copy`: element j takes the value at
        // (j + copy) mod dim — 1-indexed element_at
        shifted.withColumn("embedding",
          transform(col("embedding"), (_, j) =>
            element_at(col("embedding"),
              ((j + col("copy")) % size(col("embedding")) + 1)
                .cast("int"))))
      case _ => shifted
    }
    mutated.drop("copy")
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.util.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    for (t <- verbatim ++ shifts.keys.toSeq.sorted) {
      val df = spark.read.parquet(s"$src/$t.parquet")
      val out = if (verbatim.contains(t)) df else scaleTable(df, t, factor)
      // match the source layout: one parquet dir per table; repartition
      // facts so downstream scans start from balanced splits
      val parts = if (verbatim.contains(t)) 1 else 32
      out.repartition(parts).write.mode("overwrite")
        .parquet(s"$dst/$t.parquet")
      println(s"[scalegen] $t -> $dst/$t.parquet")
    }
    spark.stop()
  }
}
