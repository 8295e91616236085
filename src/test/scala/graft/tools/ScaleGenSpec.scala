package graft.tools

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The three invariants that make a ScaleGen output a real LARGER
  * scale factor rather than a degenerate copy:
  *
  *  1. per-copy key shifts preserve referential integrity WITHIN a
  *     copy and create none ACROSS copies → equi-join outputs grow
  *     linearly;
  *  2. document copies are pairwise-DISJOINT in token space (so
  *     shingle-based dedup sees linear dup growth, not a quadratic
  *     candidate blowup) while within-copy text is preserved;
  *  3. embedding copies are rotations — norm-preserving, never equal
  *     to the original (no trivial exact-dup vectors for ANN). */
class ScaleGenSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private val factor = 3

  test("key shifts preserve joins within a copy and add none across copies") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    val so = ScaleGen.scaleTable(orders, "orders", factor)
    val sl = ScaleGen.scaleTable(lineitem, "lineitem", factor)
    assert(so.count() == orders.count() * factor)
    assert(sl.count() == lineitem.count() * factor)
    // the equi-join output grows EXACTLY linearly: every original
    // match recurs once per copy, and no cross-copy match exists
    val base = lineitem.join(orders,
      lineitem("l_orderkey") === orders("o_orderkey")).count()
    val scaled = sl.join(so, sl("l_orderkey") === so("o_orderkey")).count()
    assert(scaled == base * factor,
      s"join grew $base -> $scaled, expected ${base * factor}")
    // keys stay unique where they were unique
    assert(so.select("o_orderkey").distinct().count() == so.count())
  }

  test("document copies are token-disjoint; within-copy text and n_chars hold") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sd = ScaleGen.scaleTable(docs, "documents", factor)
    val n = docs.count()
    assert(sd.count() == n * factor)
    // copy 0 is the original byte-for-byte
    assert(sd.filter(col("doc_id") < n).select("doc_id", "text")
      .exceptAll(docs.select("doc_id", "text")).count() == 0)
    // n_chars always equals the (possibly mutated) text length
    assert(sd.filter(length(col("text")) =!= col("n_chars")).count() == 0)
    // token vocabularies of different copies share NOTHING: every
    // copy-i token carries its ~i suffix, so a shingle/minhash join
    // can never pair documents from different copies
    val tokensByCopy = sd
      .withColumn("copy", (col("doc_id") / n).cast("int"))
      .select(col("copy"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val shared = tokensByCopy.groupBy("tok")
      .agg(countDistinct("copy").as("copies"))
      .filter(col("copies") > 1).count()
    assert(shared == 0, s"$shared tokens shared across copies")
  }

  test("out-of-range source keys are rejected before any write") {
    // re-scaling an already-scaled output is the advice's corruption
    // scenario: keys exceed the seed layout's domain, so per-copy
    // ranges would overlap across copies
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val rescaled = ScaleGen.scaleTable(orders, "orders", factor)
    val e = intercept[IllegalArgumentException] {
      ScaleGen.scaleTable(rescaled, "orders", factor)
    }
    assert(e.getMessage.contains("orders.o_orderkey") ||
      e.getMessage.contains("orders.o_custkey"),
      s"error should name the offending column: ${e.getMessage}")
    // a single out-of-domain foreign key is enough to refuse
    val poisoned = orders.withColumn("o_custkey",
      when(col("o_orderkey") === 0, lit(15000L)).otherwise(col("o_custkey")))
    val e2 = intercept[IllegalArgumentException] {
      ScaleGen.scaleTable(poisoned, "orders", factor)
    }
    assert(e2.getMessage.contains("o_custkey"))
  }

  test("an empty source table passes the shiftability gate (ADVICE r13)") {
    // max() over an empty table returns NULL; that's a vacuous pass
    // (no keys, no collisions), not a NullPointerException
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val empty = orders.filter(col("o_orderkey") < 0)
    val out = ScaleGen.scaleTable(empty, "orders", factor)
    assert(out.count() == 0)
  }

  test("embedding copies preserve the norm and never equal the original") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val se = ScaleGen.scaleTable(emb, "embeddings", factor)
    val n = emb.count()
    assert(se.count() == n * factor)
    val withNorm = se.withColumn("norm2",
      aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
    val origNorm = emb.withColumn("norm2",
      aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      .select(col("vec_id"), col("norm2").as("orig_norm2"))
    // rotation preserves the norm exactly (same floats, reordered)
    val joined = withNorm
      .withColumn("orig_id", col("vec_id") % n)
      .join(origNorm, col("orig_id") === origNorm("vec_id"))
    assert(joined.filter(abs(col("norm2") - col("orig_norm2")) > 1e-6)
      .count() == 0)
    // copies i>0 differ from their original vector (rotation moved
    // at least one component — vectors are not constant)
    val changed = se.filter(col("vec_id") >= n)
      .withColumn("orig_id", col("vec_id") % n)
      .join(emb.select(col("vec_id").as("orig_id"),
        col("embedding").as("orig_emb")), Seq("orig_id"))
      .filter(col("embedding") === col("orig_emb"))
      .count()
    assert(changed == 0, s"$changed rotated vectors equal their original")
  }
}
