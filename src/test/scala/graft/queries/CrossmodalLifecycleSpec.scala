package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream

/** Contract of [[MultimodalQueries.crossmodalDelete]] beyond the
  * oracle hash: the served results never contain a tombstoned
  * document, and recall is RESTORED after the compact — an exhaustive
  * probe (nprobe = ncells) of the compacted layout equals the exact
  * brute-force top-5 over the remaining corpus, i.e. the delete
  * removed exactly the dead rows and nothing else (the IvfRetrainSpec
  * protocol applied to the cross-modal index). */
class CrossmodalLifecycleSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("served top-5 excludes every tombstone; exhaustive probe of the compacted index equals exact-over-remaining") {
    val dead = MultimodalQueries.phashNearDup(spark, sf)
      .select(col("doc_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(dead.nonEmpty, "fixture must produce image near-dup removals")

    val served = MultimodalQueries.crossmodalDelete(spark, sf).collect()
    assert(served.nonEmpty)
    val servedDocs = served.map(_.getLong(2)).toSet
    assert(servedDocs.intersect(dead).isEmpty,
      s"tombstoned docs served: ${servedDocs.intersect(dead).take(5)}")

    // recall restored: publish + delete + compact again, probe with
    // nprobe = ncells (exhaustive over the compacted layout), and
    // compare against the exact brute-force top-5 of the REMAINING
    // corpus computed independently below
    val root = FiniteStream.scratchDir("graft-mm-lifecycle-")
    try {
      val docs = graft.sources.Tables.documents(spark, sf)
      val corpus = docs.filter(col("doc_id") >= 5)
        .select(col("doc_id"),
          MultimodalQueries.stubEmb(col("text")).as("emb"))
        .withColumn("cell", array_position(col("emb"), array_max(col("emb")))
          .cast("int"))
      val codebook = spark.range(1, MultimodalQueries.CrossmodalCells + 1)
        .select(col("id").cast("int").as("label"))
        .withColumn("cemb", expr(
          s"transform(sequence(1, ${MultimodalQueries.CrossmodalCells}), " +
            "i -> IF(i = label, 1.0D, 0.0D))"))
      graft.sources.IvfIndex.publish(root, codebook,
        corpus.select(col("doc_id").as("vec_id"), lit(0).as("label"),
          col("emb"), col("cell")))
      val layout = graft.sources.IvfIndex.deleteAndCompact(spark, root,
        MultimodalQueries.phashNearDup(spark, sf)
          .select(col("doc_b").as("vec_id")).distinct())
      val exhaustive = MultimodalQueries.crossmodalProbeOver(spark, sf,
          layout, nprobe = MultimodalQueries.CrossmodalCells,
          extraFilter = lit(true), vecIdCol = "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet

      // exact brute-force top-5 per query over the remaining corpus
      val q = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          MultimodalQueries.stubEmb(col("text")).as("qemb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cm").desc, col("doc_id"))
      val exact = corpus.filter(!col("doc_id").isin(dead.toSeq: _*))
        .crossJoin(broadcast(q))
        .select(col("qid"), col("doc_id"),
          round(SimilarityQueries.dot(col("emb"), col("qemb")) /
            (SimilarityQueries.norm(col("emb")) *
              SimilarityQueries.norm(col("qemb"))) * 1000000)
            .cast("long").as("cm"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("rn").cast("long"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(exhaustive == exact,
        "exhaustive probe of the compacted index diverged from " +
          "exact-over-remaining")
    } finally FiniteStream.deleteRecursively(root)
  }
}
