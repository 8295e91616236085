package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Contract of [[CurationQueries.leakageSplit]]: verified near-dup
  * pairs can NEVER straddle train/val/test (the property the naive
  * per-doc [[CurationQueries.datasetSplit]] cannot give), singletons
  * keep exactly the naive assignment, and `leaked_before` flags
  * precisely the docs whose component the naive split would have
  * straddled. */
class LeakageSplitSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("zero verified pairs straddle splits; flags match the naive straddles") {
    val split = CurationQueries.leakageSplit(spark, sf)
      .select(col("doc_id"), col("split"), col("component_id"),
        col("leaked_before"))
      .persist()
    val rows = split.collect()
    assert(rows.nonEmpty)
    val splitOf = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    val compOf = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val flagged = rows.filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet

    // the pair relation the clustering is built from — any verified
    // near-dup pair must share a split under the component bucketing
    val docs = graft.sources.Tables.documents(spark, sf)
    val pairs = DedupQueries.jaccardPairs(docs,
        candidates = Some(DedupQueries.minhashLshOver(docs)),
        threshold = 0.8)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain verified near-dup pairs")
    val straddlers = pairs.filter { case (a, b) => splitOf(a) != splitOf(b) }
    assert(straddlers.isEmpty,
      s"verified pairs straddle splits: ${straddlers.take(5).toSeq}")
    // ... and both sides sit in the same component by construction
    assert(pairs.forall { case (a, b) => compOf(a) == compOf(b) })

    // the naive per-doc split straddles at least one component on
    // this fixture (otherwise the operator is vacuous here), and
    // leaked_before marks exactly the members of those components
    val naive = CurationQueries.datasetSplit(spark, sf)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val multiDoc = rows.groupBy(_.getLong(2)).filter(_._2.length > 1)
    val expectFlagged = multiDoc.values.flatten
      .filter(r => {
        val members = multiDoc(r.getLong(2)).map(_.getLong(0))
        members.map(naive).distinct.length > 1
      })
      .map(_.getLong(0)).toSet
    assert(expectFlagged.nonEmpty,
      "fixture should exhibit at least one naive straddle")
    assert(flagged == expectFlagged)

    // singletons reduce exactly to the naive datasetSplit assignment
    val singletons = rows.filter(r => r.getLong(0) == r.getLong(2) &&
      multiDoc.get(r.getLong(2)).forall(_.length == 1))
    assert(singletons.nonEmpty)
    singletons.foreach(r => assert(r.getString(1) == naive(r.getLong(0))))
    split.unpersist()
    ()
  }
}
