package graft.queries

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The two-rule (large-star / small-star) connected-components variant
  * vs a driver-side union-find model: identical labelings on random
  * graphs — sparse, dense, multi-component — and on the adversarial
  * long-chain/long-cycle graphs where min-label propagation pays
  * O(diameter) rounds and the two-rule alternation pays O(log n). */
class TwoStarComponentsSpec extends AnyFunSuite with SharedSpark {

  /** Union-find with path compression — the reference model. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = component MINIMUM (what both algorithms emit);
    // small n — quadratic canonicalization is fine in a spec
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> {
      val r = find(n)
      nodes.filter(m => find(m) == r).min
    }).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    DedupQueries.twoStarComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("long chain (depth 120) and long cycle collapse to one component") {
    val chain = (0L until 120L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got.size == 121 && got.values.toSet == Set(0L), s"$got")
    val cycle = (0L until 60L).map(i => (i, (i + 1) % 60))
    val gotC = run(cycle)
    assert(gotC.size == 60 && gotC.values.toSet == Set(0L))
  }

  test("random graphs match union-find (20 graphs incl. chains grafted on)") {
    val rnd = new Random(140401)
    for (trial <- 1 to 20) {
      val n = 5 + rnd.nextInt(40)
      val nEdges = 1 + rnd.nextInt(3 * n)
      val base = Seq.fill(nEdges)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // graft a chain onto a random node so some component is deep
      val chain = (0 until 10).map(i =>
        (1000L + i, 1000L + i + 1)) :+
        (1000L, rnd.nextInt(n).toLong)
      val edges = base ++ chain
      if (edges.nonEmpty)
        assert(run(edges) == unionFind(edges), s"trial $trial edges=$edges")
    }
  }

  test("self-loops and duplicate edges are harmless; empty input → empty output") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (2L, 3L),
      (7L, 8L))
    assert(run(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L))
    import spark.implicits._
    assert(DedupQueries.twoStarComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).isEmpty)
  }

  test("catalog variant equals the min-label default on the testdata corpus") {
    val sf = "/root/testdata/sf0.001"
    val a = Catalog.queries("dedup_components")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Catalog.queries("dedup_components_twostar")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }
}
