package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Contract of [[CurationQueries.temporalSplit]] /
  * [[CurationQueries.temporalAudit]]: a pure ingest-time cutoff ships
  * future near-duplicates of training documents into eval (the leak
  * the audit's naive row counts — non-zero on this fixture), the
  * component-aware assignment ships none of the pairs the clustering
  * covers, components take the side of their EARLIEST member, and
  * singletons reduce exactly to the pure cutoff. */
class TemporalSplitSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("audit pins the fixture's leak counts: naive ships leaks, component ships none") {
    val audit = CurationQueries.temporalAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // fixture pin (sf0.001, cutoff = 80% of max doc_id): 28 verified
    // pairs, 9 of them straddle the pure cutoff — each one a future
    // paraphrase of training data scored as eval
    assert(audit("naive") == ((28L, 9L)), s"naive row drifted: $audit")
    assert(audit("component")._2 == 0L,
      s"component assignment shipped cross-cutoff pairs: $audit")
  }

  test("components take their earliest member's side; singletons reduce to the cutoff") {
    val rows = CurationQueries.temporalSplit(spark, sf).collect()
    assert(rows.nonEmpty)
    val cutoff = rows.map(_.getLong(0)).max * 8 / 10
    rows.foreach { r =>
      val (docId, split, naive, comp) =
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))
      // naive column is the pure cutoff on the doc itself
      assert(naive == (if (docId <= cutoff) "train" else "eval"))
      // component assignment keys on the component representative —
      // the min-label EARLIEST member
      assert(split == (if (comp <= cutoff) "train" else "eval"))
      assert(comp <= docId, "min-label representative must not exceed member")
    }
    // a future near-dup of a train doc is pulled INTO train: every
    // flagged (straddling) component with an early representative has
    // all members train-side
    val flagged = rows.filter(_.getLong(4) == 1L)
    assert(flagged.nonEmpty, "fixture should exhibit naive straddles")
    flagged.filter(_.getLong(3) <= cutoff)
      .foreach(r => assert(r.getString(1) == "train"))
    // singletons: component_id == doc_id and never flagged
    val singles = rows.filter(r => r.getLong(0) == r.getLong(3))
    assert(singles.nonEmpty)
    singles.foreach(r => assert(r.getString(1) == r.getString(2) ||
      rows.count(x => x.getLong(3) == r.getLong(3)) > 1))
  }
}
