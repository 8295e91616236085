package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Independent-recompute pin for the late-interaction (MaxSim) scorer:
  * the catalog query's nested-HOF spelling (token matrices bound once,
  * Σ over query tokens of the max doc-token dot) must equal a plain
  * JVM re-implementation of the same math for EVERY candidate pair —
  * this guards the expression against lambda-shadowing / bind-once
  * refactors that the DuckDB oracle (a third spelling of the same
  * formula) could conceivably drift WITH. Also pins the one semantic
  * property the tier exists for: a candidate containing the query term
  * among its scored tokens gets token-0's max at exactly the term's
  * self-dot (identical token strings ⇒ identical vectors under the
  * shared embedder). */
class MaxsimSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  /** The token embedder E(x), recomputed independently: md5("x@i")
    * first 8 hex chars as u32, % 2000001 − 10^6, per dim i. */
  private def embed(x: String): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 64).map { i =>
      md.reset()
      val hex = md.digest(s"$x@$i".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 2000001L - 1000000L
    }.toArray
  }

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => a(i) * b(i)).sum

  test("every candidate's MaxSim equals the independent JVM recompute") {
    val rows = Catalog.queries("text_maxsim")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    var sawExactHit = false
    rows.foreach { r =>
      val term = r.getString(0)
      val docId = r.getLong(2)
      val got = r.getLong(3)
      val dtoks = docs(docId).trim.split("\\s+").take(8)
      val dvecs = dtoks.map(embed)
      val qtoks = (0 until 4).map(k => if (k == 0) term else s"$term#$k")
      val exp = qtoks.map { q =>
        val qv = embed(q)
        dvecs.map(dv => dot(qv, dv)).max
      }.sum
      assert(got == exp, s"($term, $docId): query $got, recompute $exp")
      // exact-lexical-hit property: the term's own token contributes
      // its self-dot as a candidate max (identical strings, identical
      // vectors under the one shared embedder)
      if (dtoks.contains(term)) {
        sawExactHit = true
        val qv = embed(term)
        assert(dvecs.map(dv => dot(qv, dv)).max >= dot(qv, qv))
      }
    }
    assert(sawExactHit,
      "fixture regression: no candidate carries its term in the scored " +
        "token window — the exact-match branch went unexercised")
  }
}
