package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Catalog integrity: the driver contract requires every oracle key to
  * name a query, stable unique names, and (engine policy) every query
  * to carry an oracle. Every check reads the one entry list, so a name
  * repeated inside one group counts as a duplicate too. */
class CatalogSpec extends AnyFunSuite {

  test("every oracle key has a query") {
    val missing = Catalog.oracles.keySet -- Catalog.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
    assert(Catalog.oracles.size == Catalog.entries.size)
  }

  test("every query has an oracle — no rows-only exemptions") {
    // q_sketch_agg is gated too: it emits exact aggregates plus
    // within-tolerance booleans, so the sketch surface hash-compares
    val blank = Catalog.entries.filter(e => e.oracle == null || e.oracle.trim.isEmpty)
    assert(blank.isEmpty, s"queries without oracles: ${blank.map(_.name)}")
    assert(Catalog.queries.keySet == Catalog.oracles.keySet)
  }

  test("no duplicate names across query groups") {
    val names = Catalog.entries.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.size == Catalog.queries.size)
    val e = Catalog.entries.head
    val err = intercept[IllegalArgumentException](
      Catalog.unique(Seq(e, Catalog.entries(1), e)))
    assert(err.getMessage.contains(s"duplicate catalog query names: ${e.name}"))
  }
}
