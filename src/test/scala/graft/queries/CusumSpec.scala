package graft.queries

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The load-bearing identity behind q_cusum_changepoint: the
  * prefix-extremum closed form the window spelling computes equals
  * Page's nonlinear recurrence — fuzzed on random integer series
  * (positive and negative deviations, long flat runs, saturations),
  * plus an end-to-end check that the batch query raises exactly the
  * alarms a direct recurrence over its own hourly series raises. */
class CusumSpec extends AnyFunSuite with SharedSpark {

  /** Page's recurrences, folded directly. */
  private def recurrence(xs: Seq[Long], mu: Long,
                         k: Long): (Seq[Long], Seq[Long]) = {
    val sp = xs.scanLeft(0L)((s, x) => math.max(0L, s + (x - mu - k))).tail
    val sn = xs.scanLeft(0L)((s, x) => math.max(0L, s - (x - mu + k))).tail
    (sp, sn)
  }

  /** The window spelling's closed form. */
  private def closedForm(xs: Seq[Long], mu: Long,
                         k: Long): (Seq[Long], Seq[Long]) = {
    val pp = xs.scanLeft(0L)((p, x) => p + (x - mu - k)).tail
    val pn = xs.scanLeft(0L)((p, x) => p + (x - mu + k)).tail
    val runMin = pp.scanLeft(Long.MaxValue)(math.min).tail
    val runMax = pn.scanLeft(Long.MinValue)(math.max).tail
    val sp = pp.zip(runMin).map { case (p, m) => p - math.min(0L, m) }
    val sn = pn.zip(runMax).map { case (p, m) => math.max(0L, m) - p }
    (sp, sn)
  }

  test("closed form equals Page's recurrence on 1000 random series") {
    val rnd = new Random(130213)
    for (_ <- 1 to 1000) {
      val n = 1 + rnd.nextInt(60)
      val mu = rnd.nextInt(1000).toLong
      val k = rnd.nextInt(50).toLong
      // mix regimes: noise around mu, sustained shifts, zero runs
      val xs = Seq.fill(n)(rnd.nextInt(4) match {
        case 0 => mu + rnd.nextInt(2 * k.toInt + 1) - k // inside the slack band
        case 1 => mu + k + rnd.nextInt(200)             // upward shift
        case 2 => math.max(0L, mu - k - rnd.nextInt(200)) // downward shift
        case _ => 0L                                     // outage
      })
      assert(closedForm(xs, mu, k) == recurrence(xs, mu, k),
        s"mu=$mu k=$k xs=$xs")
    }
  }

  test("mu and slack are FLOOR means even on negative sums (ADVICE r13)") {
    // A series whose sum is negative: naive Spark DIV would truncate
    // toward zero (-7/2 = -3) while the DuckDB oracle floors (-4); the
    // 2^40-shift spelling must floor on BOTH engines. Model the oracle
    // with Math.floorDiv and check the query's CUSUM values follow it.
    import spark.implicits._
    val hourly = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), -5L),
      ("a", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), -2L),
      ("a", java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 3L),
      ("b", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), -41L),
      ("b", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L))
      .toDF("event_type", "hts", "x")
    val out = ChangePointQueries.cusumOf(hourly)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      val xs = sorted.map(_._3)
      val mu = Math.floorDiv(xs.sum, xs.size.toLong) // DuckDB // semantics
      val k = Math.floorDiv(mu, 20L)
      assert(mu < 0, "fixture must exercise the negative-mean path")
      val (sp, sn) = recurrence(xs, mu, k)
      sorted.zip(sp.zip(sn)).foreach { case ((_, h, _, qp, qn), (p, n)) =>
        assert(qp == p && qn == n, s"at $h (floor-mean mu=$mu k=$k)")
      }
    }
  }

  test("the batch query's alarms equal the recurrence over its own hourly series") {
    val sf = "/root/testdata/sf0.001"
    val out = Catalog.queries("q_cusum_changepoint")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2).toSeq
      val xs = sorted.map(_._3)
      val mu = xs.sum / xs.size
      val (sp, sn) = recurrence(xs, mu, mu / 20)
      sorted.zip(sp.zip(sn)).foreach { case ((_, h, _, qp, qn, au, ad), (p, n)) =>
        assert(qp == p && qn == n, s"at $h")
        assert(au == (if (p > mu) 1L else 0L))
        assert(ad == (if (n > mu) 1L else 0L))
      }
    }
  }
}
