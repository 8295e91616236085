package graft.plans

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class AsOfJoinSpec extends AnyFunSuite with SharedSpark {

  // AQE stays ON (the factory default): the operator must be safe under
  // adaptive re-planning (it pins its children's partition counts)

  private def ts(s: String) = Timestamp.valueOf(s)

  test("backward as-of: latest right row at-or-before, inclusive; null when none") {
    import spark.implicits._
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")),
      (2L, 100L, ts("2024-01-01 10:05:00")),
      (3L, 200L, ts("2024-01-01 09:00:00")), // before any quote for 200
      (4L, 300L, ts("2024-01-01 12:00:00"))) // key with no quotes at all
      .toDF("trade_id", "sym", "t_ts")
    val quotes = Seq(
      (100L, ts("2024-01-01 09:59:00"), 10.0),
      (100L, ts("2024-01-01 10:05:00"), 11.0), // equal ts: inclusive
      (100L, ts("2024-01-01 10:06:00"), 12.0), // after trade 2: excluded
      (200L, ts("2024-01-01 09:30:00"), 5.0))
      .toDF("q_sym", "q_ts", "px")
    val got = AsOf.join(trades, quotes,
        trades("sym"), quotes("q_sym"), trades("t_ts"), quotes("q_ts"))
      .select($"trade_id", $"px")
      .as[(Long, Option[Double])].collect().toMap
    assert(got == Map(
      1L -> Some(10.0), 2L -> Some(11.0), 3L -> None, 4L -> None))
  }

  test("plan uses AsOfJoinExec (custom strategy) with shuffles on the key") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 00:00:00"))).toDF("k", "lt")
    val r = Seq((1L, ts("2024-01-01 00:00:00"))).toDF("rk", "rt")
    val plan = AsOf.join(l, r, l("k"), r("rk"), l("lt"), r("rt"))
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(plan.contains("AsOfJoin"), plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Sort"), plan)
  }

  test("many rows across partitions match the correlated-max oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val lefts = (0 until 500).map(i =>
      (i.toLong, (i % 7).toLong, ts(f"2024-01-01 ${1 + rnd.nextInt(20)}%02d:00:00")))
    val rights = (0 until 300).map(i =>
      ((i % 7).toLong, ts(f"2024-01-01 ${1 + rnd.nextInt(20)}%02d:30:00"), i.toDouble))
    val lDf = lefts.toDF("id", "k", "lt").repartition(5)
    val rDf = rights.toDF("rk", "rt", "v").repartition(3)
    val got = AsOf.join(lDf, rDf, lDf("k"), rDf("rk"), lDf("lt"), rDf("rt"))
      .select($"id", $"v").as[(Long, Option[Double])].collect().toMap
    val expected = lefts.map { case (id, k, lt) =>
      val cands = rights.filter(r => r._1 == k && !r._2.after(lt))
      id -> (if (cands.isEmpty) None
             else Some(cands.maxBy(c => (c._2.getTime, c._3))._3))
    }.toMap
    // tie-break on equal rt: our merge keeps the LAST in (key, time)
    // sort order, which for equal times is implementation-defined in
    // the oracle too — compare only where the expected max time is
    // unique
    val safeIds = lefts.map(_._1).filter { id =>
      val (_, k, lt) = lefts(id.toInt)
      val cands = rights.filter(r => r._1 == k && !r._2.after(lt))
      cands.isEmpty || cands.count(_._2 == cands.maxBy(_._2.getTime)._2) == 1
    }
    safeIds.foreach { id => assert(got(id) == expected(id), s"id=$id") }
  }

  test("forward as-of: earliest right row at-or-after; null when none") {
    import spark.implicits._
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")),
      (2L, 100L, ts("2024-01-01 10:05:00")), // exact tie: inclusive
      (3L, 100L, ts("2024-01-01 10:07:00")), // nothing after
      (4L, 200L, ts("2024-01-01 09:00:00")))
      .toDF("trade_id", "sym", "t_ts")
    val quotes = Seq(
      (100L, ts("2024-01-01 09:59:00"), 10.0),
      (100L, ts("2024-01-01 10:05:00"), 11.0),
      (100L, ts("2024-01-01 10:06:00"), 12.0),
      (200L, ts("2024-01-01 09:30:00"), 5.0))
      .toDF("q_sym", "q_ts", "px")
    val got = AsOf.join(trades, quotes,
        trades("sym"), quotes("q_sym"), trades("t_ts"), quotes("q_ts"),
        direction = "forward")
      .select($"trade_id", $"px")
      .as[(Long, Option[Double])].collect().toMap
    assert(got == Map(
      1L -> Some(11.0), 2L -> Some(11.0), 3L -> None, 4L -> Some(5.0)))
  }

  test("nearest as-of: closer side wins, exact distance-tie goes backward") {
    import spark.implicits._
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")), // back 1m vs fwd 5m → back
      (2L, 100L, ts("2024-01-01 10:04:30")), // back 5.5m vs fwd 30s → fwd
      (3L, 100L, ts("2024-01-01 10:05:30")), // 30s each way → backward
      (4L, 200L, ts("2024-01-01 09:00:00"))) // forward only
      .toDF("trade_id", "sym", "t_ts")
    val quotes = Seq(
      (100L, ts("2024-01-01 09:59:00"), 10.0),
      (100L, ts("2024-01-01 10:05:00"), 11.0),
      (100L, ts("2024-01-01 10:06:00"), 12.0),
      (200L, ts("2024-01-01 09:30:00"), 5.0))
      .toDF("q_sym", "q_ts", "px")
    val got = AsOf.join(trades, quotes,
        trades("sym"), quotes("q_sym"), trades("t_ts"), quotes("q_ts"),
        direction = "nearest")
      .select($"trade_id", $"px")
      .as[(Long, Option[Double])].collect().toMap
    assert(got == Map(
      1L -> Some(10.0), 2L -> Some(11.0), 3L -> Some(11.0),
      4L -> Some(5.0)))
  }

  test("null left key or time always yields a null right side " +
      "(no stale candidate leak, no NPE under tolerance)") {
    import spark.implicits._
    // trade 2 has a null time AFTER a same-key trade that establishes
    // a back-candidate; trade 4 has a null key. Both must join to
    // nothing, in every direction, with and without tolerance (the
    // tolerance path used to eval dist(backTime, null)).
    val trades = Seq(
      (1L, Option(100L), Option(ts("2024-01-01 10:00:00"))),
      (2L, Option(100L), Option.empty[Timestamp]),
      (3L, Option(100L), Option(ts("2024-01-01 10:07:00"))),
      (4L, Option.empty[Long], Option(ts("2024-01-01 10:00:00"))))
      .toDF("trade_id", "sym", "t_ts")
    val quotes = Seq(
      (100L, ts("2024-01-01 09:59:00"), 10.0),
      (100L, ts("2024-01-01 10:06:00"), 12.0))
      .toDF("q_sym", "q_ts", "px")
    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(60L * 60 * 1000000))) {
      val got = AsOf.join(trades, quotes,
          trades("sym"), quotes("q_sym"), trades("t_ts"), quotes("q_ts"),
          direction = dir, tolerance = tol)
        .select($"trade_id", $"px")
        .as[(Long, Option[Double])].collect().toMap
      assert(got(2L).isEmpty, s"dir=$dir tol=$tol null-time row matched")
      assert(got(4L).isEmpty, s"dir=$dir tol=$tol null-key row matched")
      val expected = dir match {
        case "backward" => Map(1L -> Some(10.0), 3L -> Some(12.0))
        case "forward" => Map(1L -> Some(12.0), 3L -> None)
        case "nearest" => Map(1L -> Some(10.0), 3L -> Some(12.0))
      }
      assert(got(1L) == expected(1L) && got(3L) == expected(3L),
        s"dir=$dir tol=$tol valid rows regressed: $got")
    }
  }

  test("tolerance bounds the match distance in the time column's units") {
    import spark.implicits._
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")), // back match 1m old: inside
      (2L, 100L, ts("2024-01-01 11:00:00"))) // back match 54m old: out
      .toDF("trade_id", "sym", "t_ts")
    val quotes = Seq(
      (100L, ts("2024-01-01 09:59:00"), 10.0),
      (100L, ts("2024-01-01 10:06:00"), 12.0))
      .toDF("q_sym", "q_ts", "px")
    val fiveMinUs = 5L * 60 * 1000000
    val got = AsOf.join(trades, quotes,
        trades("sym"), quotes("q_sym"), trades("t_ts"), quotes("q_ts"),
        direction = "backward", tolerance = Some(fiveMinUs))
      .select($"trade_id", $"px")
      .as[(Long, Option[Double])].collect().toMap
    assert(got == Map(1L -> Some(10.0), 2L -> None))
    val near = AsOf.join(trades, quotes,
        trades("sym"), quotes("q_sym"), trades("t_ts"), quotes("q_ts"),
        direction = "nearest", tolerance = Some(fiveMinUs))
      .select($"trade_id", $"px")
      .as[(Long, Option[Double])].collect().toMap
    // trade 1's nearest is backward 1m; trade 2 has nothing within 5m
    assert(near == Map(1L -> Some(10.0), 2L -> None))
  }
}
