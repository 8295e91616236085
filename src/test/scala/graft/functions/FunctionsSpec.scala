package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Property-style tests (seeded random trials) for the custom Catalyst
  * pieces:
  *  - latest_by_offset: for ANY interleaving of (offset, value)
  *    records, the aggregate equals the value at the max offset
  *    (SURVEY.md §5 property-test item).
  *  - cosine_sim: the native codegen'd expression is bit-identical to
  *    the composable zip_with/aggregate form.
  */
class FunctionsSpec extends AnyFunSuite with SharedSpark {

  test("latest_by_offset aggregator: result == value at max offset under any interleaving") {
    import spark.implicits._
    val latest = udaf(new LatestByOffsetAgg)
    val rnd = new Random(42)
    (1 to 25).foreach { _ =>
      val n = 1 + rnd.nextInt(30)
      val offsets = rnd.shuffle((0L until 100L).toList).take(n)
      val records = offsets.map(o => (o, rnd.alphanumeric.take(5).mkString))
      val df = records.toDF("offset", "value")
        .withColumn("k", lit(1))
        .repartition(4) // force multi-partition partial aggregation + merge
      val got = df.groupBy($"k")
        .agg(latest($"offset", $"value").as("latest"))
        .collect()(0).getString(1)
      val expected = records.maxBy(_._1)._2
      assert(got == expected, s"records=$records")
    }
  }

  test("latest_k aggregator: ksql ascending order, k-bound, partition-invariant") {
    import spark.implicits._
    val latest3 = udaf(new LatestKByOffsetAgg(3))
    val earliest3 = udaf(new LatestKByOffsetAgg(3, earliest = true))
    val rnd = new Random(11)
    (1 to 25).foreach { _ =>
      val n = 1 + rnd.nextInt(30)
      val offsets = rnd.shuffle((0L until 100L).toList).take(n)
      val records = offsets.map(o => (o, rnd.alphanumeric.take(5).mkString))
      // vary the physical partitioning: the bounded merge must be
      // commutative-associative, so the answer cannot depend on it
      val df = records.toDF("offset", "value")
        .withColumn("k", lit(1))
        .repartition(1 + rnd.nextInt(6))
      val row = df.groupBy($"k")
        .agg(latest3($"offset", $"value").as("l"),
          earliest3($"offset", $"value").as("e"))
        .collect()(0)
      val sorted = records.sortBy(_._1).map(_._2)
      // ksql order: ascending offset, so latest-3 is the trailing
      // slice (latest value LAST), earliest-3 the leading slice
      assert(row.getSeq[String](1) == sorted.takeRight(3), s"records=$records")
      assert(row.getSeq[String](2) == sorted.take(3), s"records=$records")
      assert(row.getSeq[String](1).length <= 3 && row.getSeq[String](2).length <= 3)
    }
  }

  test("latest_k aggregator buffer never exceeds k during reduce/merge") {
    // the STATE bound is the point of the aggregator (update-mode
    // streaming state = the buffer): drive the Aggregator directly and
    // assert the invariant after every single step
    val agg = new LatestKByOffsetAgg(3)
    val rnd = new Random(13)
    var buf = agg.zero
    (0 until 200).foreach { _ =>
      buf = agg.reduce(buf, OffsetValue(rnd.nextLong(1000), "v" + rnd.nextInt(10)))
      assert(buf.pairs.length <= 3, buf)
    }
    var other = agg.zero
    (0 until 50).foreach { _ =>
      other = agg.reduce(other, OffsetValue(rnd.nextLong(1000), "w" + rnd.nextInt(10)))
    }
    val merged = agg.merge(buf, other)
    assert(merged.pairs.length <= 3, merged)
    // and the buffer stays sorted ascending (the merge precondition)
    assert(merged.pairs.map(_.offset) == merged.pairs.map(_.offset).sorted)
  }

  test("latest_by_offset aggregator: null value at max offset is returned as null (tombstone)") {
    import spark.implicits._
    val latest = udaf(new LatestByOffsetAgg)
    val df = Seq((0L, "a"), (1L, "b"), (2L, null.asInstanceOf[String]))
      .toDF("offset", "value").withColumn("k", lit(1))
    val got = df.groupBy($"k").agg(latest($"offset", $"value")).collect()(0)
    assert(got.isNullAt(1))
  }

  test("latest_k ignoreNulls=true: nulls never occupy a slot, any partitioning") {
    import spark.implicits._
    // the k slots must hold the k most recent / oldest NON-null
    // values — a tombstone burst evicting real history would show as
    // a shorter-than-possible or null-containing slice
    val latest3 = udaf(new LatestKByOffsetAgg(3, ignoreNulls = true))
    val earliest3 =
      udaf(new LatestKByOffsetAgg(3, earliest = true, ignoreNulls = true))
    val rnd = new Random(61)
    (1 to 25).foreach { _ =>
      val n = 1 + rnd.nextInt(30)
      val offsets = rnd.shuffle((0L until 100L).toList).take(n)
      val records = offsets.map { o =>
        (o, if (rnd.nextInt(3) == 0) null
            else rnd.alphanumeric.take(5).mkString)
      }
      val df = records.toDF("offset", "value")
        .withColumn("k", lit(1))
        .repartition(1 + rnd.nextInt(6))
      val row = df.groupBy($"k")
        .agg(latest3($"offset", $"value").as("l"),
          earliest3($"offset", $"value").as("e"))
        .collect()(0)
      val sorted = records.filter(_._2 != null).sortBy(_._1).map(_._2)
      assert(row.getSeq[String](1) == sorted.takeRight(3), s"records=$records")
      assert(row.getSeq[String](2) == sorted.take(3), s"records=$records")
    }
  }

  test("latest_by_offset ignoreNulls=true: null runs never win, any partitioning") {
    import spark.implicits._
    // ksqlDB 0.28 optional-boolean form: the result is the value at
    // the extreme offset AMONG NON-NULLS; null only when every value
    // for the key is null. Random null runs + random partitioning:
    // a merge-order dependence or a null winning would surface here.
    val latestSkip = udaf(new LatestByOffsetAgg(ignoreNulls = true))
    val earliestSkip =
      udaf(new LatestByOffsetAgg(earliest = true, ignoreNulls = true))
    val rnd = new Random(97)
    (1 to 25).foreach { _ =>
      val n = 1 + rnd.nextInt(30)
      val offsets = rnd.shuffle((0L until 100L).toList).take(n)
      val records = offsets.map { o =>
        (o, if (rnd.nextInt(3) == 0) null
            else rnd.alphanumeric.take(5).mkString)
      }
      val df = records.toDF("offset", "value")
        .withColumn("k", lit(1))
        .repartition(1 + rnd.nextInt(6))
      val row = df.groupBy($"k")
        .agg(latestSkip($"offset", $"value").as("l"),
          earliestSkip($"offset", $"value").as("e"))
        .collect()(0)
      val nonNull = records.filter(_._2 != null)
      if (nonNull.isEmpty) {
        assert(row.isNullAt(1) && row.isNullAt(2), s"records=$records")
      } else {
        assert(row.getString(1) == nonNull.maxBy(_._1)._2, s"records=$records")
        assert(row.getString(2) == nonNull.minBy(_._1)._2, s"records=$records")
      }
    }
  }

  test("cosine_sim native expression matches the composable form bit-for-bit") {
    import spark.implicits._
    val rnd = new Random(7)
    (1 to 25).foreach { _ =>
      val a = Seq.fill(16)(rnd.nextFloat() * 20f - 10f)
      val b = Seq.fill(16)(rnd.nextFloat() * 20f - 10f)
      val df = Seq((a, b)).toDF("a", "b")
      val native = df.select(
        GraftFunctions.cosineSim($"a", $"b")).collect()(0).getDouble(0)
      val composed = df.select(
        aggregate(zip_with($"a".cast("array<double>"), $"b".cast("array<double>"),
          (x, y) => x * y), lit(0.0), (acc, x) => acc + x) /
          (sqrt(aggregate(transform($"a".cast("array<double>"), x => x * x),
            lit(0.0), (acc, x) => acc + x)) *
           sqrt(aggregate(transform($"b".cast("array<double>"), x => x * x),
             lit(0.0), (acc, x) => acc + x)))).collect()(0).getDouble(0)
      assert(java.lang.Double.compare(native, composed) == 0,
        s"native=$native composed=$composed")
    }
  }

  test("top-k aggregator == sort-take under any partitioning") {
    import spark.implicits._
    val topk = udaf(new TopKByScore(5))
    val rnd = new Random(11)
    (1 to 15).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      // duplicate scores on purpose to exercise the id tie-break
      val rows = (0 until n).map(i =>
        (rnd.nextInt(8).toDouble, i.toLong))
      val got = rows.toDF("score", "id")
        .withColumn("k", lit(1)).repartition(4)
        .groupBy($"k").agg(topk($"score", $"id").as("top"))
        .select($"top.scores", $"top.ids")
        .collect()(0)
      val (gs, gi) = (got.getSeq[Double](0), got.getSeq[Long](1))
      val expected = rows.sortBy { case (s, i) => (-s, i) }.take(5)
      assert(gs.zip(gi) == expected.map { case (s, i) => (s, i) },
        s"rows=$rows")
    }
  }

  test("LONG-scored top-k aggregator == sort-take under any partitioning (r15)") {
    import spark.implicits._
    val topk = udaf(new TopKByScoreLong(5))
    val rnd = new Random(1503)
    (1 to 15).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      // include scores past 2^53 — the exactness regime the Double
      // variant cannot represent (the r14 advice case), plus duplicate
      // scores for the id tie-break
      val rows = (0 until n).map(i =>
        (if (rnd.nextBoolean()) rnd.nextInt(8).toLong
         else (1L << 53) + rnd.nextInt(8), i.toLong))
      val got = rows.toDF("score", "id")
        .withColumn("k", lit(1)).repartition(4)
        .groupBy($"k").agg(topk($"score", $"id").as("top"))
        .select($"top.scores", $"top.ids")
        .collect()(0)
      val (gs, gi) = (got.getSeq[Long](0), got.getSeq[Long](1))
      val expected = rows.sortBy { case (s, i) => (-s, i) }.take(5)
      assert(gs.zip(gi) == expected.map { case (s, i) => (s, i) },
        s"rows=$rows")
    }
  }

  test("Md5Key.column equals a JVM MessageDigest reference for random strings") {
    // the shared hash key underpins every reproducible-sampling
    // operator AND its DuckDB twin — pin the Spark spelling against an
    // independent md5 implementation so a refactor (prefix width, conv
    // base, cast) can't silently shift every sample
    import spark.implicits._
    def reference(input: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(input.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val rnd = new Random(7)
    val inputs = (1 to 200).map(_ =>
      rnd.alphanumeric.take(1 + rnd.nextInt(24)).mkString) :+ "" :+ "shuffle:0"
    val got = inputs.toDF("s")
      .select(col("s"), Md5Key.column(col("s")).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach { s =>
      assert(got(s) == reference(s), s"input '$s'")
      assert(got(s) >= 0L && got(s) < (1L << 32)) // 8 hex digits
    }
  }

  test("cosine_sim rejects non-float-array inputs") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0f, 2.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(GraftFunctions.cosineSim($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("cosine_sim") ||
      e.getMessage.toLowerCase.contains("type"))
  }
}
