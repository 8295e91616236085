package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The three contracts that make [[DecimalSketch]] an exactly-
  * verifiable mergeable quantile sketch:
  *
  *  1. the grid is monotone + idempotent, so bucket order = value
  *     order and quantile(sketch, q) == bucket(exactQuantile(xs, q))
  *     — the sketch answer is a FUNCTION of the exact answer, which
  *     is why a DuckDB oracle can hash-match it;
  *  2. the merge is lossless and partition-invariant: any split of
  *     the input, merged in any order, yields the identical map;
  *  3. the worst-case relative error is < 1% at SigDigits=3.
  */
class DecimalSketchSpec extends AnyFunSuite with SharedSpark {

  import DecimalSketch.bucket

  private def modelSketch(xs: Seq[Long]): Map[Long, Long] =
    xs.groupBy(bucket).map { case (b, vs) => b -> vs.size.toLong }

  /** Lower rank-based quantile: value at rank ceil(q·N) in sort order. */
  private def exactQuantile(xs: Seq[Long], q: Double): Long = {
    val sorted = xs.sorted
    val r = math.ceil(q * sorted.size).toLong max 1L
    sorted((r - 1).toInt)
  }

  test("bucket: unit cases at the grid edges") {
    assert(bucket(0L) == 0L)
    assert(bucket(7L) == 7L)
    assert(bucket(999L) == 999L)     // below the ceiling: exact
    assert(bucket(1000L) == 1000L)
    assert(bucket(1005L) == 1000L)   // first lossy decade
    assert(bucket(1999L) == 1990L)
    assert(bucket(99999L) == 99900L)
    assert(bucket(123456789L) == 123000000L)
    assert(bucket(-7L) == -7L)
    assert(bucket(-1005L) == -1000L) // toward zero, mirrored
    assert(bucket(-99999L) == -99900L)
    assert(bucket(Long.MaxValue) == 9220000000000000000L)
  }

  test("bucket: monotone and idempotent on random pairs") {
    val rnd = new Random(4242)
    for (_ <- 1 to 2000) {
      val a = rnd.nextLong() % 1000000000000L
      val b = rnd.nextLong() % 1000000000000L
      assert(bucket(bucket(a)) == bucket(a), s"idempotence at $a")
      if (a <= b) assert(bucket(a) <= bucket(b), s"monotone at ($a, $b)")
    }
  }

  test("quantile(sketch, q) == bucket(exact lower-rank quantile)") {
    val rnd = new Random(99)
    for (trial <- 1 to 50) {
      val n = 1 + rnd.nextInt(500)
      // magnitudes spanning exact (<1000) and lossy decades, signed
      val xs = Seq.fill(n)(
        (rnd.nextLong() % math.pow(10, 1 + rnd.nextInt(9)).toLong))
      val sk = modelSketch(xs)
      for (q <- Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)) {
        assert(DecimalSketch.quantile(sk, q) == bucket(exactQuantile(xs, q)),
          s"trial $trial q=$q xs.size=$n")
      }
    }
  }

  test("merge is lossless and order/split-invariant") {
    val rnd = new Random(7)
    val agg = new DecimalSketchAgg
    val mergeAgg = new DecimalSketchMergeAgg
    for (trial <- 1 to 30) {
      val xs = Seq.fill(1 + rnd.nextInt(400))(rnd.nextLong() % 10000000L)
      val whole = modelSketch(xs)
      // split into k random parts, sketch each, merge in shuffled order
      val k = 1 + rnd.nextInt(6)
      val parts = xs.groupBy(_ => rnd.nextInt(k)).values.toSeq
      val partials = parts.map(p =>
        p.foldLeft(agg.zero)((m, v) => agg.reduce(m, v)))
      val merged = rnd.shuffle(partials)
        .foldLeft(mergeAgg.zero)(mergeAgg.merge)
      assert(merged == whole, s"trial $trial k=$k")
    }
  }

  test("relative error < 1% on positive values") {
    val rnd = new Random(11)
    val xs = Seq.fill(5000)(1L + (rnd.nextLong() % 999999999999L).abs)
    val sk = modelSketch(xs)
    for (q <- Seq(0.05, 0.5, 0.95, 0.99)) {
      val exact = exactQuantile(xs, q).toDouble
      val approx = DecimalSketch.quantile(sk, q).toDouble
      assert(approx <= exact, s"q=$q: sketch answer must lower-bound")
      assert((exact - approx) / exact < 0.01,
        s"q=$q: exact=$exact approx=$approx")
    }
  }

  test("distributed udaf matches the driver-side model across partitionings") {
    import spark.implicits._
    val rnd = new Random(23)
    val xs = Seq.fill(3000)(rnd.nextLong() % 100000000L)
    val model = modelSketch(xs)
    val sk = udaf(new DecimalSketchAgg)
    for (parts <- Seq(1, 4, 13)) {
      val got = xs.toDF("v").repartition(parts)
        .agg(sk(col("v")).as("sketch"))
        .as[Map[Long, Long]].head()
      assert(got == model, s"parts=$parts")
    }
    // null inputs are ignored
    val nulls = spark.sql(
      "SELECT CAST(NULL AS BIGINT) AS v UNION ALL SELECT CAST(NULL AS BIGINT)")
    val gotN = xs.toDF("v").unionAll(nulls).repartition(5)
      .agg(sk(col("v")).as("sketch")).as[Map[Long, Long]].head()
    assert(gotN == model)
  }

  test("weighted sketch == sketch of the value repeated weight times") {
    val rnd = new Random(47)
    val agg = new DecimalSketchWeightedAgg
    for (trial <- 1 to 30) {
      val rows = Seq.fill(1 + rnd.nextInt(200))(
        (rnd.nextLong() % 10000000L, 1L + rnd.nextInt(9)))
      val weighted = rows.foldLeft(agg.zero) { case (m, (v, w)) =>
        agg.reduce(m, WeightedGridValue(v, w))
      }
      val expanded = modelSketch(rows.flatMap { case (v, w) =>
        Seq.fill(w.toInt)(v)
      })
      assert(weighted == expanded, s"trial $trial")
      // and quantiles over the weight mass agree with the expansion
      val exp = rows.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }
      for (q <- Seq(0.1, 0.5, 0.9))
        assert(DecimalSketch.quantile(weighted, q) ==
          bucket(exactQuantile(exp, q)), s"trial $trial q=$q")
    }
  }

  test("weighted sketch: weight 1 == unweighted; weight <= 0 and nulls ignored") {
    val agg = new DecimalSketchWeightedAgg
    val xs = Seq(5L, 1005L, -42L, 99999L)
    val w1 = xs.foldLeft(agg.zero)((m, v) =>
      agg.reduce(m, WeightedGridValue(v, 1L)))
    assert(w1 == modelSketch(xs))
    val ignored = Seq(
      WeightedGridValue(7L, 0L), WeightedGridValue(7L, -3L),
      WeightedGridValue(null, 5L), WeightedGridValue(7L, null))
    assert(ignored.foldLeft(w1)(agg.reduce) == w1)
  }

  test("weighted udaf is partition-invariant and matches the model") {
    import spark.implicits._
    val rnd = new Random(53)
    val rows = Seq.fill(2000)((rnd.nextLong() % 10000000L, 1L + rnd.nextInt(20)))
    val model = modelSketch(rows.flatMap { case (v, w) =>
      Seq.fill(w.toInt)(v)
    })
    val sk = udaf(new DecimalSketchWeightedAgg)
    for (parts <- Seq(1, 7)) {
      val got = rows.toDF("v", "w").repartition(parts)
        .agg(sk(col("v"), col("w")).as("sketch"))
        .as[Map[Long, Long]].head()
      assert(got == model, s"parts=$parts")
    }
  }

  test("relational quantileScan == driver-side quantile on random sketches") {
    import spark.implicits._
    val rnd = new Random(67)
    val qs = Seq(0.1, 0.5, 0.99)
    // random sketches: keys on the grid (bucket-idempotent), counts >= 1
    val sketches = (0 until 12).map { g =>
      val m = (0 until 1 + rnd.nextInt(40)).map { _ =>
        bucket(rnd.nextLong() % 100000000L) -> (1L + rnd.nextInt(50))
      }.toMap
      (g.toLong, m, m.values.sum)
    }
    val df = sketches.toDF("grp", "sketch", "n")
    val got = DecimalSketch.quantileScan(df, Seq("grp"), qs, "v")
      .as[(Long, Double, Long, Long)].collect()
      .map { case (g, q, v, _) => (g, q) -> v }.toMap
    for ((g, m, _) <- sketches; q <- qs)
      assert(got((g, q)) == DecimalSketch.quantile(m, q), s"grp=$g q=$q")
  }

  test("error contracts: empty-sketch quantile refuses; q outside (0,1] stays total") {
    intercept[IllegalArgumentException] {
      DecimalSketch.quantile(Map.empty, 0.5)
    }
    val sk = Map(100L -> 2L, 5000L -> 1L)
    // q=0 clamps to rank 1; q>1 overshoots every rank and falls
    // through to the max bucket — total, never an exception
    assert(DecimalSketch.quantile(sk, 0.0) == 100L)
    assert(DecimalSketch.quantile(sk, 5.0) == 5000L)
  }

  test("sketches survive a parquet round trip and re-aggregate losslessly") {
    import spark.implicits._
    val rnd = new Random(61)
    val rows = Seq.fill(1500)((rnd.nextInt(5), rnd.nextLong() % 10000000L))
    val sk = udaf(new DecimalSketchAgg)
    val skMerge = udaf(new DecimalSketchMergeAgg)
    val dir = java.nio.file.Files.createTempDirectory("decsketch-rt")
      .toString
    try {
      // the production artifact: one sketch row per slice, on disk
      rows.toDF("slice", "v").groupBy(col("slice"))
        .agg(sk(col("v")).as("sketch"))
        .write.mode("overwrite").parquet(dir)
      val merged = spark.read.parquet(dir)
        .agg(skMerge(col("sketch")).as("m"))
        .as[Map[Long, Long]].head()
      assert(merged == modelSketch(rows.map(_._2)))
      for (q <- Seq(0.5, 0.9))
        assert(DecimalSketch.quantile(merged, q) ==
          bucket(exactQuantile(rows.map(_._2), q)))
    } finally {
      graft.streaming.FiniteStream.deleteRecursively(dir)
    }
  }

  test("merge udaf over stored per-slice sketches == sketch of concatenation") {
    import spark.implicits._
    val rnd = new Random(31)
    val rows = Seq.fill(2000)((rnd.nextInt(7), rnd.nextLong() % 10000000L))
    val sk = udaf(new DecimalSketchAgg)
    val skMerge = udaf(new DecimalSketchMergeAgg)
    val perSlice = rows.toDF("slice", "v")
      .groupBy(col("slice")).agg(sk(col("v")).as("sketch"))
    val merged = perSlice.agg(skMerge(col("sketch")).as("m"))
      .as[Map[Long, Long]].head()
    assert(merged == modelSketch(rows.map(_._2)))
  }
}
