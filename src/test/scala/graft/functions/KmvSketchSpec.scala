package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** KMV sketch algebra, fuzzed against the direct model
  * `distinct.sorted.take(k)` — insertion folds, unions over arbitrary
  * splits, duplicate insensitivity, the exact-below-k estimator
  * contract, and partition-count invariance of the Spark aggregate
  * (the merge path a 1000-executor run exercises). */
class KmvSketchSpec extends AnyFunSuite with SharedSpark {

  private def model(xs: Seq[Long], k: Int): Seq[Long] =
    xs.distinct.sorted.take(k)

  private val rnd = new Random(421302)

  private def sample(n: Int, domain: Long): Seq[Long] =
    Seq.fill(n)(math.abs(rnd.nextLong()) % domain)

  test("insertion fold equals the direct model on random data (500 cases)") {
    for (_ <- 1 to 500) {
      val k = 2 + rnd.nextInt(40)
      // small domains force duplicates; large ones force saturation
      val xs = sample(rnd.nextInt(200), 1L + rnd.nextInt(3) * 500L + 7L)
      val got = xs.foldLeft(Vector.empty[Long]: Seq[Long])(
        KmvSketch.insert(_, _, k))
      assert(got == model(xs, k), s"k=$k xs=$xs")
    }
  }

  test("union over any split equals the sketch of the whole (300 cases)") {
    for (_ <- 1 to 300) {
      val k = 2 + rnd.nextInt(30)
      val xs = sample(rnd.nextInt(300), 400L)
      val whole = model(xs, k)
      // arbitrary split count, arbitrary boundaries
      val nSplits = 1 + rnd.nextInt(6)
      val marks = Seq.fill(xs.size)(rnd.nextInt(nSplits))
      val parts = (0 until nSplits).map(i =>
        xs.zip(marks).collect { case (x, m) if m == i => x })
      val sketches = parts.map(p =>
        p.foldLeft(Vector.empty[Long]: Seq[Long])(KmvSketch.insert(_, _, k)))
      // fold unions in a shuffled order: commutative + associative
      val merged = rnd.shuffle(sketches)
        .foldLeft(Vector.empty[Long]: Seq[Long])(KmvSketch.union(_, _, k))
      assert(merged == whole, s"k=$k parts=$parts")
    }
  }

  test("duplicate insensitivity and the estimator contract") {
    val k = 16
    for (_ <- 1 to 100) {
      val xs = sample(rnd.nextInt(100), 1000L)
      val once = xs.foldLeft(Vector.empty[Long]: Seq[Long])(
        KmvSketch.insert(_, _, k))
      val twice = (xs ++ xs).foldLeft(Vector.empty[Long]: Seq[Long])(
        KmvSketch.insert(_, _, k))
      assert(once == twice)
      val d = xs.distinct.size
      if (d < k) assert(KmvSketch.estimate(once, k) == d.toLong,
        "unsaturated sketch must count exactly")
      else assert(KmvSketch.estimate(once, k) ==
        (k - 1).toLong * 4294967296L / once.last)
    }
    // saturated steady state: h >= max is an identity (no realloc)
    val sat = (1L to 16L).toVector: Seq[Long]
    assert(KmvSketch.insert(sat, 16L, k) eq sat)
    assert(KmvSketch.insert(sat, 99L, k) eq sat)
  }

  test("SQL-reachable: kmv_sketch_256 + array-SQL estimator match the model") {
    import spark.implicits._
    val xs = sample(2000, 10000000L)
    xs.toDF("h").createOrReplaceTempView("kmv_in")
    try {
      val r = spark.sql(
        """SELECT size(sk) AS n_held, element_at(sk, -1) AS kth,
          |       CASE WHEN size(sk) < 256 THEN CAST(size(sk) AS BIGINT)
          |            ELSE 1095216660480 DIV element_at(sk, -1) END AS est
          |FROM (SELECT kmv_sketch_256(h) AS sk FROM kmv_in)""".stripMargin)
        .as[(Int, Long, Long)].collect().head
      val m = model(xs, 256)
      assert(r._1 == m.size && r._2 == m.last)
      assert(r._3 == KmvSketch.estimate(m, 256))
    } finally spark.catalog.dropTempView("kmv_in")
  }

  test("two-level rollup (build at fine grain, merge up) equals the direct sketch") {
    import spark.implicits._
    val k = 24
    val kmv = udaf(new KmvSketchAgg(k))
    val kmvMerge = udaf(new KmvSketchMergeAgg(k))
    // (coarse, fine, h): sketch per (coarse, fine), merge to coarse
    val data = sample(4000, 5000L).zipWithIndex.map { case (h, i) =>
      (s"c${i % 3}", s"f${i % 7}", h) }
    val df = data.toDF("coarse", "fine", "h")
    val direct = df.groupBy(col("coarse")).agg(kmv(col("h")).as("sk"))
      .as[(String, Seq[Long])].collect().toMap
    val rolled = df.groupBy(col("coarse"), col("fine"))
      .agg(kmv(col("h")).as("sk"))
      .groupBy(col("coarse")).agg(kmvMerge(col("sk")).as("sk"))
      .as[(String, Seq[Long])].collect().toMap
    assert(rolled == direct)
    // and both equal the model over the coarse group's raw values
    val byCoarse = data.groupBy(_._1).map { case (c, vs) =>
      (c, model(vs.map(_._3), k)) }
    assert(direct == byCoarse)
  }

  test("Spark aggregate is invariant to input partitioning") {
    import spark.implicits._
    val kmv = udaf(new KmvSketchAgg(32))
    val data = sample(5000, 100000L).map(h => (h % 3, h)) // 3 groups
    def sketchAt(parts: Int): Map[Long, Seq[Long]] =
      data.toDF("g", "h").repartition(parts)
        .groupBy(col("g")).agg(kmv(col("h")).as("sk"))
        .as[(Long, Seq[Long])].collect().toMap
    val p1 = sketchAt(1)
    assert(sketchAt(7) == p1)
    assert(sketchAt(32) == p1)
    // and the result equals the model per group
    val byG = data.groupBy(_._1).map { case (g, vs) =>
      (g, model(vs.map(_._2), 32)) }
    assert(p1 == byG)
  }
}
