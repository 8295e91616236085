package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Misra–Gries invariants, fuzzed against exact counts:
  *
  *  - the classic bounds true − N/(k+1) ≤ est ≤ true hold for EVERY
  *    term under EVERY merge topology (random chunkings, random merge
  *    order — the mergeable-summaries guarantee the Spark aggregator
  *    relies on for map-side partials);
  *  - every ≥N/(k+1)-heavy term is held in every valid sketch;
  *  - the deterministic candidates-then-exact protocol (held terms →
  *    exact counts → gate n·k ≥ N) returns the EXACT heavy set
  *    regardless of topology — the property `sketch_mg_topk` stakes
  *    its oracle on;
  *  - the summary never exceeds k counters;
  *  - through Spark: the aggregator's query-protocol output is
  *    invariant under repartitioning. */
class MgSketchSpec extends AnyFunSuite with SharedSpark {

  /** A skewed random stream: a few heavy terms + a long tail. */
  private def stream(rnd: Random, n: Int): Seq[String] =
    Seq.fill(n) {
      val r = rnd.nextInt(100)
      if (r < 30) s"h${rnd.nextInt(3)}"        // 3 heavy terms, ~10% each
      else if (r < 60) s"m${rnd.nextInt(12)}"  // 12 mid terms, ~2.5% each
      else s"t${rnd.nextInt(500)}"             // 500-term tail
    }

  /** Fold a stream through a random partitioning + random merge
    * order — an adversarial stand-in for Spark's partial/merge plan. */
  private def randomTopology(rnd: Random, xs: Seq[String],
                             k: Int): Map[String, Long] = {
    val nChunks = 1 + rnd.nextInt(8)
    val chunks = xs.grouped(math.max(1, xs.size / nChunks)).toBuffer
    val partials = chunks.map(_.foldLeft(Map.empty[String, Long])(
      (m, t) => MgSketch.insert(m, t, k)))
    // merge in random order
    while (partials.size > 1) {
      val i = rnd.nextInt(partials.size)
      val x = partials.remove(i)
      val j = rnd.nextInt(partials.size)
      partials(j) = MgSketch.merge(partials(j), x, k)
    }
    partials.head
  }

  test("bounds and heavy-completeness hold under 200 random topologies") {
    val rnd = new Random(140301)
    for (_ <- 1 to 200) {
      val k = 8 + rnd.nextInt(57) // 8..64
      val xs = stream(rnd, 500 + rnd.nextInt(3000))
      val exact = xs.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
      val n = xs.size.toLong
      val sk = randomTopology(rnd, xs, k)
      assert(sk.size <= k, s"summary over budget: ${sk.size} > $k")
      val slack = n / (k + 1) // floor of N/(k+1) >= the real bound floor
      sk.foreach { case (t, est) =>
        val tru = exact.getOrElse(t, 0L)
        assert(est <= tru, s"overcount: $t est=$est true=$tru")
        assert(est >= tru - n / (k + 1) - 1,
          s"undercount beyond bound: $t est=$est true=$tru n=$n k=$k")
      }
      // completeness: true > N/(k+1) => held
      exact.foreach { case (t, tru) =>
        if (tru > n / (k + 1) + 1)
          assert(sk.contains(t),
            s"heavy term dropped: $t true=$tru bound=${n / (k + 1)} k=$k")
      }
      val _ = slack
    }
  }

  test("candidates-then-exact protocol = the exact heavy set, any topology") {
    val rnd = new Random(140302)
    for (_ <- 1 to 100) {
      val k = 16 + rnd.nextInt(49)
      val xs = stream(rnd, 1000 + rnd.nextInt(4000))
      val exact = xs.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
      val n = xs.size.toLong
      val want = exact.filter { case (_, c) => c * k >= n }.keySet
      val got = randomTopology(rnd, xs, k).keySet
        .filter(t => exact.getOrElse(t, 0L) * k >= n)
      assert(got == want,
        s"protocol output depends on topology: got=$got want=$want k=$k")
    }
  }

  test("through Spark: protocol output is repartition-invariant") {
    import spark.implicits._
    val rnd = new Random(140303)
    val xs = stream(rnd, 4000)
    val exact = xs.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val n = xs.size.toLong
    val k = 32
    val want = exact.filter { case (_, c) => c * k >= n }
    val mg = udaf(new MgSketchAgg(k))
    val out = Seq(1, 3, 7, 16).map { p =>
      val sk = xs.toDF("term").repartition(p)
        .agg(mg(col("term")).as("sk"))
        .collect().head.getAs[Map[String, Long]]("sk")
      assert(sk.size <= k)
      sk.keySet.filter(t => exact.getOrElse(t, 0L) * k >= n)
        .map(t => t -> exact(t)).toMap
    }
    out.foreach(o => assert(o == want, s"got $o, want $want"))
  }

  test("mutable aggregator buffer = the pure-function fold, same order (r15 allocation cut)") {
    val rnd = new Random(71503)
    for (_ <- 1 to 20) {
      val k = 4 + rnd.nextInt(61)
      val xs = stream(rnd, 200 + rnd.nextInt(2000))
      val agg = new MgSketchAgg(k)
      val viaBuf = agg.finish(xs.foldLeft(agg.zero)((b, t) => agg.reduce(b, t)))
      val viaPure = xs.foldLeft(Map.empty[String, Long])(
        (m, t) => MgSketch.insert(m, t, k))
      assert(viaBuf == viaPure, s"k=$k insert drift")
      // merge parity: split in two, merge buffers vs pure merge
      val (l, r) = xs.splitAt(xs.size / 2)
      val bl = l.foldLeft(agg.zero)((b, t) => agg.reduce(b, t))
      val br = r.foldLeft(agg.zero)((b, t) => agg.reduce(b, t))
      val mergedBuf = agg.finish(agg.merge(bl, br))
      val pl = l.foldLeft(Map.empty[String, Long])((m, t) => MgSketch.insert(m, t, k))
      val pr = r.foldLeft(Map.empty[String, Long])((m, t) => MgSketch.insert(m, t, k))
      assert(mergedBuf == MgSketch.merge(pl, pr, k), s"k=$k merge drift")
    }
  }

  test("merge caps at k and preserves combined totals' bound") {
    val rnd = new Random(140304)
    for (_ <- 1 to 200) {
      val k = 4 + rnd.nextInt(12)
      val xs = stream(rnd, 200)
      val ys = stream(rnd, 200)
      val sx = xs.foldLeft(Map.empty[String, Long])(MgSketch.insert(_, _, k))
      val sy = ys.foldLeft(Map.empty[String, Long])(MgSketch.insert(_, _, k))
      val m = MgSketch.merge(sx, sy, k)
      assert(m.size <= k)
      val exact = (xs ++ ys).groupBy(identity)
        .map { case (t, g) => t -> g.size.toLong }
      val n = (xs.size + ys.size).toLong
      m.foreach { case (t, est) =>
        assert(est <= exact.getOrElse(t, 0L))
        assert(est >= exact.getOrElse(t, 0L) - n / (k + 1) - 1)
      }
    }
  }
}
