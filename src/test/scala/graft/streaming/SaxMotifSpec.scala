package graft.streaming

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

import SaxMotif.{MotifRow, SaxIn}

/** Contracts of the streaming SAX automaton: the incremental fold
  * equals a direct windowed-symbolization model on any input, state
  * stays within its documented bound, and any in-order micro-batch
  * split converges to the single-batch answer. */
class SaxMotifSpec extends AnyFunSuite with SharedSpark {

  private val (b1, b2, b3) = (100L, 200L, 300L)

  /** Direct model: complete-window sums → letters → trigram counts →
    * (motif, count) with lexicographic tie-break. */
  private def model(cents: Seq[Long], w: Int): (Option[(String, Long)], Long) = {
    val sums = cents.grouped(w).filter(_.size == w).map(_.sum).toSeq
    val letters = sums.map(s =>
      if (s < b1) "a" else if (s < b2) "b" else if (s < b3) "c" else "d")
    val words = letters.sliding(3).filter(_.size == 3).map(_.mkString).toSeq
    val counts = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val best = if (counts.isEmpty) None
      else Some(counts.toSeq.minBy { case (wd, c) => (-c, wd) })
    (best, sums.size.toLong)
  }

  private def in(i: Int, c: Long): SaxIn =
    SaxIn("t", i.toLong * 1000, i.toLong, c, b1, b2, b3)

  test("incremental fold == direct model on fuzzed series") {
    val rnd = new Random(91)
    for (trial <- 1 to 300) {
      val n = rnd.nextInt(120)
      val cents = Seq.fill(n)(rnd.nextInt(90).toLong)
      val st = cents.zipWithIndex.foldLeft(SaxMotif.zero) {
        case (s, (c, i)) => SaxMotif.step(s, in(i, c), 4)
      }
      val (bestRef, nwRef) = model(cents, 4)
      assert(st.nw == nwRef, s"trial $trial windows")
      assert(SaxMotif.best(st) == bestRef, s"trial $trial motif")
      assert(st.counts.size <= 64, "alphabet closes the key space")
    }
  }

  test("any in-order micro-batch split == single batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new Random(97)
    val history = (0 until 64).map(i => in(i, rnd.nextInt(90).toLong))
    val (Some((motifRef, nRef)), nwRef) = model(history.map(_.cents), 4)
    for (splits <- Seq(Seq(64), Seq(3, 61), Seq(21, 21, 22))) {
      val feed = MemoryStream[SaxIn]
      val name = s"sax_${System.nanoTime()}"
      val q = SaxMotif.table(spark, feed.toDF(), 4)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        var off = 0
        for (sz <- splits) {
          feed.addData(rnd.shuffle(history.slice(off, off + sz)))
          off += sz
          q.processAllAvailable()
        }
        val last = spark.table(name).as[MotifRow].collect()
          .maxBy(_.n_windows)
        assert(last == MotifRow("t", motifRef, nRef, nwRef),
          s"splits=$splits")
      } finally {
        q.stop()
        spark.streams.resetTerminated()
      }
    }
  }
}
