package graft.streaming

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

import PatternMatch.{EventIn, MatchRow, PatternState}

/** The two contracts of the streaming CEP automaton:
  *
  *  1. EQUIVALENCE — on any char sequence, the incremental fold must
  *     count exactly what the batch regex counts (`v+c*p` via
  *     java.util.regex `Matcher.find`'s non-overlapping loop, `p.*e`
  *     via find) — fuzzed over random sequences skewed toward the
  *     alphabet so candidate runs actually occur;
  *  2. INCREMENTALITY — any split of a key's in-order history across
  *     micro-batches converges to the single-batch answer, with state
  *     carrying across batches (constant-size, not the history).
  */
class PatternMatchSpec extends AnyFunSuite with SharedSpark {

  private def regexModel(seq: String): (Long, Boolean) = {
    val m = java.util.regex.Pattern.compile("v+c*p").matcher(seq)
    var n = 0L
    while (m.find()) n += 1
    (n, java.util.regex.Pattern.compile("p.*e").matcher(seq).find())
  }

  test("automaton fold == java.util.regex on fuzzed sequences") {
    val rnd = new Random(77)
    val alphabet = "vvvcccppse" // skewed so v+c*p candidates occur
    for (trial <- 1 to 5000) {
      val seq = Seq.fill(rnd.nextInt(40))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val st = PatternMatch.fold(PatternMatch.zero, seq)
      val (nRef, errRef) = regexModel(seq)
      assert(st.nFunnel == nRef && st.len == seq.length,
        s"trial $trial seq=$seq: got ${st.nFunnel}, regex $nRef")
      assert(st.errAfterP == errRef, s"trial $trial seq=$seq err flag")
    }
  }

  test("hostile exact cases: overlap resets, p reset, prefix breaks") {
    def n(seq: String): Long =
      PatternMatch.fold(PatternMatch.zero, seq).nFunnel
    assert(n("vcp") == 1L)
    assert(n("vpp") == 1L)     // second p has no fresh candidate
    assert(n("vpvp") == 2L)    // non-overlapping back-to-back
    assert(n("vvcvp") == 1L)   // c-run broken by v: candidate restarts
    assert(n("ccp") == 0L)     // c* without v+ never matches
    assert(n("vscp") == 0L)    // foreign char breaks contiguity
    assert(n("vccp") == 1L)
    assert(n("") == 0L)
  }

  test("sessionized automaton == per-session regex model on fuzzed gapped series") {
    val rnd = new Random(101)
    val gapUs = 1000L
    for (trial <- 1 to 1000) {
      // random chars with random inter-event gaps straddling the cutoff
      var us = 0L
      val events = Seq.fill(rnd.nextInt(50)) {
        us += 1 + rnd.nextInt(2000) // gaps 1..2000 vs cutoff 1000
        (us, "vvvcccppse"(rnd.nextInt(10)))
      }
      val st = events.foldLeft(PatternMatch.sessionZero) {
        case (s, (t, c)) => PatternMatch.stepSession(s, c, t, gapUs)
      }
      val got = PatternMatch.sessionReport(1L, st)
      // model: split into sessions at gap > cutoff, regex per session
      val sessions = events.foldLeft(Seq.empty[Seq[(Long, Char)]]) {
        case (acc, (t, c)) =>
          if (acc.nonEmpty && t - acc.last.last._1 <= gapUs)
            acc.init :+ (acc.last :+ (t, c))
          else acc :+ Seq((t, c))
      }
      val seqs = sessions.map(_.map(_._2).mkString)
      val nFunnel = seqs.map(regexModel(_)._1).sum
      val nErr = seqs.count(regexModel(_)._2)
      assert(got == PatternMatch.SessionRow(1L, sessions.size.toLong,
        nFunnel, nErr.toLong, events.size.toLong),
        s"trial $trial seqs=$seqs got=$got")
    }
  }

  test("any micro-batch split of an in-order history == single batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new Random(83)
    val history = (1 to 60).map { i =>
      EventIn(7L, i.toLong * 1000, i.toLong,
        "vvvcccppse"(rnd.nextInt(10)).toString)
    }
    val expected = {
      val st = PatternMatch.fold(PatternMatch.zero,
        history.map(_.ch.charAt(0)))
      MatchRow(7L, st.len, st.nFunnel, if (st.errAfterP) 1L else 0L)
    }
    for (splits <- Seq(Seq(60), Seq(1, 59), Seq(20, 20, 20), Seq(7, 13, 40))) {
      val feed = MemoryStream[EventIn]
      val name = s"pm_${System.nanoTime()}"
      val q = PatternMatch.table(spark, feed.toDF())
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        var off = 0
        for (sz <- splits) {
          // shuffle WITHIN the batch: the sort inside the operator
          // must restore (us, event_id) order
          feed.addData(rnd.shuffle(history.slice(off, off + sz)))
          off += sz
          q.processAllAvailable()
        }
        val last = spark.table(name).as[MatchRow].collect()
          .maxBy(_.seq_len)
        assert(last == expected, s"splits=$splits")
      } finally {
        q.stop()
        spark.streams.resetTerminated()
      }
    }
  }
}
