package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The native signature expressions must be bit-identical to their
  * composable (functions._) spellings on arbitrary token arrays —
  * including short texts (fewer tokens than the shingle width) and
  * duplicate tokens. */
class SignatureExprSpec extends AnyFunSuite with SharedSpark {

  private def randTokens(rnd: Random): Seq[String] = {
    val vocab = Seq("data", "row", "scan", "agg", "join", "π", "batch")
    Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
  }

  test("MinHashSlices == array_min over md5-sliced shingle transform") {
    import spark.implicits._
    val rnd = new Random(5)
    (1 to 20).foreach { _ =>
      val toks = randTokens(rnd)
      val df = Seq(Tuple1(toks)).toDF("toks")
      val native = df.select(MinHashSlices($"toks").as("m"))
        .collect()(0).getSeq[String](0)
      val shArr = TextShingles.shingles($"toks", 5)
      val h64 = transform(shArr,
        sh => concat(md5(concat(lit("0|"), sh)), md5(concat(lit("1|"), sh))))
      val composed = df.select(array((0 until 8).map(i =>
          array_min(transform(h64, h => substring(h, 8 * i + 1, 8)))): _*))
        .collect()(0).getSeq[String](0)
      assert(native == composed, s"toks=$toks")
    }
  }

  test("SimHash16 == relational bit-count formulation") {
    import spark.implicits._
    val rnd = new Random(9)
    (1 to 20).foreach { _ =>
      val toks = randTokens(rnd)
      val df = Seq(Tuple1(toks)).toDF("toks")
      val native = df.select(SimHash16($"toks")).collect()(0).getLong(0)
      val expected = {
        val distinct = toks.distinct
        val counts = new Array[Int](16)
        distinct.foreach { t =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val dg = md.digest(t.getBytes("UTF-8"))
          val v = ((dg(0) & 0xff) << 8) | (dg(1) & 0xff)
          (0 until 16).foreach(b =>
            if (((v >> b) & 1) == 1) counts(b) += 1 else counts(b) -= 1)
        }
        (0 until 16).foldLeft(0L)((acc, b) =>
          if (counts(b) > 0) acc | (1L << b) else acc)
      }
      assert(native == expected, s"toks=$toks")
    }
  }

  test("ShingleHashSeq: one hash per position; distinct == HashedShingles") {
    import spark.implicits._
    val rnd = new Random(23)
    (1 to 30).foreach { _ =>
      val toks = randTokens(rnd)
      val df = Seq(Tuple1(toks)).toDF("toks")
      val row = df.select(
        ShingleHashSeq($"toks", 5).as("seq"),
        HashedShingles($"toks", 5).as("set")).collect()(0)
      val seq = row.getSeq[String](0)
      val set = row.getSeq[String](1)
      // exactly one hash per shingle start position (short texts: one)
      assert(seq.length == math.max(toks.length - 4, 1), s"toks=$toks")
      // positions preserved: insertion-ordered distinct equals the
      // set-valued native (same hashing, same order)
      assert(seq.distinct == set, s"toks=$toks")
      // and each position hashes the same shingle the composable
      // spelling produces
      val composed = df.select(transform(
          TextShingles.shingles($"toks", 5),
          sh => substring(md5(sh), 1, 16)).as("c"))
        .collect()(0).getSeq[String](0)
      assert(seq == composed, s"toks=$toks")
    }
  }
}
