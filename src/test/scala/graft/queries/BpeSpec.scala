package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The BPE trainer/encoder's core claim: applying a merge as ONE
  * literal `replace` over the double-space symbol representation
  * (`'  a  b  c  '`, pattern `' x  y '` → `' xy '`) is EXACTLY the
  * greedy left-to-right list-scan merge — the pattern consumes only
  * one outer space per side, so adjacent matches keep their boundary
  * and non-overlapping leftmost replacement lines up with the greedy
  * scan. Pinned here against an independent list-based reference
  * across random words and hierarchical merge tables, then checked
  * end-to-end through Spark's `replace` builtin (same Java
  * `String.replace` semantics the property test uses), plus shape
  * checks on the trainer and encoder over the sf0.001 tables. */
class BpeSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  // independent reference: one greedy left-to-right merge pass
  private def refMerge(syms: List[String], x: String,
                       y: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
        out += (x + y); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  // the engine's spelling: chained literal replace over the
  // double-space representation (Java String.replace — the same
  // leftmost non-overlapping semantics as Spark's and DuckDB's
  // `replace` builtins)
  private def chainRep(word: String,
                       merges: Seq[(String, String)]): List[String] = {
    var rep = "  " + word.map(_.toString).mkString("  ") + "  "
    merges.foreach { case (x, y) =>
      rep = rep.replace(s" $x  $y ", s" $x$y ")
    }
    rep.trim.split("  ").toList
  }

  test("replace-chain merge == greedy list-scan across 2000 random cases") {
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val word = (1 to rnd.nextInt(12) + 1)
        .map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString
      // hierarchical merge table: each merge joins two symbols that
      // already exist (starting from the alphabet), like real BPE
      val symbols = scala.collection.mutable.ArrayBuffer("a", "b")
      val merges = (1 to rnd.nextInt(5) + 1).map { _ =>
        val x = symbols(rnd.nextInt(symbols.length))
        val y = symbols(rnd.nextInt(symbols.length))
        symbols += (x + y)
        (x, y)
      }
      val expected = merges.foldLeft(word.map(_.toString).toList) {
        case (syms, (x, y)) => refMerge(syms, x, y)
      }
      assert(chainRep(word, merges) == expected,
        s"word=$word merges=$merges")
    }
  }

  test("Spark's replace builtin matches the property test's semantics") {
    // the adjacent-occurrence case that breaks single-space spellings
    val r = spark.sql(
      "SELECT replace('  a  b  a  b  a  ', ' a  b ', ' ab ')")
      .collect().head.getString(0)
    assert(r == "  a  b  a  b  a  ".replace(" a  b ", " ab "))
    assert(r == "  ab  ab  a  ")
  }

  test("trainer returns 8 ranked distinct merges with positive counts") {
    val rows = TextQueries.bpeTrain(spark, sf)
      .orderBy("merge_rank").collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 8L))
    val pairs = rows.map(_.getString(1))
    assert(pairs.distinct.length == 8)
    assert(rows.forall(_.getLong(2) > 0))
    // every pair is two space-separated symbols, each buildable from
    // single characters plus earlier merges
    val built = scala.collection.mutable.Set[String]()
    pairs.foreach { p =>
      val Array(x, y) = p.split(' ')
      Seq(x, y).foreach(sym =>
        assert(sym.length == 1 || built.contains(sym),
          s"symbol $sym of pair '$p' not buildable"))
      built += (x + y)
    }
  }

  test("encoder: token counts bound by chars, segmentations round-trip") {
    val rows = TextQueries.bpeEncode(spark, sf).limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTokens, nWords) = (r.getLong(1), r.getLong(2))
      assert(nTokens >= nWords) // every word is ≥ 1 token
      // removing the '|' separators restores the original words
      val enc = r.getString(3)
      if (enc.nonEmpty) enc.split(' ').foreach { w =>
        assert(!w.contains("||"), s"empty symbol in $w")
      }
    }
    // explicit round-trip on a known segmentation: 'the' and 'and'
    // collapse to single symbols under the fixed merge table
    val probe = spark.sql(
      "SELECT 'the and inner' AS text, CAST(1 AS BIGINT) AS doc_id, " +
        "'en' AS lang, 'src' AS source")
    probe.createOrReplaceTempView("__bpe_probe")
    val repW = "concat('  ', array_join(split(w, ''), '  '), '  ')"
    val chained = TextQueries.EncoderMerges.foldLeft(repW) {
      case (acc, (x, y)) => s"replace($acc, ' $x  $y ', ' $x$y ')"
    }
    val seg = spark.sql(
      s"SELECT transform(split('the and inner', ' '), " +
        s"w -> array_join(split(trim($chained), '  '), '|')) ")
      .collect().head.getSeq[String](0)
    assert(seg == Seq("the", "and", "in|n|er"))
  }
}
