package graft.functions

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSql, SharedSpark}

/** Seeded-random cross-check of the ksql masking/split mappings
  * against a direct per-character Scala model — one DataFrame of all
  * samples, so the whole property evaluates in a single codegen'd
  * query rather than per-sample round-trips. */
class KsqlCompatPropertySpec extends AnyFunSuite with SharedSpark {

  // the ksql MASK default: upper→X, lower→x, digit→n, other→'-'
  private def modelMask(s: String): String =
    s.map { c =>
      if (Character.isUpperCase(c)) 'X'
      else if (Character.isLowerCase(c)) 'x'
      else if (Character.isDigit(c)) 'n'
      else '-'
    }

  private def alphabet = "aZ3 _-ab.|étÄ09Bq" // incl. the split delimiter

  test("mask family and literal split match the per-character model on 400 seeded strings") {
    import spark.implicits._
    val rnd = new Random(41)
    val samples = (Seq("", "ab", "abab", "ÄÉteq", "0123456789") ++
      (1 to 400).map { _ =>
        val n = rnd.nextInt(24)
        (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }).distinct
    val rows = samples.toDF("s").selectExpr(
        "s",
        "ksql_mask(s) AS m",
        "mask_keep_left(s, 3) AS kl",
        "mask_keep_right(s, 2) AS kr",
        "mask_left(s, 4) AS ml",
        "mask_right(s, 2) AS mr",
        "ksql_split(s, 'ab') AS sp")
      .collect()
    assert(rows.length == samples.length)
    rows.foreach { r =>
      val s = r.getString(0)
      def cut(n: Int) = math.max(s.length - n, 0)
      assert(r.getString(1) == modelMask(s), s"mask('$s')")
      assert(r.getString(2) == s.take(3) + modelMask(s.drop(3)),
        s"mask_keep_left('$s')")
      assert(r.getString(3) == modelMask(s.take(cut(2))) + s.drop(cut(2)),
        s"mask_keep_right('$s')")
      assert(r.getString(4) == modelMask(s.take(4)) + s.drop(4),
        s"mask_left('$s')")
      assert(r.getString(5) == s.take(cut(2)) + modelMask(s.drop(cut(2))),
        s"mask_right('$s')")
      val expectedSplit =
        s.split(java.util.regex.Pattern.quote("ab"), -1).toSeq
      assert(r.getSeq[String](6) == expectedSplit, s"split('$s', 'ab')")
    }
  }

  // ---- JSON_CONCAT vs an independent PG-`||` model ----

  /** PostgreSQL `||` model, written independently of the expression:
    * SQL NULL or unparseable operand → NULL; all-objects → shallow
    * merge built key-by-key left-to-right (later keys win, first
    * occurrence keeps its position); any non-object present → wrap
    * every non-array into a 1-element array and concatenate. Parsing
    * and serialization share [[JsonCompat.mapper]] (the rule under
    * test is the n-ary merge-vs-wrap DECISION, not Jackson). */
  private def modelConcat(ops: Seq[Option[String]]): Option[String] = {
    val parsed = ops.map(_.flatMap(JsonCompat.parse))
    if (parsed.exists(_.isEmpty)) None
    else {
      val ns = parsed.map(_.get)
      val om = JsonCompat.mapper
      val out: com.fasterxml.jackson.databind.JsonNode =
        if (ns.forall(_.isObject)) {
          val o = om.createObjectNode()
          ns.foreach { n =>
            val it = n.fields()
            while (it.hasNext) {
              val e = it.next()
              o.set[com.fasterxml.jackson.databind.node.ObjectNode](
                e.getKey, e.getValue)
              ()
            }
          }
          o
        } else {
          val a = om.createArrayNode()
          ns.foreach { n =>
            if (n.isArray) n.forEach(el => { a.add(el); () })
            else { a.add(n); () }
          }
          a
        }
      Some(om.writeValueAsString(out))
    }
  }

  test("JSON_CONCAT matches the PG || model on 300 generated operand mixes") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val operandGen: Gen[Option[String]] = Gen.frequency(
      6 -> Gen.oneOf("{}", """{"a":1}""", """{"a":{"x":[1]},"b":2}""",
        """{"b":3,"c":[1,2]}""", """{"c":null}""").map(Option(_)),
      5 -> Gen.oneOf("[]", "[1,2]", """[[1],{"a":1}]""",
        """["s",null]""").map(Option(_)),
      4 -> Gen.oneOf("1", "-2.5", "\"str\"", "true", "null").map(Option(_)),
      2 -> Gen.oneOf("{oops", "[1,", "tru").map(Option(_)),
      1 -> Gen.const(None))
    val caseGen: Gen[List[Option[String]]] =
      Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, operandGen))
    // deterministic sample: the suite must not flake on a lucky seed
    val cases: List[List[Option[String]]] =
      Gen.listOfN(300, caseGen)(Gen.Parameters.default, Seed(7L)).get
    // one wide projection → a single analysis + eval pass
    val cols = cases.zipWithIndex.map { case (ops, i) =>
      val args = ops.map {
        case Some(s) => "'" + s + "'"
        case None => "NULL"
      }.mkString(", ")
      s"JSON_CONCAT($args) AS c$i"
    }
    val row = spark.sql("SELECT " + cols.mkString(", ")).collect().head
    cases.zipWithIndex.foreach { case (ops, i) =>
      modelConcat(ops) match {
        case None => assert(row.isNullAt(i), s"case $i $ops: expected NULL")
        case Some(exp) =>
          assert(row.getString(i) == exp, s"case $i $ops")
      }
    }
  }

  // ---- ROUND vs the sign-split BigDecimal model ----

  /** ksql's rounding rule, written directly on the DECIMAL string of
    * the value (shortest double repr, like ksql's own
    * BigDecimal.valueOf path): halves toward +∞ — HALF_UP for v ≥ 0,
    * HALF_DOWN for v < 0 — at the target scale. Independent of the
    * expression's type dispatch and codegen, which are what the fuzz
    * pins: every (value, scale, SQL type) combination must route to
    * the same decimal answer. */
  private def modelRound(v: java.math.BigDecimal, scale: Int): java.math.BigDecimal =
    v.setScale(scale,
      if (v.signum < 0) java.math.RoundingMode.HALF_DOWN
      else java.math.RoundingMode.HALF_UP)

  test("ROUND: 300 (value, scale, type) combos match the sign-split model") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // grids that land on .5 / .05 / .005 boundaries plus off-grid
    // values; magnitudes stay far below 2^53 so the double-literal
    // spelling is exact
    val valueGen: Gen[java.math.BigDecimal] = Gen.frequency(
      4 -> Gen.choose(-2000L, 2000L).map(n =>
        java.math.BigDecimal.valueOf(n, 1)),   // x.y incl. x.5
      4 -> Gen.choose(-20000L, 20000L).map(n =>
        java.math.BigDecimal.valueOf(n, 2)),   // x.yz incl. x.y5
      3 -> Gen.choose(-200000L, 200000L).map(n =>
        java.math.BigDecimal.valueOf(n, 3)),
      2 -> Gen.choose(-1000000L, 1000000L).map(java.math.BigDecimal.valueOf),
      1 -> Gen.choose(-999L, 999L).map(n =>
        java.math.BigDecimal.valueOf(n * 50, 1))) // hundreds for s<0
    val comboGen: Gen[(java.math.BigDecimal, Int, Int)] = for {
      v <- valueGen
      s <- Gen.choose(-2, 4)
      kind <- Gen.choose(0, 2) // 0 = 1-arg double, 1 = 2-arg double,
                               // 2 = 1-arg decimal literal
    } yield (v, s, kind)
    val cases = Gen.listOfN(300, comboGen)(
      Gen.Parameters.default, Seed(13L)).get
    val cols = cases.zipWithIndex.map { case ((v, s, kind), i) =>
      val lit = v.toPlainString
      kind match {
        case 0 => s"ROUND(CAST($lit AS DOUBLE)) AS c$i"
        case 1 => s"ROUND(CAST($lit AS DOUBLE), $s) AS c$i"
        case 2 => s"ROUND($lit) AS c$i" // plain literal → DecimalType
      }
    }
    val row = GraftSql.sql(spark,
      "SELECT " + cols.mkString(", ")).collect().head
    cases.zipWithIndex.foreach { case ((v, s, kind), i) =>
      kind match {
        case 0 | 2 =>
          val exp = modelRound(v, 0).longValue
          assert(row.getLong(i) == exp, s"case $i ROUND($v) kind=$kind")
        case 1 =>
          val exp = modelRound(v, s).doubleValue
          assert(row.getDouble(i) == exp, s"case $i ROUND($v, $s)")
      }
    }
  }

  test("ROUND 1-arg BIGINT identity holds beyond 2^53 on 100 seeded longs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.frequency(
      3 -> Gen.choose(Long.MinValue / 2, Long.MaxValue / 2),
      1 -> Gen.oneOf(9007199254740993L, -9007199254740993L,
        Long.MaxValue - 1, Long.MinValue + 1, 0L))
    val vals = Gen.listOfN(100, gen)(Gen.Parameters.default, Seed(17L)).get
    val cols = vals.zipWithIndex.map { case (v, i) =>
      s"ROUND(CAST($v AS BIGINT)) AS c$i"
    }
    val row = GraftSql.sql(spark,
      "SELECT " + cols.mkString(", ")).collect().head
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(row.getLong(i) == v, s"case $i ROUND(${v}L) must be identity")
    }
  }
}
