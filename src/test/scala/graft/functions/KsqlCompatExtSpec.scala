package graft.functions

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSql, SharedSpark}

/** The ksql compat pack ([[KsqlCompat]]), second half: the invocation
  * (lambda) functions in both their array and map forms with the ksql
  * `(x) => expr` arrow spelling, the ARRAY_SORT direction/null rules,
  * the ENCODE transcoder, and the JSON/AS_MAP/CORRELATION additions.
  * Everything runs through [[GraftSql.sql]] — i.e. the ksql DIALECT,
  * so the `=>` arrow rewrite and the `ksql_`-prefix name mapping are
  * part of what's under test. */
class KsqlCompatExtSpec extends AnyFunSuite with SharedSpark {

  private def one(sql: String): Row = GraftSql.sql(spark, sql).collect().head

  // ---- TRANSFORM ----

  test("TRANSFORM over an array with the ksql arrow spelling") {
    assert(one("SELECT TRANSFORM(ARRAY(1, 2, 3), (x) => x * 10)")
      .getSeq[Int](0) == Seq(10, 20, 30))
    // trailing field path on the lambda variable still resolves
    assert(one("SELECT TRANSFORM(ARRAY(STRUCT(1 AS a, 'x' AS b)), " +
      "(s) => s.a + 1)").getSeq[Int](0) == Seq(2))
  }

  test("TRANSFORM over a map: both lambdas see the ORIGINAL (k, v)") {
    val r = one("SELECT TRANSFORM(MAP('a', 1, 'bb', 2), " +
      "(k, v) => UPPER(k), (k, v) => v * LENGTH(k))")
    assert(r.getMap[String, Int](0) == Map("A" -> 1, "BB" -> 4))
  }

  // ---- FILTER ----

  test("FILTER dispatches array vs map on lambda parameter count") {
    assert(one("SELECT FILTER(ARRAY(1, 2, 3, 4), (x) => x % 2 = 0)")
      .getSeq[Int](0) == Seq(2, 4))
    assert(one("SELECT FILTER(MAP('a', 1, 'b', 2, 'c', 3), " +
      "(k, v) => v >= 2 AND k != 'c')").getMap[String, Int](0) ==
      Map("b" -> 2))
  }

  test("aggregate FILTER (WHERE ...) clauses are not rewritten") {
    val r = one("SELECT count(*) FILTER (WHERE x > 1) FROM " +
      "(SELECT explode(ARRAY(1, 2, 3)) AS x)")
    assert(r.getLong(0) == 2L)
  }

  // ---- REDUCE ----

  test("REDUCE over an array ((s, x) lambda)") {
    assert(one("SELECT REDUCE(ARRAY(1, 2, 3), 0, (s, x) => s + x)")
      .getInt(0) == 6)
  }

  test("REDUCE over a map ((s, k, v) lambda)") {
    assert(one("SELECT REDUCE(MAP('a', 1, 'bb', 2), 0, " +
      "(s, k, v) => s + v + LENGTH(k))").getInt(0) == 6)
  }

  // ---- ARRAY_SORT ----

  test("ARRAY_SORT: ASC default and DESC, nulls last either way") {
    assert(one("SELECT ARRAY_SORT(ARRAY('b', NULL, 'a', 'c'))")
      .getSeq[String](0) == Seq("a", "b", "c", null))
    assert(one("SELECT ARRAY_SORT(ARRAY('b', NULL, 'a', 'c'), 'DESC')")
      .getSeq[String](0) == Seq("c", "b", "a", null))
    assert(one("SELECT ARRAY_SORT(ARRAY(3, 1, 2), 'desc')")
      .getSeq[Int](0) == Seq(3, 2, 1))
  }

  // ---- ENCODE ----

  test("ENCODE transcodes between utf8/hex/base64, lowercase hex out") {
    assert(one("SELECT ENCODE('abc', 'utf8', 'hex')").getString(0) ==
      "616263")
    assert(one("SELECT ENCODE('616263', 'hex', 'utf8')").getString(0) ==
      "abc")
    assert(one("SELECT ENCODE(ENCODE('graft', 'utf8', 'base64'), " +
      "'base64', 'utf8')").getString(0) == "graft")
    assert(one("SELECT ENCODE('YWJj', 'base64', 'hex')").getString(0) ==
      "616263")
  }

  // ---- AS_MAP / JSON / CORRELATION ----

  test("AS_MAP zips key and value arrays") {
    assert(one("SELECT AS_MAP(ARRAY('a', 'b'), ARRAY(1, 2))")
      .getMap[String, Int](0) == Map("a" -> 1, "b" -> 2))
  }

  test("SLICE takes ksql's inclusive 1-based end index, not a length") {
    assert(one("SELECT SLICE(ARRAY(10, 20, 30, 40, 50), 2, 4)")
      .getSeq[Int](0) == Seq(20, 30, 40))
    assert(one("SELECT SLICE(ARRAY('a', 'b', 'c'), 1, 1)")
      .getSeq[String](0) == Seq("a"))
  }

  test("JSON_ARRAY_CONTAINS compares JSON scalars, false for non-arrays") {
    assert(one("SELECT JSON_ARRAY_CONTAINS('[1, 2, 3]', 2)").getBoolean(0))
    assert(!one("SELECT JSON_ARRAY_CONTAINS('[1, 2, 3]', 4)").getBoolean(0))
    assert(one("SELECT JSON_ARRAY_CONTAINS('[\"a\", \"b\"]', 'b')")
      .getBoolean(0))
    assert(one("SELECT JSON_ARRAY_CONTAINS('[1.5, 2.5]', 2.5)")
      .getBoolean(0))
    assert(one("SELECT JSON_ARRAY_CONTAINS('[true, false]', false)")
      .getBoolean(0))
    // a JSON null matches a NULL search value, as in ksql
    assert(one("SELECT JSON_ARRAY_CONTAINS('[null]', " +
      "CAST(NULL AS STRING))").getBoolean(0))
    // not an array → false, not null/error
    assert(!one("SELECT JSON_ARRAY_CONTAINS('{\"a\": 1}', 1)")
      .getBoolean(0))
    assert(!one("SELECT JSON_ARRAY_CONTAINS('nonsense', 1)").getBoolean(0))
  }

  test("IS_JSON_STRING accepts objects/arrays/scalars, rejects junk") {
    assert(one("SELECT IS_JSON_STRING('{\"a\": 1}')").getBoolean(0))
    assert(one("SELECT IS_JSON_STRING('[1, 2]')").getBoolean(0))
    assert(!one("SELECT IS_JSON_STRING('{\"a\": 1')").getBoolean(0))
    assert(!one("SELECT IS_JSON_STRING(CAST(NULL AS STRING))")
      .getBoolean(0))
  }

  test("TO_JSON_STRING serializes structs and arrays") {
    assert(one("SELECT TO_JSON_STRING(NAMED_STRUCT('a', 1, 'b', 'x'))")
      .getString(0) == """{"a":1,"b":"x"}""")
    assert(one("SELECT TO_JSON_STRING(ARRAY(1, 2))").getString(0) ==
      "[1,2]")
  }

  test("CORRELATION maps to corr") {
    val r = one("SELECT CAST(ROUND(CORRELATION(x, y) * 100) AS INT) " +
      "FROM VALUES (1.0, 2.0), (2.0, 4.0), (3.0, 6.1) AS t(x, y)")
    assert(r.getInt(0) == 100)
  }

  // ---- time arithmetic ----

  test("FROM_UNIXTIME / UNIX_TIMESTAMP are millisecond-based, as in ksql") {
    assert(one("SELECT CAST(FROM_UNIXTIME(1000) AS STRING)")
      .getString(0) == "1970-01-01 00:00:01")
    assert(one("SELECT UNIX_TIMESTAMP(TIMESTAMP'1970-01-01 00:00:02')")
      .getLong(0) == 2000L)
    // round trip: ms in = ms out
    assert(one("SELECT UNIX_TIMESTAMP(FROM_UNIXTIME(123456789))")
      .getLong(0) == 123456789L)
    // 0-arg form = now in ms (sanity: within a plausible epoch range)
    val now = one("SELECT UNIX_TIMESTAMP()").getLong(0)
    assert(now > 1500000000000L)
  }

  test("DATEADD / DATESUB / TIMESTAMPSUB take ksql's (unit, n, t) form") {
    assert(one("SELECT CAST(DATEADD(DAYS, 5, DATE'2020-01-01') AS STRING)")
      .getString(0) == "2020-01-06")
    assert(one("SELECT CAST(DATESUB(MONTHS, 1, DATE'2020-03-15') AS STRING)")
      .getString(0) == "2020-02-15")
    assert(one("SELECT CAST(TIMESTAMPADD(HOURS, 2, " +
      "TIMESTAMP'2020-01-01 00:30:00') AS STRING)")
      .getString(0) == "2020-01-01 02:30:00")
    assert(one("SELECT CAST(TIMESTAMPSUB(MINUTES, 45, " +
      "TIMESTAMP'2020-01-01 01:00:00') AS STRING)")
      .getString(0) == "2020-01-01 00:15:00")
  }

  test("CONVERT_TZ uses ksql's (ts, from, to) argument order") {
    assert(one("SELECT CAST(CONVERT_TZ(TIMESTAMP'2020-06-01 12:00:00', " +
      "'UTC', 'America/New_York') AS STRING)")
      .getString(0) == "2020-06-01 08:00:00")
  }

  // ---- constructor syntax ----

  test("ksql ARRAY[..] / STRUCT(f := v) / MAP(k := v) constructors") {
    assert(one("SELECT ARRAY[1, 2, 3]").getSeq[Int](0) == Seq(1, 2, 3))
    // nested: an ARRAY inside a STRUCT value, dereferenced with ->
    val r = one("SELECT STRUCT(a := 1 + 1, xs := ARRAY[10, 20])->xs")
    assert(r.getSeq[Int](0) == Seq(10, 20))
    assert(one("SELECT STRUCT(nest := STRUCT(b := 'x'))->nest->b")
      .getString(0) == "x")
    val m = one("SELECT MAP('a' := 1, 'b' := 1 + 1)")
      .getMap[String, Int](0)
    assert(m == Map("a" -> 1, "b" -> 2))
    // a plain Spark map()/struct() call (no :=) is untouched
    assert(one("SELECT MAP('a', 7)").getMap[String, Int](0) ==
      Map("a" -> 7))
    // literals keep constructor-looking text
    assert(one("SELECT 'ARRAY[1]'").getString(0) == "ARRAY[1]")
    assert(one("SELECT 'f := v'").getString(0) == "f := v")
  }

  // ---- struct dereference ----

  test("ksql col->field struct access maps to Spark's dot, chains too") {
    val r = one("SELECT s->a + 1, s->nest->b FROM (SELECT " +
      "NAMED_STRUCT('a', 41, 'nest', NAMED_STRUCT('b', 'x')) AS s)")
    assert(r.getInt(0) == 42 && r.getString(1) == "x")
    // a lambda (ksql => spelling) coexists with struct arrows in one
    // statement — the two never collide
    val r2 = one("SELECT TRANSFORM(ARRAY(s), (e) => e->a) " +
      "FROM (SELECT NAMED_STRUCT('a', 7) AS s)")
    assert(r2.getSeq[Int](0) == Seq(7))
    // inside a literal, '->' is data
    assert(one("SELECT 'a->b'").getString(0) == "a->b")
  }

  // ---- arrow rewrite hygiene ----

  test("'=>' inside a string literal is untouched") {
    assert(one("SELECT 'a => b'").getString(0) == "a => b")
  }

  test("nested lambdas inside map-form bodies keep their own variables") {
    // the inner array lambda's variable (w) is distinct from the
    // outer map lambda's (k, v): the substitution rewrites only k/v
    val r = one("SELECT TRANSFORM(MAP('ab', ARRAY(1, 2)), " +
      "(k, v) => k, " +
      "(k, v) => TRANSFORM(v, (w) => w * LENGTH(k)))")
    assert(r.getMap[String, Seq[Int]](0) == Map("ab" -> Seq(2, 4)))
    // reduce over a map whose body nests an array reduce
    val r2 = one("SELECT REDUCE(MAP('x', ARRAY(1, 2), 'y', ARRAY(3)), " +
      "0, (s, k, v) => s + REDUCE(v, 0, (a, b) => a + b) + LENGTH(k))")
    assert(r2.getInt(0) == 8)
  }

  test("lambda variables do not capture columns of the same name") {
    // a column literally named x next to a lambda variable x: the
    // lambda binds its own variable; the outer column is untouched.
    // The subscript is ksql's — ONE-based.
    val r = one("SELECT TRANSFORM(ARRAY(10), (x) => x + 1)[1] + x " +
      "FROM VALUES (100) AS t(x)")
    assert(r.getInt(0) == 111)
  }

  // ---- ksql subscripts (dialect rewrite → try_element_at) ----

  test("ksql subscripts: 1-based, negative from the end, NULL on miss") {
    val r = one("SELECT ARRAY[10, 20, 30][1], ARRAY[10, 20, 30][-1], " +
      "ARRAY[10, 20, 30][7], MAP('a' := 1)['a'], MAP('a' := 1)['zz']")
    assert(r.getInt(0) == 10)
    assert(r.getInt(1) == 30)
    assert(r.isNullAt(2))
    assert(r.getInt(3) == 1)
    assert(r.isNullAt(4))
  }

  // ---- CHR / LEN / INSTR ----

  test("CHR decodes full UTF8 codepoints (not Spark's mod-256 chr)") {
    val r = one("SELECT CHR(75), CHR(22909), CHR('\\u004B'), LEN('héllo')")
    assert(r.getString(0) == "K")
    assert(r.getString(1) == "好")
    assert(r.getString(2) == "K")
    assert(r.getInt(3) == 5)
  }

  test("INSTR: 2-arg locate, position/occurrence forms, overlap, backward") {
    val r = one("SELECT INSTR('abcabc', 'bc'), " +
      "INSTR('abcabc', 'abc', 2), " +
      "INSTR('abcabc', 'abc', 1, 2), " +
      "INSTR('aaa', 'aa', 1, 2), " + // overlapping occurrences count
      "INSTR('abcabc', 'abc', -1), " +
      "INSTR('abcabc', 'abc', -1, 2), " +
      "INSTR('abcabc', 'abc', -4), " +
      "INSTR('abcabc', 'zz', 1)")
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 4)
    assert(r.getInt(2) == 4)
    assert(r.getInt(3) == 2)
    assert(r.getInt(4) == 4)
    assert(r.getInt(5) == 1)
    assert(r.getInt(6) == 1)
    assert(r.getInt(7) == 0)
  }

  test("INSTR matches indexOf/lastIndexOf reference across 300 cases") {
    // independent reference: commons-lang ordinalIndexOf semantics
    // spelled directly with Java indexOf/lastIndexOf stepping
    def refInstr(s: String, sub: String, pos: Int, occ: Int): Int =
      if (pos >= 0) {
        var from = math.max(pos - 1, 0)
        var found = -1
        (1 to occ).foreach { _ =>
          if (from <= s.length) {
            found = s.indexOf(sub, from)
            from = found + 1
          } else found = -1
          if (found < 0) return 0
        }
        found + 1
      } else {
        var from = s.length + pos
        var found = -1
        (1 to occ).foreach { _ =>
          if (from >= 0) {
            found = s.lastIndexOf(sub, from)
            from = found - 1
          } else found = -1
          if (found < 0) return 0
        }
        found + 1
      }
    val rnd = new scala.util.Random(91)
    def randStr(n: Int): String =
      (1 to n).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString
    val cases = (1 to 300).map { _ =>
      val s = randStr(rnd.nextInt(8) + 1)
      val sub = randStr(rnd.nextInt(3) + 1)
      val pos0 = rnd.nextInt(2 * s.length + 1) - s.length
      val pos = if (pos0 == 0) 1 else pos0
      val occ = rnd.nextInt(3) + 1
      (s, sub, pos, occ)
    }
    val values = cases
      .map { case (s, sub, p, o) => s"('$s', '$sub', $p, $o)" }
      .mkString(", ")
    val rows = GraftSql.sql(spark,
      s"SELECT s, sub, p, o, INSTR(s, sub, p, o) AS r " +
        s"FROM (VALUES $values) AS t(s, sub, p, o)").collect()
    rows.foreach { row =>
      val (s, sub, p, o) =
        (row.getString(0), row.getString(1), row.getInt(2), row.getInt(3))
      assert(row.getInt(4) == refInstr(s, sub, p, o),
        s"instr('$s', '$sub', $p, $o)")
    }
  }

  test("ksql subscripts: chains, nesting, struct paths, function bases") {
    assert(one("SELECT ARRAY[ARRAY[1, 2], ARRAY[3, 4]][2][1]")
      .getInt(0) == 3)
    assert(one("SELECT STRUCT(arr := ARRAY[5, 6])->arr[2]").getInt(0) == 6)
    assert(one("SELECT SPLIT('a-b-c', '-')[2]").getString(0) == "b")
    assert(one("SELECT MAP('k' := ARRAY[7, 8])['k'][ARRAY[2][1]]")
      .getInt(0) == 8)
  }

  // ---- shared-name supersets: ARRAY_JOIN 1-arg, ROUND's BIGINT ----

  test("ARRAY_JOIN defaults the delimiter to ',' like ksql; 2/3-arg unchanged") {
    val r = one("SELECT ARRAY_JOIN(ARRAY['a', 'b', 'c']), " +
      "ARRAY_JOIN(ARRAY['a', 'b'], '-'), " +
      "ARRAY_JOIN(ARRAY['a', NULL, 'c'], '-', 'x')")
    assert(r.getString(0) == "a,b,c")
    assert(r.getString(1) == "a-b")
    assert(r.getString(2) == "a-x-c")
  }

  test("ROUND(v) returns BIGINT (ksql); ROUND(v, n) keeps double") {
    val df = GraftSql.sql(spark,
      "SELECT ROUND(2.6) AS r1, ROUND(-2.5) AS r2, " +
        "ROUND(2.345e0, 2) AS r3")
    assert(df.schema("r1").dataType.typeName == "long")
    val r = df.collect().head
    assert(r.getLong(0) == 3L)
    // Math.round semantics: halves toward POSITIVE infinity (ksqlDB's
    // Round uses HALF_UP for positives, HALF_DOWN for negatives) —
    // Spark's own round() would give -3 here
    assert(r.getLong(1) == -2L)
    assert(math.abs(r.getDouble(2) - 2.35) < 1e-9)
  }

  test("ROUND edges: integral identity, Math.round boundary, sign split in 2-arg") {
    val r = GraftSql.sql(spark,
      // 2^53 + 1: a double can't hold it — identity must NOT detour
      // through DOUBLE (the r11 floor(v+0.5) spelling returned ...992)
      "SELECT ROUND(CAST(9007199254740993 AS BIGINT)) AS big, " +
        // largest double < 0.5: Math.round gives 0, but in double
        // arithmetic v + 0.5 rounds UP to 1.0 so floor(v+0.5) gave 1
        "ROUND(0.49999999999999994e0) AS boundary, " +
        // ksql's 2-arg form uses the SAME HALF_UP-positive /
        // HALF_DOWN-negative split as 1-arg: -2.55 at 1 place → -2.5
        // (Spark's round gives -2.6, half away from zero)
        "ROUND(-2.55e0, 1) AS neg2, ROUND(2.55e0, 1) AS pos2, " +
        // negative decimalPlaces round to tens/hundreds
        "ROUND(1250.0e0, -2) AS hundreds, " +
        "ROUND(CAST(7 AS INT)) AS int_id, ROUND(NULL) AS nul")
      .collect().head
    assert(r.getLong(0) == 9007199254740993L)
    assert(r.getLong(1) == 0L)
    assert(r.getDouble(2) == -2.5)
    assert(r.getDouble(3) == 2.6)
    assert(r.getDouble(4) == 1300.0) // HALF_UP at the tens boundary
    assert(r.getLong(5) == 7L)
    assert(r.isNullAt(6))
  }

  // ---- UUID / RANDOM ----

  test("UUID(): v4 shape; UUID(bytes) 16-byte reinterpretation; RANDOM() in [0,1)") {
    val r = one("SELECT UUID() AS u, RANDOM() AS rnd, " +
      "UUID(CAST('0123456789abcdef' AS BINARY)) AS ub, " +
      "UUID(CAST('abc' AS BINARY)) AS bad")
    assert(r.getString(0).matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"))
    val d = r.getDouble(1)
    assert(d >= 0.0 && d < 1.0)
    // 16 ASCII bytes '0123456789abcdef' as big-endian msb/lsb
    assert(r.getString(2) == "30313233-3435-3637-3839-616263646566")
    assert(r.isNullAt(3)) // wrong width → NULL, ksql's contract
  }

  test("spark.graft.randomSeed pins UUID()/RANDOM() for reproducible builds") {
    spark.conf.set("spark.graft.randomSeed", "42")
    try {
      def draw(): Seq[String] = GraftSql.sql(spark,
        "SELECT UUID() AS u, RANDOM() AS rnd FROM range(5)")
        .collect().toSeq.map(_.toString)
      val a = draw()
      val b = draw()
      assert(a == b, "seeded mode must reproduce identical draws")
      assert(a.distinct.size == 5, "per-row draws must still differ")
    } finally spark.conf.unset("spark.graft.randomSeed")
    // unseeded: two analyses draw different seeds
    val u1 = one("SELECT UUID()").getString(0)
    val u2 = one("SELECT UUID()").getString(0)
    assert(u1 != u2)
  }

  test("JSON_CONCAT accepts an untyped NULL literal operand (→ NULL)") {
    assert(one("SELECT JSON_CONCAT(NULL, '[1]')").isNullAt(0))
    assert(one("SELECT JSON_CONCAT('[1]', NULL, '[2]')").isNullAt(0))
  }

  // ---- multi-EXPLODE zip semantics ----

  test("two EXPLODEs zip in lockstep, shorter null-padded (ksql rule)") {
    val rows = GraftSql.sql(spark,
      "SELECT id, EXPLODE(SPLIT(a, ',')) AS x, EXPLODE(SPLIT(b, ',')) AS y " +
        "FROM (VALUES (1, 'p,q,r', 'u,v')) AS t(id, a, b)").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1),
      Option(r.getString(2)).orNull)).toSeq ==
      Seq((1, "p", "u"), (1, "q", "v"), (1, "r", null)))
  }

  test("three EXPLODEs + scalar columns; unaliased gets ksql_col_<pos>") {
    val df = GraftSql.sql(spark,
      "SELECT id, EXPLODE(ARRAY[1, 2]) AS e1, UPPER(tag) AS t, " +
        "EXPLODE(ARRAY['a']), EXPLODE(ARRAY[10, 20, 30]) AS e3 " +
        "FROM (VALUES (7, 'z')) AS t(id, tag)")
    // the zipped columns expand together at the FIRST explode's
    // position (inline's shape); aliases and ksql's generated
    // ksql_col_<position> names are preserved
    assert(df.columns.toSeq ==
      Seq("id", "e1", "ksql_col_3", "e3", "t"))
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(3)).toSeq == Seq(10, 20, 30))
    assert(rows.map(r => if (r.isNullAt(1)) 0 else r.getInt(1)).toSeq ==
      Seq(1, 2, 0))
    assert(rows.forall(r => r.getInt(0) == 7 && r.getString(4) == "Z"))
  }

  test("a single EXPLODE stays on Spark's native generator path") {
    val rows = GraftSql.sql(spark,
      "SELECT EXPLODE(SPLIT('x,y', ',')) AS v").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("x", "y"))
  }

  test("empty and null arrays explode to zero rows under the zip") {
    val rows = GraftSql.sql(spark,
      "SELECT EXPLODE(FILTER(ARRAY[1], (x) => x > 9)) AS a, " +
        "EXPLODE(CAST(NULL AS ARRAY<INT>)) AS b FROM (VALUES (0)) t(z)")
      .collect()
    assert(rows.isEmpty)
  }

  // ---- JSON_ITEMS ----

  test("JSON_ITEMS keeps each element's serialized-JSON form") {
    assert(one("""SELECT JSON_ITEMS('[1,"x",{"a":2},[3],null]')""")
      .getSeq[String](0) == Seq("1", "\"x\"", "{\"a\":2}", "[3]", "null"))
    assert(one("SELECT JSON_ITEMS('[]')").getSeq[String](0) == Seq.empty)
  }

  test("JSON_ITEMS: non-array, invalid, and SQL-NULL inputs → NULL") {
    assert(one("""SELECT JSON_ITEMS('{"a":1}')""").isNullAt(0))
    assert(one("SELECT JSON_ITEMS('nope[')").isNullAt(0))
    assert(one("SELECT JSON_ITEMS('42')").isNullAt(0))
    assert(one("SELECT JSON_ITEMS(NULL)").isNullAt(0)) // untyped NULL
  }

  // ---- AS_VALUE ----

  test("AS_VALUE is identity in the unified relational model") {
    val r = one("SELECT AS_VALUE(7 + 1) AS k, AS_VALUE('x') AS s")
    assert(r.getInt(0) == 8 && r.getString(1) == "x")
  }

  // ---- URL_EXTRACT_PARAMETER ----

  test("URL_EXTRACT_PARAMETER extracts and percent-decodes the value") {
    val url = "'https://h.io/p?a=1&b=x%20y&c='"
    assert(one(s"SELECT URL_EXTRACT_PARAMETER($url, 'a')")
      .getString(0) == "1")
    // ksql decodes via URI.getQuery before splitting — %20 → space
    assert(one(s"SELECT URL_EXTRACT_PARAMETER($url, 'b')")
      .getString(0) == "x y")
    // absent parameter → NULL
    assert(one(s"SELECT URL_EXTRACT_PARAMETER($url, 'zz')").isNullAt(0))
    // no query string at all → NULL
    assert(one("SELECT URL_EXTRACT_PARAMETER('https://h.io/p', 'a')")
      .isNullAt(0))
  }

  test("URL_EXTRACT_PARAMETER follows ksql's decode-then-split edges") {
    // a literal '+' in a value stays '+' (URI.getQuery does not touch
    // it); URLDecoder-based mappings would emit a space (ADVICE r12)
    assert(one("SELECT URL_EXTRACT_PARAMETER('https://h.io/p?t=a+b', 't')")
      .getString(0) == "a+b")
    // %26 ('&') decodes BEFORE the split, so it terminates the value —
    // and the decoded tail becomes its own pair
    val amp = "'https://h.io/p?a=1%262&z=9'"
    assert(one(s"SELECT URL_EXTRACT_PARAMETER($amp, 'a')").getString(0) == "1")
    assert(one(s"SELECT URL_EXTRACT_PARAMETER($amp, '2')").isNullAt(0))
    assert(one(s"SELECT URL_EXTRACT_PARAMETER($amp, 'z')").getString(0) == "9")
    // %3D ('=') decodes before the split too; ksql splits the pair on
    // EVERY '=' and only arity-2 pairs participate, so a=b=c (three
    // parts) is skipped — NULL alone, a later clean pair's value wins
    assert(one("SELECT URL_EXTRACT_PARAMETER('https://h.io/p?a=b%3Dc', 'a')")
      .isNullAt(0))
    assert(one("SELECT URL_EXTRACT_PARAMETER('https://h.io/p?a=b%3Dc&a=x', 'a')")
      .getString(0) == "x")
    // a name-matching pair of the wrong arity does NOT stop the scan
    assert(one("SELECT URL_EXTRACT_PARAMETER('https://h.io/p?a&a=2', 'a')")
      .getString(0) == "2")
    // valueless parameter (no '=') → NULL; explicit empty value → ''
    assert(one("SELECT URL_EXTRACT_PARAMETER('https://h.io/p?flag&a=1', 'flag')")
      .isNullAt(0))
    assert(one("SELECT URL_EXTRACT_PARAMETER('https://h.io/p?e=&a=1', 'e')")
      .getString(0) == "")
    // malformed URL → NULL, never an error
    assert(one("SELECT URL_EXTRACT_PARAMETER('ht tp://bad url^', 'a')")
      .isNullAt(0))
  }
}
