package graft.functions

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSql, SharedSpark}

/** ksqlDB builtin-function compatibility pack
  * ([[KsqlCompat]]): semantics of each mapping, the ksql-dialect
  * rewrite of the three divergent names (MASK/SPLIT/REGEXP_EXTRACT),
  * and the aggregates (HISTOGRAM cap, EARLIEST_BY_OFFSET, TOPK).
  * The whole pack, aggregates included, comes from the session
  * extension (the cluster-deployment injection path). */
class KsqlCompatSpec extends AnyFunSuite with SharedSpark {

  private def one(sql: String): Row = spark.sql(sql).collect().head
  private def oneKsql(sql: String): Row =
    GraftSql.sql(spark, sql).collect().head

  // ---- masking ----

  test("ksql_mask masks non-alphanumerics to '-' (vs Spark's keep)") {
    assert(one("SELECT ksql_mask('Ab1-x_9Z')").getString(0) == "Xxn-x-nX")
    // Spark's own mask keeps the others — proves the default differs
    assert(one("SELECT mask('Ab1-x_9Z')").getString(0) == "Xxn-x_nX")
    // explicit mask chars pass through with identical semantics
    assert(one("SELECT ksql_mask('Ab1-x', '*', '*', '#', NULL)")
      .getString(0) == "**#-*")
  }

  test("mask partials: keep/mask left/right, n beyond length, empty") {
    assert(one("SELECT mask_keep_left('Abc123', 2)").getString(0) == "Abxnnn")
    assert(one("SELECT mask_keep_right('Abc123', 2)").getString(0) == "Xxxn23")
    assert(one("SELECT mask_left('Abc123', 2)").getString(0) == "Xxc123")
    assert(one("SELECT mask_right('Abc123', 2)").getString(0) == "Abc1nn")
    assert(one("SELECT mask_keep_left('Ab', 5)").getString(0) == "Ab")
    assert(one("SELECT mask_right('Ab', 5)").getString(0) == "Xx")
    assert(one("SELECT mask_keep_left('', 3)").getString(0) == "")
  }

  // ---- strings ----

  test("ksql_split is literal, not regex") {
    assert(one("SELECT ksql_split('a.b.c', '.')").getSeq[String](0)
      == Seq("a", "b", "c"))
    assert(one("SELECT ksql_split('a||b', '||')").getSeq[String](0)
      == Seq("a", "b"))
    // trailing empty fields are kept (limit -1)
    assert(one("SELECT ksql_split('x,,', ',')").getSeq[String](0)
      == Seq("x", "", ""))
  }

  test("ksql_regexp_extract: pattern-first order, group defaults to 0") {
    assert(one("SELECT ksql_regexp_extract('(\\\\d+)', 'ab123cd')")
      .getString(0) == "123")
    assert(one("SELECT ksql_regexp_extract('([a-z]+)(\\\\d+)', 'ab123', 2)")
      .getString(0) == "123")
  }

  // ---- json / arrays ----

  test("extractjsonfield and json_keys") {
    assert(one("""SELECT extractjsonfield('{"k": 69, "s": "x"}', '$.k')""")
      .getString(0) == "69")
    assert(one("""SELECT json_keys('{"b": 1, "a": 2}')""").getSeq[String](0)
      == Seq("b", "a"))
  }

  test("array_length, entries(sorted), generate_series, field") {
    assert(one("SELECT array_length(array(1, 2, 3))").getInt(0) == 3)
    assert(one("SELECT array_length(cast(null as array<int>))").isNullAt(0))
    val entDf = spark.sql("SELECT entries(map('b', 2, 'a', 1), true) AS e")
    val ent = entDf.collect().head.getSeq[Row](0)
    assert(ent.map(r => (r.getString(0), r.getInt(1))) == Seq("a" -> 1, "b" -> 2))
    // ksql names the entry-struct fields K and V (so e->K resolves)
    assert(ent.head.schema.fieldNames.toSeq == Seq("K", "V"))
    assert(one("SELECT generate_series(2, 8, 3)").getSeq[Int](0) == Seq(2, 5, 8))
    assert(one("SELECT field('de', 'en', 'de', 'fr')").getInt(0) == 2)
    assert(one("SELECT field('xx', 'en', 'de')").getInt(0) == 0)
    assert(one("SELECT field(cast(null as string), 'en')").getInt(0) == 0)
  }

  test("json_records keeps serialized-JSON values; json_concat merges/concats/nulls") {
    val m = one("""SELECT json_records('{"a": "x", "n": 7, "o": {"b": 1}}')""")
      .getMap[String, String](0)
    // values stay SERIALIZED — quotes and braces intact (the part
    // get_json_object compositions cannot reproduce)
    assert(m == Map("a" -> "\"x\"", "n" -> "7", "o" -> "{\"b\":1}"), m)
    assert(one("SELECT json_records('[1,2]')").isNullAt(0))
    assert(one("SELECT json_records('not json')").isNullAt(0))
    // objects merge right-wins; variadic folds left
    assert(one("""SELECT json_concat('{"a":1,"b":2}', '{"b":3}')""")
      .getString(0) == "{\"a\":1,\"b\":3}")
    assert(one(
      """SELECT json_concat('{"a":1}', '{"b":2}', '{"a":9}')""")
      .getString(0) == "{\"a\":9,\"b\":2}")
    assert(one("SELECT json_concat('[1]', '[2,3]')").getString(0) == "[1,2,3]")
    // mixed kinds / scalars follow PG ||: non-arrays wrap into
    // 1-element arrays and everything concatenates (ksqlDB 0.28)
    assert(one("""SELECT json_concat('{"a":1}', '[1]')""")
      .getString(0) == """[{"a":1},1]""")
    assert(one("SELECT json_concat('1', '2')").getString(0) == "[1,2]")
    // n-ary is NOT a binary fold: the two objects stay separate
    assert(one("""SELECT json_concat('{"a":1}', '[1]', '{"b":2}')""")
      .getString(0) == """[{"a":1},1,{"b":2}]""")
    assert(one("""SELECT json_concat('"s"', 'null', '[2]')""")
      .getString(0) == """["s",null,2]""")
    // NULL only for SQL NULL or unparseable input
    assert(one("""SELECT json_concat('{"a":1}', 'not json')""").isNullAt(0))
    assert(one("""SELECT json_concat(cast(null as string), '[1]')""")
      .isNullAt(0))
  }

  test("to_bytes / from_bytes: hex (lowercase), base64, utf8, ascii") {
    assert(one("SELECT from_bytes(to_bytes('Hi!', 'utf8'), 'hex')")
      .getString(0) == "486921")
    assert(one("SELECT from_bytes(to_bytes('486921', 'hex'), 'utf8')")
      .getString(0) == "Hi!")
    assert(one("SELECT from_bytes(to_bytes('Hi!', 'utf8'), 'base64')")
      .getString(0) == "SGkh")
    assert(one("SELECT from_bytes(to_bytes('SGkh', 'base64'), 'ascii')")
      .getString(0) == "Hi!")
    // unsupported encoding is rejected at build time, ksql-style
    assertThrows[Exception](one("SELECT to_bytes('x', 'utf16')"))
  }

  test("int/bigint/double_from_bytes: big-endian decode; wrong width → null") {
    assert(one("SELECT int_from_bytes(to_bytes('0000002a', 'hex'))")
      .getInt(0) == 42)
    assert(one("SELECT int_from_bytes(to_bytes('ffffffff', 'hex'))")
      .getInt(0) == -1) // signed, like ksql's ByteBuffer.getInt
    assert(one("SELECT bigint_from_bytes(to_bytes('000000000000002a', 'hex'))")
      .getLong(0) == 42L)
    // IEEE-754 bit pattern of 1.5 is 0x3FF8000000000000
    assert(one("SELECT double_from_bytes(to_bytes('3ff8000000000000', 'hex'))")
      .getDouble(0) == 1.5)
    // wrong payload width → null (the record-error model), not a crash
    assert(one("SELECT int_from_bytes(to_bytes('2a', 'hex'))").isNullAt(0))
    assert(one("SELECT double_from_bytes(to_bytes('00', 'hex'))").isNullAt(0))
  }

  test("split_to_map: literal delimiters, last duplicate key wins") {
    val m = one("SELECT split_to_map('a:=1/b:=2/a:=3', '/', ':=')")
      .getMap[String, String](0)
    assert(m == Map("a" -> "3", "b" -> "2"))
    // entries without the kv delimiter are dropped
    assert(one("SELECT split_to_map('a:1/junk/b:2', '/', ':')")
      .getMap[String, String](0) == Map("a" -> "1", "b" -> "2"))
    // delimiters are literal (no regex): '.' splits on the dot itself
    assert(one("SELECT split_to_map('a.x|b.y', '|', '.')")
      .getMap[String, String](0) == Map("a" -> "x", "b" -> "y"))
    assert(one("SELECT split_to_map(cast(null as string), '/', ':')")
      .isNullAt(0))
  }

  test("ksql_regexp_extract_all: pattern-first, group defaults to 0") {
    assert(one("SELECT ksql_regexp_extract_all('\\\\d+', 'a1b22c333')")
      .getSeq[String](0) == Seq("1", "22", "333"))
    assert(one(
      "SELECT ksql_regexp_extract_all('([a-z])(\\\\d)', 'a1 b2', 2)")
      .getSeq[String](0) == Seq("1", "2"))
  }

  test("ksql_trunc: toward zero; 1-arg is BIGINT, 2-arg keeps decimals") {
    assert(one("SELECT ksql_trunc(3.9d)").getLong(0) == 3L)
    assert(one("SELECT ksql_trunc(-3.9d)").getLong(0) == -3L) // vs floor -4
    assert(one("SELECT ksql_trunc(1.239d, 2)").getDouble(0) == 1.23)
    assert(one("SELECT ksql_trunc(-1.239d, 2)").getDouble(0) == -1.23)
    // the dialect rewrite routes bare TRUNC( here (Spark's trunc is
    // the date one), and ROUND stays BIGINT-returning alongside it
    assert(oneKsql("SELECT TRUNC(CAST(-2.7 AS DOUBLE)) AS t, " +
      "ROUND(CAST(-2.7 AS DOUBLE)) AS r FROM (VALUES (1))")
      .toSeq == Seq(-2L, -3L))
  }

  test("format_date / parse_date round-trip") {
    assert(one("SELECT format_date(parse_date('11/03/2024', 'dd/MM/yyyy'), " +
      "'yyyy-MM-dd')").getString(0) == "2024-03-11")
  }

  test("array_concat / regexp_split_to_array / map_union") {
    assert(one("SELECT array_concat(array(1, 2), array(3))").getSeq[Int](0)
      == Seq(1, 2, 3))
    // ksql null semantics: one null → the other; both null → null
    assert(one("SELECT array_concat(cast(null as array<int>), array(7))")
      .getSeq[Int](0) == Seq(7))
    assert(one("SELECT array_concat(cast(null as array<int>), " +
      "cast(null as array<int>))").isNullAt(0))
    assert(one("SELECT regexp_split_to_array('a1b22c', '[0-9]+')")
      .getSeq[String](0) == Seq("a", "b", "c"))
    // duplicate keys take map2's value (Spark's map_concat would throw)
    val m = one("SELECT map_union(map('a', 1, 'b', 2), map('b', 9, 'c', 3))")
      .getMap[String, Int](0)
    assert(m == Map("a" -> 1, "b" -> 9, "c" -> 3))
    assert(one("SELECT map_union(cast(null as map<string,int>), map('x', 1))")
      .getMap[String, Int](0) == Map("x" -> 1))
  }

  // ---- time ----

  test("stringtotimestamp/timestamptostring round-trip in millis") {
    val ms = one("SELECT stringtotimestamp('2020-03-04 05:06:07', " +
      "'yyyy-MM-dd HH:mm:ss')").getLong(0)
    assert(ms == 1583298367000L)
    assert(one(s"SELECT timestamptostring($ms, 'yyyy-MM-dd HH:mm:ss')")
      .getString(0) == "2020-03-04 05:06:07")
    assert(one("SELECT datetostring(stringtodate('20200304', 'yyyyMMdd'), " +
      "'yyyy-MM-dd')").getString(0) == "2020-03-04")
  }

  test("3-arg time forms honor the timezone argument") {
    // 05:06 wall time in UTC+2 is 03:06 UTC → 2h less than the UTC parse
    val utcMs = one("SELECT stringtotimestamp('2020-03-04 05:06:00', " +
      "'yyyy-MM-dd HH:mm:ss')").getLong(0)
    val berlinMs = one("SELECT stringtotimestamp('2020-03-04 05:06:00', " +
      "'yyyy-MM-dd HH:mm:ss', 'Europe/Berlin')").getLong(0)
    // 05:06 Berlin wall time (UTC+1 in March) = 04:06 UTC — one hour
    // EARLIER than the same string parsed as UTC
    assert(utcMs - berlinMs == 3600000L)
    assert(one(s"SELECT timestamptostring($berlinMs, 'yyyy-MM-dd HH:mm:ss', " +
      "'Europe/Berlin')").getString(0) == "2020-03-04 05:06:00")
  }

  // ---- url ----

  test("url extraction family incl. port and no-port null") {
    val u = "'https://ex.com:8080/p/q?x=1&y=2#frag'"
    assert(one(s"SELECT url_extract_host($u)").getString(0) == "ex.com")
    assert(one(s"SELECT url_extract_path($u)").getString(0) == "/p/q")
    assert(one(s"SELECT url_extract_port($u)").getInt(0) == 8080)
    assert(one(s"SELECT url_extract_query($u)").getString(0) == "x=1&y=2")
    assert(one(s"SELECT url_extract_fragment($u)").getString(0) == "frag")
    assert(one(s"SELECT url_extract_protocol($u)").getString(0) == "https")
    assert(one("SELECT url_extract_port('https://ex.com/p')").isNullAt(0))
    assert(one("SELECT url_decode_param(url_encode_param('a b&c'))")
      .getString(0) == "a b&c")
  }

  // ---- geo ----

  test("geo_distance: KM default, MILES ratio, zero distance") {
    val km = one("SELECT geo_distance(40.7, -74.0, 51.5, -0.1)").getDouble(0)
    assert(km > 5560 && km < 5580, s"NY-London ~5570 km, got $km")
    val mi = one("SELECT geo_distance(40.7, -74.0, 51.5, -0.1, 'MILES')")
      .getDouble(0)
    assert(math.abs(mi / km - 3959.0 / 6371.0) < 1e-9)
    assert(one("SELECT geo_distance(10.0, 20.0, 10.0, 20.0)")
      .getDouble(0) == 0.0)
    val err = intercept[IllegalArgumentException] {
      spark.sql("SELECT geo_distance(1.0, 2.0, 3.0, 4.0, 'FURLONGS')")
        .collect()
    }
    assert(err.getMessage.contains("KM"))
  }

  // ---- aggregates ----

  test("count_distinct, topk, topkdistinct compose builtin aggregates") {
    import spark.implicits._
    Seq(1, 5, 5, 2, 9, 9, 9).toDF("x").createOrReplaceTempView("t_agg")
    val r = one("SELECT count_distinct(x), topk(x, 3), topkdistinct(x, 2) " +
      "FROM t_agg")
    assert(r.getLong(0) == 4L)
    assert(r.getSeq[Int](1) == Seq(9, 9, 9))
    assert(r.getSeq[Int](2) == Seq(9, 5))
  }

  test("histogram counts values, ignores nulls, caps distinct keys") {
    import spark.implicits._
    Seq("a", "b", "a", null, "a").toDF("v").createOrReplaceTempView("t_h")
    val m = one("SELECT histogram(v) FROM t_h").getMap[String, Long](0)
    assert(m == Map("a" -> 3L, "b" -> 1L))
    // cap: 1500 distinct keys in ONE partition (deterministic order) →
    // exactly the first 1000 tracked
    (0 until 1500).map(i => f"k$i%04d").toDF("v").coalesce(1)
      .createOrReplaceTempView("t_cap")
    val capped = one("SELECT cardinality(histogram(v)) FROM t_cap").getInt(0)
    assert(capped == HistogramAgg.Cap)
  }

  test("earliest_by_offset UDAF mirrors latest with min-offset pick") {
    import spark.implicits._
    Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("off", "v")
      .createOrReplaceTempView("t_eo")
    val r = one("SELECT earliest_by_offset(off, v), " +
      "latest_by_offset(off, v) FROM t_eo")
    assert(r.getString(0) == "a" && r.getString(1) == "c")
  }

  // ---- the ksql dialect rewrite ----

  test("GraftSql.sql runs bare ksql spellings of the divergent names") {
    assert(oneKsql("SELECT MASK('Ab1-x_9Z') AS m").getString(0) == "Xxn-x-nX")
    assert(oneKsql("SELECT SPLIT('a.b.c', '.') AS s").getSeq[String](0)
      == Seq("a", "b", "c"))
    assert(oneKsql("SELECT REGEXP_EXTRACT('(\\\\d+)', 'ab123cd') AS r")
      .getString(0) == "123")
  }

  test("dialect rewrite leaves literals, prefixed and partial names alone") {
    // inside a string literal: untouched
    assert(oneKsql("SELECT 'MASK(x)' AS s").getString(0) == "MASK(x)")
    // already-prefixed name: not double-rewritten
    assert(oneKsql("SELECT ksql_mask('Ab') AS m").getString(0) == "Xx")
    // MASK_KEEP_LEFT must not become ksql_mask_KEEP_LEFT
    assert(oneKsql("SELECT MASK_KEEP_LEFT('Abc123', 2) AS m")
      .getString(0) == "Abxnnn")
  }
}
