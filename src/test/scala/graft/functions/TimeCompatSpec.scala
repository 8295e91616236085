package graft.functions

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSql, SharedSpark}

/** The ksql `TIME` type surface ([[TimeCompat]]): `PARSE_TIME` /
  * `FORMAT_TIME` semantics over the INT millis-of-day wire format
  * (Kafka Connect `org.apache.kafka.connect.data.Time`), the midnight
  * bounds, and the NULL-on-error model — including the r11 audit edge
  * where a DATE-BEARING pattern (valid for `ofPattern`, invalid for a
  * `LocalTime`) throws `UnsupportedTemporalTypeException` /
  * `DateTimeException` rather than `DateTimeParseException` and must
  * still yield NULL instead of killing the query. */
class TimeCompatSpec extends AnyFunSuite with SharedSpark {

  private def one(sql: String): Row = GraftSql.sql(spark, sql).collect().head

  test("PARSE_TIME → INT millis-of-day; FORMAT_TIME round-trips it") {
    val r = one(
      "SELECT PARSE_TIME('14:30:15', 'HH:mm:ss') AS ms, " +
        "FORMAT_TIME(PARSE_TIME('14:30:15', 'HH:mm:ss'), 'HH:mm:ss') AS rt, " +
        "PARSE_TIME('02:05:09.123', 'HH:mm:ss.SSS') AS frac")
    assert(r.getInt(0) == ((14 * 3600 + 30 * 60 + 15) * 1000))
    assert(r.getString(1) == "14:30:15")
    assert(r.getInt(2) == ((2 * 3600 + 5 * 60 + 9) * 1000 + 123))
    // the column type IS the Connect wire format: int32
    assert(GraftSql.sql(spark, "SELECT PARSE_TIME('01:00:00', 'HH:mm:ss') t")
      .schema("t").dataType.typeName == "integer")
  }

  test("midnight bounds: 0 and 86399999 valid; -1 and 86400000 → NULL") {
    val r = one(
      "SELECT FORMAT_TIME(CAST(0 AS INT), 'HH:mm:ss') AS lo, " +
        "FORMAT_TIME(CAST(86399999 AS INT), 'HH:mm:ss.SSS') AS hi, " +
        "FORMAT_TIME(CAST(-1 AS INT), 'HH:mm:ss') AS neg, " +
        "FORMAT_TIME(CAST(86400000 AS INT), 'HH:mm:ss') AS over")
    assert(r.getString(0) == "00:00:00")
    assert(r.getString(1) == "23:59:59.999")
    assert(r.isNullAt(2) && r.isNullAt(3))
    // PARSE_TIME hits the same bounds from the string side
    val p = one("SELECT PARSE_TIME('00:00:00', 'HH:mm:ss') AS lo, " +
      "PARSE_TIME('23:59:59.999', 'HH:mm:ss.SSS') AS hi")
    assert(p.getInt(0) == 0 && p.getInt(1) == 86399999)
  }

  test("NULL-on-error: bad values, bad patterns, DATE-BEARING patterns") {
    val r = one(
      "SELECT PARSE_TIME('25:00:00', 'HH:mm:ss') AS bad_hour, " +
        "PARSE_TIME('not a time', 'HH:mm:ss') AS garbage, " +
        // ofPattern itself rejects: IllegalArgumentException path
        "PARSE_TIME('10:00', '{{{') AS bad_pattern, " +
        // valid pattern, but carries NO time fields: LocalTime.parse
        // throws DateTimeException (not DateTimeParseException)
        "PARSE_TIME('2020-01-01', 'yyyy-MM-dd') AS datey_parse, " +
        // valid pattern asking for DATE fields of a LocalTime:
        // UnsupportedTemporalTypeException from format — the r11 edge
        "FORMAT_TIME(CAST(3600000 AS INT), 'yyyy-MM-dd') AS datey_fmt, " +
        "FORMAT_TIME(CAST(3600000 AS INT), '{{{') AS bad_fmt_pattern")
    (0 to 5).foreach(i => assert(r.isNullAt(i), s"col $i should be NULL"))
    // and SQL NULL inputs propagate without evaluating anything
    val n = one("SELECT PARSE_TIME(NULL, 'HH:mm:ss') AS a, " +
      "FORMAT_TIME(CAST(NULL AS INT), 'HH:mm:ss') AS b")
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("non-literal format column: per-row patterns through the cache") {
    import spark.implicits._
    Seq(("08:15:00", "HH:mm:ss"), ("0915", "HHmm"), ("xx", "HH:mm:ss"))
      .toDF("s", "fmt").createOrReplaceTempView("fmt_rows")
    val rows = GraftSql.sql(spark,
      "SELECT PARSE_TIME(s, fmt) AS ms FROM fmt_rows ORDER BY s")
      .collect()
    assert(rows(0).getInt(0) == (8 * 3600 + 15 * 60) * 1000) // '08:15:00'
    assert(rows(1).getInt(0) == (9 * 3600 + 15 * 60) * 1000) // '0915'
    assert(rows(2).isNullAt(0))
  }
}
