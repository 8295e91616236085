package graft.functions

import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
  LambdaFunction, Literal, UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ksqlDB built-in function surface (ksqlDB 0.28 — the engine the
  * reference runs, reference docker-compose.yml:83), re-expressed as
  * FunctionRegistry builders that COMPOSE Spark's own builtin
  * expressions. Nothing here is a UDF: every builder returns a tree of
  * `UnresolvedFunction` nodes the analyzer resolves to native Catalyst
  * expressions, so the whole pack stays inside whole-stage codegen and
  * inherits pushdown/constant-folding like any builtin.
  *
  * Three ksql names collide with Spark builtins of DIFFERENT
  * semantics and are registered under a `ksql_` prefix instead:
  *
  *  - `MASK` — ksql masks non-alphanumerics to '-'; Spark's `mask`
  *    keeps them. `ksql_mask(s)` = `mask(s,'X','x','n','-')`; extra
  *    mask-char arguments pass through unchanged (same meaning in
  *    both engines).
  *  - `SPLIT` — ksql splits on a LITERAL delimiter; Spark's `split`
  *    takes a regex. `ksql_split` regex-escapes the delimiter first.
  *  - `REGEXP_EXTRACT` — ksql's argument order is (pattern, input
  *    [, group]); Spark's is (input, pattern, group).
  *
  * [[graft.GraftSql.sql]] rewrites the bare ksql spellings to the
  * prefixed names (outside string literals/comments/quoted
  * identifiers), so ksql statements run verbatim while plain
  * `spark.sql` keeps Spark-native behavior.
  *
  * Aggregates: `TOPK`/`TOPKDISTINCT`/`COUNT_DISTINCT`/`CORRELATION`
  * compose builtin aggregate expressions ([[aggregates]]); `HISTOGRAM`
  * (a map-valued aggregate with no builtin spelling) is the typed
  * [[HistogramAgg]]. All of them are entries of [[graft.FunctionTable]].
  */
object KsqlCompat {

  private def fn(name: String, args: Expression*): Expression =
    UnresolvedFunction(name, args, isDistinct = false)

  private def lit(v: Any): Expression = Literal(v)

  private def arity(name: String, usage: String, exprs: Seq[Expression],
                    min: Int, max: Int): Unit =
    if (exprs.length < min || exprs.length > max)
      throw new IllegalArgumentException(
        s"Invalid number of arguments for function $name: expected " +
          s"$usage, got ${exprs.length} argument(s)")

  /** ksql default MASK: uppercase→'X', lowercase→'x', digit→'n',
    * everything else→'-' (Spark's mask keeps "other" chars — the one
    * default that differs). */
  private def maskAll(e: Expression): Expression =
    fn("mask", e, lit("X"), lit("x"), lit("n"), lit("-"))

  /** Number of leading chars NOT masked by the _RIGHT variants:
    * max(length(s) - n, 0). */
  private def cutAt(s: Expression, n: Expression): Expression =
    fn("greatest", fn("-", fn("length", s), n), lit(0))

  private def literalString(name: String, e: Expression): String = e match {
    case Literal(u: UTF8String, StringType) => u.toString
    case other => throw new IllegalArgumentException(
      s"$name: expected a string literal argument, got $other")
  }

  /** (name, builder) for every compat scalar — this pack plus
    * [[KsqlCompatExt]]. [[graft.FunctionTable]] lists them. */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    base ++ KsqlCompatExt.builders

  /** (name, builder) for every compat aggregate. */
  val aggregates: Seq[(String, Seq[Expression] => Expression)] =
    baseAggregates ++ KsqlCompatExt.aggregates

  private lazy val base: Seq[(String, Seq[Expression] => Expression)] = Seq(

    // ---- masking (ksql defaults; extra mask chars pass through) ----
    "ksql_mask" -> { exprs =>
      arity("ksql_mask", "ksql_mask(str[, upper, lower, digit, other])",
        exprs, 1, 5)
      if (exprs.length == 1) maskAll(exprs.head) else fn("mask", exprs: _*)
    },
    "mask_keep_left" -> { exprs =>
      arity("mask_keep_left", "mask_keep_left(str, n)", exprs, 2, 2)
      val (s, n) = (exprs(0), exprs(1))
      fn("concat", fn("left", s, n),
        maskAll(fn("substring", s, fn("+", n, lit(1)))))
    },
    "mask_keep_right" -> { exprs =>
      arity("mask_keep_right", "mask_keep_right(str, n)", exprs, 2, 2)
      val (s, n) = (exprs(0), exprs(1))
      val cut = cutAt(s, n)
      fn("concat", maskAll(fn("substring", s, lit(1), cut)),
        fn("substring", s, fn("+", cut, lit(1))))
    },
    "mask_left" -> { exprs =>
      arity("mask_left", "mask_left(str, n)", exprs, 2, 2)
      val (s, n) = (exprs(0), exprs(1))
      fn("concat", maskAll(fn("left", s, n)),
        fn("substring", s, fn("+", n, lit(1))))
    },
    "mask_right" -> { exprs =>
      arity("mask_right", "mask_right(str, n)", exprs, 2, 2)
      val (s, n) = (exprs(0), exprs(1))
      val cut = cutAt(s, n)
      fn("concat", fn("substring", s, lit(1), cut),
        maskAll(fn("substring", s, fn("+", cut, lit(1)))))
    },

    // ---- strings ----
    "ksql_split" -> { exprs =>
      arity("ksql_split", "ksql_split(str, delimiter)", exprs, 2, 2)
      // literal-delimiter split: regex-escape every non-alphanumeric
      // char of the delimiter, then use the builtin regex split
      fn("split", exprs(0),
        fn("regexp_replace", exprs(1), lit("([^A-Za-z0-9])"), lit("\\\\$1")),
        lit(-1))
    },
    "ksql_regexp_extract" -> { exprs =>
      arity("ksql_regexp_extract",
        "ksql_regexp_extract(pattern, str[, group])", exprs, 2, 3)
      fn("regexp_extract", exprs(1), exprs(0),
        exprs.lift(2).getOrElse(lit(0)))
    },

    "regexp_split_to_array" -> { exprs =>
      arity("regexp_split_to_array", "regexp_split_to_array(str, pattern)",
        exprs, 2, 2)
      fn("split", exprs(0), exprs(1), lit(-1))
    },
    "array_concat" -> { exprs =>
      arity("array_concat", "array_concat(array1, array2)", exprs, 2, 2)
      // ksql: NULL if both NULL; one NULL → the other; else concat
      val (a, b) = (exprs(0), exprs(1))
      fn("if", fn("isnull", a), b,
        fn("if", fn("isnull", b), a, fn("concat", a, b)))
    },
    "map_union" -> { exprs =>
      arity("map_union", "map_union(map1, map2)", exprs, 2, 2)
      // ksql: duplicate keys take map2's value. Spark's map_concat
      // THROWS on duplicates (mapKeyDedupPolicy=EXCEPTION default), so
      // spell the right-wins merge from entry primitives: keep map1
      // entries whose key map2 lacks, then append map2's. The lambda
      // comes from the SQL parser (placeholders swapped for the real
      // argument expressions; lambda variables resolve in analysis).
      // The lambda variable carries the same collision-proof __graft_
      // prefix as the placeholders: a plain `e` would CAPTURE any
      // column literally named e referenced by the argument
      // expressions when ResolveLambdaVariables binds the body.
      val (m1, m2) = (exprs(0), exprs(1))
      val merged = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(
          "map_from_entries(concat(" +
            "filter(map_entries(__graft_m1), " +
            "__graft_e -> NOT array_contains(map_keys(__graft_m2), " +
            "__graft_e.key)), " +
            "map_entries(__graft_m2)))")
        .transformUp {
          // inside a lambda body the parser wraps names as candidate
          // lambda variables, so both node shapes must swap
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.name == "__graft_m1" => m1
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.name == "__graft_m2" => m2
          case v: org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable
              if v.nameParts == Seq("__graft_m1") => m1
          case v: org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable
              if v.nameParts == Seq("__graft_m2") => m2
        }
      fn("if", fn("isnull", m1), m2, fn("if", fn("isnull", m2), m1, merged))
    },

    // ---- JSON ----
    "extractjsonfield" -> { exprs =>
      arity("extractjsonfield", "extractjsonfield(json, jsonpath)", exprs, 2, 2)
      fn("get_json_object", exprs(0), exprs(1))
    },
    "json_keys" -> { exprs =>
      arity("json_keys", "json_keys(json)", exprs, 1, 1)
      fn("json_object_keys", exprs.head)
    },

    // ---- arrays / maps ----
    "array_length" -> { exprs =>
      arity("array_length", "array_length(array)", exprs, 1, 1)
      fn("size", exprs.head) // sizeOfNull=false default: null-in → null-out
    },
    "entries" -> { exprs =>
      arity("entries", "entries(map[, sorted])", exprs, 1, 2)
      // ksql names the entry-struct fields K and V (ksqlDB's Entries
      // UDF), so `e->K` in ported statements resolves; sorted=true →
      // sorted by key (struct sort = field order, K first)
      val en = UnresolvedNamedLambdaVariable(Seq("__graft_en"))
      def part(p: String) = UnresolvedNamedLambdaVariable(Seq("__graft_en", p))
      val e = fn("transform", fn("map_entries", exprs.head),
        LambdaFunction(
          fn("named_struct", lit("K"), part("key"), lit("V"), part("value")),
          Seq(en)))
      exprs.lift(1).fold(e)(sorted => fn("if", sorted, fn("sort_array", e), e))
    },
    "generate_series" -> { exprs =>
      arity("generate_series", "generate_series(start, end[, step])", exprs, 2, 3)
      fn("sequence", exprs: _*)
    },
    "field" -> { exprs =>
      arity("field", "field(str, arg1[, ...])", exprs, 2, Int.MaxValue)
      // 1-based position of str among the args; 0 when absent or null
      Cast(fn("coalesce",
        fn("array_position", fn("array", exprs.tail: _*), exprs.head),
        lit(0L)), IntegerType)
    },

    // ---- time (ksql's BIGINT-millis API + TIMESTAMP-typed forms) ----
    "stringtotimestamp" -> { exprs =>
      arity("stringtotimestamp",
        "stringtotimestamp(str, format[, timezone])", exprs, 2, 3)
      // 3-arg ksql form: the string is wall time in the given zone
      val parsed = fn("to_timestamp", exprs(0), exprs(1))
      val utc = exprs.lift(2).fold(parsed)(tz =>
        fn("to_utc_timestamp", parsed, tz))
      fn("unix_millis", utc)
    },
    "timestamptostring" -> { exprs =>
      arity("timestamptostring",
        "timestamptostring(millis, format[, timezone])", exprs, 2, 3)
      val ts = fn("timestamp_millis", exprs(0))
      val zoned = exprs.lift(2).fold(ts)(tz =>
        fn("from_utc_timestamp", ts, tz))
      fn("date_format", zoned, exprs(1))
    },
    "stringtodate" -> { exprs =>
      arity("stringtodate", "stringtodate(str, format)", exprs, 2, 2)
      fn("to_date", exprs(0), exprs(1))
    },
    "datetostring" -> { exprs =>
      arity("datetostring", "datetostring(date, format)", exprs, 2, 2)
      fn("date_format", exprs(0), exprs(1))
    },
    "format_timestamp" -> { exprs =>
      arity("format_timestamp", "format_timestamp(ts, format)", exprs, 2, 2)
      fn("date_format", exprs(0), exprs(1))
    },
    "parse_timestamp" -> { exprs =>
      arity("parse_timestamp", "parse_timestamp(str, format)", exprs, 2, 2)
      fn("to_timestamp", exprs(0), exprs(1))
    },

    // ---- URL (Java-URI semantics via parse_url) ----
    "url_extract_host" -> urlPart("url_extract_host", "HOST"),
    "url_extract_path" -> urlPart("url_extract_path", "PATH"),
    "url_extract_protocol" -> urlPart("url_extract_protocol", "PROTOCOL"),
    "url_extract_query" -> urlPart("url_extract_query", "QUERY"),
    "url_extract_fragment" -> urlPart("url_extract_fragment", "REF"),
    "url_extract_port" -> { exprs =>
      arity("url_extract_port", "url_extract_port(url)", exprs, 1, 1)
      // authority = host[:port]; empty extract → null, not an ANSI
      // cast failure
      Cast(fn("nullif",
        fn("regexp_extract", fn("parse_url", exprs.head, lit("AUTHORITY")),
          lit(":(\\d+)$"), lit(1)),
        lit("")), IntegerType)
    },
    "url_encode_param" -> { exprs =>
      arity("url_encode_param", "url_encode_param(str)", exprs, 1, 1)
      fn("url_encode", exprs.head)
    },
    "url_decode_param" -> { exprs =>
      arity("url_decode_param", "url_decode_param(str)", exprs, 1, 1)
      fn("url_decode", exprs.head)
    },
    "as_value" -> { exprs =>
      arity("as_value", "as_value(keyColumn)", exprs, 1, 1)
      // ksql: copies a KEY column into the VALUE of a CSAS result row.
      // This engine's relational model doesn't split key from value —
      // every column is a value column and keying is a property of the
      // sink/grouping — so the marker is an identity on the
      // expression; a ported statement keeps its meaning.
      exprs.head
    },
    "url_extract_parameter" -> { exprs =>
      arity("url_extract_parameter",
        "url_extract_parameter(url, parameter)", exprs, 2, 2)
      // ksql reads java.net.URI.getQuery() — the query decoded as a
      // WHOLE ('+' preserved) — then splits on & / =. A composed
      // url_decode(parse_url(...)) diverges on '+' (becomes space)
      // and on %26/%3D inside values (decode-after-split vs ksql's
      // split-after-decode), so this maps to a dedicated expression
      // that reproduces the decode-then-split pipeline exactly
      // ([[UrlExtractParameterKsql]]; ADVICE r12).
      UrlExtractParameterKsql(exprs.head, exprs(1))
    },

    // ---- geo ----
    "geo_distance" -> { exprs =>
      arity("geo_distance",
        "geo_distance(lat1, lon1, lat2, lon2[, 'KM'|'MILES'])", exprs, 4, 5)
      val radius = exprs.lift(4)
        .map(u => literalString("geo_distance", u).trim.toUpperCase match {
          case "KM" => 6371.0
          case "MILES" => 3959.0
          case other => throw new IllegalArgumentException(
            s"geo_distance: unit must be 'KM' or 'MILES', got '$other'")
        }).getOrElse(6371.0)
      val Seq(lat1, lon1, lat2, lon2) = exprs.take(4)
      def halfSin2(d: Expression): Expression = {
        val s = fn("sin", fn("/", fn("radians", d), lit(2.0)))
        fn("*", s, s)
      }
      val a = fn("+",
        halfSin2(fn("-", lat2, lat1)),
        fn("*", fn("*", fn("cos", fn("radians", lat1)),
          fn("cos", fn("radians", lat2))),
          halfSin2(fn("-", lon2, lon1))))
      fn("*", lit(2.0 * radius), fn("asin", fn("sqrt", a)))
    })

  // ---- aggregates composed from builtins ----
  private lazy val baseAggregates
      : Seq[(String, Seq[Expression] => Expression)] = Seq(
    "count_distinct" -> { exprs =>
      arity("count_distinct", "count_distinct(col)", exprs, 1, 1)
      UnresolvedFunction("count", exprs, isDistinct = true)
    },
    "topk" -> { exprs =>
      arity("topk", "topk(col, k)", exprs, 2, 2)
      fn("slice", fn("sort_array", fn("collect_list", exprs(0)), lit(false)),
        lit(1), exprs(1))
    },
    "topkdistinct" -> { exprs =>
      arity("topkdistinct", "topkdistinct(col, k)", exprs, 2, 2)
      fn("slice", fn("sort_array", fn("collect_set", exprs(0)), lit(false)),
        lit(1), exprs(1))
    })

  private def urlPart(name: String,
                      part: String): Seq[Expression] => Expression = { exprs =>
    arity(name, s"$name(url)", exprs, 1, 1)
    fn("parse_url", exprs.head, lit(part))
  }
}
