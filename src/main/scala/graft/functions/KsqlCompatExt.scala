package graft.functions

import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter,
  ArrayTransform, Cast, Expression, LambdaFunction, Literal, MapFilter,
  TimestampAdd, TransformKeys, TransformValues,
  UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.types.{DateType, DoubleType, StringType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Second ksqlDB 0.28 compat pack: the INVOCATION (lambda) functions
  * `TRANSFORM` / `FILTER` / `REDUCE`, plus the remaining collection /
  * codec scalars (`ARRAY_SORT`, `ENCODE`, `AS_MAP`, `TO_JSON_STRING`,
  * `IS_JSON_STRING`) and the `CORRELATION` aggregate. Same design
  * rules as [[KsqlCompat]]: every builder composes Spark's own
  * expressions — the higher-order functions are the SAME Catalyst
  * nodes (`ArrayTransform`, `ArrayFilter`, `MapFilter`,
  * `ArrayAggregate`) Spark's builtin `transform`/`filter`/`reduce`
  * resolve to, constructed directly (an `UnresolvedFunction` back onto
  * the registered name would recurse into this builder).
  *
  * All five clash-prone names are registered under a `ksql_` prefix
  * and reached through [[graft.ConnectorDdl.rewriteKsqlFunctionNames]]
  * (the ksql dialect of [[graft.GraftSql.sql]]):
  *
  *  - `TRANSFORM`/`FILTER`/`REDUCE` — Spark's namesakes are
  *    array-only; the ksql forms also take maps (`TRANSFORM(map, kl,
  *    vl)`, two-argument filter lambdas, three-argument reduce
  *    lambdas). The map forms rewrite the user's lambda variables to
  *    entry-field paths over `map_entries` (reduce) or a
  *    tuck-the-original-pair HOF chain (transform) — resolution then
  *    proceeds through Spark's ordinary `ResolveLambdaVariables`
  *    (which folds trailing `nameParts` into field extractions, so
  *    `k.x` keeps working).
  *    `FILTER` dispatches array-vs-map on the lambda's parameter
  *    count (1 vs 2) — the one signal available pre-analysis; the
  *    rewrite leaves aggregate `FILTER (WHERE …)` clauses alone.
  *  - `ARRAY_SORT` — ksql's optional second argument is an
  *    'ASC'/'DESC' string literal with nulls LAST either way; Spark's
  *    2-arg `array_sort` takes a comparator lambda. DESC is spelled
  *    as reverse(sort(non-nulls)) ++ nulls.
  *  - `ENCODE` — ksql's is a hex/utf8/ascii/base64 transcoder
  *    (literal-dispatched here, hex output lowercase per ksqlDB's
  *    `Encode` UDF); Spark's `encode` is a charset encoder.
  *
  * ksql spells lambdas `(x) => expr`; the dialect rewrite maps `=>` to
  * Spark's `->` (outside literals), after which Spark's parser
  * produces the `LambdaFunction` trees these builders consume.
  *
  * Known limit (documented, ksql-compatible in practice): lambda
  * parameter names are substituted by head-name match, so a nested
  * lambda re-declaring the SAME variable name inside a map-form body
  * would be captured — ksql itself rejects shadowed lambda variables.
  *
  * Reference anchor: ksqlDB 0.28 is the engine the reference deploys
  * (reference docker-compose.yml:83); its README's function surface is
  * the 0.28 builtin set.
  */
object KsqlCompatExt {

  private def fn(name: String, args: Expression*): Expression =
    UnresolvedFunction(name, args, isDistinct = false)

  private def lit(v: Any): Expression = Literal(v)

  private def lv(parts: String*): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(parts)

  private def arity(name: String, usage: String, exprs: Seq[Expression],
                    min: Int, max: Int): Unit =
    if (exprs.length < min || exprs.length > max)
      throw new IllegalArgumentException(
        s"Invalid number of arguments for function $name: expected " +
          s"$usage, got ${exprs.length} argument(s)")

  /** The parsed lambda argument, checked for the expected parameter
    * count(s). */
  private def requireLambda(name: String, e: Expression,
                            ns: Set[Int]): LambdaFunction = e match {
    case l: LambdaFunction if ns.contains(l.arguments.length) => l
    case l: LambdaFunction => throw new IllegalArgumentException(
      s"$name: lambda takes ${ns.mkString(" or ")} parameter(s), " +
        s"got ${l.arguments.length}")
    case other => throw new IllegalArgumentException(
      s"$name: expected a lambda argument (x) => ..., got $other")
  }

  /** Replace references to lambda parameters named in `mapping`
    * (case-insensitive head match) with the mapped name-parts prefix,
    * keeping any trailing field path — `v` → `__graft_e.value`,
    * `v.x` → `__graft_e.value.x`. Handles both node shapes a parsed
    * lambda body carries pre-analysis (the parser emits
    * `UnresolvedNamedLambdaVariable` for names inside lambda bodies;
    * programmatic callers may hold `UnresolvedAttribute`). */
  private def substVars(body: Expression,
                        mapping: Map[String, Seq[String]]): Expression = {
    def remap(parts: Seq[String]): Option[Seq[String]] =
      mapping.get(parts.head.toLowerCase).map(_ ++ parts.tail)
    body.transformUp {
      case v: UnresolvedNamedLambdaVariable =>
        remap(v.nameParts).map(UnresolvedNamedLambdaVariable(_)).getOrElse(v)
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        remap(a.nameParts).map(UnresolvedNamedLambdaVariable(_)).getOrElse(a)
    }
  }

  private def literalString(name: String, e: Expression): String = e match {
    case Literal(u: UTF8String, StringType) => u.toString
    case other => throw new IllegalArgumentException(
      s"$name: expected a string literal argument, got $other")
  }

  /** str|binary → binary for ksql_encode's input encoding. */
  private def decodeTo(name: String, e: Expression, enc: String): Expression =
    enc.toLowerCase match {
      case "utf8" => fn("encode", e, lit("UTF-8"))
      case "ascii" => fn("encode", e, lit("US-ASCII"))
      case "hex" => fn("unhex", e)
      case "base64" => fn("unbase64", e)
      case other => throw new IllegalArgumentException(
        s"$name: unsupported encoding '$other' " +
          "(hex, utf8, ascii, base64)")
    }

  /** binary → str for ksql_encode's output encoding. */
  private def encodeFrom(name: String, bin: Expression,
                         enc: String): Expression =
    enc.toLowerCase match {
      case "utf8" => fn("decode", bin, lit("UTF-8"))
      case "ascii" => fn("decode", bin, lit("US-ASCII"))
      case "hex" => fn("lower", fn("hex", bin)) // ksql emits lowercase hex
      case "base64" => fn("base64", bin)
      case other => throw new IllegalArgumentException(
        s"$name: unsupported encoding '$other' " +
          "(hex, utf8, ascii, base64)")
    }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(

    // ---- invocation (lambda) functions ----
    "ksql_transform" -> { exprs =>
      arity("transform",
        "transform(array, (x) => ...) or " +
          "transform(map, (k,v) => newKey, (k,v) => newVal)", exprs, 2, 3)
      if (exprs.length == 2)
        ArrayTransform(exprs(0), requireLambda("transform", exprs(1), Set(1)))
      else {
        val kl = requireLambda("transform", exprs(1), Set(2))
        val vl = requireLambda("transform", exprs(2), Set(2))
        // Both lambdas see the ORIGINAL (k, v). The analyzer requires
        // a lambda-bearing call to resolve to a HigherOrderFunction
        // NODE (Analyzer.ResolveFunctions, NON_HIGHER_ORDER_FUNCTION),
        // so the composition must END on a HOF — a
        // map_from_entries(transform(...)) spelling is rejected.
        // Chain three map HOFs instead: tuck the original (k, v) into
        // the value as a struct, rewrite the keys, then rewrite the
        // values from the preserved originals.
        val names = Seq(kl, vl).map(_.arguments.map {
          case u: UnresolvedNamedLambdaVariable =>
            u.nameParts.head.toLowerCase
          case other => throw new IllegalArgumentException(
            s"unexpected lambda parameter shape: $other")
        })
        val tucked = TransformValues(exprs(0),
          LambdaFunction(
            fn("named_struct", lit("key"), lv("__graft_k1"),
              lit("value"), lv("__graft_v1")),
            Seq(lv("__graft_k1"), lv("__graft_v1"))))
        val keyed = TransformKeys(tucked,
          LambdaFunction(
            substVars(kl.function, Map(
              names(0)(0) -> Seq("__graft_k2"),
              names(0)(1) -> Seq("__graft_e2", "value"))),
            Seq(lv("__graft_k2"), lv("__graft_e2"))))
        TransformValues(keyed,
          LambdaFunction(
            substVars(vl.function, Map(
              names(1)(0) -> Seq("__graft_e3", "key"),
              names(1)(1) -> Seq("__graft_e3", "value"))),
            Seq(lv("__graft_nk3"), lv("__graft_e3"))))
      }
    },
    "ksql_filter" -> { exprs =>
      arity("filter",
        "filter(array, (x) => bool) or filter(map, (k,v) => bool)",
        exprs, 2, 2)
      requireLambda("filter", exprs(1), Set(1, 2)) match {
        case l if l.arguments.length == 1 => ArrayFilter(exprs(0), l)
        case l => MapFilter(exprs(0), l)
      }
    },
    "ksql_reduce" -> { exprs =>
      arity("reduce",
        "reduce(array, init, (s,x) => ...) or " +
          "reduce(map, init, (s,k,v) => ...)", exprs, 3, 3)
      requireLambda("reduce", exprs(2), Set(2, 3)) match {
        case l if l.arguments.length == 2 =>
          ArrayAggregate(exprs(0), exprs(1), l, LambdaFunction.identity)
        case l =>
          // (s, k, v) → (s, __graft_e) over map_entries; the state
          // variable keeps the user's own name/instance
          val s = l.arguments.head
          val Seq(_, k, v) = l.arguments.map {
            case u: UnresolvedNamedLambdaVariable => u.nameParts.head.toLowerCase
            case other => throw new IllegalArgumentException(
              s"unexpected lambda parameter shape: $other")
          }
          ArrayAggregate(fn("map_entries", exprs(0)), exprs(1),
            LambdaFunction(
              substVars(l.function, Map(k -> Seq("__graft_e", "key"),
                v -> Seq("__graft_e", "value"))),
              Seq(s, lv("__graft_e"))),
            LambdaFunction.identity)
      }
    },

    // ---- collection / codec scalars ----
    "ksql_array_sort" -> { exprs =>
      arity("array_sort", "array_sort(array[, 'ASC'|'DESC'])", exprs, 1, 2)
      val dir = exprs.lift(1).map(literalString("array_sort", _).toUpperCase)
        .getOrElse("ASC")
      dir match {
        case "ASC" => fn("array_sort", exprs.head) // nulls last, ksql's order
        case "DESC" =>
          // ksql keeps nulls LAST for DESC too; Spark's sort_array(_,
          // false) puts them first — split, sort, reassemble
          val nonNull = ArrayFilter(exprs.head,
            LambdaFunction(fn("isnotnull", lv("__graft_x")),
              Seq(lv("__graft_x"))))
          val nulls = ArrayFilter(exprs.head,
            LambdaFunction(fn("isnull", lv("__graft_y")),
              Seq(lv("__graft_y"))))
          fn("concat", fn("reverse", fn("array_sort", nonNull)), nulls)
        case other => throw new IllegalArgumentException(
          s"array_sort: direction must be 'ASC' or 'DESC', got '$other'")
      }
    },
    "ksql_encode" -> { exprs =>
      arity("encode", "encode(str, inputEncoding, outputEncoding)",
        exprs, 3, 3)
      encodeFrom("encode",
        decodeTo("encode", exprs(0), literalString("encode", exprs(1))),
        literalString("encode", exprs(2)))
    },
    "as_map" -> { exprs =>
      arity("as_map", "as_map(keys, values)", exprs, 2, 2)
      fn("map_from_arrays", exprs(0), exprs(1))
    },

    // ---- bytes codecs / string-map / regex-all / date formatting ----
    // ksql's BYTES string API: TO_BYTES parses a string representation
    // into bytes, FROM_BYTES renders bytes back (lowercase hex, per
    // ksqlDB's BytesUtils — the same convention ksql_encode follows).
    "to_bytes" -> { exprs =>
      arity("to_bytes", "to_bytes(str, encoding)", exprs, 2, 2)
      decodeTo("to_bytes", exprs(0), literalString("to_bytes", exprs(1)))
    },
    "from_bytes" -> { exprs =>
      arity("from_bytes", "from_bytes(bytes, encoding)", exprs, 2, 2)
      encodeFrom("from_bytes", exprs(0), literalString("from_bytes", exprs(1)))
    },
    "split_to_map" -> { exprs =>
      arity("split_to_map", "split_to_map(str, entryDelim, kvDelim)",
        exprs, 3, 3)
      // ksql: LITERAL delimiters (same regex-escape as ksql_split);
      // entries without the kv delimiter are dropped; a key present
      // multiple times keeps its LATEST value. Spark's str_to_map is
      // regex-delimited and throws on duplicate keys (ANSI
      // mapKeyDedupPolicy), so the merge is spelled from primitives:
      // reverse the entry list, then keep only each key's FIRST
      // (= originally last) entry before map_from_entries.
      val (s, ed, kd) = (exprs(0), exprs(1), exprs(2))
      val escaped =
        fn("regexp_replace", ed, lit("([^A-Za-z0-9])"), lit("\\\\$1"))
      def keyOf(e: Expression): Expression =
        fn("substring", e, lit(1), fn("-", fn("locate", kd, e), lit(1)))
      def valOf(e: Expression): Expression =
        fn("substring", e, fn("+", fn("locate", kd, e), fn("length", kd)))
      val x = lv("__graft_x")
      val withKv = ArrayFilter(fn("split", s, escaped, lit(-1)),
        LambdaFunction(fn(">", fn("locate", kd, x), lit(0)), Seq(x)))
      val rev = fn("reverse", withKv)
      val k = lv("__graft_k")
      val keys = ArrayTransform(rev, LambdaFunction(keyOf(k), Seq(k)))
      val e2 = lv("__graft_e")
      val i2 = lv("__graft_i")
      val firstOcc = ArrayFilter(rev, LambdaFunction(
        fn("=", fn("array_position", keys, keyOf(e2)), fn("+", i2, lit(1))),
        Seq(e2, i2)))
      val q = lv("__graft_q")
      fn("map_from_entries", ArrayTransform(firstOcc,
        LambdaFunction(fn("struct", keyOf(q), valOf(q)), Seq(q))))
    },
    "ksql_regexp_extract_all" -> { exprs =>
      // ksql argument order is (pattern, input[, group]) with group
      // defaulting to 0 — Spark's namesake is (input, pattern[, idx])
      // defaulting idx to 1, hence the prefix + dialect rewrite.
      arity("ksql_regexp_extract_all",
        "ksql_regexp_extract_all(pattern, str[, group])", exprs, 2, 3)
      fn("regexp_extract_all", exprs(1), exprs(0),
        exprs.lift(2).getOrElse(lit(0)))
    },
    "format_date" -> { exprs =>
      arity("format_date", "format_date(date, format)", exprs, 2, 2)
      fn("date_format", exprs(0), exprs(1))
    },
    "parse_date" -> { exprs =>
      arity("parse_date", "parse_date(str, format)", exprs, 2, 2)
      fn("to_date", exprs(0), exprs(1))
    },
    // ksql TIME type surface: TIME is INT millis-of-day in this engine
    // (the Connect wire format — see [[graft.functions.TimeCompat]])
    "parse_time" -> { exprs =>
      arity("parse_time", "parse_time(str, format)", exprs, 2, 2)
      ParseTime(exprs(0), exprs(1))
    },
    "format_time" -> { exprs =>
      arity("format_time", "format_time(time, format)", exprs, 2, 2)
      FormatTime(exprs(0), exprs(1))
    },
    "ksql_trunc" -> { exprs =>
      // ksql numeric TRUNC (toward zero): 1-arg form yields BIGINT
      // (like ROUND); 2-arg form truncates to decimalPlaces and stays
      // DOUBLE. Spark's only trunc is the date one — the dialect
      // rewrite routes bare TRUNC( here.
      arity("trunc", "trunc(value[, decimalPlaces])", exprs, 1, 2)
      val v = exprs.head
      def toZero(scaled: Expression): Expression =
        fn("if", fn(">=", v, lit(0)), fn("floor", scaled), fn("ceil", scaled))
      if (exprs.length == 1) toZero(v)
      else {
        val p = fn("power", lit(10.0), exprs(1))
        fn("/", Cast(toZero(fn("*", v, p)), DoubleType), p)
      }
    },

    "ksql_slice" -> { exprs =>
      arity("slice", "slice(array, from, to)", exprs, 3, 3)
      // ksql's third argument is the INCLUSIVE 1-based end index;
      // Spark's slice takes a LENGTH
      fn("slice", exprs(0), exprs(1),
        fn("+", fn("-", exprs(2), exprs(1)), lit(1)))
    },

    // ---- JSON ----
    "json_array_contains" -> { exprs =>
      arity("json_array_contains", "json_array_contains(jsonArray, value)",
        exprs, 2, 2)
      // Compare each element's JSON-scalar string form (via
      // get_json_object, which strips quotes) against the search
      // value's string form. A NULL search value matches JSON nulls —
      // get_json_object renders those as the string 'null', which a
      // genuine "null" STRING element also produces; that ambiguity
      // is inherent to the scalar-form comparison and documented.
      // Non-arrays → false, as in ksql.
      val i = lv("__graft_i")
      val e = lv("__graft_el")
      val items = ArrayTransform(
        fn("sequence", lit(0),
          fn("-", fn("json_array_length", exprs(0)), lit(1))),
        LambdaFunction(
          fn("get_json_object", exprs(0),
            fn("concat", lit("$["), Cast(i, StringType), lit("]"))),
          Seq(i)))
      val needle = Cast(exprs(1), StringType)
      fn("coalesce",
        fn("exists", items,
          LambdaFunction(
            fn("or", fn("equal_null", e, needle),
              fn("and", fn("isnull", needle), fn("equal_null", e,
                lit("null")))), Seq(e))),
        lit(false))
    },
    "int_from_bytes" -> { exprs =>
      arity("int_from_bytes", "int_from_bytes(bytes)", exprs, 1, 1)
      NumFromBytes(exprs.head, org.apache.spark.sql.types.IntegerType)
    },
    "bigint_from_bytes" -> { exprs =>
      arity("bigint_from_bytes", "bigint_from_bytes(bytes)", exprs, 1, 1)
      NumFromBytes(exprs.head, org.apache.spark.sql.types.LongType)
    },
    "double_from_bytes" -> { exprs =>
      arity("double_from_bytes", "double_from_bytes(bytes)", exprs, 1, 1)
      NumFromBytes(exprs.head, org.apache.spark.sql.types.DoubleType)
    },
    "json_records" -> { exprs =>
      arity("json_records", "json_records(json)", exprs, 1, 1)
      JsonRecords(exprs.head)
    },
    "json_items" -> { exprs =>
      arity("json_items", "json_items(jsonArray)", exprs, 1, 1)
      JsonItems(exprs.head)
    },
    "json_concat" -> { exprs =>
      // variadic in ksql; the wrap rule makes n-ary NOT a binary fold
      arity("json_concat", "json_concat(json, json[, ...])",
        exprs, 2, Int.MaxValue)
      JsonConcat(exprs)
    },
    "to_json_string" -> { exprs =>
      arity("to_json_string", "to_json_string(struct|map|array)", exprs, 1, 1)
      fn("to_json", exprs.head) // complex types; ksql also accepts
      // primitives, which Spark's to_json rejects — documented limit
    },
    "is_json_string" -> { exprs =>
      arity("is_json_string", "is_json_string(str)", exprs, 1, 1)
      fn("isnotnull", fn("try_parse_json", exprs.head))
    },

    // ---- time arithmetic (ksql is MILLISECOND-based where Spark is
    // second-based, and its DATEADD/DATESUB are 3-arg — both reached
    // through the dialect rewrite under ksql_ prefixes) ----
    "ksql_from_unixtime" -> { exprs =>
      arity("from_unixtime", "from_unixtime(milliseconds)", exprs, 1, 1)
      fn("timestamp_millis", exprs.head) // ksql: ms → TIMESTAMP;
      // Spark's namesake is seconds → formatted STRING
    },
    "ksql_unix_timestamp" -> { exprs =>
      arity("unix_timestamp", "unix_timestamp([timestamp])", exprs, 0, 1)
      // ksql: BIGINT milliseconds (of now when no argument); Spark's
      // namesake returns SECONDS
      fn("unix_millis",
        if (exprs.isEmpty) fn("current_timestamp") else exprs.head)
    },
    "ksql_dateadd" -> { exprs =>
      arity("dateadd", "dateadd(unit, n, date)", exprs, 3, 3)
      // ksql returns DATE for date input; Spark's dateadd is the
      // 2-arg date_add — different function entirely
      Cast(TimestampAdd(unitName("dateadd", exprs.head),
        exprs(1), Cast(exprs(2), TimestampType)), DateType)
    },
    "ksql_datesub" -> { exprs =>
      arity("datesub", "datesub(unit, n, date)", exprs, 3, 3)
      Cast(TimestampAdd(unitName("datesub", exprs.head),
        fn("negative", exprs(1)), Cast(exprs(2), TimestampType)), DateType)
    },
    "ksql_timestampadd" -> { exprs =>
      arity("timestampadd", "timestampadd(unit, n, timestamp)", exprs, 3, 3)
      // Spark's own TIMESTAMPADD grammar takes only SINGULAR unit
      // tokens; ksql spells HOURS/DAYS — the dialect rewrite quotes
      // the unit into this builder for both spellings
      TimestampAdd(unitName("timestampadd", exprs.head),
        exprs(1), exprs(2))
    },
    "timestampsub" -> { exprs =>
      arity("timestampsub", "timestampsub(unit, n, timestamp)", exprs, 3, 3)
      TimestampAdd(unitName("timestampsub", exprs.head),
        fn("negative", exprs(1)), exprs(2))
    },
    "convert_tz" -> { exprs =>
      arity("convert_tz", "convert_tz(ts, fromZone, toZone)", exprs, 3, 3)
      // ksql argument order is (ts, from, to); Spark's builtin is
      // (from, to, ts)
      fn("convert_timezone", exprs(1), exprs(2), exprs(0))
    },

    // ---- remaining ksql string scalars whose Spark namesake differs ----
    "ksql_chr" -> { exprs =>
      arity("chr", "chr(codepoint | '\\uXXXX')", exprs, 1, 1)
      exprs.head match {
        case Literal(u: UTF8String, StringType) =>
          // ksql's string form: a Java-unicode-escape spelling,
          // decodable at build time
          val decoded = """\\u([0-9A-Fa-f]{4})""".r.replaceAllIn(
            u.toString, m => Integer.parseInt(m.group(1), 16).toChar.toString)
          lit(decoded)
        case e =>
          // ksql CHR is a full UTF8-codepoint decoder (CHR(22909) =
          // '好'); Spark's chr/char is mod-256 ASCII. Decode the
          // codepoint exactly: int → 8-hex → 4 bytes → UTF-32
          // (BOM-less Java UTF-32 reads big-endian, matching hex).
          fn("decode",
            fn("to_binary", fn("lpad", fn("hex", e), lit(8), lit("0")),
              lit("hex")),
            lit("UTF-32"))
      }
    },
    "ksql_instr" -> { exprs =>
      arity("instr", "instr(str, substr[, position[, occurrence]])",
        exprs, 2, 4)
      val s = exprs(0)
      val sub = exprs(1)
      if (exprs.length == 2) fn("locate", sub, s)
      else {
        // ksql's 3/4-arg INSTR (commons-lang ordinalIndexOf
        // semantics: occurrences may OVERLAP — instr('aaa','aa',1,2)
        // is 2, which rules out any split-based counting). Enumerate
        // every occurrence start once, then pick: positive position →
        // nth hit at or after it; negative → nth hit counting
        // backward among starts ≤ length+pos+1 (search "backwards
        // from the end"). All builtin HOFs — stays codegen-friendly.
        val pos = exprs(2)
        val occ = if (exprs.length == 4) exprs(3) else lit(1)
        val n = fn("length", s)
        val m = fn("length", sub)
        val span = fn("+", fn("-", n, m), lit(1))
        // sequence(1, max(span,1)) sliced to max(span,0) — Spark's
        // sequence would DESCEND for span < 1, so clamp then trim
        val starts = fn("slice",
          fn("sequence", lit(1), fn("greatest", span, lit(1))),
          lit(1), fn("greatest", span, lit(0)))
        val i1 = lv("__graft_i1")
        val all = fn("filter", starts,
          LambdaFunction(fn("=", fn("substring", s, i1, m), sub), Seq(i1)))
        val i2 = lv("__graft_i2")
        val i3 = lv("__graft_i3")
        val hits = fn("if", fn(">=", pos, lit(0)),
          fn("filter", all,
            LambdaFunction(fn(">=", i2, pos), Seq(i2))),
          fn("reverse", fn("filter", all,
            LambdaFunction(
              fn("<=", i3, fn("+", fn("+", n, pos), lit(1))), Seq(i3)))))
        fn("coalesce", fn("try_element_at", hits, occ), lit(0))
      }
    },

    // ---- shared-name SUPERSETS (override Spark's registration with
    // compatible semantics: extra ksql arities only) ----
    "array_join" -> { exprs =>
      arity("array_join", "array_join(array[, delimiter[, nullRepl]])",
        exprs, 1, 3)
      // ksql's 1-arg form defaults the delimiter to ',' — Spark's
      // builtin requires it. 2/3-arg forms are identical; constructed
      // DIRECTLY (an UnresolvedFunction back onto this name would
      // re-enter this builder forever).
      new org.apache.spark.sql.catalyst.expressions.ArrayJoin(
        exprs(0),
        if (exprs.length >= 2) exprs(1) else lit(","),
        if (exprs.length == 3) Some(exprs(2)) else None)
    },
    "ksql_round" -> { exprs =>
      arity("round", "round(value[, decimalPlaces])", exprs, 1, 2)
      // ksql ROUND rounds halves toward POSITIVE infinity in both
      // arities (HALF_UP for positives, HALF_DOWN for negatives:
      // ROUND(-2.5) = -2, ROUND(-2.55, 1) = -2.5) and its integral
      // 1-arg overload is identity. Spark's round (half away from
      // zero, type-preserving) matches neither, so both arities go to
      // the native [[KsqlRound1]]/[[KsqlRound2]] expressions — exact
      // on BIGINTs beyond 2^53 and at the Math.round double boundary.
      if (exprs.length == 2)
        KsqlRound2(exprs(0),
          Cast(exprs(1), org.apache.spark.sql.types.IntegerType))
      else KsqlRound1(exprs.head)
    },

    // ---- nondeterministic scalars ----
    "uuid" -> { exprs =>
      // ksql UUID() → random v4 string; UUID(bytes) → 16-byte
      // reinterpretation ([[UuidFromBytes]]). Constructed DIRECTLY on
      // Spark's Uuid expression (an UnresolvedFunction back onto
      // "uuid" would re-enter this builder forever); with no seed the
      // analyzer's ResolveRandomSeed assigns one per query, exactly as
      // for the builtin. `spark.graft.randomSeed` pins it (seeded
      // deterministic mode — reproducible corpus builds).
      arity("uuid", "uuid([bytes])", exprs, 0, 1)
      if (exprs.length == 1) UuidFromBytes(exprs.head)
      else org.apache.spark.sql.catalyst.expressions.Uuid(graftSeed())
    },
    "random" -> { exprs =>
      // ksql RANDOM() → DOUBLE in [0, 1), Spark's own Rand PRNG;
      // seeded by spark.graft.randomSeed when set (else a fresh seed
      // per analysis, the builtin's behavior).
      arity("random", "random()", exprs, 0, 0)
      org.apache.spark.sql.catalyst.expressions.Rand(
        Literal(graftSeed().getOrElse(scala.util.Random.nextLong()),
          org.apache.spark.sql.types.LongType))
    })

  val aggregates: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "correlation" -> { exprs =>
      arity("correlation", "correlation(x, y)", exprs, 2, 2)
      fn("corr", exprs(0), exprs(1))
    })

  /** Engine extension: `spark.graft.randomSeed` pins UUID()/RANDOM()
    * to a deterministic seed so corpus builds that sample or tag with
    * them are reproducible run-over-run (given the same partitioning —
    * Spark's standard seeded-RNG contract). Read at ANALYSIS time on
    * the driver (builders run inside the analyzer), so each statement
    * binds its seed once. */
  private def graftSeed(): Option[Long] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.randomSeed"))
      .map(_.toLong)

  /** ksql time units are bare identifiers (`DAYS`, `HOURS`) that the
    * generic parser hands over as unresolved attributes; singularized
    * for Spark's `TimestampAdd`. */
  private def unitName(name: String, e: Expression): String = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.length == 1 =>
      a.nameParts.head.toUpperCase.stripSuffix("S")
    case Literal(u: UTF8String, StringType) =>
      u.toString.toUpperCase.stripSuffix("S")
    case other => throw new IllegalArgumentException(
      s"$name: expected a time unit (DAYS, HOURS, ...), got $other")
  }
}
