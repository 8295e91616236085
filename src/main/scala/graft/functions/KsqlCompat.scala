package graft.functions

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter,
  ArrayTransform, Cast, Expression, LambdaFunction, Literal, MapFilter, Rand,
  TimestampAdd, TransformKeys, TransformValues, UnresolvedNamedLambdaVariable,
  Uuid}
import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, LongType,
  StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** ksqlDB built-in function surface (ksqlDB 0.28 — the engine the
  * reference runs, reference docker-compose.yml:83), re-expressed as
  * FunctionRegistry builders that COMPOSE Spark's own builtin
  * expressions. Nothing here is a UDF: every builder returns a tree of
  * `UnresolvedFunction` nodes the analyzer resolves to native Catalyst
  * expressions (or the same Catalyst nodes Spark's builtins resolve
  * to, such as `ArrayTransform` for the lambda functions), so the whole
  * pack stays inside whole-stage codegen and inherits
  * pushdown/constant-folding like any builtin.
  *
  * A ksql name whose Spark builtin namesake has different semantics is
  * registered as its `ksql_`-prefixed twin (`ksql_mask`, `ksql_round`,
  * `ksql_transform`, …); each twin's comment says how the two differ.
  * No entry takes a Spark builtin's own name, so `spark.sql` keeps
  * Spark-native behavior for every builtin. [[graft.GraftSql.sql]] — the
  * ksql dialect — renames a bare `<name>(` to `ksql_<name>(` for every
  * such twin ([[graft.ConnectorDdl.rewriteKsqlFunctionNames]] derives
  * the rename set from [[graft.FunctionTable]]), so ksql statements run
  * verbatim; adding a twin here is the whole change.
  *
  * ksql spells lambdas `(x) => expr`; the dialect rewrite maps `=>` to
  * Spark's `->` (outside literals), after which Spark's parser
  * produces the `LambdaFunction` trees the lambda builders consume.
  * Known limit (ksql-compatible in practice): lambda parameter names
  * are substituted by head-name match, so a nested lambda re-declaring
  * the SAME variable name inside a map-form body would be captured —
  * ksql itself rejects shadowed lambda variables.
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

  private def lv(parts: String*): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(parts)

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
      case a: UnresolvedAttribute =>
        remap(a.nameParts).map(UnresolvedNamedLambdaVariable(_)).getOrElse(a)
    }
  }

  /** The lower-cased names of a parsed lambda's parameters. */
  private def paramNames(l: LambdaFunction): Seq[String] = l.arguments.map {
    case u: UnresolvedNamedLambdaVariable => u.nameParts.head.toLowerCase
    case other => throw new IllegalArgumentException(
      s"unexpected lambda parameter shape: $other")
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

  /** ksql time units are bare identifiers (`DAYS`, `HOURS`) that the
    * generic parser hands over as unresolved attributes; singularized
    * for Spark's `TimestampAdd`. */
  private def unitName(name: String, e: Expression): String = e match {
    case a: UnresolvedAttribute if a.nameParts.length == 1 =>
      a.nameParts.head.toUpperCase.stripSuffix("S")
    case Literal(u: UTF8String, StringType) =>
      u.toString.toUpperCase.stripSuffix("S")
    case other => throw new IllegalArgumentException(
      s"$name: expected a time unit (DAYS, HOURS, ...), got $other")
  }

  private def urlPart(name: String,
                      part: String): Seq[Expression] => Expression = { exprs =>
    arity(name, s"$name(url)", exprs, 1, 1)
    fn("parse_url", exprs.head, lit(part))
  }

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

  /** (name, builder) for every compat scalar. [[graft.FunctionTable]]
    * lists them. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(

    // ---- masking (ksql defaults; extra mask chars pass through) ----
    "ksql_mask" -> { exprs =>
      // ksql masks non-alphanumerics to '-'; Spark's mask keeps them.
      // Extra mask-char arguments mean the same in both engines.
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
      // ksql splits on a LITERAL delimiter, Spark's split on a regex:
      // regex-escape every non-alphanumeric char of the delimiter,
      // then use the builtin regex split
      fn("split", exprs(0),
        fn("regexp_replace", exprs(1), lit("([^A-Za-z0-9])"), lit("\\\\$1")),
        lit(-1))
    },
    "ksql_regexp_extract" -> { exprs =>
      // ksql's argument order is (pattern, input[, group]); Spark's is
      // (input, pattern, group)
      arity("ksql_regexp_extract",
        "ksql_regexp_extract(pattern, str[, group])", exprs, 2, 3)
      fn("regexp_extract", exprs(1), exprs(0),
        exprs.lift(2).getOrElse(lit(0)))
    },
    "ksql_regexp_extract_all" -> { exprs =>
      // ksql argument order is (pattern, input[, group]) with group
      // defaulting to 0 — Spark's namesake is (input, pattern[, idx])
      // defaulting idx to 1
      arity("ksql_regexp_extract_all",
        "ksql_regexp_extract_all(pattern, str[, group])", exprs, 2, 3)
      fn("regexp_extract_all", exprs(1), exprs(0),
        exprs.lift(2).getOrElse(lit(0)))
    },
    "regexp_split_to_array" -> { exprs =>
      arity("regexp_split_to_array", "regexp_split_to_array(str, pattern)",
        exprs, 2, 2)
      fn("split", exprs(0), exprs(1), lit(-1))
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
        // is 2, which rules out any split-based counting); Spark's
        // namesake takes 2 args only. Enumerate every occurrence start
        // once, then pick: positive position → nth hit at or after it;
        // negative → nth hit counting backward among starts ≤
        // length+pos+1 (search "backwards from the end"). All builtin
        // HOFs — stays codegen-friendly.
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

    // ---- invocation (lambda) functions ----
    // Spark's transform/filter/reduce are array-only; the ksql forms
    // also take maps (`TRANSFORM(map, kl, vl)`, two-argument filter
    // lambdas, three-argument reduce lambdas). The builders construct
    // the Catalyst HOF nodes directly (an UnresolvedFunction onto
    // Spark's name would not take the map forms). The map forms
    // rewrite the user's lambda variables to entry-field paths —
    // resolution then proceeds through Spark's ordinary
    // `ResolveLambdaVariables` (which folds trailing `nameParts` into
    // field extractions, so `k.x` keeps working).
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
        val names = Seq(kl, vl).map(paramNames)
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
      // array vs map dispatches on the lambda's parameter count (1 vs
      // 2) — the one signal available pre-analysis
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
          val Seq(_, k, v) = paramNames(l)
          ArrayAggregate(fn("map_entries", exprs(0)), exprs(1),
            LambdaFunction(
              substVars(l.function, Map(k -> Seq("__graft_e", "key"),
                v -> Seq("__graft_e", "value"))),
              Seq(s, lv("__graft_e"))),
            LambdaFunction.identity)
      }
    },

    // ---- arrays / maps ----
    "array_length" -> { exprs =>
      arity("array_length", "array_length(array)", exprs, 1, 1)
      fn("size", exprs.head) // sizeOfNull=false default: null-in → null-out
    },
    "array_concat" -> { exprs =>
      arity("array_concat", "array_concat(array1, array2)", exprs, 2, 2)
      // ksql: NULL if both NULL; one NULL → the other; else concat
      val (a, b) = (exprs(0), exprs(1))
      fn("if", fn("isnull", a), b,
        fn("if", fn("isnull", b), a, fn("concat", a, b)))
    },
    "ksql_array_join" -> { exprs =>
      arity("array_join", "array_join(array[, delimiter[, nullRepl]])",
        exprs, 1, 3)
      // ksql's 1-arg form defaults the delimiter to ',' — Spark's
      // builtin requires it. The 2/3-arg forms are the builtin's.
      fn("array_join",
        (exprs.head +: exprs.lift(1).getOrElse(lit(",")) +: exprs.drop(2)): _*)
    },
    "ksql_array_sort" -> { exprs =>
      arity("array_sort", "array_sort(array[, 'ASC'|'DESC'])", exprs, 1, 2)
      // ksql's optional second argument is an 'ASC'/'DESC' string
      // literal with nulls LAST either way; Spark's 2-arg array_sort
      // takes a comparator lambda
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
    "ksql_slice" -> { exprs =>
      arity("slice", "slice(array, from, to)", exprs, 3, 3)
      // ksql's third argument is the INCLUSIVE 1-based end index;
      // Spark's slice takes a LENGTH
      fn("slice", exprs(0), exprs(1),
        fn("+", fn("-", exprs(2), exprs(1)), lit(1)))
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
    "as_map" -> { exprs =>
      arity("as_map", "as_map(keys, values)", exprs, 2, 2)
      fn("map_from_arrays", exprs(0), exprs(1))
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
          case a: UnresolvedAttribute if a.name == "__graft_m1" => m1
          case a: UnresolvedAttribute if a.name == "__graft_m2" => m2
          case v: UnresolvedNamedLambdaVariable
              if v.nameParts == Seq("__graft_m1") => m1
          case v: UnresolvedNamedLambdaVariable
              if v.nameParts == Seq("__graft_m2") => m2
        }
      fn("if", fn("isnull", m1), m2, fn("if", fn("isnull", m2), m1, merged))
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

    // ---- numbers ----
    "ksql_round" -> { exprs =>
      arity("round", "round(value[, decimalPlaces])", exprs, 1, 2)
      // ksql ROUND rounds halves toward POSITIVE infinity in both
      // arities (HALF_UP for positives, HALF_DOWN for negatives:
      // ROUND(-2.5) = -2, ROUND(-2.55, 1) = -2.5) and its integral
      // 1-arg overload is identity (so ROUND(v) yields BIGINT). Spark's
      // round (half away from zero, type-preserving) matches neither,
      // so both arities go to the native [[KsqlRound1]]/[[KsqlRound2]]
      // expressions — exact on BIGINTs beyond 2^53 and at the
      // Math.round double boundary.
      if (exprs.length == 2)
        KsqlRound2(exprs(0), Cast(exprs(1), IntegerType))
      else KsqlRound1(exprs.head)
    },
    "ksql_trunc" -> { exprs =>
      // ksql numeric TRUNC (toward zero): 1-arg form yields BIGINT
      // (like ROUND); 2-arg form truncates to decimalPlaces and stays
      // DOUBLE. Spark's only trunc is the date one.
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

    // ---- bytes / codecs ----
    "ksql_encode" -> { exprs =>
      // ksql's ENCODE is a hex/utf8/ascii/base64 transcoder
      // (literal-dispatched here, hex output lowercase per ksqlDB's
      // `Encode` UDF); Spark's `encode` is a charset encoder
      arity("encode", "encode(str, inputEncoding, outputEncoding)",
        exprs, 3, 3)
      encodeFrom("encode",
        decodeTo("encode", exprs(0), literalString("encode", exprs(1))),
        literalString("encode", exprs(2)))
    },
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
    "int_from_bytes" -> { exprs =>
      arity("int_from_bytes", "int_from_bytes(bytes)", exprs, 1, 1)
      NumFromBytes(exprs.head, IntegerType)
    },
    "bigint_from_bytes" -> { exprs =>
      arity("bigint_from_bytes", "bigint_from_bytes(bytes)", exprs, 1, 1)
      NumFromBytes(exprs.head, LongType)
    },
    "double_from_bytes" -> { exprs =>
      arity("double_from_bytes", "double_from_bytes(bytes)", exprs, 1, 1)
      NumFromBytes(exprs.head, DoubleType)
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
    "convert_tz" -> { exprs =>
      arity("convert_tz", "convert_tz(ts, fromZone, toZone)", exprs, 3, 3)
      // ksql argument order is (ts, from, to); Spark's builtin is
      // (from, to, ts)
      fn("convert_timezone", exprs(1), exprs(2), exprs(0))
    },

    // ---- time arithmetic (ksql is MILLISECOND-based where Spark is
    // second-based, and its DATEADD/DATESUB are 3-arg unit forms) ----
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
    "url_extract_parameter" -> { exprs =>
      arity("url_extract_parameter",
        "url_extract_parameter(url, parameter)", exprs, 2, 2)
      // ksql reads java.net.URI.getQuery() — the query decoded as a
      // WHOLE ('+' preserved) — then splits on & / =. A composed
      // url_decode(parse_url(...)) diverges on '+' (becomes space)
      // and on %26/%3D inside values (decode-after-split vs ksql's
      // split-after-decode), so this maps to a dedicated expression
      // that reproduces the decode-then-split pipeline exactly
      // ([[UrlExtractParameterKsql]]).
      UrlExtractParameterKsql(exprs.head, exprs(1))
    },

    // ---- keys ----
    "as_value" -> { exprs =>
      arity("as_value", "as_value(keyColumn)", exprs, 1, 1)
      // ksql: copies a KEY column into the VALUE of a CSAS result row.
      // This engine's relational model doesn't split key from value —
      // every column is a value column and keying is a property of the
      // sink/grouping — so the marker is an identity on the
      // expression; a ported statement keeps its meaning.
      exprs.head
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
    },

    // ---- nondeterministic scalars ----
    "ksql_uuid" -> { exprs =>
      // ksql UUID() → random v4 string; UUID(bytes) → 16-byte
      // reinterpretation ([[UuidFromBytes]]); Spark's uuid takes no
      // bytes. With no seed the analyzer's ResolveRandomSeed assigns
      // one per query, exactly as for the builtin;
      // `spark.graft.randomSeed` pins it (seeded deterministic mode —
      // reproducible corpus builds).
      arity("uuid", "uuid([bytes])", exprs, 0, 1)
      if (exprs.length == 1) UuidFromBytes(exprs.head)
      else Uuid(graftSeed())
    },
    "ksql_random" -> { exprs =>
      // ksql RANDOM() → DOUBLE in [0, 1), Spark's own Rand PRNG;
      // seeded by spark.graft.randomSeed when set (else a fresh seed
      // per analysis, the builtin's behavior)
      arity("random", "random()", exprs, 0, 0)
      Rand(Literal(graftSeed().getOrElse(scala.util.Random.nextLong()),
        LongType))
    })

  /** (name, builder) for every compat aggregate, each composed from
    * builtin aggregates. */
  val aggregates: Seq[(String, Seq[Expression] => Expression)] = Seq(
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
    },
    "correlation" -> { exprs =>
      arity("correlation", "correlation(x, y)", exprs, 2, 2)
      fn("corr", exprs(0), exprs(1))
    })
}
