package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Seeded-random robustness for the ksql-layer TEXTUAL rewrites
  * ([[ConnectorDdl.rewritePseudoColumns]], [[ConnectorDdl
  * .splitPartitionBy]], [[ConnectorDdl.rewriteLatestByOffset]]): a
  * textual pass over SQL must never alter the contents of a string
  * literal, whatever keywords the literal contains — a silent literal
  * rewrite corrupts DATA, not plans. The generator builds statements
  * mixing hostile literals (keywords, doubled quotes), lookalike
  * identifiers, and genuine rewrite sites, then checks the literal
  * spans survive byte-for-byte and the genuine sites still rewrite. */
class DdlRewriteFuzzSpec extends AnyFunSuite {

  private val hostileLiterals = Seq(
    "'ROWOFFSET unavailable'",
    "'PARTITION BY user_id'",
    "'latest_by_offset(v, 3)'",
    "'it''s ROWPARTITION o''clock'",
    "'plain text'")

  private val lookalikeIdents = Seq(
    "my_rowoffset_col", "rowpartition_count", "partition_by_hint")

  private def literalSpans(sql: String): Seq[String] =
    "'(?:[^']|'')*'".r.findAllIn(sql).toSeq

  test("pseudo-column rewrite: literals byte-identical, genuine sites rewritten, across 200 seeds") {
    val rnd = new Random(17)
    (1 to 200).foreach { _ =>
      val lit1 = hostileLiterals(rnd.nextInt(hostileLiterals.size))
      val lit2 = hostileLiterals(rnd.nextInt(hostileLiterals.size))
      val ident = lookalikeIdents(rnd.nextInt(lookalikeIdents.size))
      val sql = s"SELECT key, $lit1 AS a, $ident, ROWOFFSET, $lit2 AS b, " +
        s"ROWPARTITION FROM src"
      val out = ConnectorDdl.rewritePseudoColumns(sql)
      // every literal span survives byte-for-byte, in order
      assert(literalSpans(out) == literalSpans(sql), s"in=$sql out=$out")
      // lookalike identifiers survive; genuine sites rewrote
      assert(out.contains(ident), out)
      assert(out.contains(" offset,") && out.contains("partition FROM"), out)
    }
  }

  test("function-name rewrite: literals survive, partial names alone, across 200 seeds") {
    val fnLiterals = Seq("'MASK(secret)'", "'call SPLIT(a, b) later'",
      "'REGEXP_EXTRACT docs'", "'it''s a MASK(x)'", "'plain'")
    // note: regexp_extract_all is NOT a lookalike — it is a genuine
    // rewrite site (ksql's pattern-first arg order)
    val fnLookalikes = Seq("mask_keep_left(name, 2)", "ksql_mask(name)",
      "unmask(name)", "masked", "split_count", "my_regexp_extract_all(x)")
    val rnd = new Random(23)
    (1 to 200).foreach { _ =>
      val lit = fnLiterals(rnd.nextInt(fnLiterals.size))
      val look = fnLookalikes(rnd.nextInt(fnLookalikes.size))
      val sql = s"SELECT MASK(name), $lit AS a, $look, SPLIT(txt, ','), " +
        s"REGEXP_EXTRACT('(\\d)', txt) FROM src"
      val out = ConnectorDdl.rewriteKsqlFunctionNames(sql)
      assert(literalSpans(out) == literalSpans(sql), s"in=$sql out=$out")
      // genuine sites rewrote to the prefixed names
      assert(out.contains("ksql_mask(name)"), out)
      assert(out.contains("ksql_split(txt,"), out)
      assert(out.contains("ksql_regexp_extract("), out)
      // lookalikes survive byte-for-byte (modulo the genuine rewrites)
      if (!look.startsWith("ksql_mask")) assert(out.contains(look), out)
      // idempotent: a second pass changes nothing
      assert(ConnectorDdl.rewriteKsqlFunctionNames(out) == out, out)
    }
    // every ksql_ twin in FunctionTable is a rename: the bare name, in
    // either case and with or without a space before `(`, becomes the
    // twin; the same spelling inside a literal stays
    val twins = FunctionTable.entries.map(_._1.funcName)
      .filter(_.startsWith("ksql_"))
    assert(Seq("ksql_mask", "ksql_array_join", "ksql_uuid", "ksql_random")
      .forall(twins.contains), twins)
    twins.foreach { twin =>
      val bare = twin.stripPrefix("ksql_")
      val up = bare.toUpperCase
      val sql = s"SELECT $up(v), '$up(v)' AS a, $bare (w) FROM src"
      val out = ConnectorDdl.rewriteKsqlFunctionNames(sql)
      assert(out == s"SELECT $twin(v), '$up(v)' AS a, $twin(w) FROM src", out)
      assert(ConnectorDdl.rewriteKsqlFunctionNames(out) == out, out)
    }
  }

  test("TRUNC / REGEXP_EXTRACT_ALL rewrites: literals safe, date_trunc alone, 200 seeds") {
    val lits = Seq("'TRUNC(x)'", "'use REGEXP_EXTRACT_ALL here'",
      "'it''s TRUNC(2.5) o''clock'", "'plain'")
    val looks = Seq("date_trunc('hour', ts)", "ksql_trunc(v)",
      "my_regexp_extract_all(x)", "truncated")
    val rnd = new Random(31)
    (1 to 200).foreach { _ =>
      val lit = lits(rnd.nextInt(lits.size))
      val look = looks(rnd.nextInt(looks.size))
      val sql = s"SELECT TRUNC(v, 2), $lit AS a, $look, " +
        s"REGEXP_EXTRACT_ALL('(\\d)', txt, 1) FROM src"
      val out = ConnectorDdl.rewriteKsqlFunctionNames(sql)
      assert(literalSpans(out) == literalSpans(sql), s"in=$sql out=$out")
      assert(out.contains("ksql_trunc(v, 2)"), out)
      assert(out.contains("ksql_regexp_extract_all("), out)
      // date_trunc and other lookalikes survive byte-for-byte
      if (!look.startsWith("ksql_trunc")) assert(out.contains(look), out)
      assert(ConnectorDdl.rewriteKsqlFunctionNames(out) == out, out)
    }
  }

  test("invocation-fn rewrite: arrows, FILTER(WHERE guard, lookalikes, 200 seeds") {
    val arrowLiterals = Seq("'(x) => x'", "'a => b'",
      "'FILTER (WHERE x)'", "'TRANSFORM(a, (x) => x)'", "'plain'")
    val lookalikes = Seq("prefilter(x)", "transformed", "reduced(x)",
      "array_sort_desc(x)", "encoded(x)", "ksql_filter(a, x -> x)")
    val rnd = new Random(31)
    (1 to 200).foreach { _ =>
      val lit = arrowLiterals(rnd.nextInt(arrowLiterals.size))
      val look = lookalikes(rnd.nextInt(lookalikes.size))
      val sql = s"SELECT TRANSFORM(tags, (t) => UCASE(t)), $lit AS a, " +
        s"$look, FILTER(m, (k, v) => v > 1), " +
        s"count(x) FILTER (WHERE x > 0), " +
        s"REDUCE(xs, 0, (s, x) => s + x), ARRAY_SORT(xs, 'DESC'), " +
        s"ENCODE(s, 'utf8', 'hex') FROM src GROUP BY g"
      val out = ConnectorDdl.rewriteKsqlFunctionNames(sql)
      // literal spans survive byte-for-byte — incl. arrows inside them
      assert(literalSpans(out) == literalSpans(sql), s"in=$sql out=$out")
      // genuine invocation sites rewrote: prefixed names, Spark arrows,
      // single-param parens stripped, multi-param parens kept
      assert(out.contains("ksql_transform(tags, t -> UCASE(t))"), out)
      assert(out.contains("ksql_filter(m, (k, v) -> v > 1)"), out)
      assert(out.contains("ksql_reduce(xs, 0, (s, x) -> s + x)"), out)
      assert(out.contains("ksql_array_sort(xs, 'DESC')"), out)
      assert(out.contains("ksql_encode(s, 'utf8', 'hex')"), out)
      // the aggregate FILTER clause is NOT the lambda filter
      assert(out.contains("count(x) FILTER (WHERE x > 0)"), out)
      // lookalike identifiers survive
      if (!look.startsWith("ksql_filter")) assert(out.contains(look), out)
      // idempotent: a second pass changes nothing
      assert(ConnectorDdl.rewriteKsqlFunctionNames(out) == out, out)
    }
    // a space inside the clause's paren still marks the aggregate clause
    val spaced = "SELECT count(x) FILTER ( WHERE x > 0) FROM src"
    assert(ConnectorDdl.rewriteKsqlFunctionNames(spaced) == spaced)
  }

  test("time-fn rewrite: unit quoting, literals safe, idempotent, 200 seeds") {
    val timeLiterals = Seq("'DATEADD(DAYS, 1, d)'", "'UNIX_TIMESTAMP()'",
      "'call FROM_UNIXTIME(0)'", "'TIMESTAMPADD(HOURS, 2, t)'", "'x'")
    val lookalikes = Seq("my_dateadd(x)", "unix_timestamps",
      "from_unixtime_ms(x)", "ksql_dateadd('DAY', 1, d)")
    val rnd = new Random(41)
    (1 to 200).foreach { _ =>
      val lit = timeLiterals(rnd.nextInt(timeLiterals.size))
      val look = lookalikes(rnd.nextInt(lookalikes.size))
      val sql = s"SELECT DATEADD(DAYS, 5, d), DATESUB(MONTHS, 1, d), " +
        s"TIMESTAMPADD(HOURS, 2, t), TIMESTAMPSUB(MINUTES, 3, t), " +
        s"$lit AS a, $look, FROM_UNIXTIME(ms), UNIX_TIMESTAMP(t), " +
        s"UNIX_TIMESTAMP(), SLICE(xs, 1, 3) FROM src"
      val out = ConnectorDdl.rewriteKsqlFunctionNames(sql)
      // unit quoting INTRODUCES literal spans, so span-list equality
      // does not hold here — the invariant is that every ORIGINAL
      // literal survives byte-for-byte (function spellings inside it
      // untouched)
      assert(out.contains(lit), s"in=$sql out=$out")
      // units got quoted into the compat builders
      assert(out.contains("ksql_dateadd('DAYS', 5, d)"), out)
      assert(out.contains("ksql_datesub('MONTHS', 1, d)"), out)
      assert(out.contains("ksql_timestampadd('HOURS', 2, t)"), out)
      assert(out.contains("timestampsub('MINUTES', 3, t)"), out)
      assert(out.contains("ksql_from_unixtime(ms)"), out)
      assert(out.contains("ksql_unix_timestamp(t)"), out)
      assert(out.contains("ksql_unix_timestamp()"), out)
      assert(out.contains("ksql_slice(xs, 1, 3)"), out)
      if (!look.startsWith("ksql_dateadd")) assert(out.contains(look), out)
      // idempotent: a second pass changes nothing
      assert(ConnectorDdl.rewriteKsqlFunctionNames(out) == out, out)
    }
  }

  test("splitPartitionBy: only a genuine trailing clause is peeled") {
    // trailing clause → peeled
    assert(ConnectorDdl.splitPartitionBy(
      "SELECT a, b FROM t WHERE a > 1 PARTITION BY a")._2.contains("a"))
    // window spec (ends in ')') → untouched
    assert(ConnectorDdl.splitPartitionBy(
      "SELECT a, rank() OVER (PARTITION BY a ORDER BY b)")._2.isEmpty)
    // a trailing literal mentioning the clause → untouched (statement
    // ends in a quote, not an identifier)
    assert(ConnectorDdl.splitPartitionBy(
      "SELECT a, 'PARTITION BY a' AS note FROM t")._2.isEmpty)
    // qualified key
    val (_, k) = ConnectorDdl.splitPartitionBy(
      "SELECT o.a FROM orders o PARTITION BY o.a")
    assert(k.contains("o.a"))
  }

  test("rewrites skip SQL comments and quoted identifiers, not just literals") {
    // line comment: the hostile token after `--` survives to EOL
    val line = "SELECT ROWOFFSET, v -- ROWOFFSET is the kafka offset\n" +
      "FROM src"
    val lineOut = ConnectorDdl.rewritePseudoColumns(line)
    assert(lineOut.contains("-- ROWOFFSET is the kafka offset"), lineOut)
    assert(lineOut.startsWith("SELECT offset,"), lineOut)
    // block comment spanning lines
    val block = "SELECT /* ROWPARTITION\n ROWOFFSET */ ROWPARTITION FROM src"
    val blockOut = ConnectorDdl.rewritePseudoColumns(block)
    assert(blockOut.contains("/* ROWPARTITION\n ROWOFFSET */"), blockOut)
    assert(blockOut.endsWith("partition FROM src"), blockOut)
    // double-quoted and backticked identifiers keep their spelling
    val quoted = "SELECT \"ROWOFFSET\", `rowoffset`, ROWOFFSET FROM src"
    val quotedOut = ConnectorDdl.rewritePseudoColumns(quoted)
    assert(quotedOut.contains("\"ROWOFFSET\"") &&
      quotedOut.contains("`rowoffset`"), quotedOut)
    assert(quotedOut.contains(", offset FROM src"), quotedOut)
    // a literal containing a comment opener is still one literal
    val trick = "SELECT 'a -- ROWOFFSET b' AS t, ROWOFFSET FROM src"
    val trickOut = ConnectorDdl.rewritePseudoColumns(trick)
    assert(trickOut.contains("'a -- ROWOFFSET b'"), trickOut)
    assert(trickOut.contains(", offset FROM src"), trickOut)
    // a comment containing a stray single quote must not open a
    // literal span that swallows the rest of the statement
    val stray = "SELECT v, -- don't rewrite here ROWOFFSET\n" +
      "ROWOFFSET FROM src"
    val strayOut = ConnectorDdl.rewritePseudoColumns(stray)
    assert(strayOut.contains("-- don't rewrite here ROWOFFSET"), strayOut)
    assert(strayOut.contains("\noffset FROM src"), strayOut)
    // latest_by_offset inside a comment stays verbatim
    val lbo = "SELECT k, latest_by_offset(v) AS l " +
      "/* latest_by_offset(v, 3) */ FROM s GROUP BY k"
    val lboOut = ConnectorDdl.rewriteLatestByOffset(lbo)
    assert(lboOut.contains("/* latest_by_offset(v, 3) */"), lboOut)
    // 1-arg form = ksql default ignoreNulls=true: null values null
    // their own ordering key so max_by skips them
    assert(lboOut.contains("max_by(v, nvl2(v, offset, null))"), lboOut)
  }

  test("script splitter: ';', '--', and rewrite-name literals together, across 200 seeds") {
    // script mode is the advertised migration path (paste a whole
    // ksql session), so the splitter must hold when one literal
    // carries a statement separator, a comment opener, AND a
    // ksql-rewritten function name at once — and the per-statement
    // rewrites must still leave that literal byte-identical.
    val bombs = Seq(
      "'a;b -- MASK(x)'",
      "'end; SPLIT(a,b) -- tail'",
      "';;'",
      "'-- not a comment; latest_by_offset(v, 3)'",
      "'it''s; PARTITION BY k -- REGEXP_EXTRACT'")
    val rnd = new Random(31)
    (1 to 200).foreach { _ =>
      val b1 = bombs(rnd.nextInt(bombs.size))
      val b2 = bombs(rnd.nextInt(bombs.size))
      val script =
        s"""SELECT $b1 AS x, MASK(name) FROM src1;
           |-- real comment; with a semicolon and MASK(n)
           |SELECT $b2 AS y, k, latest_by_offset(v) AS l
           |FROM src2 GROUP BY k; /* block; MASK */
           |SELECT 1 AS z;
           |""".stripMargin
      val stmts = ConnectorDdl.splitStatements(script)
      assert(stmts.length == 3, s"script=$script stmts=$stmts")
      assert(stmts(0).contains(b1), stmts(0))
      assert(stmts(1).contains(b2), stmts(1))
      // the statement-level rewrites keep the bomb literal untouched
      val rewritten = ConnectorDdl.rewriteLatestByOffset(
        ConnectorDdl.rewriteKsqlFunctionNames(stmts(1)))
      assert(rewritten.contains(b2), rewritten)
      assert(rewritten.contains("max_by(v, nvl2(v, offset, null))"),
        rewritten)
      val first = ConnectorDdl.rewriteKsqlFunctionNames(stmts(0))
      assert(first.contains(b1) && first.contains("ksql_mask(name)"), first)
    }
  }

  test("latest_by_offset rewrite leaves the 2-column UDAF form and literals alone") {
    val rnd = new Random(23)
    (1 to 100).foreach { _ =>
      val lit = hostileLiterals(rnd.nextInt(hostileLiterals.size))
      val sql = s"SELECT k, $lit AS tag, " +
        "latest_by_offset(event_id, event_type) AS udaf2, " +
        "latest_by_offset(v) AS l1, latest_by_offset(v, 2) AS l2, " +
        "latest_by_offset(v, true) AS li, " +
        "earliest_by_offset(v, false) AS ek, " +
        "latest_by_offset(v, 2, true) AS l2i " +
        "FROM s GROUP BY k"
      val out = ConnectorDdl.rewriteLatestByOffset(sql)
      assert(literalSpans(out) == literalSpans(sql), s"in=$sql out=$out")
      // 2-column UDAF spelling untouched; 1-arg (ksql default
      // ignoreNulls=true), literal-N, and boolean forms rewritten
      assert(out.contains("latest_by_offset(event_id, event_type)"), out)
      assert(out.contains("max_by(v, nvl2(v, offset, null))"), out)
      assert(out.contains("reverse(transform(slice("), out)
      assert(out.contains("min_by(v, offset)"), out)
      // 3-arg ignoreNulls=true: null values null the whole struct so
      // collect_list drops them before the sort/slice
      assert(out.contains("collect_list(if(isnull(v), null, " +
        "struct(offset, v))"), out)
    }
  }

  test("subscript rewrite: ksql 1-based access maps onto try_element_at") {
    def rw(sql: String): String = ConnectorDdl.rewriteKsqlFunctionNames(sql)
    // plain column, dot-chain, backquoted name
    assert(rw("SELECT arr[1] FROM t") ==
      "SELECT try_element_at(arr, 1) FROM t")
    assert(rw("SELECT s.arr[2] FROM t") ==
      "SELECT try_element_at(s.arr, 2) FROM t")
    assert(rw("SELECT `my col`[1] FROM t") ==
      "SELECT try_element_at(`my col`, 1) FROM t")
    // struct dereference runs first: the whole path is the base
    assert(rw("SELECT s->arr[2] FROM t") ==
      "SELECT try_element_at(s.arr, 2) FROM t")
    // call result as base; SPLIT is also renamed by the same pass
    assert(rw("SELECT SPLIT(text, ' ')[1] FROM t") ==
      "SELECT try_element_at(ksql_split(text, ' '), 1) FROM t")
    // chains and nesting
    assert(rw("SELECT a[1][2] FROM t") ==
      "SELECT try_element_at(try_element_at(a, 1), 2) FROM t")
    assert(rw("SELECT m[a[1]] FROM t") ==
      "SELECT try_element_at(m, try_element_at(a, 1)) FROM t")
    // ARRAY literal constructor rewrites first, then the subscript
    assert(rw("SELECT ARRAY[10, 20][2] FROM t") ==
      "SELECT try_element_at(array(10, 20), 2) FROM t")
    // map key access: the literal inside the brackets survives
    assert(rw("SELECT m['k''s'] FROM t") ==
      "SELECT try_element_at(m, 'k''s') FROM t")
    // negative (from-the-end) index passes through
    assert(rw("SELECT arr[-1] FROM t") ==
      "SELECT try_element_at(arr, -1) FROM t")
  }

  test("multi-explode rewrite: literals safe, single explode untouched, zip emitted") {
    def rw(sql: String): String = ConnectorDdl.rewriteKsqlMultiExplode(sql)
    // single EXPLODE: Spark's native generator path — no rewrite
    val single = "SELECT id, EXPLODE(split(a, ',')) AS x FROM t"
    assert(rw(single) == single)
    // non-item EXPLODE mentions (literals) never trigger
    val litOnly = "SELECT 'EXPLODE(a), EXPLODE(b)' AS s, x FROM t"
    assert(rw(litOnly) == litOnly)
    // two EXPLODEs collapse to one inline zip; scalar items survive
    val rnd = new Random(53)
    val expLits = Seq("'EXPLODE(a)'", "'x, EXPLODE(y) AS z'", "'plain'")
    (1 to 200).foreach { _ =>
      val l1 = expLits(rnd.nextInt(expLits.size))
      val sql = s"SELECT id, $l1 AS tag, EXPLODE(split(a, ',')) AS x, " +
        "EXPLODE(split(b, ',')) AS y FROM t"
      val out = rw(sql)
      // the zip legitimately REPEATS the exploded exprs (and adds
      // alias literals), so span equality doesn't hold — instead: the
      // hostile literal survives verbatim as its own select item
      assert(out.contains(s"$l1 AS tag"), s"in=$sql out=$out")
      assert(out.contains("inline(transform(slice(sequence(1,"), out)
      // idempotent: a second pass changes nothing
      assert(ConnectorDdl.rewriteKsqlMultiExplode(out) == out, out)
      assert(out.contains("'x', try_element_at(split(a, ',')"), out)
      assert(out.contains("'y', try_element_at(split(b, ',')"), out)
      assert(out.contains("id,") && out.contains("AS tag"), out)
    }
  }

  test("subscript rewrite: literals, comments, and non-access brackets alone") {
    def rw(sql: String): String = ConnectorDdl.rewriteKsqlSubscripts(sql)
    // bracket text inside literals and comments is data, not syntax
    val lit = "SELECT '[not an index]' AS a, arr[1] FROM t"
    assert(rw(lit) ==
      "SELECT '[not an index]' AS a, try_element_at(arr, 1) FROM t")
    val cmt = "SELECT arr[2] -- arr[9] in a comment\nFROM t"
    assert(rw(cmt) ==
      "SELECT try_element_at(arr, 2) -- arr[9] in a comment\nFROM t")
    // a bracket NOT preceded by a primary is not an access
    assert(rw("SELECT a, [1]") == "SELECT a, [1]")
    // idempotent: a second pass finds nothing
    val once = rw("SELECT m[k][1] FROM t")
    assert(rw(once) == once)
    // fuzz: hostile literals never change, genuine sites always do
    val rnd = new Random(41)
    val subLits = Seq("'a[1]'", "'it''s m[k]'", "'[1,2,3]'", "'plain'")
    (1 to 200).foreach { _ =>
      val l1 = subLits(rnd.nextInt(subLits.size))
      val l2 = subLits(rnd.nextInt(subLits.size))
      val sql = s"SELECT $l1 AS a, arr[${rnd.nextInt(9) + 1}], " +
        s"$l2 AS b, m['key'] FROM t"
      val out = rw(sql)
      assert(literalSpans(out) == literalSpans(sql), s"in=$sql out=$out")
      assert(out.contains("try_element_at(arr, "), out)
      assert(out.contains("try_element_at(m, 'key')"), out)
    }
  }
}
