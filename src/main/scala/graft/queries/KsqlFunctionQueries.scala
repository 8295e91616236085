package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSql
import graft.queries.Catalog.Entry

/** The ksqlDB 0.28 builtin-function compatibility pack
  * ([[graft.functions.KsqlCompat]]) exercised END-TO-END through
  * [[GraftSql.sql]] with the ksql spellings — including the names
  * whose Spark namesake differs (`MASK`, `SPLIT`, `REGEXP_EXTRACT`,
  * `ROUND`, …), which the dialect rewrite maps onto their `ksql_`
  * twins in [[graft.FunctionTable]] — each query hash-verified
  * against a DuckDB oracle that spells the same semantics natively.
  *
  * Determinism policy (the catalog-wide contract): integer-ish outputs
  * are BIGINT on both engines; array outputs are scalarized with
  * `ARRAY_JOIN`; libm-backed doubles (`geo_distance`, exp/ln/sqrt/
  * cbrt/atan2/atan) are rounded onto coarse integer grids (meters,
  * mills, centi) where the nearest half-boundary across the whole key
  * domain is ≥8.6e-4 away — a last-ulp engine difference cannot flip
  * the hash; `topk` inputs go through the exact cents grid; set-op
  * inputs come from the documents token stream whose vocabulary is
  * pure lowercase ASCII, so lexicographic comparisons agree
  * bit-for-bit between engines.
  */
object KsqlFunctionQueries {

  private def run(s: SparkSession, d: String, statement: String): DataFrame = {
    GraftSql.init(s, d)
    GraftSql.sql(s, statement)
  }

  // ---- Scalar, string and math --------------------------------------

  /** Masking family, literal-delimiter SPLIT, ksql-arg-order
    * REGEXP_EXTRACT, FIELD, ARRAY_LENGTH, GENERATE_SERIES, and
    * GEO_DISTANCE over the documents table. */
  def ksqlScalarFuncs(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  MASK(source) AS masked_source,
        |  MASK_KEEP_LEFT(source, 2) AS mask_kl,
        |  MASK_KEEP_RIGHT(source, 2) AS mask_kr,
        |  MASK_LEFT(lang, 1) AS mask_l,
        |  MASK_RIGHT(source, 3) AS mask_r,
        |  CAST(ARRAY_LENGTH(SPLIT(text, ' ')) AS BIGINT) AS n_space_tokens,
        |  REGEXP_EXTRACT('([a-z]+)', source, 1) AS src_word,
        |  CAST(FIELD(lang, 'en', 'de', 'fr') AS BIGINT) AS lang_field,
        |  CAST(ARRAY_LENGTH(GENERATE_SERIES(1, CAST(doc_id % 5 AS INT) + 1))
        |    AS BIGINT) AS series_len,
        |  CAST(ROUND(GEO_DISTANCE(CAST(doc_id % 80 AS DOUBLE), 10.0,
        |                          40.0, -73.0) * 1000) AS BIGINT) AS geo_m
        |FROM documents""".stripMargin)

  val ksqlScalarFuncsSql: String =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    source, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
      |    '[0-9]', 'n', 'g'), '[^Xxn]', '-', 'g') AS masked_source,
      |  substr(source, 1, 2) ||
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      substr(source, 3), '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
      |      '[0-9]', 'n', 'g'), '[^Xxn]', '-', 'g') AS mask_kl,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      substr(source, 1, greatest(length(source) - 2, 0)),
      |      '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
      |      '[0-9]', 'n', 'g'), '[^Xxn]', '-', 'g') ||
      |    substr(source, greatest(length(source) - 2, 0) + 1) AS mask_kr,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      substr(lang, 1, 1), '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
      |      '[0-9]', 'n', 'g'), '[^Xxn]', '-', 'g') ||
      |    substr(lang, 2) AS mask_l,
      |  substr(source, 1, greatest(length(source) - 3, 0)) ||
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      substr(source, greatest(length(source) - 3, 0) + 1),
      |      '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
      |      '[0-9]', 'n', 'g'), '[^Xxn]', '-', 'g') AS mask_r,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_space_tokens,
      |  regexp_extract(source, '([a-z]+)', 1) AS src_word,
      |  CAST(CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'fr' THEN 3
      |       ELSE 0 END AS BIGINT) AS lang_field,
      |  CAST(doc_id % 5 + 1 AS BIGINT) AS series_len,
      |  CAST(ROUND(2 * 6371 * asin(sqrt(
      |    pow(sin(radians(40.0 - doc_id % 80) / 2), 2) +
      |    cos(radians(doc_id % 80)) * cos(radians(40.0)) *
      |    pow(sin(radians(-73.0 - 10.0) / 2), 2))) * 1000) AS BIGINT)
      |    AS geo_m
      |FROM documents""".stripMargin

  /** The shared-name string scalars a ported statement leans on —
    * CONCAT_WS / INITCAP / LPAD / RPAD / TRIM / REPLACE /
    * REGEXP_REPLACE (global in both ksql and Spark; DuckDB needs the
    * 'g' flag) / UCASE / LCASE — semantics identical between ksql and
    * Spark's namesakes, pinned here so the equivalence is a verified
    * fact rather than an assumption (DuckDB lacks initcap, so the
    * oracle spells it algebraically over the known token shapes). */
  def stringFuncs(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  CONCAT_WS('-', source, lang, CAST(doc_id AS STRING)) AS cw,
        |  INITCAP(CONCAT(lang, ' ', source)) AS ic,
        |  LPAD(source, 8, '*') AS lp,
        |  RPAD(lang, 5, '.') AS rp,
        |  TRIM(CONCAT('  ', source, '  ')) AS tr,
        |  REPLACE(source, 'src', 'origin_') AS rep,
        |  REGEXP_REPLACE(source, '[0-9]', '#') AS rr,
        |  UCASE(lang) AS uc,
        |  LCASE(CONCAT(UCASE(source), 'X')) AS lc
        |FROM documents""".stripMargin)

  val stringFuncsSql: String =
    """SELECT doc_id,
      |  source || '-' || lang || '-' || CAST(doc_id AS VARCHAR) AS cw,
      |  upper(substr(lang, 1, 1)) || substr(lang, 2) || ' Src' ||
      |    substr(source, 4) AS ic,
      |  lpad(source, 8, '*') AS lp,
      |  rpad(lang, 5, '.') AS rp,
      |  source AS tr,
      |  'origin_' || substr(source, 4) AS rep,
      |  regexp_replace(source, '[0-9]', '#', 'g') AS rr,
      |  upper(lang) AS uc,
      |  lower(upper(source)) || 'x' AS lc
      |FROM documents""".stripMargin

  /** CHR (full-codepoint, incl. CJK — Spark's own chr is mod-256
    * ASCII, hence the compat builder), LEN, and the Oracle-style
    * 3/4-arg INSTR family incl. backward (negative-position) search.
    * DuckDB's chr IS codepoint-based; the INSTR position/occurrence
    * forms are spelled as a filtered position list (single-char
    * needle, so overlap doesn't arise in the oracle). */
  def chrInstr(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  CHR(CAST(65 + doc_id % 26 AS INT)) AS chr_az,
        |  CHR(CAST(19968 + doc_id % 100 AS INT)) AS chr_cjk,
        |  CAST(LEN(text) AS BIGINT) AS text_len,
        |  CAST(INSTR(text, 'e') AS BIGINT) AS instr2,
        |  CAST(INSTR(text, 'e', 5) AS BIGINT) AS instr_pos,
        |  CAST(INSTR(text, 'e', 1, 3) AS BIGINT) AS instr_occ,
        |  CAST(INSTR(text, 'e', -1) AS BIGINT) AS instr_back,
        |  CAST(INSTR(text, 'e', -1, 2) AS BIGINT) AS instr_back2
        |FROM documents""".stripMargin)

  val chrInstrSql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    list_filter(range(1, greatest(length(text), 1) + 1),
      |      i -> text[i:i] = 'e') AS hits
      |  FROM documents)
      |SELECT doc_id,
      |  chr(65 + CAST(doc_id % 26 AS INT)) AS chr_az,
      |  chr(19968 + CAST(doc_id % 100 AS INT)) AS chr_cjk,
      |  CAST(length(text) AS BIGINT) AS text_len,
      |  CAST(coalesce(hits[1], 0) AS BIGINT) AS instr2,
      |  CAST(coalesce(list_filter(hits, i -> i >= 5)[1], 0) AS BIGINT)
      |    AS instr_pos,
      |  CAST(coalesce(hits[3], 0) AS BIGINT) AS instr_occ,
      |  CAST(coalesce(hits[-1], 0) AS BIGINT) AS instr_back,
      |  CAST(coalesce(hits[-2], 0) AS BIGINT) AS instr_back2
      |FROM t""".stripMargin

  /** ARRAY_SORT's 'ASC'/'DESC' direction argument (nulls LAST either
    * way — the ksql rule Spark's own sort_array(_, false) breaks),
    * the ENCODE hex/base64/utf8 transcoder (lowercase hex out, per
    * ksqlDB's Encode UDF), and AS_MAP. Nulls are planted via NULLIF
    * on a known token so the null-placement rule is hash-visible:
    * after sorting, nulls are made printable with a sentinel before
    * ARRAY_JOIN (both engines' join/array_to_string silently drop
    * nulls, which would hide the very order under test). */
  def sortEncodeFuncs(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  ARRAY_JOIN(TRANSFORM(
        |    ARRAY_SORT(TRANSFORM(SPLIT(text, ' '), (w) => NULLIF(w, 'the'))),
        |    (w) => COALESCE(w, '~')), ',') AS sorted_asc,
        |  ARRAY_JOIN(TRANSFORM(
        |    ARRAY_SORT(TRANSFORM(SPLIT(text, ' '), (w) => NULLIF(w, 'the')),
        |      'DESC'),
        |    (w) => COALESCE(w, '~')), ',') AS sorted_desc,
        |  ENCODE(source, 'utf8', 'hex') AS src_hex,
        |  ENCODE(ENCODE(source, 'utf8', 'base64'), 'base64', 'utf8')
        |    AS b64_roundtrip,
        |  ENCODE(ENCODE(lang, 'utf8', 'hex'), 'hex', 'base64') AS lang_b64,
        |  ELEMENT_AT(AS_MAP(SPLIT('a b', ' '),
        |    SPLIT(CONCAT(source, ' ', lang), ' ')), 'b') AS asmap_b
        |FROM documents""".stripMargin)

  val sortEncodeFuncsSql: String =
    """SELECT doc_id,
      |  array_to_string(list_transform(
      |    list_sort(list_transform(string_split(text, ' '),
      |      w -> nullif(w, 'the')), 'ASC', 'NULLS LAST'),
      |    w -> coalesce(w, '~')), ',') AS sorted_asc,
      |  array_to_string(list_transform(
      |    list_sort(list_transform(string_split(text, ' '),
      |      w -> nullif(w, 'the')), 'DESC', 'NULLS LAST'),
      |    w -> coalesce(w, '~')), ',') AS sorted_desc,
      |  lower(hex(encode(source))) AS src_hex,
      |  source AS b64_roundtrip,
      |  to_base64(encode(lang)) AS lang_b64,
      |  lang AS asmap_b
      |FROM documents""".stripMargin

  /** The BYTES codec API (TO_BYTES/FROM_BYTES over hex/base64/utf8/
    * ascii, lowercase hex out), SPLIT_TO_MAP with the duplicate-key
    * LAST-wins rule exercised on every row, REGEXP_EXTRACT_ALL in
    * ksql's pattern-first order, FORMAT_DATE/PARSE_DATE/UNIX_DATE,
    * and numeric TRUNC (1-arg → BIGINT toward zero incl. negatives;
    * 2-arg decimal places surfaced on a rounded e4 grid). */
  def bytesStrMap(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  FROM_BYTES(TO_BYTES(source, 'utf8'), 'hex') AS src_hex,
        |  FROM_BYTES(TO_BYTES(source, 'utf8'), 'base64') AS src_b64,
        |  FROM_BYTES(TO_BYTES(FROM_BYTES(TO_BYTES(lang, 'utf8'), 'hex'),
        |    'hex'), 'utf8') AS lang_rt,
        |  FROM_BYTES(TO_BYTES(source, 'ascii'), 'utf8') AS ascii_rt,
        |  ELEMENT_AT(SPLIT_TO_MAP(CONCAT('k1:', lang, ';k2:', source,
        |    ';k1:', CAST(doc_id AS STRING)), ';', ':'), 'k1') AS stm_last,
        |  ELEMENT_AT(SPLIT_TO_MAP(CONCAT('k1:', lang, ';k2:', source,
        |    ';k1:', CAST(doc_id AS STRING)), ';', ':'), 'k2') AS stm_k2,
        |  CAST(CARDINALITY(SPLIT_TO_MAP(CONCAT('k1:', lang, ';k2:', source,
        |    ';k1:', CAST(doc_id AS STRING)), ';', ':')) AS BIGINT)
        |    AS stm_size,
        |  ARRAY_JOIN(REGEXP_EXTRACT_ALL('([a-z]+)',
        |    CONCAT(source, '.', lang), 1)) AS rex_all,
        |  FORMAT_DATE(PARSE_DATE(CONCAT('2024-0',
        |    CAST(doc_id % 9 + 1 AS STRING), '-11'), 'yyyy-MM-dd'),
        |    'dd/MM/yyyy') AS fmt_date,
        |  CAST(UNIX_DATE(PARSE_DATE(CONCAT('2024-0',
        |    CAST(doc_id % 9 + 1 AS STRING), '-11'), 'yyyy-MM-dd'))
        |    AS BIGINT) AS epoch_days,
        |  TRUNC(CAST(doc_id AS DOUBLE) / 7) AS trunc0,
        |  TRUNC(CAST(3 - doc_id AS DOUBLE) / 7) AS trunc_neg,
        |  ROUND(TRUNC(doc_id / 7.0, 2) * 10000) AS trunc2_e4,
        |  CAST(INT_FROM_BYTES(TO_BYTES(
        |    LPAD(CAST(doc_id AS STRING), 8, '0'), 'hex')) AS BIGINT)
        |    AS ifb,
        |  CAST(DOUBLE_FROM_BYTES(TO_BYTES('3ff8000000000000', 'hex'))
        |    * doc_id * 2 AS BIGINT) AS dfb3
        |FROM documents""".stripMargin)

  val bytesStrMapSql: String =
    """SELECT doc_id,
      |  lower(hex(source)) AS src_hex,
      |  to_base64(encode(source)) AS src_b64,
      |  lang AS lang_rt,
      |  source AS ascii_rt,
      |  CAST(doc_id AS VARCHAR) AS stm_last,
      |  source AS stm_k2,
      |  CAST(2 AS BIGINT) AS stm_size,
      |  'src' || ',' || lang AS rex_all,
      |  strftime(make_date(2024, CAST(doc_id % 9 + 1 AS INT), 11),
      |    '%d/%m/%Y') AS fmt_date,
      |  CAST(date_diff('day', DATE '1970-01-01',
      |    make_date(2024, CAST(doc_id % 9 + 1 AS INT), 11)) AS BIGINT)
      |    AS epoch_days,
      |  CAST(trunc(CAST(doc_id AS DOUBLE) / 7) AS BIGINT) AS trunc0,
      |  CAST(trunc(CAST(3 - doc_id AS DOUBLE) / 7) AS BIGINT) AS trunc_neg,
      |  CAST(round(floor(doc_id / 7.0 * 100) / 100 * 10000) AS BIGINT)
      |    AS trunc2_e4,
      |  ('0x' || lpad(CAST(doc_id AS VARCHAR), 8, '0'))::BIGINT AS ifb,
      |  CAST(doc_id * 3 AS BIGINT) AS dfb3
      |FROM documents""".stripMargin

  /** ksql CAST fidelity — the Java error model the dialect executor
    * scopes in (legacy eval mode): a failed string parse yields NULL
    * (ANSI would throw CAST_INVALID_INPUT and kill the persistent
    * query a ksql user expects to keep running), a narrowing overflow
    * WRAPS (ksqlDB's SqlCasts call .intValue()), and double→int
    * truncates toward zero (DuckDB's cast ROUNDS, so the oracle
    * spells the expected values algebraically). */
  def castFidelity(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  CAST(CAST(CONCAT('x', lang) AS INT) AS BIGINT) AS bad_int,
        |  CAST(CAST('12' AS INT) + doc_id AS BIGINT) AS good_int,
        |  CAST(CAST(2147483647 + doc_id + 1 AS INT) AS BIGINT) AS wrapped,
        |  CAST(CAST(CAST(4.9 AS DOUBLE) + doc_id AS INT) AS BIGINT)
        |    AS trunc_d
        |FROM documents""".stripMargin)

  val castFidelitySql: String =
    """SELECT doc_id,
      |  CAST(NULL AS BIGINT) AS bad_int,
      |  CAST(12 + doc_id AS BIGINT) AS good_int,
      |  CAST(doc_id - 2147483648 AS BIGINT) AS wrapped,
      |  CAST(doc_id + 4 AS BIGINT) AS trunc_d
      |FROM documents""".stripMargin

  /** The ksql math scalar surface — ABS/CEIL/FLOOR/EXP/LN/POWER/SIGN/
    * SQRT/CBRT/GREATEST/LEAST/ATAN2/ATAN/DEGREES/RADIANS/PI — over
    * events, every libm output rounded onto an integer grid (see the
    * object doc). ksql ROUND's 1-arg BIGINT return types the grid
    * columns on both engines. */
  def mathFuncs(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT event_id,
        |  CAST(ABS(user_id - 100) AS BIGINT) AS abs_u,
        |  CAST(CEIL(value) AS BIGINT) AS ceil_v,
        |  CAST(FLOOR(value) AS BIGINT) AS floor_v,
        |  ROUND(EXP(CAST(user_id % 5 AS DOUBLE)) * 1000) AS exp_mills,
        |  ROUND(LN(CAST(user_id + 1 AS DOUBLE)) * 1000) AS ln_mills,
        |  CAST(POWER(CAST(user_id % 7 AS DOUBLE), 3.0) AS BIGINT) AS pow3,
        |  CAST(SIGN(value - 50.0) AS BIGINT) AS sgn,
        |  ROUND(SQRT(CAST(user_id AS DOUBLE)) * 1000) AS sqrt_mills,
        |  ROUND(CBRT(CAST(user_id AS DOUBLE)) * 1000) AS cbrt_mills,
        |  CAST(GREATEST(user_id % 7, user_id % 5, 3) AS BIGINT) AS gst,
        |  CAST(LEAST(user_id % 7, user_id % 5, 3) AS BIGINT) AS lst,
        |  ROUND(ATAN2(CAST(user_id % 9 AS DOUBLE), 4.0) * 1000)
        |    AS atan2_mills,
        |  ROUND(DEGREES(ATAN(CAST(user_id % 11 AS DOUBLE))) * 100) AS deg_c,
        |  ROUND(RADIANS(CAST(user_id AS DOUBLE)) * 10000) AS rad_e4,
        |  ROUND(PI() * 10000) AS pi_e4
        |FROM events""".stripMargin)

  val mathFuncsSql: String =
    """SELECT event_id,
      |  CAST(abs(user_id - 100) AS BIGINT) AS abs_u,
      |  CAST(ceil(value) AS BIGINT) AS ceil_v,
      |  CAST(floor(value) AS BIGINT) AS floor_v,
      |  CAST(round(exp(CAST(user_id % 5 AS DOUBLE)) * 1000) AS BIGINT)
      |    AS exp_mills,
      |  CAST(round(ln(CAST(user_id + 1 AS DOUBLE)) * 1000) AS BIGINT)
      |    AS ln_mills,
      |  CAST(power(CAST(user_id % 7 AS DOUBLE), 3.0) AS BIGINT) AS pow3,
      |  CAST(sign(value - 50.0) AS BIGINT) AS sgn,
      |  CAST(round(sqrt(CAST(user_id AS DOUBLE)) * 1000) AS BIGINT)
      |    AS sqrt_mills,
      |  CAST(round(cbrt(CAST(user_id AS DOUBLE)) * 1000) AS BIGINT)
      |    AS cbrt_mills,
      |  CAST(greatest(user_id % 7, user_id % 5, 3) AS BIGINT) AS gst,
      |  CAST(least(user_id % 7, user_id % 5, 3) AS BIGINT) AS lst,
      |  CAST(round(atan2(CAST(user_id % 9 AS DOUBLE), 4.0) * 1000)
      |    AS BIGINT) AS atan2_mills,
      |  CAST(round(degrees(atan(CAST(user_id % 11 AS DOUBLE))) * 100)
      |    AS BIGINT) AS deg_c,
      |  CAST(round(radians(CAST(user_id AS DOUBLE)) * 10000) AS BIGINT)
      |    AS rad_e4,
      |  CAST(round(pi() * 10000) AS BIGINT) AS pi_e4
      |FROM events""".stripMargin

  // ---- Time ---------------------------------------------------------

  /** EXTRACTJSONFIELD over the events props column, the BIGINT-millis
    * time API (TIMESTAMPTOSTRING/STRINGTOTIMESTAMP), and the URL
    * extraction family over a row-derived URL. */
  def ksqlTimeJsonUrl(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT event_id,
        |  EXTRACTJSONFIELD(props, '$.k') AS k_val,
        |  TIMESTAMPTOSTRING(UNIX_MILLIS(ts), 'yyyy-MM-dd HH:mm:ss') AS ts_str,
        |  STRINGTOTIMESTAMP(
        |    TIMESTAMPTOSTRING(UNIX_MILLIS(ts), 'yyyy-MM-dd HH:mm:ss'),
        |    'yyyy-MM-dd HH:mm:ss') AS ts_ms,
        |  URL_EXTRACT_HOST(u) AS url_host,
        |  URL_EXTRACT_PATH(u) AS url_path,
        |  CAST(URL_EXTRACT_PORT(u) AS BIGINT) AS url_port,
        |  URL_EXTRACT_QUERY(u) AS url_query,
        |  URL_EXTRACT_PROTOCOL(u) AS url_proto
        |FROM (SELECT *,
        |        CONCAT('https://', event_type, '.example.com:8',
        |               CAST(user_id % 10 AS STRING), '80/u/',
        |               CAST(user_id AS STRING), '?k=',
        |               EXTRACTJSONFIELD(props, '$.k')) AS u
        |      FROM events)""".stripMargin)

  val ksqlTimeJsonUrlSql: String =
    """WITH e AS (
      |  SELECT *,
      |    'https://' || event_type || '.example.com:8' ||
      |      CAST(user_id % 10 AS VARCHAR) || '80/u/' ||
      |      CAST(user_id AS VARCHAR) || '?k=' ||
      |      json_extract_string(props, '$.k') AS u
      |  FROM events)
      |SELECT event_id,
      |  json_extract_string(props, '$.k') AS k_val,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
      |  epoch_ms(date_trunc('second', ts)) AS ts_ms,
      |  regexp_extract(u, '^https://([^/:]+)', 1) AS url_host,
      |  regexp_extract(u, '^https://[^/]+(/[^?#]*)', 1) AS url_path,
      |  CAST(regexp_extract(u, ':(\d+)/', 1) AS BIGINT) AS url_port,
      |  regexp_extract(u, '\?(.*)$', 1) AS url_query,
      |  'https' AS url_proto
      |FROM e""".stripMargin

  /** ksql's millisecond-based time arithmetic: UNIX_TIMESTAMP /
    * FROM_UNIXTIME (ms, unlike Spark's second-based namesakes),
    * 3-arg DATEADD/DATESUB/TIMESTAMPADD/TIMESTAMPSUB with ksql's
    * PLURAL unit identifiers (quoted by the dialect rewrite — Spark's
    * own TIMESTAMPADD grammar only accepts singular tokens), and
    * CONVERT_TZ's (ts, from, to) argument order. Timestamp outputs
    * are compared on the epoch-millisecond grid (exact integers both
    * sides); date outputs as strings (no fractional part to
    * format-skew). */
  def timeArith(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT event_id,
        |  CAST(UNIX_TIMESTAMP(ts) AS BIGINT) AS ts_ms,
        |  CAST(UNIX_TIMESTAMP(FROM_UNIXTIME(UNIX_TIMESTAMP(ts)))
        |    AS BIGINT) AS ms_roundtrip,
        |  CAST(UNIX_TIMESTAMP(TIMESTAMPADD(HOURS,
        |    CAST(user_id % 5 AS INT), ts)) AS BIGINT) AS add_hours_ms,
        |  CAST(UNIX_TIMESTAMP(TIMESTAMPSUB(MINUTES, 30, ts)) AS BIGINT)
        |    AS sub_min_ms,
        |  CAST(DATEADD(DAYS, CAST(user_id % 10 AS INT), CAST(ts AS DATE))
        |    AS STRING) AS d_add,
        |  CAST(DATESUB(MONTHS, 1, CAST(ts AS DATE)) AS STRING) AS d_sub,
        |  CAST(UNIX_TIMESTAMP(CAST(CONVERT_TZ(
        |    CAST(ts AS TIMESTAMP_NTZ), 'UTC', 'America/New_York')
        |    AS TIMESTAMP)) AS BIGINT) AS nyc_ms
        |FROM events""".stripMargin)

  val timeArithSql: String =
    """SELECT event_id,
      |  epoch_ms(ts) AS ts_ms,
      |  epoch_ms(ts) AS ms_roundtrip,
      |  epoch_ms(ts + (user_id % 5) * INTERVAL 1 HOUR) AS add_hours_ms,
      |  epoch_ms(ts - INTERVAL 30 MINUTE) AS sub_min_ms,
      |  CAST(CAST(CAST(ts AS DATE) + (user_id % 10) * INTERVAL 1 DAY
      |    AS DATE) AS VARCHAR) AS d_add,
      |  CAST(CAST(CAST(ts AS DATE) - INTERVAL 1 MONTH AS DATE)
      |    AS VARCHAR) AS d_sub,
      |  epoch_ms(timezone('America/New_York', timezone('UTC', ts)))
      |    AS nyc_ms
      |FROM events""".stripMargin

  /** The ksql `TIME` type surface ([[graft.functions.TimeCompat]]):
    * `PARSE_TIME` → INT millis-of-day (the Connect wire format,
    * `org.apache.kafka.connect.data.Time`), `FORMAT_TIME` back to
    * string, and the NULL-on-error model on BOTH sides — invalid
    * clock values, date-bearing patterns (an otherwise uncaught
    * DateTimeException), and out-of-range millis all yield NULL
    * without killing the query. The oracle spells millis-of-day as
    * plain integer arithmetic. */
  def timeType(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  PARSE_TIME(CONCAT(LPAD(CAST(doc_id % 24 AS STRING), 2, '0'), ':',
        |                    LPAD(CAST(doc_id % 60 AS STRING), 2, '0'), ':',
        |                    LPAD(CAST((doc_id * 7) % 60 AS STRING), 2, '0')),
        |             'HH:mm:ss') AS t_ms,
        |  FORMAT_TIME(CAST((doc_id * 9973) % 86400000 AS INT),
        |              'HH:mm:ss') AS t_str,
        |  FORMAT_TIME(PARSE_TIME('23:59:59', 'HH:mm:ss'),
        |              'HH:mm:ss') AS rt_max,
        |  FORMAT_TIME(CAST(0 AS INT), 'HH:mm:ss') AS rt_midnight,
        |  PARSE_TIME('25:00:00', 'HH:mm:ss') AS bad_hour,
        |  PARSE_TIME('2020-01-01', 'yyyy-MM-dd') AS datey_parse,
        |  FORMAT_TIME(CAST(-1 AS INT), 'HH:mm:ss') AS neg_ms,
        |  FORMAT_TIME(CAST(86400000 AS INT), 'HH:mm:ss') AS over_ms,
        |  FORMAT_TIME(CAST(doc_id % 1000 AS INT), 'yyyy-MM-dd') AS datey_fmt
        |FROM documents""".stripMargin)

  val timeTypeSql: String =
    """SELECT doc_id,
      |  CAST((doc_id % 24) * 3600000 + (doc_id % 60) * 60000
      |       + ((doc_id * 7) % 60) * 1000 AS INTEGER) AS t_ms,
      |  lpad(CAST(((doc_id * 9973) % 86400000) // 3600000 AS VARCHAR),
      |       2, '0') || ':' ||
      |  lpad(CAST((((doc_id * 9973) % 86400000) // 60000) % 60 AS VARCHAR),
      |       2, '0') || ':' ||
      |  lpad(CAST((((doc_id * 9973) % 86400000) // 1000) % 60 AS VARCHAR),
      |       2, '0') AS t_str,
      |  '23:59:59' AS rt_max,
      |  '00:00:00' AS rt_midnight,
      |  CAST(NULL AS INTEGER) AS bad_hour,
      |  CAST(NULL AS INTEGER) AS datey_parse,
      |  CAST(NULL AS VARCHAR) AS neg_ms,
      |  CAST(NULL AS VARCHAR) AS over_ms,
      |  CAST(NULL AS VARCHAR) AS datey_fmt
      |FROM documents""".stripMargin

  // ---- JSON ---------------------------------------------------------

  /** The JSON predicates/serializers beyond EXTRACTJSONFIELD /
    * JSON_KEYS (already covered): IS_JSON_STRING over valid and
    * deliberately-broken inputs, JSON_ARRAY_LENGTH (Spark and ksql
    * share the name and semantics), and TO_JSON_STRING over a struct
    * and an array. The struct constructor differs between dialects
    * (ksql `STRUCT(f := v)` vs named_struct) — the function under
    * test is the serializer, so the Spark spelling builds the input. */
  def jsonFuncs(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT event_id,
        |  CAST(IS_JSON_STRING(props) AS BIGINT) AS ok_obj,
        |  CAST(IS_JSON_STRING(SUBSTRING(props, 1, LENGTH(props) - 1))
        |    AS BIGINT) AS ok_broken,
        |  CAST(IS_JSON_STRING(CAST(user_id AS STRING)) AS BIGINT) AS ok_num,
        |  CAST(JSON_ARRAY_LENGTH(CONCAT('[',
        |    REPEAT('1,', CAST(user_id % 4 AS INT)), '1]')) AS BIGINT)
        |    AS arr_len,
        |  TO_JSON_STRING(NAMED_STRUCT('t', event_type, 'u', user_id))
        |    AS js_struct,
        |  TO_JSON_STRING(ARRAY(user_id % 7, user_id % 3)) AS js_arr
        |FROM events""".stripMargin)

  val jsonFuncsSql: String =
    """SELECT event_id,
      |  CAST(json_valid(props) AS BIGINT) AS ok_obj,
      |  CAST(json_valid(substr(props, 1, length(props) - 1)) AS BIGINT)
      |    AS ok_broken,
      |  CAST(json_valid(CAST(user_id AS VARCHAR)) AS BIGINT) AS ok_num,
      |  CAST(user_id % 4 + 1 AS BIGINT) AS arr_len,
      |  to_json({'t': event_type, 'u': user_id}) AS js_struct,
      |  to_json([user_id % 7, user_id % 3]) AS js_arr
      |FROM events""".stripMargin

  /** JSON_RECORDS (map of keys → SERIALIZED-JSON values — quotes and
    * braces intact, which no get_json_object composition reproduces)
    * and JSON_CONCAT (object merge right-wins / array concat / mixed
    * kinds wrap non-arrays into 1-element arrays, PG `||` style), the
    * two Jackson-backed native expressions
    * ([[graft.functions.JsonRecords]], [[graft.functions.JsonConcat]]),
    * end-to-end through the dialect over the events props column. */
  def jsonRecords(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT event_id,
        |  ELEMENT_AT(JSON_RECORDS(props), 'k') AS rec_k,
        |  CAST(CARDINALITY(JSON_RECORDS(props)) AS BIGINT) AS n_rec,
        |  ELEMENT_AT(JSON_RECORDS(JSON_CONCAT(props,
        |    CONCAT('{"u":', CAST(user_id AS STRING), ',"k":-1}'))), 'k')
        |    AS k_after,
        |  ELEMENT_AT(JSON_RECORDS(JSON_CONCAT(props,
        |    CONCAT('{"u":"', CAST(user_id AS STRING), '"}'))), 'u')
        |    AS rec_u,
        |  JSON_CONCAT('[1,2]', CONCAT('[', CAST(user_id AS STRING), ']'))
        |    AS arr_cat,
        |  JSON_CONCAT(props, '[1]') AS mixed_wrap
        |FROM events""".stripMargin)

  val jsonRecordsSql: String =
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS VARCHAR) AS rec_k,
      |  CAST(1 AS BIGINT) AS n_rec,
      |  '-1' AS k_after,
      |  '"' || CAST(user_id AS VARCHAR) || '"' AS rec_u,
      |  '[1,2,' || CAST(user_id AS VARCHAR) || ']' AS arr_cat,
      |  '[{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR)
      |    || '},1]' AS mixed_wrap
      |FROM events""".stripMargin

  /** `JSON_ITEMS` ([[graft.functions.JsonItems]] — array elements in
    * SERIALIZED-JSON form, quotes/braces intact; non-array → NULL) and
    * `URL_EXTRACT_PARAMETER` (named query-string parameter,
    * percent-DECODED as ksql's URI.getQuery-based extraction yields;
    * absent parameter → NULL), end-to-end through the dialect. The
    * inputs are constructed from columns so the oracle can spell every
    * expected value algebraically — no JSON/URL library needed on the
    * DuckDB side. */
  def jsonItemsUrl(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  ARRAY_JOIN(JSON_ITEMS(CONCAT('[', CAST(doc_id AS STRING), ',"',
        |    lang, '",{"a":', CAST(doc_id % 7 AS STRING), '},null]')), '|')
        |    AS items,
        |  CAST(ARRAY_LENGTH(JSON_ITEMS(CONCAT('[', CAST(doc_id AS STRING),
        |    ',[1,2],true]'))) AS BIGINT) AS n_items,
        |  ARRAY_JOIN(JSON_ITEMS(CONCAT('{"a":', CAST(doc_id AS STRING),
        |    '}'))) AS non_array,
        |  ARRAY_JOIN(JSON_ITEMS(CONCAT('[', lang))) AS invalid_json,
        |  URL_EXTRACT_PARAMETER(CONCAT('https://ex.com/p/', source,
        |    '?lang=', lang, '&id=', CAST(doc_id AS STRING),
        |    '&tag=a%20b'), 'lang') AS p_lang,
        |  URL_EXTRACT_PARAMETER(CONCAT('https://ex.com/p/', source,
        |    '?lang=', lang, '&id=', CAST(doc_id AS STRING),
        |    '&tag=a%20b'), 'id') AS p_id,
        |  URL_EXTRACT_PARAMETER(CONCAT('https://ex.com/p/', source,
        |    '?lang=', lang, '&id=', CAST(doc_id AS STRING),
        |    '&tag=a%20b'), 'tag') AS p_tag_decoded,
        |  URL_EXTRACT_PARAMETER(CONCAT('https://ex.com/p/', source,
        |    '?lang=', lang), 'missing') AS p_missing
        |FROM documents""".stripMargin)

  val jsonItemsUrlSql: String =
    """SELECT doc_id,
      |  CAST(doc_id AS VARCHAR) || '|"' || lang || '"|{"a":' ||
      |    CAST(doc_id % 7 AS VARCHAR) || '}|null' AS items,
      |  CAST(3 AS BIGINT) AS n_items,
      |  CAST(NULL AS VARCHAR) AS non_array,
      |  CAST(NULL AS VARCHAR) AS invalid_json,
      |  lang AS p_lang,
      |  CAST(doc_id AS VARCHAR) AS p_id,
      |  'a b' AS p_tag_decoded,
      |  CAST(NULL AS VARCHAR) AS p_missing
      |FROM documents""".stripMargin

  // ---- Collections and lambdas --------------------------------------

  /** Collection merges: ARRAY_CONCAT over two split spellings, and
    * MAP_UNION's right-wins duplicate-key semantics — the left map
    * seeds keys 'en'/'de' so every English/German row EXERCISES the
    * collision branch (a left-wins bug would surface as 1/2 instead
    * of doc_id and hash-mismatch the oracle). */
  def ksqlCollectionFuncs(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  CAST(ARRAY_LENGTH(ARRAY_CONCAT(SPLIT(source, '-'),
        |    REGEXP_SPLIT_TO_ARRAY(lang, 'n'))) AS BIGINT) AS concat_len,
        |  ELEMENT_AT(MAP_UNION(
        |    MAP('en', CAST(1 AS BIGINT), 'de', CAST(2 AS BIGINT)),
        |    MAP(lang, CAST(doc_id AS BIGINT))), lang) AS mu_lang,
        |  CAST(CARDINALITY(MAP_UNION(
        |    MAP('en', 1, 'de', 2), MAP(lang, 3))) AS BIGINT) AS mu_size
        |FROM documents""".stripMargin)

  val ksqlCollectionFuncsSql: String =
    """SELECT doc_id,
      |  CAST(len(list_concat(string_split(source, '-'),
      |    string_split_regex(lang, 'n'))) AS BIGINT) AS concat_len,
      |  CAST(doc_id AS BIGINT) AS mu_lang,
      |  CAST(CASE WHEN lang IN ('en', 'de') THEN 2 ELSE 3 END AS BIGINT)
      |    AS mu_size
      |FROM documents""".stripMargin

  /** ksql array set operations (first-occurrence order, deduped —
    * Spark's namesakes share exactly those semantics, pinned here
    * against an oracle that spells order-preserving dedup explicitly),
    * ARRAY_MAX/MIN/REMOVE/CONTAINS, ENTRIES with ksql's K/V struct
    * field names, and MAP_KEYS/MAP_VALUES. */
  def arrayOps(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  ARRAY_JOIN(ARRAY_DISTINCT(SPLIT(text, ' '))) AS dis_words,
        |  ARRAY_JOIN(ARRAY_UNION(SPLIT(source, 'c'), ARRAY['sr', 'xx']))
        |    AS uni_parts,
        |  ARRAY_JOIN(ARRAY_EXCEPT(SPLIT(text, ' '),
        |    ARRAY['the', 'a', 'value'])) AS exc_words,
        |  ARRAY_JOIN(ARRAY_INTERSECT(SPLIT(text, ' '),
        |    ARRAY['the', 'scan', 'key'])) AS int_words,
        |  ARRAY_MAX(SPLIT(text, ' ')) AS max_word,
        |  ARRAY_MIN(SPLIT(text, ' ')) AS min_word,
        |  ARRAY_JOIN(ARRAY_REMOVE(SPLIT(text, ' '), 'the')) AS rem_words,
        |  CAST(ARRAY_CONTAINS(SPLIT(text, ' '), 'spark') AS BIGINT)
        |    AS has_spark,
        |  ARRAY_JOIN(TRANSFORM(ENTRIES(MAP('b' := doc_id, 'a' := doc_id * 2),
        |    true), (e) => CONCAT(e->K, '=', CAST(e->V AS STRING))))
        |    AS entries_sorted,
        |  ARRAY_JOIN(ARRAY_SORT(MAP_KEYS(MAP('b' := doc_id,
        |    'a' := doc_id * 2)))) AS mkeys,
        |  CAST(ARRAY_MAX(MAP_VALUES(MAP('b' := doc_id, 'a' := doc_id * 2)))
        |    AS BIGINT) AS mval_max
        |FROM documents""".stripMargin)

  val arrayOpsSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, source, string_split(text, ' ') AS w
      |  FROM documents)
      |SELECT doc_id,
      |  coalesce(array_to_string(list_filter(w,
      |    (x, i) -> list_position(w, x) = i), ','), '') AS dis_words,
      |  coalesce(array_to_string(list_filter(
      |    list_concat(string_split(source, 'c'), ['sr', 'xx']),
      |    (x, i) -> list_position(
      |      list_concat(string_split(source, 'c'), ['sr', 'xx']), x) = i),
      |    ','), '') AS uni_parts,
      |  coalesce(array_to_string(list_filter(
      |    list_filter(w, (x, i) -> list_position(w, x) = i),
      |    x -> NOT list_contains(['the', 'a', 'value'], x)), ','), '')
      |    AS exc_words,
      |  coalesce(array_to_string(list_filter(
      |    list_filter(w, (x, i) -> list_position(w, x) = i),
      |    x -> list_contains(['the', 'scan', 'key'], x)), ','), '') AS int_words,
      |  list_aggregate(w, 'max') AS max_word,
      |  list_aggregate(w, 'min') AS min_word,
      |  coalesce(array_to_string(list_filter(w, x -> x <> 'the'), ','), '') AS rem_words,
      |  CAST(list_contains(w, 'spark') AS BIGINT) AS has_spark,
      |  'a=' || (doc_id * 2)::VARCHAR || ',b=' || doc_id::VARCHAR
      |    AS entries_sorted,
      |  'a,b' AS mkeys,
      |  CAST(doc_id * 2 AS BIGINT) AS mval_max
      |FROM t""".stripMargin

  /** ksql subscript syntax end-to-end: ONE-based array access,
    * negative from-the-end indices, NULL on out-of-range, map key
    * access — the dialect rewrite maps `base[idx]` onto
    * `try_element_at`, which is exactly ksql's rule (Spark's native
    * bracket is 0-based and ANSI-throws on misses, so a ported ksql
    * statement would silently be off by one). DuckDB lists are
    * 1-based with the same NULL/negative rules, so the oracle spells
    * the accesses natively. */
  def subscripts(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  SPLIT(text, ' ')[1] AS first_word,
        |  SPLIT(text, ' ')[-1] AS last_word,
        |  SPLIT(text, ' ')[1000] AS beyond,
        |  SPLIT(text, ' ')[CAST(doc_id %
        |    CAST(ARRAY_LENGTH(SPLIT(text, ' ')) AS BIGINT) AS INT) + 1]
        |    AS cyc_word,
        |  CAST(MAP('en' := 1, 'de' := 2, 'fr' := 3)[lang] AS BIGINT)
        |    AS lang_code,
        |  ARRAY['alpha', 'beta', 'gamma'][CAST(doc_id % 3 AS INT) + 1]
        |    AS arr_cyc
        |FROM documents""".stripMargin)

  val subscriptsSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
      |SELECT doc_id,
      |  w[1] AS first_word,
      |  w[-1] AS last_word,
      |  w[1000] AS beyond,
      |  w[CAST(doc_id % len(w) AS INT) + 1] AS cyc_word,
      |  CAST(CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2
      |       WHEN 'fr' THEN 3 END AS BIGINT) AS lang_code,
      |  (['alpha', 'beta', 'gamma'])[CAST(doc_id % 3 AS INT) + 1]
      |    AS arr_cyc
      |FROM t""".stripMargin

  /** The ksql INVOCATION (lambda) functions — TRANSFORM / FILTER /
    * REDUCE in both array and map forms, with ksql's `(x) => expr`
    * arrow spelling throughout (the dialect rewrite maps `=>` to
    * Spark's `->` and strips single-parameter parens). Array inputs
    * come from tokenized text; map inputs are built per-row so the
    * map-form lambdas run against data-dependent keys and values.
    * The DuckDB oracle spells the array forms with DuckDB's own
    * lambdas and the map forms algebraically (the maps are built
    * in-query, so their reduced values are derivable per row). */
  def lambdaFuncs(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  ARRAY_JOIN(TRANSFORM(SPLIT(text, ' '), (w) => UCASE(w)), ',')
        |    AS upper_words,
        |  CAST(ARRAY_LENGTH(FILTER(SPLIT(text, ' '),
        |    (w) => LENGTH(w) > 4)) AS BIGINT) AS n_long,
        |  CAST(REDUCE(TRANSFORM(SPLIT(text, ' '), (w) => LENGTH(w)),
        |    0, (acc, x) => acc + x) AS BIGINT) AS total_chars,
        |  ELEMENT_AT(TRANSFORM(MAP(lang, doc_id, source, doc_id * 2),
        |    (k, v) => UCASE(k), (k, v) => v + LENGTH(k)),
        |    UCASE(source)) AS tk_source,
        |  CAST(CARDINALITY(FILTER(MAP(lang, doc_id % 3, source, 2),
        |    (k, v) => v >= 1 AND k != 'zz')) AS BIGINT) AS n_kept,
        |  CAST(REDUCE(MAP(lang, doc_id, 'fixed', 10),
        |    CAST(0 AS BIGINT), (acc, k, v) => acc + v + LENGTH(k))
        |    AS BIGINT) AS map_sum
        |FROM documents""".stripMargin)

  val lambdaFuncsSql: String =
    """SELECT doc_id,
      |  array_to_string(list_transform(string_split(text, ' '),
      |    w -> upper(w)), ',') AS upper_words,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    w -> length(w) > 4)) AS BIGINT) AS n_long,
      |  CAST(list_sum(list_transform(string_split(text, ' '),
      |    w -> length(w))) AS BIGINT) AS total_chars,
      |  doc_id * 2 + length(source) AS tk_source,
      |  CAST(CASE WHEN doc_id % 3 >= 1 THEN 2 ELSE 1 END AS BIGINT)
      |    AS n_kept,
      |  CAST(doc_id + length(lang) + 10 + 5 AS BIGINT) AS map_sum
      |FROM documents""".stripMargin

  /** ksql MULTI-TABLE-FUNCTION semantics: two EXPLODEs in one select
    * list explode in lockstep (row count = longest array, shorter
    * null-padded) — Spark admits one generator per select, so the
    * dialect rewrite collapses them into a single
    * inline(transform(...)) zip ([[graft.ConnectorDdl
    * .rewriteKsqlMultiExplode]]). DuckDB/Postgres multiple unnests in
    * a select list have exactly the ksql zip rule, so the oracle
    * spells them natively. The BIGINT casts ride inside the arrays
    * (a ksql lambda / DuckDB list_transform), since the zip items
    * must be bare EXPLODE(...) calls. */
  def multiExplode(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT doc_id,
        |  EXPLODE(SPLIT(text, ' ')) AS word,
        |  EXPLODE(TRANSFORM(GENERATE_SERIES(1, CAST(doc_id % 4 AS INT) + 1),
        |    (x) => CAST(x AS BIGINT))) AS series_val
        |FROM documents""".stripMargin)

  val multiExplodeSql: String =
    """SELECT doc_id,
      |  unnest(string_split(text, ' ')) AS word,
      |  unnest(list_transform(generate_series(1, CAST(doc_id % 4 AS INT) + 1),
      |    x -> CAST(x AS BIGINT))) AS series_val
      |FROM documents""".stripMargin

  // ---- Aggregates ---------------------------------------------------

  /** ksql aggregates: COUNT_DISTINCT, TOPK, TOPKDISTINCT (builtin
    * compositions), HISTOGRAM (typed Aggregator, 1000-key cap) and the
    * 1-arg EARLIEST_BY_OFFSET UDAF, grouped by event_type.
    *
    * The TOPK/TOPKDISTINCT arrays are scalarized with ARRAY_JOIN —
    * the driver's oracle harness canonicalizes rows by sorting, which
    * cannot hash bare array cells (the same contract every other
    * array-producing catalog query follows, e.g. q_array_funcs). The
    * joined string still verifies the full array content AND order.
    * HISTOGRAM lookup uses TRY_ELEMENT_AT: under Spark 4's default
    * ANSI mode a plain ELEMENT_AT throws MAP_KEY_DOES_NOT_EXIST when
    * a group has no user_id%7=3 row — COALESCE can't catch an error. */
  def ksqlAggFuncs(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT event_type,
        |  CAST(COUNT_DISTINCT(user_id) AS BIGINT) AS n_users,
        |  ARRAY_JOIN(CAST(TOPK(CAST(ROUND(value * 100) AS BIGINT), 3)
        |    AS ARRAY<STRING>), ',') AS top_cents,
        |  ARRAY_JOIN(CAST(TOPKDISTINCT(user_id, 5) AS ARRAY<STRING>), ',')
        |    AS top_users,
        |  CAST(CARDINALITY(HISTOGRAM(CAST(user_id % 7 AS STRING)))
        |    AS BIGINT) AS hist_size,
        |  COALESCE(TRY_ELEMENT_AT(HISTOGRAM(CAST(user_id % 7 AS STRING)),
        |    '3'), CAST(0 AS BIGINT)) AS hist_3,
        |  EARLIEST_BY_OFFSET(event_id, CAST(user_id AS STRING)) AS first_user
        |FROM events
        |GROUP BY event_type""".stripMargin)

  val ksqlAggFuncsSql: String =
    """SELECT event_type,
      |  count(DISTINCT user_id) AS n_users,
      |  array_to_string(list_slice(list_sort(
      |    list(CAST(round(value * 100) AS BIGINT)), 'DESC'), 1, 3), ',')
      |    AS top_cents,
      |  array_to_string(list_slice(list_sort(list(DISTINCT user_id),
      |    'DESC'), 1, 5), ',') AS top_users,
      |  count(DISTINCT user_id % 7) AS hist_size,
      |  CAST(count(*) FILTER (user_id % 7 = 3) AS BIGINT) AS hist_3,
      |  arg_min(CAST(user_id AS VARCHAR), event_id) AS first_user
      |FROM events
      |GROUP BY event_type""".stripMargin

  /** ksqlDB 0.28's optional `ignoreNulls` flag on LATEST_BY_OFFSET /
    * EARLIEST_BY_OFFSET, through the engine's explicit-offset UDAF
    * registrations (`latest_by_offset(offset, value[, ignoreNulls])`,
    * boolean literal, default false = keep nulls, the Debezium
    * tombstone behavior). NULLIF plants a null value on every 'click'
    * row (~20% of events), so both branches are exercised with real
    * null runs: keep-forms return null whenever the newest/oldest
    * event is a click; skip-forms dig past them to the newest/oldest
    * NON-null value. The DuckDB oracle spells keep as an
    * offset-ordered list head and skip as the same list with a
    * FILTER — list [1] of an empty filtered list is NULL, matching
    * the all-null-key result. The k-BOUNDED family takes the same
    * flag (`latest_3_by_offset(offset, value, true)`): nulls must
    * never occupy one of the k slots, so the joined slice holds the
    * 3 newest/oldest non-null values in ksql ascending order. */
  def latestByOffsetNulls(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT user_id,
        |  LATEST_BY_OFFSET(event_id, NULLIF(event_type, 'click'))
        |    AS latest_keep,
        |  LATEST_BY_OFFSET(event_id, NULLIF(event_type, 'click'), true)
        |    AS latest_skip,
        |  EARLIEST_BY_OFFSET(event_id, NULLIF(event_type, 'click'), false)
        |    AS earliest_keep,
        |  EARLIEST_BY_OFFSET(event_id, NULLIF(event_type, 'click'), true)
        |    AS earliest_skip,
        |  ARRAY_JOIN(LATEST_3_BY_OFFSET(event_id,
        |    NULLIF(event_type, 'click'), true), ',') AS latest3_skip,
        |  ARRAY_JOIN(EARLIEST_3_BY_OFFSET(event_id,
        |    NULLIF(event_type, 'click'), true), ',') AS earliest3_skip
        |FROM events GROUP BY user_id""".stripMargin)

  val latestByOffsetNullsSql: String =
    """SELECT user_id,
      |  (list(nullif(event_type, 'click') ORDER BY event_id DESC))[1]
      |    AS latest_keep,
      |  (list(nullif(event_type, 'click') ORDER BY event_id DESC)
      |    FILTER (event_type <> 'click'))[1] AS latest_skip,
      |  (list(nullif(event_type, 'click') ORDER BY event_id ASC))[1]
      |    AS earliest_keep,
      |  (list(nullif(event_type, 'click') ORDER BY event_id ASC)
      |    FILTER (event_type <> 'click'))[1] AS earliest_skip,
      |  array_to_string(list_reverse(
      |    (list(nullif(event_type, 'click') ORDER BY event_id DESC)
      |     FILTER (event_type <> 'click'))[1:3]), ',') AS latest3_skip,
      |  array_to_string(
      |    (list(nullif(event_type, 'click') ORDER BY event_id ASC)
      |     FILTER (event_type <> 'click'))[1:3], ',') AS earliest3_skip
      |FROM events GROUP BY user_id""".stripMargin

  /** The statistics aggregates: STDDEV_SAMP (shared name) and
    * CORRELATION (ksql name for Spark's corr), alongside AVG as an
    * anchor. Double outputs are rounded onto coarse integer grids —
    * mills for avg/stddev, centi-units for the correlation — so
    * summation-order ulp differences between engines can't flip the
    * hash (the same policy as geo_distance's integer meters). */
  def statsAggs(s: SparkSession, d: String): DataFrame =
    run(s, d,
      """SELECT event_type,
        |  CAST(ROUND(AVG(value) * 1000) AS BIGINT) AS avg_mills,
        |  CAST(ROUND(STDDEV_SAMP(value) * 1000) AS BIGINT) AS sd_mills,
        |  CAST(ROUND(CORRELATION(value, CAST(user_id AS DOUBLE)) * 100)
        |    AS BIGINT) AS corr_c,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY event_type""".stripMargin)

  val statsAggsSql: String =
    """SELECT event_type,
      |  CAST(ROUND(AVG(value) * 1000) AS BIGINT) AS avg_mills,
      |  CAST(ROUND(STDDEV_SAMP(value) * 1000) AS BIGINT) AS sd_mills,
      |  CAST(ROUND(CORR(value, CAST(user_id AS DOUBLE)) * 100)
      |    AS BIGINT) AS corr_c,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM events
      |GROUP BY event_type""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("q_ksql_scalar_funcs", ksqlScalarFuncs, ksqlScalarFuncsSql),
    Entry("q_ksql_string_funcs", stringFuncs, stringFuncsSql),
    Entry("q_ksql_chr_instr", chrInstr, chrInstrSql),
    Entry("q_ksql_sort_encode", sortEncodeFuncs, sortEncodeFuncsSql),
    Entry("q_ksql_bytes_strmap", bytesStrMap, bytesStrMapSql),
    Entry("q_ksql_cast_fidelity", castFidelity, castFidelitySql),
    Entry("q_ksql_math_funcs", mathFuncs, mathFuncsSql),
    Entry("q_ksql_time_json_url", ksqlTimeJsonUrl, ksqlTimeJsonUrlSql),
    Entry("q_ksql_time_arith", timeArith, timeArithSql),
    Entry("q_ksql_time_type", timeType, timeTypeSql),
    Entry("q_ksql_json_funcs", jsonFuncs, jsonFuncsSql),
    Entry("q_ksql_json_records", jsonRecords, jsonRecordsSql),
    Entry("q_ksql_json_items_url", jsonItemsUrl, jsonItemsUrlSql),
    Entry("q_ksql_collection_funcs", ksqlCollectionFuncs,
      ksqlCollectionFuncsSql),
    Entry("q_ksql_array_ops", arrayOps, arrayOpsSql),
    Entry("q_ksql_subscripts", subscripts, subscriptsSql),
    Entry("q_ksql_lambda_funcs", lambdaFuncs, lambdaFuncsSql),
    Entry("q_ksql_multi_explode", multiExplode, multiExplodeSql),
    Entry("q_ksql_agg_funcs", ksqlAggFuncs, ksqlAggFuncsSql),
    Entry("q_latest_by_offset_nulls", latestByOffsetNulls,
      latestByOffsetNullsSql),
    Entry("q_ksql_stats_aggs", statsAggs, statsAggsSql))
}
