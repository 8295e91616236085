package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSql

/** The ksqlDB builtin-function compatibility pack
  * ([[graft.functions.KsqlCompat]]) exercised END-TO-END through
  * [[GraftSql.sql]] with the ksql spellings — including the names
  * whose Spark namesake differs (`MASK`, `SPLIT`, `REGEXP_EXTRACT`,
  * `ROUND`, …), which the dialect rewrite maps onto their `ksql_`
  * twins in [[graft.FunctionTable]] — each query hash-verified
  * against a DuckDB oracle that spells the same semantics natively.
  *
  * Determinism notes: integer-ish outputs are BIGINT on both engines;
  * `geo_distance` (libm trig on both sides) is rounded to integer
  * meters so a last-ulp difference can't flip the hash; `topk` inputs
  * go through the exact cents grid.
  */
object KsqlFunctionQueries {

  private def run(s: SparkSession, d: String, statement: String): DataFrame = {
    GraftSql.init(s, d)
    GraftSql.sql(s, statement)
  }

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

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ksql_scalar_funcs" -> ksqlScalarFuncs _,
    "q_ksql_time_json_url" -> ksqlTimeJsonUrl _,
    "q_ksql_collection_funcs" -> ksqlCollectionFuncs _,
    "q_ksql_agg_funcs" -> ksqlAggFuncs _,
    "q_latest_by_offset_nulls" -> latestByOffsetNulls _,
    "q_ksql_lambda_funcs" -> lambdaFuncs _,
    "q_ksql_sort_encode" -> sortEncodeFuncs _,
    "q_ksql_json_funcs" -> jsonFuncs _,
    "q_ksql_stats_aggs" -> statsAggs _,
    "q_ksql_time_arith" -> timeArith _,
    "q_ksql_subscripts" -> subscripts _,
    "q_ksql_chr_instr" -> chrInstr _,
    "q_ksql_multi_explode" -> multiExplode _)

  def oracles: Map[String, String] = Map(
    "q_ksql_scalar_funcs" -> ksqlScalarFuncsSql,
    "q_ksql_time_json_url" -> ksqlTimeJsonUrlSql,
    "q_ksql_collection_funcs" -> ksqlCollectionFuncsSql,
    "q_ksql_agg_funcs" -> ksqlAggFuncsSql,
    "q_latest_by_offset_nulls" -> latestByOffsetNullsSql,
    "q_ksql_lambda_funcs" -> lambdaFuncsSql,
    "q_ksql_sort_encode" -> sortEncodeFuncsSql,
    "q_ksql_json_funcs" -> jsonFuncsSql,
    "q_ksql_stats_aggs" -> statsAggsSql,
    "q_ksql_time_arith" -> timeArithSql,
    "q_ksql_subscripts" -> subscriptsSql,
    "q_ksql_chr_instr" -> chrInstrSql,
    "q_ksql_multi_explode" -> multiExplodeSql)
}
