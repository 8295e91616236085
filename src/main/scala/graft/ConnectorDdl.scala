package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.streaming.{BulkUpsertSink, ChangeFeed, DebeziumEnvelope,
  HttpBulkEndpoint, KafkaChangeFeed}

/** Connector DDL: the reference declares its sources and sinks INSIDE
  * the query language (`CREATE SOURCE CONNECTOR customers_reader WITH
  * (...)`, reference README.md:352-385; `CREATE SINK CONNECTOR
  * enriched_writer WITH (...)`, README.md:487-493 — first-class
  * statements per SURVEY §1.1). This makes those statements portable
  * 1:1: [[GraftSql.sql]] routes `CREATE/DROP SOURCE|SINK CONNECTOR`
  * and `SHOW CONNECTORS` here; everything else stays `spark.sql`.
  *
  * A CREATE registers the connector's properties in the session
  * catalog and returns a one-row status frame (what ksqlDB prints).
  * Materialization is deliberately LAZY — exactly like Connect, where
  * the statement provisions a job and the data flows later:
  *
  *  - a SOURCE connector yields its change feed on demand:
  *    [[ConnectorSpec.sourceFeed]] is the production door
  *    (`spark.readStream.format("kafka")` via [[KafkaChangeFeed]],
  *    fail-fast without the connector jar) and
  *    [[ConnectorSpec.offlineFeed]] the in-process [[ChangeFeed]]
  *    analog with the identical column contract. The Debezium SMT
  *    properties map onto the engine's unwrap knobs:
  *    `delete.handling.mode` → [[ConnectorSpec.deleteMode]],
  *    `drop.tombstones` → [[ConnectorSpec.dropTombstones]].
  *  - a SINK connector yields a keyed bulk upsert sink
  *    ([[ConnectorSpec.bulkSink]] → [[BulkUpsertSink]] over
  *    [[HttpBulkEndpoint]] at the spec's `connection.url`) — the ES
  *    sink's `_id`-from-key contract.
  *
  * ksqlDB persistent queries (CSAS/CTAS, reference README.md:434-480)
  * are also accepted: `CREATE STREAM|TABLE <name> [WITH (props)] AS
  * <select> [EMIT CHANGES|FINAL]` registers the SELECT as a view —
  * batch evaluation of the statement, which this engine's stream_*
  * oracle queries prove equal to the streaming result on finite input.
  * Plain Spark `CREATE TABLE … AS` (no EMIT clause) is NOT intercepted.
  *
  * Grammar (the reference's exact spelling; case-insensitive):
  * {{{
  * CREATE (SOURCE|SINK) CONNECTOR [IF NOT EXISTS] <name> WITH (
  *   '<prop>' = '<value>' [, ...] );
  * DROP CONNECTOR [IF EXISTS] <name>;
  * SHOW CONNECTORS;
  * CREATE (STREAM|TABLE) <name> [WITH (<props>)] AS <select> [EMIT CHANGES];
  * SET '<property>' = '<value>';
  * SHOW STREAMS;
  * }}} */
object ConnectorDdl {

  sealed trait Kind
  case object Source extends Kind
  case object Sink extends Kind

  case class ConnectorSpec(kind: Kind, name: String,
                           props: Map[String, String]) {

    def connectorClass: String = props.getOrElse("connector.class", "")

    /** Debezium `ExtractNewRecordState` SMT: `rewrite` surfaces deletes
      * with a __deleted marker, `drop` filters them (reference
      * README.md:361-364, 379-383). */
    def deleteMode: DebeziumEnvelope.DeleteMode =
      props.get("transforms.unwrap.delete.handling.mode") match {
        case Some("drop") => DebeziumEnvelope.Drop
        case _ => DebeziumEnvelope.Rewrite
      }

    /** Debezium's default is to DROP tombstones; the reference sets
      * 'false' so compaction markers reach the table (README.md:363). */
    def dropTombstones: Boolean =
      props.get("transforms.unwrap.drop.tombstones").forall(_ != "false")

    /** Production change feed for one of this source's topics —
      * requires the Kafka connector jar ([[KafkaChangeFeed]] column
      * contract; fails fast with Spark's standard missing-source error
      * without it). Bootstrap servers come from the connector's
      * `bootstrap.servers`/`kafka.bootstrap.servers` property or the
      * argument. */
    def sourceFeed(spark: SparkSession, topic: String,
                   bootstrapServers: String = null): DataFrame = {
      require(kind == Source, s"$name is a $kind connector, not SOURCE")
      val servers = Option(bootstrapServers)
        .orElse(props.get("kafka.bootstrap.servers"))
        .orElse(props.get("bootstrap.servers"))
        .getOrElse(throw new IllegalArgumentException(
          s"connector $name: no bootstrap servers in properties or arguments"))
      KafkaChangeFeed.df(spark, servers, topic)
    }

    /** Offline feed with the identical (key, value, offset, ts)
      * contract — the in-process topic analog for environments without
      * the Kafka jar (this sandbox) and for tests. */
    def offlineFeed(spark: SparkSession): ChangeFeed = {
      require(kind == Source, s"$name is a $kind connector, not SOURCE")
      new ChangeFeed(spark)
    }

    /** The sink spec's topic list: Kafka Connect `topics` is
      * comma-separated (one ES index per topic, mapped 1:1). */
    def topics: Seq[String] =
      props.get("topics").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

    /** Keyed bulk-upsert sink for a SINK connector: ships to the
      * spec's `connection.url`, index = the `topics` property (the ES
      * sink connector maps topic → index 1:1), `_id` = `keyCol` — the
      * reference's `key.ignore=false` contract (README.md:487-493).
      *
      * `topics` may list several comma-separated topics; each gets its
      * own index, so a multi-topic spec needs `topic` to say which
      * stream this sink instance carries (one sink per topic — the
      * connector's tasks are per-topic-partition too). */
    def bulkSink(keyCol: String, deletedCol: Option[String] = None,
                 orderCol: Option[String] = None,
                 topic: String = null): BulkUpsertSink = {
      require(kind == Sink, s"$name is a $kind connector, not SINK")
      val url = props.getOrElse("connection.url",
        throw new IllegalArgumentException(
          s"connector $name: missing 'connection.url'"))
      val ts = topics
      if (ts.isEmpty) throw new IllegalArgumentException(
        s"connector $name: missing 'topics'")
      val index = Option(topic) match {
        case Some(t) =>
          if (!ts.contains(t)) throw new IllegalArgumentException(
            s"connector $name: topic '$t' not in 'topics' ${ts.mkString("[", ", ", "]")}")
          t
        case None =>
          if (ts.size > 1) throw new IllegalArgumentException(
            s"connector $name: 'topics' lists ${ts.size} topics " +
              s"${ts.mkString("[", ", ", "]")} — pass topic=... to pick " +
              "the index this sink writes (one sink per topic)")
          ts.head
      }
      new BulkUpsertSink(keyCol, new HttpBulkEndpoint(url, index),
        deletedCol, orderCol)
    }
  }

  // ---- catalog (per-session, so parallel test sessions don't bleed) --

  /** Per-session DDL state: registered connectors plus the ksql kind
    * (STREAM vs TABLE) of each CSAS/CTAS-created view, so SHOW STREAMS
    * can exclude tables. */
  private class SessionDdl {
    val connectors = new ConcurrentHashMap[String, ConnectorSpec]()
    val viewKinds = new ConcurrentHashMap[String, String]()
    // the (rewritten) SELECT each CSAS/CTAS view was planned from —
    // what ksql EXPLAIN <name> reports as the statement text
    val viewSql = new ConcurrentHashMap[String, String]()
    // INSERT INTO ... VALUES accumulator per view: the base DataFrame
    // captured at the FIRST insert plus every literal row inserted
    // since. The view is re-registered as base ∪ LocalRelation(rows),
    // a 2-deep plan whatever N is — chaining unionByName per insert
    // would grow an N-deep plan whose re-analysis cost rises linearly
    // (and the rows are VALUES literals, so buffering them driver-side
    // is exact, tiny, and broadcast-friendly). Entries are invalidated
    // when a CSAS/CTAS/stream definition replaces the view.
    val inserts = new ConcurrentHashMap[
      String, (org.apache.spark.sql.DataFrame,
               Seq[org.apache.spark.sql.Row])]()
    // CREATE TYPE registry: lowercase name → fully-resolved Spark DDL
    // type string (ksql scalar spellings already translated)
    val types = new ConcurrentHashMap[String, String]()
    // keys SET via the ksql quoted form, so SHOW PROPERTIES lists the
    // session's own overrides (not the full Spark conf dump)
    val setKeys = ConcurrentHashMap.newKeySet[String]()
    // DEFINE variable registry (lowercased names): `${name}`
    // substitutes textually in every statement
    val variables = new ConcurrentHashMap[String, String]()
  }

  // weak keys: a stopped-and-dropped SparkSession must not be pinned
  // forever by its registrations (long-lived JVMs build and discard
  // many sessions); all access synchronizes on the map
  private val sessions =
    new java.util.WeakHashMap[SparkSession, SessionDdl]()

  private def state(spark: SparkSession): SessionDdl = sessions.synchronized {
    sessions.computeIfAbsent(spark, _ => new SessionDdl)
  }

  private def catalog(spark: SparkSession) = state(spark).connectors
  private def kinds(spark: SparkSession) = state(spark).viewKinds
  private def stmts(spark: SparkSession) = state(spark).viewSql

  def connector(spark: SparkSession, name: String): Option[ConnectorSpec] =
    Option(catalog(spark).get(name.toLowerCase))

  def connectors(spark: SparkSession): Seq[ConnectorSpec] = {
    import scala.jdk.CollectionConverters._
    catalog(spark).values.asScala.toSeq.sortBy(_.name)
  }

  // ---- parser -------------------------------------------------------

  // connector names: bare identifiers incl. Connect-idiomatic hyphens
  // (customers-reader), or backquoted for anything else
  private val nameRe = """(?:`([^`]+)`|([A-Za-z_][\w-]*))"""
  private val createRe =
    (s"""(?is)\\s*CREATE\\s+(SOURCE|SINK)\\s+CONNECTOR\\s+(IF\\s+NOT\\s+EXISTS\\s+)?$nameRe\\s+WITH\\s*\\((.*)\\)\\s*;?\\s*""").r
  private val dropRe =
    (s"""(?is)\\s*DROP\\s+CONNECTOR\\s+(IF\\s+EXISTS\\s+)?$nameRe\\s*;?\\s*""").r
  // ksql `DROP STREAM/TABLE [IF EXISTS] <name> [DELETE TOPIC]`: remove
  // the session relation (and its kind/EXPLAIN/INSERT bookkeeping).
  // `DROP TABLE` is ALSO valid Spark SQL — a name this session never
  // declared as a ksql relation delegates to spark.sql, so real
  // catalog tables keep Spark-native drop semantics.
  private val dropRelationRe =
    (s"""(?is)\\s*DROP\\s+(STREAM|TABLE)\\s+(IF\\s+EXISTS\\s+)?$nameRe\\s*(DELETE\\s+TOPIC\\s*)?;?\\s*""").r
  private val showRe = """(?is)\s*SHOW\s+CONNECTORS\s*;?\s*""".r
  // ksql admin forms Spark lacks: quoted-key SET (the reference's FIRST
  // statement, README.md:346 — Spark's native SET would store the
  // quotes as part of the key) and SHOW STREAMS (ksql-only). NOTE:
  // bare `SHOW TABLES` and `DESCRIBE <name>` are ALSO intercepted
  // below with ksql semantics (the ksql migration surface owns those
  // spellings); Spark's richer native forms (`SHOW TABLES IN db`,
  // `DESCRIBE EXTENDED/FORMATTED ...`) do not match the regexes and
  // still reach spark.sql.
  private val setRe =
    """(?is)\s*SET\s+'([^']+)'\s*=\s*'((?:[^']|'')*)'\s*;?\s*""".r
  private val showStreamsRe = """(?is)\s*SHOW\s+STREAMS\s*;?\s*""".r
  // ksql CLI `UNSET 'prop'` (the inverse of quoted SET) and
  // `SHOW PROPERTIES` (the properties SET in this session — ksql
  // lists its config surface; the analog here is the session's
  // ksql-SET overrides, not every Spark conf)
  private val unsetRe = """(?is)\s*UNSET\s+'([^']+)'\s*;?\s*""".r
  private val showPropertiesRe = """(?is)\s*SHOW\s+PROPERTIES\s*;?\s*""".r
  // the rest of the ksql CLI session surface (ksqlDB 0.28 CLI around
  // reference README.md:340): relation introspection and persistent-
  // query management. DESCRIBE maps to a schema dump of the registered
  // view (Spark type names), SHOW TABLES to the CTAS-declared TABLE
  // views (the complement of SHOW STREAMS), SHOW QUERIES to the
  // session's StreamingQueryManager, TERMINATE to query.stop() by id
  // or name (TERMINATE ALL stops everything, as in ksql).
  private val showTablesRe = """(?is)\s*SHOW\s+TABLES\s*;?\s*""".r
  // bare DESCRIBE only: EXTENDED/FORMATTED stay Spark-native so the
  // richer catalog metadata remains reachable
  private val describeRe =
    (s"""(?is)\\s*DESCRIBE\\s+$nameRe\\s*;?\\s*""").r
  private val showQueriesRe = """(?is)\s*SHOW\s+QUERIES\s*;?\s*""".r
  // SHOW QUERIES EXTENDED: per-query state-size metrics from
  // StreamingQueryProgress (graft.streaming.QueryMetrics) — the
  // capacity-planning view; spec-verified, oracle-excluded (bytes are
  // store-layout-dependent)
  private val showQueriesExtRe =
    """(?is)\s*SHOW\s+QUERIES\s+EXTENDED\s*;?\s*""".r
  // SHOW STATE STORES: the per-operator drill-down of SHOW QUERIES
  // EXTENDED (one row per stateful operator of every active query) —
  // spec-verified, oracle-excluded like the EXTENDED view
  private val showStateStoresRe =
    """(?is)\s*SHOW\s+STATE\s+STORES\s*;?\s*""".r
  // ksql CLI `SHOW TOPICS`: the session's relations (the offline topic
  // analogs) plus every topic a registered sink connector exports
  private val showTopicsRe = """(?is)\s*SHOW\s+TOPICS\s*;?\s*""".r
  // ksql `INSERT INTO <stream> [(cols)] VALUES (...)`: append one
  // literal row to a registered relation. The tuple is handed to
  // Spark's own VALUES parser, so any literal/expression spelling the
  // engine accepts works here too.
  private val insertValuesRe =
    ("""(?is)\s*INSERT\s+INTO\s+(?:`([^`]+)`|([A-Za-z_]\w*))""" +
      """\s*(?:\(([^)]*)\))?\s*VALUES\s*(\(.*\))\s*;?\s*""").r
  // ksql variable substitution (0.18+): `DEFINE name = 'value'`,
  // `UNDEFINE name`, `SHOW VARIABLES`; `${name}` substitutes
  // TEXTUALLY before parsing — including inside string literals, as
  // in the ksql CLI — via [[substituteVariables]].
  private val defineRe =
    """(?is)\s*DEFINE\s+([A-Za-z_]\w*)\s*=\s*'((?:[^']|'')*)'\s*;?\s*""".r
  private val undefineRe =
    """(?is)\s*UNDEFINE\s+([A-Za-z_]\w*)\s*;?\s*""".r
  private val showVariablesRe =
    """(?is)\s*(?:SHOW|LIST)\s+VARIABLES\s*;?\s*""".r
  // ksql CLI `RUN SCRIPT '<path>'`: execute a statement file through
  // the session (the CLI's file-mode; GraftSql.script is the API)
  private val runScriptRe =
    """(?is)\s*RUN\s+SCRIPT\s+'([^']+)'\s*;?\s*""".r
  private val describeConnectorRe =
    (s"""(?is)\\s*DESCRIBE\\s+CONNECTOR\\s+$nameRe\\s*;?\\s*""").r
  private val showPluginsRe =
    """(?is)\s*(?:SHOW|LIST)\s+CONNECTOR\s+PLUGINS\s*;?\s*""".r
  // ksql `INSERT INTO <stream> SELECT … [EMIT CHANGES]`: the second
  // persistent-query form — append a derived stream into an EXISTING
  // one. The batch analog evaluates the select once (the same
  // finite-input equivalence every CSAS rides) and appends the result.
  private val insertSelectRe =
    ("""(?is)\s*INSERT\s+INTO\s+(?:`([^`]+)`|([A-Za-z_]\w*))""" +
      """\s+(SELECT\b.*?)(?:\s+EMIT\s+(?:CHANGES|FINAL))?\s*;?\s*""").r
  // ksql CLI `PRINT 'topic' [FROM BEGINNING] [LIMIT n]`: peek at a
  // topic's records. The topic's final dotted segment resolves to the
  // session relation of the same name (the streamDef convention);
  // LIMIT defaults to 10 as a peek, FROM BEGINNING is accepted (the
  // offline analog always reads from the start).
  private val printRe =
    ("""(?is)\s*PRINT\s+'([^']+)'\s*(FROM\s+BEGINNING\s*)?""" +
      """(?:LIMIT\s+(\d+)\s*)?;?\s*""").r
  private val terminateRe =
    """(?is)\s*TERMINATE\s+(?:`([^`]+)`|([\w-]+))\s*;?\s*""".r
  // ksql PAUSE/RESUME of persistent queries (by name/id, or ALL):
  // stop-with-checkpoint / restart-from-checkpoint via
  // [[graft.streaming.QueryControl]]
  private val pauseRe =
    """(?is)\s*PAUSE\s+(?:`([^`]+)`|([\w-]+))\s*;?\s*""".r
  private val resumeRe =
    """(?is)\s*RESUME\s+(?:`([^`]+)`|([\w-]+))\s*;?\s*""".r
  // ksql `ALTER STREAM|TABLE <name> ADD [COLUMN] <col> <type>[, ADD
  // …]`: widen the relation's schema; existing records read NULL for
  // the new columns (additive evolution — same rule the lake applies
  // via mergeSchema)
  private val alterRe =
    ("""(?is)\s*ALTER\s+(STREAM|TABLE)\s+(?:`([^`]+)`|([A-Za-z_]\w*))""" +
      """\s+(ADD\s+.+?)\s*;?\s*""").r
  private val alterAddRe =
    """(?is)\s*ADD\s+(?:COLUMN\s+)?(?:`([^`]+)`|([A-Za-z_]\w*))\s+(.+?)\s*""".r
  // ksql `EXPLAIN <name>` (a registered stream/table: statement text +
  // Spark's formatted plan) or `EXPLAIN <select>` (the select, run
  // through the same ksql rewrites, explained). Spark's own EXPLAIN
  // variants (EXTENDED/CODEGEN/COST/FORMATTED/ANALYZE ...) do NOT
  // match and stay Spark-native.
  private val explainRe =
    """(?is)\s*EXPLAIN\s+(?!EXTENDED\b|CODEGEN\b|COST\b|FORMATTED\b|ANALYZE\b)(.+?)\s*;?\s*""".r
  // ksql CLI `SHOW|LIST FUNCTIONS` / `DESCRIBE FUNCTION <name>`: the
  // engine's SQL-reachable function surface, introspectable the way a
  // ksql user expects. DESCRIBE FUNCTION of a non-graft name
  // delegates to Spark's native form so builtin docs stay reachable
  // through the same spelling.
  private val showFunctionsRe =
    """(?is)\s*(?:SHOW|LIST)\s+FUNCTIONS\s*;?\s*""".r
  private val describeFunctionRe =
    (s"""(?is)\\s*DESCRIBE\\s+FUNCTION\\s+$nameRe\\s*;?\\s*""").r

  // ksqlDB 0.28 `CREATE TYPE <name> AS <type>` — a session-scoped
  // named type alias reusable across stream DDL column lists (the
  // last ksql session-statement family). DROP TYPE and SHOW TYPES
  // complete the lifecycle. The type body is validated eagerly (a
  // malformed definition fails the CREATE, not a later stream DDL)
  // and stored FULLY RESOLVED, so types referencing earlier types
  // need only one substitution pass at use sites.
  private val createTypeRe =
    (s"""(?is)\\s*CREATE\\s+TYPE\\s+$nameRe\\s+AS\\s+(.+?)\\s*;?\\s*""").r
  private val dropTypeRe =
    (s"""(?is)\\s*DROP\\s+TYPE\\s+(IF\\s+EXISTS\\s+)?$nameRe\\s*;?\\s*""").r
  private val showTypesRe = """(?is)\s*SHOW\s+TYPES\s*;?\s*""".r
  // ksqlDB persistent queries (reference README.md:434-480): CREATE
  // STREAM|TABLE <name> [WITH (props)] AS <select> [EMIT CHANGES|FINAL]
  // the WITH block reuses propRe's quoted-value grammar so a ')'
  // inside a quoted property value (e.g. a URL with parentheses)
  // can't truncate the match and fall through to spark.sql
  private val csasRe =
    """(?is)\s*CREATE\s+(STREAM|TABLE)\s+([A-Za-z_]\w*)\s*(?:WITH\s*\(((?:'(?:[^']|'')*'|[^)'])*)\)\s*)?AS\s+(.*?)\s*(EMIT\s+(?:CHANGES|FINAL)\s*)?;?\s*""".r
  // 'key' = 'value' (ksqlDB quotes both) or bare-word key = 'value';
  // values may escape a quote by doubling it (ksql `''`)
  private val propRe = """(?s)(?:'([^']+)'|([\w.]+))\s*=\s*'((?:[^']|'')*)'""".r

  private def pick(quoted: String, bare: String): String =
    Option(quoted).getOrElse(bare)

  private def unescape(v: String): String = v.replace("''", "'")

  private def parseProps(body: String): Map[String, String] =
    propRe.findAllMatchIn(body).map { m =>
      Option(m.group(1)).getOrElse(m.group(2)) -> unescape(m.group(3))
    }.toMap

  // ksql re-key clause: `SELECT … FROM … PARTITION BY <col>` at the
  // TAIL of a CSAS select (ksqlDB's stream re-key — the output stream
  // is keyed and physically partitioned by the named column,
  // ksqlDB docs "Partition By"; the reference's session never re-keys,
  // so this closes the last ksql DDL keyword family). The `$` anchor
  // keeps window specs safe: `OVER (PARTITION BY …)` always ends in
  // `)`, never in a bare trailing identifier.
  private val partitionByRe =
    """(?is)^(.*?)\s+PARTITION\s+BY\s+([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*$""".r

  /** Split a CSAS select into (body, re-key column): ksql's PARTITION
    * BY is not Spark SQL, so it is peeled off before the select runs
    * and applied as an explicit hash re-partition on the result. */
  private[graft] def splitPartitionBy(select: String): (String, Option[String]) =
    select match {
      case partitionByRe(body, key) => (body, Some(key))
      case _ => (select, None)
    }

  // Bare ksql stream DEFINITION (no AS): `CREATE STREAM <name>
  // [(schema)] WITH (props);` — the reference's statements 4-6
  // (README.md:396-427) define streams over topics this way. CREATE
  // STREAM is always ksql syntax (Spark has no STREAM object), so this
  // never swallows a Spark statement. A full-string match: a trailing
  // `AS <select>` makes it a CSAS and fails this regex.
  private val streamDefRe =
    ("""(?is)\s*CREATE\s+STREAM\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s*""" +
      """(?:\(((?:[^()]|\([^)]*\))*)\)\s*)?WITH\s*\(((?:'(?:[^']|'')*'|[^)'])*)\)\s*;?\s*""").r

  // ---- function inventory (SHOW FUNCTIONS / DESCRIBE FUNCTION) ----

  /** (name, category, usage) for every [[FunctionTable]] entry; ksql's
    * CATEGORY column tells aggregates from scalars. */
  private def functionInventory: Seq[(String, String, String)] =
    FunctionTable.entries.map { case (id, info, _) =>
      (id.funcName,
        if (info.getGroup == FunctionTable.AggGroup) "AGGREGATE" else "SCALAR",
        info.getUsage)
    }.sortBy(_._1)

  /** Substitute session-registered CREATE TYPE names (word-boundary,
    * case-insensitive) inside a type spelling — `addr ADDRESS` and
    * `ARRAY<ADDRESS>` both resolve. Registered definitions are stored
    * fully resolved, so one pass suffices. */
  private def resolveTypes(spark: SparkSession, t: String): String = {
    import scala.jdk.CollectionConverters._
    var out = t
    state(spark).types.asScala.foreach { case (n, defn) =>
      out = ("(?i)\\b" + java.util.regex.Pattern.quote(n) + "\\b").r
        .replaceAllIn(out, java.util.regex.Matcher.quoteReplacement(defn))
    }
    out
  }

  /** ksql scalar types → Spark DDL types (for bare stream defs that
    * carry an inline schema). */
  private def ksqlType(t: String): String = t.toUpperCase match {
    case "TEXT" | "VARCHAR" | "STRING" => "STRING"
    case "INT" | "INTEGER" => "INT"
    case "BYTES" => "BINARY" // ksql's binary scalar is Spark's BINARY
    // ksql TIME = millis-of-day; Spark 4.1's TIME type is feature-
    // gated off, so the engine stores the Connect wire value itself
    // (org.apache.kafka.connect.data.Time: int32 ms since midnight) —
    // PARSE_TIME/FORMAT_TIME convert (graft.functions.TimeCompat)
    case "TIME" => "INT"
    case g if g.contains('<') => // MAP<K,V> / STRUCT<…> / ARRAY<T>:
      // translate the scalar names inside the generic, keep the shape
      g.replaceAll("\\bVARCHAR\\b|\\bTEXT\\b", "STRING")
        .replaceAll("\\bINTEGER\\b", "INT")
        .replaceAll("\\bBYTES\\b", "BINARY")
        // TIME only in TYPE position: a type is followed by `,` / `>`
        // / end-of-spelling, while a STRUCT FIELD literally named TIME
        // is followed by its own type (whitespace + word) and must NOT
        // be rewritten (STRUCT<TIME TIMESTAMP> keeps its column name)
        .replaceAll("\\bTIME\\b(?=\\s*(?:[,>]|$))", "INT")
    case other => other // BIGINT, DOUBLE, BOOLEAN, TIMESTAMP, DATE, …
  }

  // ksql stream-stream interval join: `FROM a [AS] x JOIN b [AS] y
  // WITHIN <n> <unit> ON <cond>` (reference README.md:464-480;
  // asymmetric `WITHIN (n unit, m unit)` = before/after). Spark has no
  // WITHIN keyword — the clause translates to the equivalent time-band
  // predicate on the two streams' event-time columns, which is exactly
  // how the engine's interval-join operators spell it
  // (StreamingQueries stream_interval_*: equi-key AND time band).
  private val tableAlias =
    """(\w+)(?:\s+(?:AS\s+)?(?!INNER\b|LEFT\b|RIGHT\b|FULL\b|OUTER\b|JOIN\b|WITHIN\b|ON\b)(\w+))?"""
  private val withinJoinRe =
    (s"""(?is)FROM\\s+$tableAlias\\s+(INNER\\s+|LEFT\\s+(?:OUTER\\s+)?|FULL\\s+(?:OUTER\\s+)?)?JOIN\\s+$tableAlias\\s+""" +
      s"""WITHIN\\s+(?:\\(\\s*(\\d+)\\s+(\\w+)\\s*,\\s*(\\d+)\\s+(\\w+)\\s*\\)|(\\d+)\\s+(\\w+))\\s+""" +
      s"""(?:GRACE\\s+PERIOD\\s+(\\d+)\\s+(\\w+)\\s+)?""" +
      s"""ON\\s+(.*?)(?=\\s+(?:WHERE|GROUP|HAVING|WINDOW|ORDER|LIMIT|EMIT|(?:INNER|LEFT|RIGHT|FULL|CROSS)\\s+\\w+|JOIN)\\b|\\s*$$)""").r

  private val intervalUnits = Set(
    "MILLISECOND", "SECOND", "MINUTE", "HOUR", "DAY")

  /** `clause` only labels the error: WITHIN bands and GRACE PERIOD
    * share the unit grammar and this one validator. */
  private def interval(n: String, unit: String,
                       clause: String = "WITHIN"): String = {
    val u = unit.toUpperCase.stripSuffix("S")
    require(intervalUnits.contains(u),
      s"unsupported $clause unit '$unit' (use ${intervalUnits.mkString("/")})")
    s"INTERVAL $n $u"
  }

  /** The session's registered temp views, partitioned by their ksql
    * kind: CTAS-declared TABLE views (`tablesOnly = true`, SHOW
    * TABLES) or everything else (SHOW STREAMS). */
  private def sessionViews(spark: SparkSession,
                           tablesOnly: Boolean): DataFrame = {
    val tables = {
      import scala.jdk.CollectionConverters._
      kinds(spark).asScala.collect { case (n, "TABLE") => n }.toSet
    }
    val in = col("name").isin(tables.toSeq: _*)
    spark.catalog.listTables()
      .filter(col("isTemporary"))
      .select(col("name"))
      .filter(if (tablesOnly) in else !in)
      .orderBy("name")
  }

  /** The view's event-time column for the WITHIN band: ksql compares
    * ROWTIMEs, so prefer a column literally named like the stream
    * time (`rowtime`/`ts`/`event_ts`/`timestamp`), else the view's
    * single timestamp-typed column. */
  private def eventTimeCol(spark: SparkSession, view: String): String = {
    val rel = spark.table(view)
    val fields = rel.schema.fields
    // preference ORDER matters: `rowtime` is the parsed/typed stream
    // time (the ksql ROWTIME analog) and must win over a raw string
    // `ts` column that merely precedes it in the schema — comparing a
    // non-ISO string ts in the band predicate casts to NULL and turns
    // the join into silent zero rows
    val preferred = Seq("rowtime", "ts", "event_ts", "timestamp")
    val tsType = org.apache.spark.sql.types.TimestampType
    val tsCols = fields.filter(_.dataType == tsType).map(_.name)
    // a DATA probe settles the string-vs-typed ambiguity the schema
    // alone cannot: an untyped preferred name (`ts` holding ISO
    // strings — the legacy-stream convention) is trusted ONLY if its
    // values actually cast to timestamps. Bounded planning-time cost:
    // up to 100 sampled rows through a pushed-down filter+limit.
    def castsCleanly(name: String): Boolean = {
      import org.apache.spark.sql.functions.{col, count, when}
      val t = spark.table(view)
      if (t.isStreaming) false
      else {
        // try_cast, not cast: ANSI mode makes a malformed string THROW
        // instead of producing the NULL the probe is looking for
        val probe = org.apache.spark.sql.functions
          .expr(s"try_cast(`$name` AS TIMESTAMP)")
        val sample = t
          .select(col(name)).filter(col(name).isNotNull).limit(100)
          .select(count(when(probe.isNull, 1)).as("bad"),
            count(col(name)).as("n"))
          .collect().head
        sample.getLong(1) > 0 && sample.getLong(0) == 0L
      }
    }
    // four tiers: (1) a preferred name that is ACTUALLY
    // timestamp-typed always wins (so a raw string `ts` can never
    // outrank a typed `event_ts`); (2) an untyped preferred name whose
    // sampled values all cast cleanly — the legacy ISO-string `ts`
    // keeps meaning EVENT time even when an unrelated timestamp-typed
    // `ingest_time`/`load_ts` sits beside it; (3) otherwise the view's
    // single timestamp-typed column, whatever its name — a typed
    // `created_at` must beat a NON-parsing preferred name, or the band
    // predicate casts the string to NULL and the join silently returns
    // zero rows; (4) the bare preferred name for all-string schemas
    // (no timestamp column anywhere, nothing sampled — e.g. an empty
    // legacy stream).
    //
    // STREAMING views cannot be sampled at plan time, so the probe
    // tier (2) never fires there — and letting the single-typed-column
    // tier (3) win in that case would make one unrelated
    // timestamp-typed column (an `ingest_time`) silently outrank a
    // legacy string `ts`, flipping the join from event time to ingest
    // time with no error. For streams, keep the legacy precedence:
    // the bare preferred name wins over the typed-column fallback.
    val barePreferred = preferred.flatMap(pn =>
      fields.map(_.name).find(_.toLowerCase == pn)).headOption
    preferred.flatMap(pn => fields.find(f =>
        f.name.toLowerCase == pn && f.dataType == tsType)).headOption
      .map(_.name)
      .orElse(if (rel.isStreaming) barePreferred
        else preferred.flatMap(pn =>
            fields.map(_.name).find(_.toLowerCase == pn))
          .find(castsCleanly))
      .orElse(if (tsCols.length == 1) Some(tsCols.head) else None)
      .orElse(if (tsCols.isEmpty) barePreferred else None)
      .getOrElse(throw new IllegalArgumentException(
        s"stream $view has no unambiguous event-time column for WITHIN — " +
          s"expected a TIMESTAMP-typed ${preferred.mkString("/")}, exactly " +
          s"one TIMESTAMP column, or (all-string schema) a column named " +
          s"${preferred.mkString("/")} " +
          s"(found: ${fields.map(f => s"${f.name}:${f.dataType.simpleString}")
            .mkString(", ")})"))
  }

  /** Translate every ksql `WITHIN` interval-join clause in `select` to
    * plain Spark SQL (no-op when none). Public to the package so the
    * SQL-surface spec can pin the rewrite text itself. */
  private[graft] def rewriteWithin(spark: SparkSession,
                                   select: String): String =
    withinJoinRe.replaceAllIn(select, m => {
      val (lTable, lAlias) = (m.group(1), Option(m.group(2)).getOrElse(m.group(1)))
      val joinType = Option(m.group(3)).getOrElse("")
      val (rTable, rAlias) = (m.group(4), Option(m.group(5)).getOrElse(m.group(4)))
      // symmetric `WITHIN n unit` or asymmetric `WITHIN (before, after)`
      val (before, after) =
        if (m.group(10) != null) (interval(m.group(10), m.group(11)),
                                  interval(m.group(10), m.group(11)))
        else (interval(m.group(6), m.group(7)),
              interval(m.group(8), m.group(9)))
      // ksql 0.28 `GRACE PERIOD n unit`: how long past the stream time
      // late rows are still admitted to the join state. Validate the
      // unit here; the clause does not change the batch band — on a
      // complete batch input every row is trivially within grace (the
      // same convergence argument that lets EMIT CHANGES strip). The
      // STREAMING runner reads it back via [[withinGrace]] as the
      // watermark delay, which is exactly Spark's late-admission bound.
      Option(m.group(12)).foreach(n =>
        interval(n, m.group(13), clause = "GRACE PERIOD"))
      val cond = m.group(14)
      val lt = s"$lAlias.${eventTimeCol(spark, lTable)}"
      val rt = s"$rAlias.${eventTimeCol(spark, rTable)}"
      val band = s"$rt >= $lt - $before AND $rt <= $lt + $after"
      java.util.regex.Matcher.quoteReplacement(
        s"FROM $lTable AS $lAlias ${joinType}JOIN $rTable AS $rAlias " +
          s"ON ($cond) AND $band")
    })

  // ksql windowed aggregation: `… FROM s WINDOW TUMBLING (SIZE n u
  // [, GRACE PERIOD n u]) GROUP BY k` (0.28 also HOPPING with
  // ADVANCE BY, and SESSION with a gap). Spark spells the same thing
  // as a window()/session_window() grouping expression.
  private val windowClauseRe =
    """(?is)\bWINDOW\s+(TUMBLING|HOPPING|SESSION)\s*\(([^)]*)\)\s*""".r
  private val sizeRe = """(?i)SIZE\s+(\d+)\s+(\w+)""".r
  private val advanceRe = """(?i)ADVANCE\s+BY\s+(\d+)\s+(\w+)""".r
  private val graceRe = """(?i)GRACE\s+PERIOD\s+(\d+)\s+(\w+)""".r
  private val retentionRe = """(?i)RETENTION\s+(\d+)\s+(\w+)""".r
  private val bareDurationRe = """(?i)^\s*(\d+)\s+(\w+)\s*$""".r

  /** Milliseconds of a validated `n unit` pair — for the RETENTION ≥
    * size + grace rule, which needs durations comparable across
    * units. */
  private def durationMs(n: String, unit: String, clause: String): Long = {
    interval(n, unit, clause) // unit validation + error wording
    val factor = unit.toUpperCase.stripSuffix("S") match {
      case "MILLISECOND" => 1L
      case "SECOND" => 1000L
      case "MINUTE" => 60L * 1000
      case "HOUR" => 3600L * 1000
      case "DAY" => 24L * 3600 * 1000
    }
    n.toLong * factor
  }

  /** `select` with every literal/comment/quoted-identifier span
    * blanked to spaces — length-preserving, so a match position on the
    * MASKED text indexes the same characters in the original. The
    * positional counterpart of [[outsideLiterals]] for rewrites that
    * need to find-then-splice rather than map segments. */
  private def maskLiterals(select: String): String = {
    val sb = new StringBuilder(select)
    literalSpanRe.findAllMatchIn(select).foreach { m =>
      var i = m.start
      while (i < m.end) { sb.setCharAt(i, ' '); i += 1 }
    }
    sb.toString
  }

  /** Whether `pos` in (masked) `select` sits at parenthesis depth 0 —
    * i.e. in the outer query, not inside a subquery or a function-call
    * argument list (where ANSI `substring(x FROM 1)` / a subquery's
    * own GROUP BY would fool a bare regex scan). */
  private def atDepth0(masked: String, pos: Int): Boolean = {
    var d = 0
    var i = 0
    while (i < pos) {
      masked.charAt(i) match {
        case '(' => d += 1
        case ')' => d -= 1
        case _ =>
      }
      i += 1
    }
    d == 0
  }

  /** Translate a ksql `WINDOW TUMBLING/HOPPING/SESSION (…)` clause to
    * the Spark `window(ts, …)`/`session_window(ts, gap)` grouping
    * expression, prepended to the statement's outer GROUP BY; the
    * `WINDOWSTART`/`WINDOWEND` pseudo-columns map onto the produced
    * struct's `start`/`end` fields. `GRACE PERIOD` validates and is
    * dropped here — as with WITHIN ([[withinGrace]]), on a complete
    * batch input every row is within grace; a streaming runner reads
    * it back via [[windowGrace]] as the watermark delay. No-op when
    * the statement has no WINDOW clause. All clause detection runs on
    * masked text at paren depth 0, so string literals, comments, ANSI
    * FROM-keyword expressions, and subquery GROUP BYs never match. */
  private[graft] def rewriteWindowClause(spark: SparkSession,
                                         select: String): String = {
    val masked = maskLiterals(select)
    val m = windowClauseRe.findAllMatchIn(masked)
      .find(w => atDepth0(masked, w.start)).getOrElse(return select)
    val kind = m.group(1).toUpperCase
    val body = m.group(2)
    def duration(n: String, unit: String, clause: String): String =
      interval(n, unit, clause).stripPrefix("INTERVAL ").toLowerCase
    graceRe.findFirstMatchIn(body).foreach(g =>
      interval(g.group(1), g.group(2), clause = "GRACE PERIOD"))
    val fromRel = (s"""(?is)\\bFROM\\s+$tableAlias""").r
      .findAllMatchIn(masked).find(f => atDepth0(masked, f.start))
      .getOrElse(throw new IllegalArgumentException(
        s"WINDOW clause without a FROM relation: ${select.take(80)}"))
      .group(1)
    val ts = eventTimeCol(spark, fromRel)
    // ksql RETENTION: how long a windowed table stays pull-queryable.
    // Validated here (ksql's rule: retention ≥ size/gap + grace) and
    // applied below as the queryable-window bound; a streaming runner
    // reads it back via [[windowRetention]] for state-cleanup config.
    val retention = retentionRe.findFirstMatchIn(body)
    val windowExpr = kind match {
      case "SESSION" =>
        val gap = bareDurationRe.findFirstMatchIn(
            retentionRe.replaceAllIn(graceRe.replaceAllIn(body, ""), "")
              .stripSuffix(",").trim.split(',').head)
          .map(g => duration(g.group(1), g.group(2), "WINDOW SESSION"))
          .getOrElse(throw new IllegalArgumentException(
            s"WINDOW SESSION needs a gap duration, got ($body)"))
        s"session_window($ts, '$gap')"
      case _ =>
        val size = sizeRe.findFirstMatchIn(body)
          .map(g => duration(g.group(1), g.group(2), s"WINDOW $kind SIZE"))
          .getOrElse(throw new IllegalArgumentException(
            s"WINDOW $kind needs SIZE, got ($body)"))
        val advance = advanceRe.findFirstMatchIn(body)
          .map(g => duration(g.group(1), g.group(2), "ADVANCE BY"))
        if (kind == "HOPPING" && advance.isEmpty)
          throw new IllegalArgumentException(
            s"WINDOW HOPPING needs ADVANCE BY, got ($body)")
        if (kind == "TUMBLING" && advance.isDefined)
          throw new IllegalArgumentException(
            s"WINDOW TUMBLING does not take ADVANCE BY (use HOPPING), " +
              s"got ($body)")
        advance.fold(s"window($ts, '$size')")(a =>
          s"window($ts, '$size', '$a')")
    }
    // retention must cover at least one full window plus the grace —
    // ksql rejects anything shorter at statement time, and so does
    // this rewrite (a silent accept would LOOK like ksql but evict
    // windows ksql still serves)
    retention.foreach { r =>
      val retMs = durationMs(r.group(1), r.group(2), "RETENTION")
      val graceMs = graceRe.findFirstMatchIn(body)
        .map(g => durationMs(g.group(1), g.group(2), "GRACE PERIOD"))
        .getOrElse(0L)
      val sizeMs = (if (kind == "SESSION") bareDurationRe.findFirstMatchIn(
          retentionRe.replaceAllIn(graceRe.replaceAllIn(body, ""), "")
            .stripSuffix(",").trim.split(',').head)
        else sizeRe.findFirstMatchIn(body))
        .map(g => durationMs(g.group(1), g.group(2), s"WINDOW $kind"))
        .getOrElse(0L)
      require(retMs >= sizeMs + graceMs,
        s"RETENTION ${r.group(1)} ${r.group(2)} must be at least the " +
          s"window size plus the grace period")
    }
    val struct = if (kind == "SESSION") "session_window" else "window"
    // drop the found clause by position (masking is length-preserving,
    // so masked positions index the original), group by the window
    // expression at the first depth-0 GROUP BY, and map the
    // pseudo-columns (outside literals/comments/quoted names)
    val stripped = select.substring(0, m.start) + select.substring(m.end)
    val strippedMasked =
      masked.substring(0, m.start) + masked.substring(m.end)
    val grouped = "(?is)\\bGROUP\\s+BY\\s+".r
      .findAllMatchIn(strippedMasked)
      .find(g => atDepth0(strippedMasked, g.start))
      .map(g => stripped.substring(0, g.start) +
        s"GROUP BY $windowExpr, " + stripped.substring(g.end))
      .getOrElse(throw new IllegalArgumentException(
        "a ksql WINDOW clause requires GROUP BY: " + select.take(80)))
    // RETENTION bounds which windows the materialized table still
    // serves: windows whose end has fallen more than the retention
    // behind the relation's latest event time are evicted — spelled as
    // a HAVING bound on the grouped window (the batch analog of the
    // state store's retention-based cleanup; scalar subquery for the
    // high-water mark, so the bound tracks the data, not wall clock)
    val retained = retention.fold(grouped) { r =>
      val bound = s"$struct.end > (SELECT MAX($ts) FROM $fromRel) - " +
        s"INTERVAL ${r.group(1)} " +
        s"${r.group(2).toUpperCase.stripSuffix("S")}"
      val gm = maskLiterals(grouped)
      "(?is)\\bHAVING\\s+".r.findAllMatchIn(gm)
        .find(h => atDepth0(gm, h.start)) match {
        case Some(h) => grouped.substring(0, h.end) +
          s"$bound AND " + grouped.substring(h.end)
        case None =>
          // insert before a depth-0 ORDER BY / LIMIT, else append
          val tail = "(?is)\\b(ORDER\\s+BY|LIMIT)\\b".r
            .findAllMatchIn(gm).find(t => atDepth0(gm, t.start))
          tail.fold(s"$grouped HAVING $bound")(t =>
            grouped.substring(0, t.start) + s"HAVING $bound " +
              grouped.substring(t.start))
      }
    }
    outsideLiterals(retained) { seg =>
      """(?i)\bWINDOWSTART\b""".r.replaceAllIn(
        """(?i)\bWINDOWEND\b""".r.replaceAllIn(seg, s"$struct.end"),
        s"$struct.start")
    }
  }

  /** The `GRACE PERIOD` of a ksql WINDOW clause, as the Spark
    * watermark delay string a STREAMING runner should pass to
    * `withWatermark` on the aggregation input (`None` when the clause
    * carries no grace — ksqlDB 0.28 then defaults to 24 hours). The
    * windowed-agg counterpart of [[withinGrace]]; same bound mapping. */
  private[graft] def windowGrace(select: String): Option[String] = {
    val masked = maskLiterals(select)
    windowClauseRe.findAllMatchIn(masked)
      .find(w => atDepth0(masked, w.start))
      .flatMap(w => graceRe.findFirstMatchIn(w.group(2)))
      .map(g => interval(g.group(1), g.group(2), clause = "GRACE PERIOD")
        .stripPrefix("INTERVAL "))
  }

  /** The `RETENTION` of a ksql WINDOW clause, as a Spark interval
    * string (`None` when absent — ksqlDB 0.28 then defaults to 24
    * hours). The batch rewrite already applies it as the
    * queryable-window bound ([[rewriteWindowClause]]); a streaming
    * runner additionally reads it back to size state-store cleanup
    * (`spark.sql.streaming.stateStore.minDeltasForSnapshot` and
    * watermark-driven eviction already bound state by grace — the
    * retention is the LONGER pull-query horizon). */
  private[graft] def windowRetention(select: String): Option[String] = {
    val masked = maskLiterals(select)
    windowClauseRe.findAllMatchIn(masked)
      .find(w => atDepth0(masked, w.start))
      .flatMap(w => retentionRe.findFirstMatchIn(w.group(2)))
      .map(r => interval(r.group(1), r.group(2), clause = "RETENTION")
        .stripPrefix("INTERVAL "))
  }

  /** The `GRACE PERIOD` of a ksql WITHIN join, as the Spark watermark
    * delay string a STREAMING runner should pass to `withWatermark` on
    * BOTH join inputs (`None` when the statement carries no grace
    * clause — ksqlDB 0.28 then defaults to 24 hours; the engine's
    * streaming interval joins default wider, see
    * [[graft.queries.StreamingQueries]]). The mapping is exact: ksql
    * admits a late row while stream-time − its timestamp ≤ grace, and
    * Spark's watermark admits a row while max-event-time − delay <
    * its timestamp — the same bound, and the same state-eviction
    * horizon for the symmetric join buffers. */
  private[graft] def withinGrace(select: String): Option[String] =
    withinJoinRe.findFirstMatchIn(select).flatMap(m =>
      Option(m.group(12)).map(n =>
        interval(n, m.group(13), clause = "GRACE PERIOD")
          .stripPrefix("INTERVAL ")))

  // ksql's 1-arg `latest_by_offset(x)` orders by the record's Kafka
  // offset implicitly; the engine's streams carry that as an `offset`
  // column (the ChangeFeed contract). ksqlDB 0.28's signature is
  // `latest_by_offset(x[, ignoreNulls])` with ignoreNulls DEFAULT
  // TRUE, so the verbatim 1-arg spelling translates to
  // `max_by(x, nvl2(x, offset, null))` — a null value nulls its own
  // ordering key, and max_by skips null orderings, which is exactly
  // "latest non-null value". The explicit `(x, false)` form keeps
  // nulls: plain `max_by(x, offset)`. The 2-arg explicit-offset UDAF
  // form stays untouched (only bare-identifier arguments match).
  private[graft] def rewriteLatestByOffset(select: String): String =
    outsideLiterals(select)(rewriteLatestByOffsetSegment)

  private def rewriteLatestByOffsetSegment(select: String): String = {
    def spell(fn: String, x: String, ignoreNulls: Boolean): String = {
      val by = if (fn.toLowerCase == "latest") "max_by" else "min_by"
      if (ignoreNulls) s"$by($x, nvl2($x, offset, null))"
      else s"$by($x, offset)"
    }
    val oneArg = """(?i)\b(latest|earliest)_by_offset\s*\(\s*([A-Za-z_]\w*)\s*\)""".r
      .replaceAllIn(select,
        m => spell(m.group(1), m.group(2), ignoreNulls = true))
    val boolArg = """(?i)\b(latest|earliest)_by_offset\s*\(\s*([A-Za-z_]\w*)\s*,\s*(true|false)\s*\)""".r
      .replaceAllIn(oneArg,
        m => spell(m.group(1), m.group(2), m.group(3).toLowerCase == "true"))
    // ksql's 2-arg form `latest_by_offset(x, N)` (N an int literal)
    // returns the N latest values as an array IN ASCENDING OFFSET
    // ORDER — ksqlDB's latestN buffer is sorted by sequence before
    // output, so the latest value is LAST (and earliestN's earliest is
    // first). Spelled with builtin collection functions: collect the
    // (offset, value) pairs, sort descending for latest / ascending
    // for earliest, slice the wanted N, project the value, and for
    // latest REVERSE the slice back into ascending order.
    // 3-arg `(x, N, ignoreNulls)`: with ignoreNulls the null-valued
    // rows must never occupy one of the N slots — collect_list skips
    // null ENTRIES, so nulling the whole struct for a null value
    // drops exactly those rows before the sort/slice
    val kBool =
      """(?i)\b(latest|earliest)_by_offset\s*\(\s*([A-Za-z_]\w*)\s*,\s*(\d+)\s*,\s*(true|false)\s*\)""".r
        .replaceAllIn(boolArg, m => {
          val latest = m.group(1).toLowerCase == "latest"
          val (x, n) = (m.group(2), m.group(3))
          val entry =
            if (m.group(4).toLowerCase == "true")
              s"if(isnull($x), null, struct(offset, $x))"
            else s"struct(offset, $x)"
          val sliced =
            s"transform(slice(sort_array(collect_list($entry), " +
              s"${!latest}), 1, $n), s -> s.$x)"
          java.util.regex.Matcher.quoteReplacement(
            if (latest) s"reverse($sliced)" else sliced)
        })
    """(?i)\b(latest|earliest)_by_offset\s*\(\s*([A-Za-z_]\w*)\s*,\s*(\d+)\s*\)""".r
      .replaceAllIn(kBool, m => {
        val latest = m.group(1).toLowerCase == "latest"
        val (x, n) = (m.group(2), m.group(3))
        val sliced =
          s"transform(slice(sort_array(collect_list(struct(offset, $x)), " +
            s"${!latest}), 1, $n), s -> s.$x)"
        java.util.regex.Matcher.quoteReplacement(
          if (latest) s"reverse($sliced)" else sliced)
      })
  }

  /** Apply a textual rewrite ONLY outside string literals ('' escapes
    * a quote inside a literal, the propRe grammar), SQL comments
    * (`--` to end-of-line and `/* */` blocks), and quoted identifiers
    * (`"..."` / backticks) — the shared guard for every regex-based
    * ksql rewrite: a hit inside `'ROWOFFSET n/a'`, a `-- ROWOFFSET`
    * comment, or a `` `rowoffset` `` identifier would silently corrupt
    * DATA or names, not plans. Alternation order matters: the literal/
    * comment openers are mutually exclusive at any position, so the
    * scanner never starts a span inside another span. */
  private val literalSpanRe =
    ("'(?:[^']|'')*'" +                // string literal, '' escape
      "|--[^\n]*" +                    // line comment to EOL
      "|/\\*[\\s\\S]*?\\*/" +          // block comment (non-greedy)
      "|\"(?:[^\"]|\"\")*\"" +         // quoted identifier
      "|`(?:[^`]|``)*`").r             // backtick identifier

  private def outsideLiterals(select: String)(f: String => String): String = {
    val lit = literalSpanRe
    val out = new StringBuilder
    var pos = 0
    lit.findAllMatchIn(select).foreach { m =>
      out ++= f(select.substring(pos, m.start))
      out ++= m.matched
      pos = m.end
    }
    out ++= f(select.substring(pos))
    out.toString
  }

  /** Split a multi-statement script on `;` OUTSIDE string literals,
    * comments, and quoted identifiers (the shared span grammar), for
    * [[GraftSql.script]]. Segments that are empty after comment
    * removal (trailing `;`, comment-only lines) are dropped; executed
    * segments keep their comments (Spark's parser handles them). */
  private[graft] def splitStatements(text: String): Seq[String] = {
    val spans = literalSpanRe.findAllMatchIn(text)
      .map(m => (m.start, m.end)).toList
    def inSpan(i: Int): Boolean =
      spans.exists(s => i >= s._1 && i < s._2)
    val cuts = text.indices.filter(i => text.charAt(i) == ';' && !inSpan(i))
    val bounds = -1 +: cuts.toList :+ text.length
    def commentFree(s: String): String =
      literalSpanRe.replaceAllIn(s, m =>
        if (m.matched.startsWith("--") || m.matched.startsWith("/*")) " "
        else java.util.regex.Matcher.quoteReplacement(m.matched))
    // leading comments are stripped from the EXECUTED text — the ksql
    // statement regexes anchor at statement start (and Spark's SET
    // parser rejects a comment-prefixed ksql SET), while comments
    // elsewhere in a statement pass through Spark's parser untouched
    val leadingComments =
      """^(?:\s*(?:--[^\n]*\n?|/\*[\s\S]*?\*/))+""".r
    bounds.sliding(2).collect {
      case List(a, b) if b > a + 1 => text.substring(a + 1, b)
    }.map(s => leadingComments.replaceFirstIn(s, "").trim)
      .filter(s => commentFree(s).trim.nonEmpty).toSeq
  }

  /** ksql variable substitution: every `${name}` whose lowercased name
    * is DEFINEd in this session is replaced textually — including
    * inside string literals, exactly as the ksql CLI substitutes
    * before parsing. Undefined references pass through to Spark,
    * whose OWN `${…}` substitution (`spark.sql.variable.substitute`,
    * conf/env-backed) then applies — DEFINE simply has priority. A
    * DEFINE statement itself is exempt (its value may legitimately
    * contain `${…}` to compose with later definitions at use time —
    * matching ksql, which stores the raw text). */
  private[graft] def substituteVariables(spark: SparkSession,
                                         statement: String): String =
    statement match {
      case defineRe(_, _) => statement
      case _ =>
        val vars = state(spark).variables
        if (vars.isEmpty) statement
        else """\$\{([A-Za-z_]\w*)\}""".r.replaceAllIn(statement, m =>
          Option(vars.get(m.group(1).toLowerCase))
            .map(java.util.regex.Matcher.quoteReplacement)
            .getOrElse(java.util.regex.Matcher
              .quoteReplacement(m.matched)))
    }

  /** Index of the bracket that closes the `(` or `[` at `open` in
    * masked text (a depth scan, so brackets nest), looking no further
    * than `end`; -1 when it stays open. */
  private def closingBracket(masked: String, open: Int, end: Int): Int = {
    val oc = masked.charAt(open)
    val cc = if (oc == '[') ']' else ')'
    var d = 0
    var i = open
    while (i < end) {
      val ch = masked.charAt(i)
      if (ch == oc) d += 1
      else if (ch == cc) { d -= 1; if (d == 0) return i }
      i += 1
    }
    -1
  }

  /** [[closingBracket]] over the whole text; a bracket left open is an
    * error naming `statement`. */
  private def requireClose(masked: String, open: Int,
                           statement: String): Int = {
    val close = closingBracket(masked, open, masked.length)
    if (close < 0) {
      val pair = if (masked.charAt(open) == '[') "[]" else "()"
      throw new IllegalArgumentException(
        s"unbalanced $pair in: ${statement.take(80)}")
    }
    close
  }

  /** ksql literal-constructor syntax → Spark spellings, none of which
    * Spark's parser accepts natively:
    *
    *  - `ARRAY[a, b]` → `array(a, b)` (bracket-matched, nestable)
    *  - `STRUCT(f := v, …)` → `named_struct('f', v, …)`
    *  - `MAP('k' := v, …)` → `map('k', v, …)`
    *
    * All matching runs on masked text (literals/comments blanked
    * positionally), with explicit depth scans for the closing
    * bracket/paren — a regex alone would be fooled by nesting. The
    * loop rewrites one outermost construct per pass and re-masks, so
    * nested constructors (an ARRAY inside a STRUCT value) resolve on
    * later passes; STRUCT/MAP spans WITHOUT `:=` are left for Spark's
    * own `struct`/`map` functions, which ARE those spellings. */
  private[graft] def rewriteKsqlConstructors(statement: String): String = {
    // indices (relative to span start) of depth-1 occurrences of `t`
    def depth1(masked: String, from: Int, to: Int,
               t: String): Seq[Int] = {
      val out = Seq.newBuilder[Int]
      var d = 0
      var i = from
      while (i < to) {
        masked.charAt(i) match {
          case '(' | '[' => d += 1
          case ')' | ']' => d -= 1
          case _ =>
            if (d == 1 && masked.startsWith(t, i)) out += i
        }
        i += 1
      }
      out.result()
    }
    var s = statement
    var changed = true
    while (changed) {
      changed = false
      val masked = maskLiterals(s)
      """(?i)\bARRAY\s*\[""".r.findFirstMatchIn(masked) match {
        case Some(m) =>
          val close = requireClose(masked, m.end - 1, statement)
          s = s.substring(0, m.start) + "array(" +
            s.substring(m.end, close) + ")" + s.substring(close + 1)
          changed = true
        case None =>
      }
      if (!changed) {
        // first STRUCT/MAP whose own argument level carries `:=`
        val hit = """(?i)\b(STRUCT|MAP)\s*\(""".r.findAllMatchIn(masked)
          .map { m =>
            val close = requireClose(masked, m.end - 1, statement)
            (m, close, depth1(masked, m.end - 1, close, ":="))
          }
          .find(_._3.nonEmpty)
        hit.foreach { case (m, close, assigns) =>
          val kind = m.group(1).toUpperCase
          if (kind == "STRUCT") {
            // field names become string literals: `f := v` → `'f', v`
            var body = s.substring(m.end, close)
            val base = m.end
            // rewrite right-to-left so positions stay valid
            assigns.reverse.foreach { pos =>
              val rel = pos - base
              // identifier (or backquoted name) directly before :=
              val lhs = """([A-Za-z_]\w*|`[^`]+`)\s*$""".r
                .findFirstMatchIn(body.substring(0, rel))
                .getOrElse(throw new IllegalArgumentException(
                  s"STRUCT field before := must be a name: ${s.take(80)}"))
              val name = lhs.matched.trim.stripPrefix("`").stripSuffix("`")
              body = body.substring(0, lhs.start) + s"'$name', " +
                body.substring(rel + 2)
            }
            s = s.substring(0, m.start) + "named_struct(" + body + ")" +
              s.substring(close + 1)
          } else {
            // MAP keys are expressions: `k := v` → `k, v`
            var body = s.substring(m.end, close)
            val base = m.end
            assigns.reverse.foreach { pos =>
              val rel = pos - base
              body = body.substring(0, rel) + "," + body.substring(rel + 2)
            }
            s = s.substring(0, m.start) + "map(" + body + ")" +
              s.substring(close + 1)
          }
          changed = true
        }
      }
    }
    s
  }

  /** The ksql dialect's function renames: every `ksql_<name>` entry of
    * [[FunctionTable]] is a twin of the Spark builtin `<name>`, whose
    * semantics differ ([[graft.functions.KsqlCompat]] says how, per
    * twin); a bare `<name>(` becomes `ksql_<name>(`. An aggregate
    * `FILTER (WHERE …)` clause is not ksql's lambda FILTER and stays. */
  private lazy val ksqlRenameRe = {
    val bare = FunctionTable.entries.map(_._1.funcName)
      .filter(_.startsWith("ksql_")).map(_.stripPrefix("ksql_"))
    raw"""(?i)\b(${bare.mkString("|")})\s*\((?!\s*WHERE\b)""".r
  }

  /** The ksql dialect of [[GraftSql.sql]] as text rewrites, so ksql
    * statements run verbatim: literal constructors, `->` dereference,
    * `=>` lambdas, time-unit quoting, the function renames
    * ([[ksqlRenameRe]]: the rename set is FunctionTable's `ksql_`
    * twins), subscripts and multi-EXPLODE. Every pass is guarded by
    * [[outsideLiterals]] or runs on masked text; `MASK_KEEP_LEFT` &
    * co don't match (a rename requires `(` right after the bare
    * name). */
  private[graft] def rewriteKsqlFunctionNames(statement0: String): String = {
    // constructor syntax first (positional, paren-matched on masked
    // text) — the segment-wise rewrites below then see plain function
    // calls
    val statement = rewriteKsqlConstructors(statement0)
    val named = outsideLiterals(statement) { seg0 =>
      // ksql STRUCT dereference `col->field` → Spark's dot. In this
      // dialect `->` on INPUT is always struct access — lambdas are
      // spelled `=>` (the ksql grammar itself) — so the rewrite takes
      // every no-whitespace `->` after an identifier/`)`/`]` (ksql's
      // conventional spelling; `STRUCT(…)->f` included). The lambda
      // mapping below emits its arrows WITH spaces, so a re-run can
      // never mistake an emitted lambda arrow for a dereference —
      // the rewrite stays idempotent. Chains (`a->b->c`) collapse
      // left-to-right.
      var seg = """(?<=[\w`\)\]])->(?=[A-Za-z_`])""".r
        .replaceAllIn(seg0, ".")
      // ksql lambda arrows → Spark's (no other `=>` exists in either
      // dialect's grammar), normalized to spaced form. Spark's parser
      // accepts `x -> e` and `(x, y) -> e` but NOT a parenthesized
      // SINGLE parameter, which is ksql's canonical spelling — strip
      // those parens too.
      seg = """[ \t]*=>[ \t]*""".r.replaceAllIn(seg, " -> ")
      seg = """\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*->""".r
        .replaceAllIn(seg, m => s"${m.group(1)} ->")
      // ksql time units are bare identifiers (DATEADD(DAYS, 5, d));
      // an unresolvable bare column would fail analysis before the
      // function builder ever runs, so the rewrite quotes the unit.
      // TIMESTAMPADD exists in Spark's parser grammar but only with
      // SINGULAR unit tokens (HOUR, not ksql's HOURS) — the quoting
      // rewrite routes both spellings through the compat builders.
      // This is syntax, not a rename, so it runs first.
      seg = """(?i)\bTIMESTAMPADD\s*\(\s*([A-Za-z]+)\s*,""".r
        .replaceAllIn(seg, m => s"ksql_timestampadd('${m.group(1)}',")
      seg = """(?i)\bDATEADD\s*\(\s*([A-Za-z]+)\s*,""".r
        .replaceAllIn(seg, m => s"ksql_dateadd('${m.group(1)}',")
      seg = """(?i)\bDATESUB\s*\(\s*([A-Za-z]+)\s*,""".r
        .replaceAllIn(seg, m => s"ksql_datesub('${m.group(1)}',")
      seg = """(?i)\bTIMESTAMPSUB\s*\(\s*([A-Za-z]+)\s*,""".r
        .replaceAllIn(seg, m => s"timestampsub('${m.group(1)}',")
      ksqlRenameRe.replaceAllIn(seg, m => s"ksql_${m.group(1).toLowerCase}(")
    }
    // subscripts next-to-last: struct dereferences are dots by now, so
    // `s->arr[1]` wraps the whole path; ARRAY[..] constructors are
    // long gone, so every remaining postfix bracket is an access.
    // Multi-EXPLODE zipping runs on the fully rewritten text (its
    // generated spelling is already Spark-native).
    rewriteKsqlMultiExplode(rewriteKsqlSubscripts(named))
  }

  /** ksql TABLE-FUNCTION zip semantics: a select list with MULTIPLE
    * `EXPLODE(...)` items explodes them in LOCKSTEP — row count =
    * longest array, shorter arrays null-padded (ksqlDB's documented
    * multiple-table-function rule). Spark admits only ONE generator
    * per select, so two verbatim EXPLODEs fail analysis; this rewrite
    * collapses them into a single `inline(transform(...))` over a
    * 1-based index sequence, `try_element_at` supplying the ksql
    * null-padding. Null/absent arrays count as length 0 (ksql
    * explodes nothing for them).
    *
    * Scope (conservative, matching how ksql statements are written):
    * only depth-0 select-list items of the exact shape
    * `EXPLODE(expr) [AS alias]` participate; one EXPLODE alone is
    * left to Spark's own generator handling; unaliased items get
    * ksql's generated-column naming (`ksql_col_<position>`). All
    * scanning runs on masked text with explicit paren matching. */
  private[graft] def rewriteKsqlMultiExplode(statement: String): String = {
    val masked = maskLiterals(statement)
    val sel = """(?i)\bSELECT\b""".r.findAllMatchIn(masked)
      .find(m => atDepth0(masked, m.start)).getOrElse(return statement)
    val from = """(?i)\bFROM\b""".r.findAllMatchIn(masked)
      .find(m => m.start > sel.end && atDepth0(masked, m.start))
      .getOrElse(return statement)
    val listStart = sel.end
    val listEnd = from.start
    // depth-0 comma positions inside the select list
    val bounds = Seq.newBuilder[Int]
    var d = 0
    var i = listStart
    while (i < listEnd) {
      masked.charAt(i) match {
        case '(' | '[' => d += 1
        case ')' | ']' => d -= 1
        case ',' if d == 0 => bounds += i
        case _ =>
      }
      i += 1
    }
    val cuts = listStart +: bounds.result().map(_ + 1) :+ (listEnd + 1)
    val items = cuts.sliding(2).map { case Seq(a, b) =>
      (a, b - 1) // [start, endExclusive) of the item text
    }.toSeq
    val explodeHeadRe = """(?is)^\s*EXPLODE\s*\(""".r
    val aliasTailRe =
      """(?is)^\s*(?:AS\s+([A-Za-z_]\w*|`[^`]+`))?\s*$""".r
    // parse each item; Some((expr, aliasOpt)) when it is a pure
    // EXPLODE item
    val parsed = items.map { case (a, b) =>
      val m = explodeHeadRe.findFirstMatchIn(masked.substring(a, b))
      m.flatMap { h =>
        val open = a + h.end - 1
        val close = closingBracket(masked, open, b)
        if (close < 0) None
        else aliasTailRe.findFirstMatchIn(masked.substring(close + 1, b))
          .map(t => (statement.substring(open + 1, close),
            Option(t.group(1)).map(_.stripPrefix("`").stripSuffix("`"))))
      }
    }
    if (parsed.count(_.isDefined) < 2) return statement
    val cols = parsed.zipWithIndex.collect { case (Some((e, al)), ix) =>
      (e.trim, al.getOrElse(s"ksql_col_$ix"))
    }
    val len = s"coalesce(greatest(${cols.map(c => s"size(${c._1})")
      .mkString(", ")}), 0)"
    val fields = cols.map { case (e, a) =>
      s"'$a', try_element_at($e, __graft_zi)"
    }.mkString(", ")
    // slice-trim guards sequence's descending-when-empty behavior
    val zipItem = s"inline(transform(slice(sequence(1, " +
      s"greatest($len, 1)), 1, greatest($len, 0)), " +
      s"__graft_zi -> named_struct($fields)))"
    // splice: first EXPLODE item becomes the zip; others drop
    val keep = items.zip(parsed).zipWithIndex.flatMap {
      case (((a, b), p), ix) =>
        if (p.isEmpty) Some(statement.substring(a, b))
        else if (ix == parsed.indexWhere(_.isDefined)) Some(zipItem)
        else None
    }
    statement.substring(0, listStart) + " " + keep.map(_.trim)
      .mkString(", ") + " " + statement.substring(listEnd)
  }

  /** ksql subscript syntax `base[idx]` → `try_element_at(base, idx)`.
    *
    * ksql container access is NOT Spark's bracket subscript: ksql
    * arrays are ONE-indexed (reference engine ksqlDB 0.28 — negative
    * indices count from the end), and both array index-out-of-range
    * and map key-miss return NULL. Spark's native `a[i]` is ZERO-based
    * and, under Spark 4's default ANSI mode, throws on an invalid
    * index — so a ported ksql statement would silently read the wrong
    * element or crash. `try_element_at` has exactly the ksql
    * semantics for both container kinds (1-based, negative-from-end,
    * NULL on miss).
    *
    * Mechanics: one leftmost subscript per pass on masked text
    * ([[maskLiterals]] — literals/comments can't fool it), explicit
    * depth scan to the matching `]` (index expressions nest:
    * `m[a[1]]`), then a backward scan for the base primary —
    * identifier, backquoted name, call/subscript suffix (`f(x)[1]`,
    * rewritten chains `try_element_at(a, 1)[2]`), extended over
    * dot-chains (`s.arr[1]`). A `[` not preceded by one of those is
    * not an access and is left alone. Re-masking each pass keeps
    * positions honest; the loop terminates because each pass removes
    * one bracket pair and emits none. */
  private[graft] def rewriteKsqlSubscripts(statement: String): String = {
    val subscriptOpenRe = """[\w`\)\]]\s*\[""".r
    // like maskLiterals, but QUOTED IDENTIFIERS stay identifier-shaped
    // (backtick sentinels around 'x' filler) — a quoted name is a
    // legitimate subscript base (`my col`[1]) and the backward scan
    // must still see it; string literals and comments stay blanked.
    def maskKeepQuotedIdents(src: String): String = {
      val sb = new StringBuilder(src)
      literalSpanRe.findAllMatchIn(src).foreach { m =>
        val ident = src.charAt(m.start) == '`' || src.charAt(m.start) == '"'
        var i = m.start
        while (i < m.end) {
          sb.setCharAt(i,
            if (!ident) ' '
            else if (i == m.start || i == m.end - 1) '`'
            else 'x')
          i += 1
        }
      }
      sb.toString
    }
    var s = statement
    var changed = true
    while (changed) {
      changed = false
      val masked = maskKeepQuotedIdents(s)
      subscriptOpenRe.findFirstMatchIn(masked).foreach { m =>
        val open = m.end - 1
        val close = requireClose(masked, open, statement)
        // backward scan from just before `[` for the base primary
        def skipWsBack(j0: Int): Int = {
          var j = j0
          while (j > 0 && masked.charAt(j - 1).isWhitespace) j -= 1
          j
        }
        var j = skipWsBack(open)
        var more = true
        while (more && j > 0) {
          more = false
          masked.charAt(j - 1) match {
            case c @ (')' | ']') =>
              val oc = if (c == ')') '(' else '['
              var dd = 0
              var k = j - 1
              var op = -1
              while (k >= 0 && op < 0) {
                val ch = masked.charAt(k)
                if (ch == c) dd += 1
                else if (ch == oc) { dd -= 1; if (dd == 0) op = k }
                k -= 1
              }
              if (op >= 0) {
                j = op
                // a call: include the function name before `(`
                var k2 = skipWsBack(j)
                val k2end = k2
                while (k2 > 0 && (masked.charAt(k2 - 1).isLetterOrDigit ||
                  masked.charAt(k2 - 1) == '_')) k2 -= 1
                if (k2 < k2end) j = k2
              }
            case '`' =>
              var k = j - 2
              while (k >= 0 && masked.charAt(k) != '`') k -= 1
              j = math.max(k, 0)
            case c if c.isLetterOrDigit || c == '_' =>
              while (j > 0 && (masked.charAt(j - 1).isLetterOrDigit ||
                masked.charAt(j - 1) == '_')) j -= 1
            case _ =>
          }
          val jw = skipWsBack(j)
          if (jw > 0 && masked.charAt(jw - 1) == '.') {
            j = jw - 1
            more = true
          }
        }
        val base = s.substring(j, open).trim
        val idx = s.substring(open + 1, close)
        s = s.substring(0, j) + s"try_element_at($base, $idx)" +
          s.substring(close + 1)
        changed = true
      }
    }
    s
  }

  /** The ksql rewrites every select body goes through (EXPLAIN,
    * INSERT … SELECT, CSAS), short of the WITHIN translation: the
    * dialect ([[rewriteKsqlFunctionNames]]), pseudo-columns,
    * LATEST_BY_OFFSET, then the WINDOW clause. */
  private def rewriteKsqlSelect(spark: SparkSession, select: String): String =
    rewriteWindowClause(spark, rewriteLatestByOffset(rewritePseudoColumns(
      rewriteKsqlFunctionNames(select))))

  /** ksql's remaining pseudo-columns (0.28: ROWPARTITION, ROWOFFSET —
    * ROWTIME resolves case-insensitively against the propagated
    * `rowtime` column and needs no rewrite): map them onto the change
    * feed's physical `partition`/`offset` columns. String literals are
    * untouched ([[outsideLiterals]]); outside them, a relation without
    * the columns fails resolution with Spark's normal error, exactly
    * as a missing column would. */
  private[graft] def rewritePseudoColumns(select: String): String =
    outsideLiterals(select) { seg =>
      """(?i)\bROWPARTITION\b""".r.replaceAllIn(
        """(?i)\bROWOFFSET\b""".r.replaceAllIn(seg, "offset"),
        "partition")
    }

  /** ksql propagates ROWTIME implicitly into derived streams; Spark
    * views only carry selected columns. For a subquery-free,
    * non-aggregating CSAS whose primary FROM relation exposes a
    * `rowtime` column the select list doesn't mention, append
    * `<alias>.rowtime AS rowtime` so downstream WITHIN joins see the
    * stream time — exactly the inherit-from-emitting-record rule.
    * Anything more complex spells rowtime explicitly. */
  private[graft] def propagateRowtime(spark: SparkSession,
                                      select: String): String = {
    val fromRe = (s"""(?is)\\bFROM\\s+$tableAlias""").r
    // skip aggregations (appending a bare column would break them —
    // incl. GROUP-BY-less full aggregates like `SELECT count(*)`),
    // wildcard selects (rowtime already flows through `*`; matched as
    // a select-list ITEM, not any asterisk — `price * 2` must not
    // disable propagation), and selects that mention rowtime
    val selectList = "(?is)\\bSELECT\\s+(.*?)\\bFROM\\b".r
      .findFirstMatchIn(select).map(_.group(1)).getOrElse("")
    val wildcard = selectList.split(',')
      .exists(_.trim.matches("(?:\\w+\\.)?\\*"))
    // aggregate detection reads the session's FunctionRegistry rather
    // than a name whitelist: every builtin aggregate and every
    // FunctionTable aggregate carries group "agg_funcs", so a
    // GROUP-BY-less full aggregate over stddev_samp / histogram / a
    // future builtin is skipped too, or the appended bare rowtime
    // column breaks it
    def registryAggregate(n: String): Boolean =
      try spark.sessionState.catalog.lookupFunctionInfo(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n))
        .getGroup == "agg_funcs"
      catch { case scala.util.control.NonFatal(_) => false }
    val aggregate = """(?i)\b([A-Za-z_]\w*)\s*\(""".r
      .findAllMatchIn(selectList).map(_.group(1).toLowerCase).toSet
      .exists(registryAggregate)
    val skip = "(?is).*(\\bGROUP\\s+BY\\b|\\browtime\\b).*".r
    select match {
      case _ if wildcard || aggregate => select
      case skip(_*) => select
      case _ =>
        fromRe.findFirstMatchIn(select) match {
          case Some(m)
              if spark.catalog.tableExists(m.group(1)) &&
                spark.table(m.group(1)).columns.contains("rowtime") =>
            val alias = Option(m.group(2)).getOrElse(m.group(1))
            val i = m.start
            select.substring(0, i) +
              s", $alias.rowtime AS rowtime " + select.substring(i)
          case _ => select
        }
    }
  }

  /** ksqlDB-marked CSAS/CTAS only: `CREATE STREAM` is always ksql
    * syntax (Spark has no STREAM object); `CREATE TABLE … AS` routes
    * here with an EMIT clause or a ksql `WITH (…)` property block
    * (Spark spells that TBLPROPERTIES/OPTIONS, never WITH) — a plain
    * Spark CTAS stays `spark.sql` and creates a real table. */
  private def isKsqlCsas(kindStr: String, withProps: String,
                         emit: String): Boolean =
    kindStr.equalsIgnoreCase("STREAM") || emit != null || withProps != null

  /** The action [[sql]] runs for a connector statement, or None for
    * plain Spark SQL. Matching runs only the patterns and guards. */
  private def action(statement: String): Option[SparkSession => DataFrame] =
    PartialFunction.condOpt(statement) {
      case createRe(kindStr, ifNotExists, quotedName, bareName,
                    body) => spark =>
        import spark.implicits._
        val spec = ConnectorSpec(
          if (kindStr.equalsIgnoreCase("SOURCE")) Source else Sink,
          pick(quotedName, bareName).toLowerCase,
          parseProps(body))
        val prev = catalog(spark).putIfAbsent(spec.name, spec)
        if (prev != null && ifNotExists == null)
          throw new IllegalArgumentException(
            s"connector ${spec.name} already exists (use IF NOT EXISTS)")
        Seq((spec.name, kindStr.toUpperCase, spec.connectorClass, "CREATED"))
          .toDF("name", "kind", "class", "status")
      case dropRe(ifExists, quotedName, bareName) => spark =>
        import spark.implicits._
        val name = pick(quotedName, bareName)
        val removed = catalog(spark).remove(name.toLowerCase)
        if (removed == null && ifExists == null)
          throw new IllegalArgumentException(s"connector $name does not exist")
        Seq((name.toLowerCase, "DROPPED")).toDF("name", "status")
      case dropRelationRe(kindStr, ifExists, quotedName, bareName,
                          deleteTopic) => spark =>
        import spark.implicits._
        val name = pick(quotedName, bareName)
        val key = name.toLowerCase
        val kind = kindStr.toUpperCase
        val declared = Option(kinds(spark).get(key))
        // ksql rejects dropping a TABLE with DROP STREAM and vice
        // versa; relations this session never CSAS-declared (e.g. the
        // testdata views) default to STREAM, matching SHOW STREAMS
        declared.filter(_ != kind).foreach(d =>
          throw new IllegalArgumentException(
            s"$name is a $d — use DROP $d"))
        val isTempView = spark.catalog.tableExists(name) &&
          spark.sessionState.catalog.getTempView(key).isDefined
        if (declared.isDefined || (isTempView && kind == "STREAM")) {
          spark.catalog.dropTempView(name)
          kinds(spark).remove(key)
          stmts(spark).remove(key)
          state(spark).inserts.remove(key)
          Seq((key, kind,
              if (deleteTopic != null) "TOPIC DELETED" else "",
              "DROPPED")).toDF("name", "kind", "note", "status")
        } else if (kind == "TABLE")
          // not a ksql relation: Spark-native DROP TABLE (the DELETE
          // TOPIC suffix is ksql-only grammar and is peeled off;
          // re-quoting keeps names that needed backquotes valid)
          spark.sql(s"DROP TABLE ${if (ifExists != null) "IF EXISTS " else ""}" +
            s"`$name`")
        else if (ifExists != null)
          Seq((key, kind, "", "NOT FOUND")).toDF(
            "name", "kind", "note", "status")
        else throw new IllegalArgumentException(
          s"stream $name does not exist")
      case showRe() => spark =>
        import spark.implicits._
        connectors(spark).map(s => (s.name,
            s.kind match { case Source => "SOURCE"; case Sink => "SINK" },
            s.connectorClass))
          .toDF("name", "kind", "class")
      case showFunctionsRe() => spark =>
        import spark.implicits._
        functionInventory.map { case (n, c, _) => (n, c) }
          .toDF("name", "category")
      case describeFunctionRe(qname, bname) => spark =>
        import spark.implicits._
        val name = pick(qname, bname).toLowerCase
        functionInventory.find(_._1 == name) match {
          case Some((n, c, u)) =>
            Seq((n, c, u)).toDF("name", "category", "usage")
          // not a graft registration: Spark's native DESCRIBE FUNCTION
          // serves builtins through the same spelling
          case None => spark.sql(statement)
        }
      case createTypeRe(qname, bname, typeBody) => spark =>
        import spark.implicits._
        val name = pick(qname, bname).toLowerCase
        // resolve references to previously registered types, translate
        // ksql scalar spellings, then VALIDATE by parsing as Spark DDL
        // — a bad definition fails here, not at first use
        val resolved = ksqlType(resolveTypes(spark, typeBody.trim))
        try org.apache.spark.sql.types.StructType.fromDDL(s"__t $resolved")
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"CREATE TYPE $name: cannot parse type '$typeBody'", e) }
        val prev = state(spark).types.putIfAbsent(name, resolved)
        if (prev != null) throw new IllegalArgumentException(
          s"type $name already exists (DROP TYPE it first)")
        Seq((name, resolved, "REGISTERED")).toDF("name", "type", "status")
      case dropTypeRe(ifExists, qname, bname) => spark =>
        import spark.implicits._
        val name = pick(qname, bname).toLowerCase
        val removed = state(spark).types.remove(name)
        if (removed == null && ifExists == null)
          throw new IllegalArgumentException(s"type $name does not exist")
        Seq((name, "DROPPED")).toDF("name", "status")
      case showTypesRe() => spark =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        state(spark).types.asScala.toSeq.sortBy(_._1)
          .toDF("name", "type")
      case setRe(key, value) => spark =>
        import spark.implicits._
        // session-scoped property, quotes stripped; the reference's
        // `SET 'auto.offset.reset' = 'earliest'` lands here (the Kafka
        // source reads it back as its startingOffsets default)
        spark.conf.set(key, unescape(value))
        state(spark).setKeys.add(key)
        Seq((key, unescape(value))).toDF("property", "value")
      case defineRe(name, value) => spark =>
        import spark.implicits._
        state(spark).variables.put(name.toLowerCase, unescape(value))
        Seq((name.toLowerCase, unescape(value), "DEFINED"))
          .toDF("variable", "value", "status")
      case undefineRe(name) => spark =>
        import spark.implicits._
        state(spark).variables.remove(name.toLowerCase)
        Seq((name.toLowerCase, "UNDEFINED")).toDF("variable", "status")
      case showVariablesRe() => spark =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        state(spark).variables.asScala.toSeq.sorted
          .toDF("variable", "value")
      case runScriptRe(path) => spark =>
        import spark.implicits._
        // the CLI's file mode: the whole statement file runs through
        // GraftSql.script (same splitter, same fail-fast contract)
        val text = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
          java.nio.charset.StandardCharsets.UTF_8)
        val ran = GraftSql.script(spark, text)
        ran.map { case (stmt, _) =>
          (stmt.linesIterator.mkString(" ").take(60), "EXECUTED")
        }.toDF("statement", "status")
      case describeConnectorRe(qname, bname) => spark =>
        import spark.implicits._
        val name = pick(qname, bname)
        connector(spark, name) match {
          case Some(spec) =>
            Seq((spec.name,
                spec.kind match { case Source => "SOURCE"; case _ => "SINK" },
                spec.connectorClass,
                spec.props.toSeq.sortBy(_._1)
                  .map { case (k, v) => s"$k=$v" }.mkString(","),
                "RUNNING")).toDF("name", "kind", "class", "properties",
              "state")
          case None => throw new IllegalArgumentException(
            s"connector $name does not exist")
        }
      case showPluginsRe() => spark =>
        import spark.implicits._
        // the plugins the reference deployment vendors
        // (confluent-hub-components/*/manifest.json): Debezium
        // Postgres + MongoDB 1.1.0 and the Confluent ES sink 10.0.1
        Seq(
          ("io.debezium.connector.postgresql.PostgresConnector",
            "SOURCE", "1.1.0"),
          ("io.debezium.connector.mongodb.MongoDbConnector",
            "SOURCE", "1.1.0"),
          ("io.confluent.connect.elasticsearch.ElasticsearchSinkConnector",
            "SINK", "10.0.1"))
          .toDF("class", "type", "version")
      case unsetRe(key) => spark =>
        import spark.implicits._
        // back to the default: ksql UNSET clears the session override
        try spark.conf.unset(key)
        catch { case scala.util.control.NonFatal(_) => () } // static confs
        state(spark).setKeys.remove(key)
        Seq((key, "UNSET")).toDF("property", "status")
      case showPropertiesRe() => spark =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        state(spark).setKeys.asScala.toSeq.sorted
          .map(k => (k, spark.conf.getOption(k).getOrElse(""), "SESSION"))
          .toDF("property", "value", "scope")
      case showStreamsRe() => spark =>
        // ksql SHOW STREAMS ≈ the session's registered (temp) views,
        // minus views a CTAS declared as TABLEs (ksql lists those only
        // under SHOW TABLES)
        sessionViews(spark, tablesOnly = false)
      case showTablesRe() => spark =>
        // ksql SHOW TABLES: the CTAS-declared TABLE views — the exact
        // complement of SHOW STREAMS above
        sessionViews(spark, tablesOnly = true)
      case describeRe(quotedName, bareName) => spark =>
        import spark.implicits._
        // ksql DESCRIBE <relation>: one row per field with the
        // relation's declared kind (STREAM unless a CTAS registered it
        // as TABLE) and Spark's type spelling
        val name = pick(quotedName, bareName)
        if (!spark.catalog.tableExists(name))
          throw new IllegalArgumentException(
            s"cannot DESCRIBE $name: no such stream/table")
        val kind = kinds(spark).getOrDefault(name.toLowerCase, "STREAM")
        spark.table(name).schema.fields.toSeq
          .map(f => (name.toLowerCase, kind, f.name, f.dataType.sql))
          .toDF("name", "kind", "field", "type")
      case showQueriesExtRe() => spark =>
        graft.streaming.QueryMetrics.extended(spark)
      case showStateStoresRe() => spark =>
        graft.streaming.QueryMetrics.stateStores(spark)
      case showQueriesRe() => spark =>
        import spark.implicits._
        // ksql SHOW QUERIES: the session's running persistent queries,
        // plus paused-but-resumable registrations (QueryControl)
        (spark.streams.active.toSeq
          .map(q => (q.id.toString, Option(q.name).getOrElse(""),
            "RUNNING")) ++
          graft.streaming.QueryControl.paused(spark)
            .map(n => ("", n, "PAUSED")))
          .toDF("query_id", "name", "status")
      case alterRe(kindStr, qname, bname, clauses) => spark =>
        import spark.implicits._
        val name = pick(qname, bname)
        val key = name.toLowerCase
        val kind = kindStr.toUpperCase
        if (!spark.catalog.tableExists(name) ||
            spark.sessionState.catalog.getTempView(key).isEmpty)
          throw new IllegalArgumentException(
            s"$kind $name does not exist in the session")
        // ksql rejects ALTER STREAM on a table and vice versa
        Option(kinds(spark).get(key)).filter(_ != kind).foreach(d =>
          throw new IllegalArgumentException(s"$name is a $d — ALTER $d"))
        // clause list splits on commas BEFORE each ADD — the types
        // themselves may carry commas (MAP<K,V>, STRUCT<...>)
        val cols = clauses.split("""(?i),\s*(?=ADD\b)""").toSeq.map {
          case alterAddRe(q, b, typeBody) =>
            val resolved = ksqlType(resolveTypes(spark, typeBody.trim))
            val dt =
              try org.apache.spark.sql.types.StructType
                .fromDDL(s"__t $resolved").head.dataType
              catch { case e: Exception =>
                throw new IllegalArgumentException(
                  s"ALTER $kind $name: cannot parse type '$typeBody'", e) }
            (pick(q, b), dt)
          case other => throw new IllegalArgumentException(
            s"ALTER $kind $name: cannot parse clause '${other.trim}' " +
              "(expected ADD [COLUMN] <name> <type>)")
        }
        val widened = cols.foldLeft(spark.table(name)) { case (df, (c, dt)) =>
          if (df.columns.exists(_.equalsIgnoreCase(c)))
            throw new IllegalArgumentException(
              s"column $c already exists on $name")
          df.withColumn(c,
            org.apache.spark.sql.functions.lit(null).cast(dt))
        }
        widened.createOrReplaceTempView(name)
        cols.map { case (c, dt) => (key, kind, c, dt.sql, "ALTERED") }
          .toDF("name", "kind", "column", "type", "status")
      case pauseRe(quotedId, bareId) => spark =>
        import spark.implicits._
        graft.streaming.QueryControl.pause(spark, pick(quotedId, bareId))
          .toDF("name", "status")
      case resumeRe(quotedId, bareId) => spark =>
        import spark.implicits._
        graft.streaming.QueryControl.resume(spark, pick(quotedId, bareId))
          .toDF("name", "status")
      case printRe(topic, _, limit) => spark =>
        // ksql PRINT: peek at the relation backing the topic
        val rel = topic.split('.').last
        if (!spark.catalog.tableExists(rel))
          throw new IllegalArgumentException(
            s"cannot PRINT '$topic': no relation named $rel in the session")
        spark.table(rel).limit(Option(limit).map(_.toInt).getOrElse(10))
      case terminateRe(quotedId, bareId) => spark =>
        import spark.implicits._
        // ksql TERMINATE <query-id> (by id or queryName) / TERMINATE ALL
        val target = pick(quotedId, bareId)
        val matched =
          if (target.equalsIgnoreCase("ALL")) spark.streams.active.toSeq
          else spark.streams.active.toSeq.filter(q =>
            q.id.toString.equalsIgnoreCase(target) ||
              Option(q.name).exists(_.equalsIgnoreCase(target)))
        if (matched.isEmpty && !target.equalsIgnoreCase("ALL"))
          throw new IllegalArgumentException(
            s"cannot TERMINATE $target: no such running query")
        matched.foreach(_.stop())
        matched.map(q => (q.id.toString, Option(q.name).getOrElse(""),
            "TERMINATED"))
          .toDF("query_id", "name", "status")
      case explainRe(body) => spark =>
        import spark.implicits._
        // ksql EXPLAIN: for a registered stream/table, the recorded
        // statement text plus Spark's formatted plan of the view; for
        // a SELECT, the statement run through the same ksql rewrites
        // and explained. One row, ksql-style columns.
        import org.apache.spark.sql.execution.FormattedMode
        val target = body.trim.stripSuffix(";").trim
        val bare = target.stripPrefix("`").stripSuffix("`")
        if (kinds(spark).containsKey(bare.toLowerCase) &&
            spark.catalog.tableExists(bare)) {
          val name = bare.toLowerCase
          Seq((name, kinds(spark).get(name),
              Option(stmts(spark).get(name)).getOrElse(""),
              spark.table(bare).queryExecution.explainString(FormattedMode)))
            .toDF("name", "kind", "statement", "plan")
        } else {
          val rewritten = rewriteWithin(spark, rewriteKsqlSelect(spark, target))
          Seq(("", "QUERY", rewritten,
              spark.sql(rewritten).queryExecution.explainString(FormattedMode)))
            .toDF("name", "kind", "statement", "plan")
        }
      case showTopicsRe() => spark =>
        import spark.implicits._
        // ksql SHOW TOPICS: session relations (the offline topic
        // analogs) + every topic exported by a registered sink
        val rels = spark.catalog.listTables().collect()
          .filter(_.isTemporary).map(t => (t.name.toLowerCase, "SESSION"))
          .toSeq
        val sinkTopics = connectors(spark)
          .filter(_.kind == Sink)
          .flatMap(c => c.topics.map(t => (t, s"SINK ${c.name}")))
        (rels ++ sinkTopics).sortBy(_._1).toDF("name", "source")
      case insertValuesRe(qname, bname, colList, tuple) => spark =>
        import spark.implicits._
        // ksql INSERT INTO <stream> VALUES: append one literal row to
        // a registered temp view; values are cast to the view's column
        // types, unmentioned columns become null. A non-temp (real
        // catalog) target keeps Spark's own INSERT semantics.
        val name = pick(qname, bname)
        val isTemp = spark.catalog.tableExists(name) &&
          spark.catalog.listTables().collect()
            .exists(t => t.isTemporary && t.name.equalsIgnoreCase(name))
        if (!isTemp) {
          if (spark.catalog.tableExists(name)) spark.sql(statement)
          else throw new IllegalArgumentException(
            s"cannot INSERT INTO $name: no such stream/table")
        } else {
          val cur = spark.table(name) // eagerly analyzed: captures the
                                      // CURRENT view content, so the
                                      // replace below cannot recurse
          val cols: Seq[String] = Option(colList)
            .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(cur.columns.toSeq)
          val unknown = cols.filterNot(c =>
            cur.columns.exists(_.equalsIgnoreCase(c)))
          require(unknown.isEmpty,
            s"INSERT INTO $name: no such column(s) ${unknown.mkString(", ")}")
          val row0 = spark.sql(
            rewriteKsqlFunctionNames(s"SELECT * FROM (VALUES $tuple)"))
          require(row0.columns.length == cols.length,
            s"INSERT INTO $name: ${cols.length} column(s) named but " +
              s"${row0.columns.length} value(s) given")
          val row = row0.toDF(cols: _*)
          val aligned = row.select(cur.schema.fields.toIndexedSeq.map { f =>
            cols.find(_.equalsIgnoreCase(f.name)) match {
              case Some(c) => col(c).cast(f.dataType).as(f.name)
              case None =>
                org.apache.spark.sql.functions.lit(null)
                  .cast(f.dataType).as(f.name)
            }
          }: _*)
          // flat accumulation: base ∪ all-rows-so-far (see SessionDdl
          // .inserts) — N inserts never nest N unions
          val key = name.toLowerCase
          val (base, prev) = Option(state(spark).inserts.get(key))
            .getOrElse((cur, Seq.empty[org.apache.spark.sql.Row]))
          val rows = prev ++ aligned.collect()
          state(spark).inserts.put(key, (base, rows))
          import scala.jdk.CollectionConverters._
          base.unionByName(
              spark.createDataFrame(rows.asJava, base.schema))
            .createOrReplaceTempView(name)
          Seq((name.toLowerCase,
              kinds(spark).getOrDefault(name.toLowerCase, "STREAM"),
              "1 row", "INSERTED"))
            .toDF("name", "kind", "rows", "status")
        }
      case insertSelectRe(qname, bname, selectBody) => spark =>
        import spark.implicits._
        // ksql INSERT INTO <stream> SELECT … — the second persistent-
        // query form: a derived stream appended into an EXISTING one.
        // The select rides the full ksql rewrite chain (function
        // dialect, pseudo-columns, latest_by_offset, WINDOW, WITHIN)
        // and its batch evaluation appends once (finite-input
        // equivalence, as for every CSAS). The result is materialized
        // via localCheckpoint so repeated inserts never stack plans.
        // A real catalog table keeps Spark's own INSERT INTO … SELECT.
        val name = pick(qname, bname)
        val isTemp = spark.catalog.tableExists(name) &&
          spark.catalog.listTables().collect()
            .exists(t => t.isTemporary && t.name.equalsIgnoreCase(name))
        if (!isTemp) {
          if (spark.catalog.tableExists(name)) spark.sql(statement)
          else throw new IllegalArgumentException(
            s"cannot INSERT INTO $name: no such stream/table")
        } else {
          val target = spark.table(name)
          val df = spark.sql(
            rewriteWithin(spark, rewriteKsqlSelect(spark, selectBody)))
          val missing = target.columns.filterNot(c =>
            df.columns.exists(_.equalsIgnoreCase(c)))
          require(missing.isEmpty,
            s"INSERT INTO $name: select is missing target column(s) " +
              missing.mkString(", "))
          val aligned = df.select(target.schema.fields.toIndexedSeq.map {
            f =>
              df.columns.find(_.equalsIgnoreCase(f.name))
                .map(c => col(c).cast(f.dataType).as(f.name)).get
          }: _*)
          val appended = target.unionByName(aligned).localCheckpoint()
          appended.createOrReplaceTempView(name)
          // the VALUES accumulator (if any) is superseded by the
          // materialized view content
          state(spark).inserts.remove(name.toLowerCase)
          Seq((name.toLowerCase,
              kinds(spark).getOrDefault(name.toLowerCase, "STREAM"),
              "select", "INSERTED"))
            .toDF("name", "kind", "rows", "status")
        }
      case streamDefRe(_, name, schemaList, body) => spark =>
        import spark.implicits._
        // bare stream definition over a topic (reference README.md:
        // 396-427). The topic's final dotted segment names the backing
        // relation when one exists in the session (the offline analog
        // of "the topic's data"); otherwise an inline schema yields an
        // empty typed stream, and with neither the definition is
        // recorded lazily like a connector. ksql's ROWTIME appears as
        // a `rowtime` column: parsed from the `timestamp`/
        // `timestamp_format` props when given (the ksql timestamp
        // hint), else derived from a `ts` column when the backing has
        // one (the ChangeFeed contract's record time).
        val props = parseProps(body)
        val backing = props.get("kafka_topic").map(_.split('.').last)
          .filter(spark.catalog.tableExists)
        val base = backing.map(spark.table).orElse(
          Option(schemaList).map { cols =>
            // split on TOP-LEVEL commas only — DECIMAL(4,2) nests one
            // in parens, MAP<VARCHAR, INT>/STRUCT<…> in angle brackets
            // — and reject malformed items with a diagnostic instead
            // of an index error
            val items = scala.collection.mutable.ArrayBuffer.empty[String]
            var depth = 0; val cur = new StringBuilder
            cols.foreach {
              case ',' if depth == 0 => items += cur.toString; cur.clear()
              case ch =>
                if (ch == '(' || ch == '<') depth += 1
                else if (ch == ')' || ch == '>') depth -= 1
                cur.append(ch)
            }
            items += cur.toString
            val ddl = items.map(_.trim).filter(_.nonEmpty)
              .map { c =>
                val parts = c.split("\\s+", 2)
                require(parts.length == 2 && parts(1).trim.nonEmpty,
                  s"stream schema item '$c' must be '<name> <type>'")
                // CREATE TYPE names resolve before the scalar-spelling
                // translation, so a registered STRUCT alias works
                // anywhere a type can appear (bare or nested)
                s"${parts(0)} ${ksqlType(resolveTypes(spark, parts(1).trim))}"
              }.mkString(", ")
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType.fromDDL(ddl))
          })
        base.foreach { df =>
          val withTime = props.get("timestamp") match {
            case Some(tsCol) =>
              val parsed = props.get("timestamp_format")
                .map(f => org.apache.spark.sql.functions.to_timestamp(
                  col(tsCol).cast("string"), f))
                .getOrElse(col(tsCol).cast("timestamp"))
              df.withColumn("rowtime", parsed)
            case None if df.columns.contains("ts") =>
              df.withColumn("rowtime", col("ts").cast("timestamp"))
            case None => df
          }
          withTime.createOrReplaceTempView(name)
        }
        state(spark).inserts.remove(name.toLowerCase)
        kinds(spark).put(name.toLowerCase, "STREAM")
        Seq((name.toLowerCase, "STREAM",
            props.map { case (k, v) => s"$k=$v" }.mkString(","), "CREATED"))
          .toDF("name", "kind", "properties", "status")
      case csasRe(kindStr, name, withProps, select, emit)
          if isKsqlCsas(kindStr, withProps, emit) => spark =>
        import spark.implicits._
        // ksqlDB CSAS/CTAS: the EMIT clause is stripped — on the finite
        // inputs this engine is verified against, the batch evaluation
        // of the SELECT equals the streaming result (every stream_*
        // query is hash-checked against its batch oracle), and the
        // continuously-updating runtime forms are the Pipeline /
        // StreamingQueries operators. WITH-properties (kafka_topic,
        // value_format, timestamp hints) are accepted and recorded on
        // the status row; a ksql WITHIN interval-join clause is
        // translated to its time-band predicate ([[rewriteWithin]]),
        // 1-arg latest/earliest_by_offset to max_by/min_by over the
        // offset column (2-arg literal-N forms to sorted-slice arrays),
        // and ROWTIME inheritance to an appended rowtime column.
        val props = Option(withProps).map(parseProps).getOrElse(Map.empty)
        // a trailing ksql PARTITION BY re-key is peeled off first (not
        // Spark SQL) and re-applied below as a hash repartition on the
        // result — the new key column both keys and physically
        // co-locates the derived stream, so a downstream equi-join on
        // it shuffles the OTHER side only (ksql's re-key contract)
        val (selectBody, rekey) = splitPartitionBy(select)
        // rowtime propagation runs BEFORE the WITHIN translation (whose
        // output spells rowtime in the band predicate and would trip
        // the already-mentions-rowtime guard); it is best-effort — a
        // select shape the heuristic mis-judges (e.g. aggregate-only
        // without GROUP BY) falls back to the untouched statement
        val plain = rewriteKsqlSelect(spark, selectBody)
        val noProp = rewriteWithin(spark, plain)
        val withProp = rewriteWithin(spark, propagateRowtime(spark, plain))
        val (df0, chosenSql) =
          if (withProp == noProp) (spark.sql(noProp), noProp)
          else
            try (spark.sql(withProp), withProp)
            catch {
              case _: org.apache.spark.sql.AnalysisException =>
                (spark.sql(noProp), noProp)
            }
        // the re-key column is addressed on the REBOUND output schema
        // (a qualified `s.user_id` names the source relation, gone
        // after the select). ksql allows keying by a source column the
        // projection aliased away or omitted entirely (the expression
        // moves into the record KEY) — the closest relational analog
        // is to re-plan with the key appended to the select list, so
        // the registered view carries the key column it is keyed by.
        val df = rekey.fold(df0) { k =>
          val bare = k.substring(k.lastIndexOf('.') + 1)
          if (df0.columns.exists(_.equalsIgnoreCase(bare)))
            df0.repartition(col(bare))
          else {
            val selRe = "(?is)^\\s*SELECT(\\s+DISTINCT)?\\s+".r
            val m = selRe.findFirstMatchIn(chosenSql).getOrElse(
              throw new IllegalArgumentException(
                s"cannot inject PARTITION BY key $k into: " +
                  chosenSql.take(80)))
            val injected =
              s"SELECT${Option(m.group(1)).getOrElse("")} $k AS $bare, " +
                chosenSql.substring(m.end)
            spark.sql(injected).repartition(col(bare))
          }
        }
        df.createOrReplaceTempView(name)
        state(spark).inserts.remove(name.toLowerCase)
        kinds(spark).put(name.toLowerCase, kindStr.toUpperCase)
        stmts(spark).put(name.toLowerCase, chosenSql)
        val shownProps = props ++ rekey.map(k =>
          "key" -> k.substring(k.lastIndexOf('.') + 1))
        Seq((name.toLowerCase, kindStr.toUpperCase,
            shownProps.map { case (k, v) => s"$k=$v" }.mkString(","), "CREATED"))
          .toDF("name", "kind", "properties", "status")
    }

  /** True when [[sql]] will handle this statement (vs plain Spark SQL). */
  def handles(statement: String): Boolean = action(statement).isDefined

  /** Execute one connector statement; returns the ksqlDB-style status
    * frame. Throws IllegalArgumentException on duplicate CREATE (unless
    * IF NOT EXISTS) or missing DROP target (unless IF EXISTS). */
  def sql(spark: SparkSession, statement: String): DataFrame =
    action(statement).getOrElse(throw new IllegalArgumentException(
      s"not a connector statement: ${statement.take(80)}"))(spark)
}
