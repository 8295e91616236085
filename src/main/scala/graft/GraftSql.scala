package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Full-surface SQL entry point. The reference's user interface is SQL
  * (ksqlDB statements, reference README.md:346-493); this makes the
  * whole graft surface reachable from `spark.sql(...)` strings:
  *
  *  - every testdata table as a temp view (`lineitem`, `documents`, …),
  *  - every entry of [[FunctionTable]] as a SQL function: the native
  *    Catalyst expressions (`cosine_sim`, `hashed_shingles`, …), the
  *    ksql compat pack and the typed Aggregators (`latest_by_offset`,
  *    `topk_by_score_3`, …).
  *
  * [[GraftExtensions]] injects the same table at session build — the
  * deployment path on a cluster; `registerFunctions` installs it on a
  * session built without the extension.
  */
object GraftSql {

  /** Views + functions: after this, a ksqlDB user ports statements 1:1
    * as `spark.sql("SELECT ... FROM <table> ...")`.
    *
    * Idempotent-cheap by design: every catalog query calls init, and
    * harnesses (`Sessions.sweep`) drop all temp views between queries
    * — so a naive init would rebuild ten relations and re-derive the
    * Aggregator encoders per query (small queries measured at 2-4×
    * their real cost from exactly this). Repeat calls re-apply
    * views from a per-session DataFrame cache (a registry put, no
    * file I/O) and skip each function the registry already binds; the
    * encoders and ([[Tables.schema]]) parquet schemas are per JVM. */
  def init(spark: SparkSession, sfDir: String): Unit = {
    initViews(spark, sfDir)
    registerFunctions(spark)
  }

  // per-session, per-sfDir cache of the view DataFrames: weak keys so
  // short-lived test sessions don't accumulate; the DataFrames stay
  // valid across clearCache()/dropTempView (they read files directly)
  // INVARIANT: long-lived cross-call state must be
  // LAZY-PLAN or PATH-backed, never a persisted/localCheckpointed
  // frame — the inter-query Sessions.sweep unpersists every
  // persistent RDD between queries, so a cached frame whose lineage
  // was truncated would fail later with "checkpoint block not found"
  // instead of recomputing. The frames cached here are unexecuted
  // logical plans (re-planned per use); IvfIndex memoizes PATHS.
  private val viewCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, Seq[(String, DataFrame)]]]

  /** Statement entry point covering the reference's FULL statement
    * surface: connector DDL (`CREATE SOURCE/SINK CONNECTOR`,
    * `DROP CONNECTOR`, `SHOW CONNECTORS` — reference README.md:352-385,
    * 487-493) executes through [[ConnectorDdl]]; every other statement
    * is plain Spark SQL. */
  def sql(spark: SparkSession, statement0: String): DataFrame = {
    // ksql variable substitution happens FIRST, textually, exactly as
    // the CLI does — a DEFINE'd ${topic} works in connector DDL,
    // CSAS bodies, and literals alike
    val statement = ConnectorDdl.substituteVariables(spark, statement0)
    // ksql's CAST/arithmetic error model is Java's — null on a failed
    // string parse, WRAP on narrowing overflow (ksqlDB's SqlCasts
    // call .intValue()), the record logged rather than the query
    // killed — which is exactly Spark's LEGACY eval mode; under
    // Spark 4's ANSI default a ported statement would THROW instead.
    // Scope legacy mode to the statement's parse+analysis — BOTH
    // branches: plain selects and the CSAS/INSERT-SELECT bodies the
    // DDL layer parses (eval modes are captured into the expression
    // tree at parse; the eager .schema forces analysis inside the
    // scope). The override is a THREAD-LOCAL SQLConf clone
    // (GraftBridge.withStatementConf) — the shared session conf is
    // never touched, so a concurrent Spark-native query on the same
    // session can neither observe ANSI-off nor lose its own setting
    // to an interleaved restore.
    org.apache.spark.sql.GraftBridge.withStatementConf(
      spark, Map("spark.sql.ansi.enabled" -> "false")) {
      val df =
        if (ConnectorDdl.handles(statement)) ConnectorDdl.sql(spark, statement)
        else
          // this entry point speaks the ksql DIALECT: a ksql function
          // name whose Spark namesake differs maps to its `ksql_` twin
          // in FunctionTable (MASK → ksql_mask, ROUND → ksql_round,
          // …, outside literals). Spark-native spellings remain
          // reachable via spark.sql directly.
          spark.sql(ConnectorDdl.rewriteKsqlFunctionNames(statement))
      df.schema
      df
    }
  }

  /** Multi-statement script entry: split on `;` OUTSIDE string
    * literals, comments, and quoted identifiers (the same span grammar
    * every textual rewrite uses), run each statement through [[sql]]
    * in order, and return the (statement, result) pairs. This is the
    * "paste the whole ksql session" affordance — the reference's
    * README is exactly such a script. Empty segments (trailing `;`,
    * blank lines, comment-only segments) are skipped. Fail-fast: a
    * failing statement aborts the rest, like the ksql CLI's default
    * ON_ERROR behavior. */
  def script(spark: SparkSession,
             statements: String): Seq[(String, DataFrame)] =
    ConnectorDdl.splitStatements(statements)
      .map(stmt => stmt -> sql(spark, stmt))

  /** Temp views only (natives may already come from the extension).
    * First call per (session, sfDir) builds the ten relations (schemas
    * from the [[Tables.schema]] memo); repeat calls re-apply the cached
    * DataFrames — so a harness that drops all temp views between
    * queries costs a registry put here, not ten relation builds. */
  def initViews(spark: SparkSession, sfDir: String): Unit = {
    val dfs = viewCache.synchronized {
      val perSf = viewCache.computeIfAbsent(spark,
        _ => scala.collection.mutable.Map.empty)
      perSf.getOrElseUpdate(sfDir, {
        // events.parquet carries TIMESTAMP(NANOS), which Spark only
        // reads with this legacy conf (runtime-settable); a vanilla
        // session would otherwise throw "Illegal Parquet type" before
        // any view exists. The session factory sets it too — this
        // makes the one-call SQL entry self-sufficient.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        Tables.names.map { n =>
          // events goes through the shared nanos→micros normalization
          // so SQL users see a timestamp, not a raw long
          n -> (if (n == "events") Tables.events(spark, sfDir)
                else Tables(spark, sfDir, n))
        }
      })
    }
    dfs.foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }

  /** Install [[FunctionTable]] on a session built without
    * [[GraftExtensions]] (on an extension session every entry is
    * already there). An entry is skipped when the registry already
    * binds its name to its class, so repeat calls from every catalog
    * query are a lookup per name: no re-registration, and no "replaced
    * a previously registered function" warning. */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    FunctionTable.entries.foreach { case (id, info, builder) =>
      if (!registry.lookupFunction(id).exists(_.getClassName == info.getClassName))
        registry.registerFunction(id, info, builder)
    }
  }
}
