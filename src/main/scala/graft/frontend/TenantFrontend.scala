package graft.frontend

import graft.core.Assembler
import graft.schema.SchemaRegistry
import graft.sources.SourceSet
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, LogicalPlan, ParsedStatement}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.types._

/** Tenant-facing SQL frontend: the rebuild of the reference's forked
  * parser + Avatica server surface (SURVEY.md §2.11, §3 entry point A).
  *
  * Isolation model — plan-level, statement-local:
  *
  *   1. Every statement is parsed; any plan containing a command / DML /
  *      write node (`Command`, `ParsedStatement`, `InsertIntoDir`) is
  *      rejected. This replaces the reference's grammar surgery
  *      (`fineo-reparser/src/main/codegen/README.md` removes DDL/DML
  *      productions): deciding read-only-ness from the *parsed plan* is
  *      immune to comment prefixes, CTE-wrapped INSERTs, and any other
  *      lexical disguise a first-token check would miss.
  *   2. Every `UnresolvedRelation` (including inside subquery expressions)
  *      must be a CTE name, a tenant-registered view (errors table), or a
  *      bare metric name in this tenant's registry — anything else
  *      (another org's table, `parquet.`/path``, `spark_catalog...`)
  *      throws SecurityException before execution. Matching relations are
  *      substituted with the metric's assembled plan *in the statement's
  *      own tree* — no shared temp views, so concurrent statements on one
  *      session can't race, and registry changes (metric deletion) take
  *      effect on the very next statement. This is the Spark-native
  *      equivalent of the reference's identifier rewrite
  *      (`FineoDrillParserWithCompoundIdConverter.java:52-62`).
  *   3. `spark.sql.runSQLOnFiles=false` on the tenant session as
  *      defense-in-depth (step 2 already rejects file-path relations).
  *
  * Time-range source pruning (reference R1) happens during substitution:
  * each relation's bounds come only from Filter nodes separated from it by
  * Filter/SubqueryAlias/pipe-marker nodes alone — a filter above a
  * Project/Aggregate may reference a *rebound* `timestamp` and must widen,
  * not narrow.
  */
/** Admission-control rejection: the tenant's concurrent-statement clamp
  * timed out BEFORE any execution started, so retrying (after backing
  * off) is always safe. Wire layers map this to a retryable error code
  * so clients can tell it apart from a statement that failed mid-run. */
final class StatementClampTimeout(msg: String) extends IllegalStateException(msg)

class TenantSession private (
    val spark: SparkSession,
    val orgId: String,
    private[frontend] val registry: SchemaRegistry,
    private[frontend] val sources: SourceSet,
    private[frontend] val serverMaxRows: Option[Int],
    maxConcurrentStatements: Int) {

  /** Views registered on this tenant session (errors table, curated
    * pipeline tables). */
  private[frontend] var registeredViews: Set[String] = Set.empty

  /** Register a read-only curated view on this tenant session — the
    * errors_stream mechanism opened to pipeline lake tables (e.g. the
    * persisted decontamination ledger, so "contaminated as of benchmark
    * k" is one tenant SQL statement over the standing flags instead of a
    * re-sweep). The view participates in relation substitution like any
    * registered view and rides the same read-only plan gate; the
    * DataFrame must be bound to THIS tenant's session (temp views are
    * session-scoped — a foreign session's view would be invisible to the
    * tenant's statements). */
  def registerView(name: String, df: DataFrame): Unit = {
    require(df.sparkSession eq spark,
      s"view '$name' must be built on this tenant's session " +
        "(pass tenant.spark to the reader)")
    df.createOrReplaceTempView(name)
    registeredViews += name
  }

  /** This tenant's FAIR scheduler pool. All wire endpoints execute the
    * tenant's statements under it (via [[runGated]]), so on a shared
    * serving context one tenant's 100 TB scan cannot head-block another
    * tenant's point query: with `spark.scheduler.mode=FAIR` on the
    * context, task slots are shared ACROSS pools as they free, instead
    * of FIFO-draining the big query's stage first. Pools materialize on
    * first use with default weight/minShare — no allocation file needed
    * for equal-weight tenants. */
  def schedulerPool: String = s"tenant_$orgId"

  /** Per-tenant concurrent-statement clamp (reference topology: one
    * engine, many tenants — without a clamp one tenant can occupy every
    * server thread). Permits bound EXECUTIONS in flight, not open
    * statements: acquire blocks up to 60 s then fails loudly. The clamp
    * is per SESSION, so it is per tenant exactly when one session serves
    * the tenant: [[GraftAvaticaServer]] resolves each key once, and all of
    * that key's connections and REST requests run under this one
    * semaphore. */
  private val stmtPermits =
    new java.util.concurrent.Semaphore(math.max(1, maxConcurrentStatements), true)

  /** Execute `f` (a statement's terminal action) under this tenant's
    * scheduler pool and concurrency clamp. Wire endpoints wrap every
    * collect/iterate in this; the pool local-property is thread-local,
    * so it is set on the serving thread that actually submits the jobs
    * and restored after. */
  def runGated[A](f: => A): A = {
    // conf-able admission wait (seconds; default 60): deployments tune it
    // to their statement mix, and the clamp-timeout wire path is testable.
    // Tolerant parse: a malformed or negative conf value must not turn
    // every statement into a NumberFormatException / instant rejection —
    // fall back to the default instead of changing the error shape.
    val waitSec = spark.conf.get("spark.graft.statementClampTimeoutSec", "60")
      .toLongOption.filter(_ >= 0L).getOrElse(60L)
    if (!stmtPermits.tryAcquire(waitSec, java.util.concurrent.TimeUnit.SECONDS))
      // dedicated type so wire layers can surface a RETRYABLE error
      // (admission-control rejection), distinguishable from execution
      // failure mid-statement
      throw new StatementClampTimeout(
        s"tenant $orgId exceeded its concurrent-statement limit ($maxConcurrentStatements)")
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", schedulerPool)
    try f
    finally {
      sc.setLocalProperty("spark.scheduler.pool", prev)
      stmtPermits.release()
    }
  }

  /** Register this tenant's pool-depth gauges on a server's metrics:
    * live task count in its FAIR pool, statements WAITING at its
    * admission clamp, and statements admitted and in flight — the
    * attribution metrics for serving-isolation regressions (a p95
    * isolation creep is then readable as queue depth, not guessed).
    * Gauges register by name, so a server calls this once per tenant key
    * (its session cache does) and the gauges read the one session every
    * statement of that key runs on. */
  def registerPoolGauges(metrics: ServingMetrics): Unit = {
    metrics.gauge(s"pool.$orgId.running_tasks")(
      spark.sparkContext.getPoolForName(schedulerPool)
        .map(_.runningTasks.toLong).getOrElse(0L))
    metrics.gauge(s"pool.$orgId.waiting_statements")(
      stmtPermits.getQueueLength.toLong)
    metrics.gauge(s"pool.$orgId.inflight_statements")(
      math.max(1, maxConcurrentStatements).toLong - stmtPermits.availablePermits())
  }

  /** Run tenant SQL. SELECT/WITH/VALUES + SHOW/DESCRIBE/USE only. */
  def sql(statement: String): DataFrame = sql(statement, None)

  /** Run tenant SQL with a per-statement row cap; the server-side cap
    * (`serverMaxRows`, reference `FineoJdbcMeta.setMaxRows:143-159`)
    * always applies and the effective clamp is the smaller of the two. */
  def sql(statement: String, maxRows: Option[Int]): DataFrame = {
    val clean = stripLeadingComments(statement)
    val head = clean.split("\\s+", 2).headOption.getOrElse("").toLowerCase
    val df = head match {
      case "show"              => showStatement(clean)
      case "describe" | "desc" => describeTable(clean.split("\\s+").last.stripSuffix(";"))
      case "use"               => useSchema(clean.split("\\s+").last.stripSuffix(";"))
      case "explain"           => explainStatement(clean)
      case _                   => runQuery(statement)
    }
    (serverMaxRows.toSeq ++ maxRows.toSeq).reduceOption(math.min) match {
      case Some(n) => df.limit(n)
      case None    => df
    }
  }

  // ------------------------------------------------------------- queries

  /** `EXPLAIN [EXTENDED|FORMATTED] <query>` — the reference exposes
    * Drill's `EXPLAIN PLAN FOR` to tenants; Spark parses EXPLAIN to an
    * ExplainCommand, which the read-only gate rejects, so the frontend
    * handles the keyword itself: the INNER statement goes through the
    * normal tenant pipeline (isolation substitution + read-only check —
    * explaining a write is still a write) and the tenant sees the plan of
    * the query they'd actually run. */
  private def explainStatement(clean: String): DataFrame = {
    val parts = clean.split("\\s+", 3)
    val (mode, inner) = parts.toList match {
      case _ :: m :: rest if Set("extended", "formatted", "codegen", "cost")
          .contains(m.toLowerCase) => (m.toLowerCase, rest.mkString(" "))
      case _ :: rest => ("simple", rest.mkString(" "))
      case Nil => throw new IllegalArgumentException("empty EXPLAIN")
    }
    if (inner.trim.isEmpty)
      throw new IllegalArgumentException("EXPLAIN needs a statement")
    val qe = runQuery(inner).queryExecution
    val text = mode match {
      case "extended"  => qe.toString
      case "formatted" => qe.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      case "codegen"   => qe.explainString(
        org.apache.spark.sql.execution.CodegenMode)
      case "cost"      => qe.explainString(
        org.apache.spark.sql.execution.CostMode)
      case _           => qe.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    }
    import spark.implicits._
    spark.createDataset(Seq(text)).toDF("plan")
  }

  private def runQuery(statement: String): DataFrame = {
    val parsed = spark.sessionState.sqlParser.parsePlan(statement)
    // no command at all: SHOW, DESCRIBE, USE and EXPLAIN are handled above
    TenantSession.rejectNonQuery(parsed, _ => false)
    ColumnExpr.ofRows(spark, substituteRelations(parsed))
  }

  /** Validate every table reference and splice the tenant's assembled
    * metric plans into the statement tree ([[Substitution]] — the same
    * mechanism the Thrift wire path hooks into its parser). strict: a
    * relation that is neither CTE, registered view, nor tenant metric is
    * a SecurityException before execution. */
  private def substituteRelations(parsed: LogicalPlan): LogicalPlan =
    Substitution.substituteMetrics(
      spark, orgId, registry, sources, registeredViews, parsed, strict = true)

  // ---------------------------------------------------- metadata surface

  /** `SHOW TABLES [FROM|IN db] [LIKE 'pat' | WHERE cond]` /
    * `SHOW SCHEMAS|DATABASES` (reference grammar
    * `SqlShowTables.java:44-115` — the `db` member accepts FROM/IN). A
    * tenant sees the FINEO schema (metrics) plus, when the errors view is
    * registered, the ERRORS schema — the reference's info schema maps
    * `fineo.errors.default` to a distinct ERRORS schema
    * (`FineoInfoSchemaUserTranslator.java:96-97`). Any other db errors.
    * The WHERE form filters over the result columns (schema, table), like
    * Drill's info-schema-backed SHOW. */
  private def showStatement(clean: String): DataFrame = {
    val tablesRe =
      """(?is)^show\s+tables(?:\s+(?:from|in)\s+(\w+))?(?:\s+like\s+'([^']*)'|\s+where\s+(.+?))?\s*;?\s*$""".r
    val schemasRe = """(?is)^show\s+(?:schemas|databases)\s*;?\s*$""".r
    clean match {
      case tablesRe(db, like, where) =>
        val base =
          if (db == null || db.equalsIgnoreCase("FINEO")) showTables()
          else if (db.equalsIgnoreCase(MetadataFacade.ErrorsSchema) && registeredViews.nonEmpty)
            showErrorTables()
          else throw new IllegalArgumentException(s"schema not found: $db")
        if (like != null)
          base.filter(col("table").rlike("(?i)^" + MetadataFacade.sqlToRegexLike(like) + "$"))
        else if (where != null) base.filter(expr(where))
        else base
      case schemasRe() => showSchemas()
      case other =>
        throw new UnsupportedOperationException(s"unsupported SHOW statement: $other")
    }
  }

  /** Tenant-scoped SHOW TABLES (reference `SqlShowTables`, info-schema
    * filtering `FineoInfoSchemaUserTranslator.java:30-103`). */
  def showTables(): DataFrame =
    toDf(registry.listTables(orgId).map(t => Row("FINEO", t)),
      StructType(Seq(StructField("schema", StringType), StructField("table", StringType))))

  private def showErrorTables(): DataFrame =
    toDf(registeredViews.toSeq.sorted.map(v => Row(MetadataFacade.ErrorsSchema, v)),
      StructType(Seq(StructField("schema", StringType), StructField("table", StringType))))

  /** The constant FINEO schema, plus ERRORS when the errors view exists
    * (the reference's two tenant-visible schemas). */
  def showSchemas(): DataFrame = {
    val rows = Row("FINEO") +:
      (if (registeredViews.nonEmpty) Seq(Row(MetadataFacade.ErrorsSchema)) else Nil)
    toDf(rows, StructType(Seq(StructField("schema", StringType))))
  }

  /** USE is rewritten to the org schema by the reference parser; only the
    * tenant's visible schema names are legal. */
  private def useSchema(name: String): DataFrame =
    if (name.equalsIgnoreCase("FINEO") || name.equalsIgnoreCase("use") ||
        (name.equalsIgnoreCase(MetadataFacade.ErrorsSchema) && registeredViews.nonEmpty))
      showSchemas()
    else throw new IllegalArgumentException(s"schema not found: $name")

  def describeTable(table: String): DataFrame = {
    // Everything queryable is describable (reference `parserImpls.ftl`
    // DESCRIBE covers all visible tables): registry metrics by their
    // declared schema, registered views (errors table) by their Spark
    // schema.
    val fields: Seq[StructField] =
      registry.metric(orgId, table) match {
        case Some(metric) => metric.structType.fields.toSeq
        case None if registeredViews.contains(table.toLowerCase) =>
          spark.table(table).schema.fields.toSeq
        case None =>
          throw new IllegalArgumentException(s"table not found: $table")
      }
    val rows = fields.map(f => Row(f.name, f.dataType.sql, f.nullable))
    toDf(rows, StructType(Seq(
      StructField("column", StringType), StructField("type", StringType),
      StructField("nullable", BooleanType))))
  }

  /** JDBC-style metadata facade bound to this tenant (reference
    * `FineoDatabaseMetaData.java:39-105`). */
  def metadata: MetadataFacade = new MetadataFacade(spark, registry, orgId, registeredViews)

  // -------------------------------------------------------------- helpers

  private def stripLeadingComments(s: String): String = {
    var t = s.trim
    var changed = true
    while (changed && t.nonEmpty) {
      changed = false
      if (t.startsWith("--")) {
        val i = t.indexOf('\n')
        t = if (i < 0) "" else t.substring(i + 1).trim
        changed = true
      } else if (t.startsWith("/*")) {
        val i = t.indexOf("*/")
        t = if (i < 0) "" else t.substring(i + 2).trim
        changed = true
      }
    }
    t
  }

  private def toDf(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
}

object TenantSession {

  /** Open a tenant session: an isolated `newSession()` bound to the
    * tenant ([[bind]]), whose table references resolve statement-locally
    * against the tenant's registry.
    *
    * @param maxRows server-side row clamp applied to every statement
    *   (reference `FineoJdbcMeta.setMaxRows`). */
  def open(
      root: SparkSession,
      registry: SchemaRegistry,
      orgId: String,
      sources: SourceSet,
      errorsDir: Option[String] = None,
      maxRows: Option[Int] = None,
      maxConcurrentStatements: Int = Int.MaxValue): TenantSession =
    bind(root.newSession(), registry, orgId, sources, errorsDir, maxRows,
      maxConcurrentStatements)

  /** The one tenant setup every wire shares: [[open]] binds a fresh
    * `newSession()`, the Thrift endpoint binds each connection's session.
    * Validates the org exists (the reference's `TenantValidator`) before
    * touching the session. */
  private[frontend] def bind(
      session: SparkSession,
      registry: SchemaRegistry,
      orgId: String,
      sources: SourceSet,
      errorsDir: Option[String],
      maxRows: Option[Int],
      maxConcurrentStatements: Int = Int.MaxValue): TenantSession = {
    registry.org(orgId).getOrElse(
      throw new SecurityException(s"unknown tenant: $orgId"))
    // Defense-in-depth: statement-local substitution already rejects
    // parquet.`/path` relations, but make Spark's file-table resolution
    // impossible on this session too.
    session.conf.set("spark.sql.runSQLOnFiles", "false")
    // tenant SQL gets the engine functions, incl. the reference's
    // fineo_base64_decode UDF surface
    graft.functions.GraftExtensions.register(session)
    val tenant = new TenantSession(session, orgId, registry, sources, maxRows,
      maxConcurrentStatements)
    // Errors table: JSON (possibly gzipped — Spark reads .gz natively)
    // under Hive-style partition dirs stream/stage=…/type=…/year=…/month=…/
    // day=…, so the directory components surface as partition columns and
    // prune natively (vs the reference's raw dirs, S7 in SURVEY.md §2.1).
    // The forced tenant predicate is baked into the view itself — the
    // reference appends `apikey = '<org>'` to every errors query
    // (`FineoErrorWhereForce.java:38-68`); baking it into the view is
    // structurally unbypassable.
    errorsDir.filter(Assembler.dirExists(session, _)).foreach { dir =>
      tenant.registerView("errors_stream",
        session.read.json(s"$dir/stream").filter(col("apikey") === orgId))
    }
    tenant
  }

  /** Read-only surface, decided from the plan: any node that is a command
    * (DDL, SET, CACHE, LOAD, …) outside `allowed`, an unresolved write
    * statement (INSERT/UPDATE/DELETE/MERGE parse to `ParsedStatement`s),
    * or a directory write is rejected — wherever it sits in the tree,
    * CTE bodies and explained statements included (explaining a write is
    * still a write).
    *
    * @param allowed the metadata commands the caller lets Spark run:
    *   none for [[TenantSession]], which answers SHOW, DESCRIBE, USE and
    *   EXPLAIN itself; the listing, USE and EXPLAIN commands on the Thrift
    *   wire ([[WireQueryRewriter]]). */
  private[frontend] def rejectNonQuery(plan: LogicalPlan, allowed: Command => Boolean): Unit = {
    val offender = Substitution.deepCollect(plan) {
      case c: Command if !allowed(c) => c.nodeName
      case p: ParsedStatement        => p.nodeName
      case d: InsertIntoDir          => d.nodeName
    }
    offender.headOption.foreach { n =>
      throw new UnsupportedOperationException(
        s"read-only tenant surface: $n statements are not allowed")
    }
  }
}
