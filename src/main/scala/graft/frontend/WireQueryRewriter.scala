package graft.frontend

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{Command, Limit, LogicalPlan}
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.types.{DataType, StructType}

/** The Thrift wire path's statement hook: Spark's Thrift frontend plans
  * client SQL directly (`session.sql`), bypassing [[TenantSession]]'s
  * dispatch — so the per-statement work rides the session's PARSER
  * instead (injected via `SparkSessionExtensions.injectParser`, the
  * Spark-native equivalent of the reference's forked grammar,
  * `fineo-reparser/src/main/codegen/README.md`). For every parsed
  * statement, in order:
  *
  *   1. **read-only gate** — the same plan-shape check as
  *      [[TenantSession]] ([[TenantSession.rejectNonQuery]]): DDL, DML,
  *      `LOAD DATA`, `CACHE`, `SET`, comment-disguised and EXPLAIN-wrapped
  *      writes die here, wherever they sit in the tree. Read-only metadata
  *      commands a JDBC client legitimately issues — SHOW/DESCRIBE forms,
  *      USE and EXPLAIN — stay allowed; `SET` does not (a client that can
  *      run `SET spark.sql.runSQLOnFiles=true` un-does the session's
  *      defense-in-depth);
  *   2. **namespace fence** — the connection's session shares SharedState
  *      with the serving root, so `global_temp.*` views (and
  *      catalog-qualified tables) the host app registers would otherwise
  *      be readable by any tenant. Every legitimate tenant table is a
  *      single-part session view, so qualified names into those
  *      namespaces are refused, in CTE bodies and explained plans too;
  *   3. **tenant check** — the connection's [[TenantSession]] must be
  *      bound. A keyless connection's session still carries Spark's conf
  *      DEFAULTS (runSQLOnFiles=true — file-path relations would resolve)
  *      and no row clamp, so its statements are refused outright: no key,
  *      no service (the reference's connection contract);
  *   4. **substitution** — the tenant's bare metric names are spliced with
  *      freshly assembled plans whose nearline sources are TIME-PRUNED by
  *      the statement's own filters ([[Substitution]], reference R1 —
  *      `ConvertFineoMarkerIntoFilteredInputTables.java:183-285`). `EXPLAIN`
  *      is substituted through to its inner plan (the tenant sees the
  *      pruned plan they'd actually run);
  *   5. **row clamp** — the tenant's server-side `maxRows` (reference
  *      `FineoJdbcMeta.setMaxRows:143-159`) wraps every query in a LIMIT;
  *      commands (SHOW/DESCRIBE/USE/EXPLAIN) are never wrapped. */
private[frontend] class WireQueryRewriter(
    delegate: ParserInterface,
    tenant: () => Option[TenantSession],
    metrics: ServingMetrics) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan = {
    val plan = delegate.parsePlan(sqlText)
    TenantSession.rejectNonQuery(plan, WireQueryRewriter.metadataCommand)
    val escape = Substitution.deepCollect(plan) {
      case r: UnresolvedRelation if WireQueryRewriter.fenced(r.multipartIdentifier) =>
        r.multipartIdentifier.mkString(".")
      case t: UnresolvedTableOrView if WireQueryRewriter.fenced(t.multipartIdentifier) =>
        t.multipartIdentifier.mkString(".")
    }
    escape.headOption.foreach { n =>
      throw new SecurityException(s"tenant serving surface: namespace of $n is not accessible")
    }
    val t = tenant().getOrElse(throw new SecurityException(
      "no tenant key on this connection: statements are refused " +
        s"(set ${GraftJdbcServer.TenantConfKey} in the JDBC URL's conf list)"))
    metrics.inc("thrift.statements")
    metrics.inc(s"thrift.statements.${t.orgId}")
    if (plan.isInstanceOf[Command]) metrics.inc("thrift.commands")
    def subst(p: LogicalPlan): LogicalPlan = Substitution.substituteMetrics(
      t.spark, t.orgId, t.registry, t.sources, t.registeredViews, p, strict = false)
    plan match {
      case e: ExplainCommand => e.copy(logicalPlan = subst(e.logicalPlan))
      case _: Command        => plan
      case q => t.serverMaxRows.fold(subst(q))(n => Limit(Literal(n), subst(q)))
    }
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

private object WireQueryRewriter {
  /** Commands with no write/side-effect surface: metadata listings,
    * namespace selection and EXPLAIN (whose explained plan the gate still
    * checks). Matched on node name so new SHOW/DESCRIBE variants stay
    * covered; everything else is denied by default. */
  def metadataCommand(c: Command): Boolean = {
    val n = c.nodeName
    n.startsWith("Show") || n.startsWith("Describe") ||
      n == "SetCatalogAndNamespace" || n == "ExplainCommand"
  }

  /** Shared namespaces no tenant statement may name. */
  private val FencedNamespaces = Set("global_temp", "spark_catalog")

  def fenced(name: Seq[String]): Boolean = FencedNamespaces.contains(name.head.toLowerCase)
}
