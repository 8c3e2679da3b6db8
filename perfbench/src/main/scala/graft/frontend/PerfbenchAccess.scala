package graft.frontend

import graft.core.TimeRange
import graft.schema.SchemaRegistry
import graft.sources.SourceSet
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Benchmark access to the package-private substitution step, so a traced
  * run can time it as its own call. */
object PerfbenchAccess {
  def parse(tenant: TenantSession, sql: String): LogicalPlan =
    tenant.spark.sessionState.sqlParser.parsePlan(sql)

  def substitute(
      tenant: TenantSession, registry: SchemaRegistry, sources: SourceSet,
      parsed: LogicalPlan): LogicalPlan =
    Substitution.substituteMetrics(
      tenant.spark, tenant.orgId, registry, sources, Set.empty, parsed, strict = true)

  /** The time bounds substitution derives for the statement's first table. */
  def firstTableBounds(parsed: LogicalPlan): (String, TimeRange) = {
    val rel = Substitution.deepCollect(parsed) { case r: UnresolvedRelation => r }.head
    (rel.multipartIdentifier.head, Substitution.boundsFor(rel, parsed))
  }
}
