package graft.frontend

import graft.core.{Assembler, TimeRange}
import graft.schema.{Metric, SchemaRegistry}
import graft.sources.SourceSet
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.PipeOperator
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.graftshim.ColumnExpr

/** Statement-local tenant relation substitution — the shared mechanism
  * behind BOTH serving entry points (the in-process/HTTP [[TenantSession]]
  * and the Thrift wire path's parser hook): every bare metric name in a
  * parsed statement is validated against the tenant's registry and spliced
  * with a freshly assembled plan whose nearline sources are TIME-PRUNED by
  * the statement's own filters. This is the Spark-native rebuild of the
  * reference's identifier rewrite + R1 source pruning
  * (`FineoDrillParserWithCompoundIdConverter.java:52-62`,
  * `ConvertFineoMarkerIntoFilteredInputTables.java:183-285`), which the
  * reference applies to every query on every entry point via planner
  * rules.
  */
private[frontend] object Substitution {

  /** `collectWithSubqueries` that also descends into `UnresolvedWith` CTE
    * definitions and the plan under an `EXPLAIN` — cteRelations are not
    * plan children, and `ExplainCommand` is a leaf, so the stock traversal
    * never visits a `WITH` body or an explained statement. */
  def deepCollect[A](p: LogicalPlan)(
      pf: PartialFunction[LogicalPlan, A]): Seq[A] = {
    val here = p.collectWithSubqueries(pf)
    val hidden = p.collectWithSubqueries {
      case w: UnresolvedWith => w.cteRelations.map(_._2)
      case e: ExplainCommand => Seq(e.logicalPlan)
    }.flatten
    here ++ hidden.flatMap(deepCollect(_)(pf))
  }

  /** `transformUpWithSubqueries` that also rewrites CTE definitions. */
  def deepTransform(p: LogicalPlan)(
      pf: PartialFunction[LogicalPlan, LogicalPlan]): LogicalPlan = {
    val withCtes: PartialFunction[LogicalPlan, LogicalPlan] = {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, sa, d) =>
          (n, deepTransform(sa)(pf).asInstanceOf[SubqueryAlias], d)
        })
    }
    p.transformUpWithSubqueries(pf.orElse(withCtes))
  }

  /** Conservative per-relation timestamp bounds: only honor Filter nodes
    * whose path down to THIS relation crosses Filter/SubqueryAlias nodes
    * and pipe-syntax markers (`PipeOperator`, an identity node the
    * analyzer removes) exclusively. A filter sitting above a
    * Project/Aggregate can reference a rebound `timestamp` (e.g.
    * `timestamp - 1000 AS timestamp`) — its bounds say nothing about
    * storage timestamps, so it widens to Full (the widen-don't-narrow
    * contract, `TimestampExpressionBuilder`). */
  def boundsFor(rel: UnresolvedRelation, plan: LogicalPlan): TimeRange = {
    def reaches(p: LogicalPlan): Boolean = p match {
      case f: LFilter       => reaches(f.child)
      case s: SubqueryAlias => reaches(s.child)
      case o: PipeOperator  => reaches(o.child)
      case r: UnresolvedRelation => r eq rel
      case _ => false
    }
    // deepCollect, not collectWithSubqueries: a WITH body is not a plan
    // child, so the stock traversal would miss the filter in
    // `WITH t AS (SELECT * FROM m WHERE timestamp < X) …` — the most
    // idiomatic bounded-query shape — and prune nothing (safe, but the
    // reference's R1 benefit left on the table).
    val conds = deepCollect(plan) {
      case f: LFilter if reaches(f.child) => f.condition
    }
    if (conds.isEmpty) TimeRange.Full
    else conds.map(TimeRange.extract(Metric.TimestampField, _)).reduce(_ intersect _)
  }

  /** Validate every table reference and splice the tenant's assembled
    * metric plans into the statement tree. Covers subquery expressions
    * and CTE definitions.
    *
    * @param views relation names that legitimately resolve via the
    *   session (errors table); left untouched.
    * @param strict true → any other relation throws SecurityException
    *   (the TenantSession contract: nothing outside the tenant's registry
    *   is nameable). false → unknown names pass through for the session's
    *   own resolution to handle (the wire path, where the
    *   [[WireQueryRewriter]]'s namespace fence plus an empty catalog
    *   already bound what a name can reach, and internal/metadata
    *   statements must not be broken). */
  def substituteMetrics(
      spark: SparkSession,
      orgId: String,
      registry: SchemaRegistry,
      sources: SourceSet,
      views: Set[String],
      parsed: LogicalPlan,
      strict: Boolean): LogicalPlan = {
    // CTE-defined names legally shadow tables; collect them first.
    val cteNames: Set[String] = deepCollect(parsed) {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet

    val replacements =
      new java.util.IdentityHashMap[UnresolvedRelation, LogicalPlan]()
    deepCollect(parsed) { case r: UnresolvedRelation => r }.foreach { r =>
      val parts = r.multipartIdentifier
      val bare = parts.head.toLowerCase
      val isBare = parts.size == 1
      if (isBare && cteNames.contains(bare)) ()                 // CTE wins
      else if (isBare && views.contains(bare)) ()               // errors table
      else (if (isBare) registry.metric(orgId, parts.head) else None) match {
        case Some(m) =>
          val range = boundsFor(r, parsed)
          val df = Assembler.metricTable(
            spark, orgId, m, sources.prune(range), sorted = false)
          replacements.put(r, SubqueryAlias(parts.head, ColumnExpr.logical(df)))
        case None if strict =>
          throw new SecurityException(
            s"table not found for tenant $orgId: ${parts.mkString(".")}")
        case None => ()
      }
    }
    deepTransform(parsed) {
      case r: UnresolvedRelation if replacements.containsKey(r) =>
        replacements.get(r)
    }
  }
}
