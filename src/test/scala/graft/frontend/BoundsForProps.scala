package graft.frontend

import graft.core.TimeRange
import graft.core.TimeRangeProps.{TP, eval, genTP, genTs, toSql}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** The widen-don't-narrow contract at the entry point every tenant
  * statement takes: the bounds [[Substitution.boundsFor]] gives a metric
  * relation contain every timestamp that satisfies the filters over it,
  * in each statement shape a filter can reach the relation through. A
  * projection that rebinds `timestamp` between a filter and the relation
  * makes the filter say nothing about stored timestamps, so the bounds are
  * Full. Predicates come from [[graft.core.TimeRangeProps]].
  */
object BoundsForProps extends Properties("Substitution.boundsFor") {

  /** A statement over the metric `m` and the filters that bound its rows. */
  private val genStatement: Gen[(String, Seq[TP])] = for {
    p <- genTP(3)
    q <- genTP(2)
    (sp, sq) = (toSql(p), toSql(q))
    stmt <- Gen.oneOf(
      s"SELECT * FROM m WHERE $sp" -> Seq(p),
      s"SELECT * FROM m AS s WHERE $sp" -> Seq(p),
      s"SELECT v FROM (SELECT * FROM m WHERE $sp) AS s" -> Seq(p),
      s"WITH t AS (SELECT * FROM m WHERE $sp) SELECT v FROM t" -> Seq(p),
      // stacked filters: a projection between the outer filter and the
      // relation leaves only the inner one to bound it; a pipe chain
      // passes both
      s"SELECT * FROM (SELECT * FROM m WHERE $sp) AS s WHERE $sq" -> Seq(p, q),
      s"FROM m |> WHERE $sp |> WHERE $sq" -> Seq(p, q))
  } yield stmt

  /** The bounds of the one `m` relation in `sql`. */
  private def bounds(sql: String): TimeRange = {
    val plan = CatalystSqlParser.parsePlan(sql)
    val Seq(rel) = Substitution.deepCollect(plan) {
      case r: UnresolvedRelation if r.multipartIdentifier == Seq("m") => r
    }
    Substitution.boundsFor(rel, plan)
  }

  property("every timestamp that satisfies the filters is inside the bounds") =
    forAll(genStatement, genTs) { case ((sql, filters), ts) =>
      val r = bounds(sql)
      !filters.forall(eval(_, ts)) || (ts >= r.min && ts <= r.max)
    }

  property("a pipe chain gets the bounds of the equivalent WHERE") =
    forAll(genTP(3), genTP(2)) { (p, q) =>
      val (sp, sq) = (toSql(p), toSql(q))
      bounds(s"FROM m |> WHERE $sp |> WHERE $sq") ==
        bounds(s"SELECT * FROM m WHERE ($sp) AND ($sq)")
    }

  property("a projection that rebinds timestamp gives Full") =
    forAll(genTP(3), Gen.choose(-1000L, 1000L)) { (p, shift) =>
      bounds(s"SELECT v FROM (SELECT `timestamp` + $shift AS `timestamp`, v FROM m) AS s " +
        s"WHERE ${toSql(p)}").isFull
    }
}
