package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.graftshim.ColumnExpr.{Attr, Fn, Lit, P}

/** Interval over epoch millis with inclusive bounds [min, max];
  * `Full` means "no information — scan everything". */
case class TimeRange(min: Long = Long.MinValue, max: Long = Long.MaxValue) {
  def isFull: Boolean = min == Long.MinValue && max == Long.MaxValue
  def isEmpty: Boolean = min > max
  def intersect(o: TimeRange): TimeRange = TimeRange(math.max(min, o.min), math.min(max, o.max))
  /** Convex hull — used for OR; may over-approximate, which is safe. */
  def union(o: TimeRange): TimeRange = TimeRange(math.min(min, o.min), math.max(max, o.max))
  /** Does this requested range overlap a table covering [start, end)? */
  def overlaps(start: Long, endExclusive: Long): Boolean =
    !isEmpty && min < endExclusive && max >= start
}

object TimeRange {
  val Full: TimeRange = TimeRange()

  /** Extract the timestamp bounds implied by a filter Column.
    *
    * Mirrors the conservatism of the reference's
    * `TimestampExpressionBuilder` (`fineo-adapter-drill/.../partition/
    * TimestampExpressionBuilder.java:71-134`): only `=, <, <=, >, >=`,
    * `BETWEEN` and `IN` over integer literals on the given column,
    * combined with AND/OR, narrow the range. A cast is looked through only
    * when its target is BIGINT (a narrower cast can wrap a value under
    * non-ANSI semantics). Any construct we don't understand (`<>`,
    * `NOT …`, arithmetic, IS NULL, other casts, other columns, …) widens
    * to Full — never narrows. Widening is always safe:
    * the residual Spark filter still applies row-by-row; this range only
    * drives *source selection* (which tables/directories to read at all).
    *
    * Works on the pre-analysis ColumnNode tree (the predicate is built
    * against a not-yet-assembled table, so catalyst resolution hasn't
    * happened yet).
    */
  def extract(tsColumn: String, cond: Column): TimeRange =
    extract(tsColumn.toLowerCase, ColumnExpr.predTree(cond))

  private def extract(ts: String, p: P): TimeRange = p match {
    case Fn("and", Seq(l, r)) => extract(ts, l).intersect(extract(ts, r))
    case Fn("or", Seq(l, r))  => extract(ts, l).union(extract(ts, r))
    case Fn(op, Seq(Attr(`ts`), LongLit(v))) => fromCompare(op, v, flipped = false)
    case Fn(op, Seq(LongLit(v), Attr(`ts`))) => fromCompare(op, v, flipped = true)
    case Fn("in", Attr(`ts`) +: vs) => hull(vs.map(LongLit.unapply))
    case _ => Full
  }

  /** Hull of an IN list; Full unless every element is an integer literal. */
  private def hull(vs: Seq[Option[Long]]): TimeRange =
    if (vs.isEmpty || vs.exists(_.isEmpty)) Full
    else TimeRange(vs.flatten.min, vs.flatten.max)

  private object LongLit {
    def unapply(p: P): Option[Long] = p match {
      case Lit(v: Long)  => Some(v)
      case Lit(v: Int)   => Some(v.toLong)
      case Lit(v: Short) => Some(v.toLong)
      case _ => None
    }
  }

  /** Same extraction over a parsed (unresolved) catalyst Expression — the
    * path used when the predicate comes from SQL text (tenant frontend)
    * rather than a Column. Same conservatism contract. */
  def extractExpr(tsColumn: String, e: org.apache.spark.sql.catalyst.expressions.Expression)
      : TimeRange = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
    val ts = tsColumn.toLowerCase
    def attr(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute  => Some(a.name.toLowerCase)
      case a: AttributeReference   => Some(a.name.toLowerCase)
      case Cast(c, LongType, _, _) => attr(c)
      case _ => None
    }
    // Typed: a DATE or TIMESTAMP literal also carries an Int or Long value,
    // in days or microseconds, not epoch millis.
    def lit(x: Expression): Option[Long] = x match {
      case Literal(v: Long, LongType)   => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Short, ShortType) => Some(v.toLong)
      case Cast(c, LongType, _, _)      => lit(c)
      case _ => None
    }
    def isTs(x: Expression): Boolean = attr(x).contains(ts)
    def go(x: Expression): TimeRange = x match {
      case And(l, r) => go(l).intersect(go(r))
      case Or(l, r)  => go(l).union(go(r))
      // Spark parses `a BETWEEN lo AND hi` to this function, which means
      // `lo <= a AND a <= hi`; a non-literal bound leaves that side open.
      case f: UnresolvedFunction if f.nameParts.map(_.toLowerCase) == Seq("between") =>
        f.arguments match {
          case Seq(a, lo, hi) if isTs(a) =>
            TimeRange(lit(lo).getOrElse(Long.MinValue), lit(hi).getOrElse(Long.MaxValue))
          case _ => Full
        }
      case In(a, vs) if isTs(a) => hull(vs.map(lit))
      case cmp: BinaryComparison =>
        val op = cmp match {
          case _: EqualTo => "="
          case _: LessThan => "<"
          case _: LessThanOrEqual => "<="
          case _: GreaterThan => ">"
          case _: GreaterThanOrEqual => ">="
          case _ => "?"
        }
        (lit(cmp.right), lit(cmp.left)) match {
          case (Some(v), _) if isTs(cmp.left)  => fromCompare(op, v, flipped = false)
          case (_, Some(v)) if isTs(cmp.right) => fromCompare(op, v, flipped = true)
          case _ => Full
        }
      case _ => Full
    }
    go(e)
  }

  private def fromCompare(op: String, v: Long, flipped: Boolean): TimeRange = op match {
    case "=" | "==" | "===" | "equal" => TimeRange(v, v)
    case "<"  => if (flipped) TimeRange(min = v + 1) else TimeRange(max = v - 1)
    case "<=" => if (flipped) TimeRange(min = v) else TimeRange(max = v)
    case ">"  => if (flipped) TimeRange(max = v - 1) else TimeRange(min = v + 1)
    case ">=" => if (flipped) TimeRange(max = v) else TimeRange(min = v)
    case _ => Full
  }
}
