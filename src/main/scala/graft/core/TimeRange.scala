package graft.core

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}

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

  /** Extract the timestamp bounds implied by a parsed (unresolved)
    * filter condition. The tenant frontend calls this on each statement's
    * filters above a metric relation (`Substitution.boundsFor`), and the
    * range drives source selection ([[graft.sources.SourceSet.prune]]).
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
    * the statement's filter still applies row-by-row; this range only
    * drives *source selection* (which tables/directories to read at all).
    */
  def extract(tsColumn: String, e: Expression): TimeRange = {
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
        (lit(cmp.right), lit(cmp.left)) match {
          case (Some(v), _) if isTs(cmp.left)  => fromCompare(cmp, v, flipped = false)
          case (_, Some(v)) if isTs(cmp.right) => fromCompare(cmp, v, flipped = true)
          case _ => Full
        }
      case _ => Full
    }
    go(e)
  }

  /** Hull of an IN list; Full unless every element is an integer literal. */
  private def hull(vs: Seq[Option[Long]]): TimeRange =
    if (vs.isEmpty || vs.exists(_.isEmpty)) Full
    else TimeRange(vs.flatten.min, vs.flatten.max)

  /** Bounds of `ts cmp v`, or of `v cmp ts` when `flipped`. */
  private def fromCompare(cmp: BinaryComparison, v: Long, flipped: Boolean): TimeRange =
    cmp match {
      case _: EqualTo            => TimeRange(v, v)
      case _: LessThan           => if (flipped) TimeRange(min = v + 1) else TimeRange(max = v - 1)
      case _: LessThanOrEqual    => if (flipped) TimeRange(min = v) else TimeRange(max = v)
      case _: GreaterThan        => if (flipped) TimeRange(max = v - 1) else TimeRange(min = v + 1)
      case _: GreaterThanOrEqual => if (flipped) TimeRange(max = v) else TimeRange(min = v)
      case _ => Full
    }
}
