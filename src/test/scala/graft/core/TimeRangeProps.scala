package graft.core

import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** The widen-don't-narrow contract of timestamp-bound extraction
  * (reference `TimestampExpressionBuilder.java:71-134` conservatism):
  * for ANY predicate built from comparisons/BETWEEN/IN/AND/OR — including
  * conjuncts the extractor can't parse — every timestamp that satisfies
  * the predicate, written as SQL text, lies inside the extracted range.
  * Source pruning driven by the range can therefore never drop a matching
  * row. The generator, its SQL rendering and its ground truth also drive
  * the statement-level property over `Substitution.boundsFor`
  * (`graft.frontend.BoundsForProps`).
  */
object TimeRangeProps extends Properties("TimeRange") {

  sealed trait TP
  case class Leaf(op: String, v: Long) extends TP
  case class Between(lo: Long, hi: Long, negated: Boolean) extends TP
  case class In(vs: Seq[Long], negated: Boolean) extends TP
  /** `CAST(timestamp AS INT) op v`: the cast wraps under non-ANSI rules. */
  case class NarrowTs(op: String, v: Long) extends TP
  /** `timestamp op CAST(v AS SMALLINT)`: the literal wraps. */
  case class NarrowLit(op: String, v: Long) extends TP
  case class AndT(l: TP, r: TP) extends TP
  case class OrT(l: TP, r: TP) extends TP
  /** inner AND an always-true conjunct the extractor can't parse. */
  case class OpaqueAnd(inner: TP) extends TP

  private val genV: Gen[Long] = Gen.choose(-100L, 100L)
  /** Timestamps near 0 and near 2^32; an INT cast maps 2^32 + x to x. */
  val genTs: Gen[Long] = Gen.frequency(3 -> genV, 1 -> genV.map(_ + (1L << 32)))
  private val genOp: Gen[String] = Gen.oneOf("=", "<", "<=", ">", ">=")
  private val genLeafT: Gen[TP] = Gen.frequency(
    5 -> (for { op <- genOp; v <- genV } yield Leaf(op, v)),
    2 -> (for { a <- genV; b <- genV; n <- Gen.prob(0.3) } yield Between(a, b, n)),
    2 -> (for { vs <- Gen.nonEmptyListOf(genV); n <- Gen.prob(0.3) } yield In(vs.take(4), n)),
    1 -> (for { op <- genOp; v <- genV } yield NarrowTs(op, v)),
    1 -> (for { op <- genOp; v <- Gen.oneOf(genV, genV.map(_ + 65536)) } yield NarrowLit(op, v)),
  )

  def genTP(d: Int): Gen[TP] =
    if (d <= 0) genLeafT
    else Gen.frequency(
      3 -> genLeafT,
      2 -> (for { l <- genTP(d - 1); r <- genTP(d - 1) } yield AndT(l, r)),
      2 -> (for { l <- genTP(d - 1); r <- genTP(d - 1) } yield OrT(l, r)),
      1 -> genTP(d - 1).map(OpaqueAnd(_)),
    )

  def toSql(t: TP): String = t match {
    case Leaf(op, v)        => s"timestamp $op $v"
    case Between(lo, hi, n) => s"timestamp ${if (n) "NOT " else ""}BETWEEN $lo AND $hi"
    case In(vs, n)          => s"timestamp ${if (n) "NOT " else ""}IN (${vs.mkString(", ")})"
    case NarrowTs(op, v)    => s"CAST(timestamp AS INT) $op $v"
    case NarrowLit(op, v)   => s"timestamp $op CAST($v AS SMALLINT)"
    case AndT(l, r)         => s"(${toSql(l)}) AND (${toSql(r)})"
    case OrT(l, r)          => s"(${toSql(l)}) OR (${toSql(r)})"
    case OpaqueAnd(i)       => s"(${toSql(i)}) AND (other + 1 > 0)"
  }

  private def holds(op: String, l: Long, r: Long): Boolean = op match {
    case "="  => l == r
    case "<"  => l < r
    case "<=" => l <= r
    case ">"  => l > r
    case _    => l >= r
  }

  /** Ground truth with non-ANSI casts, under an assignment where `other`
    * makes the opaque conjunct true. */
  def eval(t: TP, ts: Long): Boolean = t match {
    case Leaf(op, v)        => holds(op, ts, v)
    case Between(lo, hi, n) => (lo <= ts && ts <= hi) != n
    case In(vs, n)          => vs.contains(ts) != n
    case NarrowTs(op, v)    => holds(op, ts.toInt.toLong, v)
    case NarrowLit(op, v)   => holds(op, ts, v.toShort.toLong)
    case AndT(l, r)    => eval(l, ts) && eval(r, ts)
    case OrT(l, r)     => eval(l, ts) || eval(r, ts)
    case OpaqueAnd(i)  => eval(i, ts)
  }

  property("every satisfying timestamp is inside the range extracted from SQL text") =
    forAll(genTP(3), genTs) { (t, ts) =>
      val r = TimeRange.extract("timestamp", CatalystSqlParser.parseExpression(toSql(t)))
      !eval(t, ts) || (ts >= r.min && ts <= r.max)
    }

  property("extraction is stable under flipped operand order") =
    forAll(genV, Gen.oneOf("<", "<=", ">", ">=")) { (v, op) =>
      val flippedOp = op match {
        case "<" => ">"; case "<=" => ">="; case ">" => "<"; case _ => "<="
      }
      def range(sql: String) =
        TimeRange.extract("timestamp", CatalystSqlParser.parseExpression(sql))
      range(s"timestamp $op $v") == range(s"$v $flippedOp timestamp")
    }
}
