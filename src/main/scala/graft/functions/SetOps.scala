package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct-intersection COUNT of two ASCENDING-sorted arrays via a
  * two-pointer merge — the exact-similarity verify's hot loop.
  *
  * Why this exists: every near-dup verify (`Dedup.verifyPairsTok`, the
  * all-pairs truth builder, LSH band verifies, fuzzy decontamination)
  * computes Jaccard over md5-token SETS. The portable
  * `array_intersect`/`array_union` pair allocates two result arrays and
  * hash-probes per element, per CANDIDATE PAIR — measured ~33 µs/pair,
  * 6.6 s of an 10.4 s all-pairs run at sf0.1. A two-pointer count over
  * pre-sorted arrays is allocation-free, O(|a|+|b|), and runs inside
  * whole-stage codegen; with set algebra (|A∪B| = |A|+|B|−|A∩B|) the
  * union is never materialized at all.
  *
  * Element types: array<string> (the md5-hex token tables) and
  * array<bigint> (the bijective 16-hex → 64-bit re-encode the exact
  * all-pairs join runs on — one long compare per step instead of a
  * 16-byte UTF8 compare; both sides must be sorted in the SAME domain).
  *
  * Semantics match `size(array_intersect(a, b))` on ANY inputs (duplicate
  * elements are skipped — the count is of DISTINCT common values), but
  * both inputs MUST be sorted ascending (callers `sort_array` once at the
  * doc-sized token table, never per pair). Null if either side is null.
  * All generated locals are freshName'd (the round-10 scope-collision
  * lesson). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  // the long branch reads every slot with getLong, where a null element
  // would silently count as 0L — so it accepts only null-free arrays
  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(StringType, _) => Some(StringType)
    case ArrayType(LongType, false) => Some(LongType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left.dataType), elemType(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "sorted_intersect_count expects (array<string>, array<string>) " +
          "or (array<bigint>, array<bigint>) whose elements cannot be null")
    }

  override def dataType: DataType = IntegerType

  private lazy val longElems =
    elemType(left.dataType).contains(LongType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val nx = x.numElements(); val ny = y.numElements()
    if (longElems) {
      while (i < nx && j < ny) {
        val xv = x.getLong(i)
        val yv = y.getLong(j)
        if (xv == yv) {
          c += 1
          while (i < nx && x.getLong(i) == xv) i += 1
          while (j < ny && y.getLong(j) == yv) j += 1
        } else if (xv < yv) i += 1
        else j += 1
      }
    } else {
      while (i < nx && j < ny) {
        val xv = x.getUTF8String(i)
        val yv = y.getUTF8String(j)
        val cmp = xv.compareTo(yv)
        if (cmp == 0) {
          c += 1
          // skip duplicates of the matched value on BOTH sides: the count
          // is of distinct common values (array_intersect semantics)
          while (i < nx && x.getUTF8String(i).compareTo(xv) == 0) i += 1
          while (j < ny && y.getUTF8String(j).compareTo(yv) == 0) j += 1
        } else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val cmp = ctx.freshName("cmp")
      if (longElems)
        s"""
           |int $i = 0; int $j = 0; int $c = 0;
           |int $nx = $x.numElements(); int $ny = $y.numElements();
           |while ($i < $nx && $j < $ny) {
           |  long $xv = $x.getLong($i);
           |  long $yv = $y.getLong($j);
           |  if ($xv == $yv) {
           |    $c++;
           |    while ($i < $nx && $x.getLong($i) == $xv) $i++;
           |    while ($j < $ny && $y.getLong($j) == $yv) $j++;
           |  } else if ($xv < $yv) $i++;
           |  else $j++;
           |}
           |${ev.value} = $c;
         """.stripMargin
      else
        s"""
           |int $i = 0; int $j = 0; int $c = 0;
           |int $nx = $x.numElements(); int $ny = $y.numElements();
           |while ($i < $nx && $j < $ny) {
           |  org.apache.spark.unsafe.types.UTF8String $xv = $x.getUTF8String($i);
           |  org.apache.spark.unsafe.types.UTF8String $yv = $y.getUTF8String($j);
           |  int $cmp = $xv.compareTo($yv);
           |  if ($cmp == 0) {
           |    $c++;
           |    while ($i < $nx && $x.getUTF8String($i).compareTo($xv) == 0) $i++;
           |    while ($j < $ny && $y.getUTF8String($j).compareTo($yv) == 0) $j++;
           |  } else if ($cmp < 0) $i++;
           |  else $j++;
           |}
           |${ev.value} = $c;
         """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
