package graft.core

import graft.SparkFixture
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Mirrors the conservatism contract of the reference's
  * TimestampExpressionBuilder (TimestampExpressionBuilder.java:71-134):
  * only =,<,<=,>,>=, BETWEEN, IN + AND/OR narrow; everything else widens
  * to scan-all. */
class TimeRangeSpec extends AnyFunSuite with Matchers {
  SparkFixture.spark // force session init for Column->Expression conversion

  private val ts = "timestamp"

  test("simple comparisons narrow the range") {
    TimeRange.extract(ts, col(ts) >= 100L) shouldBe TimeRange(min = 100)
    TimeRange.extract(ts, col(ts) > 100L) shouldBe TimeRange(min = 101)
    TimeRange.extract(ts, col(ts) <= 200L) shouldBe TimeRange(max = 200)
    TimeRange.extract(ts, col(ts) < 200L) shouldBe TimeRange(max = 199)
    TimeRange.extract(ts, col(ts) === 150L) shouldBe TimeRange(150, 150)
  }

  test("flipped literal-first comparisons transpose (a < 5 vs 5 > a)") {
    TimeRange.extract(ts, lit(100L) <= col(ts)) shouldBe TimeRange(min = 100)
    TimeRange.extract(ts, lit(200L) > col(ts)) shouldBe TimeRange(max = 199)
  }

  test("AND intersects, OR takes the hull") {
    val r = TimeRange.extract(ts, col(ts) >= 100L && col(ts) < 200L)
    r shouldBe TimeRange(100, 199)
    val o = TimeRange.extract(ts, (col(ts) === 50L) || (col(ts) === 500L))
    o shouldBe TimeRange(50, 500)
  }

  test("non-understood predicates widen to scan-all, never narrow") {
    TimeRange.extract(ts, col(ts) =!= 100L) shouldBe TimeRange.Full
    TimeRange.extract(ts, col(ts).isNull) shouldBe TimeRange.Full
    TimeRange.extract(ts, col("other") > 5L) shouldBe TimeRange.Full
    // OR with an opaque side must scan all
    TimeRange.extract(ts, (col(ts) > 100L) || col("other") === 1L) shouldBe TimeRange.Full
    // AND with an opaque side keeps the understood side only
    TimeRange.extract(ts, (col(ts) > 100L) && col("other") === 1L) shouldBe TimeRange(min = 101)
  }

  private def sqlRange(pred: String): TimeRange =
    TimeRange.extractExpr(ts,
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(pred))

  test("casts are looked through only when they target BIGINT") {
    // with ANSI off, ts = 2^32 + 100 satisfies CAST(ts AS INT) < 400 (wraps
    // to 100), and CAST(300000 AS SMALLINT) is -27680: neither may narrow
    sqlRange("CAST(`timestamp` AS INT) < 400") shouldBe TimeRange.Full
    sqlRange("`timestamp` > CAST(300000 AS SMALLINT)") shouldBe TimeRange.Full
    sqlRange("CAST(`timestamp` AS INT) BETWEEN 100 AND 200") shouldBe TimeRange.Full
    sqlRange("CAST(`timestamp` AS BIGINT) < 400") shouldBe TimeRange(max = 399)
    sqlRange("`timestamp` > CAST(300 AS BIGINT)") shouldBe TimeRange(min = 301)
    TimeRange.extract(ts, col(ts).cast("int") < 400L) shouldBe TimeRange.Full
    TimeRange.extract(ts, col(ts) > lit(300000).cast("short")) shouldBe TimeRange.Full
    TimeRange.extract(ts, col(ts).cast("long") < 400L) shouldBe TimeRange(max = 399)
    // a DATE or TIMESTAMP literal holds days or microseconds, not millis
    sqlRange("`timestamp` > DATE '2024-01-01'") shouldBe TimeRange.Full
    sqlRange("`timestamp` > TIMESTAMP '2024-01-01 00:00:00'") shouldBe TimeRange.Full
  }

  test("BETWEEN and IN bound the range; NOT BETWEEN and NOT IN stay Full") {
    sqlRange("`timestamp` BETWEEN 100 AND 200") shouldBe TimeRange(100, 200)
    sqlRange("timestamp BETWEEN 100 AND 200 AND timestamp < 150") shouldBe TimeRange(100, 149)
    sqlRange("`timestamp` BETWEEN 100 AND `other`") shouldBe TimeRange(min = 100)
    sqlRange("`timestamp` IN (300, 100, 200)") shouldBe TimeRange(100, 300)
    sqlRange("`timestamp` IN (100, `other`)") shouldBe TimeRange.Full
    sqlRange("`other` BETWEEN 100 AND 200") shouldBe TimeRange.Full
    sqlRange("`timestamp` NOT BETWEEN 100 AND 200") shouldBe TimeRange.Full
    sqlRange("`timestamp` NOT IN (100, 200)") shouldBe TimeRange.Full
    TimeRange.extract(ts, col(ts).between(100L, 200L)) shouldBe TimeRange(100, 200)
    TimeRange.extract(ts, col(ts).isin(300L, 100L, 200L)) shouldBe TimeRange(100, 300)
    TimeRange.extract(ts, !col(ts).isin(100L, 200L)) shouldBe TimeRange.Full
  }

  test("overlap check against [start, end) windows") {
    TimeRange(100, 199).overlaps(0, 100) shouldBe false // end exclusive
    TimeRange(100, 199).overlaps(0, 101) shouldBe true
    TimeRange(100, 199).overlaps(199, 300) shouldBe true // max inclusive
    TimeRange(100, 199).overlaps(200, 300) shouldBe false
    TimeRange.Full.overlaps(5, 6) shouldBe true
  }

  test("property sweep: extracted range always contains every matching timestamp") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val (a, b, v) = (rnd.nextLong(1000), rnd.nextLong(1000), rnd.nextLong(1000))
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val cond = (col(ts) >= lo) && (col(ts) <= hi)
      val r = TimeRange.extract(ts, cond)
      if (v >= lo && v <= hi) withClue(s"v=$v lo=$lo hi=$hi r=$r") {
        (v >= r.min && v <= r.max) shouldBe true
      }
    }
  }
}
