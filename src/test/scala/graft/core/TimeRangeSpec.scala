package graft.core

import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Mirrors the conservatism contract of the reference's
  * TimestampExpressionBuilder (TimestampExpressionBuilder.java:71-134):
  * only =,<,<=,>,>=, BETWEEN, IN + AND/OR narrow; everything else widens
  * to scan-all. */
class TimeRangeSpec extends AnyFunSuite with Matchers {

  private def sqlRange(pred: String): TimeRange =
    TimeRange.extract("timestamp", CatalystSqlParser.parseExpression(pred))

  test("simple comparisons narrow the range") {
    sqlRange("`timestamp` >= 100") shouldBe TimeRange(min = 100)
    sqlRange("`timestamp` > 100") shouldBe TimeRange(min = 101)
    sqlRange("`timestamp` <= 200") shouldBe TimeRange(max = 200)
    sqlRange("`timestamp` < 200") shouldBe TimeRange(max = 199)
    sqlRange("`timestamp` = 150") shouldBe TimeRange(150, 150)
  }

  test("flipped literal-first comparisons transpose (a < 5 vs 5 > a)") {
    sqlRange("100 <= `timestamp`") shouldBe TimeRange(min = 100)
    sqlRange("200 > `timestamp`") shouldBe TimeRange(max = 199)
  }

  test("AND intersects, OR takes the hull") {
    sqlRange("`timestamp` >= 100 AND `timestamp` < 200") shouldBe TimeRange(100, 199)
    sqlRange("`timestamp` = 50 OR `timestamp` = 500") shouldBe TimeRange(50, 500)
  }

  test("non-understood predicates widen to scan-all, never narrow") {
    sqlRange("`timestamp` <> 100") shouldBe TimeRange.Full
    sqlRange("`timestamp` IS NULL") shouldBe TimeRange.Full
    sqlRange("`other` > 5") shouldBe TimeRange.Full
    // OR with an opaque side must scan all
    sqlRange("`timestamp` > 100 OR `other` = 1") shouldBe TimeRange.Full
    // AND with an opaque side keeps the understood side only
    sqlRange("`timestamp` > 100 AND `other` = 1") shouldBe TimeRange(min = 101)
  }

  test("casts are looked through only when they target BIGINT") {
    // with ANSI off, ts = 2^32 + 100 satisfies CAST(ts AS INT) < 400 (wraps
    // to 100), and CAST(300000 AS SMALLINT) is -27680: neither may narrow
    sqlRange("CAST(`timestamp` AS INT) < 400") shouldBe TimeRange.Full
    sqlRange("`timestamp` > CAST(300000 AS SMALLINT)") shouldBe TimeRange.Full
    sqlRange("CAST(`timestamp` AS INT) BETWEEN 100 AND 200") shouldBe TimeRange.Full
    sqlRange("CAST(`timestamp` AS BIGINT) < 400") shouldBe TimeRange(max = 399)
    sqlRange("`timestamp` > CAST(300 AS BIGINT)") shouldBe TimeRange(min = 301)
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
      val r = sqlRange(s"`timestamp` >= $lo AND `timestamp` <= $hi")
      if (v >= lo && v <= hi) withClue(s"v=$v lo=$lo hi=$hi r=$r") {
        (v >= r.min && v <= r.max) shouldBe true
      }
    }
  }
}
