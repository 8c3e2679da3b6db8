package graft

import org.apache.spark.sql.graftshim.GraftSessions
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one per-query listener: task, byte, job and SQL-execution counters
  * between resets. The suites share one SparkContext, so other suites'
  * events may land here too — only lower bounds are asserted. */
class QueryProfileSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark

  test("a shuffle aggregation is counted with its call site; reset zeroes every counter") {
    val profile = QueryProfile.attach(spark)
    try {
      profile.reset()
      spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
      GraftSessions.drainListenerBus(spark)
      val p = profile.snapshot
      p.tasks should be > 0L
      p.shuffleWriteBytes should be > 0L
      p.jobs should be > 0L
      p.sqlExecs should be > 0
      p.execs.map(_.callSite).filter(_.nonEmpty) should not be empty

      profile.reset()
      val z = profile.snapshot
      Seq(z.tasks, z.shuffleReadBytes, z.shuffleWriteBytes, z.spillBytes,
        z.outputBytes, z.jobs, z.sqlExecs.toLong).foreach(_ shouldBe 0L)
    } finally spark.sparkContext.removeSparkListener(profile)
  }
}
