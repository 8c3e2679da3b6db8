package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.{Files, Paths}

/** The profiling main's library entry: plans written under the plan-dump
  * file names, unknown keys skipped, the shared session left running, and
  * the oracle JSON written without Spark. */
class ProfileSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  private val sf = "/root/testdata/sf0.001"

  test("run writes <key>_<suffix>.txt plans, skips unknown keys and leaves the session usable") {
    val dir = SparkFixture.tempDir("profile-plans")
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) {
      Profile.run(spark, sf, Seq("no_such_key", "scan_filter_project"),
        plans = Some((dir, "after")))
    }
    val printed = out.toString("UTF-8")
    printed should include("unknown key: no_such_key (skipped)")
    printed should include("[profile] scan_filter_project:")
    printed should include("by call site:")
    val plan = Paths.get(dir, "scan_filter_project_after.txt")
    Files.readString(plan) should include("== Physical Plan ==")
    Files.exists(Paths.get(dir, "no_such_key_after.txt")) shouldBe false
    spark.range(3).count() shouldBe 3L
  }

  test("--oracles writes SparkEntry.oracleSql as JSON without a session") {
    val file = Paths.get(SparkFixture.tempDir("profile-oracles"), "oracles.json")
    Console.withOut(new java.io.ByteArrayOutputStream) {
      Profile.main(Array("--oracles", file.toString))
    }
    val node = new ObjectMapper().readTree(Files.readString(file))
    import scala.jdk.CollectionConverters._
    val parsed = node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    parsed shouldBe SparkEntry.oracleSql
  }
}
