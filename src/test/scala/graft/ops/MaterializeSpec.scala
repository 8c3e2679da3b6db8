package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The index store: root resolution (driver-local temp dir by default,
  * `spark.graft.indexDir` — a shared-FS/lake prefix on a real cluster —
  * when set), the content-addressed cache that lets logically-identical
  * index builds share one parquet table across queries, and the
  * dropAll/clearCache retention split. */
class MaterializeSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark

  test("indexes land under spark.graft.indexDir when set; dropAll reaps scratch, clearCache reaps all") {
    Materialize.clearCache() // isolate from other suites' leftovers
    val root = SparkFixture.tempDir("idxroot")
    spark.conf.set(Materialize.IndexDirConf, root)
    try {
      val idx = Materialize.index(spark.range(10).toDF("id"), "t")
      idx.count() shouldBe 10
      val children = new java.io.File(root).listFiles()
      children should not be null
      children.length shouldBe 1
      children.head.getName should startWith("t")
      val scratch = Materialize.scratchDir("s")
      scratch should startWith(root)
      Materialize.liveCount shouldBe 2
      Materialize.dropAll()
      // the cached index survives dropAll (it is the reusable per-corpus
      // table); the scratch dir is reaped
      Materialize.liveCount shouldBe 1
      new java.io.File(root).listFiles().length shouldBe 1
      Materialize.clearCache()
      Materialize.liveCount shouldBe 0
      new java.io.File(root).listFiles().length shouldBe 0
    } finally spark.conf.unset(Materialize.IndexDirConf)
  }

  test("content-addressed reuse: the same logical computation materializes once") {
    Materialize.clearCache()
    def build() = Materialize.index(
      spark.range(100).toDF("id").selectExpr("id", "id * 2 AS dbl"), "cc")
    val (h0, m0, _) = Materialize.cacheTelemetry
    val a = build()
    val b = build() // separately-built but canonically identical plan
    val (h1, m1, _) = Materialize.cacheTelemetry
    (m1 - m0) shouldBe 1
    (h1 - h0) shouldBe 1
    // both scans read the SAME files
    a.inputFiles.sorted shouldBe b.inputFiles.sorted
    b.count() shouldBe 100
    // a logically different computation misses
    val c = Materialize.index(
      spark.range(100).toDF("id").selectExpr("id", "id * 3 AS dbl"), "cc")
    val (_, m2, _) = Materialize.cacheTelemetry
    (m2 - m1) shouldBe 1
    c.inputFiles.toSet.intersect(a.inputFiles.toSet) shouldBe empty
    Materialize.clearCache()
  }

  test("cache survives dropAll between queries and serves the second query from disk") {
    Materialize.clearCache()
    val first = Materialize.index(spark.range(7).toDF("k"), "xq")
    first.count() shouldBe 7
    Materialize.dropAll() // what Bench/Verify run between queries
    val again = Materialize.index(spark.range(7).toDF("k"), "xq")
    again.count() shouldBe 7
    again.inputFiles.sorted shouldBe first.inputFiles.sorted
    Materialize.clearCache()
  }

  test("spark.graft.indexCache=false restores per-call materialization") {
    Materialize.clearCache()
    spark.conf.set(Materialize.IndexCacheConf, "false")
    try {
      val a = Materialize.index(spark.range(5).toDF("v"), "nc")
      val b = Materialize.index(spark.range(5).toDF("v"), "nc")
      a.inputFiles.toSet.intersect(b.inputFiles.toSet) shouldBe empty
      Materialize.dropAll()
      Materialize.liveCount shouldBe 0
    } finally spark.conf.unset(Materialize.IndexCacheConf)
  }
}
