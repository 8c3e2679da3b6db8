package graft.core

import graft.SparkFixture
import graft.frontend.TenantSession
import graft.schema._
import graft.sources._
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.graftshim.GraftSessions
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** End-to-end multi-source assembly: ports the semantics pinned by the
  * reference's TestClientLikeReads.java (overlap cutoff, multi-source
  * union) and TestPushTimerangePastFMR.java (source pruning). */
class AssemblerSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  import scala.jdk.CollectionConverters._

  private val metric = Metric("m1", "metricid1", Seq(
    Field("field1", FieldType.BOOLEAN),
    Field("val", FieldType.LONG, aliases = Seq("v_alias"))))

  private def sqlRange(pred: String): TimeRange =
    TimeRange.extract("timestamp", CatalystSqlParser.parseExpression(pred))

  private def writeArchive(basedir: String, format: String, rows: Seq[Row]): Unit = {
    val schema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("field1", BooleanType),
      StructField("v_alias", LongType)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val path = s"$basedir/0/$format/orgid1/m1"
    if (format == "json") df.write.mode("overwrite").json(path)
    else df.write.mode("overwrite").parquet(path)
  }

  private def writeNearline(path: String, rows: Seq[Row]): Unit = {
    val schema = StructType(Seq(
      StructField("partition", StringType), StructField("sort", StringType),
      StructField("ids", ArrayType(StringType)),
      StructField("field1", MapType(StringType, StringType)),
      StructField("val", MapType(StringType, StringType))))
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(path)
  }

  test("archive json + parquet union with null-fill and time sort") {
    val dir = SparkFixture.tempDir("assy1")
    writeArchive(dir, "json", Seq(Row("orgid1", "m1", 100L, true, 1L)))
    writeArchive(dir, "parquet", Seq(Row("orgid1", "m1", 50L, false, 2L)))
    val sources = SourceSet(fs = Seq(FsSource("json", dir), FsSource("parquet", dir)))
    val out = Assembler.metricTable(spark, "orgid1", metric, sources)
    val rows = out.collect()
    rows.map(_.getLong(0)).toSeq shouldBe Seq(50L, 100L) // time-ordered
    rows.map(_.getLong(2)).toSeq shouldBe Seq(2L, 1L)    // alias feeds `val`
  }

  test("overlap cutoff: archive rows at/after min nearline start are dropped; nearline wins") {
    val dir = SparkFixture.tempDir("assy2")
    // archive has ts 100, 200, 300; nearline table covers [200, 400) with ts 200, 250
    writeArchive(dir, "parquet", Seq(
      Row("orgid1", "m1", 100L, true, 10L),
      Row("orgid1", "m1", 200L, true, 20L), // overlaps nearline → must be dropped
      Row("orgid1", "m1", 300L, true, 30L))) // after cutoff → dropped too
    val nlPath = SparkFixture.tempDir("nl1") + "/tbl"
    writeNearline(nlPath, Seq(
      Row("orgid1m1", "200", Seq("w1"), Map("w1" -> "false"), Map("w1" -> "21")),
      Row("orgid1m1", "250", Seq("w1"), Map("w1" -> "true"), Map("w1" -> "25"))))
    val sources = SourceSet(
      fs = Seq(FsSource("parquet", dir)),
      nearline = Seq(NearlineTableDesc("t_200_400", nlPath, 200L, 400L)))
    val out = Assembler.metricTable(spark, "orgid1", metric, sources)
    val rows = out.collect()
    rows.map(_.getLong(0)).toSeq shouldBe Seq(100L, 200L, 250L)
    // ts=200 comes from nearline (val 21), not archive (val 20)
    rows.map(_.getLong(2)).toSeq shouldBe Seq(10L, 21L, 25L)
  }

  test("non-contiguous nearline windows: archive rows in the gap survive") {
    val dir = SparkFixture.tempDir("assy_gap")
    // nearline windows [0,100) and [200,400) with a gap [100,200); the
    // archive row at ts=150 must NOT be lost (a global min-start cutoff
    // would drop it), while rows inside either window are still excluded.
    writeArchive(dir, "parquet", Seq(
      Row("orgid1", "m1", 50L, true, 5L),   // inside [0,100)  → dropped (nearline wins)
      Row("orgid1", "m1", 150L, true, 15L), // in the gap      → kept
      Row("orgid1", "m1", 250L, true, 25L))) // inside [200,400) → dropped
    val nlA = SparkFixture.tempDir("nlgap") + "/a"
    val nlB = SparkFixture.tempDir("nlgap") + "/b"
    writeNearline(nlA, Seq(Row("orgid1m1", "60", Seq("w"), Map("w" -> "true"), Map("w" -> "6"))))
    writeNearline(nlB, Seq(Row("orgid1m1", "260", Seq("w"), Map("w" -> "true"), Map("w" -> "26"))))
    val sources = SourceSet(
      fs = Seq(FsSource("parquet", dir)),
      nearline = Seq(
        NearlineTableDesc("t_0_100", nlA, 0L, 100L),
        NearlineTableDesc("t_200_400", nlB, 200L, 400L)))
    val out = Assembler.metricTable(spark, "orgid1", metric, sources)
    out.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq shouldBe
      Seq((60L, 6L), (150L, 15L), (260L, 26L))
  }

  test("covered ranges drop the archive: pruned tables equal the unpruned table in range") {
    // archive json + parquet rows every 10 ms over [0, 600); nearline
    // windows [200, 300) and [400, 500) overlap it, with a gap [300, 400)
    val dir = SparkFixture.tempDir("assy_cover")
    val archiveRows = (0L until 600L by 10L).map(t => Row("orgid1", "m1", t, true, t))
    writeArchive(dir, "json", archiveRows.filter(_.getLong(2) % 20 == 0))
    writeArchive(dir, "parquet", archiveRows.filter(_.getLong(2) % 20 != 0))
    val nlDir = SparkFixture.tempDir("nl_cover")
    def nlRows(lo: Long) = (lo until lo + 100L by 25L).map(t =>
      Row("orgid1m1", t.toString, Seq("w"), Map("w" -> "false"), Map("w" -> (t + 1000).toString)))
    writeNearline(s"$nlDir/a", nlRows(200L))
    writeNearline(s"$nlDir/b", nlRows(400L))
    val sources = SourceSet(
      fs = Seq(FsSource("json", dir), FsSource("parquet", dir)),
      nearline = Seq(
        NearlineTableDesc("t_400_500", s"$nlDir/b", 400L, 500L),
        NearlineTableDesc("t_200_300", s"$nlDir/a", 200L, 300L)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    val unpruned = Assembler.metricTable(spark, "orgid1", metric, sources, sorted = false)

    val cases = Seq( // (min, max, covered)
      (210L, 289L, true),  // inside one window
      (250L, 299L, true),  // max = end - 1
      (250L, 300L, false), // max = end: 300 lies in the gap
      (250L, 450L, false), // spans the gap
      (300L, 200L, false)) // empty
    cases.foreach { case (lo, hi, covered) =>
      withClue(s"[$lo, $hi]: ") {
        val pred = s"`timestamp` >= $lo AND `timestamp` <= $hi"
        val range = sqlRange(pred)
        range shouldBe TimeRange(lo, hi)
        val pruned = sources.prune(range)
        pruned.fs.isEmpty shouldBe covered
        val table = Assembler.metricTable(spark, "orgid1", metric, pruned, sorted = false)
        val got = rows(table.filter(pred))
        got shouldBe rows(unpruned.filter(pred))
        if (lo <= hi) got should not be empty
        if (covered) {
          table.inputFiles.exists(_.contains(dir)) shouldBe false
          got.map(_._2).forall(_ >= 1000L) shouldBe true // nearline values only
        }
      }
    }
  }

  test("a file: basedir and a plain basedir give equal tables") {
    val dir = SparkFixture.tempDir("assy_uri")
    writeArchive(dir, "json", Seq(Row("orgid1", "m1", 100L, true, 1L)))
    writeArchive(dir, "parquet", Seq(Row("orgid1", "m1", 50L, false, 2L)))
    def table(base: String) = Assembler.metricTable(spark, "orgid1", metric,
      SourceSet(fs = Seq(FsSource("json", base), FsSource("parquet", base),
        FsSource("parquet", s"$base/absent")))).collect().toSeq
    val plain = table(dir)
    plain.map(_.getLong(0)) shouldBe Seq(50L, 100L)
    table(s"file:$dir") shouldBe plain
  }

  test("nearline multi-write items expand to one row per write-id") {
    val nlPath = SparkFixture.tempDir("nl2") + "/tbl"
    writeNearline(nlPath, Seq(
      Row("orgid1m1", "500", Seq("w1", "w2"),
        Map("w1" -> "true", "w2" -> "false"),
        Map("w1" -> "51", "w2" -> "52"))))
    val sources = SourceSet(nearline = Seq(NearlineTableDesc("t_400_600", nlPath, 400L, 600L)))
    val out = Assembler.metricTable(spark, "orgid1", metric, sources)
    val rows = out.orderBy("val").collect()
    rows should have length 2 // testReadOverlappingTimestampRow semantics
    rows.map(_.getLong(0)).toSeq shouldBe Seq(500L, 500L)
    rows.map(_.getLong(2)).toSeq shouldBe Seq(51L, 52L)
  }

  test("time-range pruning drops nearline tables outside the predicate window") {
    val nl1 = SparkFixture.tempDir("nl3") + "/t1"
    val nl2 = SparkFixture.tempDir("nl3") + "/t2"
    writeNearline(nl1, Seq(Row("orgid1m1", "100", Seq("w"), Map("w" -> "true"), Map("w" -> "1"))))
    writeNearline(nl2, Seq(Row("orgid1m1", "900", Seq("w"), Map("w" -> "true"), Map("w" -> "9"))))
    val sources = SourceSet(nearline = Seq(
      NearlineTableDesc("t_0_500", nl1, 0L, 500L),
      NearlineTableDesc("t_500_1000", nl2, 500L, 1000L)))
    val pruned = sources.prune(sqlRange("`timestamp` < 400"))
    pruned.nearline.map(_.name) shouldBe Seq("t_0_500")
    // and a tenant statement prunes the same way and still applies its
    // filter row by row
    val tenant = TenantSession.open(spark, SchemaRegistry(Org("orgid1", Seq(metric))), "orgid1", sources)
    val out = tenant.sql("SELECT `timestamp` FROM metricid1 WHERE `timestamp` < 400")
    out.collect().map(_.getLong(0)).toSeq shouldBe Seq(100L)
    out.inputFiles.exists(_.contains(nl2)) shouldBe false
  }

  test("opaque predicates scan all sources (conservatism)") {
    val sources = SourceSet(nearline = Seq(
      NearlineTableDesc("t_0_500", "x", 0L, 500L),
      NearlineTableDesc("t_500_1000", "y", 500L, 1000L)))
    sources.prune(sqlRange("`timestamp` <> 100")).nearline should have length 2
  }

  test("non-radio json reads with the registry schema: no inference, unknown columns dropped") {
    metric.storageSchema(StorageKind.Json).isDefined shouldBe true
    val dir = SparkFixture.tempDir("assy_schema")
    // hand-written json with an extra unknown column and a missing alias
    val lines = Seq(
      """{"companykey":"orgid1","metrictype":"m1","timestamp":10,"field1":true,"junk":"zzz"}""",
      """{"companykey":"orgid1","metrictype":"m1","timestamp":20,"v_alias":7,"junk":"yyy"}""")
    val d = new java.io.File(s"$dir/0/json/orgid1/m1")
    d.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d.toString, "part.json"), lines.mkString("\n").getBytes)
    val out = Assembler.metricTable(spark, "orgid1", metric,
      SourceSet(fs = Seq(FsSource("json", dir))))
    val rows = out.collect()
    rows.map(_.getLong(0)).toSeq shouldBe Seq(10L, 20L)
    out.schema.fieldNames.toSeq shouldBe Seq("timestamp", "field1", "val") // no junk leak
    rows.map(r => Option(r.get(2)).orNull).toSeq shouldBe Seq(null, 7L)   // alias feeds val
    // radio metrics must infer (unknown columns are their contract)
    metric.copy(radioEnabled = true).storageSchema(StorageKind.Json) shouldBe None
  }

  test("DECIMAL fields survive the JSON path losslessly (string carrier, no double round-trip)") {
    // 25 significant digits — a binary double keeps only ~16. If the
    // carrier type were DoubleType this value would come back mangled.
    val big = "1234567890123456789012345.123456789"
    val m = Metric("md", "dec_metric", Seq(Field("amount", FieldType.DECIMAL)))
    m.storageSchema(StorageKind.Json).get("amount").dataType shouldBe StringType
    val dir = SparkFixture.tempDir("assy_decimal")
    val d = new java.io.File(s"$dir/0/json/orgid1/md")
    d.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d.toString, "part.json"),
      s"""{"companykey":"orgid1","metrictype":"md","timestamp":10,"amount":"$big"}""".getBytes)
    val out = Assembler.metricTable(spark, "orgid1", m,
      SourceSet(fs = Seq(FsSource("json", dir))))
    out.schema("amount").dataType shouldBe DecimalType(38, 9)
    out.collect().head.getDecimal(1) shouldBe new java.math.BigDecimal(big).setScale(9)
  }

  test("a Parquet archive column stored at another type than declared fails the statement") {
    val dir = SparkFixture.tempDir("assy_badtype")
    // `val` is declared LONG; the file stores it as STRING. Even a
    // numeric string must not be cast through, nor read back as null.
    spark.createDataFrame(Seq(Row("orgid1", "m1", 10L, "12")).asJava, StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("val", StringType))))
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgid1/m1")
    val table = Assembler.metricTable(spark, "orgid1", metric,
      SourceSet(fs = Seq(FsSource("parquet", dir))))
    val e = intercept[SparkException](table.collect())
    e.getMessage should include("PARQUET_COLUMN_DATA_TYPE_MISMATCH")
    e.getMessage should include("[val]")
  }

  test("a nearline field column that is not a map fails the statement") {
    val nlPath = SparkFixture.tempDir("nl_badtype") + "/tbl"
    spark.createDataFrame(Seq(Row("orgid1m1", "500", Seq("w1"), "51")).asJava, StructType(Seq(
      StructField("partition", StringType), StructField("sort", StringType),
      StructField("ids", ArrayType(StringType)), StructField("val", StringType))))
      .write.mode("overwrite").parquet(nlPath)
    val table = Assembler.metricTable(spark, "orgid1", metric,
      SourceSet(nearline = Seq(NearlineTableDesc("t_400_600", nlPath, 400L, 600L))))
    val e = intercept[SparkException](table.collect())
    e.getMessage should include("PARQUET_COLUMN_DATA_TYPE_MISMATCH")
    e.getMessage should include("map<string,string>")
  }

  test("a radio metric infers on both paths: undeclared columns land in _fm") {
    val radio = metric.copy(radioEnabled = true)
    StorageKind.values.toSeq.map(radio.storageSchema) shouldBe Seq(None, None, None)
    val dir = SparkFixture.tempDir("assy_radio")
    spark.createDataFrame(Seq(Row("orgid1", "m1", 100L, true, 1L, "p")).asJava, StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("field1", BooleanType),
      StructField("val", LongType), StructField("extra_p", StringType))))
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgid1/m1")
    val nlPath = SparkFixture.tempDir("nl_radio") + "/tbl"
    val map = MapType(StringType, StringType)
    spark.createDataFrame(
      Seq(Row("orgid1m1", "500", Seq("w"), Map("w" -> "true"), Map("w" -> "5"), Map("w" -> "n"))).asJava,
      StructType(Seq(
        StructField("partition", StringType), StructField("sort", StringType),
        StructField("ids", ArrayType(StringType)), StructField("field1", map),
        StructField("val", map), StructField("extra_n", map))))
      .write.mode("overwrite").parquet(nlPath)
    val out = Assembler.metricTable(spark, "orgid1", radio, SourceSet(
      fs = Seq(FsSource("parquet", dir)),
      nearline = Seq(NearlineTableDesc("t_400_600", nlPath, 400L, 600L))))
    out.collect().map(r => (r.getLong(0), r.getLong(2), r.getMap[String, String](3))).toSeq shouldBe
      Seq((100L, 1L, Map("extra_p" -> "p")), (500L, 5L, Map("extra_n" -> "n")))
  }

  /** Run `f` under a fresh job group; return its result and the number of
    * Spark jobs it started (counted by group, so jobs of other threads
    * never land in the count). */
  private def jobsFiredBy[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"assembler-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    GraftSessions.drainListenerBus(spark)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job-count pin")
    try {
      val a = f
      GraftSessions.drainListenerBus(spark)
      (a, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("building a non-radio table starts no job; a one-window point read runs one") {
    val dir = SparkFixture.tempDir("assy_jobs")
    writeArchive(dir, "json", Seq(Row("orgid1", "m1", 100L, true, 1L)))
    writeArchive(dir, "parquet", Seq(Row("orgid1", "m1", 50L, false, 2L)))
    val nlDir = SparkFixture.tempDir("nl_jobs")
    writeNearline(s"$nlDir/a", Seq(Row("orgid1m1", "250", Seq("w"), Map("w" -> "true"), Map("w" -> "25"))))
    writeNearline(s"$nlDir/b", Seq(Row("orgid1m1", "450", Seq("w"), Map("w" -> "true"), Map("w" -> "45"))))
    val sources = SourceSet(
      fs = Seq(FsSource("json", dir), FsSource("parquet", dir)),
      nearline = Seq(
        NearlineTableDesc("t_200_400", s"$nlDir/a", 200L, 400L),
        NearlineTableDesc("t_400_600", s"$nlDir/b", 400L, 600L)))
    val (table, buildJobs) = jobsFiredBy(Assembler.metricTable(spark, "orgid1", metric, sources))
    buildJobs shouldBe 0
    table.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq shouldBe
      Seq((50L, 2L), (100L, 1L), (250L, 25L), (450L, 45L))

    val tenant = TenantSession.open(spark, SchemaRegistry(Org("orgid1", Seq(metric))), "orgid1", sources)
    val (rows, readJobs) = jobsFiredBy(tenant.sql(
      "SELECT `timestamp`, val FROM metricid1 WHERE `timestamp` >= 240 AND `timestamp` < 300").collect())
    rows.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((250L, 25L))
    readJobs shouldBe 1
  }

  test("registry JSON accepts DECIMAL and DECIMAL(p,s) declarations") {
    val reg = SchemaRegistry.fromJson(
      """{"orgs":[{"orgId":"o1","metrics":[{"canonicalId":"c1","displayName":"t1",
        |  "fields":[{"name":"exact","type":"DECIMAL(20,4)"},
        |            {"name":"wide","type":"decimal"},
        |            {"name":"n","type":"LONG"}]}]}]}""".stripMargin)
    val m = reg.metric("o1", "t1").get
    m.structType("exact").dataType shouldBe DecimalType(20, 4)
    m.structType("wide").dataType shouldBe DecimalType(38, 9)
    m.structType("n").dataType shouldBe LongType
  }

  test("nearline table name range parsing") {
    NearlineTableDesc.parseRange("pfx-", "pfx-100_200") shouldBe Some((100L, 200L))
    NearlineTableDesc.parseRange("pfx-", "other-100_200") shouldBe None
    NearlineTableDesc.parseRange("pfx-", "pfx-bad") shouldBe None
  }
}
