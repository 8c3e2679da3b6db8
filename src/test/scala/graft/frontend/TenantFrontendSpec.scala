package graft.frontend

import graft.SparkFixture
import graft.schema._
import graft.sources._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Tenant isolation + statement surface: ports the reference's
  * TestSqlRewriter / TestFineoInfoSchema / TestTenantValidator behavior
  * pins onto the session-scoped resolution model. */
class TenantFrontendSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  import scala.jdk.CollectionConverters._

  private val registry = SchemaRegistry(
    Org("org1", Seq(
      Metric("m1", "metricid1", Seq(Field("field1", FieldType.BOOLEAN)),
        tableAliases = Seq("metric_alias")),
      Metric("m2", "othermetric", Seq(Field("v", FieldType.LONG))))),
    Org("org2", Seq(
      Metric("m9", "org2metric", Seq(Field("z", FieldType.STRING))))))

  private lazy val sources: SourceSet = {
    val dir = SparkFixture.tempDir("front")
    val schema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("field1", BooleanType),
      StructField("v", LongType), StructField("z", StringType)))
    val rows = Seq(
      Row("org1", "m1", 10L, true, null, null),
      Row("org1", "m1", 20L, false, null, null),
      Row("org1", "m2", 30L, null, 7L, null),
      Row("org2", "m9", 40L, null, null, "secret"))
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/org1/m1")
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/org1/m2")
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/org2/m9")
    SourceSet(fs = Seq(FsSource("parquet", dir)))
  }

  test("bare table names resolve to the tenant's own metrics, time-ordered by contract") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    val rows = t.sql("SELECT `timestamp`, field1 FROM metricid1 ORDER BY `timestamp`").collect()
    rows.map(_.getLong(0)).toSeq shouldBe Seq(10L, 20L)
  }

  test("table aliases resolve to the same metric") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    t.sql("SELECT count(*) AS n FROM metric_alias").collect().head.getLong(0) shouldBe 2L
  }

  test("tenant cannot see another org's tables or rows") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    intercept[Exception] { t.sql("SELECT * FROM org2metric").collect() }
    // and org2's rows in shared storage never leak through org1's metrics
    val all = t.sql("SELECT * FROM metricid1").collect()
    all.length shouldBe 2
  }

  test("unknown tenant is rejected at open") {
    intercept[SecurityException] { TenantSession.open(spark, registry, "nosuch", sources) }
  }

  test("DDL/DML are rejected (read-only surface)") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    intercept[UnsupportedOperationException] { t.sql("CREATE TABLE x AS SELECT 1") }
    intercept[UnsupportedOperationException] { t.sql("INSERT INTO metricid1 VALUES (1)") }
    intercept[UnsupportedOperationException] { t.sql("DROP TABLE metricid1") }
    intercept[UnsupportedOperationException] { t.sql("SET spark.x = 1") }
    intercept[UnsupportedOperationException] {
      t.sql("LOAD DATA LOCAL INPATH '/etc/hosts' INTO TABLE metricid1")
    }
  }

  test("SHOW TABLES / SHOW SCHEMAS / DESCRIBE are tenant-scoped") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    t.sql("SHOW TABLES").collect().map(_.getString(1)).toSeq shouldBe
      Seq("metricid1", "othermetric")
    t.sql("SHOW SCHEMAS").collect().map(_.getString(0)).toSeq shouldBe Seq("FINEO")
    val cols = t.sql("DESCRIBE metricid1").collect().map(_.getString(0)).toSeq
    cols shouldBe Seq("timestamp", "field1")
  }

  test("full SELECT surface is delegated to Spark SQL (joins/aggs/windows)") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    val n = t.sql(
      """SELECT a.`timestamp`, b.v FROM metricid1 a
        |CROSS JOIN othermetric b""".stripMargin).collect()
    n.length shouldBe 2
  }

  test("SQL time predicates prune nearline sources at plan time (R1)") {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    // two nearline windows; a query bounded before the second window must
    // not read the second table's files
    val reg = SchemaRegistry(Org("orgp", Seq(
      Metric("mp", "pruned_metric", Seq(Field("v", FieldType.LONG))))))
    val nlDir = SparkFixture.tempDir("prunenl")
    val nlSchema = StructType(Seq(
      StructField("partition", StringType), StructField("sort", StringType),
      StructField("ids", ArrayType(StringType)),
      StructField("v", MapType(StringType, StringType))))
    def writeNl(path: String, sort: String, v: String): Unit =
      spark.createDataFrame(
        Seq(Row("orgpmp", sort, Seq("w"), Map("w" -> v))).asJava, nlSchema)
        .write.mode("overwrite").parquet(path)
    writeNl(s"$nlDir/t1", "100", "1")
    writeNl(s"$nlDir/t2", "900", "9")
    val srcs = SourceSet(nearline = Seq(
      NearlineTableDesc("t_0_500", s"$nlDir/t1", 0, 500),
      NearlineTableDesc("t_500_1000", s"$nlDir/t2", 500, 1000)))
    val t = TenantSession.open(spark, reg, "orgp", srcs)

    val bounded = t.sql("SELECT `timestamp`, v FROM pruned_metric WHERE `timestamp` < 400")
    bounded.collect().map(_.getLong(1)).toSeq shouldBe Seq(1L)
    bounded.inputFiles.exists(_.contains("/t2")) shouldBe false // pruned at plan time

    // unbounded (or opaque) predicates scan all sources
    val unbounded = t.sql("SELECT `timestamp`, v FROM pruned_metric WHERE v IS NOT NULL")
    unbounded.inputFiles.exists(_.contains("/t2")) shouldBe true
    unbounded.collect().map(_.getLong(1)).sorted.toSeq shouldBe Seq(1L, 9L)

    // the bound INSIDE a CTE body prunes too — WITH bodies are not plan
    // children, so a collectWithSubqueries-based boundsFor missed this,
    // the single most idiomatic bounded-query shape
    val cte = t.sql(
      """WITH recent AS (SELECT `timestamp`, v FROM pruned_metric WHERE `timestamp` < 400)
        |SELECT v FROM recent""".stripMargin)
    cte.collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    cte.inputFiles.exists(_.contains("/t2")) shouldBe false // pruned at plan time

    // but a CTE whose body REBINDS timestamp must still widen, not narrow
    val cteRebound = t.sql(
      """WITH shifted AS (SELECT `timestamp` - 1000000 AS `timestamp`, v FROM pruned_metric)
        |SELECT v FROM shifted WHERE `timestamp` < 400""".stripMargin)
    cteRebound.inputFiles.exists(_.contains("/t2")) shouldBe true
    cteRebound.collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 9L)
  }

  test("BETWEEN bounds prune: a covered range reads neither the other window nor the archive") {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val reg = SchemaRegistry(Org("orgb", Seq(
      Metric("mb", "between_metric", Seq(Field("v", FieldType.LONG))))))
    val nlDir = SparkFixture.tempDir("between_nl")
    val nlSchema = StructType(Seq(
      StructField("partition", StringType), StructField("sort", StringType),
      StructField("ids", ArrayType(StringType)),
      StructField("v", MapType(StringType, StringType))))
    def writeNl(path: String, sort: String, v: String): Unit =
      spark.createDataFrame(
        Seq(Row("orgbmb", sort, Seq("w"), Map("w" -> v))).asJava, nlSchema)
        .write.mode("overwrite").parquet(path)
    writeNl(s"$nlDir/t1", "100", "1")
    writeNl(s"$nlDir/t2", "900", "9")
    // the archive repeats ts=100 (cut: nearline wins) and holds ts=1200
    val archive = SparkFixture.tempDir("between_fs")
    spark.createDataFrame(Seq(
      Row("orgb", "mb", 100L, 100L), Row("orgb", "mb", 1200L, 12L)).asJava,
      StructType(Seq(
        StructField("companykey", StringType), StructField("metrictype", StringType),
        StructField("timestamp", LongType), StructField("v", LongType))))
      .write.mode("overwrite").parquet(s"$archive/0/parquet/orgb/mb")
    val srcs = SourceSet(
      fs = Seq(FsSource("parquet", archive)),
      nearline = Seq(
        NearlineTableDesc("t_0_500", s"$nlDir/t1", 0, 500),
        NearlineTableDesc("t_500_1000", s"$nlDir/t2", 500, 1000)))
    val t = TenantSession.open(spark, reg, "orgb", srcs)

    val covered = t.sql("SELECT v FROM between_metric WHERE `timestamp` BETWEEN 50 AND 400")
    covered.collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    covered.inputFiles.exists(_.contains("/t2")) shouldBe false
    covered.inputFiles.exists(_.contains(archive)) shouldBe false

    val wide = t.sql("SELECT v FROM between_metric WHERE `timestamp` BETWEEN 50 AND 1500")
    wide.collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 9L, 12L)
    wide.inputFiles.exists(_.contains(archive)) shouldBe true
  }

  test("file-path tables and catalog-qualified names are rejected (isolation escape)") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    // Spark's runSQLOnFiles surface: parquet.`/any/path` must throw, not read
    intercept[SecurityException] {
      t.sql("SELECT * FROM parquet.`/root/testdata/sf0.001/orders.parquet`")
    }
    intercept[SecurityException] {
      t.sql("SELECT * FROM json.`/etc`")
    }
    intercept[SecurityException] {
      t.sql("SELECT * FROM spark_catalog.default.anything")
    }
    intercept[SecurityException] {
      t.sql("SELECT * FROM global_temp.x")
    }
    // ... including inside subquery expressions
    intercept[SecurityException] {
      t.sql("SELECT * FROM metricid1 WHERE `timestamp` > " +
        "(SELECT count(*) FROM parquet.`/root/testdata/sf0.001/orders.parquet`)")
    }
  }

  test("read-only enforcement is plan-level, not first-token (CTE/comment disguises)") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    intercept[UnsupportedOperationException] {
      t.sql("WITH t AS (SELECT 1 AS x) INSERT INTO metricid1 SELECT * FROM t")
    }
    intercept[UnsupportedOperationException] {
      t.sql("/* hello */ DROP TABLE metricid1")
    }
    intercept[UnsupportedOperationException] {
      t.sql("-- c\nCREATE TABLE x AS SELECT 1")
    }
    intercept[UnsupportedOperationException] {
      t.sql("INSERT OVERWRITE DIRECTORY '/tmp/graft_escape' USING parquet SELECT 1")
    }
    // EXPLAIN itself is supported (frontend-handled, see below) — but a
    // command smuggled INTO the explained statement still dies
    intercept[UnsupportedOperationException] { t.sql("CACHE TABLE metricid1") }
  }

  test("CTEs and subqueries over tenant metrics work (substitution covers them)") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    val viaCte = t.sql(
      """WITH recent AS (SELECT * FROM metricid1 WHERE `timestamp` >= 20)
        |SELECT count(*) AS n FROM recent""".stripMargin).collect()
    viaCte.head.getLong(0) shouldBe 1L
    // scalar subquery referencing ANOTHER metric of the same tenant
    val viaSub = t.sql(
      """SELECT count(*) AS n FROM metricid1
        |WHERE `timestamp` < (SELECT max(v) FROM othermetric)""".stripMargin).collect()
    viaSub.head.getLong(0) shouldBe 0L // max(v)=7, no timestamps below 7
    // a CTE may shadow a metric name — CTE wins (standard SQL scoping)
    val shadow = t.sql(
      "WITH metricid1 AS (SELECT 42 AS y) SELECT y FROM metricid1").collect()
    shadow.head.getInt(0) shouldBe 42
  }

  test("filters above a projection that rebinds timestamp do NOT prune sources") {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val reg = SchemaRegistry(Org("orgw", Seq(
      Metric("mw", "widen_metric", Seq(Field("v", FieldType.LONG))))))
    val nlDir = SparkFixture.tempDir("widen_nl")
    val nlSchema = StructType(Seq(
      StructField("partition", StringType), StructField("sort", StringType),
      StructField("ids", ArrayType(StringType)),
      StructField("v", MapType(StringType, StringType))))
    def writeNl(path: String, sort: String, v: String): Unit =
      spark.createDataFrame(
        Seq(Row("orgwmw", sort, Seq("w"), Map("w" -> v))).asJava, nlSchema)
        .write.mode("overwrite").parquet(path)
    writeNl(s"$nlDir/t1", "100", "1")
    writeNl(s"$nlDir/t2", "900", "9")
    val srcs = SourceSet(nearline = Seq(
      NearlineTableDesc("t_0_500", s"$nlDir/t1", 0, 500),
      NearlineTableDesc("t_500_1000", s"$nlDir/t2", 500, 1000)))
    val t = TenantSession.open(spark, reg, "orgw", srcs)
    // inner projection rebinds `timestamp`; the outer bound says nothing
    // about storage timestamps — both tables must be scanned and the row
    // with real ts=900 (rebound to -99100) must survive
    val out = t.sql(
      """SELECT * FROM (
        |  SELECT `timestamp` - 1000000 AS `timestamp`, v FROM widen_metric)
        |WHERE `timestamp` < 400""".stripMargin)
    out.inputFiles.exists(_.contains("/t2")) shouldBe true
    out.collect().map(_.getLong(1)).sorted.toSeq shouldBe Seq(1L, 9L)
    // whereas a direct filter still prunes
    val direct = t.sql("SELECT v FROM widen_metric WHERE `timestamp` < 400")
    direct.inputFiles.exists(_.contains("/t2")) shouldBe false
  }

  test("concurrent bounded queries on one session both see complete results (no prune race)") {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val reg = SchemaRegistry(Org("orgc", Seq(
      Metric("mc", "conc_metric", Seq(Field("v", FieldType.LONG))))))
    val nlDir = SparkFixture.tempDir("conc_nl")
    val nlSchema = StructType(Seq(
      StructField("partition", StringType), StructField("sort", StringType),
      StructField("ids", ArrayType(StringType)),
      StructField("v", MapType(StringType, StringType))))
    def writeNl(path: String, sort: String, v: String): Unit =
      spark.createDataFrame(
        Seq(Row("orgcmc", sort, Seq("w"), Map("w" -> v))).asJava, nlSchema)
        .write.mode("overwrite").parquet(path)
    writeNl(s"$nlDir/t1", "100", "1")
    writeNl(s"$nlDir/t2", "900", "9")
    val srcs = SourceSet(nearline = Seq(
      NearlineTableDesc("t_0_500", s"$nlDir/t1", 0, 500),
      NearlineTableDesc("t_500_1000", s"$nlDir/t2", 500, 1000)))
    val t = TenantSession.open(spark, reg, "orgc", srcs)
    import java.util.concurrent.{Callable, Executors}
    val pool = Executors.newFixedThreadPool(2)
    try {
      (1 to 3).foreach { _ =>
        val lowF = pool.submit(new Callable[Seq[Long]] {
          def call(): Seq[Long] =
            t.sql("SELECT v FROM conc_metric WHERE `timestamp` < 400")
              .collect().map(_.getLong(0)).toSeq
        })
        val allF = pool.submit(new Callable[Seq[Long]] {
          def call(): Seq[Long] =
            t.sql("SELECT v FROM conc_metric")
              .collect().map(_.getLong(0)).sorted.toSeq
        })
        lowF.get() shouldBe Seq(1L)
        allF.get() shouldBe Seq(1L, 9L) // must never lose t2's row to the other query's pruning
      }
    } finally pool.shutdown()
  }

  test("EXPLAIN runs through the tenant pipeline; explaining a write is still a write") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    val plan = t.sql("EXPLAIN SELECT field1 FROM metricid1 WHERE `timestamp` > 0")
      .collect().head.getString(0)
    plan should include("Physical Plan")
    val formatted = t.sql("EXPLAIN FORMATTED SELECT count(*) FROM metricid1")
      .collect().head.getString(0)
    formatted should include("(1)") // formatted mode's operator index
    intercept[UnsupportedOperationException] {
      t.sql("EXPLAIN INSERT INTO metricid1 VALUES (1)")
    }
    intercept[Exception] { t.sql("EXPLAIN SELECT * FROM org2metric") }
  }

  test("SHOW TABLES LIKE / WHERE filter the tenant listing") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    t.sql("SHOW TABLES LIKE 'metric%'").collect().map(_.getString(1)).toSeq shouldBe
      Seq("metricid1")
    t.sql("SHOW TABLES LIKE '%METRIC%'").collect().map(_.getString(1)).toSeq shouldBe
      Seq("metricid1", "othermetric") // case-insensitive, like Drill's info schema
    t.sql("SHOW TABLES LIKE 'metricid_'").collect().map(_.getString(1)).toSeq shouldBe
      Seq("metricid1")
    t.sql("SHOW TABLES WHERE `table` = 'othermetric'").collect()
      .map(_.getString(1)).toSeq shouldBe Seq("othermetric")
    t.sql("SHOW TABLES LIKE 'zzz%'").collect() shouldBe empty
  }

  test("USE of a wrong schema errors; USE FINEO is accepted") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    t.sql("USE FINEO").collect().map(_.getString(0)).toSeq shouldBe Seq("FINEO")
    intercept[IllegalArgumentException] { t.sql("USE otherschema") }
  }

  test("maxRows clamps every statement (server-side and per-call)") {
    val t = TenantSession.open(spark, registry, "org1", sources, maxRows = Some(1))
    t.sql("SELECT * FROM metricid1").collect().length shouldBe 1
    val t2 = TenantSession.open(spark, registry, "org1", sources, maxRows = Some(10))
    t2.sql("SELECT * FROM metricid1", maxRows = Some(1)).collect().length shouldBe 1
    t2.sql("SELECT * FROM metricid1").collect().length shouldBe 2
  }

  test("schema-store dynamism: deleting a metric hides its table on the next statement") {
    val reg = SchemaRegistry(
      Org("orgd", Seq(
        Metric("m1", "metricid1", Seq(Field("field1", FieldType.BOOLEAN))),
        Metric("m2", "othermetric", Seq(Field("v", FieldType.LONG))))))
    // same storage as the shared fixture, but a fresh registry we can mutate
    val dirSrc = sources // reuse parquet dirs; orgd has no data but resolution is what's tested
    val t = TenantSession.open(spark, reg, "orgd", SourceSet(fs = dirSrc.fs))
    t.sql("SHOW TABLES").collect().map(_.getString(1)).toSeq shouldBe
      Seq("metricid1", "othermetric")
    reg.removeMetric("orgd", "othermetric")
    t.sql("SHOW TABLES").collect().map(_.getString(1)).toSeq shouldBe Seq("metricid1")
    intercept[SecurityException] { t.sql("SELECT * FROM othermetric") }
    // and adding one surfaces immediately
    reg.addMetric("orgd", Metric("m3", "newmetric", Seq(Field("z", FieldType.STRING))))
    t.sql("SHOW TABLES").collect().map(_.getString(1)).toSeq shouldBe
      Seq("metricid1", "newmetric")
  }

  test("radio metric surfaces unknown fields as _fm through tenant SQL (TestFineoRadio)") {
    val reg = SchemaRegistry(Org("orgr", Seq(
      Metric("mr", "radio_metric", Seq(Field("v", FieldType.LONG)), radioEnabled = true))))
    val dir = SparkFixture.tempDir("radio_sql")
    val schema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("v", LongType),
      StructField("radio_x", StringType)))
    val rows = Seq(Row("orgr", "mr", 10L, 1L, "a"), Row("orgr", "mr", 20L, 2L, "b"))
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgr/mr")
    val t = TenantSession.open(spark, reg, "orgr", SourceSet(fs = Seq(FsSource("parquet", dir))))
    val out = t.sql(
      "SELECT `timestamp`, v, _fm['radio_x'] AS rx FROM radio_metric ORDER BY `timestamp`")
      .collect()
    out.map(_.getString(2)).toSeq shouldBe Seq("a", "b")
  }

  test("errors table carries the forced tenant predicate") {
    val errDir = SparkFixture.tempDir("errs")
    val events = Seq(
      """{"apikey":"org1","message":"m1","event":"e1"}""",
      """{"apikey":"org2","message":"m2","event":"e2"}""")
    val d = new java.io.File(s"$errDir/stream/stage=raw/type=error/year=2016/month=10/day=3")
    d.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d.toString, "archive.json"),
      events.mkString("\n").getBytes)
    val t = TenantSession.open(spark, registry, "org1", sources, errorsDir = Some(errDir))
    val rows = t.sql("SELECT message, stage, year FROM errors_stream").collect()
    rows.length shouldBe 1
    rows.head.getString(0) shouldBe "m1"
    rows.head.get(1).toString shouldBe "raw" // partition dir surfaces as column
  }

  test("gzipped error archives read through the tenant errors view") {
    // the reference reads .json.gz error trees
    // (BaseFineoTestWithErrorReads.java:58-144); Spark's JSON source
    // decompresses by extension — pin that a mixed plain+gz tree works
    val errDir = SparkFixture.tempDir("errsgz")
    val d1 = new java.io.File(s"$errDir/stream/stage=raw/type=error/year=2016/month=10/day=3")
    val d2 = new java.io.File(s"$errDir/stream/stage=staged/type=error/year=2016/month=10/day=4")
    d1.mkdirs(); d2.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d1.toString, "archive.json"),
      """{"apikey":"org1","message":"plain","event":"e1"}""".getBytes)
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(d2, "archive.json.gz")))
    gz.write(
      Seq(
        """{"apikey":"org1","message":"zipped","event":"e2"}""",
        """{"apikey":"org2","message":"other-tenant","event":"e3"}""").mkString("\n").getBytes)
    gz.close()
    val t = TenantSession.open(spark, registry, "org1", sources, errorsDir = Some(errDir))
    val rows = t.sql("SELECT message, stage FROM errors_stream ORDER BY message").collect()
    rows.map(_.getString(0)).toSeq shouldBe Seq("plain", "zipped") // gz read; org2 filtered
    rows.map(_.get(1).toString).sorted.toSeq shouldBe Seq("raw", "staged")
  }

  test("a file: errorsDir registers errors_stream") {
    val errDir = SparkFixture.tempDir("errsuri")
    val d = new java.io.File(s"$errDir/stream/stage=raw/type=error/year=2016/month=10/day=3")
    d.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d.toString, "archive.json"),
      """{"apikey":"org1","message":"m1","event":"e1"}""".getBytes)
    val t = TenantSession.open(spark, registry, "org1", sources, errorsDir = Some(s"file:$errDir"))
    t.sql("SELECT message FROM errors_stream").collect().map(_.getString(0)).toSeq shouldBe Seq("m1")
  }

  test("SHOW TABLES FROM/IN accepts only the tenant schema") {
    // reference grammar takes a db (SqlShowTables.java:44-115); a tenant
    // sees exactly one schema, so anything but FINEO is an error
    val t = TenantSession.open(spark, registry, "org1", sources)
    t.sql("SHOW TABLES FROM FINEO").collect().map(_.getString(1)).toSeq shouldBe
      Seq("metricid1", "othermetric")
    t.sql("SHOW TABLES IN fineo LIKE 'metricid%'").collect()
      .map(_.getString(1)).toSeq shouldBe Seq("metricid1")
    intercept[IllegalArgumentException] { t.sql("SHOW TABLES FROM otherdb") }
    intercept[IllegalArgumentException] { t.sql("SHOW TABLES IN otherdb LIKE 'x%'") }
  }

  test("errors view surfaces as the ERRORS schema (info-schema parity)") {
    // the reference's info schema maps fineo.errors.default to a distinct
    // ERRORS schema next to FINEO (FineoInfoSchemaUserTranslator.java:96-97)
    val errDir = SparkFixture.tempDir("errsschema")
    val d = new java.io.File(s"$errDir/stream/stage=raw/type=error/year=2016/month=10/day=3")
    d.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d.toString, "archive.json"),
      """{"apikey":"org1","message":"m1","event":"e1"}""".getBytes)
    val t = TenantSession.open(spark, registry, "org1", sources, errorsDir = Some(errDir))
    t.sql("SHOW SCHEMAS").collect().map(_.getString(0)).toSeq shouldBe Seq("FINEO", "ERRORS")
    t.sql("SHOW TABLES FROM ERRORS").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq shouldBe Seq(("ERRORS", "errors_stream"))
    // FINEO listing stays metrics-only; USE ERRORS is legal here
    t.sql("SHOW TABLES").collect().map(_.getString(1)).toSeq shouldBe
      Seq("metricid1", "othermetric")
    t.sql("USE ERRORS").collect().length shouldBe 2
    // JDBC facade: ERRORS schema + errors table + its columns
    t.metadata.getSchemas().collect().map(_.getString(0)).toSeq shouldBe Seq("FINEO", "ERRORS")
    val tbl = t.metadata.getTables(schemaPattern = "ERRORS").collect()
    tbl.map(_.getString(2)).toSeq shouldBe Seq("errors_stream")
    val cols = t.metadata.getColumns(schemaPattern = "ERRORS").collect()
      .map(_.getString(3)).toSet
    cols should contain allOf ("message", "event", "stage")
    // without an errors view there is no ERRORS schema anywhere
    val bare = TenantSession.open(spark, registry, "org1", sources)
    bare.sql("SHOW SCHEMAS").collect().map(_.getString(0)).toSeq shouldBe Seq("FINEO")
    bare.metadata.getTables(schemaPattern = "ERRORS").collect() shouldBe empty
    intercept[IllegalArgumentException] { bare.sql("SHOW TABLES FROM ERRORS") }
    intercept[IllegalArgumentException] { bare.sql("USE ERRORS") }
  }

  test("DESCRIBE covers registered views, not just registry metrics") {
    val errDir = SparkFixture.tempDir("errsdesc")
    val d = new java.io.File(s"$errDir/stream/stage=raw/type=error/year=2016/month=10/day=3")
    d.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d.toString, "archive.json"),
      """{"apikey":"org1","message":"m1","event":"e1"}""".getBytes)
    val t = TenantSession.open(spark, registry, "org1", sources, errorsDir = Some(errDir))
    val cols = t.sql("DESCRIBE errors_stream").collect().map(_.getString(0)).toSet
    cols should contain allOf ("message", "event", "stage") // data + partition columns
    intercept[IllegalArgumentException] { t.sql("DESCRIBE nosuchtable") }
  }

  test("pipeline op on the tenant SQL surface: graft_approx_distinct, read-only gated") {
    // The op a tenant can reach over the wire IS the oracle-checked
    // pipeline HLL: same registers, same estimator, bit-reproducible
    // with graft.ops.Hll.estimate on the same rows.
    val t = TenantSession.open(spark, registry, "org1", sources)
    val est = t.sql(
      "SELECT graft_approx_distinct(`timestamp`) AS n FROM metricid1")
      .collect().head.getDouble(0)
    val expected = graft.ops.Hll.estimate(
      t.sql("SELECT `timestamp` FROM metricid1").withColumn("g", org.apache.spark.sql.functions.lit(1)),
      "g", "timestamp").collect().head.getDouble(1)
    est shouldBe expected
    est should be > 0.0
    // still behind the read-only gate: the function cannot smuggle DML
    intercept[Exception] {
      t.sql("INSERT INTO metricid1 SELECT graft_approx_distinct(1)").collect()
    }
  }

  test("pipeline op on the tenant SQL surface: graft_quantile, bit-equal to the op") {
    // Second op on the wire surface: the log-quantile sketch. metricid1's
    // timestamps {10, 20} are both exact bucket midpoints (oct 4/5, half
    // 0), so the tenant-visible values are exact, not just close.
    val t = TenantSession.open(spark, registry, "org1", sources)
    val row = t.sql(
      """SELECT graft_quantile(`timestamp`, 0.5D) AS p50,
        |       graft_quantile(`timestamp`, 1.0D) AS p100 FROM metricid1""".stripMargin)
      .collect().head
    row.getDouble(0) shouldBe 10.0
    row.getDouble(1) shouldBe 20.0
    val viaOp = graft.ops.Quantile.quantileEstimates(
      graft.ops.Quantile.logHist(
        t.sql("SELECT `timestamp` AS v FROM metricid1"),
        org.apache.spark.sql.functions.col("v")),
      Seq(0.5)).collect().head.getDouble(1)
    row.getDouble(0) shouldBe viaOp
  }

  test("pipeline op on the tenant SQL surface: graft_topk, exact regime over the wire") {
    // Third mergeable sketch on the wire: SpaceSaving heavy hitters.
    // Capacity 16 >> 2 distinct items ⇒ exact counts, err 0, and the
    // (cnt desc, item asc) order is deterministic — '10' < '20' as strings.
    val t = TenantSession.open(spark, registry, "org1", sources)
    val rows = t.sql(
      """SELECT e.item AS item, e.cnt AS cnt, e.err AS err
        |FROM (SELECT graft_topk(CAST(`timestamp` AS STRING), 2, 16) AS top
        |      FROM metricid1)
        |LATERAL VIEW explode(top) AS e""".stripMargin).collect()
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq(("10", 1L, 0L), ("20", 1L, 0L))
    // still behind the read-only gate
    intercept[Exception] {
      t.sql("INSERT INTO metricid1 SELECT graft_topk('a', 1, 4)").collect()
    }
  }

  test("curated view on the tenant surface: persisted decontamination ledger as-of") {
    val t = TenantSession.open(spark, registry, "org1", sources)
    val ledgerSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("suite", StringType),
      StructField("flag", BooleanType)))
    val rows = Seq(
      Row(1L, "v1", true), Row(1L, "d1", false), Row(1L, "d2", false),
      Row(2L, "v1", false), Row(2L, "d1", true), Row(2L, "d2", false),
      Row(3L, "v1", false), Row(3L, "d1", false), Row(3L, "d2", false))
    // the view MUST be bound to the tenant's own session (temp views are
    // session-scoped); a foreign-session frame is refused
    intercept[IllegalArgumentException] {
      t.registerView("decontam_ledger",
        spark.createDataFrame(rows.asJava, ledgerSchema))
    }
    t.registerView("decontam_ledger",
      t.spark.createDataFrame(rows.asJava, ledgerSchema))
    // "contaminated as of benchmark d1" is ONE gated statement — a pure
    // suite-OR pivot over the persisted flags, no re-sweep
    val out = t.sql(
      """SELECT doc_id,
        |  max(CASE WHEN suite = 'v1' THEN flag END) OR
        |  max(CASE WHEN suite = 'd1' THEN flag END) AS asof_d1
        |FROM decontam_ledger GROUP BY doc_id ORDER BY doc_id""".stripMargin)
      .collect()
    out.map(r => (r.getLong(0), r.getBoolean(1))).toSeq shouldBe
      Seq((1L, true), (2L, true), (3L, false))
    // registered views ride the same read-only plan gate
    intercept[Exception] {
      t.sql("INSERT INTO decontam_ledger VALUES (9, 'v1', true)").collect()
    }
  }

  test("snapshot time travel on the tenant surface: a view pinned to the d1 snapshot") {
    import graft.ops.StandingState
    import graft.ops.StandingState.TableSpec
    val t = TenantSession.open(spark, registry, "org1", sources)
    val store = SparkFixture.tempDir("front-ttravel")
    val ledgerSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("suite", StringType),
      StructField("flag", BooleanType)))
    def part(rows: Seq[Row]) = t.spark.createDataFrame(rows.asJava, ledgerSchema)
    StandingState.writeTables(store, Seq(TableSpec("ledger",
      part(Seq(Row(1L, "v1", true), Row(2L, "v1", false))), "doc_id")))
    StandingState.appendTables(store, Seq(TableSpec("ledger",
      part(Seq(Row(1L, "d1", false), Row(2L, "d1", true))), "doc_id")))
    val night1 = StandingState.latestSnapshot(spark, store)
    StandingState.appendTables(store, Seq(TableSpec("ledger",
      part(Seq(Row(1L, "d2", true), Row(2L, "d2", false), Row(3L, "d2", true))),
      "doc_id")))
    // two curated views on ONE store: pinned at the night-1 snapshot and
    // unpinned (latest) — the serving form of snapshot time travel
    t.registerView("ledger_asof_d1",
      StandingState.readTable(t.spark, store, "ledger", night1))
    t.registerView("ledger_latest",
      StandingState.readTable(t.spark, store, "ledger"))
    // the pinned view serves the ledger exactly as benchmark d1 saw it:
    // no d2 rows exist there, and doc 3 (a d2 arrival) is absent
    val pinned = t.sql(
      """SELECT doc_id, count(*) AS n FROM ledger_asof_d1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin).collect()
    pinned.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((1L, 2L), (2L, 2L))
    t.sql("SELECT count(*) AS n FROM ledger_asof_d1 WHERE suite = 'd2'")
      .collect().head.getLong(0) shouldBe 0L
    // the unpinned view sees the d2 commit — same store, later snapshot
    t.sql("SELECT count(*) AS n FROM ledger_latest WHERE suite = 'd2'")
      .collect().head.getLong(0) shouldBe 3L
    // the historical view rides the same read-only plan gate
    intercept[Exception] {
      t.sql("INSERT INTO ledger_asof_d1 VALUES (9, 'v1', true)").collect()
    }
  }
}
