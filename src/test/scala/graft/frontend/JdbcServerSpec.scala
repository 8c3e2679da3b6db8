package graft.frontend

import graft.SparkFixture
import graft.schema._
import graft.sources._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.sql.DriverManager

/** A REAL stock JDBC client (hive-jdbc over the Thrift wire protocol)
  * against the MULTI-TENANT endpoint: one server, one port, tenant
  * resolved per-connection from the URL's hive-conf list — the
  * reference's actual topology (`FineoServer` + Avatica;
  * `TestFineoServer.java` does the same connect-and-select round trip,
  * `FineoJdbcMeta` scopes each connection by its org key). Write
  * statements must die at the parser regardless of what the wire client
  * sends. */
class JdbcServerSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  import scala.jdk.CollectionConverters._

  private val registry = SchemaRegistry(
    Org("orgj", Seq(
      Metric("mj", "jdbcmetric", Seq(
        Field("v", FieldType.LONG),
        // nearline-style number-as-string storage cast to a declared decimal
        Field("amt", FieldType.DECIMAL, decimal = Some((20, 4))))),
      // nearline-only metric: drives the wire-path time-pruning tests
      Metric("mn", "nlmetric", Seq(Field("v", FieldType.LONG))),
      // removed mid-connection by the metric-deletion test
      Metric("mr", "rmmetric", Seq(Field("v", FieldType.LONG))))),
    Org("orgz", Seq(Metric("mz", "zmetric", Seq(Field("v", FieldType.LONG))))))

  private lazy val sources: SourceSet = {
    val dir = SparkFixture.tempDir("jdbcsrv")
    val schema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("v", LongType),
      StructField("amt", StringType)))
    val rows = Seq(
      Row("orgj", "mj", 10L, 1L, "1234567890123456.7891"),
      Row("orgj", "mj", 20L, 2L, "0.0001"),
      Row("orgj", "mj", 30L, 3L, null),
      Row("orgz", "mz", 40L, 9L, null))
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgj/mj")
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgz/mz")
    spark.createDataFrame(Seq(
      Row("orgj", "mr", 50L, 5L, null), Row("orgj", "mr", 60L, 6L, null)).asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgj/mr")
    // Two nearline windows feeding metric mn only (windows far above the
    // archive timestamps, so the overlap cutoff leaves jdbcmetric alone).
    val nlSchema = StructType(Seq(
      StructField("partition", StringType), StructField("sort", StringType),
      StructField("ids", ArrayType(StringType)),
      StructField("v", MapType(StringType, StringType))))
    val nlA = SparkFixture.tempDir("jdbcnlA") + "/tbl"
    val nlB = SparkFixture.tempDir("jdbcnlB") + "/tbl"
    spark.createDataFrame(Seq(
      Row("orgjmn", "1500", Seq("w"), Map("w" -> "15"))).asJava, nlSchema)
      .write.mode("overwrite").parquet(nlA)
    spark.createDataFrame(Seq(
      Row("orgjmn", "2500", Seq("w"), Map("w" -> "25"))).asJava, nlSchema)
      .write.mode("overwrite").parquet(nlB)
    SourceSet(
      fs = Seq(FsSource("parquet", dir)),
      nearline = Seq(
        NearlineTableDesc("t_1000_2000", nlA, 1000L, 2000L),
        NearlineTableDesc("t_2000_3000", nlB, 2000L, 3000L)))
  }

  private lazy val server: GraftJdbcServer = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    // server-side clamp = 3: every plain query in this spec returns ≤ 3
    // rows anyway, and the clamp test proves the cap on a wider result
    val s = GraftJdbcServer.startMultiTenant(spark, registry, sources, maxRows = Some(3))
    // the serving root session doubles as "just another connection" for
    // the plan-shape assertions below: give it the tenant key conf
    s.serving.conf.set(GraftJdbcServer.TenantConfKey, "orgj")
    s
  }

  /** Connect as `key` — the tenant rides the URL's hive-conf list, the
    * same "key in connection properties" contract as the reference. */
  private def withConn[A](key: String = "orgj")(f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(
      s"${server.jdbcUrl}?${GraftJdbcServer.TenantConfKey}=$key", "anyuser", "")
    try f(c) finally c.close()
  }

  test("a stock JDBC client connects and SHOW TABLES lists the tenant's tables") {
    withConn() { c =>
      val rs = c.createStatement().executeQuery("SHOW TABLES")
      val names = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("tableName")).toSet
      names should contain("jdbcmetric")
      (names should not).contain("zmetric") // other tenant's table is unnameable
    }
  }

  test("SELECT round-trips typed rows over the wire") {
    withConn() { c =>
      val rs = c.createStatement().executeQuery(
        "SELECT `timestamp`, v, amt FROM jdbcmetric ORDER BY `timestamp`")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getLong(2), r.getBigDecimal(3))).toSeq
      got.map(t => (t._1, t._2)) shouldBe Seq((10L, 1L), (20L, 2L), (30L, 3L))
      // a 20-digit decimal survives the wire exactly (JDBC DECIMAL, not double)
      got.head._3 shouldBe new java.math.BigDecimal("1234567890123456.7891")
      got(1)._3 shouldBe new java.math.BigDecimal("0.0001")
      got(2)._3 shouldBe null
    }
  }

  test("JDBC metadata calls (DatabaseMetaData.getTables/getColumns) work") {
    withConn() { c =>
      // catalog registration is statement-triggered on a multi-tenant
      // endpoint (the tenant context pins at the first parsed statement)
      c.createStatement().execute("SHOW TABLES")
      val md = c.getMetaData
      val ts = md.getTables(null, null, "%", null)
      val names = Iterator.continually(ts).takeWhile(_.next())
        .map(_.getString("TABLE_NAME")).toSet
      names should contain("jdbcmetric")
      val cols = md.getColumns(null, null, "jdbcmetric", "%")
      val colNames = Iterator.continually(cols).takeWhile(_.next())
        .map(_.getString("COLUMN_NAME")).toSet
      colNames should contain allOf ("timestamp", "v")
    }
  }

  test("writes and session mutation die at the parser, whatever the client sends") {
    withConn() { c =>
      val st = c.createStatement()
      for (sql <- Seq(
          "DROP TABLE jdbcmetric",
          "INSERT INTO jdbcmetric VALUES (50, 5)",
          "CREATE TABLE t2 (x INT)",
          "WITH q AS (SELECT 1 AS x) INSERT INTO jdbcmetric SELECT x, x FROM q",
          "/* hi */ DELETE FROM jdbcmetric",
          "INSERT OVERWRITE DIRECTORY '/tmp/jdbc_escape' USING parquet SELECT 1",
          "SET spark.sql.runSQLOnFiles=true",
          "EXPLAIN INSERT INTO jdbcmetric VALUES (50, 5)",
          "CACHE TABLE jdbcmetric",
          "LOAD DATA LOCAL INPATH '/etc/hosts' INTO TABLE jdbcmetric",
          "-- c\nCREATE TABLE x AS SELECT 1")) {
        val e = intercept[java.sql.SQLException] { st.execute(sql) }
        e.getMessage should include("read-only")
      }
      // and file-path relations stay rejected even as a pure query
      intercept[java.sql.SQLException] {
        st.executeQuery("SELECT * FROM parquet.`/root/testdata/sf0.001/region.parquet`")
      }
    }
  }

  test("global-temp views of the host context are unreadable by tenants") {
    // The serving session shares SharedState with the root session, so a
    // host-app global temp view WOULD resolve — the namespace fence must
    // refuse it at parse time (reads, not just writes, are tenant-scoped).
    spark.range(3).createOrReplaceGlobalTempView("host_secret")
    try withConn() { c =>
      val st = c.createStatement()
      val e = intercept[java.sql.SQLException] {
        st.executeQuery("SELECT * FROM global_temp.host_secret")
      }
      e.getMessage should include("not accessible")
      intercept[java.sql.SQLException] {
        st.executeQuery("EXPLAIN SELECT * FROM global_temp.host_secret")
      }
      intercept[java.sql.SQLException] {
        st.executeQuery("WITH t AS (SELECT * FROM global_temp.host_secret) SELECT * FROM t")
      }
      intercept[java.sql.SQLException] {
        st.executeQuery("SELECT * FROM spark_catalog.default.anything")
      }
      // fence also covers DESCRIBE-style commands and subquery positions
      intercept[java.sql.SQLException] {
        st.executeQuery("SELECT (SELECT max(id) FROM global_temp.host_secret) AS m")
      }
    } finally spark.catalog.dropGlobalTempView("host_secret")
  }

  test("the serving session streams results incrementally (bounded driver memory)") {
    // Spark's Thrift frontend collect()s the full result on the driver by
    // default; under incrementalCollect it iterates partitions
    // (toLocalIterator) — the difference between an OOM and a bounded
    // driver on a stock client's unclamped SELECT *.
    server.serving.conf.get("spark.sql.thriftServer.incrementalCollect") shouldBe "true"
  }

  test("wire statements prune out-of-range nearline sources (reference R1 over JDBC)") {
    withConn() { c =>
      // correctness across both windows, over the real wire
      val rs = c.createStatement().executeQuery(
        "SELECT `timestamp`, v FROM nlmetric ORDER BY `timestamp`")
      val all = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      all shouldBe Seq((1500L, 15L), (2500L, 25L))
      val rs2 = c.createStatement().executeQuery(
        "SELECT `timestamp`, v FROM nlmetric WHERE `timestamp` >= 2000")
      Iterator.continually(rs2).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getLong(2))).toSeq shouldBe Seq((2500L, 25L))
    }
    // plan shape, through the SAME parser chain the wire uses: the
    // unbounded statement scans both nearline tables; the bounded one
    // scans only the in-range window
    def parquetScans(sql: String): Int =
      "Scan parquet".r.findAllIn(
        server.serving.sql(sql).queryExecution.executedPlan.toString).size
    parquetScans("SELECT v FROM nlmetric") shouldBe 2
    parquetScans("SELECT v FROM nlmetric WHERE `timestamp` >= 2000") shouldBe 1
    // CTE-wrapped bounds prune too (the idiomatic BI-tool shape)
    parquetScans(
      "WITH t AS (SELECT * FROM nlmetric WHERE `timestamp` < 2000) SELECT v FROM t") shouldBe 1
  }

  test("EXPLAIN over the wire shows the substituted, time-pruned plan") {
    withConn() { c =>
      val rs = c.createStatement().executeQuery(
        "EXPLAIN SELECT v FROM nlmetric WHERE `timestamp` >= 2000")
      val plan = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString(1)).mkString("\n")
      // the tenant sees the plan they'd actually run: metric substituted
      // (no unresolved relation), only the in-range nearline window scanned
      plan should include("Scan parquet")
      "Scan parquet".r.findAllIn(plan).size shouldBe 1
      (plan should not).include("UnresolvedRelation")
    }
  }

  test("a server-side maxRows clamp caps unbounded wire SELECTs") {
    // reference FineoJdbcMeta.setMaxRows:143-159 — the server always owns
    // a cap; a stock client's unbounded statement returns at most it.
    // (Only one Thrift endpoint can live per JVM, so the cap is on the
    // shared spec server — 3, which no other query here exceeds.)
    withConn() { c =>
      val rs = c.createStatement().executeQuery(
        "SELECT a.v FROM jdbcmetric a JOIN jdbcmetric b") // 9 rows unclamped
      Iterator.continually(rs).takeWhile(_.next()).size shouldBe 3
      // commands are never clamped: SHOW TABLES still lists everything
      val st = c.createStatement().executeQuery("SHOW TABLES")
      Iterator.continually(st).takeWhile(_.next())
        .map(_.getString("tableName")).toSet should contain allOf ("jdbcmetric", "nlmetric")
    }
  }

  test("the read-only parser still runs the full query surface") {
    withConn() { c =>
      val rs = c.createStatement().executeQuery(
        """WITH big AS (SELECT * FROM jdbcmetric WHERE v >= 2)
          |SELECT count(*) AS n, sum(v) AS s FROM big""".stripMargin)
      rs.next() shouldBe true
      rs.getLong("n") shouldBe 2L
      rs.getLong("s") shouldBe 5L
    }
  }

  test("two tenants share one port, each seeing only its own catalog") {
    withConn("orgz") { c =>
      val rs = c.createStatement().executeQuery("SHOW TABLES")
      val names = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("tableName")).toSet
      names should contain("zmetric")
      (names should not).contain("jdbcmetric")
      val v = c.createStatement().executeQuery("SELECT v FROM zmetric")
      v.next() shouldBe true
      v.getLong(1) shouldBe 9L
      // the other tenant's table is unnameable from this connection
      val e = intercept[java.sql.SQLException] {
        c.createStatement().executeQuery("SELECT v FROM jdbcmetric")
      }
      e.getMessage should include("cannot be found")
    }
    // and the original tenant still resolves on the same port
    withConn() { c =>
      val rs = c.createStatement().executeQuery("SELECT count(*) AS n FROM jdbcmetric")
      rs.next() shouldBe true
      rs.getLong(1) shouldBe 3L
    }
  }

  test("a keyless connection is refused service entirely") {
    // not just an empty catalog: a keyless session clone still carries
    // Spark's conf DEFAULTS (runSQLOnFiles=true) and no clamp, so the
    // rewriter refuses every statement — including file-path relations
    // and table-free driver-DoS selects — at parse time
    val e = intercept[java.sql.SQLException] {
      val c = DriverManager.getConnection(server.jdbcUrl, "anyuser", "")
      try {
        c.createStatement().executeQuery(
          "SELECT * FROM parquet.`/root/testdata/sf0.001/region.parquet`")
      } finally c.close()
    }
    e.getMessage should include("no tenant key")
  }

  test("a metric removed while a connection is open yields no rows on it") {
    withConn() { c =>
      val st = c.createStatement()
      val before = st.executeQuery("SELECT count(*) FROM rmmetric")
      before.next() shouldBe true
      before.getLong(1) shouldBe 2L
      registry.removeMetric("orgj", "rmmetric")
      // the connection's metadata view of the metric outlives it; reading
      // that name must not serve the removed metric's stored rows
      scala.util.Try {
        val rs = st.executeQuery("SELECT * FROM rmmetric")
        Iterator.continually(rs).takeWhile(_.next()).size
      } match {
        case scala.util.Success(n) => n shouldBe 0
        case scala.util.Failure(e) => e shouldBe a[java.sql.SQLException]
      }
    }
  }

  test("an unknown tenant key is refused at connection open") {
    // the first statement the wire session parses trips tenant
    // resolution during open — a bad key never yields a connection,
    // the same connect-time rejection as the reference's key check
    val e = intercept[java.sql.SQLException] {
      withConn("nosuchorg")(_ => ())
    }
    e.getMessage should include("unknown tenant")
  }
}
