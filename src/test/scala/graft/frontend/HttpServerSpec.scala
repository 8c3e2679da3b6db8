package graft.frontend

import graft.SparkFixture
import graft.schema._
import graft.sources._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers

/** Client round-trip over the REST routes of the serving listener
  * ([[GraftAvaticaServer]] mounts them): real HTTP socket, real tenant
  * sessions — the engine-side counterpart of the reference's server/proxy
  * tests (`TestFineoServer.java`, proxy `JdbcHandler` round-trips). */
class HttpServerSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  import scala.jdk.CollectionConverters._

  private val registry = SchemaRegistry(
    Org("orgh", Seq(Metric("mh", "httpmetric", Seq(Field("v", FieldType.LONG))))),
    Org("orgo", Seq(Metric("mo", "othermetric", Seq(Field("v", FieldType.LONG))))))

  private lazy val sources: SourceSet = {
    val dir = SparkFixture.tempDir("httpsrv")
    val schema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("v", LongType)))
    val rows = Seq(
      Row("orgh", "mh", 10L, 1L), Row("orgh", "mh", 20L, 2L), Row("orgh", "mh", 30L, 3L),
      Row("orgo", "mo", 40L, 9L))
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgh/mh")
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgo/mo")
    SourceSet(fs = Seq(FsSource("parquet", dir)))
  }

  private lazy val server = new GraftAvaticaServer(
    key => TenantSession.open(spark, registry, key, sources))
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String, key: Option[String] = Some("orgh"))
      : HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .POST(BodyPublishers.ofString(body))
    key.foreach(b.header("X-Api-Key", _))
    client.send(b.build(), BodyHandlers.ofString())
  }

  private def get(path: String, key: Option[String] = Some("orgh")): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path)).GET()
    key.foreach(b.header("X-Api-Key", _))
    client.send(b.build(), BodyHandlers.ofString())
  }

  test("healthz responds without a key") {
    val r = get("/healthz", key = None)
    r.statusCode() shouldBe 200
    r.body() should include(""""status":"ok"""")
  }

  test("POST /v1/sql round-trips a query as JSON rows") {
    val r = post("/v1/sql", "SELECT `timestamp`, v FROM httpmetric ORDER BY `timestamp`")
    r.statusCode() shouldBe 200
    r.headers().firstValue("Content-Type").get shouldBe "application/json"
    r.body() shouldBe
      """{"columns":["timestamp","v"],"rows":[[10,1],[20,2],[30,3]],"rowCount":3}"""
  }

  test("maxRows query param clamps the result") {
    val r = post("/v1/sql?maxRows=2",
      "SELECT `timestamp` FROM httpmetric ORDER BY `timestamp`")
    r.statusCode() shouldBe 200
    r.body() should include(""""rowCount":2""")
    // malformed maxRows is the client's mistake: 400, not a 500 stacktrace
    post("/v1/sql?maxRows=abc", "SELECT 1").statusCode() shouldBe 400
  }

  test("an over-cap request body is a 413, not a serving-heap allocation") {
    // a statement is kilobytes; a scanner's giant POST must refuse with
    // the byte count and the server must keep serving
    val giant = "-- " + ("x" * (WireIo.MaxRequestBytes + 1))
    val r = post("/v1/sql", giant)
    r.statusCode() shouldBe 413
    r.body() should include("request body exceeds")
    post("/v1/sql", "SELECT count(*) AS n FROM httpmetric")
      .statusCode() shouldBe 200
  }

  test("missing api key is 401; unknown tenant is 403") {
    post("/v1/sql", "SELECT 1", key = None).statusCode() shouldBe 401
    post("/v1/sql", "SELECT 1", key = Some("nosuch")).statusCode() shouldBe 403
  }

  test("DML/DDL through HTTP is 400, same read-only surface as in-process") {
    val r = post("/v1/sql", "DROP TABLE httpmetric")
    r.statusCode() shouldBe 400
    r.body() should include("error")
    // and the table is still there
    post("/v1/sql", "SELECT count(*) AS n FROM httpmetric").body() should
      include(""""rows":[[3]]""")
  }

  test("EXPLAIN over HTTP returns plan text; explained writes still 400") {
    val r = post("/v1/sql", "EXPLAIN SELECT v FROM httpmetric")
    r.statusCode() shouldBe 200
    r.body() should include("Physical Plan")
    post("/v1/sql", "EXPLAIN DROP TABLE httpmetric").statusCode() shouldBe 400
  }

  test("tenant isolation holds over the wire: another org's table is an error") {
    val r = post("/v1/sql", "SELECT * FROM othermetric")
    r.statusCode() should (be(400) or be(403) or be(500))
    r.body() should include("error")
  }

  test("metadata endpoints mirror the JDBC facade") {
    val tables = get("/v1/metadata/tables")
    tables.statusCode() shouldBe 200
    tables.body() should include("httpmetric")
    (tables.body() should not).include("othermetric")

    val cols = get("/v1/metadata/columns?table=httpmetric")
    cols.statusCode() shouldBe 200
    cols.body() should include(""""timestamp"""")
    cols.body() should include(""""v"""")

    get("/v1/metadata/schemas").body() should include("FINEO")
    get("/v1/metadata/typeinfo").statusCode() shouldBe 200
    get("/v1/metadata/bogus").statusCode() shouldBe 404
  }

  test("empty statement and non-POST are client errors") {
    post("/v1/sql", "   ").statusCode() shouldBe 400
    get("/v1/sql").statusCode() shouldBe 405
  }

  test("server-level maxRows always clamps; a request can only lower it") {
    // an unclamped SELECT * must never be an unbounded driver collect —
    // the server default applies even when the client sends nothing
    val small = new GraftAvaticaServer(
      key => TenantSession.open(spark, registry, key, sources),
      serverMaxRows = 2)
    try {
      val b = s"http://127.0.0.1:${small.boundPort}"
      def postTo(path: String, body: String) = {
        val rq = HttpRequest.newBuilder(URI.create(b + path))
          .POST(BodyPublishers.ofString(body)).header("X-Api-Key", "orgh").build()
        client.send(rq, BodyHandlers.ofString())
      }
      postTo("/v1/sql", "SELECT * FROM httpmetric").body() should
        include(""""rowCount":2""") // 3 rows in the table, capped at 2
      // a request may lower the cap…
      postTo("/v1/sql?maxRows=1", "SELECT * FROM httpmetric").body() should
        include(""""rowCount":1""")
      // …but never raise it
      postTo("/v1/sql?maxRows=100", "SELECT * FROM httpmetric").body() should
        include(""""rowCount":2""")
    } finally small.stop()
  }
}
