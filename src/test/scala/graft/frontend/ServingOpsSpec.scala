package graft.frontend

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkFixture
import graft.schema._
import graft.sources._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Serving-layer operations parity (reference `FineoServer`'s Dropwizard
  * wiring + health tree + per-connection scheduling):
  *
  *   - layered health checks: server-alive / engine-alive (real probe
  *     query under a deadline) / tenant-alive, healthy AND induced-failure
  *     paths with the failing layer named;
  *   - the shared metrics registry: per-RPC counters/timers move under
  *     real wire traffic on both the REST and the Avatica routes of the
  *     one listener;
  *   - per-tenant FAIR scheduler pools + the concurrent-statement clamp:
  *     tenant B's point query completes while tenant A's slow job still
  *     occupies the context, and one key's connections share one clamp. */
class ServingOpsSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  private lazy val spark = SparkFixture.spark
  import scala.jdk.CollectionConverters._

  private val registry = SchemaRegistry(
    Org("orgx", Seq(Metric("mx", "xmetric", Seq(Field("v", FieldType.LONG))))),
    Org("orgy", Seq(Metric("my", "ymetric", Seq(Field("v", FieldType.LONG))))))

  private lazy val sources: SourceSet = {
    val dir = SparkFixture.tempDir("servops")
    val schema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("v", LongType)))
    val rows = (1 to 5).map(i => Row("orgx", "mx", i * 10L, i.toLong)) :+
      Row("orgy", "my", 99L, 7L)
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgx/mx")
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgy/my")
    SourceSet(fs = Seq(FsSource("parquet", dir)))
  }

  // the one serving listener: REST routes, Avatica RPCs, health, metrics
  private lazy val server = new GraftAvaticaServer(
    key => TenantSession.open(spark, registry, key, sources),
    engine = Some(spark))

  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def afterAll(): Unit = server.stop()

  private def get(port: Int, path: String, key: Option[String] = None)
      : HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET()
    key.foreach(b.header("X-Api-Key", _))
    client.send(b.build(), BodyHandlers.ofString())
  }

  private def post(port: Int, path: String, body: String, key: Option[String])
      : HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(BodyPublishers.ofString(body))
    key.foreach(b.header("X-Api-Key", _))
    client.send(b.build(), BodyHandlers.ofString())
  }

  // --------------------------------------------------------- health checks

  test("healthz: server + engine layers healthy on a live engine") {
    val r = get(server.boundPort, "/healthz")
    r.statusCode() shouldBe 200
    val j = mapper.readTree(r.body())
    j.get("status").asText() shouldBe "ok"
    val names = (0 until j.get("checks").size()).map(j.get("checks").get(_).get("name").asText())
    names should contain("server")
    names should contain("engine")
  }

  test("healthz: tenant layer probes a real statement through the tenant session") {
    val r = get(server.boundPort, "/healthz?tenant=orgx")
    r.statusCode() shouldBe 200
    r.body() should include("tenant:orgx")
  }

  test("healthz: unknown tenant fails the TENANT layer (503, layer named), others stay healthy") {
    val r = get(server.boundPort, "/healthz?tenant=nosuch")
    r.statusCode() shouldBe 503
    val j = mapper.readTree(r.body())
    j.get("status").asText() shouldBe "fail"
    val failed = (0 until j.get("failed").size()).map(j.get("failed").get(_).asText())
    failed shouldBe Seq("tenant:nosuch")
  }

  test("engine-alive fails with the layer named when the probe can't answer in time") {
    // a wedged engine is one whose probe query never returns: induce it
    // with a deadline the real probe can't meet
    val c = HealthChecks.engineAlive(spark, timeoutMs = 0L)
    c.name shouldBe "engine"
    c.healthy shouldBe false
    c.detail should include("timed out")
    HealthChecks.httpResponse(Seq(HealthChecks.serverAlive(), c))._1 shouldBe 503
  }

  test("avatica endpoint serves the same layered healthz and a metrics snapshot") {
    val h = get(server.boundPort, "/healthz")
    h.statusCode() shouldBe 200
    h.body() should include(""""name":"engine"""")
    val m = get(server.boundPort, "/metrics")
    m.statusCode() shouldBe 200
    m.body() should include("counters")
  }

  // --------------------------------------------------------------- metrics

  test("http metrics: request/row/error counters move under real traffic") {
    val m0 = server.metrics.counter("http.requests.sql")
    val rows0 = server.metrics.counter("http.rows_served")
    val err0 = server.metrics.counter("http.errors")
    post(server.boundPort, "/v1/sql", "SELECT v FROM xmetric", Some("orgx"))
      .statusCode() shouldBe 200
    post(server.boundPort, "/v1/sql", "DROP TABLE xmetric", Some("orgx"))
      .statusCode() should be >= 400
    server.metrics.counter("http.requests.sql") shouldBe (m0 + 2)
    server.metrics.counter("http.rows_served") shouldBe (rows0 + 5)
    server.metrics.counter("http.errors") should be >= (err0 + 1)
    server.metrics.timerCount("http.sql") should be >= 1L
    // the /metrics endpoint exposes the same registry as JSON
    val snap = get(server.boundPort, "/metrics").body()
    snap should include(""""http.requests.sql"""")
    snap should include(""""http.open_sessions"""")
  }

  test("avatica metrics: per-RPC counters, frames and open-resource gauges move") {
    def rpc(json: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}/"))
        .POST(BodyPublishers.ofString(json)).build(),
      BodyHandlers.ofString())
    val open0 = server.metrics.counter("avatica.requests.openConnection")
    val rows0 = server.metrics.counter("avatica.rows_served")
    rpc("""{"request":"openConnection","connectionId":"cm1","info":{"apikey":"orgx"}}""")
      .statusCode() shouldBe 200
    rpc("""{"request":"createStatement","connectionId":"cm1"}""").statusCode() shouldBe 200
    val sid = mapper.readTree(
      rpc("""{"request":"createStatement","connectionId":"cm1"}""").body())
      .get("statementId").asInt()
    rpc(s"""{"request":"prepareAndExecute","connectionId":"cm1","statementId":$sid,""" +
      s""""sql":"SELECT v FROM xmetric","maxRowCount":-1}""").statusCode() shouldBe 200
    server.metrics.counter("avatica.requests.openConnection") shouldBe (open0 + 1)
    server.metrics.counter("avatica.requests.prepareAndExecute") should be >= 1L
    server.metrics.counter("avatica.rows_served") shouldBe (rows0 + 5)
    server.metrics.counter("avatica.frames_served") should be >= 1L
    val snap = get(server.boundPort, "/metrics").body()
    snap should include(""""avatica.open_connections":1""")
    // errors counter: an RPC on a closed connection
    val bad = rpc("""{"request":"createStatement","connectionId":"nope"}""")
    bad.statusCode() shouldBe 500
    server.metrics.counter("avatica.errors") should be >= 1L
  }

  // ------------------------------------------- FAIR pools + statement clamp

  test("tenant statements run under the tenant's own FAIR scheduler pool") {
    val t = TenantSession.open(spark, registry, "orgx", sources)
    t.schedulerPool shouldBe "tenant_orgx"
    val seen = t.runGated {
      t.spark.sparkContext.getLocalProperty("spark.scheduler.pool")
    }
    seen shouldBe "tenant_orgx"
    // restored after the gated block
    spark.sparkContext.getLocalProperty("spark.scheduler.pool") should not be "tenant_orgx"
  }

  test("FAIR pools: tenant B's point query completes while tenant A's slow scan runs") {
    spark.sparkContext.getConf.get("spark.scheduler.mode") shouldBe "FAIR"
    val tA = TenantSession.open(spark, registry, "orgx", sources)
    val tB = TenantSession.open(spark, registry, "orgy", sources)
    // warm B fully (session init + analysis + first scan) OUTSIDE the
    // race: the race must measure SCHEDULING, not cold-session planning
    // (under a loaded test battery the cold path once ate the margin)
    tB.runGated(tB.sql("SELECT v FROM ymetric").collect())
    val aDone = new java.util.concurrent.atomic.AtomicLong(0L)
    val started = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val aThread = new Thread(() => {
      tA.runGated {
        started.countDown()
        // 16 tasks x ~1.5s on 4 cores: occupies every slot for 4 waves
        // (~6 s) — wide margin over B's warm sub-second point query
        tA.spark.range(16).repartition(16)
          .selectExpr("java_method('java.lang.Thread', 'sleep', 1500L)")
          .collect()
      }
      aDone.set(System.nanoTime() - t0)
    }, "tenant-a-scan")
    aThread.start()
    started.await(10, TimeUnit.SECONDS) shouldBe true
    Thread.sleep(500) // let A's first task wave occupy the cores
    val bStart = System.nanoTime()
    val bRows = tB.runGated {
      tB.sql("SELECT v FROM ymetric").collect()
    }
    val bElapsed = System.nanoTime() - bStart
    bRows.length shouldBe 1
    // B finished while A was still running: FAIR handed B the first freed
    // slot instead of FIFO-draining A's remaining waves first
    aDone.get() shouldBe 0L // A still in flight when B completed
    aThread.join(60000)
    aDone.get() should be > 0L
    bElapsed should be < aDone.get()
  }

  test("isolation ratio pinned: point latency under a saturating scan is task-granular, not drain-bound") {
    // The quantified form of the FAIR race above (and the spec-side pin
    // for SERVESOAK_r11's isolation_p95_ratio): while tenant A occupies
    // EVERY task slot for many waves, tenant B's point-query p95 must be
    // bounded by ~one task duration (FAIR grants B the next freed slot),
    // never by A's remaining drain (what FIFO would charge).
    spark.sparkContext.getConf.get("spark.scheduler.mode") shouldBe "FAIR"
    val tA = TenantSession.open(spark, registry, "orgx", sources)
    val tB = TenantSession.open(spark, registry, "orgy", sources)
    tB.runGated(tB.sql("SELECT v FROM ymetric").collect()) // warm
    def pointLat(): Double = {
      val t0 = System.nanoTime()
      tB.runGated(tB.sql("SELECT v FROM ymetric").collect())
      (System.nanoTime() - t0) / 1e9
    }
    val started = new CountDownLatch(1)
    val aElapsed = new java.util.concurrent.atomic.AtomicLong(0L)
    val aThread = new Thread(() => {
      val t0 = System.nanoTime()
      tA.runGated {
        started.countDown()
        // 32 tasks × ~800 ms on 4 cores: 8 full waves (~6.4 s saturated)
        tA.spark.range(32).repartition(32)
          .selectExpr("java_method('java.lang.Thread', 'sleep', 800L)")
          .collect()
      }
      aElapsed.set(System.nanoTime() - t0)
    }, "tenant-a-saturator")
    aThread.start()
    started.await(10, TimeUnit.SECONDS) shouldBe true
    Thread.sleep(400) // let the first wave occupy the cores
    val loaded = (1 to 6).map(_ => pointLat()).sorted
    aThread.join(60000)
    val loadedP95 = loaded(loaded.length - 1)
    val drain = aElapsed.get() / 1e9
    drain should be > 5.0 // the scan really saturated for many waves
    // task-granular bound: worst wait ≈ one 0.8 s task + overhead, with
    // generous headroom for box contention — an order of magnitude under
    // the FIFO drain-bound alternative
    loadedP95 should be < math.max(3.0, drain / 2)
  }

  test("per-tenant concurrent-statement clamp bounds executions in flight") {
    val t = TenantSession.open(spark, registry, "orgx", sources,
      maxConcurrentStatements = 1)
    val inside = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val second = new java.util.concurrent.atomic.AtomicBoolean(false)
    val holder = new Thread(() => {
      t.runGated { inside.countDown(); release.await(10, TimeUnit.SECONDS); () }
    }, "clamp-holder")
    holder.start()
    inside.await(5, TimeUnit.SECONDS) shouldBe true
    val waiter = new Thread(() => {
      t.runGated { second.set(true) }
    }, "clamp-waiter")
    waiter.start()
    Thread.sleep(300)
    second.get() shouldBe false // clamped while the first statement holds the permit
    release.countDown()
    waiter.join(5000)
    second.get() shouldBe true // admitted once the permit freed
    holder.join(5000)
  }

  test("connections of one key share its clamp: B's execute is refused 53300 while A's runs") {
    // one permit per tenant, 1 s admission wait: the clamp bounds the
    // TENANT, however many connections it opens
    val srv = new GraftAvaticaServer(key => {
      val t = TenantSession.open(spark, registry, key, sources, maxConcurrentStatements = 1)
      t.spark.conf.set("spark.graft.statementClampTimeoutSec", "1")
      t
    })
    try {
      def rpc(json: String): (Int, JsonNode) = {
        val r = post(srv.boundPort, "/", json, key = None)
        (r.statusCode(), mapper.readTree(r.body()))
      }
      def openStatement(cid: String): Int = {
        rpc(s"""{"request":"openConnection","connectionId":"$cid","info":{"apikey":"orgx"}}""")
          ._1 shouldBe 200
        rpc(s"""{"request":"createStatement","connectionId":"$cid"}""")
          ._2.get("statementId").asInt()
      }
      def execute(cid: String, sid: Int, sql: String): (Int, JsonNode) = rpc(
        s"""{"request":"prepareAndExecute","connectionId":"$cid","statementId":$sid,""" +
          s""""sql":${JsonCodec.jstr(sql)},"maxRowCount":-1}""")
      val sidA = openStatement("clampA")
      val first = new java.util.concurrent.atomic.AtomicReference[(Int, JsonNode)]()
      val holder = new Thread(() => first.set(execute("clampA", sidA,
        "SELECT java_method('java.lang.Thread', 'sleep', 4000L) AS slept")), "clamp-wire-holder")
      holder.start()
      def inflight = srv.metrics.gaugeValue("pool.orgx.inflight_statements")
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (inflight < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      inflight shouldBe 1L // A's statement holds the permit
      val sidB = openStatement("clampB")
      val (st, err) = execute("clampB", sidB, "SELECT v FROM xmetric")
      st shouldBe 500
      err.get("sqlState").asText() shouldBe "53300"
      err.get("errorMessage").asText() should include("concurrent-statement limit")
      holder.join(30000)
      first.get()._1 shouldBe 200
    } finally srv.stop()
  }

  test("REST requests and Avatica connections of one key call sessionFor once") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new GraftAvaticaServer(key => {
      calls.incrementAndGet()
      TenantSession.open(spark, registry, key, sources)
    })
    try {
      for (cid <- Seq("once1", "once2"))
        post(srv.boundPort, "/",
          s"""{"request":"openConnection","connectionId":"$cid","info":{"apikey":"orgx"}}""",
          key = None).statusCode() shouldBe 200
      val r = post(srv.boundPort, "/v1/sql", "SELECT count(*) AS n FROM xmetric", Some("orgx"))
      r.statusCode() shouldBe 200
      r.body() shouldBe """{"columns":["n"],"rows":[[5]],"rowCount":1}"""
      get(srv.boundPort, "/healthz?tenant=orgx").statusCode() shouldBe 200
      calls.get() shouldBe 1
      // an unknown key is refused and caches nothing
      post(srv.boundPort, "/v1/sql", "SELECT 1", Some("nosuch")).statusCode() shouldBe 403
      post(srv.boundPort, "/v1/sql", "SELECT 1", Some("nosuch")).statusCode() shouldBe 403
      calls.get() shouldBe 3
    } finally srv.stop()
  }

  // ------------------------------------------------- ANN drift gauge

  test("ANN drift gauge on /metrics: moves under sub-gate ingests, resets after refine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def vecs(ids: Range) = ids.map(i => (i.toLong, Seq(
      (i % 7).toDouble, (i * 3 % 5).toDouble, (i * 5 % 11).toDouble, 1.0)))
      .toDF("vec_id", "embedding")
    val store = SparkFixture.tempDir("servops-ann")
    graft.ops.AnnIndex.bootstrap(vecs(0 until 100), "vec_id", "embedding",
      numCentroids = 4, store)
    ServingMetrics.registerAnnDrift(server.metrics, spark, "vecidx",
      ivfStore = Some(store))
    def gaugeBp(): Long = {
      val snap = get(server.boundPort, "/metrics")
      snap.statusCode() shouldBe 200
      val node = mapper.readTree(snap.body()).path("gauges")
        .path("ann.vecidx.drift_bp")
      node.isMissingNode shouldBe false
      node.asLong()
    }
    gaugeBp() shouldBe 0L // fresh seed: no drift debt
    // two sub-gate nights: the gauge accumulates without either night
    // crossing the 0.30 gate
    graft.ops.AnnIndex.ingest(vecs(100 until 112), "vec_id", "embedding",
      store, refineAt = 0.30) shouldBe false
    gaugeBp() shouldBe math.round(12.0 / 112.0 * 10000) // 1071
    graft.ops.AnnIndex.ingest(vecs(112 until 124), "vec_id", "embedding",
      store, refineAt = 0.30) shouldBe false
    gaugeBp() shouldBe math.round(24.0 / 124.0 * 10000) // 1935
    // refine is the reset point: replace-snapshot becomes the new seed
    // and the SAME registered gauge falls back to zero
    graft.ops.AnnIndex.refine(vecs(0 until 124), "vec_id", "embedding", store)
    graft.ops.StandingState.keepSnapshots(spark, store, keep = 1)
    gaugeBp() shouldBe 0L
  }
}
