package graft

import graft.frontend._
import graft.schema._
import graft.sources._
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftshim.GraftSessions
import org.apache.spark.sql.types._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.sql.DriverManager
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Multi-tenant serving LOAD soak — the reference's own outstanding TODO
  * ("Server … load testing", `/root/reference/TODO.md`): N tenants × M
  * concurrent statements, mixed heavy scans and point lookups, driven for
  * minutes through BOTH remote wires (the multi-tenant Thrift endpoint
  * and the Avatica HTTP endpoint), measuring what a deployment actually
  * cares about:
  *
  *   - per-tenant / per-wire latency percentiles (p50/p95/p99) and error
  *     counts under sustained concurrency;
  *   - FAIR-pool isolation: each point tenant's p95 WHILE the heavy
  *     tenant saturates the context, against its own unloaded baseline
  *     (`isolation_p95_ratio` — the number the per-tenant pools exist
  *     for; under FIFO the point queries would queue behind every
  *     multi-second scan stage);
  *   - layered health-probe latency under load (a wedged endpoint fails
  *     health exactly when it matters);
  *   - the serving metrics registry's counters over the whole run.
  *
  * Single-JVM by design (the no-concurrent-sbt rule); the servers, the
  * engine and the clients share one 32-core context, so the measured
  * isolation is scheduler fairness, not spare hardware. Writes
  * `SERVESOAK_r<round>.json` (arg 2) and prints the same JSON line.
  *
  * Usage: runMain graft.ServeSoak [durationSec] [outFile]
  */
object ServeSoak {

  private final class LatRec {
    val lats = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val errors = new AtomicLong(0)
    def add(sec: Double): Unit = lats.add(sec)
    def snapshot: Array[Double] = {
      import scala.jdk.CollectionConverters._
      lats.asScala.toArray.sorted
    }
  }

  private def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) -1.0
    else sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1).max(0))

  private def fmt(sorted: Array[Double]): String =
    f""""n":${sorted.length},"p50":${pct(sorted, 0.50)}%.4f,""" +
      f""""p95":${pct(sorted, 0.95)}%.4f,"p99":${pct(sorted, 0.99)}%.4f"""

  def main(args: Array[String]): Unit = {
    val durationSec = args.headOption.map(_.toInt).getOrElse(150)
    val outFile = args.drop(1).headOption.getOrElse("SERVESOAK_r14.json")
    val spark = GraftSessions.builder()
      // the product precondition, owned here as a deployment would:
      // FAIR across the per-tenant pools (ServingFairness asserts it)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import scala.jdk.CollectionConverters._

    // ---------------------------------------------------------- fixture
    val dir = java.nio.file.Files.createTempDirectory("servesoak").toString
    val schema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("v", LongType),
      StructField("txt", StringType)))
    // heavy tenant: ~4M rows of hashed text — one full scan ≈ seconds,
    // the statement that would FIFO-head-block everyone
    val heavyRows = sys.env.getOrElse("SPARK_GRAFT_SOAK_ROWS", "4000000").toLong
    spark.range(heavyRows).selectExpr(
      "'orgheavy' AS companykey", "'mh' AS metrictype",
      "id AS timestamp", "id % 997 AS v",
      "concat(md5(cast(id as string)), md5(cast(id + 1 as string))) AS txt")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgheavy/mh")
    // point tenants: small per-tenant tables, key-addressable rows
    val pointTenants = Seq("orgp1", "orgp2", "orgp3")
    pointTenants.foreach { org =>
      spark.createDataFrame(
        (1 to 2000).map(i => Row(org, "mp", i.toLong, (i * 7).toLong, s"row$i")).asJava, schema)
        .write.mode("overwrite").parquet(s"$dir/0/parquet/$org/mp")
    }
    val fields = Seq(Field("v", FieldType.LONG), Field("txt", FieldType.STRING))
    val registry = SchemaRegistry(
      (Org("orgheavy", Seq(Metric("mh", "heavymetric", fields))) +:
        Org("orgledger", Seq.empty) +:
        pointTenants.map(org => Org(org, Seq(Metric("mp", "pointmetric", fields))))): _*)
    val sources = SourceSet(fs = Seq(FsSource("parquet", dir)))

    // snapshot-view tenant fixture: a persisted long-format ledger store
    // with three committed snapshots; the tenant serves a view PINNED to
    // the night-1 snapshot beside the unpinned latest — round 14's
    // time-travel-on-the-tenant-surface shape, here under load
    val ledgerRows = 500
    val ledgerStore = java.nio.file.Files
      .createTempDirectory("servesoak-ledger").toString
    import graft.ops.StandingState
    import graft.ops.StandingState.TableSpec
    val ledgerSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("suite", StringType),
      StructField("flag", BooleanType)))
    def suitePart(suite: String): org.apache.spark.sql.DataFrame =
      spark.createDataFrame(
        (1 to ledgerRows).map(i =>
          Row(i.toLong, suite, (i * 31 + suite.length) % 7 == 0)).asJava,
        ledgerSchema)
    StandingState.writeTables(ledgerStore, Seq(TableSpec("ledger", suitePart("v1"), "doc_id")))
    StandingState.appendTables(ledgerStore, Seq(TableSpec("ledger", suitePart("d1"), "doc_id")))
    val ledgerNight1 = StandingState.latestSnapshot(spark, ledgerStore)
    StandingState.appendTables(ledgerStore, Seq(TableSpec("ledger", suitePart("d2"), "doc_id")))
    // the deployment PINS the snapshot its curated view reads (snapshot
    // tag = retention-proof ref), then retention runs with keep=1: the
    // pinned night-1 survives ONLY via its tag, so the entire soak's
    // snapshot-view load serves from a post-retention store — the
    // integration evidence for tagSnapshot beyond the unit pins
    StandingState.tagSnapshot(spark, ledgerStore, ledgerNight1, "served-view")
    StandingState.keepSnapshots(spark, ledgerStore, keep = 1)
    val ledgerSnapsLive = StandingState.snapshots(spark, ledgerStore).size
    System.err.println(s"[servesoak] ledger store after keep=1 with pinned " +
      s"night-1: $ledgerSnapsLive snapshots live (tag held the pin)")

    val metrics = new ServingMetrics
    // standing-ANN fixture for the round-15 drift gauge: a small
    // persisted IVF store whose cumulative staleness the shared
    // registry exposes on /metrics (ann.soakvec.drift_bp) — exercised
    // after the load phase: seed → sub-gate ingest moves the gauge →
    // refine resets it, all scraped off the live wire
    val annStore = java.nio.file.Files
      .createTempDirectory("servesoak-ann").toString
    def annVecs(ids: Range): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      ids.map(i => (i.toLong, Seq(
        (i % 7).toDouble, (i * 3 % 5).toDouble, (i * 5 % 11).toDouble, 1.0)))
        .toDF("vec_id", "embedding")
    }
    graft.ops.AnnIndex.bootstrap(
      annVecs(0 until 400), "vec_id", "embedding", numCentroids = 8, annStore)
    ServingMetrics.registerAnnDrift(metrics, spark, "soakvec",
      ivfStore = Some(annStore))
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val thrift = GraftJdbcServer.startMultiTenant(
      spark, registry, sources, maxRows = Some(1000), metrics = metrics)
    val avatica = new GraftAvaticaServer(
      key => {
        val t = TenantSession.open(spark, registry, key, sources,
          maxRows = Some(1000), maxConcurrentStatements = 16)
        // curated snapshot views materialize on the tenant's OWN session
        // at open time — the registerView deployment seam under load
        if (key == "orgledger") {
          t.registerView("ledger_asof_d1",
            StandingState.readTable(t.spark, ledgerStore, "ledger", ledgerNight1))
          t.registerView("ledger_latest",
            StandingState.readTable(t.spark, ledgerStore, "ledger"))
        }
        t
      },
      engine = Some(spark), metrics = metrics)
    val http = HttpClient.newHttpClient()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    // ------------------------------------------------------- wire drivers
    def thriftQuery(org: String, sql: String): Int = {
      val c = DriverManager.getConnection(
        s"${thrift.jdbcUrl}?${GraftJdbcServer.TenantConfKey}=$org", "u", "")
      try {
        val rs = c.createStatement().executeQuery(sql)
        var n = 0
        while (rs.next()) n += 1
        n
      } finally c.close()
    }
    def avaticaRpc(json: String): com.fasterxml.jackson.databind.JsonNode = {
      val r: HttpResponse[String] = http.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${avatica.boundPort}/"))
          .POST(BodyPublishers.ofString(json)).build(),
        BodyHandlers.ofString())
      val node = mapper.readTree(r.body())
      if (r.statusCode() != 200)
        throw new RuntimeException(s"avatica ${r.statusCode()}: ${node.get("errorMessage")}")
      node
    }
    val nextConn = new AtomicLong(0)
    def avaticaQuery(org: String, sql: String): Int = {
      val cid = s"soak${nextConn.incrementAndGet()}"
      avaticaRpc(s"""{"request":"openConnection","connectionId":"$cid","info":{"apikey":"$org"}}""")
      try {
        val st = avaticaRpc(s"""{"request":"createStatement","connectionId":"$cid"}""")
          .get("statementId").asInt()
        val res = avaticaRpc(
          s"""{"request":"prepareAndExecute","connectionId":"$cid","statementId":$st,""" +
            s""""sql":${JsonCodec.jstr(sql)},"maxRowCount":-1}""")
        res.at("/results/0/firstFrame/rows").size()
      } finally avaticaRpc(s"""{"request":"closeConnection","connectionId":"$cid"}""")
    }

    def heavySql(seed: Long): String =
      s"SELECT count(*) AS n, sum(v) AS s FROM heavymetric WHERE txt LIKE '%${seed % 10}a%'"
    def pointSql(seed: Long): String =
      s"SELECT v, txt FROM pointmetric WHERE `timestamp` = ${1 + (seed % 2000)}"
    // self-checking snapshot-view statements: HAVING pins the expected
    // value, so a WRONG historical read returns zero rows and the driver
    // records an error — `errors: 0` on this workload IS the correctness
    // claim that the pinned view never sees d2 (and latest always does)
    // while heavy scans saturate the context
    def ledgerSql(seed: Long): String = seed % 3 match {
      case 0 =>
        """SELECT count(*) AS n FROM ledger_asof_d1 WHERE suite = 'd2'
          |HAVING count(*) = 0""".stripMargin
      case 1 =>
        s"""SELECT count(*) AS n FROM ledger_latest WHERE suite = 'd2'
           |HAVING count(*) = $ledgerRows""".stripMargin
      case _ =>
        """SELECT doc_id,
          |  max(CASE WHEN suite = 'v1' THEN flag END) OR
          |  max(CASE WHEN suite = 'd1' THEN flag END) AS asof_d1
          |FROM ledger_asof_d1 GROUP BY doc_id ORDER BY doc_id LIMIT 5""".stripMargin
    }
    def ledgerExpectedRows(seed: Long): Int = if (seed % 3 == 2) 5 else 1

    // ------------------------------------------------------ measurement
    def timed(rec: LatRec)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try { f; rec.add((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => rec.errors.incrementAndGet() }
    }

    // unloaded baseline: point latency per wire, before any load
    val baseThrift = new LatRec; val baseAvatica = new LatRec
    (1 to 30).foreach { i =>
      timed(baseThrift)(thriftQuery(pointTenants(i % 3), pointSql(i.toLong)))
      timed(baseAvatica)(avaticaQuery(pointTenants(i % 3), pointSql(i.toLong)))
    }
    // one unloaded heavy scan per wire (plan warm + magnitude reference)
    val baseHeavy = new LatRec
    timed(baseHeavy)(thriftQuery("orgheavy", heavySql(1)))
    timed(baseHeavy)(avaticaQuery("orgheavy", heavySql(2)))

    // load phase: heavy scan threads + per-tenant point threads, both wires
    val stop = new AtomicBoolean(false)
    val recs = scala.collection.mutable.LinkedHashMap[String, LatRec]()
    def rec(name: String): LatRec = recs.getOrElseUpdate(name, new LatRec)
    val healthRec = new LatRec
    val seq = new AtomicLong(0)
    def loop(name: String)(body: Long => Unit): Thread = {
      val t = new Thread(() => {
        while (!stop.get()) {
          val s = seq.incrementAndGet()
          timed(rec(name))(body(s))
        }
      }, name)
      t.setDaemon(true); t.start(); t
    }
    val threads =
      Seq(
        loop("heavy.thrift")(s => thriftQuery("orgheavy", heavySql(s))),
        loop("heavy.thrift2")(s => thriftQuery("orgheavy", heavySql(s + 5))),
        loop("heavy.avatica")(s => avaticaQuery("orgheavy", heavySql(s + 3)))) ++
      pointTenants.flatMap { org =>
        Seq(
          loop(s"$org.thrift")(s => thriftQuery(org, pointSql(s))),
          loop(s"$org.avatica")(s => avaticaQuery(org, pointSql(s))))
      } :+
      loop("orgledger.avatica") { s =>
        val n = avaticaQuery("orgledger", ledgerSql(s))
        if (n != ledgerExpectedRows(s))
          throw new RuntimeException(s"snapshot view served $n rows, " +
            s"expected ${ledgerExpectedRows(s)} — historical read drifted")
      }
    // health latency measured separately without the sleep skew
    // pool-depth sampler: scrape the per-tenant pool gauges off the
    // live /metrics wire every second and keep each gauge's MAX — the
    // attribution record for isolation-ratio creep (a p95 regression
    // then reads as "waiting_statements peaked at N on orgheavy", not
    // a guess). Gauges register at each tenant's first openConnection.
    val poolDepthMax = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val poolProbe = new Thread(() => {
      while (!stop.get()) {
        try {
          val r = http.send(
            HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${avatica.boundPort}/metrics")).GET().build(),
            BodyHandlers.ofString())
          val gauges = mapper.readTree(r.body()).path("gauges")
          gauges.properties().forEach { e =>
            if (e.getKey.startsWith("pool."))
              poolDepthMax.merge(e.getKey, e.getValue.asLong(0L), math.max(_, _))
          }
        } catch { case _: Throwable => () }
        Thread.sleep(1000)
      }
    })
    poolProbe.setDaemon(true); poolProbe.start()

    val healthProbe = new Thread(() => {
      while (!stop.get()) {
        val t0 = System.nanoTime()
        try {
          val r = http.send(
            HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${avatica.boundPort}/healthz")).GET().build(),
            BodyHandlers.ofString())
          if (r.statusCode() == 200) healthRec.add((System.nanoTime() - t0) / 1e9)
          else healthRec.errors.incrementAndGet()
        } catch { case _: Throwable => healthRec.errors.incrementAndGet() }
        Thread.sleep(2000)
      }
    })
    healthProbe.setDaemon(true); healthProbe.start()

    Thread.sleep(durationSec * 1000L)
    stop.set(true)
    threads.foreach(_.join(30000))
    healthProbe.join(5000)
    poolProbe.join(5000)

    // drift-gauge exercise on the live wire: scrape /metrics around a
    // nightly ingest and a refine — the gauge must move and reset
    // THROUGH the serving endpoint, not just in-process
    def scrapeDriftBp(): Long = {
      val r = http.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${avatica.boundPort}/metrics")).GET().build(),
        BodyHandlers.ofString())
      mapper.readTree(r.body()).path("gauges").path("ann.soakvec.drift_bp").asLong(-2L)
    }
    val driftSeedBp = scrapeDriftBp()
    graft.ops.AnnIndex.ingest(
      annVecs(400 until 460), "vec_id", "embedding", annStore)
    val driftIngestBp = scrapeDriftBp()
    graft.ops.AnnIndex.refine(
      annVecs(0 until 460), "vec_id", "embedding", annStore)
    graft.ops.StandingState.keepSnapshots(spark, annStore, keep = 1)
    val driftRefineBp = scrapeDriftBp()

    // --------------------------------------------------------- reporting
    val pointLoadedThrift = pointTenants.flatMap(o => recs(s"$o.thrift").snapshot).sorted.toArray
    val pointLoadedAvatica = pointTenants.flatMap(o => recs(s"$o.avatica").snapshot).sorted.toArray
    def ratio(loaded: Array[Double], base: Array[Double]): Double =
      if (loaded.isEmpty || base.isEmpty || pct(base, 0.95) <= 0) -1
      else pct(loaded, 0.95) / pct(base, 0.95)
    val perTenant = recs.map { case (name, r) =>
      val s = r.snapshot
      s""""$name":{${fmt(s)},"errors":${r.errors.get()}}"""
    }.mkString(",")
    val counters = Seq(
      "avatica.requests.prepareAndExecute", "avatica.errors",
      "serving.scheduler_not_fair", "avatica.frames_served")
      .map(k => s""""$k":${metrics.counter(k)}""").mkString(",")
    val hs = healthRec.snapshot
    val json =
      s"""{"duration_sec":$durationSec,"heavy_rows":$heavyRows,"ledger_rows":$ledgerRows,""" +
        s""""tenants":${2 + pointTenants.size},""" +
        s""""client_threads":${threads.size},""" +
        s""""baseline":{"point_thrift":{${fmt(baseThrift.snapshot)}},""" +
        s""""point_avatica":{${fmt(baseAvatica.snapshot)}},""" +
        s""""heavy_scan":{${fmt(baseHeavy.snapshot)}}},""" +
        s""""loaded":{$perTenant},""" +
        f""""isolation_p95_ratio":{"thrift":${ratio(pointLoadedThrift, baseThrift.snapshot)}%.2f,""" +
        f""""avatica":${ratio(pointLoadedAvatica, baseAvatica.snapshot)}%.2f},""" +
        s""""health":{${fmt(hs)},"errors":${healthRec.errors.get()}},""" +
        s""""annDriftBp":{"seed":$driftSeedBp,"afterIngest":$driftIngestBp,""" +
        s""""afterRefine":$driftRefineBp},""" +
        s""""ledgerSnapshotsAfterKeep1":$ledgerSnapsLive,""" +
        s""""poolDepthMax":{${
          scala.jdk.CollectionConverters.MapHasAsScala(poolDepthMax).asScala
            .toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        }},""" +
        s""""metrics":{$counters}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), json.getBytes("UTF-8"))
    println(json)
    avatica.stop()
    thrift.stop()
    spark.stop()
  }
}
