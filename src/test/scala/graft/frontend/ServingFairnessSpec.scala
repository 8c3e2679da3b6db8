package graft.frontend

import graft.SparkFixture
import graft.schema._
import graft.sources._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpResponse.BodyHandlers

/** The FAIR-scheduling precondition is OWNED BY THE PRODUCT, not the
  * test fixture: every server boot checks the context's scheduler mode
  * and a FIFO deployment gets a loud named warning + an observable
  * metric (`spark.scheduler.mode` is static — the scheduler picked its
  * mode at context creation, so detection is all a boot can do).
  *
  * One SparkContext per JVM means a real FIFO context can't exist next
  * to the FAIR fixture; the FIFO case swaps the documented
  * [[ServingFairness.modeOf]] seam and restores it. */
class ServingFairnessSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkFixture.spark
  import scala.jdk.CollectionConverters._

  private val registry = SchemaRegistry(
    Org("orgf", Seq(Metric("mf", "fmetric", Seq(Field("v", FieldType.LONG))))))

  private lazy val sources: SourceSet = {
    val dir = SparkFixture.tempDir("fairness")
    val schema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("v", LongType)))
    spark.createDataFrame(Seq(Row("orgf", "mf", 10L, 1L)).asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/0/parquet/orgf/mf")
    SourceSet(fs = Seq(FsSource("parquet", dir)))
  }

  private def withMode[A](mode: String)(f: => A): A = {
    val prev = ServingFairness.modeOf
    ServingFairness.modeOf = _ => mode
    try f finally ServingFairness.modeOf = prev
  }

  /** Run `f`, returning what ServingFairness logged meanwhile, one
    * `LEVEL message` line per event. The fixture context logs at ERROR,
    * so the capture lowers this one logger to WARN and restores it. */
  private def capturingWarn[A](f: => A): (A, String) = {
    val name = ServingFairness.getClass.getName
    val logger = LogManager.getLogger(name).asInstanceOf[core.Logger]
    val prevLevel = logger.getLevel
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "serving-fairness-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        events.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}\n")
    }
    appender.start()
    Configurator.setLevel(name, Level.WARN)
    logger.addAppender(appender)
    val a =
      try f
      finally {
        logger.removeAppender(appender)
        Configurator.setLevel(name, prevLevel)
        appender.stop()
      }
    (a, events.asScala.mkString)
  }

  test("booting a server on a FIFO context warns loudly and bumps the metric") {
    val metrics = new ServingMetrics
    val ((), err) = capturingWarn {
      withMode("FIFO") {
        val s = new GraftAvaticaServer(
          key => TenantSession.open(spark, registry, key, sources),
          engine = Some(spark), metrics = metrics)
        s.stop()
      }
    }
    metrics.counter("serving.scheduler_not_fair") shouldBe 1L
    err should include("WARN GraftAvaticaServer")
    err should include("spark.scheduler.mode=FIFO")
    err should include("FAIR")
    err should include("graft-fairscheduler.xml")
  }

  test("booting on the FAIR fixture context is silent (real conf, no seam)") {
    val metrics = new ServingMetrics
    val ((), err) = capturingWarn {
      val s = new GraftAvaticaServer(
        key => TenantSession.open(spark, registry, key, sources),
        engine = Some(spark), metrics = metrics)
      s.stop()
    }
    metrics.counter("serving.scheduler_not_fair") shouldBe 0L
    err should not include "scheduler_not_fair"
    err should not include "WARN GraftAvaticaServer"
    // and the check itself agrees with the fixture conf
    ServingFairness.ensureFair(spark, "spec", metrics) shouldBe true
  }

  test("engine-less server checks at the FIRST tenant session, once") {
    val metrics = new ServingMetrics
    val client = HttpClient.newHttpClient()
    val (resp, err) = capturingWarn {
      withMode("FIFO") {
        val s = new GraftAvaticaServer(
          key => TenantSession.open(spark, registry, key, sources),
          engine = None, metrics = metrics)
        try {
          def hit() = client.send(
            HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${s.boundPort}/v1/metadata/schemas"))
              .header("X-Api-Key", "orgf").GET().build(),
            BodyHandlers.ofString())
          val first = hit(); hit() // second request must NOT re-warn
          first
        } finally s.stop()
      }
    }
    resp.statusCode() shouldBe 200
    metrics.counter("serving.scheduler_not_fair") shouldBe 1L
    err should include("WARN GraftAvaticaServer")
  }

  test("avatica boot on a FIFO context warns with its own server name") {
    val metrics = new ServingMetrics
    val ((), err) = capturingWarn {
      withMode("FIFO") {
        val s = new GraftAvaticaServer(
          key => TenantSession.open(spark, registry, key, sources),
          engine = Some(spark), metrics = metrics)
        s.stop()
      }
    }
    metrics.counter("serving.scheduler_not_fair") shouldBe 1L
    err should include("WARN GraftAvaticaServer")
  }
}
