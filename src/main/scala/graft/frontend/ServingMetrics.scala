package graft.frontend

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{LongAdder, LongAccumulator}

/** Serving-layer metrics registry — the reference wires a Dropwizard
  * `MetricRegistry`/`MetricsSystem` into its Avatica server
  * (`readerator/server/src/main/java/io/fineo/read/serve/FineoServer.java:22,32-34`)
  * so operators get per-RPC counters and timers; this is the same
  * surface, dependency-free (the sandbox resolves no new jars):
  *
  *   - counters (LongAdder — write-contention-free on the request path);
  *   - timers (count / total / max nanos per name);
  *   - gauges (live suppliers, e.g. open connections/statements).
  *
  * One instance is SHARED by all wire endpoints of a serving deployment
  * (REST routes, Avatica, Thrift rewriter) and exposed as the `/metrics`
  * JSON endpoint of the one HTTP listener. Naming convention is
  * `<wire>.<metric>[.<detail>]`, e.g. `avatica.requests.fetch`,
  * `http.rows_served`, `thrift.statements.org1`. */
final class ServingMetrics {

  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val timerCounts = new ConcurrentHashMap[String, LongAdder]()
  private val timerNanos = new ConcurrentHashMap[String, LongAdder]()
  private val timerMax = new ConcurrentHashMap[String, LongAccumulator]()
  private val gauges = new ConcurrentHashMap[String, () => Long]()

  def inc(name: String, n: Long = 1L): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  /** Time a block under `name`; failures still record the elapsed time
    * (a slow failure is exactly what the timer must witness). */
  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = System.nanoTime() - t0
      timerCounts.computeIfAbsent(name, _ => new LongAdder).increment()
      timerNanos.computeIfAbsent(name, _ => new LongAdder).add(dt)
      timerMax.computeIfAbsent(name,
        _ => new LongAccumulator((a, b) => math.max(a, b), 0L)).accumulate(dt)
    }
  }

  def timerCount(name: String): Long =
    Option(timerCounts.get(name)).map(_.sum()).getOrElse(0L)

  /** Register (or replace) a live gauge. */
  def gauge(name: String)(f: => Long): Unit = gauges.put(name, () => f)

  /** Current value of a registered gauge (-1 when missing or failing —
    * the same failure rendering `snapshotJson` uses). */
  def gaugeValue(name: String): Long =
    Option(gauges.get(name))
      .map(f => try f() catch { case _: Exception => -1L })
      .getOrElse(-1L)

  /** Snapshot as one JSON object:
    * `{"counters":{...},"timers":{name:{count,totalMillis,maxMillis}},"gauges":{...}}`. */
  def snapshotJson: String = {
    import scala.jdk.CollectionConverters._
    def jname(s: String) = JsonCodec.jstr(s)
    val cs = counters.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jname(k)}:${v.sum()}" }.mkString("{", ",", "}")
    val ts = timerCounts.asScala.keys.toSeq.sorted.map { k =>
      val n = timerCounts.get(k).sum()
      val tot = Option(timerNanos.get(k)).map(_.sum()).getOrElse(0L)
      val mx = Option(timerMax.get(k)).map(_.get()).getOrElse(0L)
      f"${jname(k)}:{" +
        f""""count":$n,"totalMillis":${tot / 1e6}%.3f,"maxMillis":${mx / 1e6}%.3f}"""
    }.mkString("{", ",", "}")
    val gs = gauges.asScala.toSeq.sortBy(_._1).map { case (k, f) =>
      val v = try f() catch { case _: Exception => -1L }
      s"${jname(k)}:$v"
    }.mkString("{", ",", "}")
    s"""{"counters":$cs,"timers":$ts,"gauges":$gs}"""
  }
}

object ServingMetrics {

  /** Wire a standing ANN store's CUMULATIVE drift into the serving
    * registry as live gauges (basis points: drift × 10⁴, rounded), so
    * index staleness shows on the `/metrics` endpoint beside the
    * request counters — the operational half of the nightly drift gate
    * ([[graft.ops.AnnIndex.ingest]]/`ingestPq` return the same verdict
    * to their caller, but the serving deployment is what suffers the
    * recall erosion and is where the number must be visible). Each
    * scrape reads ONE witness file (metadata only, zero Spark jobs);
    * a scrape that fails (store mid-rotation, root retired) renders as
    * the registry's standard -1 failure value rather than unhealthy.
    * Gauge names: `ann.<name>.drift_bp` (IVF cells) and
    * `ann.<name>.pq_drift_bp` (PQ codes); a refine/refinePq replace
    * commit resets the underlying metadata, so the gauges fall back to
    * 0 without re-registration. */
  def registerAnnDrift(
      metrics: ServingMetrics,
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      ivfStore: Option[String] = None,
      pqStore: Option[String] = None): Unit = {
    ivfStore.foreach { s =>
      metrics.gauge(s"ann.$name.drift_bp")(
        math.round(graft.ops.AnnIndex.drift(spark, s) * 10000))
    }
    pqStore.foreach { s =>
      metrics.gauge(s"ann.$name.pq_drift_bp")(
        math.round(graft.ops.AnnIndex.driftPq(spark, s) * 10000))
    }
  }
}
