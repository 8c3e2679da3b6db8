package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import java.nio.file.Path

import scala.util.Random

/** One tenant statement with the answer the generator implies for it.
  * `usefulRows` is the number of logical rows inside its time range. */
final case class Statement(sql: String, tenant: Int, usefulRows: Long, check: IndexedSeq[JsonNode] => Boolean)

/** A workload: its closed loop of `clients`, the ops each client runs
  * in a set-up's warm-up, the ops each client runs traced in a traced run,
  * whether its traced run also measures the [[NightlyFold]], and how to
  * set it up from a seed. */
sealed abstract class Workload(
    val name: String, val clients: Int, val warmupPerClient: Int, val tracedPerClient: Int,
    val tracesFold: Boolean) {
  def deploy(spark: SparkSession, seed: Long, dir: Path, traced: Boolean): Deployment
}

object Workload {
  val all: Seq[Workload] = Seq(ReadWorkload.PointReads, ReadWorkload.HistoryScans)

  def apply(name: String): Workload = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload: $name"))
}

/** A read workload over a generated tenant history: its size, its closed
  * loop (client `c` always queries tenant `c % tenants`), and the
  * statement client `c` sends `i`-th. Statements never repeat within a
  * run, as literals differ from one to the next in real traffic. */
sealed abstract class ReadWorkload(name: String, clients: Int, warmupPerClient: Int, tracedPerClient: Int,
    tracesFold: Boolean, val shape: Shape)
    extends Workload(name, clients, warmupPerClient, tracedPerClient, tracesFold) {
  /** The statement source for one set-up: (client, index) => statement. */
  def source(model: TenantModel): (Int, Int) => Statement

  def deploy(spark: SparkSession, seed: Long, dir: Path, traced: Boolean): Deployment =
    new ReadDeployment(spark, this, seed, dir, traced)
}

object ReadWorkload {
  val HourMs = 3600000L

  /** Index distance between a traced wire statement and the statements
    * its replay runs: same client and shape, other literals. */
  val ReplayOffset = 3000000

  /** Four tenants on four clients; each statement reads 10 to 60 minutes
    * inside one nearline window, so pruning keeps one window and the
    * answer is at most 60 rows, while the assembly still lists every
    * archive partition of the tenant. */
  object PointReads extends ReadWorkload("point_reads", clients = 4, warmupPerClient = 2, tracedPerClient = 15,
    tracesFold = true,
    Shape(tenants = 4, days = 20, archiveStepMs = 30 * 60000L, windows = 24, windowMs = HourMs,
      nearlineStepMs = 60000L, overlapWindows = 2)) {
    def source(model: TenantModel): (Int, Int) => Statement = { (client, i) =>
      val tenant = client % shape.tenants
      val rnd = new Random(model.seed * 1000003L + client * 7919L + i)
      val minutes = 10 + rnd.nextInt(51)
      val lo = shape.nearlineStart + rnd.nextInt(shape.windows) * shape.windowMs +
        rnd.nextInt(61 - minutes) * 60000L
      val hi = lo + minutes * 60000L
      val table = if (rnd.nextBoolean()) "readings" else "reading" // display name or alias
      val (n, digest) = model.expectedDigest(tenant, lo, hi)
      Statement(s"SELECT timestamp, site, v FROM $table WHERE timestamp >= $lo AND timestamp < $hi",
        tenant, n, rows => rows.size == n && rows.map(r =>
          model.rowDigest(r.get(0).asLong, r.get(1).asText, r.get(2).asLong)).sum == digest)
    }
  }

  /** One tenant on two clients; aggregates over the full history or ranges
    * that start within its first day, so scan, recombination, cutoff and
    * shuffle weigh more than on point reads, and every statement costs
    * about the same (with shapes of unequal cost, the median would sit on
    * the boundary between them and flip from run to run). Two clients, not
    * one: a statement takes over a second, and one client left `p90_ms`
    * with two samples beyond it. The ranges do not depend on the seed,
    * only the data values do, so every seed asks for the same work. */
  object HistoryScans extends ReadWorkload("history_scans", clients = 2, warmupPerClient = 1, tracedPerClient = 15,
    tracesFold = false,
    Shape(tenants = 1, days = 8, archiveStepMs = 5000L, windows = 2, windowMs = 12 * HourMs,
      nearlineStepMs = 5000L, overlapWindows = 1)) {
    /** Per-hour aggregates of the logical rows, (all rows, rows with
      * v >= 500) -> site -> (count, sum of v, min and max timestamp); every
      * range below is whole hours, so its expectation is a merge of these. */
    private type Agg = (Long, Long, Long, Long)
    private def merge(a: Agg, b: Agg): Agg = (a._1 + b._1, a._2 + b._2, math.min(a._3, b._3), math.max(a._4, b._4))

    def source(model: TenantModel): (Int, Int) => Statement = {
      val tenant = 0
      val hours = ((shape.end - shape.t0) / HourMs).toInt
      val buckets = Array.fill(hours, 2)(Map.empty[Int, Agg])
      model.timestamps(shape.t0, shape.end).foreach { ts =>
        val h = ((ts - shape.t0) / HourMs).toInt
        val v = model.value(tenant, ts); val site = model.site(tenant, ts)
        val one = (1L, v, ts, ts)
        for (f <- if (v >= 500) Seq(0, 1) else Seq(0))
          buckets(h)(f) = buckets(h)(f).updated(site, buckets(h)(f).get(site).fold(one)(merge(_, one)))
      }
      def expect(lo: Long, hi: Long, filtered: Boolean, key: (Int, Long) => String): Map[String, Agg] = {
        val f = if (filtered) 1 else 0
        val hs = ((lo - shape.t0) / HourMs).toInt until ((hi - shape.t0) / HourMs).toInt
        hs.flatMap(h => buckets(h)(f).toSeq.map { case (site, a) => key(site, shape.t0 + h * HourMs) -> a })
          .groupMapReduce(_._1)(_._2)(merge)
      }
      def statement(sql: String, e: Map[String, Agg], withRange: Boolean) =
        Statement(sql, tenant, e.values.map(_._1).sum, rows =>
          rows.size == e.size && rows.forall { r =>
            e.get(r.get(0).asText).exists { case (n, sum, mn, mx) =>
              r.get(1).asLong == n && r.get(2).asLong == sum &&
                (!withRange || (r.get(3).asLong == mn && r.get(4).asLong == mx))
            }
          })
      val day = shape.dayMs
      val bySite = (site: Int, _: Long) => s"s$site"
      (client, i) => {
        val j = i * clients + client // the clients take turns through one sequence
        val k = j / 3 // distinct ranges for every statement of a shape
        j % 3 match {
          case 0 => // full history, every source kind; the one repeated statement
            statement("SELECT site, count(*) AS n, sum(v) AS s FROM readings GROUP BY site",
              expect(shape.t0, shape.end, filtered = false, bySite), withRange = false)
          case 1 => // from an hour of the first day to the end, by day
            val lo = shape.t0 + (k % 24) * HourMs
            statement(s"SELECT timestamp div $day AS d, count(*) AS n, sum(v) AS s FROM readings " +
              s"WHERE timestamp >= $lo GROUP BY timestamp div $day",
              expect(lo, shape.end, filtered = false, (_, h) => (h / day).toString), withRange = false)
          case _ => // from an hour of the first day to the end, with a value filter
            val lo = shape.t0 + (k * 5 % 24) * HourMs
            val hi = shape.end
            statement(s"SELECT site, count(*) AS n, sum(v) AS s, min(timestamp) AS lo, " +
              s"max(timestamp) AS hi FROM readings WHERE timestamp >= $lo AND timestamp < $hi " +
              "AND v >= 500 GROUP BY site",
              expect(lo, hi, filtered = true, bySite), withRange = true)
        }
      }
    }
  }
}
