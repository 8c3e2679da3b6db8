package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The benchmark runner: one JVM, one local Spark context, one workload.
  *
  * {{{
  *   perfbench.Main --workload <point_reads|history_scans> --seed <n>
  *                  --seconds <s> --trace <0|1> --work <dir> [--spans <file>]
  * }}}
  *
  * Sets the workload up [[SetupReps]] times (fixture, server, clients and
  * a fixed warm-up) and reports the median set-up time, then runs the
  * closed loop on the last set-up for `--seconds`. With `--trace 1` it
  * runs a fixed count of ops instead: the workload's traced count per
  * client, between two untraced halves of the same count together, and,
  * for a workload that carries it, the [[NightlyFold]]; the result then
  * carries the per-layer metrics and the tracing overhead.
  * The last stdout line is the result object. */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, spans: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(m.getOrElse("spans", s"${need("work")}/spans.jsonl")))
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workload(args.workload)
    Files.createDirectories(args.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the serving precondition: FAIR across the per-tenant pools
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.graft.indexDir", args.work.resolve("index").toString)
      .config("spark.hadoop.hadoop.tmp.dir", args.work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val result = new Run(spark, workload, args, cores).execute()
      println(result)
    } finally spark.stop()
  }
}

/** Latencies and outcomes of one closed-loop phase. */
final case class Phase(latNs: Array[Long], attempted: Long, failed: Long, wallNs: Long) {
  private lazy val sorted = latNs.sorted
  def pctMs(q: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.max(0, math.ceil(q * sorted.length).toInt - 1)) / 1e6
  def opsPerSec: Double = (attempted - failed) / (wallNs / 1e9)
}

final class Run(spark: SparkSession, workload: Workload, args: Main.Args, cores: Int) {
  import Main.log

  private val stmtIds = new AtomicLong(0)
  private val probe = new EngineProbe
  spark.sparkContext.addSparkListener(probe)

  /** Run client `c`'s `i`-th op: (correct, latency ns). */
  private def op(d: Deployment, c: Int, i: Int, trace: Boolean): (Boolean, Long) =
    if (trace) d.tracedOp(c, i, stmtIds.incrementAndGet())
    else {
      val t0 = System.nanoTime()
      val ok = d.op(c, i)
      (ok, System.nanoTime() - t0)
    }

  /** Closed loop: every client sends its next statement when the last one
    * returns, until the deadline (or for `count` statements each). */
  private def loop(d: Deployment, seconds: Double, count: Int, trace: Boolean, first: Int,
      clients: Int = workload.clients): Phase = {
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val attempted = new AtomicLong(0); val failed = new AtomicLong(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        var i = first
        while (if (count > 0) i < first + count else System.nanoTime() < deadline) {
          attempted.incrementAndGet()
          try {
            val (ok, ns) = op(d, c, i, trace)
            if (ok) lat.add(ns)
            else {
              failed.incrementAndGet()
              log(s"wrong answer: client $c, op $i")
            }
          } catch {
            case e: Throwable =>
              failed.incrementAndGet()
              log(s"statement failed: $e")
          }
          i += 1
        }
      }, s"client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    Phase(lat.asScala.map(_.longValue).toArray, attempted.get, failed.get, System.nanoTime() - t0)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def execute(): String = {
    // set up SetupReps times; the last set-up serves the timed phase
    var deployment: Deployment = null
    var warmFailed = 0L
    val setupSecs = (0 until Main.SetupReps).map { rep =>
      if (deployment != null) {
        deployment.close()
        deleteTree(args.work.resolve(s"setup${rep - 1}"))
      }
      val t0 = System.nanoTime()
      deployment = workload.deploy(spark, args.seed, args.work.resolve(s"setup$rep"), args.trace)
      warmFailed += loop(deployment, 0, workload.warmupPerClient, trace = false, first = 0).failed
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up $rep: $s%.3f s (${deployment.files} files)")
      s
    }
    val d = deployment
    val first = workload.warmupPerClient
    val out =
      if (!args.trace) {
        val p = loop(d, args.seconds, 0, trace = false, first)
        val heapMb = liveHeapMb()
        log(f"timed: ${p.latNs.length} ok of ${p.attempted}, p50 ${p.pctMs(0.5)}%.1f ms, p90 ${p.pctMs(0.9)}%.1f ms")
        result(p.attempted, p.failed + warmFailed, Seq(
          ("setup_s", median(setupSecs), "s"),
          ("p50_ms", p.pctMs(0.5), "ms"),
          ("p90_ms", p.pctMs(0.9), "ms"),
          ("ops_per_s", p.opsPerSec, "1/s"),
          ("live_heap_mb", heapMb, "MB")))
      } else {
        // untraced, traced, untraced, in fixed counts: the traced ops are
        // compared with as many untraced ones around them, so drift over
        // the run cancels
        val n = workload.tracedPerClient
        val before = loop(d, 0, n / 2, trace = false, first)
        val tr = loop(d, 0, n, trace = true, first + n / 2)
        val after = loop(d, 0, n - n / 2, trace = false, first + n / 2 + n)
        log(f"untraced ${before.wallNs / 1e9}%.1f s + ${after.wallNs / 1e9}%.1f s, traced ${tr.wallNs / 1e9}%.1f s")
        // the traced run of a workload that carries the nightly fold then
        // bootstraps a store and runs its nights
        val fold = if (workload.tracesFold) Some(traceFold()) else None
        probe.drain()
        d.tracer.write(args.spans, append = false)
        fold.foreach(_._1.tracer.write(args.spans, append = true))
        val plain = Phase(before.latNs ++ after.latNs, before.attempted + after.attempted,
          before.failed + after.failed, before.wallNs + after.wallNs)
        val measured = (d.layers(probe, cores) ++ fold.toSeq.flatMap(_._1.layers(probe, cores))).toMap
        val nights = fold.toSeq.map(_._2)
        result(plain.attempted + tr.attempted + nights.map(_.attempted).sum,
          plain.failed + tr.failed + warmFailed + nights.map(_.failed).sum,
          Layers.units.map { case (k, u) => (k, measured.getOrElse(k, 0.0), u) } ++ Seq(
            ("trace.p50_overhead_ms", tr.pctMs(0.5) - plain.pctMs(0.5), "ms"),
            ("trace.p90_overhead_ms", tr.pctMs(0.9) - plain.pctMs(0.9), "ms"),
            ("trace.ops_per_s_overhead", plain.opsPerSec - tr.opsPerSec, "1/s")))
      }
    d.close()
    out
  }

  /** The nightly fold's store, bootstrapped from the seed, with its
    * untraced warm-up nights and its traced nights (as one phase). */
  private def traceFold(): (FoldDeployment, Phase) = {
    val f = new FoldDeployment(spark, new AssetModel(args.seed, NightlyFold.shape), args.work.resolve("fold"))
    val warm = loop(f, 0, NightlyFold.warmupNights, trace = false, first = 0, clients = 1)
    val tr = loop(f, 0, NightlyFold.tracedNights, trace = true, first = NightlyFold.warmupNights, clients = 1)
    log(f"fold: ${tr.latNs.length} traced nights, p50 ${tr.pctMs(0.5)}%.0f ms")
    (f, tr.copy(attempted = warm.attempted + tr.attempted, failed = warm.failed + tr.failed))
  }

  /** Heap in use after a full collection. */
  private def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def result(attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
}
