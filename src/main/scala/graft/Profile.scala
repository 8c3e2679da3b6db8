package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.ops.Materialize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftshim.GraftSessions

/** Profile named battery keys one at a time. For each key it prints the
  * wall time and row count, the index-cache deltas (hits, misses,
  * evictions) and the [[QueryProfile]] timeline: SQL executions and jobs,
  * seconds per call site and the slowest executions.
  *
  * Usage: `runMain graft.Profile <sfDir> <key>...|ALL [--prewarm]
  * [--plans DIR SUFFIX] [--oracles FILE]`
  *  - `--prewarm` runs the standing-fixture prep untimed first, as Bench
  *    does, so nightly keys measure only the recurring ingest;
  *  - `--plans` writes each key's formatted EXPLAIN to
  *    `DIR/<key>_<SUFFIX>.txt` (the before/after plan evidence under
  *    `plans/`);
  *  - `--oracles` writes the oracle SQL JSON to FILE without starting
  *    Spark (then no sfDir or key is needed), for syntax-checking oracles
  *    against DuckDB alone. */
object Profile {

  private val Usage =
    "usage: graft.Profile <sfDir> <key>...|ALL [--prewarm] [--plans DIR SUFFIX] [--oracles FILE]"

  private final case class Args(
      positional: Vector[String] = Vector.empty,
      prewarm: Boolean = false,
      plans: Option[(String, String)] = None,
      oracles: Option[String] = None)

  @annotation.tailrec
  private def parse(rest: List[String], a: Args): Args = rest match {
    case Nil => a
    case "--prewarm" :: t => parse(t, a.copy(prewarm = true))
    case "--plans" :: dir :: suffix :: t => parse(t, a.copy(plans = Some((dir, suffix))))
    case "--oracles" :: file :: t => parse(t, a.copy(oracles = Some(file)))
    case flag :: _ if flag.startsWith("--") =>
      throw new IllegalArgumentException(s"bad option $flag; $Usage")
    case p :: t => parse(t, a.copy(positional = a.positional :+ p))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toList, Args())
    a.oracles.foreach { file =>
      Verify.writeOracleSql(file)
      println(s"[profile] wrote $file with ${SparkEntry.oracleSql.size} oracles; " +
        s"${SparkEntry.queries.size} queries total")
    }
    a.positional match {
      case sfDir +: keys if keys.nonEmpty =>
        val spark = GraftSessions.builder().getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        graft.functions.GraftExtensions.register(spark)
        try run(spark, sfDir, keys, a.prewarm, a.plans)
        finally {
          Materialize.clearCache()
          spark.stop()
        }
      case _ if a.oracles.isDefined => ()
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  /** Profile `keys` (or every key, for `Seq("ALL")`) on `spark`, which is
    * left running. An unknown or failing key is reported and skipped. */
  def run(
      spark: SparkSession,
      sfDir: String,
      keys: Seq[String],
      prewarm: Boolean = false,
      plans: Option[(String, String)] = None): Unit = {
    val names = if (keys == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted else keys
    // untimed warmup: scheduler, codegen and parquet reader start-up
    // would otherwise land on whichever key runs first
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    if (prewarm) {
      val t0 = System.nanoTime()
      PipelineQueries.prewarmStandingFixtures(spark, sfDir)
      println(f"[profile] fixture prewarm: ${(System.nanoTime() - t0) / 1e9}%.1f s (untimed)")
    }
    plans.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    val profile = QueryProfile.attach(spark)
    try names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[profile] unknown key: $name (skipped)")
        case Some(fn) =>
          profile.reset()
          val (h0, m0, e0) = Materialize.cacheTelemetry
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            val n = df.count()
            val wall = (System.nanoTime() - t0) / 1e9
            val (h1, m1, e1) = Materialize.cacheTelemetry
            GraftSessions.drainListenerBus(spark)
            println(f"[profile] $name: $wall%.2f s ($n rows, idxcache " +
              s"+${h1 - h0} hit/+${m1 - m0} miss/+${e1 - e0} evict)")
            println(timeline(profile.snapshot))
            // count() plans its own aggregate, so df's plan is still the
            // unexecuted one a plain EXPLAIN shows
            plans.foreach { case (dir, suffix) =>
              val file = Paths.get(dir, s"${name}_$suffix.txt")
              Files.writeString(file, df.queryExecution.explainString(FormattedMode))
              println(s"[profile] wrote $file")
            }
          } catch {
            // NonFatal only: an OOM or linkage error must abort the run
            // rather than print misleading figures from an unhealthy JVM
            case NonFatal(e) => println(s"[profile] FAILED $name: ${e.getMessage}")
          } finally Materialize.dropAll()
      }
    } finally spark.sparkContext.removeSparkListener(profile)
  }

  private def timeline(p: QueryProfile.Snapshot): String = {
    val bySite = p.execs.groupBy(_.callSite).toSeq
      .map { case (site, es) => (site, es.map(_.wallMs).sum / 1e3, es.size) }
      .sortBy(-_._2)
    val header =
      f"  ${p.sqlExecs} sql executions, ${p.jobs} jobs, ${p.tasks} tasks, " +
        f"${p.execs.map(_.wallMs).sum / 1e3}%.2f s summed; bytes: shuffle read " +
        s"${p.shuffleReadBytes}, shuffle write ${p.shuffleWriteBytes}, " +
        s"spill ${p.spillBytes}, output ${p.outputBytes}"
    val sites = bySite.take(25).map { case (site, sec, n) => f"    $sec%7.2f s  n=$n%-4d $site" }
    val slowest = p.execs.sortBy(-_.wallMs).take(20)
      .map(e => f"    exec ${e.id}%4d ${e.wallMs / 1e3}%7.2f s  ${e.callSite}")
    ((header +: "  by call site:" +: sites) ++ ("  slowest executions:" +: slowest))
      .mkString("\n")
  }
}
