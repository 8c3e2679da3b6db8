package perfbench

import graft.core.TimeRange
import graft.schema.{Metric, Org, SchemaRegistry}
import graft.sources.SourceSet
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Every per-layer metric a traced run reports, with its unit. A layer a
  * workload does not exercise reports 0 on it. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "frontend.tenant_sql_ms" -> "ms", "frontend.substitute_ms" -> "ms",
    "frontend.wire_overhead_ms" -> "ms", "frontend.rpcs_per_stmt" -> "count",
    "frontend.response_bytes_per_stmt" -> "bytes",
    "schema.lookup_us" -> "us",
    "core.assemble_ms" -> "ms", "core.nearline_kept" -> "count",
    "core.nearline_total" -> "count", "core.union_branches" -> "count",
    "engine.analysis_ms" -> "ms", "engine.optimization_ms" -> "ms", "engine.planning_ms" -> "ms",
    "engine.jobs_per_stmt" -> "count", "engine.tasks_per_stmt" -> "count",
    "engine.driver_gap_ms" -> "ms", "engine.task_run_ms" -> "ms", "engine.task_cpu_ms" -> "ms",
    "engine.gc_ms" -> "ms", "engine.shuffle_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.slot_use" -> "ratio",
    "sources.input_bytes" -> "bytes", "sources.input_rows" -> "count",
    "sources.rows_out_per_row_read" -> "ratio",
    "ops.ingest_ms" -> "ms", "ops.jobs_per_night" -> "count", "ops.driver_gap_ms" -> "ms",
    "ops.compact_ms" -> "ms", "ops.compactions" -> "count", "ops.read_clusters_ms" -> "ms",
    "ops.bytes_written_per_delta_byte" -> "ratio", "ops.partition_dirs" -> "count",
    "ops.store_bytes_per_live_byte" -> "ratio")
}

/** One traced call: `parent` is the enclosing span (0 for a statement's
  * root) and `stmt` the statement every span of one request shares. */
final case class Span(id: Long, parent: Long, stmt: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans open only on a thread inside a
  * statement root, so the program's own serving threads record nothing;
  * everything is written out once, at exit. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  // open spans of this thread, innermost first: (span id, statement id, name)
  private val open = ThreadLocal.withInitial[List[(Long, Long, String)]](() => Nil)

  private def record[A](name: String, parent: Long, stmt: Long)(f: => A): A = {
    val id = Tracer.ids.incrementAndGet()
    open.set((id, stmt, name) :: open.get)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, parent, stmt, name, t0, System.nanoTime()))
      open.set(open.get.tail)
    }
  }

  /** The root span of statement `stmt`. */
  def root[A](name: String, stmt: Long)(f: => A): A = record(name, 0L, stmt)(f)

  /** A child of the innermost open span; a plain call outside any root. */
  def span[A](name: String)(f: => A): A = open.get match {
    case (parent, stmt, _) :: _ => record(name, parent, stmt)(f)
    case Nil => f
  }

  /** Add `n` to counter `key`, only under an open span named `within`. */
  def countWithin(within: String, key: String, n: Long): Unit =
    if (open.get.exists(_._3 == within))
      counts.computeIfAbsent(key, _ => new java.util.concurrent.atomic.LongAdder).add(n)

  def count(key: String): Long = Option(counts.get(key)).map(_.sum()).getOrElse(0L)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: duration minus the time its children cover
    * (children of one span run one after another on its thread). */
  def selfNanos: Map[String, Long] = {
    val s = all
    val childNs = s.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    s.groupBy(_.name).view.mapValues(_.map(x => x.durNs - childNs.getOrElse(x.id, 0L)).sum).toMap
  }

  def totalNanos(name: String): Long = all.filter(_.name == name).map(_.durNs).sum

  def write(path: java.nio.file.Path, append: Boolean): Unit = {
    import java.nio.file.StandardOpenOption._
    val w = java.nio.file.Files.newBufferedWriter(path,
      Seq(CREATE, WRITE) :+ (if (append) APPEND else TRUNCATE_EXISTING): _*)
    try all.sortBy(_.id).foreach { x =>
      w.write(s"""{"id":${x.id},"parent":${x.parent},"stmt":${x.stmt},"name":"${x.name}",""" +
        s""""start_ns":${x.startNs},"end_ns":${x.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Span ids, unique across every tracer of the run. */
  private val ids = new AtomicLong(0)
}

/** Schema registry whose metric lookups (by name or alias) are spans. */
final class TracedRegistry(orgs: Seq[Org], tracer: Tracer)
    extends SchemaRegistry(orgs.map(o => o.orgId -> o).toMap) {
  override def metric(orgId: String, table: String): Option[Metric] =
    tracer.span("schema.lookup")(super.metric(orgId, table))
}

/** Source set whose time-range pruning is a span. It counts the nearline
  * windows it keeps and the union branches they leave, for the pruning
  * done by `TenantSession.sql`. The pruned set it returns is a plain one,
  * so the assembler's own re-prune is not counted twice. */
final class TracedSources(base: SourceSet, tracer: Tracer)
    extends SourceSet(base.fs, base.nearline, base.keyMapper) {
  override def prune(range: TimeRange): SourceSet = tracer.span("core.prune") {
    val p = super.prune(range)
    tracer.countWithin("frontend.tenant_sql", "core.nearline_total", nearline.size)
    tracer.countWithin("frontend.tenant_sql", "core.nearline_kept", p.nearline.size)
    tracer.countWithin("frontend.tenant_sql", "core.union_branches", p.fs.size + p.nearline.size)
    SourceSet(p.fs, p.nearline, p.keyMapper)
  }
}

/** Spark work of one statement, read from listener events. */
final class StmtWork {
  var jobs = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var inputBytes = 0L; var inputRows = 0L
  val jobSpans = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // epoch ms
}

/** A public SparkListener that attributes jobs and tasks to the statement
  * whose thread submitted them, via the local property [[StmtProperty]]. */
final class EngineProbe extends SparkListener {
  val work = new java.util.concurrent.ConcurrentHashMap[Long, StmtWork]()
  private val stageStmt = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val pending = new AtomicLong(0)

  def of(stmt: Long): StmtWork = work.computeIfAbsent(stmt, _ => new StmtWork)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(EngineProbe.StmtProperty))).foreach { s =>
      val stmt = s.toLong
      pending.incrementAndGet()
      jobStart.put(e.jobId, (stmt, e.time))
      e.stageIds.foreach(stageStmt.put(_, stmt))
      val w = of(stmt)
      w.synchronized { w.jobs += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (stmt, t0) =>
      val w = of(stmt)
      w.synchronized { w.jobSpans += ((t0, e.time)) }
      pending.decrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageStmt.get(e.stageId)).foreach { stmt =>
      val w = of(stmt)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.taskRunMs += m.executorRunTime
          w.taskCpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
          w.inputRows += m.inputMetrics.recordsRead
        }
      }
    }

  /** Wait (bounded) until every attributed job has reported its end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (pending.get() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // task-end events trail their job's end
  }
}

object EngineProbe {
  val StmtProperty = "perfbench.stmt"

  /** Engine metrics per statement over statements (id, e0, e1), where
    * [e0, e1] (epoch ms) is the in-process window of each. */
  def stats(probe: EngineProbe, stmts: Seq[(Long, Long, Long)], cores: Int): Map[String, Double] = {
    val n = math.max(1, stmts.size).toDouble
    val work = stmts.map { case (id, _, _) => probe.of(id) }
    def per(xs: Seq[Long]) = xs.sum / n
    val wallMs = stmts.map { case (_, e0, e1) => e1 - e0 }.sum
    Map(
      "engine.jobs_per_stmt" -> per(work.map(_.jobs)),
      "engine.tasks_per_stmt" -> per(work.map(_.tasks)),
      "engine.driver_gap_ms" -> per(stmts.zip(work).map { case ((_, e0, e1), w) => gapMs(e0, e1, w.jobSpans.toSeq) }),
      "engine.task_run_ms" -> per(work.map(_.taskRunMs)),
      "engine.task_cpu_ms" -> per(work.map(_.taskCpuNs)) / 1e6,
      "engine.gc_ms" -> per(work.map(_.gcMs)),
      "engine.shuffle_bytes" -> per(work.map(_.shuffleBytes)),
      "engine.spill_bytes" -> per(work.map(_.spillBytes)),
      "engine.slot_use" -> work.map(_.taskRunMs).sum / math.max(1.0, wallMs.toDouble * cores))
  }

  /** Milliseconds of [t0, t1] that no job span covers. */
  def gapMs(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L; var reach = t0
    jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (t1 - t0) - covered
  }
}
