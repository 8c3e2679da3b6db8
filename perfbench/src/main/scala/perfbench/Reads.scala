package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.Assembler
import graft.frontend.{GraftAvaticaServer, GraftHttpServer, PerfbenchAccess, TenantSession}
import graft.schema.SchemaRegistry
import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** One set-up of a workload: it serves client `c`'s `i`-th op. */
trait Deployment {
  /** Data files the set-up wrote. */
  def files: Int
  /** Records the spans of traced ops. */
  def tracer: Tracer
  /** Run the op; true when its answer is correct. */
  def op(c: Int, i: Int): Boolean
  /** Run the op traced as statement `id`: (correct, latency ns). */
  def tracedOp(c: Int, i: Int, id: Long): (Boolean, Long)
  /** Per-layer metrics of the traced ops, per op. */
  def layers(probe: EngineProbe, cores: Int): Seq[(String, Double)]
  def close(): Unit
}

/** One traced read statement: rows its replay covers, the replay's
  * execute window (epoch ms), its in-process time, and the wire
  * statement's time, RPCs, bytes; Catalyst phase times of the replay. */
final case class TracedRead(useful: Long, e0: Long, e1: Long, inProcNs: Long, wireNs: Long,
    rpcs: Long, bytes: Long, phases: Map[String, Long])

/** One set-up of a read workload: fixture, registry, wire server and one
  * connection per client, plus (when traced) each client's in-process
  * session for the layered replay. */
final class ReadDeployment(
    spark: SparkSession, workload: ReadWorkload, seed: Long, dir: Path, traced: Boolean) extends Deployment {
  val model = new TenantModel(seed, workload.shape)
  val fixture: TenantFixture = TenantFixture.write(spark, model, dir)
  val registry: SchemaRegistry = SchemaRegistry(model.orgs: _*)
  val server = new GraftAvaticaServer(
    key => TenantSession.open(spark, registry, key, fixture.sources), engine = Some(spark))
  val tenantOf: Int => Int = c => c % workload.shape.tenants
  val wire: IndexedSeq[AvaticaClient] = (0 until workload.clients).map(c =>
    new AvaticaClient(server.boundPort, model.org(tenantOf(c)), s"client$c"))
  val statement: (Int, Int) => Statement = workload.source(model)

  val tracer = new Tracer
  val tracedRegistry = new TracedRegistry(model.orgs, tracer)
  val tracedSources = new TracedSources(fixture.sources, tracer)
  lazy val local: IndexedSeq[TenantSession] = (0 until workload.clients).map(c =>
    TenantSession.open(spark, tracedRegistry, model.org(tenantOf(c)), tracedSources))
  if (traced) local
  private val records = new java.util.concurrent.ConcurrentLinkedQueue[(Long, TracedRead)]()
  private val json = new ObjectMapper()

  def files: Int = fixture.files

  def op(c: Int, i: Int): Boolean = {
    val st = statement(c, i)
    st.check(wire(c).query(st.sql))
  }

  /** The wire statement, then the in-process replay: three more statements
    * of the same shape with other literals (so each is as cold as the
    * wire one), each through one layer: `TenantSession.sql` and the drain
    * of its rows under the tenant's gate, substitution alone, assembly
    * alone. The Spark jobs of the first carry the statement id. */
  def tracedOp(c: Int, i: Int, id: Long): (Boolean, Long) = tracer.root("stmt", id) {
    val client = wire(c)
    val st = statement(c, i)
    val (r0, b0) = (client.rpcs, client.responseBytes)
    val t0 = System.nanoTime()
    val rows = tracer.span("frontend.wire")(client.query(st.sql))
    val wireNs = System.nanoTime() - t0
    val (rpcs, bytes) = (client.rpcs - r0, client.responseBytes - b0)
    val (replayOk, rec) = replay(c, statement(c, i + ReadWorkload.ReplayOffset), id)
    substituteAndAssemble(c, statement(c, i + 2 * ReadWorkload.ReplayOffset),
      statement(c, i + 3 * ReadWorkload.ReplayOffset))
    records.add(id -> rec.copy(wireNs = wireNs, rpcs = rpcs, bytes = bytes))
    (st.check(rows) && replayOk, wireNs)
  }

  private def replay(c: Int, st: Statement, id: Long): (Boolean, TracedRead) = {
    val t = local(c)
    val sc = spark.sparkContext
    sc.setLocalProperty(EngineProbe.StmtProperty, id.toString)
    try {
      val e0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val df = tracer.span("frontend.tenant_sql")(t.sql(st.sql, Some(GraftHttpServer.DefaultMaxRows)))
      val rows = tracer.span("engine.execute")(t.runGated(df.toLocalIterator().asScala.toIndexedSeq))
      val inProc = System.nanoTime() - n0
      val e1 = System.currentTimeMillis()
      val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
      (st.check(rows.map(asJson)), TracedRead(st.usefulRows, e0, e1, inProc, 0L, 0L, 0L, phases))
    } finally sc.setLocalProperty(EngineProbe.StmtProperty, null)
  }

  /** Substitution of one statement and assembly of another's table, each
    * a span; neither plan runs. */
  private def substituteAndAssemble(c: Int, sub: Statement, asm: Statement): Unit = {
    val t = local(c)
    val parsed = PerfbenchAccess.parse(t, sub.sql)
    tracer.span("frontend.substitute")(PerfbenchAccess.substitute(t, tracedRegistry, tracedSources, parsed))
    val (table, range) = PerfbenchAccess.firstTableBounds(PerfbenchAccess.parse(t, asm.sql))
    val metric = model.orgs(asm.tenant).metricForNameOrAlias(table).get
    val pruned = fixture.sources.prune(range)
    tracer.span("core.assemble")(Assembler.metricTable(t.spark, t.orgId, metric, pruned, sorted = false))
  }

  private def asJson(r: Row): JsonNode = {
    val a = json.createArrayNode()
    r.toSeq.foreach {
      case x: Long => a.add(x)
      case x: Int => a.add(x)
      case x: String => a.add(x)
      case null => a.addNull()
      case x => a.add(x.toString)
    }
    a
  }

  def layers(probe: EngineProbe, cores: Int): Seq[(String, Double)] = {
    val recs = records.asScala.toSeq
    val n = math.max(1, recs.size).toDouble
    val self = tracer.selfNanos.withDefaultValue(0L)
    val engine = EngineProbe.stats(probe, recs.map { case (id, t) => (id, t.e0, t.e1) }, cores)
    def phase(p: String) = recs.map(_._2.phases.getOrElse(p, 0L)).sum / n
    val inputRows = recs.map { case (id, _) => probe.of(id).inputRows }.sum
    Seq(
      "frontend.tenant_sql_ms" -> self("frontend.tenant_sql") / 1e6 / n,
      "frontend.substitute_ms" -> self("frontend.substitute") / 1e6 / n,
      "frontend.wire_overhead_ms" -> recs.map { case (_, t) => t.wireNs - t.inProcNs }.sum / 1e6 / n,
      "frontend.rpcs_per_stmt" -> recs.map(_._2.rpcs).sum / n,
      "frontend.response_bytes_per_stmt" -> recs.map(_._2.bytes).sum / n,
      // the replay's `sql` and its substitution each look the table up
      "schema.lookup_us" -> tracer.totalNanos("schema.lookup") / 1e3 / (2 * n),
      "core.assemble_ms" -> self("core.assemble") / 1e6 / n,
      "core.nearline_kept" -> tracer.count("core.nearline_kept") / n,
      "core.nearline_total" -> tracer.count("core.nearline_total") / n,
      "core.union_branches" -> tracer.count("core.union_branches") / n,
      "engine.analysis_ms" -> phase("analysis"),
      "engine.optimization_ms" -> phase("optimization"),
      "engine.planning_ms" -> phase("planning"),
      "sources.input_bytes" -> recs.map { case (id, _) => probe.of(id).inputBytes }.sum / n,
      "sources.input_rows" -> inputRows / n,
      "sources.rows_out_per_row_read" -> recs.map(_._2.useful).sum / math.max(1.0, inputRows.toDouble)
    ) ++ engine.toSeq
  }

  def close(): Unit = {
    wire.foreach(w => scala.util.Try(w.close()))
    server.stop()
  }
}
