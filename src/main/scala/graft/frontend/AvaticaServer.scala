package graft.frontend

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Avatica-JSON wire endpoint — the reference's ACTUAL serving protocol:
  * `FineoServer` starts an Avatica `HttpServer` whose remote-JDBC clients
  * speak Calcite Avatica's documented JSON protocol over HTTP
  * (`readerator/server/.../FineoServer.java:49-66`, handler
  * `AvaticaProtobufHandler`/JSON). This endpoint implements the JSON
  * variant's RPC surface — openConnection / connectionSync /
  * createStatement / prepareAndExecute / prepare / execute / fetch /
  * syncResults / commit / rollback / closeStatement / closeConnection,
  * plus the metadata RPCs (getSchemas/getTables/getColumns/getTableTypes/
  * getTypeInfo/getCatalogs) — over the same [[TenantSession]] objects
  * every other entry point uses, so the full isolation model (plan-level
  * read-only gate, statement-local relation substitution with nearline
  * time pruning, server-side row clamp) applies to this wire too.
  *
  * Tenancy follows the reference's connection contract: the client's
  * `openConnection.info` map must carry the API key (`apikey`, or `user`
  * — the reference forces the JDBC user property to the key), which
  * resolves the per-org TenantSession; an unknown key is an error
  * response, and every later RPC on that connectionId is tenant-bound.
  *
  * One listener, one tenant per key (the reference's `FineoServer` is
  * the one HTTP server of a deployment): the same listener serves the
  * REST routes (`POST /v1/sql`, `GET /v1/metadata/…`, see
  * [[GraftHttpServer]]) and `/healthz` + `/metrics`. Every route
  * resolves a key through ONE cache that calls `sessionFor` once per key,
  * so all of a tenant's connections and REST requests share one
  * [[TenantSession]] — one concurrent-statement clamp, one FAIR pool,
  * one set of pool gauges — and `serverMaxRows` caps every route.
  *
  * Parameterized statements (reference `FineoJdbcMeta` delegates the full
  * Avatica `JdbcMeta` prepare/execute surface): `prepare` records the SQL
  * and returns a statement handle whose signature advertises one generic
  * parameter per `?` placeholder; `execute` binds the request's Avatica
  * `TypedValue`s as typed SQL literals (rendered server-side with full
  * escaping, then re-gated by the read-only parser like any statement)
  * and runs through the TenantSession. A typed null binds as
  * `CAST(NULL AS <type>)` so comparisons keep their column type.
  *
  * Result paging mirrors Avatica frames, backed by a STREAMING cursor:
  * statement results are held as a `toLocalIterator` over the clamped
  * DataFrame, so the server holds at most one frame of rows (plus
  * Spark's own one-partition read-ahead) per open statement instead of
  * the full collect — N concurrent statements hold N×frameSize rows, not
  * N×clamp. The TenantSession clamp still bounds the result itself
  * (reference `FineoJdbcMeta.setMaxRows`): `fetch` walks forward from
  * the held offset; the last served frame stays replayable.
  *
  * The endpoint content-negotiates BOTH Avatica transports: JSON (the
  * debug wire) and protobuf (`application/x-google-protobuf`, the
  * production wire the reference's `AvaticaProtobufHandler` serves) —
  * see [[AvaticaProtobuf]]; both decode to the same `handle()`.
  *
  * Fidelity note: request/response field shapes follow the public
  * Avatica JSON/proto references; the specs drive them with hand-rolled
  * clients (the stock `avatica-core` jar cannot be resolved in this
  * zero-egress build environment — it is in no pre-warmed cache — so
  * stock-client interop is asserted against the documented protocol,
  * not a live client). */
class GraftAvaticaServer(
    sessionFor: String => TenantSession,
    port: Int = 0,
    defaultFrameRows: Int = 100,
    serverMaxRows: Int = GraftHttpServer.DefaultMaxRows,
    engine: Option[org.apache.spark.sql.SparkSession] = None,
    val metrics: ServingMetrics = new ServingMetrics) {
  require(serverMaxRows > 0, "serverMaxRows must be positive")

  private val mapper = new ObjectMapper()

  // FAIR-scheduling precondition, checked ONCE per server (ServingFairness:
  // warn + metric — the conf is static, so detection is all the product
  // owns): at boot when the engine session was passed, else at the first
  // tenant session this server resolves
  private val fairChecked = new java.util.concurrent.atomic.AtomicBoolean(false)
  engine.foreach { s =>
    fairChecked.set(true)
    ServingFairness.ensureFair(s, "GraftAvaticaServer", metrics)
  }

  private val sessions = new ConcurrentHashMap[String, TenantSession]()

  /** The tenant of `key`, shared by every route on this listener:
    * `sessionFor` and the pool-gauge registration run once per key. An
    * unknown key throws (SecurityException) and caches nothing. */
  private def tenantSession(key: String): TenantSession = {
    val t = sessions.computeIfAbsent(key, k => {
      val s = sessionFor(k)
      s.registerPoolGauges(metrics)
      s
    })
    if (fairChecked.compareAndSet(false, true))
      ServingFairness.ensureFair(t.spark, "GraftAvaticaServer", metrics)
    t
  }

  /** One statement's state: prepared SQL (for prepare/execute) and the
    * live cursor. The cursor holds an iterator FACTORY, not just the
    * iterator: forward fetches stream (≤ one frame held) off one
    * iterator, offsets inside the kept frame replay from the buffer
    * (including shrunken windows), and ONLY offset 0 re-executes via the
    * factory (the syncResults-reset flow); any other backward offset is
    * refused — see [[frameAt]]. All cursor access is synchronized — the
    * HTTP pool may interleave fetches with a concurrent close. */
  private final class Stmt {
    var preparedSql: Option[String] = None
    var preparedMaxRows: Int = serverMaxRows
    var paramCount: Int = 0
    var columns: Seq[StructField] = Nil
    private var source: () => Iterator[Row] = () => Iterator.empty
    private var iter: Iterator[Row] = Iterator.empty
    private var fetched = 0 // rows consumed off the iterator so far
    private var frame: Array[Row] = Array.empty // last served frame (replay)
    private var frameOffset = 0
    // last OBSERVED hasNext=false — lets the replay path report `done`
    // without touching the iterator (hasNext on a streaming cursor can
    // submit a Spark partition pull, which must stay inside the gate)
    private var exhausted = false
    var peakHeldRows = 0 // test observability: max rows buffered at once

    def reset(cols: Seq[StructField], src: () => Iterator[Row]): Unit = synchronized {
      columns = cols; source = src; iter = src()
      fetched = 0; frame = Array.empty; frameOffset = 0; exhausted = false
    }

    /** Buffer-only serve: when `offset` lands ENTIRELY inside the kept
      * frame — no iterator advance, no Spark work — serve the replay
      * slice and return Some; otherwise return None so the wire layer
      * retries through the gated path. The check and the serve happen
      * under ONE acquisition of the statement lock, so a concurrent
      * fetch advancing the cursor between "is it buffered?" and the
      * serve can never route a reset/advance (Spark partition pulls)
      * around the tenant's permit and pool, nor turn an advertised
      * replay into the backward-reposition IllegalStateException. */
    def frameAtBuffered(offset: Int, n: Int): Option[(Array[Row], Boolean)] =
      synchronized {
        if (offset >= frameOffset && offset < fetched) Some(frameAt(offset, n))
        else None
      }

    /** Serve the frame at `offset`. Offsets inside the kept frame replay
      * EXACTLY the rows already delivered (long arithmetic — clients
      * commonly send fetchMaxRowCount=Int.MaxValue, and an int sum would
      * wrap negative and miss the replay path); offsets at or past the
      * cursor advance the SAME iterator (a forward skip never
      * re-executes, so it can never contradict frames already served);
      * offset 0 resets the statement (the syncResults-reset flow — the
      * client has discarded all prior frames, so a fresh execution is
      * consistent by definition). Any OTHER backward offset is refused:
      * Spark row order is nondeterministic across executions unless the
      * query carries a total ORDER BY, so re-executing and skipping
      * could silently serve rows inconsistent with frames the client
      * already holds — duplicates or losses from its point of view.
      * Returns (rows, done). */
    def frameAt(offset: Int, n: Int): (Array[Row], Boolean) = synchronized {
      if (offset >= frameOffset && offset < fetched) {
        // offset lands inside the kept frame: replay from the buffer. A
        // request overlapping the unseen tail gets ONLY the buffered
        // slice with done=false — an Avatica frame may legally be short,
        // the client's next fetch lands exactly at the cursor, and the
        // held rows stay bounded by one frame.
        val start = offset - frameOffset
        // Long upper bound: start + Int.MaxValue would wrap negative and
        // serve an empty never-done frame (infinite client fetch loop)
        val end = math.min(frame.length.toLong, start.toLong + math.max(n, 0)).toInt
        val slice = frame.slice(start, end)
        // `exhausted` (last observed hasNext=false), NOT iter.hasNext: a
        // replay must never pull on the streaming cursor. When the cursor
        // sits at the end but exhaustion hasn't been observed yet, done
        // stays false — legal (the client's next fetch lands at the
        // cursor, runs gated, and returns the empty done=true frame).
        (slice, offset.toLong + slice.length >= fetched && exhausted)
      } else {
        if (offset < frameOffset) {
          if (offset == 0) {
            // full reset: rerun the statement from the top
            iter = source(); fetched = 0; frame = Array.empty; frameOffset = 0
            exhausted = false
          } else throw new IllegalStateException(
            s"cannot reposition to offset $offset: rows before $fetched were " +
              "served from a streaming cursor and re-execution does not " +
              "guarantee the same row order; reset to offset 0 or replay " +
              "the last served frame")
        }
        while (fetched < offset && iter.hasNext) { iter.next(); fetched += 1 }
        // the frame starts at the position actually REACHED — a skip past
        // the end of the result must not leave frameOffset > fetched, or
        // the invariant fetched == frameOffset + frame.length breaks and
        // the next legitimate sequential fetch is refused as a backward
        // reposition
        val at = fetched
        val buf = Array.newBuilder[Row]
        var k = 0
        while (k < n && iter.hasNext) { buf += iter.next(); k += 1 }
        frame = buf.result(); frameOffset = at; fetched += frame.length
        peakHeldRows = math.max(peakHeldRows, frame.length)
        exhausted = !iter.hasNext
        (frame, exhausted)
      }
    }

    def moreAfter(offset: Int): Boolean = synchronized {
      // consistent with frameAt: an offset in (0, frameOffset) would be
      // REFUSED there (backward reposition past the kept frame), so
      // syncResults must not advertise it as resumable — the client's
      // recovery is reset-to-0 or replay of the held frame. Uses the
      // observed-exhaustion flag, not iter.hasNext, so syncResults is a
      // pure buffer read (no Spark pull) and legitimately runs ungated;
      // an unobserved end answers true and the client's next fetch
      // returns the empty done=true frame.
      (offset == 0 || offset >= frameOffset) && (offset < fetched || !exhausted)
    }
  }

  private val conns = new ConcurrentHashMap[String, TenantSession]()
  private val stmts = new ConcurrentHashMap[(String, Int), Stmt]()
  private val nextStmt = new AtomicInteger(0)

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)

  metrics.gauge("avatica.open_connections")(conns.size().toLong)
  metrics.gauge("avatica.open_statements")(stmts.size().toLong)
  metrics.gauge("http.open_sessions")(sessions.size().toLong)

  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    // REST, health and metrics routes on the same listener (reference
    // FineoServer wires Dropwizard health + metrics into its Avatica
    // server, and the proxy reaches tenants through it)
    GraftHttpServer.mount(s, tenantSession, serverMaxRows, engine, metrics)
    s.createContext("/", (ex: HttpExchange) => {
      // Content negotiation, the reference server's topology: protobuf is
      // Avatica's default production wire (`AvaticaProtobufHandler` in
      // FineoServer), JSON the debug one. Both transports decode to the
      // SAME JSON-request handle() — one implementation of the RPC
      // semantics, two encodings.
      val proto = Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .exists(_.toLowerCase.contains("protobuf"))
      def errorJson(e: Exception): String = {
        // Clamp timeouts are admission-control rejections, not execution
        // failures: SQLSTATE 53300 (insufficient resources / too many
        // statements) tells the client "back off and retry", while
        // everything else keeps the generic non-retryable shape.
        val (code, state) = e match {
          case _: StatementClampTimeout => (53300, "53300")
          case _                        => (-1, "00000")
        }
        s"""{"response":"error","errorMessage":${JsonCodec.jstr(
          Option(e.getMessage).getOrElse(e.getClass.getName))},""" +
          s""""errorCode":$code,"sqlState":"$state","severity":"ERROR"}"""
      }
      // bounded body read: an over-cap body refuses through the SAME
      // error paths as a malformed one (structured JSON/proto error,
      // server lives), with the HTTP 413 status instead of 500 — the
      // read happens inside the transport's try so the refusal cannot
      // allocate what it refuses
      val (status, bytes) =
        if (proto) {
          try {
            val reqBytes = WireIo.boundedBody(ex.getRequestBody)
            val json = AvaticaProtobuf.requestToJson(reqBytes)
            (200, AvaticaProtobuf.responseToProto(mapper.readTree(handle(mapper.readTree(json)))))
          } catch {
            case e: Exception =>
              metrics.inc("avatica.errors")
              (if (e.isInstanceOf[WireIo.BodyTooLarge]) 413 else 500,
                AvaticaProtobuf.errorToProto(mapper.readTree(errorJson(e))))
          }
        } else {
          val (st, body) =
            try {
              val reqBytes = WireIo.boundedBody(ex.getRequestBody)
              (200, handle(mapper.readTree(new String(reqBytes, UTF_8))))
            } catch {
              // Avatica error response shape: the client rethrows message +
              // SQLSTATE; severity/code are advisory
              case e: Exception =>
                metrics.inc("avatica.errors")
                (if (e.isInstanceOf[WireIo.BodyTooLarge]) 413 else 500,
                  errorJson(e))
            }
          (st, body.getBytes(UTF_8))
        }
      WireIo.send(ex, status,
        if (proto) "application/x-google-protobuf" else "application/json", bytes)
    })
    s.setExecutor(pool)
    s.start()
    s
  }

  def boundPort: Int = server.getAddress.getPort

  /** Stop the endpoint AND its worker pool — HttpServer.stop leaves the
    * executor alone, and 4 parked non-daemon threads would otherwise keep
    * an embedding JVM alive after stop(). */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }

  /** Test hook: max rows this statement's cursor ever buffered at once
    * (the streaming-cursor bound the spec pins). */
  private[frontend] def peakHeldRows(cid: String, sid: Int): Int =
    stmtOf(cid, sid).peakHeldRows

  // ----------------------------------------------------------------- RPCs

  private def handle(req: JsonNode): String = {
    def cid: String = req.get("connectionId").asText()
    def sid: Int = req.get("statementId").asInt()
    // The SERVER always owns a cap (reference setMaxRows; the same cap the
    // REST route applies) — a client's maxRowCount may only lower it;
    // -1/absent means "server default", never "unbounded".
    def clampOf(field: String): Int = {
      val v = Option(req.get(field)).map(_.asLong()).getOrElse(-1L)
      if (v > 0) math.min(v, serverMaxRows.toLong).toInt else serverMaxRows
    }
    // A body that parsed as JSON but isn't a request object (an array,
    // a bare scalar, or an object with no "request" field) is the
    // client's mistake: name it in the error instead of NPE-ing — the
    // wire's catch would still answer 500 either way, but "malformed
    // avatica request" is actionable and a stacktrace-shaped message
    // is not.
    val rpcName = Option(req.get("request")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException(
        "malformed avatica request: no 'request' field in " +
          req.toString.take(120)))
    // Metric names come from the KNOWN RPC set only — rpcName is a raw
    // client-supplied string, and counting it verbatim would let an
    // untrusted client grow the counter map without bound (one counter
    // per invented name). Unknown names share one `unknown` bucket.
    val metricRpc = if (GraftAvaticaServer.knownRpcs(rpcName)) rpcName else "unknown"
    metrics.inc(s"avatica.requests.$metricRpc")
    metrics.time(s"avatica.rpc.$metricRpc") { rpcName match {
      case "openConnection" =>
        val info = Option(req.get("info"))
        val key = info.flatMap(i =>
          Option(i.get("apikey")).orElse(Option(i.get("user"))))
          .map(_.asText()).filter(_.nonEmpty)
          .getOrElse(throw new SecurityException(
            "connection info must carry the tenant api key"))
        conns.put(cid, tenantSession(key)) // SecurityException if unknown
        """{"response":"openConnection"}"""
      case "connectionSync" =>
        connOf(cid)
        // read-only engine: acknowledge whatever connProps the client
        // syncs (autoCommit etc. have no server-side effect)
        val props = Option(req.get("connProps")).map(_.toString).getOrElse("{}")
        s"""{"response":"connectionSync","connProps":$props}"""
      case "closeConnection" =>
        conns.remove(cid)
        stmts.keySet.removeIf(_._1 == cid)
        """{"response":"closeConnection"}"""
      case "createStatement" =>
        connOf(cid)
        val id = nextStmt.incrementAndGet()
        stmts.put((cid, id), new Stmt)
        s"""{"response":"createStatement","connectionId":${JsonCodec.jstr(cid)},"statementId":$id}"""
      case "closeStatement" =>
        stmts.remove((cid, sid))
        """{"response":"closeStatement"}"""
      case "prepareAndExecute" =>
        val tenant = connOf(cid)
        val st = stmtOf(cid, sid)
        // gated: the tenant's FAIR pool + concurrent-statement clamp
        // cover execution AND the first frame's pull
        tenant.runGated {
          runStatement(tenant, st, req.get("sql").asText(), clampOf("maxRowCount"))
          executeResultsJson(cid, sid, st)
        }
      case "prepare" =>
        val _ = connOf(cid)
        val sql = req.get("sql").asText()
        val id = nextStmt.incrementAndGet()
        val st = new Stmt
        st.preparedSql = Some(sql)
        st.preparedMaxRows = clampOf("maxRowCount")
        st.paramCount = countPlaceholders(sql)
        stmts.put((cid, id), st)
        s"""{"response":"prepare","statement":{"connectionId":${JsonCodec.jstr(cid)},""" +
          s""""id":$id,"signature":${signatureJson(st)}}}"""
      case "execute" =>
        val h = req.get("statementHandle")
        val hcid = h.get("connectionId").asText()
        val hsid = h.get("id").asInt()
        val tenant = connOf(hcid)
        val st = stmtOf(hcid, hsid)
        val sql = st.preparedSql.getOrElse(throw new IllegalStateException(
          s"statement $hsid was not prepared"))
        val params = Option(req.get("parameterValues"))
          .map(a => (0 until a.size()).map(a.get)).getOrElse(Seq.empty)
        tenant.runGated {
          runStatement(tenant, st, bindParameters(sql, params), st.preparedMaxRows)
          executeResultsJson(hcid, hsid, st)
        }
      case "fetch" =>
        val tenant = connOf(cid)
        val st = stmtOf(cid, sid)
        val offset = Option(req.get("offset")).map(_.asInt()).getOrElse(0)
        val n = Option(req.get("fetchMaxRowCount")).map(_.asInt())
          .filter(_ > 0).getOrElse(defaultFrameRows)
        // The streaming cursor's partition pulls submit Spark jobs — run
        // them under the tenant's pool + permit, so pagination of a big
        // result can't jump the fair-share queue. But a frame served
        // ENTIRELY from the kept buffer does zero Spark work, so it skips
        // the permit: paging already-delivered rows must not stall (or
        // 500) behind the tenant's own long-running executes. The
        // buffered check and serve are ONE atomic call — when a
        // concurrent fetch advanced the cursor in between, it returns
        // None and this fetch takes the gated path like any other.
        val frame = st.frameAtBuffered(offset, n) match {
          case Some((slice, done)) => renderFrame(offset, slice, done)
          case None => tenant.runGated(frameJson(st, offset, n))
        }
        s"""{"response":"fetch","connectionId":${JsonCodec.jstr(cid)},""" +
          s""""statementId":$sid,"frame":$frame}"""
      case "syncResults" =>
        val st = stmts.get((cid, sid))
        val offset = Option(req.get("offset")).map(_.asInt()).getOrElse(0)
        if (st == null)
          """{"response":"syncResults","missingStatement":true,"moreResults":false}"""
        else
          s"""{"response":"syncResults","missingStatement":false,""" +
            s""""moreResults":${st.moreAfter(offset)}}"""
      // Transaction no-ops: the serving surface is read-only, but stock
      // clients emit these on close/autocommit toggles and expect an ack.
      case "commit" =>
        connOf(cid); """{"response":"commit"}"""
      case "rollback" =>
        connOf(cid); """{"response":"rollback"}"""
      // Metadata RPCs (what a BI tool calls on connect): served by the
      // tenant-bound facade (reference `FineoDatabaseMetaData`), returned
      // as ownStatement result sets the client closes like any other.
      // Both the documented JSON request names (get-prefixed) and the
      // bare forms are accepted.
      case m @ ("schemas" | "getSchemas" | "tables" | "getTables" |
          "columns" | "getColumns" | "tableTypes" | "getTableTypes" |
          "typeInfo" | "getTypeInfo" | "catalogs" | "getCatalogs") =>
        val tenant = connOf(cid)
        val meta = tenant.metadata
        def pat(field: String): String =
          Option(req.get(field)).map(_.asText()).orNull
        val df = m.stripPrefix("get").toLowerCase match {
          case "schemas" => meta.getSchemas()
          case "tables"  => meta.getTables(tableNamePattern = pat("tableNamePattern"))
          case "columns" => meta.getColumns(
            tableNamePattern = pat("tableNamePattern"),
            columnNamePattern = pat("columnNamePattern"))
          case "tabletypes" => meta.getTableTypes
          case "typeinfo"   => meta.getTypeInfo
          case _            => meta.getCatalogs
        }
        val id = nextStmt.incrementAndGet()
        val st = new Stmt
        st.reset(df.schema.fields.toSeq, () => localIterator(df))
        stmts.put((cid, id), st)
        s"""{"response":"resultSet","connectionId":${JsonCodec.jstr(cid)},""" +
          s""""statementId":$id,"ownStatement":true,"signature":${signatureJson(st)},""" +
          s""""firstFrame":${frameJson(st, 0, Int.MaxValue)},"updateCount":-1}"""
      case other =>
        throw new UnsupportedOperationException(s"unsupported avatica rpc: $other")
    } }
  }

  /** Run `sql` through the tenant (clamped) and point the statement's
    * cursor at the result — a `toLocalIterator`, so rows stream into
    * frames instead of materializing server-side. */
  private def runStatement(tenant: TenantSession, st: Stmt, sql: String, perCall: Int): Unit = {
    // Parameter literals are rendered with backslash doubling, which the
    // legacy escapedStringLiterals parser mode would mis-read (see
    // literalOf.str) — refuse to run against a session in that mode
    // rather than corrupt bound values.
    require(
      !tenant.spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").toBoolean,
      "serving sessions must keep spark.sql.parser.escapedStringLiterals=false")
    val df = tenant.sql(sql, Some(perCall))
    st.reset(df.schema.fields.toSeq, () => localIterator(df))
  }

  private def localIterator(df: DataFrame): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala
  }

  private def executeResultsJson(cid: String, sid: Int, st: Stmt): String = {
    val frame = frameJson(st, offset = 0, defaultFrameRows)
    s"""{"response":"executeResults","missingStatement":false,"results":[""" +
      s"""{"response":"resultSet","connectionId":${JsonCodec.jstr(cid)},""" +
      s""""statementId":$sid,"ownStatement":true,"signature":${signatureJson(st)},""" +
      s""""firstFrame":$frame,"updateCount":-1}]}"""
  }

  private def connOf(cid: String): TenantSession = {
    val c = conns.get(cid)
    if (c == null) throw new IllegalStateException(s"no open connection: $cid")
    c
  }

  private def stmtOf(cid: String, sid: Int): Stmt = {
    val st = stmts.get((cid, sid))
    if (st == null) throw new IllegalStateException(s"no statement $sid on $cid")
    st
  }

  // ---------------------------------------------------- parameter binding

  /** Count `?` placeholders outside quoted strings / identifiers. */
  private[frontend] def countPlaceholders(sql: String): Int = {
    var n = 0
    walkPlaceholders(sql, _ => { n += 1; "?" })
    n
  }

  /** Splice Avatica `TypedValue`s into the prepared SQL as typed SQL
    * literals. Values are rendered with full escaping and the statement
    * then re-passes the read-only parser gate, so binding cannot widen
    * the statement surface. */
  private def bindParameters(sql: String, params: Seq[JsonNode]): String = {
    var i = -1
    val bound = walkPlaceholders(sql, _ => {
      i += 1
      if (i >= params.length)
        throw new IllegalArgumentException(
          s"statement has ${i + 1}+ placeholders but ${params.length} parameters")
      literalOf(params(i))
    })
    bound
  }

  /** Rewrite each `?` outside single-quoted strings, double-quoted /
    * backticked identifiers, and line or block comments via `sub`. */
  private def walkPlaceholders(sql: String, sub: Int => String): String = {
    val out = new StringBuilder
    var i = 0
    var ord = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' | '"' | '`' =>
          val q = sql.charAt(i)
          val end = {
            var j = i + 1
            while (j < sql.length && sql.charAt(j) != q) {
              if (sql.charAt(j) == '\\' && q == '\'') j += 1 // escaped char
              j += 1
            }
            math.min(j + 1, sql.length)
          }
          out.append(sql.substring(i, end)); i = end
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          val end = sql.indexOf('\n', i) match { case -1 => sql.length; case e => e }
          out.append(sql.substring(i, end)); i = end
        case '/' if i + 1 < sql.length && sql.charAt(i + 1) == '*' =>
          val close = sql.indexOf("*/", i + 2)
          val end = if (close == -1) sql.length else close + 2
          out.append(sql.substring(i, end)); i = end
        case '?' =>
          out.append(sub(ord)); ord += 1; i += 1
        case c =>
          out.append(c); i += 1
      }
    }
    out.toString
  }

  /** Render one Avatica TypedValue (`{"type": rep, "value": v}`) as a
    * typed SQL literal. */
  private def literalOf(tv: JsonNode): String = {
    val rep = Option(tv.get("type")).map(_.asText()).getOrElse("OBJECT")
    val v = tv.get("value")
    // Quotes escape by DOUBLING — valid in both Spark parser modes —
    // never by backslash, which under `spark.sql.parser.escapedStringLiterals`
    // = true would leave \' terminating the literal early (injection-shaped).
    // Backslash doubling is only correct in the default mode, so
    // runStatement asserts that conf on every bound execution.
    def str(s: String) =
      "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    if (v == null || v.isNull || rep == "NULL") {
      // typed null: keep the declared type so comparisons/projections
      // resolve as the column type, not VOID
      sqlTypeOf(rep).fold("NULL")(t => s"CAST(NULL AS $t)")
    } else rep match {
      case "STRING" | "CHARACTER" | "PRIMITIVE_CHAR" => str(v.asText())
      case "BOOLEAN" | "PRIMITIVE_BOOLEAN" => if (v.asBoolean()) "TRUE" else "FALSE"
      case "BYTE" | "PRIMITIVE_BYTE" | "SHORT" | "PRIMITIVE_SHORT" |
          "INTEGER" | "PRIMITIVE_INT" => s"CAST(${v.asLong()} AS INT)"
      case "LONG" | "PRIMITIVE_LONG" | "BIG_INTEGER" => s"CAST(${v.asLong()} AS BIGINT)"
      case "FLOAT" | "PRIMITIVE_FLOAT" | "DOUBLE" | "PRIMITIVE_DOUBLE" =>
        s"CAST(${str(v.asText())} AS DOUBLE)"
      case "BIG_DECIMAL" => s"CAST(${str(v.decimalValue().toPlainString)} AS DECIMAL(38,18))"
      case "NUMBER" =>
        if (v.isIntegralNumber) s"CAST(${v.asLong()} AS BIGINT)"
        else s"CAST(${str(v.asText())} AS DOUBLE)"
      case "JAVA_SQL_TIMESTAMP" | "JAVA_UTIL_DATE" => s"timestamp_millis(${v.asLong()})"
      case "JAVA_SQL_DATE" => s"date_from_unix_date(${v.asInt()})"
      case "BYTE_STRING" => s"unbase64(${str(v.asText())})"
      case "OBJECT" if v.isTextual => str(v.asText())
      case "OBJECT" if v.isBoolean => if (v.asBoolean()) "TRUE" else "FALSE"
      case "OBJECT" if v.isIntegralNumber => s"CAST(${v.asLong()} AS BIGINT)"
      case "OBJECT" if v.isNumber => s"CAST(${str(v.asText())} AS DOUBLE)"
      case other =>
        throw new UnsupportedOperationException(s"unsupported parameter rep: $other")
    }
  }

  /** SQL type name for a typed-null rep; None → bare NULL. */
  private def sqlTypeOf(rep: String): Option[String] = rep match {
    case "BYTE" | "PRIMITIVE_BYTE" => Some("TINYINT")
    case "SHORT" | "PRIMITIVE_SHORT" => Some("SMALLINT")
    case "INTEGER" | "PRIMITIVE_INT" => Some("INT")
    case "LONG" | "PRIMITIVE_LONG" | "BIG_INTEGER" => Some("BIGINT")
    case "FLOAT" | "PRIMITIVE_FLOAT" => Some("FLOAT")
    case "DOUBLE" | "PRIMITIVE_DOUBLE" => Some("DOUBLE")
    case "BIG_DECIMAL" | "NUMBER" => Some("DECIMAL(38,18)")
    case "BOOLEAN" | "PRIMITIVE_BOOLEAN" => Some("BOOLEAN")
    case "STRING" | "CHARACTER" | "PRIMITIVE_CHAR" => Some("STRING")
    case "JAVA_SQL_TIMESTAMP" | "JAVA_UTIL_DATE" => Some("TIMESTAMP")
    case "JAVA_SQL_DATE" => Some("DATE")
    case "BYTE_STRING" => Some("BINARY")
    case _ => None
  }

  // --------------------------------------------------------------- frames

  private def frameJson(st: Stmt, offset: Int, n: Int): String = {
    val (slice, done) = st.frameAt(offset, n)
    renderFrame(offset, slice, done)
  }

  private def renderFrame(offset: Int, slice: Array[Row], done: Boolean): String = {
    metrics.inc("avatica.frames_served")
    metrics.inc("avatica.rows_served", slice.length.toLong)
    val rows = slice.map(r =>
      (0 until r.length).map(i => JsonCodec.jval(r.get(i))).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""{"offset":$offset,"done":$done,"rows":$rows}"""
  }

  /** Avatica signature: column metadata + LIST cursor style (rows travel
    * as JSON arrays in frame order) + one generic AvaticaParameter per
    * `?` placeholder for prepared statements (parameter types are not
    * inferred server-side; clients bind TypedValues regardless). */
  private def signatureJson(st: Stmt): String = {
    val cols = st.columns.zipWithIndex.map { case (f, i) =>
      val (jdbcType, typeName) = jdbcTypeOf(f.dataType)
      s"""{"ordinal":$i,"columnName":${JsonCodec.jstr(f.name)},""" +
        s""""label":${JsonCodec.jstr(f.name)},"nullable":${if (f.nullable) 1 else 0},""" +
        s""""type":{"type":"scalar","id":$jdbcType,"name":${JsonCodec.jstr(typeName)},"rep":"OBJECT"}}"""
    }.mkString("[", ",", "]")
    val params = (1 to st.paramCount).map { i =>
      s"""{"signed":false,"precision":0,"scale":0,"parameterType":${java.sql.Types.JAVA_OBJECT},""" +
        s""""typeName":"ANY","className":"java.lang.Object","name":"?$i"}"""
    }.mkString("[", ",", "]")
    val sqlJson = st.preparedSql.fold("null")(JsonCodec.jstr)
    s"""{"columns":$cols,"sql":$sqlJson,"parameters":$params,""" +
      """"cursorFactory":{"style":"LIST","clazz":null,"fieldNames":null},"statementType":null}"""
  }

  /** java.sql.Types ids for the signature (the subset the engine emits). */
  private def jdbcTypeOf(dt: DataType): (Int, String) = dt match {
    case BooleanType => (java.sql.Types.BOOLEAN, "BOOLEAN")
    case ByteType => (java.sql.Types.TINYINT, "TINYINT")
    case ShortType => (java.sql.Types.SMALLINT, "SMALLINT")
    case IntegerType => (java.sql.Types.INTEGER, "INTEGER")
    case LongType => (java.sql.Types.BIGINT, "BIGINT")
    case FloatType => (java.sql.Types.REAL, "REAL")
    case DoubleType => (java.sql.Types.DOUBLE, "DOUBLE")
    case _: DecimalType => (java.sql.Types.DECIMAL, "DECIMAL")
    case StringType => (java.sql.Types.VARCHAR, "VARCHAR")
    case BinaryType => (java.sql.Types.VARBINARY, "VARBINARY")
    case TimestampType => (java.sql.Types.TIMESTAMP, "TIMESTAMP")
    case DateType => (java.sql.Types.DATE, "DATE")
    case _ => (java.sql.Types.JAVA_OBJECT, dt.sql)
  }
}

object GraftAvaticaServer {
  /** The complete RPC surface `handle` dispatches on — the allowlist for
    * per-RPC metric names (anything else counts as `unknown`). */
  private[frontend] val knownRpcs: Set[String] = Set(
    "openConnection", "connectionSync", "closeConnection",
    "createStatement", "closeStatement", "prepareAndExecute", "prepare",
    "execute", "fetch", "syncResults", "commit", "rollback",
    "schemas", "getSchemas", "tables", "getTables",
    "columns", "getColumns", "tableTypes", "getTableTypes",
    "typeInfo", "getTypeInfo", "catalogs", "getCatalogs")
}
