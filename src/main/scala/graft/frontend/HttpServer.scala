package graft.frontend

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import java.nio.charset.StandardCharsets.UTF_8

/** The REST routes of the serving listener — the engine-side answer to
  * the reference's REST proxy (`readerator/proxy/.../JdbcHandler.java:31-81`
  * — take SQL over HTTP, execute as the keyed tenant, return rows as
  * JSON). The proxy reaches tenants through the one Avatica server's
  * per-org connections, so these routes are mounted on
  * [[GraftAvaticaServer]]'s listener and resolve tenants through its
  * per-key [[TenantSession]] cache: one listener, one worker pool, one
  * health and metrics surface, one session per tenant key.
  *
  * Scope: a THIN shim over the in-process contract ([[TenantSession]]
  * for statements, [[MetadataFacade]] for the JDBC metadata calls a BI
  * tool issues on connect); wire protocol is JSON. The session's
  * plan-level isolation (read-only surface, relation substitution,
  * forced tenant predicates) does all security work — the routes add
  * nothing but status-code mapping, so there is no second policy to keep
  * in sync.
  *
  * Tenancy mirrors the reference: the API key IS the org id (`X-Api-Key`
  * header, reference `FineoConnection` api-key property).
  *
  * Endpoints:
  *   - `POST /v1/sql` — body is the SQL text; optional `?maxRows=N`.
  *     Returns `{"columns":[…],"rows":[[…]…],"rowCount":N}`.
  *   - `GET /v1/metadata/{schemas|tables|columns|typeinfo}` with
  *     optional `table`/`column` LIKE-pattern params.
  *   - `GET /healthz[?tenant=KEY]` and `GET /metrics`.
  *
  * Errors: 401 missing key, 403 unknown tenant / isolation violation,
  * 400 rejected statement (DML/DDL) or bad argument, 405 non-POST
  * statement, 413 over-cap body, 500 otherwise — the same mapping the
  * reference's proxy applies to SQLExceptions. */
object GraftHttpServer {
  /** Server-level row cap when the deployment doesn't configure one — the
    * serving layer never runs an unbounded collect (reference
    * `FineoJdbcMeta.setMaxRows` always clamps). */
  val DefaultMaxRows = 10000

  /** Mount the REST, health and metrics routes on `server`. The JDK
    * server routes by longest matching prefix, so they win over the
    * Avatica RPC route at "/".
    *
    * @param tenantFor the listener's per-key session cache (throws
    *   SecurityException for an unknown key)
    * @param maxRows the server's row cap; a request may only lower it */
  private[frontend] def mount(
      server: HttpServer,
      tenantFor: String => TenantSession,
      maxRows: Int,
      engine: Option[org.apache.spark.sql.SparkSession],
      metrics: ServingMetrics): Unit = {

    def tenant(ex: HttpExchange): TenantSession = {
      val key = Option(ex.getRequestHeaders.getFirst("X-Api-Key"))
        .map(_.trim).filter(_.nonEmpty)
        .getOrElse(throw Halt(401, "missing X-Api-Key"))
      // resolution validates the org exists (SecurityException → 403)
      tenantFor(key)
    }

    /** Execute (collect) and encode a statement result. The collect is the
      * terminal action — results stream to the client as one JSON body,
      * bounded by the session's maxRows clamp. */
    def dfJson(df: DataFrame): (Int, String) = {
      val rows = df.collect()
      metrics.inc("http.rows_served", rows.length.toLong)
      val body = rows.map(r =>
        (0 until r.length).map(i => JsonCodec.jval(r.get(i))).mkString("[", ",", "]"))
      (200, df.columns.map(JsonCodec.jstr).mkString("{\"columns\":[", ",", "],") +
        body.mkString("\"rows\":[", ",", "],") + s"\"rowCount\":${rows.length}}")
    }

    def route(path: String)(f: HttpExchange => (Int, String)): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        val (status, body) =
          try f(ex)
          catch {
            case h: Halt                          => (h.status, errJson(h.message))
            case e: SecurityException             => (403, errJson(e.getMessage))
            case e: UnsupportedOperationException => (400, errJson(e.getMessage))
            case e: IllegalArgumentException      => (400, errJson(e.getMessage))
            case e: Exception                     =>
              (500, errJson(Option(e.getMessage).getOrElse(e.getClass.getName)))
          }
        if (status >= 400) metrics.inc("http.errors")
        WireIo.send(ex, status, "application/json", body.getBytes(UTF_8))
      })

    // Layered health (reference `RootHealthCheck`/`IsAliveHealthCheck`
    // tree): server-alive always; engine-alive (a real probe query with a
    // deadline) when the server was built with its engine session;
    // tenant-alive when the caller passes `?tenant=KEY`. Any failing
    // layer → 503 with the layer named.
    route("/healthz") { ex =>
      // tenant layer: an unresolvable key is itself an UNHEALTHY tenant
      // check (named), not a request error — health endpoints always answer
      val tenantCheck = queryParams(ex).get("tenant").map { key =>
        try HealthChecks.tenantAlive(tenantFor(key))
        catch {
          case e: Exception => HealthChecks.Check(s"tenant:$key", healthy = false,
            Option(e.getMessage).getOrElse(e.getClass.getName), 0L)
        }
      }
      HealthChecks.httpResponse(HealthChecks.run(engine, tenant = None) ++ tenantCheck)
    }

    route("/metrics")(_ => (200, metrics.snapshotJson))

    route("/v1/sql") { ex =>
      if (ex.getRequestMethod != "POST") throw Halt(405, "POST required")
      metrics.inc("http.requests.sql")
      val t = tenant(ex)
      // bounded: a statement is kilobytes; an over-cap body is the
      // client's mistake (413), never a serving-heap allocation
      val sql = new String(
        try WireIo.boundedBody(ex.getRequestBody)
        catch { case e: WireIo.BodyTooLarge => throw Halt(413, e.getMessage) },
        UTF_8)
      if (sql.trim.isEmpty) throw Halt(400, "empty statement")
      // The server-level cap ALWAYS applies; a request may only lower it
      // (reference `FineoJdbcMeta.setMaxRows:143-159`). Without this, any
      // tenant's `SELECT * FROM bigtable` is an unbounded driver collect.
      val rows = queryParams(ex).get("maxRows")
        .map(s => s.toIntOption.getOrElse(throw Halt(400, s"invalid maxRows: $s")))
        .filter(_ > 0).fold(maxRows)(math.min(_, maxRows))
      // execution runs gated: the tenant's FAIR pool + concurrency clamp
      metrics.time("http.sql") {
        t.runGated(dfJson(t.sql(sql, Some(rows))))
      }
    }

    route("/v1/metadata/") { ex =>
      metrics.inc("http.requests.metadata")
      val t = tenant(ex)
      val params = queryParams(ex)
      val meta = t.metadata
      val df = ex.getRequestURI.getPath.stripPrefix("/v1/metadata/") match {
        case "schemas"  => meta.getSchemas()
        case "tables"   => meta.getTables(tableNamePattern = params.get("table").orNull)
        case "columns"  => meta.getColumns(
          tableNamePattern = params.get("table").orNull,
          columnNamePattern = params.get("column").orNull)
        case "typeinfo" => meta.getTypeInfo
        case other      => throw Halt(404, s"unknown metadata call: $other")
      }
      t.runGated(dfJson(df))
    }
  }

  private case class Halt(status: Int, message: String)
      extends RuntimeException(message)

  private def errJson(msg: String): String = s"""{"error":${JsonCodec.jstr(msg)}}"""

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.contains('='))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap
}
