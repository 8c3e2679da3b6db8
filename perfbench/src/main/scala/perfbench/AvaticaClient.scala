package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** A closed-loop Avatica JSON client holding one tenant connection, as a
  * pooled JDBC connection would: each statement is createStatement,
  * prepareAndExecute, fetch while frames remain, closeStatement. */
final class AvaticaClient(port: Int, apiKey: String, connectionId: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/")
  private val mapper = new ObjectMapper()

  /** RPCs sent and response bytes received since the client was opened. */
  var rpcs = 0L
  var responseBytes = 0L

  private def rpc(json: String): JsonNode = {
    val r = http.send(
      HttpRequest.newBuilder(uri).POST(HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    rpcs += 1
    responseBytes += r.body().length
    val node = mapper.readTree(r.body())
    if (r.statusCode() != 200)
      throw new IllegalStateException(s"avatica ${r.statusCode()}: ${node.path("errorMessage").asText()}")
    node
  }

  rpc(s"""{"request":"openConnection","connectionId":"$connectionId","info":{"apikey":"$apiKey"}}""")

  /** Run one statement and return every row, each as its JSON array. */
  def query(sql: String): IndexedSeq[JsonNode] = {
    val sid = rpc(s"""{"request":"createStatement","connectionId":"$connectionId"}""")
      .get("statementId").asInt()
    try {
      val res = rpc(s"""{"request":"prepareAndExecute","connectionId":"$connectionId",""" +
        s""""statementId":$sid,"sql":${mapper.writeValueAsString(sql)},"maxRowCount":-1}""")
      var frame = res.at("/results/0/firstFrame")
      val rows = IndexedSeq.newBuilder[JsonNode]
      frame.get("rows").forEach(r => rows += r)
      var offset = frame.get("rows").size()
      while (!frame.get("done").asBoolean()) {
        frame = rpc(s"""{"request":"fetch","connectionId":"$connectionId","statementId":$sid,""" +
          s""""offset":$offset,"fetchMaxRowCount":100}""").get("frame")
        frame.get("rows").forEach(r => rows += r)
        offset += frame.get("rows").size()
      }
      rows.result()
    } finally rpc(s"""{"request":"closeStatement","connectionId":"$connectionId","statementId":$sid}""")
  }

  def close(): Unit =
    rpc(s"""{"request":"closeConnection","connectionId":"$connectionId"}""")
}
